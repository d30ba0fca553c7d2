"""Unit tests for the corpus-scale curation operators: line dedup,
relational Bloom contamination, host frequency caps, unigram rarity,
shard assignment + shard writer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_example_spark import artifacts
from etl_example_spark.operators import dedup, text
from etl_example_spark.operators.dedup import (
    bloom_build,
    bloom_positions,
    bloom_probe,
    doc_lines,
    line_dedup,
)
from etl_example_spark.operators.sampling import (
    host_frequency_cap,
    host_frequency_cap_approx,
    shard_assign,
)
from etl_example_spark.operators.text import unigram_rarity
from etl_example_spark.plans import llm_ops, relational
from etl_example_spark.sources import loaders
from etl_example_spark.sources.writers import write_training_shards


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDocLines:
    def test_splits_into_fixed_token_lines_with_remainder(self, spark):
        df = _docs(spark, [(1, "a b c d e")])
        got = sorted(
            (r.line_idx, r.line_text)
            for r in doc_lines(df, line_tokens=2).collect()
        )
        assert got == [(0, "a b"), (1, "c d"), (2, "e")]

    def test_short_doc_is_one_line(self, spark):
        df = _docs(spark, [(1, "only three tokens")])
        got = doc_lines(df, line_tokens=10).collect()
        assert [(r.line_idx, r.line_text) for r in got] == [
            (0, "only three tokens")
        ]


class TestLineDedup:
    def test_first_occurrence_survives_later_copies_drop(self, spark):
        # doc 1 owns both lines; doc 2 repeats doc 1's first line then
        # adds a fresh one; doc 3 is entirely boilerplate.
        df = _docs(
            spark,
            [
                (1, "a b c d"),
                (2, "a b x y"),
                (3, "a b c d"),
            ],
        )
        got = {
            r.doc_id: (r.n_lines, r.kept_lines, r.dropped_lines)
            for r in line_dedup(df, line_tokens=2).collect()
        }
        assert got == {1: (2, 2, 0), 2: (2, 1, 1), 3: (2, 0, 2)}

    def test_cleaned_fp_reflects_surviving_lines_only(self, spark):
        df = _docs(spark, [(1, "a b c d"), (2, "a b x y")])
        fps = {
            r.doc_id: r.cleaned_fp
            for r in line_dedup(df, line_tokens=2).collect()
        }
        import hashlib

        assert fps[1] == hashlib.md5(b"a b\nc d").hexdigest()
        assert fps[2] == hashlib.md5(b"x y").hexdigest()

    def test_fully_deduped_doc_fingerprints_empty_text(self, spark):
        df = _docs(spark, [(1, "a b"), (2, "a b")])
        import hashlib

        fps = {
            r.doc_id: r.cleaned_fp
            for r in line_dedup(df, line_tokens=2).collect()
        }
        assert fps[2] == hashlib.md5(b"").hexdigest()


class TestBloom:
    def _keys(self, spark, keys):
        return spark.createDataFrame([(k,) for k in keys], "fp string")

    def test_no_false_negatives_ever(self, spark):
        bench = self._keys(spark, [f"key{i}" for i in range(50)])
        corpus = self._keys(
            spark, [f"key{i}" for i in range(100)]
        )  # first 50 are members
        bloom = bloom_build(bench, "fp", k=3, prefix_len=2)
        probed = bloom_probe(corpus, bloom, "fp", k=3, prefix_len=2)
        members = {
            r.fp for r in probed.collect() if r.fp in
            {f"key{i}" for i in range(50)}
        }
        hits = {r.fp for r in probed.collect() if r.bloom_hit}
        assert members <= hits  # every member flagged

    def test_duplicate_corpus_keys_still_hit(self, spark):
        # regression: probe match-counting must not conflate copies of
        # the same key (k matches per distinct key, not per row)
        bench = self._keys(spark, ["dup"])
        corpus = self._keys(spark, ["dup", "dup", "other"])
        bloom = bloom_build(bench, "fp", k=3, prefix_len=4)
        got = {
            (r.fp, r.bloom_hit)
            for r in bloom_probe(
                corpus, bloom, "fp", k=3, prefix_len=4
            ).collect()
        }
        assert ("dup", True) in got and ("dup", False) not in got

    def test_filter_size_is_bounded_by_benchmark(self, spark):
        bench = self._keys(spark, [f"k{i}" for i in range(40)])
        bloom = bloom_build(bench, "fp", k=3, prefix_len=5)
        assert bloom.count() <= 3 * 40

    def test_positions_are_deterministic(self, spark):
        df = self._keys(spark, ["abc"]).select(
            bloom_positions("fp", k=2, prefix_len=3).alias("pos")
        )
        a = df.collect()[0].pos
        b = df.collect()[0].pos
        import hashlib

        assert a == b
        assert a[0] == hashlib.md5(b"0:abc").hexdigest()[:3]


class TestHostCap:
    def _hosted(self, spark, spec):
        rows = []
        i = 0
        for host, n in spec.items():
            for _ in range(n):
                rows.append((i, host))
                i += 1
        return spark.createDataFrame(rows, "doc_id long, host string")

    def test_exact_cap_is_exact(self, spark):
        df = self._hosted(spark, {"big.com": 30, "small.com": 3})
        kept = host_frequency_cap(df, cap=10).collect()
        by_host = {}
        for r in kept:
            by_host.setdefault(r.host, []).append(r.doc_id)
        assert len(by_host["big.com"]) == 10
        assert len(by_host["small.com"]) == 3
        assert {r.host_total for r in kept} == {30, 3}

    def test_exact_cap_is_deterministic(self, spark):
        df = self._hosted(spark, {"h": 40})
        a = sorted(r.doc_id for r in host_frequency_cap(df, cap=5).collect())
        b = sorted(r.doc_id for r in host_frequency_cap(df, cap=5).collect())
        assert a == b and len(a) == 5

    def test_approx_keeps_everything_at_or_under_cap(self, spark):
        df = self._hosted(spark, {"small.com": 10, "tiny.com": 1})
        kept = host_frequency_cap_approx(df, cap=10).collect()
        assert len(kept) == 11

    def test_approx_rate_matches_exact_hash_threshold_law(self, spark):
        # the approx predicate must agree with the documented rule:
        # keep iff int(prefix,16) * total < cap * 16^8
        df = self._hosted(spark, {"h": 200})
        kept = {
            r.doc_id
            for r in host_frequency_cap_approx(df, cap=20).collect()
        }
        import hashlib

        expect = set()
        for i in range(200):
            v = int(hashlib.md5(f"h:{i}".encode()).hexdigest()[:8], 16)
            if v * 200 < 20 * 16**8:
                expect.add(i)
        assert kept == expect


class TestUnigramRarity:
    def test_hand_computed_scores(self, spark):
        # corpus: "a a b" + "a c" -> N=5, count(a)=3, count(b)=1,
        # count(c)=1 -> rarity a=1, b=5, c=5
        df = _docs(spark, [(1, "a a b"), (2, "a c")])
        got = {
            r.doc_id: (r.n_toks, r.rarity_sum)
            for r in unigram_rarity(df).collect()
        }
        assert got == {1: (3, 1 + 1 + 5), 2: (2, 1 + 5)}

    def test_rare_heavy_doc_scores_higher(self, spark):
        df = _docs(
            spark,
            [(i, "common words here") for i in range(20)]
            + [(99, "xylophone quixotic zephyr")],
        )
        scores = {
            r.doc_id: r.rarity_sum / r.n_toks
            for r in unigram_rarity(df).collect()
        }
        assert scores[99] > scores[0]


class TestShards:
    def test_assignment_is_deterministic_and_complete(self, spark):
        df = _docs(spark, [(i, "t") for i in range(100)])
        a = {r.doc_id: r.shard for r in shard_assign(df).collect()}
        b = {r.doc_id: r.shard for r in shard_assign(df).collect()}
        assert a == b
        assert set(a) == set(range(100))
        assert all(len(s) == 1 for s in a.values())

    def test_writer_lands_one_directory_per_shard(self, spark, tmp_path):
        df = shard_assign(_docs(spark, [(i, f"doc {i}") for i in range(64)]))
        dest = str(tmp_path / "shards")
        counts = write_training_shards(df, dest)
        dirs = {
            d.split("=", 1)[1]
            for d in os.listdir(dest)
            if d.startswith("shard=")
        }
        assert dirs == set(counts)
        assert sum(counts.values()) == 64
        back = spark.read.parquet(dest)
        assert back.count() == 64
        assert set(back.columns) == {"doc_id", "text", "shard"}


class TestBloomLiteral:
    def test_literal_form_agrees_with_join_form(self, spark):
        from etl_example_spark.operators.dedup import bloom_hit_literal

        bench = spark.createDataFrame(
            [(f"key{i}",) for i in range(30)], "fp string"
        )
        corpus = spark.createDataFrame(
            [(f"key{i}",) for i in range(60)], "fp string"
        )
        bloom = bloom_build(bench, "fp", k=3, prefix_len=2)
        join_hits = {
            r.fp: r.bloom_hit
            for r in bloom_probe(
                corpus, bloom, "fp", k=3, prefix_len=2
            ).collect()
        }
        positions = {r.pos for r in bloom.collect()}
        lit_hits = {
            r.fp: r.hit
            for r in corpus.select(
                "fp",
                bloom_hit_literal(
                    positions, "fp", k=3, prefix_len=2
                ).alias("hit"),
            ).collect()
        }
        assert join_hits == lit_hits

    def test_empty_position_set_flags_nothing(self, spark):
        from etl_example_spark.operators.dedup import bloom_hit_literal

        corpus = spark.createDataFrame([("a",), ("b",)], "fp string")
        got = corpus.select(
            bloom_hit_literal(set(), "fp").alias("hit")
        ).collect()
        assert all(not r.hit for r in got)


class TestKnnGraph:
    def test_neighbors_only_within_block(self, spark):
        from etl_example_spark.operators.similarity import knn_graph_blocked

        rows = [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.9, 0.1]),
            (3, 1, [1.0, 0.0]),  # identical direction, other block
            (4, 1, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        got = knn_graph_blocked(df, k=2).collect()
        by_vec = {}
        for r in got:
            by_vec.setdefault(r.vec_id, []).append(r.neighbor_id)
        assert by_vec[1] == [2]  # never 3, despite cosine 1.0
        assert by_vec[3] == [4]

    def test_rank_orders_by_similarity(self, spark):
        from etl_example_spark.operators.similarity import knn_graph_blocked

        rows = [
            (1, 0, [1.0, 0.0]),
            (2, 0, [0.99, 0.01]),
            (3, 0, [0.0, 1.0]),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        got = {
            (r.vec_id, r.rk): r.neighbor_id
            for r in knn_graph_blocked(df, k=2).collect()
        }
        assert got[(1, 1)] == 2 and got[(1, 2)] == 3


class TestIncrementalLineDedup:
    def test_agrees_with_full_pass_when_orders_align(self, spark):
        from etl_example_spark.operators.dedup import (
            line_index,
            probe_line_index,
        )

        existing = _docs(spark, [(1, "a b c d"), (2, "e f g h")])
        batch = _docs(spark, [(10, "a b x y"), (11, "e f x y")])
        idx = line_index(existing, line_tokens=2)
        got = {
            r.doc_id: (r.kept_lines, r.dropped_lines)
            for r in probe_line_index(
                idx, batch, line_tokens=2
            ).collect()
        }
        # "a b" / "e f" are indexed; "x y" first occurs in doc 10
        assert got == {10: (1, 1), 11: (0, 2)}

    def test_indexed_line_wins_over_lower_batch_id(self, spark):
        from etl_example_spark.operators.dedup import (
            line_index,
            probe_line_index,
        )

        existing = _docs(spark, [(100, "a b")])
        batch = _docs(spark, [(1, "a b")])  # lower id, arrives later
        idx = line_index(existing, line_tokens=2)
        got = probe_line_index(idx, batch, line_tokens=2).collect()[0]
        assert (got.kept_lines, got.dropped_lines) == (0, 1)

    def test_index_rows_are_first_occurrences(self, spark):
        from etl_example_spark.operators.dedup import line_index

        df = _docs(spark, [(1, "a b c d"), (2, "a b x y")])
        idx = {
            r.line_hash: (r.first_doc, r.first_idx, r.n_seen)
            for r in line_index(df, line_tokens=2).collect()
        }
        import hashlib

        ab = hashlib.md5(b"a b").hexdigest()
        assert idx[ab] == (1, 0, 2)


class TestIncrementalSpanDedup:
    def test_probe_agrees_with_full_pass_when_orders_align(self, spark):
        from etl_example_spark.operators.dedup import (
            duplicated_spans,
            probe_span_index,
            span_index,
        )

        old = _docs(spark, [(1, "a b c d e"), (2, "p q r s")])
        new = _docs(
            spark, [(10, "x a b c y"), (11, "p q r z"), (12, "u v w")]
        )
        idx = span_index(old, span_tokens=3)
        got = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in probe_span_index(idx, new, span_tokens=3).collect()
        )
        full = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicated_spans(
                old.unionByName(new), span_tokens=3
            ).collect()
            if r.doc_id >= 10
        )
        # new ids above all indexed ids -> arrival order == global
        # (doc_id, pos) order -> incremental == full restricted
        assert got == full
        assert got == [(10, 1, 4), (11, 0, 3)]

    def test_indexed_span_wins_over_lower_batch_id(self, spark):
        from etl_example_spark.operators.dedup import (
            probe_span_index,
            span_index,
        )

        old = _docs(spark, [(100, "a b c")])
        new = _docs(spark, [(1, "a b c")])  # lower id, arrives later
        idx = span_index(old, span_tokens=3)
        got = probe_span_index(idx, new, span_tokens=3).collect()
        assert [(r.doc_id, r.span_start, r.span_end) for r in got] == [
            (1, 0, 3)
        ]

    def test_merge_equals_rebuild_when_orders_align(self, spark):
        from etl_example_spark.operators.dedup import (
            merge_span_index,
            span_index,
        )

        old = _docs(spark, [(1, "a b c d"), (2, "a b c")])
        new = _docs(spark, [(10, "a b c x"), (11, "m n o")])
        merged = sorted(
            map(tuple, merge_span_index(
                span_index(old, span_tokens=3), new, span_tokens=3
            ).collect())
        )
        rebuilt = sorted(
            map(tuple, span_index(
                old.unionByName(new), span_tokens=3
            ).collect())
        )
        assert merged == rebuilt

    def test_index_rows_are_first_occurrences(self, spark):
        from etl_example_spark.operators.dedup import span_index

        df = _docs(spark, [(1, "a b c d"), (2, "z a b c")])
        got = {
            (r.first_doc, r.first_pos): r.n_seen
            for r in span_index(df, span_tokens=3).collect()
        }
        # "a b c" first at (1,0) seen twice; "b c d" at (1,1);
        # "z a b" at (2,0)
        assert got == {(1, 0): 2, (1, 1): 1, (2, 0): 1}


class TestEmptyDocLines:
    def test_zero_token_doc_produces_no_lines(self, spark):
        # regression: sequence(0, -1) = [0, -1] fabricated two phantom
        # empty lines per empty document
        df = _docs(spark, [(1, ""), (2, "   "), (3, "a b")])
        got = doc_lines(df, line_tokens=2).collect()
        assert {r.doc_id for r in got} == {3}

    def test_empty_doc_absent_from_line_dedup(self, spark):
        df = _docs(spark, [(1, ""), (2, "a b")])
        got = {r.doc_id for r in line_dedup(df, line_tokens=2).collect()}
        assert got == {2}


class TestLineDedupClean:
    def test_removes_duplicate_lines_from_text(self, spark):
        from etl_example_spark.operators.dedup import line_dedup_clean

        df = _docs(spark, [(1, "a b c d"), (2, "a b x y")])
        got = {
            r.doc_id: r.text
            for r in line_dedup_clean(df, line_tokens=2).collect()
        }
        assert got == {1: "a b c d", 2: "x y"}

    def test_idempotent(self, spark):
        from etl_example_spark.operators.dedup import (
            line_dedup,
            line_dedup_clean,
        )

        df = _docs(
            spark,
            [(1, "a b c d e f"), (2, "a b x y c d"), (3, "x y p q")],
        )
        cleaned = line_dedup_clean(df, line_tokens=2)
        second = line_dedup(cleaned, line_tokens=2).collect()
        assert all(r.dropped_lines == 0 for r in second)

    def test_fully_boilerplate_doc_stays_with_empty_text(self, spark):
        from etl_example_spark.operators.dedup import line_dedup_clean

        df = _docs(spark, [(1, "a b"), (2, "a b")])
        got = {
            r.doc_id: r.text
            for r in line_dedup_clean(df, line_tokens=2).collect()
        }
        assert got == {1: "a b", 2: ""}


class TestSubstringDedup:
    """duplicated_spans / remove_duplicated_spans: the suffix-array-style
    remove-duplicated-substrings pass on planted duplicates."""

    def test_cross_doc_copied_run_yields_one_merged_span(self, spark):
        from etl_example_spark.operators.dedup import duplicated_spans

        run = " ".join(f"w{i}" for i in range(20))  # 20-token shared run
        df = _docs(
            spark,
            [
                (1, run),  # first occurrence: untouched
                (2, "p0 p1 p2 " + run + " s0 s1"),  # copy at pos 3..22
                (3, "a b c d e f g h i j"),  # unrelated
            ],
        )
        spans = duplicated_spans(df, span_tokens=8).collect()
        assert len(spans) == 1
        s = spans[0]
        # anchors 3..15 (20-8=12 of them) merge into exactly [3, 23)
        assert (s.doc_id, s.span_start, s.span_end, s.span_len) == (
            2, 3, 23, 20,
        )

    def test_df_floor_spares_rare_repeats(self, spark):
        from etl_example_spark.operators.dedup import (
            duplicated_spans_df_floor,
        )

        run = " ".join(f"w{i}" for i in range(8))
        rare = " ".join(f"r{i}" for i in range(8))
        df = _docs(
            spark,
            [
                (1, run),          # copies in docs 1,2,3 -> df=3
                (2, run),
                (3, run),
                (4, rare),         # copies in docs 4,5 only -> df=2
                (5, rare),
            ],
        )
        spans = duplicated_spans_df_floor(
            df, span_tokens=8, min_span_df=3
        ).collect()
        # frequent span: non-first copies (docs 2,3) anchored; the
        # df=2 span survives the floor entirely (doc 5 untouched)
        assert sorted((s.doc_id, s.span_start, s.span_end) for s in spans) == [
            (2, 0, 8),
            (3, 0, 8),
        ]

    def test_df_floor_apply_spares_rare_repeat_text(self, spark):
        from etl_example_spark.operators.dedup import (
            remove_duplicated_spans,
        )

        run = " ".join(f"w{i}" for i in range(8))
        rare = " ".join(f"r{i}" for i in range(8))
        df = _docs(
            spark,
            [(1, run), (2, run), (3, run), (4, rare), (5, rare)],
        )
        got = {
            r.doc_id: r.text
            for r in remove_duplicated_spans(
                df, span_tokens=8, min_span_df=3
            ).collect()
        }
        # frequent span stripped from non-first copies; the df=2 rare
        # repeat survives the floor with text intact in BOTH docs
        assert got == {1: run, 2: "", 3: "", 4: rare, 5: rare}

    def test_df_floor_two_reproduces_duplicated_spans(self, spark):
        from etl_example_spark.operators.dedup import (
            duplicated_spans,
            duplicated_spans_df_floor,
        )

        run = " ".join(f"w{i}" for i in range(12))
        df = _docs(
            spark,
            [
                (1, run),
                (2, "p0 p1 " + run),
                (3, "a b c d e f g h i j"),
                (4, run + " tail0 tail1"),
            ],
        )
        base = sorted(
            (s.doc_id, s.span_start, s.span_end)
            for s in duplicated_spans(df, span_tokens=8).collect()
        )
        floored = sorted(
            (s.doc_id, s.span_start, s.span_end)
            for s in duplicated_spans_df_floor(
                df, span_tokens=8, min_span_df=2
            ).collect()
        )
        assert base == floored and base

    def test_within_doc_repetition_removes_later_copy(self, spark):
        from etl_example_spark.operators.dedup import (
            duplicated_spans,
            remove_duplicated_spans,
        )

        run = " ".join(f"x{i}" for i in range(8))
        df = _docs(spark, [(1, run + " mid " + run)])
        spans = duplicated_spans(df, span_tokens=8).collect()
        assert [(s.span_start, s.span_end) for s in spans] == [(9, 17)]
        got = {
            r.doc_id: r.text
            for r in remove_duplicated_spans(df, span_tokens=8).collect()
        }
        assert got[1] == run + " mid"

    def test_apply_preserves_membership_and_first_copies(self, spark):
        from etl_example_spark.operators.dedup import remove_duplicated_spans

        run = " ".join(f"w{i}" for i in range(20))
        df = _docs(
            spark,
            [
                (1, run),
                (2, "p0 p1 p2 " + run + " s0 s1"),
                (3, "short doc"),  # < span_tokens: passes through
                (4, ""),  # empty: stays, empty
            ],
        )
        got = {
            r.doc_id: r.text
            for r in remove_duplicated_spans(df, span_tokens=8).collect()
        }
        assert set(got) == {1, 2, 3, 4}
        assert got[1] == run  # first occurrence keeps every token
        assert got[2] == "p0 p1 p2 s0 s1"
        assert got[3] == "short doc"
        assert got[4] == ""

    def test_fully_duplicated_doc_comes_back_empty(self, spark):
        from etl_example_spark.operators.dedup import remove_duplicated_spans

        run = " ".join(f"w{i}" for i in range(12))
        df = _docs(spark, [(1, run), (2, run)])
        got = {
            r.doc_id: r.text
            for r in remove_duplicated_spans(df, span_tokens=8).collect()
        }
        assert got[1] == run
        assert got[2] == ""

    def test_interleaved_fresh_tokens_survive_between_spans(self, spark):
        """Duplicated runs separated by fresh tokens yield separate
        spans — the fresh tokens between them are never swallowed,
        whether the gap is one token or many."""
        from etl_example_spark.operators.dedup import duplicated_spans

        a = " ".join(f"a{i}" for i in range(8))
        b = " ".join(f"b{i}" for i in range(8))
        gap = " ".join(f"g{i}" for i in range(9))
        df = _docs(
            spark,
            [
                (1, a + " " + b),
                (2, a + " " + gap + " " + b),  # wide gap: two spans
                (3, a + " z " + b),  # one-token gap: still two spans
            ],
        )
        spans = sorted(
            (s.doc_id, s.span_start, s.span_end)
            for s in duplicated_spans(df, span_tokens=8).collect()
        )
        assert spans == [(2, 0, 8), (2, 17, 25), (3, 0, 8), (3, 9, 17)]


class TestSoftDedupWeights:
    def test_weights_partition_unit_mass_per_content(self, spark):
        from etl_example_spark.operators.dedup import soft_dedup_weights

        df = _docs(
            spark,
            [
                (1, "a b c"),
                (2, "a b c"),   # exact copy of 1
                (3, "A  b   C"),  # normalizes to the same content
                (4, "unique text here"),
            ],
        )
        got = {
            r.doc_id: (r.n_copies, r.weight)
            for r in soft_dedup_weights(df).collect()
        }
        assert got == {
            1: (3, 1 / 3),
            2: (3, 1 / 3),
            3: (3, 1 / 3),
            4: (1, 1.0),
        }
        # total mass == number of distinct contents
        assert abs(sum(w for _, w in got.values()) - 2.0) < 1e-12

    def test_membership_preserved(self, spark):
        from etl_example_spark.operators.dedup import soft_dedup_weights

        df = _docs(spark, [(i, f"doc {i} text") for i in range(10)])
        assert soft_dedup_weights(df).count() == 10


class TestBigramLogprob:
    def test_hand_computed_probabilities(self, spark):
        import math

        from etl_example_spark.operators.text import bigram_logprob_score

        # corpus: "a b" twice, "a c" once -> c(a,b)=2 c(a,c)=1 c1(a)=3
        # vocab V=3; p(b|a)=(2+1)/(3+3)=0.5, p(c|a)=(1+1)/(3+3)=1/3;
        # scores are exact integer micro-nats
        df = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c")])
        got = {
            r.doc_id: (
                r.n_bigrams, r.sum_neg_logp_micro, r.avg_neg_logp_micro
            )
            for r in bigram_logprob_score(df).collect()
        }
        half = round(round(-math.log(0.5), 6) * 1_000_000)
        third = round(round(-math.log(1 / 3), 6) * 1_000_000)
        assert got[1] == (1, half, half)
        assert got[2] == got[1]
        assert got[3] == (1, third, third)

    def test_repetitive_text_scores_more_probable(self, spark):
        from etl_example_spark.operators.text import bigram_logprob_score

        rep = " ".join(["spam ham"] * 20)
        rare = "every token here appears exactly once in this corpus"
        df = _docs(spark, [(1, rep), (2, rep), (3, rare)])
        got = {
            r.doc_id: r.avg_neg_logp_micro
            for r in bigram_logprob_score(df).collect()
        }
        # the repeated bigrams dominate the LM -> far more probable
        assert got[1] < got[3]

    def test_single_token_docs_excluded(self, spark):
        from etl_example_spark.operators.text import bigram_logprob_score

        df = _docs(spark, [(1, "solo"), (2, "two tokens")])
        assert {
            r.doc_id for r in bigram_logprob_score(df).collect()
        } == {2}


class TestStreamIvfLaw:
    def test_stream_maintained_equals_batch_rebuild(self, spark, sf_dir):
        """The st49 law at the engine surface: the epoch-partitioned
        assignment table a stream maintains equals one batch assignment
        of the full corpus under the same stored quantizer."""
        from etl_example_spark.plans.registry import load_all
        from etl_example_spark.operators.similarity import (
            ivf_assign_with_centroids,
        )
        from etl_example_spark.sources.loaders import load_table
        from pyspark.sql import functions as F

        R = load_all()
        streamed = {
            (r.vec_id, r.centroid_id, r.c_sim)
            for r in R["st49_stream_ivf_maintenance"]
            .spark_builder(spark, sf_dir)
            .collect()
        }
        emb = load_table(spark, sf_dir, "embeddings")
        cents = (
            emb.filter(F.col("vec_id") % 4 != 0)
            .orderBy("vec_id")
            .limit(16)
            .select(
                F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
        )
        full = {
            (r.vec_id, r.centroid_id, r.c_sim)
            for r in ivf_assign_with_centroids(emb, cents)
            .select("vec_id", "centroid_id", "c_sim")
            .collect()
        }
        assert streamed == full and len(streamed) == emb.count()


class TestOccurrencePacking:
    def test_pack_unpack_round_trip_preserves_order(self, spark):
        from etl_example_spark.operators.dedup import (
            _pack_occurrence,
            _unpack_occurrence,
        )

        rows = [
            (0, 0), (0, 1), (1, 0), (7, 1048575),
            ((1 << 43) - 1, 0), (12345, 999999),
        ]
        df = spark.createDataFrame(rows, "doc_id long, pos int")
        packed = df.select(
            "doc_id", "pos",
            _pack_occurrence(F.col("doc_id"), F.col("pos")).alias("k"),
        )
        d, p = _unpack_occurrence(F.col("k"))
        got = [
            (r.doc_id, r.pos, r.d, r.p, r.k)
            for r in packed.select(
                "doc_id", "pos", "k", d.alias("d"), p.alias("p")
            ).collect()
        ]
        for doc_id, pos, d_, p_, _ in got:
            assert (d_, p_) == (doc_id, pos)
        # packed order == lexicographic (doc_id, pos) order
        ks = sorted((r[0], r[1], r[4]) for r in got)
        assert [k for _, _, k in ks] == sorted(k for _, _, k in ks)

    def test_out_of_range_position_raises(self, spark):
        import pytest

        from etl_example_spark.operators.dedup import _pack_occurrence

        df = spark.createDataFrame(
            [(1, 1 << 20)], "doc_id long, pos int"
        )
        with pytest.raises(Exception, match="packing bounds|ASSERT"):
            df.select(
                _pack_occurrence(F.col("doc_id"), F.col("pos")).alias("k")
            ).collect()

    def test_out_of_range_doc_id_raises(self, spark):
        import pytest

        from etl_example_spark.operators.dedup import _pack_occurrence

        df = spark.createDataFrame([(1 << 43, 0)], "doc_id long, pos int")
        with pytest.raises(Exception, match="packing bounds|ASSERT"):
            df.select(
                _pack_occurrence(F.col("doc_id"), F.col("pos")).alias("k")
            ).collect()


class TestContentHashPair:
    def test_salt_first_construction(self, spark):
        """The pair must be the SALT-FIRST two-seed construction: Spark
        folds multi-column xxhash64 left-to-right as
        h = XXH64(col, seed=prev), so a TRAILING salt
        (xxhash64(c, lit(1))) is a pure function of xxhash64(c) — any
        _h1 collision would force an _h2 collision, collapsing the pair
        to 64-bit resistance. Salt-first starts the two streams from
        unrelated seeds. This test pins the construction so a refactor
        can't silently reintroduce the dependent form."""
        from etl_example_spark.operators.dedup import _content_hash_pair

        df = spark.createDataFrame(
            [("alpha",), ("beta",), ("",), ("alpha beta gamma",)],
            "s string",
        )
        got = df.select(
            *_content_hash_pair("s"),
            F.xxhash64(F.lit(1), F.col("s")).alias("want1"),
            F.xxhash64(F.lit(2), F.col("s")).alias("want2"),
            F.xxhash64(F.col("s")).alias("plain"),
            F.xxhash64(F.col("s"), F.lit(1)).alias("trailing"),
        ).collect()
        for r in got:
            assert r._h1 == r.want1 and r._h2 == r.want2
            # and neither half is the dependent trailing-salt stream
            assert r._h1 != r.trailing and r._h2 != r.trailing
            assert r._h1 != r.plain

    def test_trailing_salt_is_dependent_on_plain_hash(self, spark):
        """Empirically verify the dependence claim that motivated the
        fix: xxhash64(c, lit(1)) depends on c ONLY through xxhash64(c)
        (it is XXH64 of the long 1 seeded by the plain hash), so two
        values with equal plain hashes would always share the trailing-
        salt hash. Shown by computing the trailing form from the plain
        hash alone: xxhash64(x, lit(1)) == xxhash64(lit(1)) re-seeded —
        Spark exposes no explicit-seed column form, so assert the
        observable consequence instead: the trailing hash of a value is
        reproduced by hashing ANY column whose plain hash matches (here
        the value itself read back from a different literal route)."""
        from etl_example_spark.operators.dedup import _content_hash_pair

        a = spark.createDataFrame([("same content",)], "s string")
        b = spark.createDataFrame(
            [("same", " content")], "x string, y string"
        ).select(F.concat("x", "y").alias("s"))
        ra = a.select(*_content_hash_pair("s")).collect()[0]
        rb = b.select(*_content_hash_pair("s")).collect()[0]
        # equal content -> equal pair, through either construction route
        assert (ra._h1, ra._h2) == (rb._h1, rb._h2)


class TestBigramLogprobVocabAlignment:
    def test_empty_and_single_token_docs_match_oracle(self, spark):
        """ADVICE r8 #2 regression: the smoothing vocabulary V must be
        computed identically by the engine and the DuckDB oracle on
        corpora containing empty/whitespace-only documents (Spark
        tokens('') = [], DuckDB string_split_regex('') = ['']) and
        single-token documents (excluded from bigrams but part of the
        corpus vocabulary). V here = 5 ('a','b','c','solo','lone'):
        'solo'/'lone' appear ONLY in 1-token docs, and the empty/blank
        docs add nothing."""
        import duckdb

        from etl_example_spark.plans.registry import load_all
        from etl_example_spark.operators.text import bigram_logprob_score
        from tests.oracle import compare_frames

        rows = [
            (1, "a b"),
            (2, "a b"),
            (3, "a c"),
            (4, "solo"),
            (5, ""),
            (6, "   "),
            (7, "lone"),
        ]
        df = _docs(spark, rows)
        got = bigram_logprob_score(df).toPandas()

        con = duckdb.connect()
        import pandas as pd

        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        oracle_sql = load_all()["d83_bigram_logprob_quality"].oracle
        want = con.execute(oracle_sql).fetchdf()
        problems = compare_frames(got, want)
        assert not problems, problems

    def test_vocab_counts_single_token_docs(self, spark):
        """V=5 above, not the bigram-eligible subset's 3: p(b|a) =
        (2+1)/(3+5) = 0.375 exactly."""
        import math

        from etl_example_spark.operators.text import bigram_logprob_score

        df = _docs(
            spark,
            [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo"),
             (5, ""), (7, "lone")],
        )
        got = {
            r.doc_id: r.avg_neg_logp_micro
            for r in bigram_logprob_score(df).collect()
        }
        want = round(round(-math.log(3 / 8), 6) * 1_000_000)
        assert got[1] == want


@pytest.fixture(scope="module")
def staged_inputs(spark, sf_dir, tmp_path_factory):
    """Two of each input the artifact kinds stage from: sf_dir copies
    (the catalog stagers and warm tables key by directory) and small
    corpora (the checkpoint kinds key by plan)."""
    import shutil

    root = tmp_path_factory.mktemp("staged")
    dirs = [str(root / f"sf{k}") for k in range(2)]
    for d in dirs:
        shutil.copytree(sf_dir, d)
    return {
        "dirs": dirs,
        "docs": [
            _docs(spark, [(1, f"race {k} alpha beta gamma delta")])
            for k in range(2)
        ],
        "queries": spark.createDataFrame(
            [(1, "alpha")], "query_id int, term string"
        ),
    }


def _by_dir(kind, stage):
    """Run a catalog/warm stager over sf copy ``k`` and return what the
    store holds for it (the table names, or the warm tables)."""

    def call(spark, inputs, k):
        stage(spark, inputs["dirs"][k])
        return artifacts.get(kind, spark, inputs["dirs"][k])

    return call


#: one call per artifact kind: (spark, staged_inputs, key 0 or 1) ->
#: the artifact the store served for that key
STAGERS = {
    "shingles": lambda spark, inputs, k: dedup.staged_shingles(
        inputs["docs"][k]
    ),
    "hashed_index": lambda spark, inputs, k: dedup.staged_shingles(
        inputs["docs"][k]
    ).hashed_index,
    "signatures": lambda spark, inputs, k: dedup.staged_shingles(
        inputs["docs"][k]
    ).signatures(4),
    "spans": lambda spark, inputs, k: dedup.staged_span_occurrences(
        inputs["docs"][k], span_tokens=3
    ),
    "bm25_tf": lambda spark, inputs, k: text._staged_bm25_tf(
        inputs["docs"][k], inputs["queries"], "text", "doc_id"
    ),
    "bm25_bucketed": _by_dir("bm25_bucketed", llm_ops._stage_bm25_bucketed),
    "ivf_artifacts": _by_dir("ivf_artifacts", llm_ops._stage_ivf_artifacts),
    "q77_twins": _by_dir("q77_twins", relational._stage_bucketed),
    "warm": _by_dir("warm", loaders.warm_tables),
}


class TestStagedSpanFileSnapshot:
    def test_overwritten_parquet_is_cache_miss(self, spark, tmp_path):
        """ADVICE r8 #4 regression: overwriting the source parquet
        in-session must MISS the staged-span LRU (the semantic plan hash
        is path-keyed, not byte-keyed), so d80-family queries never
        serve occurrence data scanned from the old bytes."""
        import shutil

        from etl_example_spark.operators.dedup import (
            staged_span_occurrences,
        )

        path = str(tmp_path / "docs.parquet")
        backup = str(tmp_path / "backup.parquet")
        _docs(spark, [(1, "one two three four")]).coalesce(1).write.parquet(
            backup
        )
        shutil.copytree(backup, path, copy_function=shutil.copy2)
        occ1 = staged_span_occurrences(
            spark.read.parquet(path), span_tokens=3
        )
        n1 = occ1.count()
        assert n1 == 2  # 4 tokens, two 3-token windows

        # overwrite with a LONGER corpus (different size => rebuilt)
        _docs(
            spark, [(1, "one two three four five six seven eight")]
        ).coalesce(1).write.mode("overwrite").parquet(path)
        occ2 = staged_span_occurrences(
            spark.read.parquet(path), span_tokens=3
        )
        assert occ2.count() == 6  # 8 tokens, six windows
        # and the first artifact was not clobbered in place
        assert occ1.count() == 2

        # revert to the first bytes (sizes and mtimes preserved)
        shutil.rmtree(path)
        shutil.copytree(backup, path, copy_function=shutil.copy2)
        occ3 = staged_span_occurrences(
            spark.read.parquet(path), span_tokens=3
        )
        assert occ3.count() == 2

    def test_clear_staged_caches_hook(self, spark, staged_inputs):
        """The hook empties the artifact store for every kind, and a
        cleared warm table is unpersisted and no longer served."""
        for call in STAGERS.values():
            call(spark, staged_inputs, 0)
        assert set(artifacts._STORE) == set(STAGERS)
        warm_dir = staged_inputs["dirs"][0]
        warm = loaders.load_table(spark, warm_dir, "region")
        assert warm.storageLevel.useMemory
        dedup.clear_staged_caches()
        assert artifacts._STORE == {}
        assert not warm.storageLevel.useMemory
        assert loaders.load_table(spark, warm_dir, "region") is not warm

    @pytest.mark.parametrize("kind", sorted(STAGERS))
    def test_concurrent_callers_build_each_key_once(
        self, spark, staged_inputs, monkeypatch, kind
    ):
        """8 threads racing on 2 keys: each key's artifact is built
        once, and every caller of a key gets that one artifact."""
        import sys
        import threading
        from concurrent.futures import ThreadPoolExecutor

        builds: list[tuple] = []
        get_or_build = artifacts.get_or_build

        def counting(kind, spark, params, build, sources=()):
            def counted():
                builds.append((kind, params))
                return build()

            return get_or_build(kind, spark, params, counted, sources)

        monkeypatch.setattr(artifacts, "get_or_build", counting)
        barrier = threading.Barrier(8, timeout=60)

        def call(i):
            barrier.wait()
            return STAGERS[kind](spark, staged_inputs, i % 2)

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                futures = [pool.submit(call, i) for i in range(8)]
                got = [f.result(timeout=300) for f in futures]
        finally:
            sys.setswitchinterval(switch)
            artifacts.clear()
        assert len(builds) == len(set(builds)), builds
        assert sum(k == kind for k, _ in builds) == 2, builds
        for i in range(2):
            assert got[i] is not None
            assert all(a is got[i] for a in got[i::2])


class TestIvfDegenerateVectors:
    def test_zero_norm_vector_survives_with_null_centroid(self, spark):
        """ADVICE r8 #3 regression: a zero-norm embedding (cosine NULL
        against every centroid) must SURVIVE ivf_assign_with_centroids
        with NULL centroid_id/c_sim — corpus membership through the
        assignment artifact is preserved, never silently dropped."""
        from etl_example_spark.operators.similarity import (
            ivf_assign_with_centroids,
        )

        emb = spark.createDataFrame(
            [
                (1, [1.0, 0.0]),
                (2, [0.0, 1.0]),
                (3, [0.0, 0.0]),  # degenerate
                (4, [0.7, 0.7]),
            ],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
            "centroid_id long, centroid_vec array<double>",
        )
        got = {
            r.vec_id: (r.centroid_id, r.c_sim)
            for r in ivf_assign_with_centroids(emb, cents).collect()
        }
        assert set(got) == {1, 2, 3, 4}, "no row may be dropped"
        assert got[3] == (None, None)
        assert got[1][0] == 10 and got[2][0] == 20
        assert got[4][0] in (10, 20) and got[4][1] is not None


class TestNewlineLineDedup:
    def test_catches_boilerplate_missed_by_chunk_mode(self, spark):
        """The reason the mode exists: a repeated REAL line that is not
        aligned to 10-token chunk boundaries is invisible to token-chunk
        line dedup but caught exactly by separator mode."""
        from etl_example_spark.operators.dedup import line_dedup

        boiler = "subscribe to our newsletter"
        docs = _docs(
            spark,
            [
                (1, f"unique opening words\n{boiler}\nmore unique text"),
                (2, f"totally different page\n{boiler}\nother body copy"),
            ],
        )
        chunk = {
            r.doc_id: r.dropped_lines
            for r in line_dedup(docs, line_tokens=10).collect()
        }
        assert chunk == {1: 0, 2: 0}, "chunk mode should miss it"
        nl = {
            r.doc_id: (r.n_lines, r.kept_lines, r.dropped_lines)
            for r in line_dedup(docs, separator="\n").collect()
        }
        assert nl[1] == (3, 3, 0)
        assert nl[2] == (3, 2, 1), "second copy of the boilerplate drops"

    def test_clean_rejoins_with_separator_and_is_idempotent(self, spark):
        from etl_example_spark.operators.dedup import line_dedup_clean

        docs = _docs(
            spark,
            [(1, "keep me\ndup line\ntail"), (2, "dup line\nfresh")],
        )
        cleaned = {
            r.doc_id: r.text
            for r in line_dedup_clean(docs, separator="\n").collect()
        }
        assert cleaned[1] == "keep me\ndup line\ntail"
        assert cleaned[2] == "fresh"
        again = {
            r.doc_id: r.text
            for r in line_dedup_clean(
                _docs(spark, list(cleaned.items())), separator="\n"
            ).collect()
        }
        assert again == cleaned, "second pass must be a no-op"

    def test_blank_lines_dedup_to_first(self, spark):
        """Empty lines are lines: the first blank survives, later blanks
        (within or across docs) drop — matching DuckDB string_split."""
        from etl_example_spark.operators.dedup import line_dedup

        docs = _docs(spark, [(1, "a\n\nb\n\nc"), (2, "")])
        got = {
            r.doc_id: (r.n_lines, r.dropped_lines)
            for r in line_dedup(docs, separator="\n").collect()
        }
        assert got[1] == (5, 1)  # second blank drops
        assert got[2] == (1, 1)  # doc 2's single empty line is a dup

    def test_incremental_separator_mode(self, spark):
        """line_index/probe_line_index honor the separator: an indexed
        newline-line beats a batch copy; batch-internal dups drop."""
        from etl_example_spark.operators.dedup import (
            line_dedup,
            line_index,
            probe_line_index,
        )

        old = _docs(spark, [(10, "boiler plate\nalpha")])
        batch = _docs(
            spark, [(1, "boiler plate\nbeta"), (2, "beta\ngamma")]
        )
        idx = line_index(old, separator="\n")
        got = {
            r.doc_id: (r.kept_lines, r.dropped_lines)
            for r in probe_line_index(idx, batch, separator="\n").collect()
        }
        # doc 1: 'boiler plate' indexed -> drops; 'beta' first in batch
        assert got[1] == (1, 1)
        # doc 2: 'beta' already taken by doc 1; 'gamma' new
        assert got[2] == (1, 1)
        # contrast with the full-corpus pass: there precedence is id
        # order, so doc 1 (id < 10) takes 'boiler plate' and the INDEXED
        # doc 10 loses its copy — the published-survivors-are-immutable
        # contract is what the incremental form adds
        full = {
            r.doc_id: r.dropped_lines
            for r in line_dedup(
                old.unionByName(batch), separator="\n"
            ).collect()
        }
        assert full[10] == 1 and full[1] == 0


class TestDurableSpanStaging:
    def test_stage_path_write_once_and_shared(self, spark, tmp_path):
        """stage_path: first call writes the parquet occurrence artifact;
        detect and apply both read it back (one corpus scan durably);
        results equal the in-memory-staged path exactly."""
        import os

        from etl_example_spark.operators.dedup import (
            duplicated_spans,
            remove_duplicated_spans,
            staged_span_occurrences,
        )

        docs = _docs(
            spark,
            [
                (1, "one two three four five six unique tail here"),
                (2, "zzz one two three four five six other ending"),
            ],
        )
        stage = str(tmp_path / "span_stage")
        det = {
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicated_spans(
                docs, span_tokens=6, stage_path=stage
            ).collect()
        }
        assert os.path.exists(os.path.join(stage, "_SUCCESS"))
        mtime = os.path.getmtime(os.path.join(stage, "_SUCCESS"))
        base = {
            (r.doc_id, r.span_start, r.span_end)
            for r in duplicated_spans(docs, span_tokens=6).collect()
        }
        assert det == base and det == {(2, 1, 7)}

        cleaned = {
            r.doc_id: r.text
            for r in remove_duplicated_spans(
                docs, span_tokens=6, stage_path=stage
            ).collect()
        }
        assert cleaned[1].startswith("one two three")
        assert cleaned[2] == "zzz other ending"
        # the artifact was written exactly once (apply reused it)
        assert os.path.getmtime(os.path.join(stage, "_SUCCESS")) == mtime

    def test_stage_path_presence_is_the_cache(self, spark, tmp_path):
        """The documented contract: with the artifact present, the
        source is NOT rescanned — detection over a CHANGED corpus still
        answers from the staged artifact until the path is deleted."""
        import shutil

        from etl_example_spark.operators.dedup import (
            staged_span_occurrences,
        )

        stage = str(tmp_path / "stage2")
        d1 = _docs(spark, [(1, "a b c d e f g")])
        n1 = staged_span_occurrences(
            d1, span_tokens=6, stage_path=stage
        ).count()
        assert n1 == 2
        d2 = _docs(spark, [(1, "a b c d e f g h i")])
        assert (
            staged_span_occurrences(
                d2, span_tokens=6, stage_path=stage
            ).count()
            == n1
        )
        shutil.rmtree(stage)
        assert (
            staged_span_occurrences(
                d2, span_tokens=6, stage_path=stage
            ).count()
            == 4
        )


class TestBoilerplateAudits:
    def test_top_spans_hand_corpus(self, spark):
        from etl_example_spark.operators.dedup import top_duplicated_spans

        boiler = "a b c"  # 3-token span repeated in 3 docs
        quote = "x y z"  # repeated in 2 docs
        docs = _docs(
            spark,
            [
                (1, f"{boiler} uniq1 tail1"),
                (2, f"opener2 {boiler} uniq2"),
                (3, f"{boiler} end3a end3b"),
                (4, f"{quote} four4 tail4"),
                (5, f"start5 {quote} five5"),
            ],
        )
        got = [
            (r.span_text, r.span_df, r.first_doc, r.first_pos)
            for r in top_duplicated_spans(
                docs, k=2, span_tokens=3
            ).collect()
        ]
        assert got[0] == ("a b c", 3, 1, 0)
        assert got[1] == ("x y z", 2, 4, 0)

    def test_top_lines_newline_mode(self, spark):
        from etl_example_spark.operators.dedup import top_duplicated_lines

        docs = _docs(
            spark,
            [
                (1, "cookie banner\nbody one"),
                (2, "cookie banner\nbody two"),
                (3, "body three\ncookie banner"),
            ],
        )
        got = [
            (r.line_text, r.line_df, r.first_doc, r.first_idx)
            for r in top_duplicated_lines(
                docs, k=5, separator="\n"
            ).collect()
        ]
        assert got == [("cookie banner", 3, 1, 0)]

    def test_min_df_floor_and_k_cap(self, spark):
        from etl_example_spark.operators.dedup import top_duplicated_lines

        docs = _docs(
            spark,
            [(1, "p\nq\nr"), (2, "p\nq\ns"), (3, "p\nt\nu")],
        )
        got = [
            (r.line_text, r.line_df)
            for r in top_duplicated_lines(
                docs, k=1, separator="\n", min_df=2
            ).collect()
        ]
        assert got == [("p", 3)]  # q (df=2) cut by k=1; singletons cut by floor


class TestMergeLineIndex:
    def test_merge_equals_full_rebuild_append_only(self, spark):
        """The incremental law, line level: with new ids above all
        indexed ids, merge_line_index(line_index(old), new) row-equals
        line_index(old ∪ new) — counts, first occurrences, everything."""
        from etl_example_spark.operators.dedup import (
            line_index,
            merge_line_index,
        )

        old = _docs(
            spark, [(1, "a b"), (2, "a b"), (3, "c d")]
        )
        new = _docs(
            spark, [(10, "a b"), (11, "e f")]
        )
        merged = {
            (r.line_hash, r.first_doc, r.first_idx, r.n_seen)
            for r in merge_line_index(
                line_index(old, line_tokens=2), new, line_tokens=2
            ).collect()
        }
        full = {
            (r.line_hash, r.first_doc, r.first_idx, r.n_seen)
            for r in line_index(
                old.unionByName(new), line_tokens=2
            ).collect()
        }
        assert merged == full and len(merged) == 3

    def test_merge_in_separator_mode(self, spark):
        from etl_example_spark.operators.dedup import (
            line_index,
            merge_line_index,
        )

        old = _docs(spark, [(1, "x\ny")])
        new = _docs(spark, [(5, "y\nz")])
        merged = {
            (r.first_doc, r.n_seen)
            for r in merge_line_index(
                line_index(old, separator="\n"), new, separator="\n"
            ).collect()
        }
        full = {
            (r.first_doc, r.n_seen)
            for r in line_index(
                old.unionByName(new), separator="\n"
            ).collect()
        }
        assert merged == full


class TestBenchmarkDecontamination:
    def test_overlap_intervals_and_surgical_removal(self, spark):
        """The GPT-3 rule applied surgically: only the overlapping
        window's tokens are removed; the rest of the document (and
        every clean document) survives untouched."""
        from etl_example_spark.operators.dedup import (
            benchmark_span_overlap,
            remove_benchmark_spans,
        )

        bench = _docs(spark, [(100, "what is the capital of france")])
        corpus = _docs(
            spark,
            [
                # quotes the eval question mid-document (6-token window)
                (1, "intro words what is the capital of france outro"),
                (2, "a completely clean document with no overlap"),
                # fully contaminated (IS the question)
                (3, "what is the capital of france"),
            ],
        )
        iv = {
            (r.doc_id, r.span_start, r.span_end)
            for r in benchmark_span_overlap(
                corpus, bench, span_tokens=6
            ).collect()
        }
        assert iv == {(1, 2, 8), (3, 0, 6)}
        cleaned = {
            r.doc_id: r.text
            for r in remove_benchmark_spans(
                corpus, bench, span_tokens=6
            ).collect()
        }
        assert cleaned[1] == "intro words outro"
        assert cleaned[2] == "a completely clean document with no overlap"
        assert cleaned[3] == ""  # membership preserved, text emptied

    def test_no_self_dedup_side_effect(self, spark):
        """Decontamination must NOT dedup the corpus against itself:
        two corpus docs sharing a window that is absent from the
        benchmark are both left alone."""
        from etl_example_spark.operators.dedup import (
            remove_benchmark_spans,
        )

        bench = _docs(spark, [(100, "totally unrelated benchmark text")])
        corpus = _docs(
            spark,
            [(1, "shared run of corpus tokens here"),
             (2, "shared run of corpus tokens here")],
        )
        cleaned = {
            r.doc_id: r.text
            for r in remove_benchmark_spans(
                corpus, bench, span_tokens=4
            ).collect()
        }
        assert cleaned[1] == cleaned[2] == "shared run of corpus tokens here"


class TestBm25NullTextAlignment:
    def test_null_and_blank_docs_match_oracle(self, spark):
        """NULL-text regression for the BM25 family: Spark's
        token_count(NULL) is -1 (size of a null array), which would
        silently shrink the corpus token total T where the DuckDB
        oracle's SUM skips the NULL — shifting EVERY document's length
        normalization. The engine coalesces text to '' before counting;
        this corpus (NULL doc, blank doc, real docs) must hash-match
        the registered oracle."""
        import duckdb
        import pandas as pd

        from etl_example_spark.plans.registry import load_all
        from etl_example_spark.operators.text import bm25_topk
        from etl_example_spark.plans.llm_ops import BM25_QUERIES
        from tests.oracle import compare_frames

        rows = [
            (1, "hash join merge hash"),
            (2, "window sort order window sort"),
            (3, None),
            (4, "   "),
            (5, "spark stream batch vector spark"),
            (6, "hash hash hash filler filler"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        queries = spark.createDataFrame(
            BM25_QUERIES, "query_id int, term string"
        )
        got = (
            bm25_topk(docs, queries, k=10)
            .orderBy("query_id", "rk")
            .toPandas()
        )

        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
        )
        oracle_sql = load_all()["s51_bm25_topk"].oracle
        want = con.execute(oracle_sql).fetchdf()
        problems = compare_frames(got, want)
        assert not problems, problems

    def test_serve_scores_skip_null_docs(self, spark):
        """The st55 serving scorer must emit NO row for NULL/blank
        documents (they match no term) and must not poison the stats
        (t_total counts them as 0 tokens, not -1)."""
        from etl_example_spark.operators.text import (
            bm25_serve_scores,
            bm25_serving_stats,
        )
        from etl_example_spark.plans.llm_ops import BM25_QUERIES

        rows = [(1, "hash join"), (2, None), (3, "  ")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        queries = spark.createDataFrame(
            BM25_QUERIES, "query_id int, term string"
        )
        term_idf, n_docs, t_total = bm25_serving_stats(docs, queries)
        assert t_total == 2  # the NULL and blank docs contribute 0
        query_terms: dict[int, list[str]] = {}
        for qid, term in BM25_QUERIES:
            query_terms.setdefault(qid, []).append(term)
        out = bm25_serve_scores(
            docs, term_idf, query_terms, n_docs, t_total
        ).collect()
        assert {r.doc_id for r in out} == {1}
