"""Round-14 interleaved A/B harness.

Usage:
  python tools/opt_r14_ab.py d97      # materialize-once ON vs OFF for
                                      # d97/d53 (VERDICT r13 item 3)
  python tools/opt_r14_ab.py d83      # bigram LM: staged token scan
                                      # vs status quo (VERDICT item 5)

Interleaved A/B/A/B... medians tolerate slow environment drift; both
variants run inside one warmed session (same method as r13's
adjudications).
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_example_spark.plans.registry import load_all
from etl_example_spark.session import get_spark
from etl_example_spark.sources.loaders import warm_tables

SF = "/root/testdata/sf0.1"
N = 7


_SPARK = None  # set in main, used by the GC stabilizer


def _stabilize():
    """Python + JVM GC between timed runs: localCheckpoint blocks are
    freed only when the driver GCs the RDD reference (py4j refs release
    lazily), and accumulated blocks were measured to decay d97 from
    ~1.7s to ~6s across a session. Same protocol both variants."""
    import gc

    gc.collect()
    _SPARK._jvm.System.gc()


def timed(fn) -> float:
    _stabilize()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def ab(name_a, fn_a, name_b, fn_b):
    for _ in range(2):
        fn_a(), fn_b()
    xs, ys = [], []
    for _ in range(N):
        xs.append(timed(fn_a))
        ys.append(timed(fn_b))
    print(
        f"{name_a}: median {statistics.median(xs):.3f}s {sorted(xs)}\n"
        f"{name_b}: median {statistics.median(ys):.3f}s {sorted(ys)}"
    )


def main() -> None:
    global _SPARK
    which = sys.argv[1]
    spark = get_spark(app_name=f"opt_r14_ab_{which}", shuffle_partitions=8)
    _SPARK = spark
    warm_tables(spark, SF, partitions=8)
    qs = load_all()

    if which == "d97":
        from etl_example_spark.operators import sampling

        real = sampling.materialize_if_derived

        def run(q):
            df = qs[q].spark_builder(spark, SF)
            df.write.format("noop").mode("overwrite").save()

        for q in ("d97_web_curation_v2", "d53_curation_pipeline"):
            print(f"== {q}")
            def with_mat():
                sampling.materialize_if_derived = real
                run(q)

            def without_mat():
                sampling.materialize_if_derived = lambda df: df
                run(q)

            ab("materialize-once", with_mat, "no-materialize", without_mat)
            sampling.materialize_if_derived = real

    elif which == "d83":
        from etl_example_spark.operators import text as T
        from pyspark.sql import functions as F
        from etl_example_spark.sources.loaders import load_table

        docs = load_table(spark, SF, "documents")

        def status_quo():
            df = T.bigram_logprob_score(docs)
            df.write.format("noop").mode("overwrite").save()

        def staged():
            df = _bigram_staged(docs)
            df.write.format("noop").mode("overwrite").save()

        def _bigram_staged(df, text_col="text", id_col="doc_id"):
            base = df.select(
                F.col(id_col).alias("doc_id"),
                T.tokens(text_col).alias("_toks"),
            ).localCheckpoint(eager=True)
            toks = F.col("_toks")
            bigrams = base.filter(F.size(toks) >= 2).select(
                "doc_id",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - 2),
                        lambda i: F.struct(
                            F.element_at(toks, i + 1).alias("w1"),
                            F.element_at(toks, i + 2).alias("w2"),
                        ),
                    )
                ).alias("_bg"),
            ).select("doc_id", "_bg.w1", "_bg.w2")
            c12 = bigrams.groupBy("w1", "w2").agg(
                F.count("*").alias("cnt12")
            )
            c1 = c12.groupBy("w1").agg(F.sum("cnt12").alias("cnt1"))
            vocab = base.select(F.explode("_toks").alias("_tok")).agg(
                F.countDistinct("_tok").alias("vocab")
            )
            p = (F.col("cnt12") + 1).cast("double") / (
                F.col("cnt1") + F.col("vocab")
            ).cast("double")
            neg_logp = F.round(-F.log(p), 6).cast("decimal(18,6)")
            return (
                bigrams.join(c12, ["w1", "w2"])
                .join(c1, "w1")
                .crossJoin(F.broadcast(vocab))
                .select("doc_id", neg_logp.alias("_nl"))
                .groupBy("doc_id")
                .agg(
                    F.count("*").alias("n_bigrams"),
                    (F.sum("_nl") * 1_000_000)
                    .cast("long")
                    .alias("sum_neg_logp_micro"),
                )
                .select(
                    "doc_id",
                    "n_bigrams",
                    "sum_neg_logp_micro",
                    F.expr("sum_neg_logp_micro div n_bigrams").alias(
                        "avg_neg_logp_micro"
                    ),
                )
            )

        # rows identical first
        a = sorted(map(repr, T.bigram_logprob_score(docs).collect()))
        b = sorted(map(repr, _bigram_staged(docs).collect()))
        print("rows identical:", a == b)
        ab("status-quo", status_quo, "staged-tokens", staged)

    spark.stop()


if __name__ == "__main__":
    main()
