"""The benchmark's workloads: one pass of each, plus its input and check.

A workload object has four steps per pass. ``prepare`` makes the pass's
input (untimed). ``run`` is the timed pass: the same public calls, in the
same order, that ``python -m etl_example_spark`` makes. ``check``
compares the pass's outputs with the DuckDB oracle (untimed). ``cleanup``
deletes everything the pass wrote.

``probe`` times a fixed plain-Spark job of the workload's shape, in the
same session, between passes: engine code never runs in it, so its wall
moves only with how fast the shared box is at that moment.

``run`` opens a tracer span around each call into a layer; with tracing
off the spans do nothing. ``patch`` wraps the layers ``run`` reaches only
through other engine code.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks, inputs


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's
    ``_SUCCESS``/``_MANIFEST.json`` markers and ``.crc`` sidecars are
    not data."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _median_wall(job, reps: int) -> float:
    job()  # plans and compiles it, untimed
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        job()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


@dataclass
class Pass:
    index: int
    dirs: list[str]
    data: dict = field(default_factory=dict)
    out: dict = field(default_factory=dict)


class Lifecycle:
    """The reference lifecycle: createDataFrame -> run_pipeline ->
    show_results -> backup_catalog."""

    name = "lifecycle"
    QUERIES = ("q1_weekly", "q2_top_products", "q3_top_stores", "q4_seasonality")
    #: fixed scales: about ``probe``'s median wall on the 4-vCPU VM the
    #: benchmark was tuned on, warm and as the JVM's first jobs
    PROBE_REF_S = 0.09
    FIRST_PROBE_REF_S = 0.13

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_fact = 5_000 if smoke else inputs.LIFECYCLE_N_FACT

    def patch(self, tracer) -> None:
        from etl_example_spark.plans import pipeline

        tracer.patch(pipeline, "count_problematic", "operators.curation.count_problematic")

    def probe(self) -> float:
        """Median wall of tiny jobs, as the pass is many tiny jobs."""
        return _median_wall(lambda: self.spark.range(0, 2_000, 1, 4).selectExpr("sum(id)").collect(), 7)

    def prepare(self, i: int) -> Pass:
        pdfs = inputs.reference_tables(self.seed, i, self.n_fact)
        dest = os.path.join(self.work, f"backup_{i}")
        return Pass(i, [dest], {"pdfs": pdfs, "dest": dest,
                                "expected": checks.lifecycle_expected(pdfs, show_n=10)})

    def run(self, p: Pass, tr) -> None:
        from etl_example_spark.plans.pipeline import run_pipeline, show_results
        from etl_example_spark.schemas import REFERENCE_SCHEMAS
        from etl_example_spark.sources.writers import backup_catalog

        spark = self.spark
        with tr.span("load.create_df"):
            tables = {
                name: spark.createDataFrame(pdf, schema=REFERENCE_SCHEMAS[name])
                for name, pdf in p.data["pdfs"].items()
            }
        with tr.span("plans.pipeline.run_pipeline"):
            result = run_pipeline(spark, tables)
        shown = {}
        # one query at a time, so each query's jobs land in its own span
        for name, df in result.query_results.items():
            with tr.span(f"plans.reference_queries.{name}"):
                shown.update(show_results({name: df}))
        snapshot = dict(tables)
        snapshot["sellout"] = result.curated
        with tr.span("sources.writers.backup_catalog"):
            backup_dir = backup_catalog(spark, p.data["dest"], tables=snapshot, label=f"pass{p.index}")
        p.out = {"result": result, "shown": shown, "backup_dir": backup_dir}

    def check(self, p: Pass) -> list[str]:
        o = p.out
        return checks.check_lifecycle(p.data["expected"], o["result"], o["shown"], o["backup_dir"])

    def isolate(self) -> None:
        pass

    def layer_extras(self, p: Pass) -> dict[str, float]:
        nbytes, nfiles = tree_size(p.out["backup_dir"])
        return {
            "sources.writers.backup_catalog.bytes_written": nbytes,
            "sources.writers.backup_catalog.files_written": nfiles,
        }


class Corpus:
    """The ``--curate SRC --shards-dest OUT`` chain over a fresh file per
    pass: read -> count -> curate_corpus(...).localCheckpoint -> count ->
    corpus_stats -> shard_assign -> write_training_shards."""

    name = "corpus"
    #: fixed scales: about ``probe``'s median wall on the 4-vCPU VM the
    #: benchmark was tuned on, warm and as the JVM's first jobs
    PROBE_REF_S = 0.11
    FIRST_PROBE_REF_S = 0.16

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.docs = inputs.documents(seed, 300 if smoke else inputs.CORPUS_N_DOCS)
        self.expected_stats = None

    def patch(self, tracer) -> None:
        from etl_example_spark.operators import corpus

        tracer.patch(corpus, "exact_dedup", "operators.dedup.exact_dedup")
        tracer.patch(corpus, "minhash_lsh_dedup", "operators.dedup.minhash_lsh_dedup")
        tracer.patch(corpus, "temperature_sample", "operators.sampling.temperature_sample")

    def probe(self) -> float:
        """Median wall of a CPU-bound scan on every core, as the pass's
        stages are."""
        return _median_wall(
            lambda: self.spark.range(0, 20_000_000, 1, 4).selectExpr("sum(hash(id))").collect(), 5
        )

    def prepare(self, i: int) -> Pass:
        src = os.path.join(self.work, f"corpus_{i}")
        os.makedirs(src)
        path = os.path.join(src, "documents.parquet")
        in_bytes = inputs.write_documents_copy(self.docs, self.seed, i, path)
        dest = os.path.join(self.work, f"shards_{i}")
        return Pass(i, [src, dest], {"path": path, "in_bytes": in_bytes, "dest": dest})

    def run(self, p: Pass, tr) -> None:
        from etl_example_spark.operators.corpus import corpus_stats, curate_corpus
        from etl_example_spark.operators.sampling import shard_assign
        from etl_example_spark.sources.writers import write_training_shards

        docs = self.spark.read.parquet(p.data["path"])
        read_count = docs.count()
        with tr.span("operators.corpus.curate_corpus"):
            curated = curate_corpus(docs).localCheckpoint(eager=True)
        curated_count = curated.count()
        with tr.span("operators.corpus.corpus_stats"):
            stats = corpus_stats(curated).collect()
        sharded = shard_assign(curated, hex_digits=1)
        with tr.span("sources.writers.write_training_shards"):
            manifest = write_training_shards(sharded, p.data["dest"])
        p.out = {"read_count": read_count, "curated_count": curated_count,
                 "stats": stats, "manifest": manifest}

    def check(self, p: Pass) -> list[str]:
        # every pass holds the same rows, so the oracle (seconds of DuckDB
        # time) runs once, on the first pass's file
        if self.expected_stats is None:
            self.expected_stats = checks.d53_stats(p.data["path"])
        o = p.out
        return checks.check_corpus(
            self.expected_stats, len(self.docs), o["read_count"],
            o["curated_count"], o["stats"], o["manifest"],
        )

    def isolate(self) -> None:
        from etl_example_spark.operators.dedup import clear_staged_caches

        # a one-shot run starts with no staged artifacts; dropping them
        # lets the GC between passes free their checkpoint blocks
        clear_staged_caches()

    def layer_extras(self, p: Pass) -> dict[str, float]:
        nbytes, nfiles = tree_size(p.data["dest"])
        prefix = "sources.writers.write_training_shards"
        return {
            f"{prefix}.bytes_written": nbytes,
            f"{prefix}.files_written": nfiles,
            f"{prefix}.bytes_per_input_byte": nbytes / p.data["in_bytes"],
        }


WORKLOADS = {w.name: w for w in (Lifecycle, Corpus)}


def cleanup(p: Pass) -> None:
    for d in p.dirs:
        shutil.rmtree(d, ignore_errors=True)
