"""Benchmark command: one workload, one closed loop, one result line.

    python3 perfbench/run.py --workload lifecycle|corpus --seed N \\
        --seconds S --trace 0|1 [--smoke]

Run it from the root of a checkout. One caller drives the engine: the
next pass starts only after the previous one, and its check, end. The
run is: the first ``get_spark``, which launches the JVM (``setup_s``),
one first pass in that fresh JVM (per-layer ``pass.first_s``), then warm
passes until their timed walls add up to ``--seconds``, and at least
``MIN_WARM`` of them. ``BENCHMARK.json`` fixes ``--seconds``.

The shared box's speed swings by 2x and more from minute to minute, mostly
without any hypervisor steal to show for it, so a warm pass is reported
in probe units: each warm pass's wall over the mean wall of its
workload's probe (a fixed plain-Spark job, timed in the same session
right before and right after the pass), times the probe's wall on a
quiet box. ``pass_p50_s`` is the median of these over the untraced warm
passes. ``setup_s`` is the ``get_spark`` wall over the wall of the
JVM's first probe, which follows it, times that first probe's wall on a
quiet box. The other times are walls net of hypervisor steal (see
``_steal_share``).
Inputs come from ``--seed``; making them, probing, checking outputs,
deleting pass output and the Python and JVM GCs between passes all sit
outside the timed regions.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` prints the
per-layer ones: its warm passes alternate untraced and traced, and
``trace.overhead_s`` is the traced median minus the untraced one.
``peak_rss_mb``, the median over warm passes of the high-water RSS of
the Python driver plus its JVM, is among them.
``--smoke`` shrinks the inputs so the benchmark's own test runs fast.

The last line of standard output is the JSON result; the lines before
it name each metric with its unit, the box, and each pass.
"""

from __future__ import annotations

import argparse
import gc
import itertools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.trace import NullTracer, Tracer, walk  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_p50_s": "s",
}

_LIFECYCLE_LAYERS = {
    "load.create_df_s": "s",
    "plans.pipeline.run_pipeline.wall_s": "s",
    "plans.pipeline.run_pipeline.self_s": "s",
    "plans.pipeline.run_pipeline.jobs": "count",
    "plans.pipeline.run_pipeline.stages": "count",
    "operators.curation.count_problematic.wall_s": "s",
    "operators.curation.count_problematic.jobs": "count",
    **{
        f"plans.reference_queries.{q}.{stat}": unit
        for q in ("q1_weekly", "q2_top_products", "q3_top_stores", "q4_seasonality")
        for stat, unit in (("wall_s", "s"), ("jobs", "count"))
    },
    "sources.writers.backup_catalog.wall_s": "s",
    "sources.writers.backup_catalog.jobs": "count",
    "sources.writers.backup_catalog.bytes_written": "B",
    "sources.writers.backup_catalog.files_written": "count",
}
_CORPUS_LAYERS = {
    "operators.dedup.exact_dedup.wall_s": "s",
    "operators.dedup.minhash_lsh_dedup.wall_s": "s",
    "operators.dedup.minhash_lsh_dedup.jobs": "count",
    "operators.sampling.temperature_sample.wall_s": "s",
    "operators.corpus.curate_corpus.wall_s": "s",
    "operators.corpus.curate_corpus.jobs": "count",
    "operators.corpus.curate_corpus.stages": "count",
    "operators.corpus.curate_corpus.shuffle_write_bytes": "B",
    "operators.corpus.curate_corpus.spill_bytes": "B",
    "operators.corpus.corpus_stats.wall_s": "s",
    "operators.corpus.corpus_stats.jobs": "count",
    "sources.writers.write_training_shards.wall_s": "s",
    "sources.writers.write_training_shards.jobs": "count",
    "sources.writers.write_training_shards.bytes_written": "B",
    "sources.writers.write_training_shards.files_written": "count",
    "sources.writers.write_training_shards.bytes_per_input_byte": "B/B",
}
#: every workload prints every per-layer metric; a layer the workload
#: never calls reads 0
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_gc_s": "s",
    "peak_rss_mb": "MB",
    "pass.steal_share": "share",
    "pass.wall_p50_s": "s",
    "pass.probe_s": "s",
    "pass.first_s": "s",
    "pass.first.jobs": "count",
    "pass.warm.jobs": "count",
    "trace.pass_p50_s": "s",
    "trace.overhead_s": "s",
    **_LIFECYCLE_LAYERS,
    **_CORPUS_LAYERS,
}
#: span stats are named ``<span>.<stat>``; these metrics read another name
_ALIASES = {"load.create_df_s": "load.create_df.wall_s"}
_SPAN_STATS = ("wall_s", "self_s", "jobs", "stages", "shuffle_write_bytes", "spill_bytes")

#: warm passes a run makes at the least, so that ``pass_p50_s`` is a
#: median over several; a traced run alternates untraced and traced ones
#: and makes one more, to hold two of each
MIN_WARM = 3


def _parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("lifecycle", "corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    return ap.parse_args(argv)


def _sandbox(work: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    return the session conf that does it for the JVM."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = str(tmp)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs of the box so far."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


def _steal_share(ticks0: tuple[int, int]) -> float:
    """Share of the CPU time the box wanted since ``ticks0`` that the
    hypervisor gave to other guests. A wall times ``1 - share`` is about
    what the same work takes on a box of its own: on a shared VM the stolen
    share swings by tens of percent from minute to minute, and raw walls
    with it."""
    busy, stolen = (t1 - t0 for t0, t1 in zip(ticks0, _cpu_ticks()))
    return stolen / busy if busy else 0.0


def _pids() -> list[str]:
    proc = _jvm_proc()
    return ["self"] + ([str(proc.pid)] if proc is not None else [])


def _reset_peak_rss() -> None:
    for pid in _pids():
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")  # resets VmHWM to the current RSS


def _peak_rss_mb() -> float:
    """High-water RSS since the last reset, driver plus JVM."""
    kb = 0
    for pid in _pids():
        with open(f"/proc/{pid}/status") as fh:
            kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = _jvm_proc()
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM is still ours to reap
            proc.kill()
            proc.wait()


def _box(spark) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": sys.version.split()[0],
        "java": spark._jvm.System.getProperty("java.version"),
        "driver_memory": conf.get("spark.driver.memory", "1g"),
    }


def _layer_values(roots, workload, p) -> dict[str, float]:
    vals: dict[str, float] = {}
    for sp in walk(roots):
        for stat in _SPAN_STATS:
            key = f"{sp.name}.{stat}"
            vals[key] = vals.get(key, 0) + getattr(sp, stat)
    vals.update(workload.layer_extras(p))
    return vals


def _emit(line: str) -> None:
    print(line, flush=True)


def bench(args, work: Path) -> dict:
    from perfbench.workloads import WORKLOADS

    from etl_example_spark.session import get_spark

    conf = _sandbox(work)

    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    setup_wall = time.perf_counter() - t0
    setup_net = setup_wall * (1 - _steal_share(ticks0))
    _emit("box " + json.dumps(_box(spark), sort_keys=True))

    workload = WORKLOADS[args.workload](spark, str(work), args.seed, args.smoke)
    tracer = Tracer(spark) if args.trace else None
    if tracer is not None:
        workload.patch(tracer)
    tr = tracer or NullTracer()

    min_warm = MIN_WARM + bool(tracer)
    records: list[dict] = []
    failed = 0
    try:
        for i in itertools.count():
            warm = records[1:]
            if len(warm) >= min_warm and sum(r["wall"] for r in warm) >= args.seconds:
                break
            # the first pass is traced; warm passes alternate untraced/traced
            traced = tracer is not None and (i == 0 or len(warm) % 2 == 1)
            if tracer is not None:
                tracer.active = traced
            rec = _one_pass(spark, workload, i, tr if traced else NullTracer())
            rec["traced"] = traced
            failed += bool(rec["problems"])
            _emit(
                f"pass {i} wall_s={rec['wall']:.4f} net_s={rec['net']:.4f} probe_s={rec['probe']:.4f} "
                f"jvm_gc_s={rec['gc']:.3f} untimed_s={rec['untimed']:.2f} steal={rec['steal']:.3f} "
                f"rss_mb={rec['rss']:.0f} "
                f"traced={int(traced)} ok={int(not rec['problems'])}"
            )
            records.append(rec)
    finally:
        unrestored = tracer.unpatch() if tracer is not None else []
    if unrestored:
        print(f"wrapped attributes not restored: {unrestored}", file=sys.stderr)

    # a pass is scaled by the mean of the two probes around it
    probes = [r["probe"] for r in records] + [workload.probe()]
    for r, after in zip(records, probes[1:]):
        r["scaled"] = r["wall"] / ((r["probe"] + after) / 2) * workload.PROBE_REF_S
    _emit("scaled_s " + " ".join(f"{r['scaled']:.4f}" for r in records))
    values = {
        "setup_s": setup_wall / records[0]["probe"] * workload.FIRST_PROBE_REF_S,
        "pass_p50_s": statistics.median(r["scaled"] for r in records[1:] if not r["traced"]),
    }
    if tracer is not None:
        values = _per_layer(records, values, setup_net)
    _shutdown(spark)
    return {
        # a traced run also checks that every wrapped attribute came back
        "attempted": len(records) + (tracer is not None),
        "failed": failed + bool(unrestored),
        "values": values,
    }


def _one_pass(spark, workload, i: int, tr) -> dict:
    """Prepare, isolate, time, check and clean up pass ``i``."""
    from perfbench.workloads import cleanup

    u0 = time.perf_counter()
    p = workload.prepare(i)
    workload.isolate()
    gc.collect()
    spark._jvm.System.gc()
    gc0 = _jvm_gc_s(spark)
    probe = workload.probe()
    _reset_peak_rss()
    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    layers = None
    try:
        with tr.span("pass"):
            workload.run(p, tr)
        wall = time.perf_counter() - t0
        steal = _steal_share(ticks0)
        rss = _peak_rss_mb()
        gc_s = _jvm_gc_s(spark) - gc0
        problems = workload.check(p)
        if isinstance(tr, Tracer):
            layers = _layer_values(tr.collect(), workload, p)
            layers["session.jvm_gc_s"] = gc_s
            # per-layer times on the same steal-free basis as the walls
            layers = {k: v * (1 - steal) if k.endswith("_s") else v for k, v in layers.items()}
    except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
        traceback.print_exc()
        wall, gc_s, rss, steal = time.perf_counter() - t0, 0.0, 0.0, 0.0
        problems = ["raised"]
    if problems:
        print(f"pass {i} FAILED: {problems}", file=sys.stderr, flush=True)
    cleanup(p)
    untimed = time.perf_counter() - u0 - wall
    return {
        "wall": wall, "net": wall * (1 - steal), "probe": probe, "steal": steal, "gc": gc_s, "rss": rss,
        "untimed": untimed, "problems": problems, "layers": layers,
    }


def _per_layer(records: list[dict], plain: dict, setup_net: float) -> dict:
    """Every per-layer metric; a layer's is its median over the traced
    warm passes."""
    first, warm = records[0], records[1:]
    traced = [r for r in warm if r["layers"]]

    def median(key: str) -> float:
        vals = [r["layers"].get(key, 0) for r in traced]
        return statistics.median(vals) if vals else 0

    values = {name: median(_ALIASES.get(name, name)) for name in PER_LAYER}
    values["session.start_s"] = setup_net
    values["peak_rss_mb"] = statistics.median(r["rss"] for r in warm)
    values["pass.steal_share"] = statistics.median(r["steal"] for r in records)
    values["pass.wall_p50_s"] = statistics.median(r["wall"] for r in warm if not r["traced"])
    values["pass.probe_s"] = statistics.median(r["probe"] for r in warm)
    values["pass.first_s"] = first["net"]
    values["pass.first.jobs"] = (first["layers"] or {}).get("pass.jobs", 0)
    values["pass.warm.jobs"] = median("pass.jobs")
    values["trace.pass_p50_s"] = statistics.median(r["scaled"] for r in traced) if traced else 0
    values["trace.overhead_s"] = values["trace.pass_p50_s"] - plain["pass_p50_s"]
    return values


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "etl_example_spark" / "__init__.py").is_file():
        print(
            f"perfbench: no etl_example_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    os.chdir(ROOT)
    work = ROOT / ".perfbench_work" / str(os.getpid())
    try:
        out = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {n: {"value": out["values"][n], "unit": units[n]} for n in units}
    for n, m in metrics.items():
        _emit(f"metric {n} {m['value']} {m['unit']}")
    # failed_share is 0 on a good run, so it rides in ``failed`` and
    # ``attempted`` of the result rather than among its metrics
    _emit(f"metric failed_share {out['failed'] / out['attempted']} share")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
