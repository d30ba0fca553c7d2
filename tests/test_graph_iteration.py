"""Iterative-graph discipline assertions (round-14, VERDICT r13 #7).

The graph family's cost model is jobs ∝ iteration depth with
checkpoint-pinned frontiers. These tests make that mechanical:
(1) the label-propagation kernel's FINAL plan is flat — its size does
not grow with iteration count (the localCheckpoint per round truncates
lineage; without it the plan doubles every iteration, the classic
iterative-algorithm failure), and (2) each extra propagation round
costs a BOUNDED number of Spark jobs (one join+aggregate pass plus the
convergence count — not a re-execution of prior rounds).
"""

from __future__ import annotations

from etl_example_spark.operators.dedup import dedup_clusters
from tests.jobs import launched_jobs


def _chain_pairs(spark, n):
    """A path graph 0-1-2-...-n: diameter n, so min-label propagation
    needs ~n rounds to converge."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )


def _run(spark, n):
    # counted by job id, not as a difference of the status store's job
    # list: the store keeps only the last spark.ui.retainedJobs jobs and
    # evicts 100 at a time, which can make that difference negative
    with launched_jobs(spark) as jobs:
        df = dedup_clusters(_chain_pairs(spark, n))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        rows = {r["doc_id"]: r["cluster_id"] for r in df.collect()}
    return plan, len(jobs), rows


def test_final_plan_is_flat_across_iteration_depths(spark):
    plan_shallow, _, rows_shallow = _run(spark, 2)
    plan_deep, _, rows_deep = _run(spark, 8)
    # correctness: one component, min label 0
    assert set(rows_shallow.values()) == {0}
    assert set(rows_deep.values()) == {0}
    # flat plan: the checkpointed label table is the plan, so depth must
    # not grow it (allow slack for cosmetic id/statistics differences)
    assert len(plan_deep) < 2 * len(plan_shallow), (
        f"plan grew with iterations: {len(plan_shallow)} -> "
        f"{len(plan_deep)} chars"
    )


def test_jobs_per_iteration_bounded(spark):
    _, jobs_shallow, _ = _run(spark, 2)
    _, jobs_deep, _ = _run(spark, 8)
    extra_rounds = 8 - 2
    per_round = (jobs_deep - jobs_shallow) / extra_rounds
    # one propagation round = the staged-checkpoint plan (its ~3
    # semantic shuffles each surface as an AQE stage job) + the narrow
    # convergence probe — measured 9.0/round after the round-14
    # fold-the-convergence-check-into-the-checkpoint change (12.0
    # before it); anything near re-execution of prior rounds blows
    # straight past this bound
    assert per_round <= 10, (
        f"{per_round:.1f} jobs per extra round "
        f"({jobs_shallow} at depth 2, {jobs_deep} at depth 8)"
    )
