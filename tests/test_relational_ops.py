"""Operator-specific assertions beyond the differential oracle."""

from __future__ import annotations

from etl_example_spark.plans.registry import load_all


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """HLL++ estimates stay within 5% of exact (default rsd is 5%)."""
    q = load_all()["q22_approx_distinct"]
    for row in q.spark_builder(spark, sf_dir).collect():
        exact, approx = row["exact_parts"], row["approx_parts"]
        assert abs(approx - exact) <= max(0.05 * exact, 2), row


def test_broadcast_joins_planned(spark, sf_dir):
    """Dim joins must plan as BroadcastHashJoin — a sort-merge join here
    means a full shuffle of the fact table at 100 TB."""
    reg = load_all()
    for name in ("q2_top_products", "q3_top_stores", "q4_seasonality"):
        df = reg[name].spark_builder(spark, sf_dir)
        physical = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "BroadcastHashJoin" in physical, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in physical, f"{name}: unexpected SMJ"


def test_topk_plans_as_take_ordered(spark, sf_dir):
    """ORDER BY … LIMIT k must plan as TakeOrderedAndProject (per-partition
    heap + single merge), never a global sort of the full result."""
    reg = load_all()
    for name in ("q2_top_products", "q3_top_stores", "q17_topk_orders"):
        df = reg[name].spark_builder(spark, sf_dir)
        physical = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "TakeOrderedAndProject" in physical, f"{name}: global sort for top-k"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """q0's shipdate filter must reach the parquet scan (PushedFilters)."""
    df = load_all()["q0_pricing_summary"].spark_builder(spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PushedFilters: [IsNotNull(l_shipdate)" in physical or (
        "LessThanOrEqual(l_shipdate" in physical
    ), physical


def test_column_pruning(spark, sf_dir):
    """q2 reads only the 2 needed lineitem columns, not all 11."""
    df = load_all()["q2_top_products"].spark_builder(spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", physical)
    assert m, "no parquet ReadSchema in plan"
    lineitem_schema = [s for s in re.findall(r"ReadSchema: struct<([^>]*)>", physical)]
    smallest = min(lineitem_schema, key=lambda s: s.count(","))
    assert smallest.count(",") <= 2, f"scan reads too many columns: {smallest}"


class TestJoinStrategyControl:
    """Join-strategy hints reach the physical plan: the engine can force
    each join family when the optimizer's default is wrong for a known
    workload (the manual override next to AQE's automatic choices)."""

    def _physical(self, df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    def test_hints_select_join_operators(self, spark, sf_dir):
        from etl_example_spark.sources.loaders import load_table

        lineitem = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders")
        on = lineitem.l_orderkey == orders.o_orderkey

        merged = lineitem.join(orders.hint("merge"), on)
        assert "SortMergeJoin" in self._physical(merged)

        shuffled = lineitem.join(orders.hint("shuffle_hash"), on)
        assert "ShuffledHashJoin" in self._physical(shuffled)

        bcast = lineitem.join(orders.hint("broadcast"), on)
        assert "BroadcastHashJoin" in self._physical(bcast)


class TestBucketJoin:
    def test_bucket_join_has_no_exchange_before_join(self, spark, sf_dir):
        import re

        from etl_example_spark.plans.registry import load_all

        df = load_all()["q77_bucket_join"].spark_builder(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_pos = plan.find("SortMergeJoin")
        assert join_pos != -1, plan[:500]
        # the only exchange allowed is AFTER the join (final aggregate /
        # sort); nothing between the bucketed scans and the join
        below_join = plan[join_pos:]
        assert not re.search(
            r"Exchange hashpartitioning\([lo]_orderkey", below_join
        ), below_join[:800]

    def test_lineitem_overwrite_and_revert_restage(self, spark, sf_dir, tmp_path):
        """The bucketed twins are valid for the bytes they were built
        from: overwriting lineitem in-session re-stages them, and so
        does reverting it to bytes seen before (one snapshot per
        (session, sf_dir), like the bucketed BM25 index)."""
        import shutil

        from pyspark.sql import functions as F

        from etl_example_spark.plans.registry import load_all

        q77 = load_all()["q77_bucket_join"].spark_builder
        sf = tmp_path / "sf_q77"
        sf.mkdir()
        lineitem = sf / "lineitem.parquet"
        # the testdata tables are single parquet files; copy2 keeps
        # their mtimes, as restoring a backup with mv would
        backup = shutil.copy2(f"{sf_dir}/lineitem.parquet", tmp_path)
        shutil.copy2(f"{sf_dir}/orders.parquet", sf)
        shutil.copy2(backup, lineitem)
        full = spark.read.parquet(backup)

        def n_items():
            return q77(spark, str(sf)).agg(F.sum("n_items")).first()[0]

        assert n_items() == full.count()
        lineitem.unlink()
        few = full.filter(F.col("l_orderkey") % 3 == 0)
        few.coalesce(1).write.parquet(str(lineitem))
        assert n_items() == few.count(), "stale twins served after overwrite"
        shutil.rmtree(lineitem)
        shutil.copy2(backup, lineitem)
        assert n_items() == full.count(), "stale twins served after revert"
