"""Physical-layout audits for the write path: partition pruning must reach
the scan, and identically-bucketed joins must plan with zero exchanges.
These are the layout guarantees the 100 TB design leans on — asserted on
the actual physical plan, not assumed."""

from __future__ import annotations

import os
import random
import re
from contextlib import contextmanager

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_example_spark.operators.sampling import shard_assign
from etl_example_spark.sources.loaders import load_table
from etl_example_spark.sources.writers import (
    write_bucketed_table,
    write_partitioned,
    write_training_shards,
)


@contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_at_scan(spark, sf_dir, tmp_path):
    lineitem = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_part")
    write_partitioned(lineitem, path, ["l_returnflag"])

    back = spark.read.parquet(path)
    # partition column round-trips; data round-trips
    assert back.count() == lineitem.count()

    pruned = back.filter(F.col("l_returnflag") == "R")
    plan = pruned.queryExecution if False else _plan(pruned)
    assert "PartitionFilters" in plan and "l_returnflag" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "filter on the partition key must prune directories"
    assert pruned.count() == lineitem.filter(F.col("l_returnflag") == "R").count()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        orders, "t_orders_b", ["o_orderkey"], num_buckets=8,
        sort_by=["o_orderkey"],
    )
    write_bucketed_table(
        lineitem, "t_lineitem_b", ["l_orderkey"], num_buckets=8,
        sort_by=["l_orderkey"],
    )
    with _conf(spark, **{"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = spark.table("t_lineitem_b").join(
            spark.table("t_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, (
            "identically-bucketed tables must join without a shuffle:\n" + plan
        )
        # and the result is still correct
        assert joined.count() == lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()


def test_bucket_pruning_single_key_lookup(spark, sf_dir):
    """Point lookups on the bucket key scan only the matching bucket."""
    if not spark.catalog.tableExists("t_orders_b"):
        write_bucketed_table(
            load_table(spark, sf_dir, "orders"),
            "t_orders_b",
            ["o_orderkey"],
            num_buckets=8,
        )
    # a lone scan has no operator that benefits, so the planner turns the
    # bucketed read off by default — force it on to audit the pruning
    with _conf(
        spark,
        **{"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"},
    ):
        df = spark.table("t_orders_b").filter(F.col("o_orderkey") == 1)
        plan = _plan(df)
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan


def test_orc_round_trip(spark, sf_dir, tmp_path):
    """ORC is the second columnar format Spark ships natively — schema
    and values must round-trip (zstd, same as the parquet path)."""
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").option("compression", "zstd").orc(path)
    back = spark.read.orc(path)
    assert back.schema == nation.schema
    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(
        map(key, nation.collect())
    )


def test_dynamic_partition_overwrite_replaces_only_touched(
    spark, sf_dir, tmp_path
):
    """Dynamic partitionOverwriteMode: an overwrite write replaces ONLY
    the partitions present in the incoming data — the incremental
    reprocess pattern (re-run one ingest day without clobbering the
    table). Static mode (the default) would truncate everything."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_dyn")
    orders.write.mode("overwrite").partitionBy("yr").parquet(path)
    total = orders.count()
    one_year = orders.filter(F.col("yr") == 1995)
    n_1995 = one_year.count()
    assert 0 < n_1995 < total
    # rewrite JUST 1995 with doubled rows, dynamic mode
    with _conf(
        spark, **{"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        one_year.unionByName(one_year).write.mode("overwrite").partitionBy(
            "yr"
        ).parquet(path)
    back = spark.read.parquet(path)
    assert back.filter(F.col("yr") == 1995).count() == 2 * n_1995
    # every other partition is untouched
    assert back.filter(F.col("yr") != 1995).count() == total - n_1995


def test_observation_metrics(spark, sf_dir):
    """df.observe: pipeline instrumentation riding the action itself —
    metrics come from the same pass as the result, no second scan."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        ),
    )
    n_rows = observed.count()
    assert obs.get["n"] == n_rows
    expect_cents = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
    ).collect()[0][0]
    assert obs.get["cents"] == expect_cents


class TestCompaction:
    def test_compacts_small_files_preserving_rows(self, spark, tmp_path):
        from etl_example_spark.sources.writers import (
            compact_small_files,
            resolve_dataset_path,
        )

        path = str(tmp_path / "landing")
        df = spark.range(10_000).selectExpr(
            "id", "id % 7 AS k", "repeat('x', 50) AS pad"
        )
        # simulate a streaming landing zone: many tiny files
        df.repartition(64).write.parquet(path)
        before = spark.read.parquet(path)
        before_rows = before.count()
        before_sum = before.agg({"id": "sum"}).collect()[0][0]

        stats = compact_small_files(
            spark, path, target_file_bytes=10 * 1024 * 1024
        )
        assert stats["files_before"] == 64
        assert stats["files_after"] == 1  # well under one target file

        assert resolve_dataset_path(path) == stats["data_dir"]
        after = spark.read.parquet(resolve_dataset_path(path))
        assert after.count() == before_rows
        assert after.agg({"id": "sum"}).collect()[0][0] == before_sum

    def test_swap_is_repoint_with_retention(self, spark, tmp_path):
        """Write-new-then-repoint: compaction writes a fresh generation
        dir and repoints `landing._CURRENT` at it, the replaced generation
        stays on disk for draining readers, and each later compaction
        repoints again and sweeps only generations older than the one it
        just replaced."""
        from etl_example_spark.sources.writers import (
            compact_small_files,
            resolve_dataset_path,
        )

        path = str(tmp_path / "landing")
        pointer = str(tmp_path / "landing._CURRENT")
        spark.range(2_000).repartition(16).write.parquet(path)

        s1 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        with open(pointer, encoding="utf-8") as fh:
            assert fh.read() == s1["data_dir"]
        assert resolve_dataset_path(path) == s1["data_dir"]
        # the replaced generation (the original dir) is retained: a
        # reader holding the old file listing still sees every row
        assert spark.read.parquet(path).count() == 2_000

        gen1 = s1["data_dir"]
        s2 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert resolve_dataset_path(path) == s2["data_dir"] != gen1
        assert os.path.isdir(gen1)  # just-replaced generation retained
        s3 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert resolve_dataset_path(path) == s3["data_dir"]
        assert os.path.isdir(s2["data_dir"])  # just-replaced, retained
        assert not os.path.isdir(gen1)  # two back: swept
        assert sorted(
            d for d in os.listdir(tmp_path) if d.startswith("landing")
        ) == sorted(
            ["landing", "landing._CURRENT"]
            + [os.path.basename(s["data_dir"]) for s in (s2, s3)]
        )
        assert (
            spark.read.parquet(resolve_dataset_path(path)).count() == 2_000
        )

    def test_pointer_publish_mode_without_symlinks(
        self, spark, tmp_path, monkeypatch
    ):
        """The publish needs no symlink: the `_CURRENT` pointer file is
        written and renamed into place, so compaction works end-to-end
        with symlink creation DISABLED, never renames the original dir,
        retains the prior generation, and sweeps older ones."""
        from etl_example_spark.sources.writers import (
            compact_small_files,
            resolve_dataset_path,
        )

        def no_symlink(*a, **k):
            raise OSError("symlinks unavailable on this filesystem")

        monkeypatch.setattr(os, "symlink", no_symlink)

        path = str(tmp_path / "landing")
        spark.range(2_000).repartition(16).write.parquet(path)

        s1 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        pointer = str(tmp_path / "landing._CURRENT")
        assert os.path.isfile(pointer)
        assert not os.path.islink(path)  # original dir never renamed
        assert resolve_dataset_path(path) == s1["data_dir"]
        assert s1["files_after"] == 1
        # readers resolve through the pointer to the compacted copy
        assert (
            spark.read.parquet(resolve_dataset_path(path)).count() == 2_000
        )
        # prior generation (the original dir) still serves old listings
        assert spark.read.parquet(path).count() == 2_000

        gen1 = s1["data_dir"]
        s2 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert resolve_dataset_path(path) == s2["data_dir"] != gen1
        assert os.path.isdir(gen1)  # just-replaced generation retained
        s3 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert resolve_dataset_path(path) == s3["data_dir"]
        assert os.path.isdir(s2["data_dir"])  # prior kept
        assert not os.path.isdir(gen1)  # two-back generation swept
        assert (
            spark.read.parquet(resolve_dataset_path(path)).count() == 2_000
        )

    def test_failed_publish_leaves_the_live_generation(
        self, spark, tmp_path, monkeypatch
    ):
        """Fault injection at the swap: when the pointer's rename raises,
        compaction raises, readers stay on the live generation with its
        rows, no temp pointer is left behind, and the next compaction
        succeeds and sweeps the generation that was never published."""
        from etl_example_spark.sources.writers import (
            compact_small_files,
            resolve_dataset_path,
        )

        path = str(tmp_path / "landing")
        spark.range(2_000).repartition(16).write.parquet(path)
        live = compact_small_files(spark, path, target_file_bytes=1 << 30)[
            "data_dir"
        ]

        def live_rows():
            df = spark.read.parquet(resolve_dataset_path(path))
            return sorted(r.id for r in df.collect())

        rows = live_rows()
        real_replace = os.replace

        def fail_once(src, dst, *a, **k):
            if str(dst).endswith("._CURRENT"):
                monkeypatch.setattr(os, "replace", real_replace)
                raise OSError("injected: pointer rename failed")
            return real_replace(src, dst, *a, **k)

        monkeypatch.setattr(os, "replace", fail_once)
        with pytest.raises(OSError, match="injected"):
            compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert resolve_dataset_path(path) == live
        assert live_rows() == rows
        assert not [
            d for d in os.listdir(tmp_path)
            if d.startswith("landing._CURRENT.")
        ]
        (orphan,) = [
            os.path.join(tmp_path, d)
            for d in os.listdir(tmp_path)
            if d.startswith("landing.gen.")
            and os.path.join(tmp_path, d) != live
        ]

        s3 = compact_small_files(spark, path, target_file_bytes=1 << 30)
        assert resolve_dataset_path(path) == s3["data_dir"]
        assert not os.path.exists(orphan)
        assert os.path.isdir(live)  # the generation it replaced
        assert live_rows() == rows

    def test_partitioned_compaction_keeps_layout(self, spark, tmp_path):
        from etl_example_spark.sources.writers import (
            compact_small_files,
            resolve_dataset_path,
        )

        path = str(tmp_path / "part")
        df = spark.range(5_000).selectExpr("id", "id % 3 AS k")
        df.repartition(32).write.partitionBy("k").parquet(path)
        stats = compact_small_files(
            spark, path, target_file_bytes=10 * 1024 * 1024, partition_col="k"
        )
        assert stats["files_after"] < stats["files_before"]
        current = resolve_dataset_path(path)
        assert current == stats["data_dir"]
        # hive-style partition dirs survive the rewrite
        assert sorted(
            d for d in os.listdir(current) if d.startswith("k=")
        ) == ["k=0", "k=1", "k=2"]
        assert spark.read.parquet(current).count() == 5_000


def test_only_stream_staging_creates_symlinks():
    """One publish primitive: a dataset generation goes live through its
    `_CURRENT` pointer (`writers.publish_generation`), never through a
    symlink swap. The one symlink left is `streaming/sources._symlink_once`,
    which links a file stream's staging dir and publishes no generation."""
    import ast
    import pathlib

    import etl_example_spark

    def names_symlink(node) -> bool:
        if isinstance(node, ast.Attribute):
            return node.attr == "symlink"
        return isinstance(node, ast.alias) and node.name == "symlink"

    root = pathlib.Path(etl_example_spark.__file__).parent
    modules = sorted(
        p.relative_to(root).as_posix()
        for p in root.rglob("*.py")
        if any(map(names_symlink, ast.walk(ast.parse(p.read_text()))))
    )
    assert modules == ["streaming/sources.py"]


class TestCatalogBackup:
    def test_backup_restore_round_trip(self, spark, sf_dir, tmp_path):
        """Whole-catalog snapshot + restore (reference sql/backup.sh
        parity): every table round-trips with identical rows, the
        manifest records counts/schemas, and restore re-registers
        views."""
        import json
        import os

        from etl_example_spark.sources.loaders import load_table
        from etl_example_spark.sources.writers import (
            backup_catalog,
            restore_catalog,
        )

        tables = {
            name: load_table(spark, sf_dir, name)
            for name in ("region", "nation", "supplier")
        }
        dest = str(tmp_path / "backups")
        backup_dir = backup_catalog(
            spark, dest, tables=tables, label="t0"
        )
        assert os.path.basename(backup_dir) == "backup_t0"
        manifest = json.load(
            open(os.path.join(backup_dir, "_MANIFEST.json"))
        )
        assert set(manifest) == set(tables)

        restored = restore_catalog(spark, backup_dir)
        for name, df in tables.items():
            assert manifest[name]["rows"] == df.count()
            assert sorted(map(tuple, restored[name].collect())) == sorted(
                map(tuple, df.collect())
            )
            # restore registers the view under the table's name
            assert spark.table(name).count() == df.count()

    def test_restore_rejects_damaged_snapshot(self, spark, sf_dir, tmp_path):
        import os

        from etl_example_spark.sources.loaders import load_table
        from etl_example_spark.sources.writers import (
            backup_catalog,
            restore_catalog,
        )

        import pytest

        backup_dir = backup_catalog(
            spark,
            str(tmp_path),
            tables={"region": load_table(spark, sf_dir, "region")},
            label="dmg",
        )
        # truncate the snapshot's table data behind the manifest's back
        region = load_table(spark, sf_dir, "region")
        region.limit(2).write.mode("overwrite").parquet(
            os.path.join(backup_dir, "region")
        )
        with pytest.raises(ValueError, match="damaged"):
            restore_catalog(spark, backup_dir)

    def test_failed_table_leaves_no_manifest(self, spark, sf_dir, tmp_path):
        """One table's write fails: the error surfaces once the other
        tables' tasks have ended, and no ``_MANIFEST.json`` is written,
        so the partial snapshot cannot be restored."""
        import os

        import pytest

        from etl_example_spark.sources.writers import (
            backup_catalog,
            restore_catalog,
        )

        tables = {
            "broken": spark.range(0, 100, 1, 4).selectExpr(
                "id", "IF(id = 97, raise_error('backup boom'), id) AS v"
            ),
            "region": load_table(spark, sf_dir, "region"),
            "nation": load_table(spark, sf_dir, "nation"),
        }
        with pytest.raises(Exception, match="backup boom"):
            backup_catalog(spark, str(tmp_path), tables=tables, label="bad")
        backup_dir = os.path.join(str(tmp_path), "backup_bad")
        assert not os.path.exists(os.path.join(backup_dir, "_MANIFEST.json"))
        for name in ("region", "nation"):
            assert os.path.exists(os.path.join(backup_dir, name, "_SUCCESS"))
        with pytest.raises(Exception, match="_MANIFEST.json"):
            restore_catalog(spark, backup_dir)


class TestPartitionPruning:
    def test_partition_filter_prunes_scan(self, spark, sf_dir, tmp_path):
        """Date-partitioned layout + partition-pruned scan: the filter on
        the partition column becomes a PartitionFilter (directory-level
        pruning, zero data read outside the month) rather than a row
        filter — the layout decision that matters most at 100 TB."""
        import re

        from pyspark.sql import functions as F

        from etl_example_spark.sources.loaders import load_table

        path = str(tmp_path / "lineitem_by_month")
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "ship_month", F.date_format("l_shipdate", "yyyy-MM")
        )
        li.write.partitionBy("ship_month").parquet(path)

        df = (
            spark.read.parquet(path)
            .filter(F.col("ship_month") == "1996-03")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("s"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "ship_month" in m.group(1), plan[:800]
        # row-level PushedFilters must NOT carry the partition predicate
        # (it is resolved at planning, against the file index)
        pf = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
        assert pf is None or "ship_month" not in pf.group(1)

        expected = (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.date_format("l_shipdate", "yyyy-MM") == "1996-03")
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("s"))
            .collect()[0]
            .s
        )
        assert df.collect()[0].s == expected


class TestSchemaEvolution:
    def test_merge_schema_on_read(self, spark, tmp_path):
        """Schema evolution at the file level: a later batch adds a
        column; mergeSchema=true reads the union schema with NULLs for
        the pre-evolution files — the append-only evolution path a
        landing zone relies on."""
        path = str(tmp_path / "evolving")
        spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(
            path, mode="append"
        )
        spark.range(5, 10).selectExpr(
            "id", "id * 2 AS a", "'new' AS b"
        ).write.parquet(path, mode="append")

        merged = spark.read.option("mergeSchema", "true").parquet(path)
        assert set(merged.columns) == {"id", "a", "b"}
        rows = {r.id: (r.a, r.b) for r in merged.collect()}
        assert rows[2] == (4, None)  # old file: evolved column is NULL
        assert rows[7] == (14, "new")
        assert len(rows) == 10


class TestTrainingShards:
    """write_training_shards: one file per shard, rows in ``doc_id``
    order inside it, a manifest that matches the written rows, and the
    shards written by more than one task."""

    N_DOCS = 300

    @pytest.fixture
    def written(self, spark, tmp_path):
        ids = list(range(self.N_DOCS))
        random.Random(7).shuffle(ids)
        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in ids], "doc_id bigint, text string"
        ).coalesce(1)
        dest = str(tmp_path / "shards")
        manifest = write_training_shards(shard_assign(docs), dest)
        files = {
            d.split("=", 1)[1]: [
                os.path.join(dest, d, f)
                for f in os.listdir(os.path.join(dest, d))
                if not f.startswith(("_", "."))
            ]
            for d in os.listdir(dest)
            if d.startswith("shard=")
        }
        return dest, manifest, files

    def test_each_shard_is_one_file(self, written):
        _, _, files = written
        assert len(files) == 16
        assert {s: len(fs) for s, fs in files.items()} == {s: 1 for s in files}

    def test_rows_in_each_shard_are_ordered_by_doc_id(self, written):
        _, _, files = written
        for (path,) in files.values():
            ids = pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
            assert ids == sorted(ids)

    def test_manifest_equals_rows_read_back(self, spark, written):
        dest, manifest, _ = written
        back = spark.read.parquet(dest)
        assert manifest == {
            str(r["shard"]): r["count"]
            for r in back.groupBy("shard").count().collect()
        }
        assert sum(manifest.values()) == back.count() == self.N_DOCS

    def test_shards_are_written_by_more_than_one_task(self, spark, written):
        """A data file's name carries the index of the task that wrote
        it; a write coalesced into one task names every file part-00000."""
        if spark.sparkContext.defaultParallelism < 2:
            pytest.skip("needs defaultParallelism > 1")
        _, _, files = written
        tasks = {
            re.match(r"part-(\d+)-", os.path.basename(path)).group(1)
            for (path,) in files.values()
        }
        assert len(tasks) > 1
