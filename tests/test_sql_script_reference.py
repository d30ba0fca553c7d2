"""S1-S4 parity on the reference's OWN scripts: the SQL-script runner must
execute `/root/reference/ddl/*.sql` end-to-end (DROP CASCADE compat,
single-row-INSERT batching, the 101,000-row multi-row INSERT, the stray
trailing `;;`) and land the exact published load counts."""

from __future__ import annotations

import os

import pytest

from etl_example_spark.sources.sql_script import (
    _coalesce_single_inserts,
    run_sql_script,
    split_sql_statements,
)

REF = "/root/reference/ddl"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason=f"{os.path.dirname(REF)} absent"
)

EXPECTED_COUNTS = {
    "chains": 10,
    "stores": 400,
    "products": 80,
    "sellout": 101_000,
}


def test_reference_ddl_scripts_execute(spark):
    for table in EXPECTED_COUNTS:
        # other tests register same-named TEMP views (which shadow catalog
        # tables for spark.table) — clear them so we read what DDL created
        spark.catalog.dropTempView(table)
    for table, expected in EXPECTED_COUNTS.items():
        fname = "combined_sellout.sql" if table == "sellout" else f"{table}.sql"
        result = run_sql_script(spark, os.path.join(REF, fname))
        assert result.executed >= 2  # DROP + CREATE + insert batch(es)
        assert spark.table(table).count() == expected, table
    # apostrophe-escaped product name survived the splitter + coalescer
    names = {
        r.product_name
        for r in spark.table("products")
        .filter("product_id = 5")
        .collect()
    }
    assert names == {"Cardify Cooper's Lipfern"}


def test_coalescer_groups_only_adjacent_same_target():
    stmts = [
        "INSERT INTO a (x) VALUES (1)",
        "INSERT INTO a (x) VALUES (2)",
        "INSERT INTO b (y) VALUES (3)",
        "INSERT INTO a (x) VALUES (4)",
        "SELECT 1",
    ]
    out = _coalesce_single_inserts(stmts)
    assert out == [
        "INSERT INTO a (x) VALUES (1), (2)",
        "INSERT INTO b (y) VALUES (3)",
        "INSERT INTO a (x) VALUES (4)",
        "SELECT 1",
    ]


def test_skip_matches_error_condition_not_message_text(spark):
    """An unrelated failure whose MESSAGE merely mentions a skip code must
    still raise — classification is by structured error condition. Here the
    missing table is literally named TABLE_OR_VIEW_ALREADY_EXISTS, so the
    NOT_FOUND error's message contains the skip string."""
    with pytest.raises(Exception):
        run_sql_script(
            spark,
            "SELECT * FROM TABLE_OR_VIEW_ALREADY_EXISTS",
            is_path=False,
        )


def test_skip_by_condition_still_skips_real_duplicates(spark):
    run_sql_script(
        spark, "CREATE TABLE skip_dup_t (x INT) USING parquet", is_path=False
    )
    try:
        result = run_sql_script(
            spark,
            "CREATE TABLE skip_dup_t (x INT) USING parquet",
            is_path=False,
        )
        assert result.skipped == 1
    finally:
        run_sql_script(spark, "DROP TABLE IF EXISTS skip_dup_t", is_path=False)


def test_splitter_tolerates_trailing_double_semicolon():
    assert split_sql_statements("SELECT 1;;") == ["SELECT 1"]
    # semicolons inside string literals don't split
    assert split_sql_statements("INSERT INTO t VALUES ('a;b');") == [
        "INSERT INTO t VALUES ('a;b')"
    ]
