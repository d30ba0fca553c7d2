"""End-to-end reference lifecycle tests on synthetic dirty star-schema data,
with DuckDB as differential oracle for the 4 validation queries
(the formalization of the reference's informal checks — SURVEY §5)."""

from __future__ import annotations

import duckdb
import pytest

from etl_example_spark.operators.curation import quality_filter, repair_date_column
from etl_example_spark.plans.pipeline import run_pipeline, show_results
from etl_example_spark.plans.reference_queries import (
    REFERENCE_DATAFRAME_QUERIES,
    REFERENCE_SQL,
    run_reference_sql,
)
from etl_example_spark.schemas import REFERENCE_SCHEMAS
from etl_example_spark.fixtures import make_reference_tables
from etl_example_spark.sources.writers import backup_catalog
from tests.jobs import launched_jobs
from tests.oracle import compare_frames


@pytest.fixture(scope="module")
def ref_tables(spark):
    pdfs = make_reference_tables()
    sdfs = {
        name: spark.createDataFrame(pdf, schema=REFERENCE_SCHEMAS[name])
        for name, pdf in pdfs.items()
    }
    return pdfs, sdfs


@pytest.fixture(scope="module")
def result(spark, ref_tables):
    _, sdfs = ref_tables
    return run_pipeline(spark, sdfs)


def test_pre_counts_shape(result, ref_tables):
    pdfs, _ = ref_tables
    assert result.pre_counts == {name: len(pdf) for name, pdf in pdfs.items()}


def test_problematic_count_matches_pandas(result, ref_tables):
    pdfs, _ = ref_tables
    q = pdfs["sellout"]["quantity"]
    expected = int((q.isna() | (q <= 0) | (q > 1_000_000)).sum())
    assert result.problematic == expected
    assert result.post_counts["sellout"] == len(pdfs["sellout"]) - expected


def test_post_counts_derived_from_pre_counts(result, ref_tables):
    """Dimensions keep their pre-count; the fact loses exactly the
    problematic rows. Both dicts keep the order of ``tables``, which the
    CLI's logged counts depend on."""
    pdfs, _ = ref_tables
    assert list(result.pre_counts) == list(pdfs)
    assert list(result.post_counts) == list(pdfs)
    for name, pre in result.pre_counts.items():
        if name == "sellout":
            assert result.post_counts[name] == pre - result.problematic
        else:
            assert result.post_counts[name] == pre
    assert result.post_counts["sellout"] == result.curated.count()


def test_run_pipeline_job_budget(spark, ref_tables):
    """One count per table, the problematic count and one collect of
    each query, in one concurrent batch; post-counts launch no job. The
    counts take 10 jobs (18 when every table was counted again after
    curation) and the collects 13. q1 and q4 sort their few rows in one
    partition, so neither ORDER BY plans a range exchange with its
    sampling job (with them, run_pipeline took 27 jobs)."""
    _, sdfs = ref_tables
    with launched_jobs(spark) as jobs:
        run_pipeline(spark, sdfs)
    assert len(jobs) <= 23, f"run_pipeline launched {len(jobs)} jobs"


def _lazy_queries(tables: dict) -> dict:
    """The 4 queries as lazy frames over the curated fact, built the
    way ``run_pipeline`` builds them."""
    fact = repair_date_column(tables["sellout"], "daily", fmt="yyyy/MM/dd")
    curated = quality_filter(fact, "quantity")
    dims = {k: v for k, v in tables.items() if k != "sellout"}
    return {
        name: builder(curated, dims)
        for name, builder in REFERENCE_DATAFRAME_QUERIES.items()
    }


def _assert_results_equal_lazy(query_results: dict, tables: dict) -> None:
    lazy = _lazy_queries(tables)
    assert list(query_results) == list(lazy)
    for name, want in lazy.items():
        got = query_results[name]
        # names, types and nullability
        assert got.schema == want.schema, name
        got_rows, want_rows = got.collect(), want.collect()
        if name in ("q1_weekly", "q4_seasonality"):
            # fully ordered: row for row, so the semana timestamp and
            # the dia_semana string round-trip exactly
            assert got_rows == want_rows, name
        else:
            # top-5 under ties: the unidades multiset is fixed
            assert sorted(r["unidades"] for r in got_rows) == sorted(
                r["unidades"] for r in want_rows
            ), name


def test_query_results_equal_the_lazy_queries(result, ref_tables):
    """The executed, driver-held results are the lazy queries' answers
    over the curated fact; ``backup`` is the repaired fact and
    ``curated`` its filtered form."""
    _, sdfs = ref_tables
    assert result.problematic > 0
    _assert_results_equal_lazy(result.query_results, sdfs)
    fact = repair_date_column(sdfs["sellout"], "daily", fmt="yyyy/MM/dd")
    assert result.backup.sameSemantics(fact)
    assert result.curated.sameSemantics(quality_filter(fact, "quantity"))


def test_clean_tables_keep_curated_and_backup(spark, ref_tables):
    """With no problematic row the queries still read the filtered fact,
    which keeps every row; ``curated`` is the repaired fact itself and
    there is no backup."""
    pdfs, _ = ref_tables
    q = pdfs["sellout"]["quantity"]
    clean = pdfs["sellout"][q.notna() & (q > 0) & (q <= 1_000_000)]
    tables = {
        name: spark.createDataFrame(
            clean if name == "sellout" else pdf, schema=REFERENCE_SCHEMAS[name]
        )
        for name, pdf in pdfs.items()
    }
    res = run_pipeline(spark, tables)
    assert res.problematic == 0
    assert res.post_counts == res.pre_counts
    _assert_results_equal_lazy(res.query_results, tables)
    assert res.backup is None
    assert res.curated.sameSemantics(
        repair_date_column(tables["sellout"], "daily", fmt="yyyy/MM/dd")
    )


def test_show_results_launches_no_job(spark, result):
    """``run_pipeline`` already ran the queries; rendering them is
    driver-local."""
    with launched_jobs(spark) as jobs:
        shown = show_results(result.query_results)
    assert set(shown) == set(REFERENCE_SQL)
    assert not jobs, f"show_results launched {len(jobs)} jobs"


def test_backup_catalog_job_budget(spark, result, ref_tables, tmp_path):
    """Per table: the write (1) and the read-back count (2). The
    read-back uses the written schema, so no job infers it: 16 jobs
    when it did."""
    _, sdfs = ref_tables
    snapshot = {**sdfs, "sellout": result.curated}
    with launched_jobs(spark) as jobs:
        backup_catalog(spark, str(tmp_path), tables=snapshot, label="jobs")
    assert len(jobs) <= 12, f"backup_catalog launched {len(jobs)} jobs"


def test_duplicates_kept(result):
    """The engine must NOT deduplicate fact rows (SURVEY §1.2)."""
    curated = result.curated
    n_rows = curated.count()
    n_distinct = curated.distinct().count()
    assert n_rows > n_distinct  # injected duplicates survive curation


def test_date_repaired_to_date_type(result):
    assert dict(result.curated.dtypes)["daily"] == "date"


def test_queries_match_duckdb(spark, result, ref_tables):
    """Replay the curation + 4 queries in DuckDB over the same raw data and
    compare. DuckDB plays the role Postgres plays for the reference."""
    pdfs, _ = ref_tables
    con = duckdb.connect()
    con.register("sellout_raw", pdfs["sellout"])
    for dim in ("chains", "stores", "products"):
        con.register(dim, pdfs[dim])
    con.execute(
        """
        CREATE VIEW sellout AS
        SELECT store_id, product_id,
               CAST(strptime(daily, '%Y/%m/%d') AS DATE) AS daily,
               quantity
        FROM sellout_raw
        WHERE quantity IS NOT NULL AND quantity > 0 AND quantity <= 1000000
        """
    )
    oracle_sql = {
        # tie-broken variants of the reference queries (top-k tie order is
        # engine-unspecified; SURVEY §2.5) — same tie-break on both sides.
        "q1_weekly": """
            SELECT date_trunc('week', daily) AS semana, CAST(SUM(quantity) AS BIGINT) AS unidades
            FROM sellout GROUP BY semana ORDER BY semana
        """,
        "q2_top_products": """
            SELECT p.product_name, CAST(SUM(s.quantity) AS BIGINT) AS unidades
            FROM sellout s JOIN products p USING (product_id)
            GROUP BY p.product_name ORDER BY unidades DESC, product_name LIMIT 5
        """,
        "q3_top_stores": """
            SELECT c.chain_name, st.store_name, CAST(SUM(s.quantity) AS BIGINT) AS unidades
            FROM sellout s JOIN stores st USING (store_id)
            JOIN chains c USING (chain_id)
            GROUP BY 1, 2 ORDER BY unidades DESC, chain_name, store_name LIMIT 5
        """,
        "q4_seasonality": """
            SELECT c.chain_name, dayname(daily) AS dia_semana,
                   CAST(SUM(s.quantity) AS BIGINT) AS unidades
            FROM sellout s JOIN stores st USING (store_id)
            JOIN chains c USING (chain_id)
            GROUP BY 1, 2 ORDER BY chain_name, unidades DESC, dia_semana
        """,
    }
    from pyspark.sql import functions as F

    spark_results = {
        "q1_weekly": result.query_results["q1_weekly"],
        # re-apply deterministic tie-breaks for comparison only
        "q2_top_products": result.query_results["q2_top_products"]
        .orderBy(F.desc("unidades"), "product_name"),
        "q3_top_stores": result.query_results["q3_top_stores"]
        .orderBy(F.desc("unidades"), "chain_name", "store_name"),
        "q4_seasonality": result.query_results["q4_seasonality"],
    }
    # q2/q3 Spark results may differ from oracle within ties; compare as
    # grouped multisets of unidades instead for the k-th tie boundary.
    for name in ("q1_weekly", "q4_seasonality"):
        problems = compare_frames(
            spark_results[name].toPandas(), con.execute(oracle_sql[name]).fetchdf()
        )
        assert not problems, f"{name}: {problems}"
    for name in ("q2_top_products", "q3_top_stores"):
        spark_units = sorted(
            r["unidades"] for r in spark_results[name].collect()
        )
        oracle_units = sorted(
            r[len(r) - 1] for r in con.execute(oracle_sql[name]).fetchall()
        )
        assert spark_units == oracle_units, name


def test_sql_and_dataframe_surfaces_agree(spark, result, ref_tables):
    """REFERENCE_SQL over temp views ≡ DataFrame chains (same Catalyst plan
    family, same results)."""
    _, sdfs = ref_tables
    result.curated.createOrReplaceTempView("sellout")
    for dim in ("chains", "stores", "products"):
        sdfs[dim].createOrReplaceTempView(dim)
    sql_results = run_reference_sql(spark)
    for name in ("q1_weekly", "q4_seasonality"):  # fully-ordered outputs
        a = sql_results[name].toPandas()
        b = result.query_results[name].toPandas()
        problems = compare_frames(a, b)
        assert not problems, f"{name}: {problems}"


def test_show_results_presentation(result):
    shown = show_results(result.query_results, n=10)
    assert set(shown) == set(REFERENCE_SQL)
    for text in shown.values():
        assert "unidades" in text  # header present, 10-row table renders


def test_iso_date_fallback_casts_only_iso_dates(spark):
    """SURVEY D2/P3/P4/F5: the reference's 4-statement CASE/regex repair
    casts a value only when it matches ``^\\d{4}-\\d{2}-\\d{2}$``, else NULL."""
    import datetime

    from etl_example_spark.operators.curation import iso_date_fallback

    values = ["2024-03-01", "2024/03/01", "2024-3-1", None, "x2024-03-01", "2024-03-01 "]
    df = spark.createDataFrame([(v,) for v in values], "daily string")
    out = iso_date_fallback(df, "daily")
    assert dict(out.dtypes)["daily"] == "date"
    assert [r["daily"] for r in out.collect()] == [datetime.date(2024, 3, 1)] + [None] * 5


def test_get_existing_table_returns_the_first_existing_candidate(spark):
    """The reference's ``to_regclass`` probe: the first candidate the
    catalog knows; an invalid identifier probes as absent."""
    from etl_example_spark.operators.curation import get_existing_table

    spark.range(1).createOrReplaceTempView("probe_sellout_b")
    try:
        names = ["probe_sellout_a", "not a name!", "probe_sellout_b"]
        assert get_existing_table(spark, names) == "probe_sellout_b"
        assert get_existing_table(spark, names[:2]) is None
    finally:
        spark.catalog.dropTempView("probe_sellout_b")


@pytest.mark.parametrize(
    "schema, expected",
    [
        # a numeric candidate wins, in candidate order, not schema order
        ("amount double, qty int", "qty"),
        # a non-numeric candidate is skipped
        ("quantity string, amount bigint", "amount"),
        # no candidate: the first numeric column, in schema order
        ("store string, units int, price double", "units"),
        # no numeric column at all
        ("store string, day date", None),
    ],
    ids=["candidate_order", "non_numeric_candidate", "first_numeric", "none"],
)
def test_detect_quantity_column(spark, schema, expected):
    """SURVEY P5: the reference's ``information_schema.columns`` probe
    prefers the candidate names, else the first numeric column."""
    from etl_example_spark.operators.curation import detect_quantity_column

    assert detect_quantity_column(spark.createDataFrame([], schema)) == expected
