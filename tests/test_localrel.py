"""local_df: literal LocalRelation frames for model-sized state.

Round-13 optimization support: serve paths and trainer loops build tiny
frames per call; ``createDataFrame`` wraps them in RDDs whose collects
and broadcast builds each schedule a Spark job. ``local_df`` renders the
same rows as VALUES SQL (a true LocalRelation). These tests pin the
contract the optimization relies on: row/type equivalence with
``createDataFrame`` on every shape the engine feeds it, the zero-job
collect fast path, and the nullability regression found during the
round (non-nullable array element types corrupted NULL handling in
expressions DERIVED from the literal — the zero-norm-vector crash)."""

import pytest

from pyspark.sql import functions as F

from etl_example_spark.functions.localrel import local_df


SHAPES = [
    ([(1, "hash"), (2, "it's"), (3, None)], "query_id int, term string"),
    ([(100, 2000)], "n_docs bigint, t_total bigint"),
    (
        [(0, [[1.5, None], None, []], [0, 1, None])],
        "j int, cvs array<array<double>>, cds array<int>",
    ),
    (
        [(None, [0.1 + 0.2, float("nan"), float("inf")])],
        "centroid_id bigint, centroid_vec array<double>",
    ),
    ([("a\\'b", True), ("c\nd", None)], "s string, b boolean"),
    ([], "a int, b string"),
    # array cells render via from_json (round-14): pin string escaping
    # (quotes, backslashes, newlines, unicode) and bool/int elements
    # through the JSON path
    (
        [(["a\\'b", "c\nd", "é✓", None], [True, None], [7, None])],
        "ts array<string>, bs array<boolean>, ns array<bigint>",
    ),
]


@pytest.mark.parametrize("rows,schema", SHAPES, ids=[s for _, s in SHAPES])
def test_rows_and_types_match_createDataFrame(spark, rows, schema):
    a = spark.createDataFrame(rows, schema)
    b = local_df(spark, rows, schema)
    assert [(f.name, f.dataType) for f in a.schema] == [
        (f.name, f.dataType) for f in b.schema
    ]
    assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect()))


def test_is_local_relation_and_collects_without_a_job(spark):
    df = local_df(
        spark, [(1, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    df.collect()
    assert len(st.getJobIdsForGroup(None) or []) == before


def test_array_elements_stay_nullable_in_derived_expressions(spark):
    """Regression: all-literal arrays typed containsNull=false leaked a
    wrongly non-nullable element type into transform()-derived arrays,
    and array_max over runtime NULLs (zero-norm cosine) then misread
    them — array_position returned 0 and the consumer crashed on index
    -1. The CAST in local_df pins containsNull=true, so NULL-producing
    lambdas over the literal behave exactly as over a
    createDataFrame-built frame."""
    packed = local_df(
        spark,
        [([[1.0, 0.0], [0.0, 1.0]], [10, 20])],
        "cvs array<array<double>>, cds array<bigint>",
    )
    row = (
        spark.range(1)
        .crossJoin(F.broadcast(packed))
        # NULL-producing lambda over the literal array
        .withColumn(
            "_ss", F.expr("transform(cvs, cv -> try_divide(cv[0], 0D))")
        )
        .select(
            F.expr("array_max(_ss)").alias("mx"),
            F.expr("array_position(_ss, array_max(_ss))").alias("p"),
        )
        .collect()[0]
    )
    assert row["mx"] is None and row["p"] is None


def test_reserved_word_and_odd_column_names(spark):
    """Round-14 (ADVICE r13): column names are backtick-quoted in the
    render, so reserved words and non-identifier names survive."""
    rows = [(1, "x", [2.0])]
    schema_pairs = [("select", "int"), ("from table", "string"),
                    ("order", "array<double>")]
    ddl = ", ".join(f"`{n}` {t}" for n, t in schema_pairs)
    df = local_df(spark, rows, ddl)
    assert df.columns == ["select", "from table", "order"]
    assert df.collect()[0][0] == 1
    empty = local_df(spark, [], ddl)
    assert empty.columns == ["select", "from table", "order"]


def test_int_outside_int64_raises_instead_of_corrupting(spark):
    """Regression (round-14, VERDICT r13 #4): CAST(<int> AS bigint) of a
    Python int past 2^63 returns NULL under ANSI-off — silent value
    corruption. local_df now refuses the SQL render for out-of-range
    ints (scalar and array-element) and the declared createDataFrame
    fallback raises a loud error instead."""
    for rows, schema in [
        ([(2**63,)], "v bigint"),
        ([(-(2**63) - 1,)], "v bigint"),
        ([([1, 2**63],)], "vs array<bigint>"),
    ]:
        with pytest.raises(Exception):
            local_df(spark, rows, schema).collect()


def test_oversize_render_falls_back_to_createDataFrame(spark, monkeypatch):
    """Round-14 (VERDICT r13 #3): a near-contract-bound model rendered
    as SQL text would be gigabytes and die in the parser. Over
    _SQL_RENDER_MAX the helper takes the declared createDataFrame
    fallback — identical rows, binary transport."""
    from etl_example_spark.functions import localrel

    rows = [(j, [[0.1 * j, float("nan")], None]) for j in range(8)]
    schema = "j int, cvs array<array<double>>"
    normal = local_df(spark, rows, schema)
    monkeypatch.setattr(localrel, "_SQL_RENDER_MAX", 8)
    fallback = local_df(spark, rows, schema)
    assert "LocalRelation" not in (
        fallback._jdf.queryExecution().optimizedPlan().toString()
    )
    assert sorted(map(repr, normal.collect())) == sorted(
        map(repr, fallback.collect())
    )


def test_unsupported_scalar_falls_back_to_createDataFrame(spark):
    import datetime

    rows = [(datetime.date(2020, 1, 2),)]
    df = local_df(spark, rows, "d date")
    assert [r["d"].isoformat() for r in df.collect()] == ["2020-01-02"]


def test_generator_rows_are_read_once_before_the_fallback(spark):
    """A generator is consumed by the render pass; the createDataFrame
    fallback must still see every row. The date in the last row forces
    the fallback only after the first rows have rendered."""
    import datetime

    values = [datetime.date(2020, 1, d) for d in (1, 2, 3)]

    def rows():
        for i, d in enumerate(values):
            yield (i, d if i == len(values) - 1 else None)

    df = local_df(spark, rows(), "i int, d date")
    assert sorted((r["i"], r["d"]) for r in df.collect()) == [
        (0, None),
        (1, None),
        (2, values[-1]),
    ]


def test_mismatched_array_element_raises_instead_of_coercing(spark):
    """An array cell renders as ``from_json(..., FAILFAST)``: a bool in
    an ``array<double>`` makes the build raise (the inline table is
    evaluated at analysis), not fall back to ``createDataFrame``, which
    rejects the row as well with its default ``verifySchema`` and would
    null the element silently without it."""
    from pyspark.errors import AnalysisException, PySparkTypeError

    rows = [(1, [True, 2.0])]
    schema = "i int, v array<double>"
    with pytest.raises(AnalysisException, match="INVALID_INLINE_TABLE"):
        local_df(spark, rows, schema)
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame(rows, schema)
    unchecked = spark.createDataFrame(rows, schema, verifySchema=False)
    assert unchecked.collect()[0]["v"] == [None, 2.0]
