"""Untimed output checks: each returns a list of problems (empty = pass).

DuckDB is the oracle, as in the engine's own test suite. Checks run
after a pass's timed region ends and read only what the pass already
produced (counts, the shown query tables, the written manifests), so a
check never re-executes engine work.
"""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd

# The reference lifecycle replayed in DuckDB: date repair, then the
# quality delete (NULL, <= 0 or > 1,000,000 quantity).
_CURATED_SELLOUT = """
    CREATE VIEW sellout AS
    SELECT store_id, product_id,
           CAST(strptime(daily, '%Y/%m/%d') AS DATE) AS daily, quantity
    FROM sellout_raw
    WHERE quantity IS NOT NULL AND quantity > 0 AND quantity <= 1000000
"""

# The first rows each query shows, in shown order. Only columns fixed by
# the query's ORDER BY are compared: rows tied on ``unidades`` may swap,
# but the ``unidades`` sequence itself is deterministic.
_SHOWN_SQL = {
    "q1_weekly": """
        SELECT CAST(date_trunc('week', daily) AS VARCHAR), SUM(quantity)
        FROM sellout GROUP BY 1 ORDER BY 1 LIMIT {n}
    """,
    "q2_top_products": """
        SELECT SUM(s.quantity) AS u FROM sellout s JOIN products p USING (product_id)
        GROUP BY p.product_name ORDER BY u DESC LIMIT 5
    """,
    "q3_top_stores": """
        SELECT SUM(s.quantity) AS u FROM sellout s JOIN stores st USING (store_id)
        JOIN chains c USING (chain_id)
        GROUP BY c.chain_name, st.store_name ORDER BY u DESC LIMIT 5
    """,
    "q4_seasonality": """
        SELECT c.chain_name, SUM(s.quantity) AS u FROM sellout s
        JOIN stores st USING (store_id) JOIN chains c USING (chain_id)
        GROUP BY c.chain_name, dayname(s.daily) ORDER BY c.chain_name, u DESC
        LIMIT {n}
    """,
}


def _shown_rows(text: str) -> list[list[str]]:
    """Cells of a Spark ``showString`` table, header dropped."""
    rows = [
        [c.strip() for c in line.strip().strip("|").split("|")]
        for line in text.splitlines()
        if line.startswith("|")
    ]
    return rows[1:]


def _shown_key(name: str, row: list[str]) -> tuple:
    if name == "q1_weekly":  # Spark shows a timestamp, DuckDB a date
        return (row[0][:10], int(row[-1]))
    if name == "q4_seasonality":
        return (row[0], int(row[-1]))
    return (int(row[-1]),)


def lifecycle_expected(pdfs: dict[str, pd.DataFrame], show_n: int) -> dict:
    con = duckdb.connect()
    try:
        con.register("sellout_raw", pdfs["sellout"])
        for dim in ("chains", "stores", "products"):
            con.register(dim, pdfs[dim])
        con.execute(_CURATED_SELLOUT)
        pre = {name: len(pdf) for name, pdf in pdfs.items()}
        kept = con.execute("SELECT COUNT(*) FROM sellout").fetchone()[0]
        shown = {
            name: [
                tuple(int(v) if not isinstance(v, str) else v[:10] for v in r)
                for r in con.execute(sql.format(n=show_n)).fetchall()
            ]
            for name, sql in _SHOWN_SQL.items()
        }
    finally:
        con.close()
    return {
        "pre_counts": pre,
        "problematic": pre["sellout"] - kept,
        "post_counts": {**pre, "sellout": kept},
        "shown": shown,
    }


def check_lifecycle(expected: dict, result, shown: dict[str, str], backup_dir: str) -> list[str]:
    problems = []
    for key in ("pre_counts", "problematic", "post_counts"):
        got = getattr(result, key)
        if got != expected[key]:
            problems.append(f"{key}: engine {got} != oracle {expected[key]}")
    for name, want in expected["shown"].items():
        got = [_shown_key(name, r) for r in _shown_rows(shown.get(name, ""))]
        if got != want:
            problems.append(f"{name}: shown {got[:3]}... != oracle {want[:3]}...")
    with open(os.path.join(backup_dir, "_MANIFEST.json")) as fh:
        manifest = {k: v["rows"] for k, v in json.load(fh).items()}
    if manifest != expected["post_counts"]:
        problems.append(f"backup manifest {manifest} != {expected['post_counts']}")
    return problems


def d53_stats(docs_path: str) -> list[tuple]:
    """Per-language (lang, n_docs, n_tokens) of the curated corpus, from
    the registry's DuckDB twin of the whole curation chain (d53)."""
    from etl_example_spark.plans.registry import load_all

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        rows = con.execute(load_all()["d53_curation_pipeline"].oracle).fetchall()
    finally:
        con.close()
    return sorted(tuple(v if isinstance(v, str) else int(v) for v in r) for r in rows)


def check_corpus(
    expected_stats: list[tuple],
    n_docs: int,
    read_count: int,
    curated_count: int,
    stats_rows: list,
    manifest: dict[str, int],
) -> list[str]:
    problems = []
    if read_count != n_docs:
        problems.append(f"read {read_count} documents, generated {n_docs}")
    stats = sorted(tuple(r) for r in stats_rows)
    if stats != expected_stats:
        problems.append(f"corpus_stats {stats} != d53 oracle {expected_stats}")
    if sum(manifest.values()) != curated_count:
        problems.append(f"shard manifest holds {sum(manifest.values())} docs, curated {curated_count}")
    if sum(r[1] for r in stats) != curated_count:
        problems.append(f"corpus_stats sums to {sum(r[1] for r in stats)} docs, curated {curated_count}")
    return problems
