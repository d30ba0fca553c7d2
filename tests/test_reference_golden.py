"""Golden replay against the reference's OWN data: parse the literal rows
out of /root/reference/ddl/*.sql (the reference's test dataset — used as
input only, no code is taken), run the full Spark pipeline, and assert the
exact counts and query outputs the reference publishes in its README
(README.md:20-80): load counts, 6,334 problematic rows, 94,666 survivors,
and the four golden result tables. This is the end-to-end proof that a
reference user gets identical answers from this engine."""

from __future__ import annotations

import datetime as dt
import os
import re

import pandas as pd
import pytest

from etl_example_spark.plans.pipeline import run_pipeline
from etl_example_spark.schemas import REFERENCE_SCHEMAS

REF = "/root/reference/ddl"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason=f"{os.path.dirname(REF)} absent"
)


def _read(name: str) -> str:
    with open(os.path.join(REF, name), encoding="utf-8") as fh:
        return fh.read()


def _unq(s: str) -> str:
    return s.replace("''", "'")


def _parse_reference_tables() -> dict[str, pd.DataFrame]:
    chains = pd.DataFrame(
        [
            (int(a), _unq(b))
            for a, b in re.findall(
                r"values \((\d+), '((?:[^']|'')*)'\)", _read("chains.sql")
            )
        ],
        columns=["chain_id", "chain_name"],
    )
    stores = pd.DataFrame(
        [
            (int(a), int(b), _unq(c))
            for a, b, c in re.findall(
                r"values \((\d+), (\d+), '((?:[^']|'')*)'\)",
                _read("stores.sql"),
            )
        ],
        columns=["chain_id", "store_id", "store_name"],
    )
    products = pd.DataFrame(
        [
            (int(a), _unq(b), c == "true")
            for a, b, c in re.findall(
                r"values \((\d+), '((?:[^']|'')*)', (true|false)\)",
                _read("products.sql"),
            )
        ],
        columns=["product_id", "product_name", "active"],
    )
    sellout = pd.DataFrame(
        [
            (int(a), int(b), c, int(d))
            for a, b, c, d in re.findall(
                r"\((\d+), (\d+), '(\d{4}/\d{2}/\d{2})', (-?\d+)\)",
                _read("combined_sellout.sql"),
            )
        ],
        columns=["store_id", "product_id", "daily", "quantity"],
    )
    return {
        "chains": chains,
        "stores": stores,
        "products": products,
        "sellout": sellout,
    }


@pytest.fixture(scope="module")
def golden_result(spark):
    pdfs = _parse_reference_tables()
    sdfs = {
        name: spark.createDataFrame(pdf, schema=REFERENCE_SCHEMAS[name])
        for name, pdf in pdfs.items()
    }
    return run_pipeline(spark, sdfs)


def test_golden_load_counts(golden_result):
    assert golden_result.pre_counts == {
        "chains": 10,
        "stores": 400,
        "products": 80,
        "sellout": 101_000,
    }


def test_golden_curation_counts(golden_result):
    assert golden_result.problematic == 6_334
    assert golden_result.post_counts["sellout"] == 94_666


def test_golden_q1_weekly_first10(golden_result):
    rows = golden_result.query_results["q1_weekly"].limit(10).collect()
    got = [(r.semana.date(), r.unidades) for r in rows]
    weeks = [dt.date(2021, 1, 18) + dt.timedelta(weeks=i) for i in range(10)]
    units = [2634, 4797, 4988, 5049, 4692, 4767, 4699, 5138, 4828, 4492]
    assert got == list(zip(weeks, units))


def test_golden_q2_top5_products(golden_result):
    rows = golden_result.query_results["q2_top_products"].collect()
    assert [(r.product_name, r.unidades) for r in rows] == [
        ("It Annual Nehe", 13108),
        ("Asoka Giant-trumpets", 12807),
        ("Regrant Chee Reedgrass", 12768),
        ("Sub-Ex Coville's Rush", 12704),
        ("Tampflex Splitleaf Cyanea", 12686),
    ]


def test_golden_q3_top5_stores(golden_result):
    rows = golden_result.query_results["q3_top_stores"].collect()
    assert [(r.chain_name, r.store_name, r.unidades) for r in rows] == [
        ("Feedspan", "8662 Old Shore Crossing", 3091),
        ("Aimbu", "93426 Old Gate Junction", 2843),
        ("Ailane", "91936 Havey Trail", 2834),
        ("Tazzy", "239 Pond Park", 2832),
        ("Edgeify", "4 Kings Place", 2829),
    ]


def test_golden_q4_seasonality_first10(golden_result):
    rows = golden_result.query_results["q4_seasonality"].limit(10).collect()
    assert [(r.chain_name, r.dia_semana, r.unidades) for r in rows] == [
        ("Ailane", "Monday", 16788),
        ("Ailane", "Sunday", 16505),
        ("Ailane", "Saturday", 16062),
        ("Ailane", "Thursday", 15957),
        ("Ailane", "Wednesday", 15833),
        ("Ailane", "Tuesday", 14965),
        ("Ailane", "Friday", 14810),
        ("Aimbu", "Sunday", 15883),
        ("Aimbu", "Saturday", 15876),
        ("Aimbu", "Wednesday", 15325),
    ]
