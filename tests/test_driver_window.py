"""The driver window: the first 50 of ``__spark_entry__.queries()`` are the
ones the external driver checks each round, ordered from the committed
``CORRECTNESS_r*.json`` files (rule in the ``__spark_entry__`` docstring)."""

from __future__ import annotations

import __spark_entry__ as entry
from etl_example_spark.plans.registry import load_all

WINDOW = 50


def test_window_rotates_away_from_the_newest_round():
    window = list(entry.queries())[:WINDOW]
    checked = entry.checked_rounds()
    ever = set().union(*checked.values())
    newest = set(checked[max(checked)])

    assert tuple(window[: len(entry.SENTINELS)]) == entry.SENTINELS
    assert {n for n in load_all() if n not in ever} <= set(window)
    assert set(window) & newest == set(entry.SENTINELS)


def test_recording_a_window_moves_it_to_the_back():
    sentinels = list(entry.SENTINELS)
    others = [f"x{i}" for i in range(12)]
    names = others[:3] + sentinels + others[3:]
    history = {1: others[:6] + sentinels, 2: others[6:9] + sentinels}

    order = entry.window_order(names, history)
    assert order == sentinels + others[9:] + others[:9]

    window = order[:10]
    history[3] = window
    moved = [n for n in names if n in window and n not in sentinels]
    rest = entry.window_order(names, history)[len(sentinels):]
    assert rest[-len(moved):] == moved  # registration order within a round
    assert rest[: -len(moved)] == [n for n in order if n not in window]


def test_queries_and_oracles_keep_their_keys_and_share_one_order():
    registry = load_all()
    names = list(entry.queries())
    oracles = list(entry.oracle_sql())

    assert len(names) == 283 and set(names) == set(registry)
    assert len(oracles) == 276
    assert set(oracles) == {n for n, q in registry.items() if q.oracle}
    assert oracles == [n for n in names if n in set(oracles)]
