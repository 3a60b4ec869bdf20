"""Tests of the benchmark's own pieces. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys
from datetime import datetime

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import pipeline_wl  # noqa: E402
from harness import materialize, tail  # noqa: E402
from spans import Tracer, union_length  # noqa: E402
from sparkstats import plan_counts  # noqa: E402


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_inputs_follow_the_seed(tmp_path):
    rows = datagen.write_tables(str(tmp_path / "a"), 0.001, 5)
    datagen.write_tables(str(tmp_path / "b"), 0.001, 5)
    datagen.write_tables(str(tmp_path / "c"), 0.001, 6)
    assert rows["lineitem"] == 6000 and rows["documents"] == 50
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_self_time_subtracts_covered_child_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    t = Tracer(True)
    with t.span("outer", "w/0/x") as outer:
        pass
    outer.start, outer.end = 0.0, 10.0
    for s, e in [(1.0, 4.0), (3.0, 5.0)]:  # overlapping children (pool threads)
        with t.span("child", parent=outer) as c:
            pass
        c.start, c.end = s, e
    st = t.self_times()
    assert st["outer"] == pytest.approx(6.0)
    assert st["child"] == pytest.approx(5.0)
    assert Tracer(False).spans == []


def test_tail_has_ten_samples_beyond_it():
    durs = list(range(100))
    assert tail(durs) == 89
    assert sum(d > tail(durs) for d in durs) == 10


def test_plan_counts_read_node_headers():
    plan = "\n".join([
        "(1) Scan parquet", "(2) Exchange", "(3) Sort", "(4) BroadcastExchange",
        "(5) MapInArrow", "(6) ArrowEvalPython", "(7) SortMergeJoin", "(8) MapInPandas",
    ])
    assert plan_counts(plan) == {"exchanges": 1, "broadcasts": 1, "sorts": 1, "python_evals": 3}


def test_ingest_requires_its_day_join_and_week_jobs():
    req = pipeline_wl.required_jobs([("a", datetime(2024, 1, 9, 5)), ("b", datetime(2024, 1, 9, 7))])
    assert req == {"day_a@2024-01-09T00:00:00", "day_b@2024-01-09T00:00:00",
                   "day_join@2024-01-09T00:00:00", "week@2024-01-08T00:00:00"}


def _last_plan(spark) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    return execs.apply(execs.length() - 1).physicalPlanDescription()


def test_timed_action_keeps_the_aggregates_count_prunes(tmp_path):
    """q_agg_group under count() drops its sum/avg expressions; the
    benchmark's noop write must compute them."""
    from builder_spark.registry import load_all
    from builder_spark.session import get_spark

    data = str(tmp_path / "data")
    datagen.write_tables(data, 0.001, 1)
    spark = get_spark("perfbench-tests")
    fn = load_all()["q_agg_group"].fn
    fn(spark, data).count()
    counted = _last_plan(spark)
    materialize(fn(spark, data))
    timed = _last_plan(spark)
    for agg in ("sum(l_quantity", "avg(l_discount"):
        assert agg in timed
        assert agg not in counted
