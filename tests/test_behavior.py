"""Semantic unit tests for the behavioral operators (funnel ordering,
transition probabilities, mix-resample exactness) on crafted
micro-datasets where the right answer is checkable by hand."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401  (populates the registry)
from glamira_batch_processing_spark.operators.behavior import funnel_user_flags
from glamira_batch_processing_spark.plans.registry import QUERIES
from tests.conftest import SF_SMALL


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (eid, dt.datetime(2024, 1, 1, 0, 0, sec), uid, etype)
            for eid, (uid, sec, etype) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def test_funnel_order_sensitivity(spark):
    """A click BEFORE the first view must not count; a purchase counts
    only at-or-after a qualified click."""
    e = _events(
        spark,
        [
            # user 1: view -> click -> purchase (full funnel)
            (1, 1, "view"), (1, 2, "click"), (1, 3, "purchase"),
            # user 2: click -> view -> purchase (click unqualified, and
            # with no qualified click the purchase is unqualified too)
            (2, 1, "click"), (2, 2, "view"), (2, 3, "purchase"),
            # user 3: view only
            (3, 1, "view"),
            # user 4: view -> purchase -> click (purchase precedes the
            # qualified click, so stage 3 is NOT reached)
            (4, 1, "view"), (4, 2, "purchase"), (4, 3, "click"),
        ],
    )
    flags = {
        r.user_id: (r.stage_0, r.stage_1, r.stage_2)
        for r in funnel_user_flags(e, ["view", "click", "purchase"]).collect()
    }
    assert flags == {
        1: (1, 1, 1),
        2: (1, 0, 0),
        3: (1, 0, 0),
        4: (1, 1, 0),
    }


def test_funnel_same_timestamp_tiebreak(spark):
    """Equal timestamps order by event_id: a click whose event_id sorts
    after the same-instant view qualifies; one sorting before does not."""
    e = _events(
        spark,
        [
            (1, 5, "view"),   # event_id 0
            (1, 5, "click"),  # event_id 1 -> after the view: qualifies
            (2, 5, "click"),  # event_id 2
            (2, 5, "view"),   # event_id 3 -> click sorted first: no
        ],
    )
    flags = {
        r.user_id: (r.stage_0, r.stage_1)
        for r in funnel_user_flags(e, ["view", "click"]).collect()
    }
    assert flags == {1: (1, 1), 2: (1, 0)}


def test_transition_probabilities_sum_to_one(spark):
    df = QUERIES["event_transition_matrix"](spark, SF_SMALL)
    sums = (
        df.groupBy("from_type")
        .agg(F.sum("p_transition").alias("p"), F.sum("n").alias("n"))
        .collect()
    )
    assert sums, "no transitions found"
    for r in sums:
        assert abs(r.p - 1.0) < 1e-9, f"{r.from_type}: sum(p)={r.p}"


def test_mix_resample_hits_exact_target_ratio(spark):
    rows = QUERIES["mix_resample_sources"](spark, SF_SMALL).collect()
    assert rows
    weights = {
        r.source: (2 if r.source in {"src0", "src1", "src2", "src3", "src4"} else 1)
        for r in rows
    }
    units = {r.source: r.n_kept / weights[r.source] for r in rows}
    # every source keeps exactly weight * units docs for ONE shared units
    assert len({int(u) for u in units.values()}) == 1
    for r in rows:
        assert r.n_kept <= r.n_docs
        assert r.min_kept_doc is not None and r.max_kept_doc is not None


def test_winsorize_bounds_cover_98pct(spark):
    rows = QUERIES["winsorize_outlier_counts"](spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.p01 <= r.p99
        # percentile_disc guarantees <=1% strictly below p01 / above p99
        assert r.n_below <= r.n_total * 0.01 + 1
        assert r.n_above <= r.n_total * 0.01 + 1
