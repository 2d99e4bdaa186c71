"""Behavioral operators: N-stage order-sensitive funnels.

An event qualifies for stage k only at-or-after the user's first
qualified stage-(k-1) event (stage 0 qualifies unconditionally). The
implementation is stacked running-max flags over ONE window partitioning
per user — stage depth adds window expressions, never exchanges or
self-joins, so the shuffle cost at 100 TB is a single user_id exchange
regardless of how long the funnel is (plan-tested in
tests/test_plan_quality.py::test_funnel_single_event_exchange).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def funnel_user_flags(
    events: DataFrame,
    stages: Sequence[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-user 0/1 completion flags ``stage_0 .. stage_{n-1}``.

    ``stage_k = 1`` iff the user has a stage-k event at-or-after their
    first qualified stage-(k-1) event (recursively). Ordering ties on
    ``ts_col`` break by ``tiebreak_col``, so a same-timestamp pair
    resolves identically on every engine and every rerun.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    df = events
    qualified: list[str] = []
    for i, ev in enumerate(stages):
        is_ev = F.when(F.col(type_col) == ev, 1).otherwise(0)
        q = is_ev if i == 0 else is_ev * F.col(f"_seen_{i - 1}")
        df = df.withColumn(f"_q_{i}", q)
        # The NEXT stage needs "first qualified stage-i happened yet";
        # the last stage's running max would be dead weight.
        if i < len(stages) - 1:
            df = df.withColumn(f"_seen_{i}", F.max(F.col(f"_q_{i}")).over(w))
        qualified.append(f"_q_{i}")
    return df.groupBy(user_col).agg(
        *[F.max(q).alias(f"stage_{i}") for i, q in enumerate(qualified)]
    )
