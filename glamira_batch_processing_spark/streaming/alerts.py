"""Exactly-once threshold alerting on a checkpointed stream.

The operational-alerting shape the reference's audit layer implies
(orphan/null-rate thresholds, `Modelling/.../audit_*.sql`): per user,
keep a running spend total in GroupState and emit ONE alert row the
first time it crosses the threshold — never again, no matter how much
later spend arrives or how often the stream restarts (both facts live
in the checkpointed state).

Scale posture: state is two scalars per active user key; each
micro-batch touches only keys with new events (Arrow-batched, no
per-row Python dispatch beyond the grouped pandas frames).
"""

from __future__ import annotations

ALERT_OUTPUT_SCHEMA = "user_id bigint, total double, crossed_at_total double"


def _cents(series):
    """Exact integer cents of a pandas double series (floor(v*100+0.5),
    the warehouse money rule)."""
    import numpy as np

    return np.floor(series.to_numpy() * 100.0 + 0.5).astype("int64")


def _cents_scalar(v: float) -> int:
    import math

    return int(math.floor(v * 100.0 + 0.5))


def spend_alerts_legacy(grouped, threshold: float = 100.0):
    """Wire the alert onto a stream grouped by user_id, on the GroupState
    API (applyInPandasWithState). The running total is exact integer
    cents: a double accumulator drifts with event count, so a long-lived
    key would cross the threshold at the wrong event."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        total_c, alerted = state.get if state.exists else (0, False)
        for pdf in pdfs:
            total_c += int(_cents(pdf["value"]).sum())
        rows = []
        if not alerted and total_c >= _cents_scalar(threshold):
            alerted = True
            rows.append((int(user_id), total_c / 100.0, total_c / 100.0))
        state.update((total_c, alerted))
        yield pd.DataFrame(
            rows, columns=["user_id", "total", "crossed_at_total"]
        )

    return grouped.applyInPandasWithState(
        fn,
        ALERT_OUTPUT_SCHEMA,
        "total_cents bigint, alerted boolean",
        "append",
        GroupStateTimeout.NoTimeout,
    )
