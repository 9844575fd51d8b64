"""Grouped-map pandas surface (SURVEY.md §2.11 extension) under the
oracle gate: per-group z-score normalization via ``applyInPandas``.

The grouped-map path ships whole groups through Arrow into pandas —
the escape hatch for per-group logic Spark expressions can't state.
Z-score CAN be stated as a window expression (and that's the DuckDB
oracle), which is exactly what makes this verifiable: the pandas batch
path must reproduce the closed-form result bit-for-bit (floor-scaled).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ssafynews_data_spark.registry import register
from ssafynews_data_spark.sources.readers import load_table

_OUT_SCHEMA = "event_id long, event_type string, z_q4 long"


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    import math

    import numpy as np

    # match SQL avg/stddev_samp exactly: exactly rounded sums (fsum) in
    # the two-pass formulas, not pandas' pairwise-summation .mean()/.std()
    v = pdf["value"].to_numpy(dtype=np.float64)
    n = len(v)
    mean = math.fsum(v) / n if n else 0.0
    d = v - mean
    std = math.sqrt(math.fsum(d * d) / (n - 1)) if n > 1 else 0.0
    z = d / std if std > 0 else np.zeros(n)
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"],
            "event_type": pdf["event_type"],
            "z_q4": np.floor(z * 10000).astype(np.int64),
        }
    )


@register(
    "zscore_grouped_pandas",
    oracle="""
        WITH s AS (
            SELECT event_id, event_type, value,
                   avg(value) OVER w AS m,
                   stddev_samp(value) OVER w AS sd,
                   count(*) OVER w AS n
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        )
        SELECT event_id, event_type,
               CAST(floor(CASE WHEN n > 1 AND sd > 0
                               THEN (value - m) / sd ELSE 0.0 END * 10000)
                    AS BIGINT) AS z_q4
        FROM s
    """,
    tags=("applyInPandas", "grouped-map", "U-surface"),
    bench=True,
)
def zscore_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score through applyInPandas, hash-matched against
    the window-function formulation — proves the Arrow grouped-map path
    computes exactly what the declarative plan would.

    Scale note: grouped-map materializes each group in one worker's
    memory; for unbounded groups prefer the window form (which this
    oracle uses).  The pandas body deliberately uses fsum + the
    two-pass variance so it matches SQL avg/stddev_samp semantics
    instead of pandas' pairwise summation.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(_zscore_group, _OUT_SCHEMA)


_FUNNEL_SCHEMA = (
    "user_id long, n_clicks long, n_purchases long, n_clicks_before_conv long"
)


def _cogroup_funnel(clicks: pd.DataFrame, purchases: pd.DataFrame) -> pd.DataFrame:
    """Per-user funnel from two independently-grouped frames.  Keys with
    rows on only one side arrive with the other frame EMPTY — the
    cogroup contract."""
    uid = (
        clicks["user_id"].iloc[0]
        if len(clicks)
        else purchases["user_id"].iloc[0]
    )
    n_c, n_p = len(clicks), len(purchases)
    if n_p == 0:
        before = n_c  # never converted: every click is pre-conversion
    else:
        first_p = purchases["ts"].min()
        before = int((clicks["ts"] < first_p).sum())
    return pd.DataFrame(
        {
            "user_id": [uid],
            "n_clicks": [n_c],
            "n_purchases": [n_p],
            "n_clicks_before_conv": [before],
        }
    )


@register(
    "cogroup_user_funnel",
    oracle="""
        WITH c AS (
            SELECT user_id, count(*) AS n_clicks
            FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        p AS (
            SELECT user_id, count(*) AS n_purchases, min(ts) AS first_p
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        u AS (
            SELECT coalesce(c.user_id, p.user_id) AS user_id,
                   coalesce(c.n_clicks, 0) AS n_clicks,
                   coalesce(p.n_purchases, 0) AS n_purchases,
                   p.first_p
            FROM c FULL OUTER JOIN p USING (user_id)
        ),
        b AS (
            SELECT u.user_id,
                   count(*) FILTER (e.ts < u.first_p) AS n_before
            FROM u JOIN events e
              ON e.user_id = u.user_id AND e.event_type = 'click'
            WHERE u.first_p IS NOT NULL
            GROUP BY 1
        )
        SELECT u.user_id, u.n_clicks, u.n_purchases,
               CASE WHEN u.first_p IS NULL THEN u.n_clicks
                    ELSE coalesce(b.n_before, 0) END AS n_clicks_before_conv
        FROM u LEFT JOIN b USING (user_id)
    """,
    tags=("cogroup", "applyInPandas", "funnel"),
)
def cogroup_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped grouped-map (``groupBy().cogroup().applyInPandas``) —
    the two-sided Arrow escape hatch: clicks and purchases are grouped
    independently by user and handed to pandas as aligned pairs, the
    shape for per-key logic over two streams that SQL needs multiple
    self-joins to state (here: clicks before first conversion —
    verified against exactly that multi-join oracle).

    100 TB shape: ONE co-partitioning shuffle per side on user_id, then
    per-key Arrow batches — state is bounded by the largest single key,
    not the table.  Integer outputs only, so the pandas path is
    bit-comparable."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(_cogroup_funnel, schema=_FUNNEL_SCHEMA)
    )
