"""Incremental materialized-view maintenance: keep a daily-summary table
current by recomputing ONLY the days a new batch touched — the
delta-driven-partial-recompute pattern that replaces the reference's
rebuild-the-summary-every-run (dbt full rebuild of fct_daily_summary;
plans/medallion.py mirrors it as S11).

Why touched-day recompute instead of additive delta-merge: counts and
decimal sums ARE additive, but count-distinct and min/max-under-deletion
are not — recomputing whole touched days from the base table is the
contract that stays correct for every aggregate shape, while still reading
O(touched days), not the table (the change feed names the days; the
stats-pruned ``delta_read(where=...)`` drops every file whose stats
exclude the span before Spark lists it).

Both tables are Delta tables (``sources/delta_lite.py``), named by path.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
    delta_delete_where,
    delta_merge,
    delta_read,
    delta_read_changes,
    delta_versions,
    delta_write,
)


def _daily_agg(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    return df.groupBy(day).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.sum(F.col(value_col).cast("decimal(30,6)")).cast("double").alias("sum_value"),
    )


def refresh_daily_summary(
    spark: SparkSession,
    base: str,
    summary: str,
    ts_col: str = "ts",
    value_col: str = "value",
    since_version: int | None = None,
) -> int:
    """Bring the Delta table ``summary`` (day, n_events, n_users,
    sum_value) up to date with the Delta table ``base`` and return the base
    version the summary now reflects.

    ``since_version`` None (or no existing summary) → full rebuild.
    Otherwise: the change feed of the versions after ``since_version``
    names the touched days — from every change type, so a base DELETE,
    UPDATE or MERGE recomputes the days it took rows from as well as those
    it wrote to (a base that rewrites rows needs its change feed enabled,
    ``delta_enable_cdf``) — whole touched days are re-aggregated from a
    stats-pruned span read filtered to exactly those days, and the
    recomputed day rows MERGE into the summary keyed on ``day``; a day a
    removal left with no rows is deleted from it. Includes count-distinct — correct
    because touched days recompute wholly (an additive delta-merge could
    not maintain it).
    """
    current = delta_versions(base)[-1]
    if since_version is None or not delta_versions(summary):
        delta_write(_daily_agg(delta_read(spark, base), ts_col, value_col), summary,
                    mode="overwrite")
        return current
    if current == since_version:
        return current
    changes = delta_read_changes(spark, base, since_version + 1, current)
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    seen = changes.select(
        day.alias("day"),
        F.col("_change_type").isin("delete", "update_preimage").alias("gone"),
    ).distinct().collect()
    days = sorted({r["day"] for r in seen})
    if not days:
        return current
    lo, hi = days[0], days[-1]
    span = delta_read(spark, base, where=[
        (ts_col, "between", (dt.datetime.combine(lo, dt.time.min),
                             dt.datetime.combine(hi + dt.timedelta(days=1), dt.time.min)))
    ])
    touched = span.filter(day.isin(days))
    delta_merge(_daily_agg(touched, ts_col, value_col), summary, key="day")
    if any(r["gone"] for r in seen):
        left = {r["day"] for r in touched.select(day.alias("day")).distinct().collect()}
        for d in sorted(set(days) - left):
            delta_delete_where(spark, summary, ("day", "=", d))
    return current
