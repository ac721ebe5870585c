"""Incremental materialized-view maintenance: touched-day recompute
correctness, the no-change fast path, and change-feed day discovery,
over Delta tables."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.plans.mviews import refresh_daily_summary
from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
    delta_delete_where,
    delta_enable_cdf,
    delta_merge,
    delta_read,
    delta_versions,
    delta_write,
)


def _ev(spark, rows):
    return spark.createDataFrame(rows, "ts timestamp, user_id long, value double")


def _t(s):
    return dt.datetime.fromisoformat(s)


def test_incremental_equals_full_and_untouched_days_keep(spark, tmp_path):
    base, summary = str(tmp_path / "base"), str(tmp_path / "sum")
    b1 = _ev(
        spark,
        [
            (_t("2024-01-01 10:00:00"), 1, 1.0),
            (_t("2024-01-01 11:00:00"), 2, 2.0),
            (_t("2024-01-02 10:00:00"), 1, 3.0),
        ],
    )
    delta_write(b1, base, mode="overwrite")
    v1 = refresh_daily_summary(spark, base, summary)
    # batch 2 touches Jan 2 (late data) and adds Jan 3
    b2 = _ev(
        spark,
        [
            (_t("2024-01-02 23:00:00"), 3, 10.0),
            (_t("2024-01-03 10:00:00"), 1, 5.0),
        ],
    )
    delta_write(b2, base)
    v2 = refresh_daily_summary(spark, base, summary, since_version=v1)
    got = {
        str(r["day"]): (r["n_events"], r["n_users"], r["sum_value"])
        for r in delta_read(spark, summary).collect()
    }
    assert got == {
        "2024-01-01": (2, 2, 3.0),
        "2024-01-02": (2, 2, 13.0),  # recomputed whole day incl. old row
        "2024-01-03": (1, 1, 5.0),
    }
    # no-change fast path: version unchanged, no new summary version
    sv = delta_versions(summary)
    assert refresh_daily_summary(spark, base, summary, since_version=v2) == v2
    assert delta_versions(summary) == sv


def test_incremental_matches_full_rebuild(spark, tmp_path):
    import random

    rng = random.Random(5)
    rows = [
        (
            _t("2024-01-01 00:00:00") + dt.timedelta(hours=rng.randint(0, 200)),
            rng.randint(1, 20),
            float(rng.randint(1, 100)),
        )
        for _ in range(300)
    ]
    base, summary = str(tmp_path / "base"), str(tmp_path / "sum")
    cut = _t("2024-01-05 00:00:00")
    delta_write(_ev(spark, [r for r in rows if r[0] < cut]), base, mode="overwrite")
    v1 = refresh_daily_summary(spark, base, summary)
    delta_write(_ev(spark, [r for r in rows if r[0] >= cut]), base)
    refresh_daily_summary(spark, base, summary, since_version=v1)
    assert _rows(spark, summary) == _full(spark, base, tmp_path)


def _rows(spark, path):
    return sorted(map(tuple, delta_read(spark, path).collect()))


def _full(spark, base, tmp_path):
    """The summary a one-shot rebuild of ``base`` gives."""
    full = str(tmp_path / f"full_{len(delta_versions(base))}")
    refresh_daily_summary(spark, base, full)
    return _rows(spark, full)


def test_base_delete_and_merge_recompute_their_days(spark, tmp_path):
    """A base DELETE or MERGE between two refreshes rewrites rows, not
    only adds them: the refresh recomputes every day the change feed names,
    the days rows left as well as the days they went to, and drops a day
    left with no rows. Each refresh equals a full rebuild."""
    base, summary = str(tmp_path / "base"), str(tmp_path / "sum")
    delta_write(
        _ev(spark, [
            (_t("2024-01-01 10:00:00"), 1, 1.0),
            (_t("2024-01-01 11:00:00"), 2, 2.0),
            (_t("2024-01-02 10:00:00"), 1, 3.0),
            (_t("2024-01-03 10:00:00"), 3, 4.0),
        ]),
        base, mode="overwrite",
    )
    delta_enable_cdf(spark, base)
    v = refresh_daily_summary(spark, base, summary)
    delta_delete_where(spark, base, ("user_id", "=", 2))
    delta_delete_where(spark, base, ("ts", ">=", _t("2024-01-03 00:00:00")))
    v = refresh_daily_summary(spark, base, summary, since_version=v)
    assert _rows(spark, summary) == _full(spark, base, tmp_path)
    assert [r[0] for r in _rows(spark, summary)] == [dt.date(2024, 1, 1), dt.date(2024, 1, 2)]
    # user 1's Jan 2 event moves to Jan 4, user 5 is new on Jan 1
    moved = spark.createDataFrame(
        [(_t("2024-01-04 09:00:00"), 1, 7.0, 3.0), (_t("2024-01-01 12:00:00"), 5, 1.0, 9.0)],
        "ts timestamp, user_id long, value double, key double",
    )
    delta_write(
        delta_read(spark, base).withColumn("key", F.col("value")), base,
        mode="overwrite",
    )
    v = refresh_daily_summary(spark, base, summary, since_version=v)
    delta_merge(moved, base, key="key")
    refresh_daily_summary(spark, base, summary, since_version=v)
    assert _rows(spark, summary) == _full(spark, base, tmp_path)
    assert [r[0] for r in _rows(spark, summary)] == [
        dt.date(2024, 1, 1), dt.date(2024, 1, 4)
    ]


def test_stream_drives_incremental_summary(spark, tmp_path):
    """Three micro-batches through the streaming sink: the final summary
    equals the one-shot aggregate of everything ingested."""
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_refresh_daily_summary,
    )

    rows = [
        (_t("2024-01-01 10:00:00"), 1, 1.0),
        (_t("2024-01-01 12:00:00"), 2, 2.0),
        (_t("2024-01-02 10:00:00"), 1, 4.0),
        (_t("2024-01-02 11:00:00"), 3, 8.0),
        (_t("2024-01-03 10:00:00"), 2, 16.0),
        (_t("2024-01-04 10:00:00"), 1, 32.0),
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        _ev(spark, rows[i * 2 : i * 2 + 2]).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"f{i}")
        )
    schema = _ev(spark, rows[:1]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    base, summary = str(tmp_path / "base"), str(tmp_path / "sum")
    stream_refresh_daily_summary(
        stream, base, summary, checkpoint=str(tmp_path / "ckpt")
    )
    assert _rows(spark, summary) == _full(spark, base, tmp_path)
    assert delta_read(spark, base).count() == 6
