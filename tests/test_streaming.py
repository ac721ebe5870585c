"""Structured Streaming tests: stream output == batch output on the same
static input (the kappa-parity property), and exactly-once streaming MERGE."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import delta_read
from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
    read_file_stream,
    run_to_memory,
    sessionize,
    stream_merge_into,
    windowed_counts,
)


def _event_stream(spark, sf_dir):
    # readStream needs a fixed schema: probe the batch reader's ts dtype and
    # mirror _events()'s per-encoding normalisation (see queries._events).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_dtype = dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"]
    raw = read_file_stream(
        spark,
        sf_dir,
        schema=f"event_id long, ts {ts_dtype}, user_id long, event_type string, value double, props string",
        options={"pathGlobFilter": "events.parquet"},
    )
    if ts_dtype == "bigint":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_dtype != "timestamp":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def _event_batch(spark, sf_dir):
    from lakehouse_architecture_for_realestatedata_spark.queries import _events

    return _events(spark, sf_dir)


def test_stream_equals_batch_tumbling(spark, sf_dir):
    stream = windowed_counts(_event_stream(spark, sf_dir), streaming=True)
    q = run_to_memory(stream, "tumbling_out")
    try:
        got = sorted(map(tuple, spark.sql("SELECT * FROM tumbling_out").collect()))
        want = sorted(
            map(tuple, windowed_counts(_event_batch(spark, sf_dir), streaming=False).collect())
        )
        assert got == want
    finally:
        q.stop()


def test_stream_equals_batch_sessions(spark, sf_dir):
    stream = sessionize(_event_stream(spark, sf_dir), streaming=True)
    q = run_to_memory(stream, "sessions_out")
    try:
        got = sorted(map(tuple, spark.sql("SELECT * FROM sessions_out").collect()))
        want = sorted(
            map(tuple, sessionize(_event_batch(spark, sf_dir), streaming=False).collect())
        )
        assert got == want
    finally:
        q.stop()


def test_stream_equals_batch_sliding(spark, sf_dir):
    stream = windowed_counts(_event_stream(spark, sf_dir), streaming=True, slide="3 hours")
    q = run_to_memory(stream, "sliding_out")
    try:
        got = sorted(map(tuple, spark.sql("SELECT * FROM sliding_out").collect()))
        want = sorted(
            map(
                tuple,
                windowed_counts(
                    _event_batch(spark, sf_dir), streaming=False, slide="3 hours"
                ).collect(),
            )
        )
        assert got == want
    finally:
        q.stop()


def test_stream_dedup_exact_keys(spark, sf_dir):
    """Streaming dedup: key set equals batch distinct keys (which duplicate
    row wins is arrival-order-dependent; the key-set contract is the stable
    one)."""
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import stream_dedup_exact

    stream = stream_dedup_exact(_event_stream(spark, sf_dir), ["user_id"])
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    q.processAllAvailable()
    try:
        got = {r["user_id"] for r in spark.sql("SELECT user_id FROM dedup_out").collect()}
        want = {r["user_id"] for r in _event_batch(spark, sf_dir).select("user_id").distinct().collect()}
        assert got == want
    finally:
        q.stop()


def test_stateful_running_totals_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState: split the input into 3 files streamed one per
    micro-batch, so per-user state must SURVIVE batch boundaries; the last
    update per user (max n_events — monotone) must equal the batch aggregate."""
    from pyspark.sql import Window

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import running_user_totals

    batch = _event_batch(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    src_dir = str(tmp_path / "event_files")
    batch.withColumn("part", F.pmod("event_id", F.lit(3))).repartition(3, "part").drop(
        "part"
    ).write.parquet(src_dir)

    raw = read_file_stream(
        spark,
        src_dir,
        schema="event_id long, user_id long, ts timestamp, value double",
        max_files_per_trigger=1,
    )
    q = run_to_memory(running_user_totals(raw), "running_out", output_mode="update")
    try:
        w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
        final = (
            spark.sql("SELECT * FROM running_out")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        got = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in final.collect()}
        want = {
            r["user_id"]: (r["n_events"], r["sum_value"])
            for r in running_user_totals(batch, streaming=False).collect()
        }
        assert set(got) == set(want)
        for uid, (n, s) in want.items():
            gn, gs = got[uid]
            assert gn == n, (uid, gn, n)
            assert abs(gs - s) < 1e-6 * max(1.0, abs(s)), (uid, gs, s)
    finally:
        q.stop()


def test_stream_merge_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch MERGE ingest: dedup within batch, upsert by key, and a
    re-run with the same checkpoint ingests nothing new (exactly-once)."""
    from lakehouse_architecture_for_realestatedata_spark.operators.dedup import dedup_latest

    table = str(tmp_path / "events_table")
    ckpt = str(tmp_path / "ckpt")

    def latest_per_user(df):
        return dedup_latest(df, "user_id", [F.col("ts").desc(), F.col("event_id").desc()])

    stream_merge_into(_event_stream(spark, sf_dir), table, "user_id", ckpt, latest_per_user)
    out = delta_read(spark, table)
    n_users = out.count()
    assert n_users == out.select("user_id").distinct().count()  # PK unique

    # equals the batch dedup result
    want = latest_per_user(_event_batch(spark, sf_dir)).count()
    assert n_users == want

    # second run, same checkpoint: no new files → no change
    stream_merge_into(_event_stream(spark, sf_dir), table, "user_id", ckpt, latest_per_user)
    assert delta_read(spark, table).count() == n_users


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    """Click→purchase attribution as a live stream-stream join: identical
    output to the batch twin on the same static input."""
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import interval_join

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
        )
        return clicks, purchases

    sc, sp = sides(_event_stream(spark, sf_dir))
    stream = interval_join(sc, sp, "user_id", "c_ts", "p_ts", upper="6 hours")
    q = run_to_memory(stream, "sj_out", output_mode="append")
    try:
        got = sorted(map(tuple, spark.sql("SELECT * FROM sj_out").collect()))
        bc, bp = sides(_event_batch(spark, sf_dir))
        want = sorted(
            map(
                tuple,
                interval_join(
                    bc, bp, "user_id", "c_ts", "p_ts", upper="6 hours", streaming=False
                ).collect(),
            )
        )
        assert got == want and len(want) > 0
    finally:
        q.stop()


def test_stream_dedup_within_watermark_keys(spark, sf_dir):
    """dropDuplicatesWithinWatermark twin: key set equals batch distinct keys
    on a bounded replay (same contract as stream_dedup_exact — the two
    streaming semantics differ only for duplicates arriving later than the
    watermark, which a bounded file replay never produces)."""
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_dedup_within_watermark,
    )

    stream = stream_dedup_within_watermark(_event_stream(spark, sf_dir), ["user_id"])
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm_out")
        .start()
    )
    q.processAllAvailable()
    try:
        got = {r["user_id"] for r in spark.sql("SELECT user_id FROM dedup_wm_out").collect()}
        want = {
            r["user_id"]
            for r in _event_batch(spark, sf_dir).select("user_id").distinct().collect()
        }
        assert got == want
    finally:
        q.stop()


def test_stream_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Stateful streaming funnel: replay the events in three ts-ordered
    files (in-order-per-user delivery, the operator's contract) — the final
    per-user state must EXACTLY equal the batch funnel_reached walk."""
    from pyspark.sql import Window, functions as F

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_funnel_reached,
    )

    stages = ["view", "click", "purchase"]
    batch = _event_batch(spark, sf_dir).select("user_id", "ts", "event_type")
    # three chronological chunks -> one micro-batch each, in event-time order
    ordered = batch.orderBy("ts")
    n = ordered.count()
    rows = ordered.collect()
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = (
        stream_funnel_reached(stream, stages)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_live")
        .start()
    )
    q.processAllAvailable()
    try:
        got_rows = spark.sql(
            "SELECT user_id, reached, n_seen FROM funnel_live"
        ).collect()
    finally:
        q.stop()
    latest = {}
    for r in got_rows:
        if r["user_id"] not in latest or r["n_seen"] > latest[r["user_id"]][1]:
            latest[r["user_id"]] = (tuple(r["reached"]), r["n_seen"])
    got = {
        u: tuple(x for x in reached)
        for u, (reached, _) in latest.items()
        if reached[0] != -1  # batch twin only emits users who entered the funnel
    }
    want_rows = stream_funnel_reached(batch, stages, streaming=False).collect()
    to_us = lambda t: int(t.timestamp() * 1_000_000) if t is not None else -1
    want = {r["user_id"]: tuple(to_us(t) for t in r["reached"]) for r in want_rows}
    assert got == want and len(want) > 0


def test_stream_transitions_match_batch(spark, sf_dir, tmp_path):
    """Stateful streaming transition pairs: three (ts, event_id)-ordered
    replay files — the union of emitted pairs, aggregated, must equal the
    batch event_transitions matrix."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_event_transitions,
    )

    batch = _event_batch(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    rows = batch.orderBy("ts", "event_id").collect()
    n = len(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = (
        stream_event_transitions(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_live")
        .start()
    )
    q.processAllAvailable()
    try:
        got = {
            (r["from_stage"], r["to_stage"]): r["n"]
            for r in spark.sql(
                "SELECT from_stage, to_stage, count(*) AS n FROM trans_live "
                "GROUP BY 1, 2"
            ).collect()
        }
    finally:
        q.stop()
    want = {
        (r["from_stage"], r["to_stage"]): r["n"]
        for r in stream_event_transitions(batch, streaming=False).collect()
    }
    assert got == want and len(want) > 0


def test_stream_stateful_string_key_and_raw_pairs_twin(spark, sf_dir, tmp_path):
    """ADVICE r5: the stateful operators must derive the output key field
    (name AND type) from ``user_col`` — a string-keyed rename must work end
    to end — and ``stream_event_transitions(streaming=False,
    raw_pairs=True)`` must be the schema-identical batch twin of the
    streaming pair rows."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_event_transitions,
        stream_funnel_reached,
    )

    batch = (
        _event_batch(spark, sf_dir)
        .select(
            F.concat(F.lit("u"), F.col("user_id")).alias("visitor"),
            "ts",
            "event_id",
            "event_type",
        )
    )
    batch.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "src"))
    stream = spark.readStream.schema(batch.schema).parquet(str(tmp_path / "src"))

    q = (
        stream_funnel_reached(stream, ["view", "click", "purchase"], user_col="visitor")
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_strkey")
        .start()
    )
    q.processAllAvailable()
    try:
        got = spark.sql("SELECT * FROM funnel_strkey")
        assert got.schema["visitor"].dataType.simpleString() == "string"
        assert got.count() > 0
    finally:
        q.stop()

    q2 = (
        stream_event_transitions(stream, user_col="visitor")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_strkey")
        .start()
    )
    q2.processAllAvailable()
    try:
        live = spark.sql("SELECT * FROM trans_strkey")
        twin = stream_event_transitions(
            batch, user_col="visitor", streaming=False, raw_pairs=True
        )
        assert live.schema == twin.schema  # drop-in schema twin
        assert sorted(map(tuple, live.collect())) == sorted(map(tuple, twin.collect()))
    finally:
        q2.stop()

    with __import__("pytest").raises(ValueError, match="grouping-key type"):
        stream_funnel_reached(
            batch.withColumn("visitor", F.array(F.lit(1))),
            ["view", "click"],
            user_col="visitor",
        )


def test_stream_funnel_within_matches_batch(spark, sf_dir, tmp_path):
    """Stateful conversion-window funnel: three ts-ordered replay files —
    the final per-user level must EXACTLY equal the batch max-anchor DP."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_funnel_levels_within,
    )

    stages = ["view", "click", "purchase"]
    batch = _event_batch(spark, sf_dir).select("user_id", "ts", "event_type")
    rows = batch.orderBy("ts").collect()
    n = len(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = (
        stream_funnel_levels_within(stream, stages, window_seconds=3600)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_win_live")
        .start()
    )
    q.processAllAvailable()
    try:
        got = {
            r["user_id"]: r["level"]
            for r in spark.sql(
                "SELECT user_id, max_by(level, n_seen) AS level "
                "FROM funnel_win_live GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()
    want = {
        r["user_id"]: r["level"]
        for r in stream_funnel_levels_within(
            batch, stages, window_seconds=3600, streaming=False
        ).collect()
    }
    assert got == want and len(want) > 0 and max(want.values()) >= 2


def test_stream_sessionize_capped_matches_batch(spark, sf_dir, tmp_path):
    """Capped sessionization twin (VERDICT r6 #5): three ts-ordered replay
    files — the final (user, start, end, n) rows per (session, span) must
    EXACTLY equal the batch operator's sessions."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_sessionize_capped,
    )

    # distinct (user, ts): makes the per-user event order total, the same
    # determinism precondition the batch operator's `tiebreak` arg covers
    batch = (
        _event_batch(spark, sf_dir)
        .select("user_id", "ts")
        .filter(F.col("user_id").isNotNull())
        .distinct()
    )
    rows = batch.orderBy("ts", "user_id").collect()
    n = len(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = (
        stream_sessionize_capped(stream, gap_minutes=30, max_minutes=60)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("capped_sessions_live")
        .start()
    )
    q.processAllAvailable()
    try:
        got = sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT user_id, max_by(session_start_us, n_events) AS s, "
                    "max_by(session_end_us, n_events) AS e, max(n_events) AS n "
                    "FROM capped_sessions_live GROUP BY user_id, session_id, span"
                ).collect(),
            )
        )
    finally:
        q.stop()
    want = sorted(
        map(
            tuple,
            stream_sessionize_capped(
                batch, gap_minutes=30, max_minutes=60, streaming=False
            ).collect(),
        )
    )
    assert got == want
    assert len(want) > 0
    # the fixture genuinely exercises both mechanisms
    multi_span_or_sess = spark.sql(
        "SELECT count(DISTINCT session_id, span) AS c FROM capped_sessions_live"
    ).collect()[0]["c"]
    assert multi_span_or_sess > len(
        {r[0] for r in want}
    ), "every user produced a single session: gap/cap never fired"


def test_stream_heavy_hitters_guarantee(spark, sf_dir, tmp_path):
    """Sharded streaming Misra-Gries: after a 3-file replay, every true
    heavy key survives in its shard's final candidate row, its emitted
    count is a lower bound short by at most n_seen_shard/(capacity+1),
    and state stayed bounded (<= capacity entries per shard)."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_heavy_hitters,
    )

    capacity, n_shards = 16, 4
    batch = (
        _event_batch(spark, sf_dir)
        .select("user_id", "ts")
        .filter(F.col("user_id").isNotNull())
    )
    rows = batch.orderBy("ts", "user_id").collect()
    n = len(rows)
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        chunk = rows[i * n // 3 : (i + 1) * n // 3]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    q = (
        stream_heavy_hitters(stream, "user_id", capacity=capacity, n_shards=n_shards)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_live")
        .start()
    )
    q.processAllAvailable()
    try:
        finals = spark.sql(
            "SELECT shard, max_by(keys, n_seen) AS keys, "
            "max_by(lbs, n_seen) AS lbs, max(n_seen) AS n_seen "
            "FROM hh_live GROUP BY shard"
        ).collect()
    finally:
        q.stop()
    true_counts = {
        str(r["user_id"]): r["n"]
        for r in batch.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    shard_of = {
        str(r["user_id"]): r["s"]
        for r in batch.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.pmod(F.xxhash64(F.col("user_id").cast("string")), F.lit(n_shards)).alias("s"),
        )
        .collect()
    }
    by_shard = {r["shard"]: r for r in finals}
    assert sum(len(r["keys"]) for r in finals) <= n_shards * capacity
    checked_heavy = 0
    for k, true_n in true_counts.items():
        srow = by_shard.get(shard_of[k])
        assert srow is not None
        slack = srow["n_seen"] / (capacity + 1)
        if true_n > slack:  # MG guarantee: must survive
            assert k in list(srow["keys"]), (k, true_n, slack)
            checked_heavy += 1
        if k in list(srow["keys"]):
            lb = srow["lbs"][list(srow["keys"]).index(k)]
            assert lb <= true_n <= lb + slack, (k, lb, true_n, slack)
    assert checked_heavy > 0, "fixture produced no shard-heavy keys"


def test_stream_cms_rollup_equals_batch(spark, tmp_path):
    """Streaming CMS maintenance: three micro-batches of cell-wise counter
    merges end at EXACTLY the sketch a single batch build produces over the
    full history (additivity = streaming-native), and point estimates never
    undercount."""
    from lakehouse_architecture_for_realestatedata_spark.functions.sketches import (
        cms_build,
        cms_estimate,
    )
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import stream_cms_rollup

    rows = [
        ("w1", i % 7) for i in range(40)
    ] + [
        ("w2", i % 11) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "week string, user_id int")
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        df.filter(F.pmod(F.col("user_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    table = str(tmp_path / "sketch")
    stream_cms_rollup(
        stream,
        table,
        checkpoint=str(tmp_path / "ckpt"),
        key_col="user_id",
        group_col="week",
        depth=4,
        width=64,
    )
    direct = cms_build(df, "user_id", depth=4, width=64, group_cols=["week"])
    assert sorted(map(tuple, delta_read(spark, table).collect())) == sorted(
        map(tuple, direct.collect())
    )
    probes = df.distinct().select("week", "user_id")
    est = {
        (r["week"], r["user_id"]): r["est"]
        for r in cms_estimate(
            delta_read(spark, table), probes, "user_id", depth=4, width=64, group_cols=["week"]
        ).collect()
    }
    true = {
        (r["week"], r["user_id"]): r["n"]
        for r in df.groupBy("week", "user_id").agg(F.count("*").alias("n")).collect()
    }
    for k, t in true.items():
        assert est[(k[0], str(k[1]))] >= t


def test_stream_qsketch_rollup_equals_batch(spark, tmp_path):
    """Streaming quantile-sketch maintenance: three micro-batches of
    additive bin merges end at EXACTLY the sketch a single batch build
    produces over the full history, so quantile read-outs off the
    maintained table match the batch path bit-for-bit."""
    from lakehouse_architecture_for_realestatedata_spark.functions.sketches import (
        qsketch_build,
        qsketch_quantiles,
    )
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_qsketch_rollup,
    )

    rows = [("w1", float(3 * i % 97)) for i in range(60)] + [
        ("w2", float(5 * i % 53)) for i in range(45)
    ]
    df = spark.createDataFrame(rows, "week string, value double")
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        df.filter(F.pmod(F.col("value").cast("int"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    table = str(tmp_path / "qsketch")
    stream_qsketch_rollup(
        stream,
        table,
        checkpoint=str(tmp_path / "ckpt"),
        value_col="value",
        group_col="week",
        lo=0.0,
        width=4.0,
        nbins=32,
    )
    direct = qsketch_build(df, "value", 0.0, 4.0, 32, group_cols=["week"])
    assert sorted(map(tuple, delta_read(spark, table).collect())) == sorted(
        map(tuple, direct.collect())
    )
    got = sorted(
        map(
            tuple,
            qsketch_quantiles(
                delta_read(spark, table), [0.5, 0.9], 0.0, 4.0, group_cols=["week"]
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            qsketch_quantiles(direct, [0.5, 0.9], 0.0, 4.0, group_cols=["week"]).collect(),
        )
    )
    assert got == want


def test_stream_ivf_upsert_equals_batch_upsert(spark, sf_dir, tmp_path):
    """Streaming IVF maintenance: micro-batched upserts end at the same
    (vec_id -> cell) assignment set as one batch upsert of the full
    history, and the probe path retrieves a vector that arrived via the
    stream."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.operators.similarity import (
        ivf_assign,
        ivf_knn,
        ivf_load,
        ivf_persist,
        ivf_upsert,
    )
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_ivf_upsert,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 300)
    batch = emb.filter(F.col("vec_id") >= 300)

    for variant in ("stream", "batch"):
        a, c = ivf_assign(base, "vec_id", "embedding", n_cells=8)
        ivf_persist(a, c, str(tmp_path / variant))

    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        batch.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    stream_ivf_upsert(stream, str(tmp_path / "stream"), str(tmp_path / "ckpt"))
    ivf_upsert(batch, str(tmp_path / "batch"))

    sa, sc = ivf_load(spark, str(tmp_path / "stream"))
    ba, bc = ivf_load(spark, str(tmp_path / "batch"))
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], str(r["cell"])) for r in df.select("vec_id", "cell").collect()
    )
    assert key(sa) == key(ba)
    queries = emb.filter(F.col("vec_id") == 301)
    res = ivf_knn(sa, sc, queries, "vec_id", "embedding", k=5, n_probe=8)
    assert res.count() > 0


def test_stream_delta_append_epoch_atomic(spark, sf_dir, tmp_path):
    """Streaming sink into an open-protocol Delta table: each micro-batch
    commits one log version (epoch-atomic appends a foreign Delta reader
    can tail), the final snapshot equals the batch content, and a re-run
    with the same checkpoint appends nothing new."""
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_read,
        delta_versions,
    )
    from lakehouse_architecture_for_realestatedata_spark.streaming.ingest import (
        stream_delta_append,
    )

    batch = _event_batch(spark, sf_dir).select("event_id", "user_id", "event_type")
    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    path = str(tmp_path / "delta_out")
    ckpt = str(tmp_path / "ckpt")
    stream_delta_append(stream, path, ckpt)
    got = delta_read(spark, path)
    assert got.count() == batch.count()
    assert sorted(got.columns) == sorted(batch.columns)
    n_versions = len(delta_versions(path))
    assert n_versions >= 1  # one commit per completed epoch
    # same checkpoint, no new files: no new log version
    stream2 = spark.readStream.schema(batch.schema).parquet(src)
    stream_delta_append(stream2, path, ckpt)
    assert len(delta_versions(path)) == n_versions
    assert delta_read(spark, path).count() == batch.count()
