"""The ``format("delta_lite")`` Python Data Source (sources/delta_source.py):
batch reads (schema from the log, partition restore, column mapping, time
travel options), pushFilters file pruning, the task-write/driver-commit
batch writer, and the log-tailing Structured Streaming source — all driven
through Spark's own format registry, exactly as the reference stack calls
Delta (load_bronze_to_table.py:158)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
    delta_optimize,
    delta_read,
    delta_write,
)
from lakehouse_architecture_for_realestatedata_spark.sources.delta_source import (
    DeltaLiteDataSource,
    _DeltaLiteReader,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(DeltaLiteDataSource)


def _batches(spark, t, n=400, step=100):
    base = spark.range(0, n).select(
        F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") * 2.0).alias("v")
    )
    for lo in range(0, n, step):
        delta_write(
            base.filter((F.col("id") >= lo) & (F.col("id") < lo + step)).coalesce(1),
            t,
            mode="append",
        )


def test_format_batch_read_matches_delta_read(spark, tmp_path):
    t = str(tmp_path / "t")
    _batches(spark, t)
    got = spark.read.format("delta_lite").load(t)
    ref = delta_read(spark, t)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in ref.schema
    ]
    assert got.count() == 400
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0
    # filters are re-applied by Spark even though the reader prunes files
    assert got.filter("id >= 150 and id < 250").count() == 100
    assert got.filter(F.col("k") == 2).count() == 80


def test_format_time_travel_options(spark, tmp_path):
    t = str(tmp_path / "tt")
    _batches(spark, t, n=200, step=100)
    assert spark.read.format("delta_lite").option("version", 0).load(t).count() == 100
    with pytest.raises(Exception):
        spark.read.format("delta_lite").option("version", 0).option(
            "timestampMillis", 1
        ).load(t).count()


def test_push_filters_prune_partitions_unit(spark, tmp_path):
    """Unit pin on the pruning itself: the reader plans one partition per
    active file, and pushed range filters drop files whose stats prove
    them empty — while every filter is handed back to Spark."""
    t = str(tmp_path / "pf")
    _batches(spark, t)  # 4 files, disjoint id ranges
    r = _DeltaLiteReader(t, None, delta_read(spark, t).schema)
    assert len(r.partitions()) == 4
    filters = [GreaterThanOrEqual(("id",), 150), LessThan(("id",), 250)]
    unsupported = list(r.pushFilters(filters))
    assert unsupported == filters  # row-level filtering stays Spark's job
    assert len(r.partitions()) == 2  # [100,200) and [200,300) survive
    r2 = _DeltaLiteReader(t, None, delta_read(spark, t).schema)
    list(r2.pushFilters([EqualTo(("id",), 399)]))
    assert len(r2.partitions()) == 1


def test_format_reads_partitioned_and_column_restored(spark, tmp_path):
    t = str(tmp_path / "pz")
    df = spark.createDataFrame(
        [(1, "north", 1.0), (2, "south", 2.0), (3, None, 3.0)],
        "id bigint, zone string, price double",
    )
    delta_write(df, t, partition_by=["zone"])
    got = spark.read.format("delta_lite").load(t)
    assert dict(got.dtypes)["zone"] == "string"
    assert sorted(
        (r["id"], r["zone"]) for r in got.collect()
    ) == [(1, "north"), (2, "south"), (3, None)]


def test_format_write_append_overwrite_and_stats(spark, tmp_path):
    t = str(tmp_path / "w")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    df.write.format("delta_lite").mode("append").save(t)
    df.limit(20).write.format("delta_lite").mode("append").save(t)
    assert delta_read(spark, t).count() == 120
    df.limit(5).write.format("delta_lite").mode("overwrite").save(t)
    assert delta_read(spark, t).count() == 5
    assert delta_read(spark, t, version=1).count() == 120  # time travel intact
    log = os.path.join(t, "_delta_log")
    adds = [
        json.loads(l)["add"]
        for f in sorted(os.listdir(log))
        if f.endswith(".json")
        for l in open(os.path.join(log, f))
        if '"add"' in l
    ]
    assert adds and all(a.get("stats") for a in adds)  # skipping stats ride along
    # format writes interop with the function reader's skipping
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_matching_files,
    )

    assert len(delta_matching_files(spark, t, [("id", "<", 0)])) == 0


def test_format_write_refuses_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "wp")
    df = spark.createDataFrame([(1, "a")], "id bigint, zone string")
    delta_write(df, t, partition_by=["zone"])
    with pytest.raises(Exception, match="unpartitioned"):
        df.write.format("delta_lite").mode("append").save(t)


def test_stream_source_snapshot_start_then_tails_log(spark, tmp_path):
    """readStream over the log (Delta's streaming-source contract): the
    first batch is the CURRENT SNAPSHOT (pre-stream history — including
    an OPTIMIZE rewrite — arrives as its net result, no duplicates); a
    MID-STREAM data-changing remove fails the resumed stream unless
    ignoreChanges, which then delivers only the commit's adds."""

    def run(src, dst, ckpt, **opts):
        reader = spark.readStream.format("delta_lite")
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load(src)
            .writeStream.format("delta_lite")
            .option("txnAppId", "tail-test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(dst)
        )
        q.awaitTermination(120)

    t, dst, ckpt = str(tmp_path / "s"), str(tmp_path / "d"), str(tmp_path / "c")
    _batches(spark, t, n=200, step=100)
    delta_optimize(spark, t, n_files=1)  # pre-stream rewrite: invisible
    run(t, dst, ckpt)
    got = delta_read(spark, dst)
    assert got.count() == 200  # snapshot, not 200 + optimize duplicates
    assert got.groupBy("k").count().filter("count != 40").count() == 0
    # a mid-stream data-changing overwrite fails the resumed stream...
    delta_write(
        spark.range(0, 3).select(
            F.col("id"), (F.col("id") % 5).alias("k"), (F.col("id") * 2.0).alias("v")
        ),
        t,
        mode="overwrite",
    )
    with pytest.raises(Exception, match="ignoreChanges"):
        run(t, dst, ckpt)
    # ...and with ignoreChanges the resume ships exactly the new adds
    run(t, dst, ckpt, ignoreChanges="true")
    assert delta_read(spark, dst).count() == 203


def test_format_reads_column_mapped_table(spark, tmp_path):
    """The format front door resolves column mapping like delta_read: the
    reference-bronze fixture (physical parquet names + physicalName
    annotations, minReaderVersion 2) reads back under logical names."""
    from lakehouse_architecture_for_realestatedata_spark.queries_cdc import (
        _write_colmap_bronze,
    )

    t = str(tmp_path / "cm")
    _write_colmap_bronze(spark, t)
    got = spark.read.format("delta_lite").load(t)
    ref = delta_read(spark, t)
    assert got.columns == ref.columns  # logical (Vietnamese) names
    assert got.count() == ref.count() > 0
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def test_stream_sink_exactly_once_via_txn(spark, tmp_path):
    """writeStream.format('delta_lite') with txnAppId: epochs commit with
    txn watermarks; a delta->delta pipe resumed from its checkpoint ships
    exactly the new source rows, and a REPLAYED epoch (the recovery case
    Structured Streaming guarantees to re-run) is detected and skipped."""
    import pyarrow as pa

    from lakehouse_architecture_for_realestatedata_spark.sources import (
        delta_source as dsrc,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_txn_version,
    )

    src, dst, ckpt = (
        str(tmp_path / "src"),
        str(tmp_path / "dst"),
        str(tmp_path / "ck"),
    )
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    delta_write(df, src)
    for _ in range(2):  # second run: resume from checkpoint, nothing new
        q = (
            spark.readStream.format("delta_lite")
            .load(src)
            .writeStream.format("delta_lite")
            .option("txnAppId", "pipe1")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(dst)
        )
        q.awaitTermination(120)
    assert delta_read(spark, dst).count() == 100
    delta_write(
        spark.range(100, 130).select(F.col("id"), (F.col("id") * 2).alias("v")),
        src,
        mode="append",
    )
    q = (
        spark.readStream.format("delta_lite")
        .load(src)
        .writeStream.format("delta_lite")
        .option("txnAppId", "pipe1")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(dst)
    )
    q.awaitTermination(120)
    assert delta_read(spark, dst).count() == 130  # exactly the appended rows
    # replayed epoch via the writer API: skipped, files cleaned up
    last = delta_txn_version(dst, "pipe1")
    assert last >= 0
    w = dsrc._DeltaLiteStreamWriter(dst, delta_read(spark, dst).schema, "pipe1")
    batch = pa.record_batch(
        {"id": pa.array([999], pa.int64()), "v": pa.array([1], pa.int64())}
    )
    w.commit([dsrc._write_task_parquet(dst, iter([batch]))], batchId=last)
    assert delta_read(spark, dst).count() == 130
    assert delta_txn_version(dst, "pipe1") == last
    # a FRESH epoch commits normally
    w.commit([dsrc._write_task_parquet(dst, iter([batch]))], batchId=last + 1)
    assert delta_read(spark, dst).count() == 131


def test_txn_watermark_survives_checkpoint(spark, tmp_path):
    """Log cleanup must not resurrect committed epochs: the parquet
    checkpoint carries txn watermarks, so a replay from the checkpoint
    alone still knows the appId's highest version."""
    import pyarrow as pa

    from lakehouse_architecture_for_realestatedata_spark.sources import (
        delta_source as dsrc,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _write_checkpoint,
        delta_txn_version,
    )

    t = str(tmp_path / "tx")
    delta_write(
        spark.createDataFrame([(1,)], "id bigint"), t
    )
    w = dsrc._DeltaLiteStreamWriter(t, delta_read(spark, t).schema, "app")
    batch = pa.record_batch({"id": pa.array([2], pa.int64())})
    for epoch in range(3):
        w.commit([dsrc._write_task_parquet(t, iter([batch]))], batchId=epoch)
    _write_checkpoint(spark, t, 3)
    log = os.path.join(t, "_delta_log")
    for v in range(3):
        os.unlink(os.path.join(log, f"{v:020d}.json"))
    assert delta_txn_version(t, "app") == 2
    # the replayed-epoch guard still holds after cleanup
    w.commit([dsrc._write_task_parquet(t, iter([batch]))], batchId=2)
    assert delta_read(spark, t).count() == 4  # 1 + 3 epochs, no duplicate


def test_update_where_prunes_files(spark, tmp_path):
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_update_where,
    )

    t = str(tmp_path / "up")
    df = spark.range(0, 100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    for lo in (0, 50):
        delta_write(
            df.filter((F.col("id") >= lo) & (F.col("id") < lo + 50)).coalesce(1),
            t,
            mode="append",
        )
    v = delta_update_where(
        spark, t, {"v": F.lit(-5).cast("bigint")}, ("id", "between", (60, 64))
    )
    got = delta_read(spark, t)
    assert got.filter("v = -5").count() == 5
    assert got.filter("id = 10").collect()[0]["v"] == 20  # untouched rows intact
    acts = [
        json.loads(l)
        for l in open(os.path.join(t, "_delta_log", f"{v:020d}.json"))
    ]
    assert len([a for a in acts if "remove" in a]) == 1  # only [50,100) rewritten
    with pytest.raises(ValueError, match="unknown columns"):
        delta_update_where(spark, t, {"nope": F.lit(1)}, ("id", "=", 1))
    # a predicate the stats prove empty is a no-op
    assert delta_update_where(spark, t, {"v": F.lit(0)}, ("id", ">", 10**9)) == v


def test_format_write_reconciles_schema_with_table(spark, tmp_path):
    """The format batch writer runs Delta's schema contract (ADVICE r9):
    an append with an extra column is REFUSED unless mergeSchema widens
    the table via a metaData action; an overwrite whose written schema
    changed rewrites schemaString so declared schema and data agree."""
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _replay,
    )

    t = str(tmp_path / "reconcile")
    spark.range(0, 10).select("id").write.format("delta_lite").mode(
        "append"
    ).save(t)
    wide = spark.range(10, 15).select("id", (F.col("id") * 2).alias("v"))
    # extra column without mergeSchema → refused before any task runs
    with pytest.raises(Exception, match="new columns"):
        wide.write.format("delta_lite").mode("append").save(t)
    # type conflict → refused
    with pytest.raises(Exception, match="type conflicts"):
        spark.range(0, 3).select(F.col("id").cast("int").alias("id")).write.format(
            "delta_lite"
        ).mode("append").save(t)
    # mergeSchema widens: metaData action in the commit, old rows read NULL
    wide.write.format("delta_lite").option("mergeSchema", "true").mode(
        "append"
    ).save(t)
    got = spark.read.format("delta_lite").load(t)
    assert set(got.columns) == {"id", "v"}
    assert got.filter("v IS NULL").count() == 10 and got.count() == 15
    # overwrite with a different schema replaces schemaString
    spark.range(0, 4).select(F.col("id").alias("renamed")).write.format(
        "delta_lite"
    ).mode("overwrite").save(t)
    snap = _replay(t, None)
    assert [f.name for f in snap.schema.fields] == ["renamed"]
    assert spark.read.format("delta_lite").load(t).columns == ["renamed"]


def test_stream_sink_refuses_schema_drift(spark, tmp_path):
    """The streaming sink must never commit epochs whose extra columns no
    reader can see: a stream whose schema adds a column over the existing
    table is refused at sink construction (ADVICE r9)."""
    import tempfile

    t = str(tmp_path / "driftsink")
    spark.range(0, 5).select(F.col("id").alias("value")).write.format(
        "delta_lite"
    ).mode("append").save(t)
    src = str(tmp_path / "src")
    spark.range(0, 3).select(
        F.col("id").alias("value"), F.lit("x").alias("extra")
    ).write.format("delta_lite").mode("append").save(src)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            spark.readStream.format("delta_lite")
            .load(src)
            .writeStream.format("delta_lite")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(t)
        )
        with pytest.raises(Exception, match="new columns"):
            q.awaitTermination()
            q.processAllAvailable()


def test_format_read_applies_deletion_vectors(spark, tmp_path):
    """format('delta_lite') batch reads must apply deletion vectors like
    delta_read does — the Arrow path masks each file by parquet row index
    before projection, so a DV'd table never resurrects deleted rows
    through the compatibility surface."""
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _claim_version,
        _write_dv_file,
    )

    t = str(tmp_path / "dvfmt")
    spark.range(0, 10).select("id").coalesce(1).sortWithinPartitions(
        "id"
    ).write.format("delta_lite").mode("append").save(t)
    acts = [
        json.loads(l)
        for l in open(os.path.join(t, "_delta_log", f"{0:020d}.json"))
    ]
    add0 = next(a["add"] for a in acts if "add" in a)
    desc = _write_dv_file(t, [2, 5])
    v1 = [
        {"commitInfo": {"timestamp": 1, "operation": "DELETE",
                        "operationParameters": {}, "engineInfo": "test"}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"remove": {"path": add0["path"], "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": add0 | {"deletionVector": desc}},
    ]
    _claim_version(
        os.path.join(t, "_delta_log"), 1,
        "\n".join(json.dumps(a) for a in v1) + "\n",
    )
    got = spark.read.format("delta_lite").load(t)
    assert sorted(r["id"] for r in got.collect()) == [0, 1, 3, 4, 6, 7, 8, 9]
    # pushed filter still applies the DV after file pruning
    assert sorted(
        r["id"]
        for r in spark.read.format("delta_lite").load(t).filter("id <= 5").collect()
    ) == [0, 1, 3, 4]


def test_stream_source_reads_column_mapped_table(spark, tmp_path):
    """readStream.format('delta_lite') over a COLUMN-MAPPED table (the
    reference's bronze layout): the snapshot batch and tailed appends both
    resolve physicalName annotations back to logical columns."""
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_write,
    )

    src = str(tmp_path / "cmsrc")
    delta_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, tag string"),
        src,
        column_mapping="name",
    )
    dst = str(tmp_path / "cmdst")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            spark.readStream.format("delta_lite")
            .load(src)
            .writeStream.format("delta_lite")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(dst)
        )
        q.awaitTermination(120)
        # a second batch appended to the colmap source tails through
        delta_write(
            spark.createDataFrame([(3, "c")], "id bigint, tag string"), src
        )
        q2 = (
            spark.readStream.format("delta_lite")
            .load(src)
            .writeStream.format("delta_lite")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start(dst)
        )
        q2.awaitTermination(120)
    got = spark.read.format("delta_lite").load(dst)
    assert sorted((r["id"], r["tag"]) for r in got.collect()) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]


def test_format_reads_mode_id_by_field_id(spark, tmp_path):
    """The format reader binds mode=id tables by parquet FIELD ID in its
    Arrow path (code-review r11: before this, _file_batches fell into
    the schema-evolution NULL branch for every column because the file's
    alien names matched no physicalName — an all-NULL 'success'). Ids
    are declared in reverse order vs the file columns, so name- or
    position-binding would both produce wrong answers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _claim_version,
    )

    t = str(tmp_path / "fmt_colmap_id")
    os.makedirs(t)
    pq.write_table(
        pa.table(
            {
                "alien_x": pa.array(["a", "b"], pa.string()),
                "alien_y": pa.array([10, 20], pa.int64()),
            },
            schema=pa.schema(
                [
                    pa.field("alien_x", pa.string(),
                             metadata={b"PARQUET:field_id": b"2"}),
                    pa.field("alien_y", pa.int64(),
                             metadata={b"PARQUET:field_id": b"1"}),
                ]
            ),
        ),
        os.path.join(t, "part-0.parquet"),
    )

    def fld(name, typ, fid):
        return {
            "name": name, "type": typ, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": f"col-{fid:08d}",
            },
        }

    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "fmt-colmap-id",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps({
                "type": "struct",
                "fields": [fld("num", "long", 1), fld("tag", "string", 2)],
            }),
            "partitionColumns": [],
            "configuration": {
                "delta.columnMapping.mode": "id",
                "delta.columnMapping.maxColumnId": "2",
            },
        }},
        {"add": {
            "path": "part-0.parquet",
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(t, "part-0.parquet")),
            "modificationTime": 1,
            "dataChange": True,
        }},
    ]
    os.makedirs(os.path.join(t, "_delta_log"))
    _claim_version(
        os.path.join(t, "_delta_log"), 0,
        "\n".join(json.dumps(a) for a in acts) + "\n",
    )
    got = spark.read.format("delta_lite").load(t)
    assert got.columns == ["num", "tag"]
    assert sorted((r["num"], r["tag"]) for r in got.collect()) == [
        (10, "a"), (20, "b"),
    ]


def test_format_with_row_ids_matches_native(spark, tmp_path):
    """option('withRowIds') on the format reader must equal
    delta_read(with_row_ids=True) bit-for-bit through the whole
    row-tracking life cycle — backfill, fresh append, DV delete (ids
    address PRE-delete positions), and OPTIMIZE materialization — and
    refuse unstamped tables by name."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.sources import (
        delta_lite as dl,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    t = str(tmp_path / "rtfmt")
    dl.delta_write(
        spark.range(0, 12)
        .select(F.col("id").alias("k"))
        .coalesce(1)
        .sortWithinPartitions("k"),
        t,
    )
    # pre-enablement: unstamped table refused by name
    dl.delta_enable_dvs(spark, t)
    import pytest as _pytest

    with _pytest.raises(Exception, match="withRowIds"):
        spark.read.format("delta_lite").option("withRowIds", "true").load(
            t
        ).collect()
    dl.delta_enable_row_tracking(spark, t)
    dl.delta_write(
        spark.range(12, 18).select(F.col("id").alias("k")).coalesce(1),
        t,
        mode="append",
    )
    dl.delta_delete_where(spark, t, ("k", "between", (2, 4)))
    dl.delta_optimize(spark, t, n_files=1)
    native = sorted(
        map(
            tuple,
            dl.delta_read(spark, t, with_row_ids=True)
            .select("k", "_row_id", "_row_commit_version")
            .collect(),
        )
    )
    fmt = sorted(
        map(
            tuple,
            spark.read.format("delta_lite")
            .option("withRowIds", "true")
            .load(t)
            .select("k", "_row_id", "_row_commit_version")
            .collect(),
        )
    )
    assert native == fmt and len(fmt) == 15


def test_format_row_ids_null_rcv_parity_and_stream_refusal(spark, tmp_path):
    """Code-review r11: (a) a foreign add without defaultRowCommitVersion
    must coalesce _row_commit_version to NULL on BOTH front doors (the
    field is optional per protocol; -1 would silently break parity);
    (b) withRowIds on a streaming read refuses upfront by name."""
    import json as _json

    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.sources import (
        delta_lite as dl,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _claim_version,
    )

    spark.dataSource.register(DeltaLiteDataSource)
    t = str(tmp_path / "nullrcv")
    dl.delta_write(
        spark.range(0, 6).select(F.col("id").alias("k")).coalesce(1), t
    )
    dl.delta_enable_row_tracking(spark, t)
    # strip defaultRowCommitVersion the way a minimal foreign writer might
    snap = dl._replay(t, None)
    (p0,) = snap.files
    add = {k: v for k, v in snap.files[p0].items() if k != "defaultRowCommitVersion"}
    _claim_version(
        os.path.join(t, "_delta_log"), snap.version + 1,
        _json.dumps({"add": add}) + "\n",
    )
    native = sorted(
        map(tuple, dl.delta_read(spark, t, with_row_ids=True)
            .select("k", "_row_id", "_row_commit_version").collect())
    )
    fmt = sorted(
        map(tuple, spark.read.format("delta_lite")
            .option("withRowIds", "true").load(t)
            .select("k", "_row_id", "_row_commit_version").collect())
    )
    assert native == fmt
    assert all(r[2] is None for r in fmt)  # NULL, never -1
    import pytest as _pytest

    stream_df = (
        spark.readStream.format("delta_lite")
        .option("withRowIds", "true")
        .load(t)
    )  # lazy: the refusal fires when the query starts planning the source
    with _pytest.raises(Exception, match="batch-only"):
        q = stream_df.writeStream.format("noop").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def _commit_action_keys(t):
    """Per log version, each action's key in file order, with a run of one
    kind collapsed to one entry (file counts follow Spark's partitioning;
    the order of kinds is what a reader depends on)."""
    log = os.path.join(t, "_delta_log")
    out = []
    for f in sorted(x for x in os.listdir(log) if x.endswith(".json") and x[0].isdigit()):
        with open(os.path.join(log, f)) as fh:
            keys = [next(iter(json.loads(line))) for line in fh if line.strip()]
        out.append([k for i, k in enumerate(keys) if i == 0 or keys[i - 1] != k])
    return out


def test_data_commits_keep_their_action_order(spark, tmp_path):
    """Every data-commit shape writes its actions in one order: protocol,
    metaData, txn, removes (or DV remove+add pairs), the row-id
    domainMetadata, adds, cdcs. The expected lists are those of the
    writer before the action builder was shared, over one sequence that
    reaches each shape."""
    import pyarrow as pa

    from lakehouse_architecture_for_realestatedata_spark.sources import (
        delta_lite as dl,
        delta_source as dsrc,
    )

    cols = "id bigint, city string, price double, n int"

    def df(rows, schema=cols):
        return spark.createDataFrame(rows, schema).coalesce(1)

    t = str(tmp_path / "golden")
    dl.delta_write(df([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
                      "id bigint, city string, price double"), t)
    dl.delta_enable_cdf(spark, t)
    dl.delta_write(df([(4, "d", 4.0, 1)]), t, mode="append", merge_schema=True)
    dl.delta_write(df([(i, c, float(i), i) for i, c in enumerate("abcd", 1)]), t,
                   mode="overwrite")
    dl.delta_merge(df([(2, "B", 20.0, 2), (5, "e", 5.0, 5)]), t, "id")
    dl.delta_enable_dvs(spark, t)
    dl.delta_delete_where(spark, t, ("id", "=", 1))
    dl.delta_update_where(spark, t, {"price": F.lit(0.0)}, ("id", "=", 3))
    dl.delta_merge(df([(4, "D", 40.0, 4), (6, "f", 6.0, 6)]), t, "id")
    dl.delta_enable_row_tracking(spark, t)
    dl.delta_optimize(spark, t)
    df([(7, "g", 7.0, 7)]).write.format("delta_lite").mode("append").save(t)
    w = dsrc._DeltaLiteStreamWriter(t, dl.delta_read(spark, t).schema, "app")
    batch = pa.record_batch({
        "id": pa.array([8], pa.int64()), "city": pa.array(["h"]),
        "price": pa.array([8.0]), "n": pa.array([8], pa.int32()),
    })
    w.commit([dsrc._write_task_parquet(t, iter([batch]))], batchId=0)

    ci = "commitInfo"
    assert _commit_action_keys(t) == [
        [ci, "protocol", "metaData", "add"],  # create
        [ci, "protocol", "metaData"],  # enable CDF
        [ci, "metaData", "add"],  # mergeSchema append
        [ci, "remove", "add"],  # overwrite
        [ci, "remove", "add", "cdc"],  # rewrite MERGE
        [ci, "protocol", "metaData"],  # enable DVs
        [ci, "remove", "add", "cdc"],  # DV DELETE
        [ci, "remove", "add", "cdc"],  # DV UPDATE
        [ci, "remove", "add", "cdc"],  # DV MERGE
        [ci, "protocol", "metaData", "add", "domainMetadata"],  # row tracking
        [ci, "remove", "domainMetadata", "add"],  # OPTIMIZE
        [ci, "domainMetadata", "add"],  # format append
        [ci, "txn", "domainMetadata", "add"],  # stream epoch
    ]
    assert sorted(map(tuple, dl.delta_read(spark, t).collect())) == [
        (2, "B", 20.0, 2), (3, "c", 0.0, 3), (4, "D", 40.0, 4), (5, "e", 5.0, 5),
        (6, "f", 6.0, 6), (7, "g", 7.0, 7), (8, "h", 8.0, 8),
    ]


def test_sink_commits_carry_operation_metrics(spark, tmp_path):
    """Format-sink commits record delta_write's operationMetrics: files
    and rows added, files removed."""
    import pyarrow as pa

    from lakehouse_architecture_for_realestatedata_spark.sources import (
        delta_source as dsrc,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_history,
    )

    t = str(tmp_path / "metrics")
    spark.range(0, 3).coalesce(1).write.format("delta_lite").mode("append").save(t)
    spark.range(0, 5).coalesce(1).write.format("delta_lite").mode("overwrite").save(t)
    w = dsrc._DeltaLiteStreamWriter(t, delta_read(spark, t).schema, "app")
    batch = pa.record_batch({"id": pa.array([7, 8], pa.int64())})
    w.commit([dsrc._write_task_parquet(t, iter([batch]))], batchId=0)
    got = [(h["operation"], h["operationMetrics"]) for h in delta_history(t)]
    assert got == [
        ("WRITE", {"numFiles": "1", "numOutputRows": "3", "numRemovedFiles": "0"}),
        ("WRITE", {"numFiles": "1", "numOutputRows": "5", "numRemovedFiles": "1"}),
        ("STREAMING UPDATE",
         {"numFiles": "1", "numOutputRows": "2", "numRemovedFiles": "0"}),
    ]
