"""Spark Python Data Source (V2) front door for ``delta_lite``: register
once, and the open-protocol Delta tables this engine reads/writes become a
first-class Spark FORMAT — no jars:

    spark.dataSource.register(DeltaLiteDataSource)
    spark.read.format("delta_lite").load(path)                  # batch
    spark.read.format("delta_lite").option("version", 3)...     # time travel
    df.write.format("delta_lite").mode("append").save(path)     # batch sink
    spark.readStream.format("delta_lite").load(path)            # log tailing

Why this exists alongside ``delta_lite``'s functions: the reference stack
addresses Delta through Spark's format registry (``spark.read.format
("delta")`` / ``.write.format("delta")`` — reference:
scripts/load_bronze_to_table.py:158, spark-defaults.conf:15-16), so a
migrating user's code says ``format(...)``, not a function call. The
Python Data Source API (Spark 4, SPARK-44076) lets pure Python implement
that surface. ``delta_read``/``delta_write`` remain the FAST path — the
native parquet scan with whole-stage codegen; this format is the
API-compatibility path, its rows crossing Arrow once per batch.

Scale shape:
  - batch reads plan ONE InputPartition PER ACTIVE FILE — the natural
    Delta parallelism (a 10⁴-file table is a 10⁴-task scan, distributed);
  - ``pushFilters`` (Spark 4.1) receives the query's predicates and
    prunes files by add-action stats/partitionValues BEFORE planning
    partitions — the same skipping as ``delta_read(where=...)``. Every
    filter is returned to Spark as unsupported, so Spark still applies
    them row-level: pruning is purely a scan reduction;
  - the batch and stream writers map Delta's commit protocol onto the V2
    writer contract 1:1 — each TASK writes its parquet file and returns
    the add payload as its commit message; the DRIVER commits them
    through ``delta_lite`` (``_blind_write``, the loop ``delta_write``
    commits through: same actions, operationMetrics, row-id stamping and
    checkpoints; append losers rebase — blind adds are valid against any
    snapshot; overwrite losers raise). This module builds no log action.
    Task files from failed/aborted jobs are unreferenced and collected by
    ``delta_vacuum``;
  - the stream reader's offsets ARE log versions ({"version": N}), so a
    micro-batch reads exactly the dataChange adds of commits
    (start, end] — OPTIMIZE rewrites (dataChange:false) are skipped for
    free, and a dataChange remove (overwrite/merge/delete) fails the
    stream unless ``ignoreChanges`` is set, Delta's own streaming
    contract.

Limits (honestly refused, never silent): writes through the format are
unpartitioned (``delta_write(partition_by=...)`` is the partitioned
path) and refuse column-mapped targets (``delta_write`` is the colmap
write path). Batch AND streaming reads support column mapping mode
``name`` like ``delta_read``, and apply deletion vectors per file
(reader protocol 3) before any row crosses Arrow.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
    DeltaProtocolError,
    _blind_write,
    _footer_stats_json,
    _latest_version,
    _log_dir,
    _pruned_files,
    _replay,
    _strip_metadata,
    _table_constraints,
    _write_schema,
    _writer_gate,
    version_at_timestamp,
)


def _arrow_schema(st: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(st)


@dataclass
class _FilePartition(InputPartition):
    """One active data file: the unit of read parallelism."""

    rel_path: str
    partition_values: dict = field(default_factory=dict)
    deletion_vector: dict | None = None
    # row tracking (withRowIds reads): the file's fresh-id base and
    # default commit version, per its add action
    base_row_id: int | None = None
    default_rcv: int | None = None


def _file_batches(
    table_path: str,
    rel_path: str,
    pv: dict,
    colspecs: list[tuple[str, str, bool, int | None]],
    target,
    dv: dict | None = None,
    rowids: tuple[int, int | None, str | None, str | None] | None = None,
):
    """Arrow batches of one data file under the LOGICAL schema: scan the
    parquet file (physical names — or, for columnMapping.mode=id, by the
    parquet FIELD ID each colspec carries, the binding that mode
    mandates), drop rows the file's deletion vector marks deleted
    (reader protocol 3 — masked by parquet row index BEFORE any
    projection), restore partition columns from the add action's string
    values via an Arrow cast, rename/reorder, and cast to the exact
    target schema. Runs on the executor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _abs_data_path,
    )

    tbl = pq.read_table(_abs_data_path(table_path, rel_path))
    # mode=id binding: parquet field ids survive into the Arrow schema as
    # b"PARQUET:field_id" metadata — map id -> actual file column name
    by_fid: dict[int, str] = {}
    for fld in tbl.schema:
        fid_raw = (fld.metadata or {}).get(b"PARQUET:field_id")
        if fid_raw is not None:
            by_fid[int(fid_raw)] = fld.name
    idx = None
    if rowids is not None:
        import numpy as np

        # row index BEFORE any DV mask — row ids address pre-delete
        # positions (allocated only when asked: a plain scan of a 10M-row
        # file must not pay 80 MB of discarded int64s)
        idx = np.arange(tbl.num_rows, dtype=np.int64)
    if dv:
        import numpy as np

        from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
            _load_deletion_vector,
        )

        deleted = np.fromiter(
            _load_deletion_vector(table_path, dv), dtype=np.int64
        )
        mask = np.ones(tbl.num_rows, dtype=bool)
        mask[deleted[deleted < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(mask))
        if idx is not None:
            idx = idx[mask]
    n = tbl.num_rows
    arrays = []
    for (logical, physical, is_part, fid), f in zip(colspecs, target):
        if is_part:
            raw = pv.get(physical)
            if raw is None:
                arrays.append(pa.nulls(n, f.type))
            else:
                arrays.append(pa.array([raw] * n, pa.string()).cast(f.type))
            continue
        # mode=id resolves by field id (names in the file are opaque);
        # name/none modes resolve by (physical) name
        name = by_fid.get(fid) if fid is not None else physical
        if name is not None and name in tbl.column_names:
            col = tbl.column(name)
            arrays.append(col.cast(f.type) if col.type != f.type else col)
        else:
            # schema evolution: an old file predating the column reads NULL
            arrays.append(pa.nulls(n, f.type))
    if rowids is not None:
        import numpy as np

        # withRowIds: the protocol's coalesce rule — the file's
        # MATERIALIZED value (rows OPTIMIZE/UPDATE copied in) first, else
        # baseRowId + pre-mask row index / defaultRowCommitVersion. A
        # missing defaultRowCommitVersion coalesces to NULL, exactly like
        # the native path (the field is optional per protocol; -1 here
        # would silently break the two front doors' bit-for-bit parity).
        base, dcv, rid_phys, rcv_phys = rowids

        def coalesce_col(phys: str | None, fallback):
            """int64 column coalescing materialized values over
            ``fallback`` (an ndarray, or None meaning NULL)."""
            if not phys or phys not in tbl.column_names:
                return (
                    pa.nulls(n, pa.int64())
                    if fallback is None
                    else pa.array(fallback, pa.int64())
                )
            col = tbl.column(phys)
            if fallback is None:
                return col.cast(pa.int64())  # materialized-or-NULL
            nulls = pa.compute.is_null(col).to_numpy(zero_copy_only=False)
            matv = np.nan_to_num(
                col.to_numpy(zero_copy_only=False)
            ).astype(np.int64)
            return pa.array(np.where(nulls, fallback, matv), pa.int64())

        arrays.append(coalesce_col(rid_phys, base + idx))
        arrays.append(
            coalesce_col(
                rcv_phys,
                None if dcv is None else np.full(n, dcv, np.int64),
            )
        )
    out = pa.table(arrays, schema=target).combine_chunks()
    yield from out.to_batches()


def _colspecs_for(snap) -> list[tuple[str, str, bool, int | None]]:
    """(logical name, physical name, is-partition, field id) per column —
    the projection contract ``_file_batches`` binds with. The field id is
    set only under columnMapping.mode=id (from delta.columnMapping.id),
    where the file's column NAMES are opaque and binding is by parquet
    field id, per protocol."""
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        _ID_KEY,
    )

    phys = snap.physical_schema
    phys_parts = set(snap.physical_partition_columns)
    by_id = snap.column_mapping == "id"
    return [
        (
            lf.name,
            pf.name,
            pf.name in phys_parts,
            (
                int(lf.metadata[_ID_KEY])
                if by_id and _ID_KEY in (lf.metadata or {})
                else None
            ),
        )
        for lf, pf in zip(snap.schema.fields, phys.fields)
    ]


_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class _DeltaLiteReaderBase(DataSourceReader):
    """File-per-partition reader WITHOUT pushdown — what sessions running
    with ``spark.sql.python.filterPushdown.enabled=false`` get (Spark
    refuses any reader that merely DEFINES pushFilters under that conf,
    so the capability must live in a subclass)."""

    def __init__(
        self,
        path: str,
        version: int | None,
        schema: StructType,
        with_row_ids: bool = False,
    ):
        self.path = path
        self.snap = _replay(path, version)
        self.schema = schema
        self.colspecs = _colspecs_for(self.snap)
        self.conds: list[tuple] = []
        self.with_row_ids = with_row_ids
        self.rt_cols: tuple[str | None, str | None] = (None, None)
        if with_row_ids:
            conf = self.snap.configuration or {}
            self.rt_cols = (
                conf.get("delta.rowTracking.materializedRowIdColumnName"),
                conf.get(
                    "delta.rowTracking.materializedRowCommitVersionColumnName"
                ),
            )

    def partitions(self):
        active = _pruned_files(self.snap, self.conds)
        if self.with_row_ids:
            # validate the files this read will actually touch (post-
            # pruning — the native path's exact scope, so a filter that
            # dodges unstamped files succeeds on both front doors)
            missing = sorted(
                p for p, a in active.items() if a.get("baseRowId") is None
            )
            if missing:
                raise DeltaProtocolError(
                    f"{self.path}: withRowIds needs baseRowId on every "
                    f"scanned file; missing on {missing[:3]} (enable row "
                    "tracking with delta_enable_row_tracking — its "
                    "backfill stamps existing files)"
                )
        return [
            _FilePartition(
                p,
                add.get("partitionValues") or {},
                add.get("deletionVector"),
                (
                    int(add["baseRowId"])
                    if self.with_row_ids
                    else None
                ),
                (
                    int(add["defaultRowCommitVersion"])
                    if self.with_row_ids
                    and add.get("defaultRowCommitVersion") is not None
                    else None
                ),
            )
            for p, add in sorted(active.items())
        ]

    def read(self, partition: _FilePartition):
        yield from _file_batches(
            self.path,
            partition.rel_path,
            partition.partition_values,
            self.colspecs,
            _arrow_schema(self.schema),
            dv=partition.deletion_vector,
            rowids=(
                (
                    partition.base_row_id,
                    partition.default_rcv,
                    self.rt_cols[0],
                    self.rt_cols[1],
                )
                if self.with_row_ids
                else None
            ),
        )


class _DeltaLiteReader(_DeltaLiteReaderBase):
    def pushFilters(self, filters):
        """Harvest file-prunable conditions; hand EVERY filter back to
        Spark as unsupported — this reader prunes FILES, it never
        guarantees row-level filtering, so Spark must re-apply them."""
        for flt in filters:
            op = _OPS.get(type(flt))
            if (
                op is not None
                and len(flt.attribute) == 1  # top-level column only
                and not isinstance(flt.value, bool)
            ):
                self.conds.append((flt.attribute[0], op, flt.value))
            yield flt


class _DeltaLiteStreamReader(DataSourceStreamReader):
    """Structured Streaming source over the transaction log: the FIRST
    batch is the table's current snapshot, then offsets are commit
    versions and each micro-batch is the dataChange adds of the commits
    in (start, end] — exactly Delta's streaming source contract,
    including failing on MID-STREAM data-changing removes unless
    ``ignoreChanges`` (pre-stream history is served as its net snapshot,
    so old overwrites neither fail the stream nor duplicate rows)."""

    def __init__(self, path: str, ignore_changes: bool, schema: StructType):
        self.path = path
        self.ignore_changes = ignore_changes
        snap = _replay(path, None)
        self.colspecs = _colspecs_for(snap)
        self.schema = schema

    def initialOffset(self) -> dict:
        # -1 = "no commit consumed yet": the first batch serves the CURRENT
        # SNAPSHOT (Delta's own streaming-source contract — history before
        # the stream started is represented by its net result, so an old
        # overwrite neither fails the stream nor duplicates rows), then
        # subsequent batches tail the log commit by commit
        return {"version": -1}

    def latestOffset(self) -> dict:
        return {"version": _latest_version(self.path)}

    def partitions(self, start: dict, end: dict):
        import json as _json

        if int(start["version"]) < 0:
            snap = _replay(self.path, int(end["version"]))
            return [
                _FilePartition(
                    p,
                    add.get("partitionValues") or {},
                    add.get("deletionVector"),
                )
                for p, add in sorted(snap.files.items())
            ]
        log = _log_dir(self.path)
        parts = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            fname = os.path.join(log, f"{v:020d}.json")
            if not os.path.isfile(fname):
                raise ValueError(
                    f"{self.path}: commit {v} was cleaned up — cannot "
                    "stream vacuumed history (restart from a fresh "
                    "checkpoint)"
                )
            with open(fname) as fh:
                for line in fh:
                    a = _json.loads(line) if line.strip() else {}
                    if "add" in a and a["add"].get("dataChange", True):
                        parts.append(
                            _FilePartition(
                                a["add"]["path"],
                                a["add"].get("partitionValues") or {},
                                a["add"].get("deletionVector"),
                            )
                        )
                    elif (
                        "remove" in a
                        and a["remove"].get("dataChange", True)
                        and not self.ignore_changes
                    ):
                        raise ValueError(
                            f"{self.path}: version {v} removed data "
                            "(overwrite/merge/delete); streaming an "
                            "append-only view requires option "
                            "ignoreChanges=true (Delta's own contract)"
                        )
        return parts

    def read(self, partition: _FilePartition):
        yield from _file_batches(
            self.path,
            partition.rel_path,
            partition.partition_values,
            self.colspecs,
            _arrow_schema(self.schema),
            dv=partition.deletion_vector,
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are durable log versions; nothing to release


@dataclass
class _AddsMessage(WriterCommitMessage):
    adds: list


def _write_task_parquet(path: str, iterator) -> _AddsMessage:
    """Executor side of both sinks: drain the task's Arrow batches into
    ONE immutable parquet part file under the table root and return its
    add payload (footer-derived skipping stats included). The file is
    unreferenced until a driver commit names it — crash/abort orphans are
    ``delta_vacuum`` food."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return _AddsMessage([])
    tbl = pa.Table.from_batches(batches)
    os.makedirs(path, exist_ok=True)
    rel = f"part-{uuid.uuid4().hex}.parquet"
    full = os.path.join(path, rel)
    pq.write_table(tbl, full)
    stats = _footer_stats_json(pq.ParquetFile(full).metadata)
    add = {
        "path": rel,
        "partitionValues": {},
        "size": os.path.getsize(full),
        "modificationTime": int(_time.time() * 1000),
        "dataChange": True,
    }
    if stats:
        add["stats"] = stats
    return _AddsMessage([add])


def _check_sink_target(
    path: str, schema: StructType, overwrite: bool, merge_schema: bool,
    op: str, constraints_hint: str,
) -> None:
    """The refusals both sinks make BEFORE any task writes a file: a
    column-mapped or partitioned table, the writer gate, CHECK
    constraints (tasks cannot enforce them; ``constraints_hint`` names the
    surface that does), and Delta's schema contract (fail fast; the commit
    re-derives it against the snapshot it actually lands on — a streaming
    epoch must never commit columns no reader can see)."""
    try:
        snap = _replay(path, None)
    except FileNotFoundError:
        return
    if snap.column_mapping != "none":
        raise DeltaProtocolError(f"{path}: refusing to write to a column-mapped table")
    if snap.partition_columns:
        raise ValueError(
            f"{path}: format writes are unpartitioned; this table is "
            f"partitioned on {snap.partition_columns} — use "
            "delta_write(partition_by=...)"
        )
    _writer_gate(snap, path, removes_data=overwrite and bool(snap.files), op=op)
    if _table_constraints(snap):
        raise DeltaProtocolError(
            f"{path}: this sink does not enforce the table's CHECK "
            f"constraints task-side — {constraints_hint}"
        )
    _write_schema(path, snap, schema, overwrite, merge_schema)


def _unlink_task_files(path: str, messages) -> None:
    """Delete the files a job's tasks wrote that the log will never
    reference: an aborted job's, or a replayed epoch's duplicates."""
    for m in messages or []:
        if m is None:
            continue
        for a in m.adds:
            try:
                os.unlink(os.path.join(path, a["path"]))
            except FileNotFoundError:
                pass


class _DeltaLiteWriter(DataSourceArrowWriter):
    """V2 writer mapped onto the Delta commit protocol: tasks write
    immutable parquet files and SAY what they wrote (the add payloads in
    their commit messages); only the driver talks to the log, committing
    them through ``delta_lite``'s blind-write loop (a losing APPEND
    rebases, a losing OVERWRITE raises). Aborted jobs' files are
    deleted."""

    def __init__(
        self,
        path: str,
        schema: StructType,
        overwrite: bool,
        merge_schema: bool = False,
    ):
        self.path = path
        self.schema = _strip_metadata(schema)
        self.overwrite = overwrite
        self.merge_schema = merge_schema
        _check_sink_target(
            path, self.schema, overwrite, merge_schema, "WRITE (format)",
            "write through delta_write, which validates pre-commit",
        )

    def write(self, iterator) -> _AddsMessage:
        return _write_task_parquet(self.path, iterator)

    def commit(self, messages) -> None:
        _blind_write(
            self.path, "WRITE",
            {"mode": "OVERWRITE" if self.overwrite else "APPEND"},
            adds=[a for m in messages if m is not None for a in m.adds],
            schema=self.schema,
            overwrite=self.overwrite,
            merge_schema=self.merge_schema,
        )

    def abort(self, messages) -> None:
        _unlink_task_files(self.path, messages)


class _DeltaLiteStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("delta_lite")`` — an append sink whose epochs
    commit through the Delta protocol. With the ``txnAppId`` option each
    epoch's commit carries a ``txn`` action ({appId, version: batchId})
    and a replayed epoch (Structured Streaming re-runs the last batch
    after recovery) is detected via the table's txn watermark and skipped
    — EXACTLY-ONCE, Delta's own idempotent-writer contract. Without
    ``txnAppId`` the sink is at-least-once (a replayed epoch appends
    again), stated here rather than silently implied."""

    def __init__(self, path: str, schema: StructType, txn_app_id: str | None):
        self.path = path
        self.schema = _strip_metadata(schema)
        self.txn_app_id = txn_app_id
        _check_sink_target(
            path, self.schema, False, False, "STREAMING UPDATE",
            "use a foreachBatch delta_write sink instead",
        )

    def write(self, iterator) -> _AddsMessage:
        return _write_task_parquet(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        v = _blind_write(
            self.path, "STREAMING UPDATE",
            {"outputMode": "Append", "epochId": batchId},
            adds=[a for m in messages if m is not None for a in m.adds],
            schema=self.schema,
            txn=(self.txn_app_id, batchId) if self.txn_app_id is not None else None,
        )
        if v is None:
            # epoch already committed (this is the recovery replay): drop
            # our duplicate files — exactly-once
            _unlink_task_files(self.path, messages)

    def abort(self, messages, batchId: int) -> None:
        _unlink_task_files(self.path, messages)


class DeltaLiteDataSource(DataSource):
    """``format("delta_lite")``. Options: ``path`` (or ``.load(path)``),
    ``version`` / ``timestampMillis`` for batch time travel,
    ``ignoreChanges`` for streaming past data-changing commits,
    ``mergeSchema`` to widen the table on append (Delta's option),
    ``withRowIds`` to append ``_row_id``/``_row_commit_version`` on a
    row-tracked table (the protocol's coalesce rule, computed per file
    from its baseRowId + pre-DV row index and any materialized
    columns — API parity with ``delta_read(with_row_ids=True)``)."""

    @classmethod
    def name(cls) -> str:
        return "delta_lite"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("delta_lite: a table path is required (.load(path))")
        return p

    def _version(self) -> int | None:
        v = self.options.get("version")
        ts = self.options.get("timestampmillis")
        if v is not None and ts is not None:
            raise ValueError("pass version OR timestampMillis, not both")
        if ts is not None:
            return version_at_timestamp(self._path(), int(ts))
        return int(v) if v is not None else None

    def _with_row_ids(self) -> bool:
        return str(self.options.get("withrowids", "false")).lower() in (
            "true",
            "1",
        )

    def schema(self) -> StructType:
        st = _strip_metadata(_replay(self._path(), self._version()).schema)
        if self._with_row_ids():
            from pyspark.sql.types import LongType, StructField

            st = StructType(
                list(st.fields)
                + [
                    StructField("_row_id", LongType(), True),
                    StructField("_row_commit_version", LongType(), True),
                ]
            )
        return st

    def reader(self, schema: StructType) -> _DeltaLiteReaderBase:
        # Spark refuses a reader that defines pushFilters when the Python
        # pushdown conf is off — pick the capability by the live conf
        # (driver-side; get_spark enables it)
        spark = SparkSession.getActiveSession()
        enabled = (
            spark is not None
            and str(
                spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            ).lower()
            == "true"
        )
        cls = _DeltaLiteReader if enabled else _DeltaLiteReaderBase
        return cls(
            self._path(), self._version(), schema,
            with_row_ids=self._with_row_ids(),
        )

    def streamReader(self, schema: StructType) -> _DeltaLiteStreamReader:
        if self._with_row_ids():
            raise ValueError(
                "delta_lite: withRowIds is batch-only — the streaming "
                "source does not compute row ids (read the table with "
                "spark.read.format('delta_lite').option('withRowIds', "
                "'true') instead)"
            )
        ignore = str(self.options.get("ignorechanges", "false")).lower() in (
            "true",
            "1",
        )
        return _DeltaLiteStreamReader(self._path(), ignore, schema)

    def writer(self, schema: StructType, overwrite: bool) -> _DeltaLiteWriter:
        merge = str(self.options.get("mergeschema", "false")).lower() in (
            "true",
            "1",
        )
        return _DeltaLiteWriter(self._path(), schema, overwrite, merge_schema=merge)

    def streamWriter(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "delta_lite streaming sink is append-only (outputMode "
                "complete/truncate would rewrite the table every epoch)"
            )
        return _DeltaLiteStreamWriter(
            self._path(), schema, self.options.get("txnappid")
        )


def register_delta_lite_source(spark) -> None:
    """Idempotent format registration for the session — registered at most
    once per SparkSession: re-registration re-pickles the DataSource class
    and ships it to the JVM on every call, pure per-query overhead when
    every caller registers defensively (the delta_* query rows do)."""
    key = "delta_lite_source_registered"
    tags = getattr(spark, "_delta_lite_tags", None)
    if tags is None:
        tags = set()
        spark._delta_lite_tags = tags
    if key in tags:
        return
    spark.dataSource.register(DeltaLiteDataSource)
    tags.add(key)
