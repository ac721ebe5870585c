"""The medallion's table store: parquet tables with Delta-like write
semantics, used by ``plans/medallion.py`` and ``sources/catalog.py`` only.
Every other engine table is a Delta table (``sources/delta_lite.py``).

The reference stores every table as Delta (Parquet + transaction log) and
leans on three write modes (SURVEY §2.1):
  - S7 append with schema merge  (reference: scripts/load_bronze_to_table.py:158)
  - S8 overwrite(+overwriteSchema) (reference: scripts/load_bronze_to_table.py:161)
  - S9 keyed MERGE upsert: whenMatchedUpdateAll / whenNotMatchedInsertAll
       (reference: scripts/normalize_bronze_columns.py:145-148)

``ParquetTable`` implements exactly those three on plain parquet with a
tiny manifest log — the same file-additive design as the Delta
transaction log:

    <root>/data/<uuid>/part-*.parquet   immutable data directory (one per write)
    <root>/v=<n>.manifest               JSON list of the data dirs in snapshot n
    <root>/_latest                      text file holding n (commit = atomic rename)

A snapshot is a *list of references* to immutable data directories, so:
  - APPEND writes only the new rows into a fresh data dir and commits a
    manifest of [old dirs..., new dir] — O(new data) I/O, like Delta's
    file-additive append, NOT a read-union-rewrite of the table;
  - prior snapshot files are reused byte-identical (never copied);
  - readers resolve ``_latest`` → manifest → scan exactly those dirs, which
    gives snapshot isolation (a writer never mutates a directory a reader may
    be scanning) and makes every write idempotent-retryable. This also
    removes the reference's need to restart its Thrift server to invalidate
    caches (reference: airflow/dags/end_to_end_pipeline.py:209-244): a
    re-read simply resolves the new pointer.

One scan builder (``_scan``) defines the snapshot relation: each data dir's
scan conformed to the manifest schema (columns it predates null-filled,
types cast, manifest column order), unioned. ``read`` and the MERGE target
take its DataFrame; ``view_sql`` renders the same relation as the SQL the
``Catalog`` binds its views to: each data dir bound once as an EXTERNAL
table in the private database ``DIR_DB``, and a ``UNION ALL`` over those.
So every reader of a snapshot sees the same columns whichever dirs pruning
keeps.

No read infers a schema. A data dir is opened with the schema it was
written with, which the Spark writer stores in each parquet footer and the
driver reads without a Spark job (``_dir_schema``); its ``k=v`` partition
columns take the manifest's types. ``append`` merges schemas from the
manifest alone, and the stats fallback declares the written frame's
schema. So building a relation, or binding a view, costs no Spark job
whatever the number of dirs, and a ``string`` partition value such as
``007`` reads back as written.

Concurrency: optimistic, Delta-style. A commit CLAIMS its version by
hard-linking the manifest into place — ``link(2)`` is create-exclusive, so
exactly one writer wins ``v=n+1`` and every loser gets
``ConcurrentCommitError`` (the same protocol as Delta's
put-if-absent ``n.json``). A won claim runs the auto-vacuum, which keeps
the last ``_RETAIN`` versions. Blind writes rebase and retry automatically:
append re-reads the winner's file list (its own data dir is already on
disk, so the retry is a metadata-only recommit), overwrite just claims the
next slot. A merge CANNOT silently rebase — its output was computed
against a snapshot that is no longer latest — so it aborts with
``ConcurrentCommitError`` for the caller to re-run, exactly Delta's
ConcurrentAppendException contract. Readers are always safe (they only
ever see fully-committed manifests).

Scale notes:
  - MERGE is implemented as left_anti(target, source) ∪ source — one shuffle
    on the merge key, same join Delta itself plans for a full-table merge.
    Like Delta's file-pruned merge, the per-dir min/max stats in the
    manifest are used to REWRITE ONLY the data dirs whose key range
    overlaps the source's. The footer stats and the key-overlap pruning
    live in ``sources/skipping.py``, shared with the Delta format; this
    module keeps only its manifest-side rules (all-or-nothing dir
    zonemaps, the aggregate-job fallback).
  - ``partition_by`` lays out data for partition pruning on read; the
    reference never partitions its tables (SURVEY §4 calls this out as perf
    left on the table) — we do.
  - appends accumulate data dirs; ``file_stats`` reports them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from lakehouse_architecture_for_realestatedata_spark.sources import skipping

_LATEST = "_latest"

#: Versions the auto-vacuum keeps after each commit: the latest and the one
#: before it, so a reader that resolved the previous pointer still finds
#: its dirs.
_RETAIN = 2

#: The private database the ``Catalog`` binds data dirs in: one EXTERNAL
#: table per data dir (see ``ParquetTable.view_sql``). Not a user namespace.
DIR_DB = "_lakeflow_dirs"

#: The footer key under which Spark's parquet writer stores the row schema.
_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

#: Driver-side footer-walk budget for ``_footer_pass``: per-file footer
#: reads are serial driver Python — bounded for a fresh write's file set, a
#: stall on a large accumulated dir. Past this many files the distributed
#: aggregate job is the right physics.
_FOOTER_WALK_CAP = 1024


def _conformed(field, have: str | None) -> str:
    """SQL select item giving manifest ``field`` from a dir scan whose
    column of that name has type ``have`` (None: the dir lacks it)."""
    name = "`" + field.name.replace("`", "``") + "`"
    want = field.dataType.simpleString()
    if have == want:
        return name
    return f"CAST({'NULL' if have is None else name} AS {want}) AS {name}"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the version this transaction targeted.

    Raised by ``merge``, a read-modify-write whose computed output is
    stale — re-run it against the new snapshot. Blind append/overwrite
    never surface this: they rebase and retry internally.
    """


class ParquetTable:
    """A named, versioned parquet table rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_by: list[str] | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self.partition_by = partition_by or []

    # ---------------------------------------------------------------- meta
    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.root, _LATEST))

    def version(self) -> int:
        """Current snapshot number, -1 if the table does not exist. The
        pointer file *is* the table, mirroring the reference's Delta-log
        presence check (scripts/load_bronze_to_table.py:103-108)."""
        try:
            with open(os.path.join(self.root, _LATEST)) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return -1

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"v={version}.manifest")

    def data_dirs(self, version: int | None = None) -> list[str]:
        """Absolute paths of the immutable data directories snapshot
        ``version`` references."""
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"table {self.root} does not exist")
        with open(self._manifest_path(v)) as fh:
            rel = json.load(fh)["dirs"]
        return [os.path.join(self.root, d) for d in rel]

    def _next_version(self) -> int:
        """First unclaimed version slot: one past the max of the pointer and
        any manifest already on disk. Scanning manifests (not just the
        pointer) lets a loser make progress even in the window where the
        winner has linked its manifest but not yet swapped the pointer."""
        latest = self.version()
        if os.path.isdir(self.root):
            for entry in os.listdir(self.root):
                if entry.startswith("v=") and entry.endswith(".manifest"):
                    latest = max(latest, int(entry[len("v=") : -len(".manifest")]))
        return latest + 1

    def _manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    @staticmethod
    def _schema(manifest: dict) -> StructType:
        return StructType.fromJson(json.loads(manifest["schema"]))

    def _commit(
        self,
        version: int,
        rel_dirs: list[str],
        schema_json: str,
        stats: dict | None = None,
        op: str = "WRITE",
    ) -> None:
        """Claim ``version`` with create-exclusive semantics, then advance
        the pointer. The manifest is written to a temp name and hard-linked
        to its final name: link(2) fails with EEXIST if another writer
        already owns the slot → ConcurrentCommitError, nothing clobbered.
        A crash between link and pointer swap leaves a claimed-but-unpointed
        manifest; the next writer's _next_version skips past it. The schema
        rides in the manifest so an all-rows-deleted table still reads back
        empty with its columns intact; per-dir min/max column stats ride
        alongside for merge pruning. A won claim then auto-vacuums to
        ``_RETAIN`` versions — the one place every write does."""
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".manifest.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(
                {"dirs": rel_dirs, "schema": schema_json, "stats": stats or {}, "op": op},
                fh,
                default=str,
            )
        try:
            os.link(tmp, self._manifest_path(version))  # CAS: exactly one winner
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} of {self.root} was committed by another "
                f"writer"
            ) from None
        finally:
            os.remove(tmp)
        # Monotonic pointer advance: never move _latest backwards even if an
        # earlier writer's swap lands after a later writer's. A momentarily
        # stale pointer is harmless — readers see the previous snapshot,
        # which is exactly snapshot isolation.
        if self.version() < version:
            tmp = os.path.join(self.root, f"._latest.{uuid.uuid4().hex}")
            with open(tmp, "w") as fh:
                fh.write(str(version))
            os.replace(tmp, os.path.join(self.root, _LATEST))  # atomic swap
        self._vacuum(_RETAIN)

    # ---------------------------------------------------------------- read
    def _dir_schema(self, path: str, schema: StructType) -> StructType:
        """The schema data dir ``path`` was written with, read on the driver
        from its first committed footer (no Spark job): the data columns
        from the Spark row schema the writer stores there, then the dir's
        ``k=v`` partition columns typed as in ``schema`` (the manifest's).
        All nullable, as a parquet scan reads them. A dir is immutable, so
        this never changes for a given manifest schema."""
        types = {f.name: f.dataType for f in schema.fields}
        for dirpath, _name, md in skipping.committed_footers(path):
            own = StructType.fromJson(json.loads((md.metadata or {})[_ROW_METADATA]))
            parts = [
                unquote(c.split("=", 1)[0])
                for c in os.path.relpath(dirpath, path).split(os.sep)
                if "=" in c
            ]
            return StructType(
                [StructField(f.name, f.dataType) for f in own.fields]
                + [StructField(k, types.get(k, StringType())) for k in parts]
            )
        raise FileNotFoundError(f"data dir {path} holds no committed parquet file")

    def _dir_table(self, path: str, own: StructType) -> str:
        """Name, in ``DIR_DB``, of the table over data dir ``path`` read as
        ``own``: the table root's key, the dir's name (``data/<name>``, as
        every writer here mints it) and the declared schema's key, so one
        name always means one location read one way."""
        key = hashlib.sha1(own.json().encode()).hexdigest()[:8]
        return f"{self._dir_prefix}{os.path.basename(path)}_{key}"

    @property
    def _dir_prefix(self) -> str:
        root = os.path.abspath(self.root).encode()
        return f"t{hashlib.sha1(root).hexdigest()[:12]}_"

    def _dir_selects(
        self, manifest: dict, rels: list[str] | None = None
    ) -> list[tuple[str, StructType, list[str]]]:
        """Per data dir of ``rels`` (default: all of ``manifest``'s), its
        path, the schema it was written with (``_dir_schema``: declared, so
        opening a dir runs no inference job, and a ``k=v`` value such as
        ``007`` keeps its written type) and the select list projecting it
        onto the MANIFEST schema: columns the dir predates are null-filled
        (mergeSchema), a column whose type an append widened is cast, and
        columns take the manifest's order. The manifest schema is not
        declared on the dirs directly: Spark's parquet reader cannot widen
        bigint to double, int to string or date to timestamp, which
        ``append`` produces. Both forms of the snapshot relation, ``_scan``
        and ``view_sql``, are built from this list."""
        schema = self._schema(manifest)
        out = []
        for rel in manifest["dirs"] if rels is None else rels:
            path = os.path.join(self.root, rel)
            own = self._dir_schema(path, schema)
            have = {f.name: f.dataType.simpleString() for f in own.fields}
            out.append((path, own, [_conformed(f, have.get(f.name)) for f in schema.fields]))
        return out

    def _scan(self, manifest: dict, rels: list[str] | None = None) -> DataFrame:
        """The snapshot relation over data dirs ``rels`` (default: all of
        ``manifest``'s): each dir's declared scan projected onto the
        manifest schema (``_dir_selects``), unioned.

        So the relation's schema is the manifest's whichever dirs are
        scanned: a merge target that prunes the dir holding a newer
        column, a snapshot widened by an append that contributed zero data
        files, and a zero-row snapshot (a typed empty relation) all expose
        the same columns as a full read."""
        frames = [
            self.spark.read.schema(own).parquet(path).selectExpr(*cols)
            for path, own, cols in self._dir_selects(manifest, rels)
        ]
        if not frames:
            return self.spark.createDataFrame([], self._schema(manifest))
        return reduce(DataFrame.union, frames)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot ``version`` (default: latest) — see ``_scan``."""
        v = self.version() if version is None else version
        return self._scan(self._manifest(v))

    def view_sql(self) -> tuple[dict[str, str], str]:
        """The latest snapshot as SQL, for a ``CREATE VIEW ... AS``:
        ``{name: CREATE TABLE statement}`` binding each of its data dirs
        once as an EXTERNAL, schema-declared table in the private
        ``DIR_DB`` (a dir is immutable, so its table never goes stale and
        need only be created once, and Spark's relation cache keeps its
        file listing across queries), and the view body, the relation
        ``read()`` returns as one ``SELECT`` per dir table glued with
        ``UNION ALL``. Neither opens a dir to infer its schema, and no
        DataFrame is built."""
        m = self._manifest(self.version())
        tables, selects = {}, []
        for path, own, cols in self._dir_selects(m):
            name = self._dir_table(path, own)
            loc = os.path.abspath(path).replace("\\", "\\\\").replace("'", "\\'")
            tables[name] = (
                f"CREATE TABLE IF NOT EXISTS {DIR_DB}.{name} ({own.toDDL()}) "
                f"USING parquet LOCATION '{loc}'"
            )
            selects.append(f"SELECT {', '.join(cols)} FROM {DIR_DB}.{name}")
        if not selects:
            empty = ", ".join(_conformed(f, None) for f in self._schema(m).fields)
            return {}, f"SELECT {empty} WHERE 1 = 0"
        return tables, " UNION ALL ".join(selects)

    def dir_tables_sql(self) -> str:
        """``SHOW TABLES`` over this table's dir tables in ``DIR_DB``."""
        return f"SHOW TABLES IN {DIR_DB} LIKE '{self._dir_prefix}*'"

    def drop_dir_tables_sql(self, names: list[str], gone_only: bool) -> list[str]:
        """``DROP TABLE`` statements for this table's dir tables among
        ``names`` (as ``dir_tables_sql`` lists them): only those whose data
        dir is gone (vacuumed; a query on an older view may still resolve a
        live one), or all of them. Dir tables are EXTERNAL, so a drop never
        deletes data."""
        prefix, out = self._dir_prefix, []
        for name in names:
            if not name.startswith(prefix):
                continue
            rel = os.path.join("data", name[len(prefix) :].rsplit("_", 1)[0])
            if not gone_only or not os.path.isdir(os.path.join(self.root, rel)):
                out.append(f"DROP TABLE IF EXISTS {DIR_DB}.{name}")
        return out

    # --------------------------------------------------------------- write
    def _write_data(self, df: DataFrame) -> tuple[str | None, dict | None]:
        """Write ``df`` into a fresh immutable data dir. Returns its
        root-relative path — None if the frame was empty (parquet emits no
        readable files for zero rows; an empty write must not poison the
        manifest with an unreadable dir) — and its zonemap ``{col: [min,
        max]}`` over every orderable scalar column, the write-time stats
        Delta keeps in its log for data skipping (None with no dir)."""
        rel = os.path.join("data", uuid.uuid4().hex)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        path = os.path.join(self.root, rel)
        writer.parquet(path)
        # Partition columns live in directory names, not footers, so a
        # partitioned dir's zonemap always comes from the aggregate job.
        has_rows, zonemap = self._footer_pass(
            path, None if self.partition_by else skipping.stats_cols(df.schema)
        )
        if has_rows:
            return rel, zonemap if zonemap is not None else self._dir_stats(rel, df.schema)
        # Dropping the dir keeps idempotent no-op appends from growing the
        # manifest by one empty dir per re-run.
        shutil.rmtree(path, ignore_errors=True)
        return None, None

    @staticmethod
    def _footer_pass(
        path: str, cols: list[str] | None
    ) -> tuple[bool, dict | None]:
        """One walk over a fresh dir's parquet footers (no Spark job): does
        any file hold rows, and, when ``cols`` is given, the dir's zonemap
        over them. A zero-row write still emits a schema-only file, and its
        footer carries the exact row count, so this replaces an
        ``isEmpty()`` job on every table write. The zonemap is
        all-or-nothing: None when any column's stats are missing or
        unreadable, or past ``_FOOTER_WALK_CAP`` files (serial driver reads;
        the distributed aggregate is then the right physics)."""
        footers, has_rows = [], False
        for _dir, _name, md in skipping.committed_footers(path):
            footers.append(md)
            has_rows = has_rows or md.num_rows > 0
            if has_rows and (cols is None or len(footers) > _FOOTER_WALK_CAP):
                return True, None
        if not has_rows:
            return False, None
        folded = skipping.fold_footers(footers)
        zonemap = {}
        for c in cols:
            s = folded.get(c)
            if s is None or not s.bounded or s.nulls is None:
                return True, None
            zonemap[c] = [s.lo, s.hi]  # [None, None]: an all-NULL column
        return True, zonemap

    def _dir_stats(self, rel: str, schema: StructType) -> dict:
        """A data dir's zonemap from one narrow aggregate job over the dir,
        read as ``schema`` (the frame just written into it): the fallback
        when its footers cannot serve it (same values)."""
        df = self.spark.read.schema(schema).parquet(os.path.join(self.root, rel))
        cols = skipping.stats_cols(df.schema)
        if not cols:
            return {}
        row = df.agg(*skipping.minmax_aggs(cols)).collect()[0]
        return skipping.zonemap_of(row, cols)

    def overwrite(self, df: DataFrame) -> None:
        """S8: full replace, new schema wins (overwriteSchema semantics).
        A blind write: on commit conflict it just claims the next slot —
        the data dir is already on disk, so a retry is metadata-only."""
        rel, zonemap = self._write_data(df)
        while True:
            try:
                self._commit(
                    self._next_version(),
                    [rel] if rel else [],
                    df.schema.json(),
                    {rel: zonemap} if rel else {},
                    op="OVERWRITE",
                )
                return
            except ConcurrentCommitError:
                continue

    def append(self, df: DataFrame) -> None:
        """S7: file-additive append — writes ONLY the new rows (O(new data)
        I/O); the new snapshot's manifest references every prior data dir
        byte-identical. New columns null-fill old rows at read time (Delta
        ``mergeSchema`` semantics), decided from the manifest schema: an
        append opens no existing data dir."""
        if not self.exists():
            return self.overwrite(df)
        rel, zonemap = self._write_data(df)
        new_stats = {rel: zonemap} if rel else {}
        while True:
            # Rebase onto whatever snapshot is newest RIGHT NOW: carry its
            # file list plus our (already-written) data dir. Losing the CAS
            # race costs one metadata re-read, never a data rewrite.
            base = self._next_version() - 1
            m = self._manifest(base)
            merged_schema = (
                self.spark.createDataFrame([], self._schema(m))
                .unionByName(df, allowMissingColumns=True)
                .schema.json()
            )
            try:
                self._commit(
                    base + 1,
                    m["dirs"] + ([rel] if rel else []),
                    merged_schema,
                    {**m.get("stats", {}), **new_stats},
                    op="APPEND",
                )
                return
            except ConcurrentCommitError:
                continue

    def merge(self, source: DataFrame, key: str | list[str]) -> None:
        """S9: keyed upsert — update-all matched rows, insert-all new rows.

        Requires the source to be unique per key (the reference pre-dedups
        with a row_number window before every merge — enforce upstream with
        ``operators.dedup.dedup_latest``; a duplicate-key source makes
        "update-all" ill-defined, which is exactly why Delta errors on it).

        File-pruned like Delta's merge: the distinct source keys (or the
        per-column envelope for multi-key/huge sources) are tested against
        each data dir's manifest zonemap, and dirs that cannot contain a
        source key are carried into the new snapshot BY REFERENCE — only
        overlapping dirs are read, anti-joined, and rewritten. A target row
        matching a source key necessarily lives in an overlapping dir, so
        the join over just those dirs is exact. An upsert of one day's keys into a date-keyed 100 TB
        table rewrites one day's files. The committed schema is the
        manifest's (the target scan carries every column, untouched dirs'
        included) plus any new source columns.
        """
        keys = [key] if isinstance(key, str) else list(key)
        if not self.exists():
            return self.overwrite(source)
        base = self._next_version() - 1
        m = self._manifest(base)
        stats = m.get("stats", {})
        touched = skipping.overlapping_units(
            ((rel, stats.get(rel, {})) for rel in m["dirs"]), keys, source
        )
        target = self._scan(m, touched).join(source.select(*keys), on=keys, how="left_anti")
        out = target.unionByName(source, allowMissingColumns=True)
        self._commit_rewrite(base, m, touched, out, "MERGE", out.schema.json())

    def _commit_rewrite(
        self,
        base: int,
        manifest: dict,
        touched: list[str],
        rewritten: DataFrame,
        op: str,
        schema_json: str,
    ) -> None:
        """Commit ``rewritten`` — computed from the ``touched`` dirs of
        snapshot ``base`` — as ``base + 1`` with schema ``schema_json``:
        write it as one new dir, carry every other dir (and its stats) by
        reference. Read-modify-write cannot rebase: if another writer
        claimed ``base + 1`` the output is stale, so its dir is GC'd and
        ConcurrentCommitError raised (Delta's ConcurrentAppendException
        analogue) instead of silently dropping the other writer's rows."""
        rel, zonemap = self._write_data(rewritten)
        dropped = set(touched)
        untouched = [r for r in manifest["dirs"] if r not in dropped]
        old_stats = manifest.get("stats", {})
        stats = {r: old_stats[r] for r in untouched if r in old_stats}
        if rel:
            stats[rel] = zonemap
        try:
            self._commit(
                base + 1,
                untouched + ([rel] if rel else []),
                schema_json,
                stats,
                op=op,
            )
        except ConcurrentCommitError:
            if rel:  # drop the orphaned output dir before re-raising
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise

    # -------------------------------------------------------------- hygiene
    def file_stats(self) -> dict:
        """File-level health of the current snapshot: count, bytes, and the
        small-file ratio. At 100 TB the failure mode this guards is the
        many-tiny-files table (per-file open/footer cost dominates the scan
        and the driver chokes on listing); file-additive appends drift there
        naturally."""
        v = self.version()
        sizes: list[int] = []
        for d in self.data_dirs(v):
            for dirpath, _dirs, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        sizes.append(os.path.getsize(os.path.join(dirpath, f)))
        total = sum(sizes)
        return {
            "version": v,
            "n_files": len(sizes),
            "n_data_dirs": len(self.data_dirs(v)),
            "total_bytes": total,
            "avg_bytes": total // len(sizes) if sizes else 0,
            "max_bytes": max(sizes) if sizes else 0,
        }

    def _vacuum(self, keep: int) -> None:
        """Drop manifests older than the last ``keep`` versions and the data
        dirs that only those dropped manifests referenced (Delta VACUUM
        analogue). Deliberately GCs ONLY dirs some expired manifest
        referenced: a dir referenced by NO manifest may be another writer's
        in-flight write that has not committed yet — deleting it would break
        the optimistic-concurrency protocol (Delta's tombstone-based vacuum
        has the same never-touch-unknown-files rule; its retention window
        covers crashed-writer orphans, which we leave in place)."""
        cur = self.version()
        if not os.path.isdir(self.root):
            return
        referenced: set[str] = set()
        expired: set[str] = set()
        for entry in os.listdir(self.root):
            if not entry.startswith("v=") or not entry.endswith(".manifest"):
                continue
            v = int(entry[len("v=") : -len(".manifest")])
            with open(os.path.join(self.root, entry)) as fh:
                dirs = json.load(fh)["dirs"]
            if v <= cur - keep:
                expired.update(dirs)
                os.remove(os.path.join(self.root, entry))
            else:
                referenced.update(dirs)
        for rel in expired - referenced:
            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)

    # ------------------------------------------------------------- helpers
    def high_water_mark(self, ts_col: str, default: str = "1970-01-01") -> Column:
        """Incremental watermark literal: max(ts) over the current snapshot,
        with an epoch default for the empty/first run (P7 semantics —
        reference: dbt/models/staging/stg_properties.sql:13-16). Collected on
        the driver as a scalar: one cheap agg over table stats, not a
        per-row subquery."""
        if not self.exists():
            return F.to_timestamp(F.lit(default))
        row = self.read().agg(F.max(ts_col).alias("hwm")).collect()[0]
        hwm = row["hwm"]
        return F.to_timestamp(F.lit(str(hwm) if hwm is not None else default))
