"""Parquet-backed tables with Delta-like write semantics.

The reference stores every table as Delta (Parquet + transaction log) and
leans on three write modes (SURVEY §2.1):
  - S7 append with schema merge  (reference: scripts/load_bronze_to_table.py:158)
  - S8 overwrite(+overwriteSchema) (reference: scripts/load_bronze_to_table.py:161)
  - S9 keyed MERGE upsert: whenMatchedUpdateAll / whenNotMatchedInsertAll
       (reference: scripts/normalize_bronze_columns.py:145-148)

Delta jars are not in this image, so ``ParquetTable`` re-creates the
*semantics* on plain parquet with a tiny manifest log — the same
file-additive design as the Delta transaction log:

    <root>/data/<uuid>/part-*.parquet   immutable data directory (one per write)
    <root>/v=<n>.manifest               JSON list of the data dirs in snapshot n
    <root>/_latest                      text file holding n (commit = atomic rename)

A snapshot is a *list of references* to immutable data directories, so:
  - APPEND writes only the new rows into a fresh data dir and commits a
    manifest of [old dirs..., new dir] — O(new data) I/O, like Delta's
    file-additive append, NOT a read-union-rewrite of the table (on a 100 TB
    bronze table a daily 1 TB append must cost 1 TB, not 101 TB);
  - prior snapshot files are reused byte-identical (never copied);
  - readers resolve ``_latest`` → manifest → scan exactly those dirs, which
    gives snapshot isolation (a writer never mutates a directory a reader may
    be scanning) and makes every write idempotent-retryable. This also
    removes the reference's need to restart its Thrift server to invalidate
    caches (reference: airflow/dags/end_to_end_pipeline.py:209-244): a
    re-read simply resolves the new pointer.

One scan builder (``_scan``) defines the snapshot relation: each data dir's
scan conformed to the manifest schema (columns it predates null-filled,
types cast, manifest column order), unioned. ``read``, ``read_where``,
``read_changes``, the MERGE / DELETE / UPDATE targets and ``compact`` take
its DataFrame; ``view_sql`` renders the same relation as the SQL the
``Catalog`` binds its views to: each data dir bound once as an EXTERNAL
table in the private database ``DIR_DB``, and a ``UNION ALL`` over those.
So every reader of a snapshot sees the same columns whichever dirs pruning
keeps.

No read infers a schema. A data dir is opened with the schema it was
written with, which the Spark writer stores in each parquet footer and the
driver reads without a Spark job (``_dir_schema``); its ``k=v`` partition
columns take the manifest's types. ``append`` merges schemas from the
manifest alone, and the reads of a freshly written dir (stats fallback,
CHECK validation, clustered compaction) declare the written frame's
schema. So building a relation, or binding a view, costs no Spark job
whatever the number of dirs, and a ``string`` partition value such as
``007`` reads back as written.

Concurrency: optimistic, Delta-style. A commit CLAIMS its version by
hard-linking the manifest into place — ``link(2)`` is create-exclusive, so
exactly one writer wins ``v=n+1`` and every loser gets
``ConcurrentCommitError`` (the same protocol as Delta's
put-if-absent ``n.json``). A won claim runs the auto-vacuum (``retain``
versions). Blind writes rebase and retry automatically:
append re-reads the winner's file list (its own data dir is already on
disk, so the retry is a metadata-only recommit), overwrite just claims the
next slot. Read-modify-write ops (merge / delete_where / compact) CANNOT
silently rebase — their output was computed against a snapshot that is no
longer latest — so they abort with ``ConcurrentCommitError`` for the caller
to re-run, exactly Delta's ConcurrentAppendException contract. Readers are
always safe (they only ever see fully-committed manifests).

Scale notes (100 TB):
  - MERGE is implemented as left_anti(target, source) ∪ source — one shuffle
    on the merge key, same join Delta itself plans for a full-table merge.
    Like Delta's file-pruned merge, the per-dir min/max stats in the
    manifest are used to REWRITE ONLY the data dirs whose key range
    overlaps the source's: on a time-keyed 100 TB table an upsert of one
    day's keys touches one day's files, not the table. ``delete_where``
    with ``(col, op, value)`` conditions prunes the same way. The footer
    stats, the zonemap test and the key-overlap pruning live in
    ``sources/skipping.py``, shared with the Delta format
    (``sources/delta_lite.py``); this module keeps only its manifest-side
    rules (all-or-nothing dir zonemaps, the aggregate-job fallback).
  - ``partition_by`` lays out data for partition pruning on read; the
    reference never partitions its tables (SURVEY §4 calls this out as perf
    left on the table) — we do.
  - appends accumulate data dirs; ``file_stats`` → ``compact`` bin-packs
    them back into one dir (Delta OPTIMIZE analogue).
  - CHECK constraints (``add_constraint``) are enforced pre-commit on the
    freshly-written dir only — O(new data), one fused aggregate — so a
    100 TB table pays validation proportional to the write, like Delta's
    invariant checks, not a full-table audit per write.
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

    Raised by read-modify-write ops (merge, delete_where, compact) whose
    computed output is stale — re-run them against the new snapshot. Blind
    append/overwrite never surface this: they rebase and retry internally.
    """


class ConstraintViolationError(ValueError):
    """A write would commit rows violating a table CHECK constraint.

    Carries ``violations``: {constraint_name: n_violating_rows}. Nothing was
    committed — the offending output dir is GC'd and the table still reads
    the previous snapshot (Delta's InvariantViolationException contract).
    """

    def __init__(self, root: str, violations: dict[str, int]):
        self.violations = violations
        super().__init__(
            f"write to {root} violates constraints {violations} — no rows "
            "committed"
        )


class ParquetTable:
    """A named, versioned parquet table rooted at ``root``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        partition_by: list[str] | None = None,
        retain: int = 2,
    ):
        """``retain``: versions kept by the auto-vacuum after each write —
        the time-travel / ``history()`` / ``restore()`` reach (Delta's
        ``logRetentionDuration``, counted in versions instead of hours).
        Retention is metadata-cheap; data dirs shared across snapshots are
        stored once, so raise it freely on audit-sensitive tables."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.partition_by = partition_by or []
        self.retain = max(1, retain)

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
        alongside for data skipping (``read_where``). A won claim then
        auto-vacuums to ``retain`` versions — the one place every write
        does."""
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
        self._vacuum(self.retain)

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
        scanned: a ``read_where`` that prunes the dir holding a newer
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

    def read_where(self, *conds: tuple) -> DataFrame:
        """Data-skipping scan (Delta zonemap analogue): each condition is a
        ``(col, op, value)`` tuple with op in ``= < <= > >= between``
        (between takes a ``(lo, hi)`` value), combined with AND.

        Data dirs whose manifest min/max stats PROVE the conjunction empty
        are dropped before Spark ever lists them — at 100 TB a
        time-range query over an append-mostly table (each append covers a
        narrow time slice) touches only the dirs that overlap it, on top of
        the parquet row-group pruning that still applies inside survivors.
        The same conditions are applied as real filters, so results are
        identical to ``read().filter(...)`` — skipping is purely a scan
        reduction. Conditions on columns without stats simply don't prune.
        """
        m = self._manifest(self.version())
        df = self._scan(m, self._matching_dirs(m, conds))
        return df.filter(skipping.conds_filter(conds))

    def _matching_dirs(self, manifest: dict, conds) -> list[str]:
        """Rel dirs the zonemaps CANNOT prove empty for the AND of ``conds``
        — the dirs a scan (or a rewrite of matching rows) must touch."""
        stats = manifest.get("stats", {})
        return [
            rel
            for rel in manifest["dirs"]
            if skipping.may_match(stats.get(rel, {}), conds)
        ]

    def read_changes(self, since: int, to: int | None = None) -> DataFrame:
        """Incremental consumption (Delta Change Data Feed analogue for the
        append-only case): the rows ADDED after snapshot ``since``, up to
        snapshot ``to`` (default: latest). Because data dirs are immutable
        and an APPEND manifest is strictly additive, the delta is exactly
        the dirs in ``to``'s manifest that ``since``'s lacks — a metadata
        diff; the scan reads O(changed data), never the table. This is how a
        downstream silver/gold build consumes a 100 TB bronze table without
        rescanning it: persist the version you last processed, then
        ``read_changes(last_v)`` next run.

        Only APPEND (and metadata-only RESTORE-to-superset) ranges are
        incremental-safe: OPTIMIZE rewrites the same rows into new dirs and
        MERGE/DELETE/UPDATE change old rows, so a dir-diff would misreport
        them. Any such op in the range raises ``ValueError`` — the consumer
        must fall back to a full re-read (Delta CDF without
        ``delta.enableChangeDataFeed`` row tracking has the same limit).
        A vacuumed-away ``since`` manifest raises ``FileNotFoundError`` —
        raise ``retain`` on tables consumed incrementally.
        """
        hi = self.version() if to is None else to
        if since > hi:
            raise ValueError(f"since={since} is ahead of to={hi}")
        for v in range(since + 1, hi + 1):
            op = self._manifest(v).get("op", "WRITE")
            if op != "APPEND":
                raise ValueError(
                    f"version {v} is {op}, not APPEND — dir-diff changes are "
                    "only exact for append-only ranges; re-read the snapshot"
                )
        m = self._manifest(hi)
        old = set(self._manifest(since)["dirs"])
        return self._scan(m, [rel for rel in m["dirs"] if rel not in old])

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

    # ---------------------------------------------------------- constraints
    _CONSTRAINTS = "_constraints.json"

    def constraints(self) -> dict[str, str]:
        """{name: boolean SQL expression} CHECK constraints on this table."""
        try:
            with open(os.path.join(self.root, self._CONSTRAINTS)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def add_constraint(self, name: str, expr: str) -> None:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK analogue: ``expr`` is a
        boolean SQL expression every row must satisfy (standard CHECK
        semantics — a row passes when the expression is TRUE **or NULL**;
        express NOT NULL as ``col IS NOT NULL``). Existing rows are validated
        first — one fused aggregate scan, the same full-table cost Delta pays
        on ADD CONSTRAINT — and the call raises ``ConstraintViolationError``
        if any current row violates, leaving the constraint un-added.

        Constraints live in a side file (``_constraints.json``), not in the
        snapshot manifests: they govern future WRITERS, not any particular
        snapshot, so time travel / RESTORE read old data without resurrecting
        old rules. Single-writer DDL (no CAS) — constraint changes are rare,
        coordinated operations, unlike data commits."""
        if self.exists():
            bad = self._violation_counts(self.read(), {name: expr})
            if bad:
                raise ConstraintViolationError(self.root, bad)
        cons = self.constraints()
        cons[name] = expr
        tmp = os.path.join(self.root, f".constraints.{uuid.uuid4().hex}")
        os.makedirs(self.root, exist_ok=True)
        with open(tmp, "w") as fh:
            json.dump(cons, fh)
        os.replace(tmp, os.path.join(self.root, self._CONSTRAINTS))

    def drop_constraint(self, name: str) -> None:
        cons = self.constraints()
        cons.pop(name, None)
        tmp = os.path.join(self.root, f".constraints.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(cons, fh)
        os.replace(tmp, os.path.join(self.root, self._CONSTRAINTS))

    def _violation_counts(
        self, df: DataFrame, cons: dict[str, str]
    ) -> dict[str, int]:
        """{name: n_rows where expr is FALSE} in ONE fused aggregate pass
        (NULL expression results pass, per SQL CHECK semantics). Missing
        columns evaluate as NULL — a schema-merged append that omits a
        constrained column passes, exactly like Delta null-filling it."""
        from pyspark.errors import AnalysisException

        aggs = []
        for i, (cname, expr) in enumerate(cons.items()):
            cond = ~F.expr(expr)
            try:
                df.select(cond)  # analysis probe, no job
            except AnalysisException as e:
                if "UNRESOLVED_COLUMN" in str(e):
                    continue  # constrained column absent → NULL → row passes
                raise
            aggs.append((cname, F.sum(F.when(cond, 1).otherwise(0)).alias(f"__v{i}")))
        if not aggs:
            return {}
        row = df.agg(*[a for _, a in aggs]).collect()[0]
        return {
            cname: int(row[i] or 0)
            for i, (cname, _) in enumerate(aggs)
            if int(row[i] or 0) > 0
        }

    def _validate_rel(self, rel: str | None, schema: StructType) -> None:
        """Enforce CHECK constraints on a freshly-written data dir BEFORE it
        is committed: O(written data) — only the new/rewritten rows are
        re-read (columnar, footer-pruned to the constrained columns, as
        ``schema``, the frame just written), never the rest of the table.
        On violation the orphan dir is GC'd and ``ConstraintViolationError``
        raised; the previous snapshot stays live."""
        cons = self.constraints()
        if not cons or rel is None:
            return
        bad = self._violation_counts(
            self.spark.read.schema(schema).parquet(os.path.join(self.root, rel)), cons
        )
        if bad:
            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise ConstraintViolationError(self.root, bad)

    def overwrite(self, df: DataFrame) -> None:
        """S8: full replace, new schema wins (overwriteSchema semantics).
        A blind write: on commit conflict it just claims the next slot —
        the data dir is already on disk, so a retry is metadata-only."""
        rel, zonemap = self._write_data(df)
        self._validate_rel(rel, df.schema)
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

    def append(self, df: DataFrame, merge_schema: bool = True) -> None:
        """S7: file-additive append — writes ONLY the new rows (O(new data)
        I/O); the new snapshot's manifest references every prior data dir
        byte-identical. With ``merge_schema`` new columns null-fill old rows
        at read time (Delta ``mergeSchema`` semantics); without it a schema
        mismatch raises instead of silently widening. Both are decided
        from the manifest schema: an append opens no existing data dir."""
        if not self.exists():
            return self.overwrite(df)
        if not merge_schema:
            m = self._manifest(self.version())
            cur = {f.name: f.dataType for f in self._schema(m).fields}
            new = {f.name: f.dataType for f in df.schema.fields}
            if cur != new:
                raise ValueError(
                    f"append schema mismatch without merge_schema: table has "
                    f"{sorted(cur)}, frame has {sorted(new)}"
                )
        rel, zonemap = self._write_data(df)
        self._validate_rel(rel, df.schema)
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
                if merge_schema
                else df.schema.json()
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

    def merge(
        self,
        source: DataFrame,
        key: str | list[str],
        when_matched: str = "update_all",
    ) -> None:
        """S9: keyed upsert — update-all matched rows, insert-all new rows
        (``when_matched="keep_target"``: insert-only, matched rows keep the
        target's values).

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
        the join over just those dirs is exact (for insert-only mode too:
        the source-vs-target anti-join only needs the dirs that could hold a
        matching key). An upsert of one day's keys into a date-keyed 100 TB
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
        target = self._scan(m, touched)
        if when_matched == "update_all":
            target = target.join(source.select(*keys), on=keys, how="left_anti")
        elif when_matched == "keep_target":  # insert-only merge
            source = source.join(target.select(*keys), on=keys, how="left_anti")
        else:
            raise ValueError(f"unknown when_matched={when_matched!r}")
        out = target.unionByName(source, allowMissingColumns=True)
        self._commit_rewrite(
            base, m, touched, out, "MERGE", out.schema.json(), validate=True
        )

    def _rewrite_scope(
        self, manifest: dict, predicate: Column | tuple, more: tuple
    ) -> tuple[list[str], Column]:
        """The dirs a DELETE / UPDATE rewrites and its row condition: every
        dir for a Column predicate; for ``(col, op, value)`` tuples only the
        dirs the zonemaps cannot prove untouched."""
        if isinstance(predicate, Column):
            return list(manifest["dirs"]), predicate
        conds = [predicate, *more]
        return self._matching_dirs(manifest, conds), skipping.conds_filter(conds)

    def delete_where(self, predicate: Column | tuple, *more: tuple) -> None:
        """Delete matching rows (Delta DELETE analogue). With a Column
        predicate every data dir is rewritten; with ``(col, op, value)``
        condition tuples (AND-combined, ``read_where`` grammar) the manifest
        zonemaps prove most dirs untouched and only dirs that may hold a
        matching row are rewritten — a retention delete on a time-keyed
        table costs O(expired slice), not O(table)."""
        base = self._next_version() - 1
        m = self._manifest(base)
        touched, cond = self._rewrite_scope(m, predicate, more)
        if not touched:
            return  # zonemaps prove no row matches: nothing to do
        survivors = self._scan(m, touched).filter(~cond)
        self._commit_rewrite(base, m, touched, survivors, "DELETE")

    def update_where(
        self,
        assignments: dict[str, Column],
        predicate: Column | tuple,
        *more: tuple,
    ) -> None:
        """Delta UPDATE analogue: set ``assignments`` on rows matching the
        predicate. Same pruning contract as ``delete_where``: a Column
        predicate rewrites every dir; ``(col, op, value)`` tuples rewrite
        only dirs the zonemaps cannot prove untouched. Assignments must
        target existing columns and preserve their types (untouched dirs
        keep the old schema, so a type change would fork the table schema)."""
        base = self._next_version() - 1
        m = self._manifest(base)
        known = {f.name for f in self._schema(m).fields}
        bad = set(assignments) - known
        if bad:
            raise ValueError(f"update_where: unknown columns {sorted(bad)}")
        touched, cond = self._rewrite_scope(m, predicate, more)
        if not touched:
            return
        out = self._scan(m, touched)
        for name, expr in assignments.items():
            out = out.withColumn(name, F.when(cond, expr).otherwise(F.col(name)))
        self._commit_rewrite(base, m, touched, out, "UPDATE", validate=True)

    def _commit_rewrite(
        self,
        base: int,
        manifest: dict,
        touched: list[str],
        rewritten: DataFrame,
        op: str,
        schema_json: str | None = None,
        validate: bool = False,
    ) -> None:
        """Commit ``rewritten`` — computed from the ``touched`` dirs of
        snapshot ``base`` — as ``base + 1``: write it as one new dir, carry
        every other dir (and its stats) by reference. A rewrite of every dir
        (``compact``, a Column-predicate DELETE / UPDATE) carries none.
        ``schema_json`` defaults to the manifest's. Read-modify-write cannot
        rebase: if another writer claimed ``base + 1`` the output is stale,
        so its dir is GC'd and ConcurrentCommitError raised (Delta's
        ConcurrentAppendException analogue) instead of silently dropping
        the other writer's rows. ``validate`` enforces CHECK constraints on
        the rewritten dir (MERGE / UPDATE — ops whose output contains NEW
        values; DELETE / OPTIMIZE re-emit rows that already passed)."""
        rel, zonemap = self._write_data(rewritten)
        if validate:
            self._validate_rel(rel, rewritten.schema)
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
                schema_json or manifest["schema"],
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
        naturally, so ``file_stats`` → ``compact`` is the maintenance loop —
        the analogue of Delta OPTIMIZE's bin-packing."""
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

    def compact(
        self,
        target_bytes: int = 128 << 20,
        cluster_cols: list[str] | None = None,
        zorder: bool = False,
        n_dirs: int | None = None,
    ) -> dict:
        """Bin-pack the current snapshot (Delta OPTIMIZE analogue) — also
        re-merges the data-dir list that appends grow. Snapshot isolation
        makes this safe online: the rewrite lands in new data dirs and
        readers flip on commit.

        Without ``cluster_cols``: one output dir, ~``target_bytes`` files
        (partitioned tables repartition on the partition columns).

        With ``cluster_cols`` (OPTIMIZE ZORDER analogue): ONE range-shuffle
        on the cluster key (interleaved-bit z-value when ``zorder`` and
        multiple columns — see ``plans.layout``) writes each range bucket as
        its OWN data dir, so the manifest zonemaps stay tight and
        ``read_where`` keeps pruning AFTER compaction — a plain compaction
        into one dir would collapse every range into a single un-prunable
        zonemap. Per-dir stats come from one extra pass over the written
        output (grouped by bucket), not a job per dir. ``n_dirs`` overrides
        the size-derived bucket count: the dir is the pruning unit, so at
        real scale size dirs in the GBs and let the writer handle file
        sizing inside each.

        Returns post-compaction ``file_stats``.
        """
        stats = self.file_stats()
        base = self._next_version() - 1
        m = self._manifest(base)
        n = max(1, -(-stats["total_bytes"] // target_bytes))  # ceil
        if not cluster_cols:
            df = self._scan(m).repartition(n, *self.partition_by)
            # Abort-on-conflict: a concurrent append between our read and
            # commit would otherwise be silently dropped by the rewrite.
            self._commit_rewrite(base, m, m["dirs"], df, "OPTIMIZE")
            return self.file_stats()

        from lakehouse_architecture_for_realestatedata_spark.plans.layout import cluster_by

        n = n_dirs or n
        df = cluster_by(self._scan(m), cluster_cols, n_partitions=n, zorder=zorder)
        # Tag each range bucket with its partition id and let ONE distributed
        # write fan the buckets into hive subdirs; each subdir is then
        # promoted (a driver-side rename) to a first-class data dir.
        staging_rel = os.path.join("data", f".zstage.{uuid.uuid4().hex}")
        staging = os.path.join(self.root, staging_rel)
        staged = df.withColumn("__zb", F.spark_partition_id())
        writer = staged.write.mode("overwrite")
        writer = writer.partitionBy("__zb", *self.partition_by)
        writer.parquet(staging)

        # One pass over the written output for all per-bucket zonemaps.
        written = self.spark.read.schema(staged.schema).parquet(staging)
        cols = skipping.stats_cols(written.drop("__zb").schema)
        by_bucket: dict[int, dict] = {}
        if cols:
            rows = written.groupBy("__zb").agg(*skipping.minmax_aggs(cols)).collect()
            by_bucket = {r["__zb"]: skipping.zonemap_of(r, cols) for r in rows}

        rels: list[str] = []
        dir_stats: dict[str, dict] = {}
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("__zb="):
                continue
            bucket = int(entry.split("=", 1)[1])
            rel = os.path.join("data", uuid.uuid4().hex)
            os.rename(os.path.join(staging, entry), os.path.join(self.root, rel))
            rels.append(rel)
            dir_stats[rel] = by_bucket.get(bucket, {})
        shutil.rmtree(staging, ignore_errors=True)
        try:
            self._commit(base + 1, rels, m["schema"], dir_stats, op="OPTIMIZE")
        except ConcurrentCommitError:
            for rel in rels:
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise
        return self.file_stats()

    def history(self) -> list[dict]:
        """Audit log of the RETAINED versions (DESCRIBE HISTORY analogue):
        one row per manifest still on disk — version, operation, data-dir
        count, and commit wall-time (manifest file mtime). ``_vacuum``'s
        retention window bounds how far back this (and ``restore``) reaches,
        exactly like Delta's ``delta.logRetentionDuration``."""
        out = []
        if not os.path.isdir(self.root):
            return out
        for entry in sorted(os.listdir(self.root)):
            if not entry.startswith("v=") or not entry.endswith(".manifest"):
                continue
            v = int(entry[len("v=") : -len(".manifest")])
            m = self._manifest(v)
            out.append(
                {
                    "version": v,
                    "op": m.get("op", "WRITE"),
                    "n_data_dirs": len(m["dirs"]),
                    "committed_at": os.path.getmtime(
                        os.path.join(self.root, entry)
                    ),
                }
            )
        return sorted(out, key=lambda r: r["version"])

    def restore(self, version: int) -> None:
        """RESTORE TABLE ... TO VERSION AS OF analogue: re-commit an old
        retained snapshot's exact dir list as the NEW latest version —
        metadata-only (no data copied; the old dirs are immutable and still
        referenced, so vacuum keeps them alive)."""
        m = self._manifest(version)  # FileNotFoundError if vacuumed away
        while True:
            try:
                self._commit(
                    self._next_version(),
                    m["dirs"],
                    m["schema"],
                    m.get("stats", {}),
                    op="RESTORE",
                )
                return
            except ConcurrentCommitError:
                continue

    def vacuum(self, keep: int | None = None) -> None:
        """Explicit VACUUM: shrink retention to ``keep`` versions right now
        (default: the table's ``retain`` setting). Auto-vacuum already runs
        after every write; call this to reclaim history early — e.g. after
        a RESTORE you do not want to be able to re-undo."""
        self._vacuum(self.retain if keep is None else max(1, keep))

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
