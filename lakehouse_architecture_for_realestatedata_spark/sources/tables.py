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

Concurrency: optimistic, Delta-style. A commit CLAIMS its version by
hard-linking the manifest into place — ``link(2)`` is create-exclusive, so
exactly one writer wins ``v=n+1`` and every loser gets
``ConcurrentCommitError`` (the same protocol as Delta's
put-if-absent ``n.json``). Blind writes rebase and retry automatically:
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

import json
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakehouse_architecture_for_realestatedata_spark.sources import skipping

_LATEST = "_latest"

#: Driver-side footer-walk budget for ``_footer_pass``: per-file footer
#: reads are serial driver Python — bounded for a fresh write's file set, a
#: stall on a large accumulated dir. Past this many files the distributed
#: aggregate job is the right physics.
_FOOTER_WALK_CAP = 1024


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

    def _commit(
        self,
        version: int,
        rel_dirs: list[str],
        schema_json: str,
        stats: dict | None = None,
        op: str = "WRITE",
        blooms: dict | None = None,
    ) -> None:
        """Claim ``version`` with create-exclusive semantics, then advance
        the pointer. The manifest is written to a temp name and hard-linked
        to its final name: link(2) fails with EEXIST if another writer
        already owns the slot → ConcurrentCommitError, nothing clobbered.
        A crash between link and pointer swap leaves a claimed-but-unpointed
        manifest; the next writer's _next_version skips past it. The schema
        rides in the manifest so an all-rows-deleted table still reads back
        empty with its columns intact; per-dir min/max column stats ride
        alongside for data skipping (``read_where``)."""
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".manifest.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "dirs": rel_dirs,
                    "schema": schema_json,
                    "stats": stats or {},
                    "blooms": {k: v for k, v in (blooms or {}).items() if v},
                    "op": op,
                },
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

    # ---------------------------------------------------------------- read
    def read(self, version: int | None = None) -> DataFrame:
        """Union of the snapshot's data-dir scans. Each dir self-describes
        its partition layout, filters/pruning push into every scan, and
        ``unionByName(allowMissingColumns)`` realizes mergeSchema semantics
        across appends that widened the schema.

        The MANIFEST schema governs: a snapshot whose schema was widened by
        an append that contributed zero data files (a legitimately empty
        batch) still exposes the new columns, null-filled — without this,
        the same pipeline run reads different schemas depending on whether
        a batch happened to carry rows."""
        v = self.version() if version is None else version
        with open(self._manifest_path(v)) as fh:
            schema = StructType.fromJson(json.loads(json.load(fh)["schema"]))
        dirs = self.data_dirs(v)
        if not dirs:  # zero-row snapshot: schema comes from the manifest
            return self.spark.createDataFrame([], schema)
        dfs = [self.spark.read.parquet(d) for d in dirs]
        out = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        missing = [f for f in schema.fields if f.name not in out.columns]
        if missing:
            out = out.withColumns(
                {f.name: F.lit(None).cast(f.dataType) for f in missing}
            )
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
        v = self.version()
        m = self._manifest(v)
        kept = self._matching_dirs(m, conds)
        df = self._read_rel_dirs(m, kept)
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

    def _read_rel_dirs(self, manifest: dict, rels: list[str]) -> DataFrame:
        """Scan of exactly ``rels`` (mergeSchema union); empty list → empty
        frame with the manifest's schema."""
        if not rels:
            schema = StructType.fromJson(json.loads(manifest["schema"]))
            return self.spark.createDataFrame([], schema)
        dfs = [self.spark.read.parquet(os.path.join(self.root, d)) for d in rels]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)

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
        new = [rel for rel in m["dirs"] if rel not in old]
        return self._read_rel_dirs(m, new)

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
            return rel, zonemap if zonemap is not None else self._dir_stats(rel)
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

    def _dir_stats(self, rel: str) -> dict:
        """A data dir's zonemap from one narrow aggregate job over the dir:
        the fallback when its footers cannot serve it (same values)."""
        df = self.spark.read.parquet(os.path.join(self.root, rel))
        cols = skipping.stats_cols(df.schema)
        if not cols:
            return {}
        row = df.agg(*skipping.minmax_aggs(cols)).collect()[0]
        return skipping.zonemap_of(row, cols)

    # ---------------------------------------------------------- properties
    _PROPS = "_props.json"

    def props(self) -> dict:
        """Table properties (Delta ``TBLPROPERTIES`` analogue) — writer-side
        settings that govern FUTURE writes, stored in a side file like
        constraints. Known keys: ``bloom_cols`` (list of columns to build
        per-dir bloom filters for) and ``cluster`` (write-time clustering
        spec, see ``set_clustering``)."""
        try:
            with open(os.path.join(self.root, self._PROPS)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def set_props(self, **updates) -> None:
        """Merge ``updates`` into the table properties (atomic replace;
        single-writer DDL like ``add_constraint``). A key set to None is
        removed."""
        cur = self.props()
        for k, v in updates.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = v
        os.makedirs(self.root, exist_ok=True)
        tmp = os.path.join(self.root, f".props.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(cur, fh)
        os.replace(tmp, os.path.join(self.root, self._PROPS))

    def set_bloom_filter(self, cols: list[str] | None) -> None:
        """Delta bloom-filter-index analogue: future writes build a per-dir
        bloom filter over each named column, stored in the manifest next to
        the zonemap stats. Zonemaps prune by [min,max] RANGE — useless for
        point lookups on high-cardinality unordered keys (a uuid/md5 doc_id
        spans the whole keyspace in every dir); the bloom answers "can this
        dir contain THIS key" with ~0.1% false positives at 2 bytes/key, so
        ``read_where(("doc_id", "=", k))`` and keyed MERGE touch only the
        dirs that actually hold the key. Existing dirs are not back-filled —
        run ``compact()`` to index history (same as Delta's bloom index
        applying to new files only)."""
        self.set_props(bloom_cols=list(cols) if cols else None)

    # Bloom sizing: m = 16 bits/key → with k=6 probes FPR ≈ 0.1%. The build
    # is one narrow Spark agg over the new dir per column (explode k probe
    # positions → bit_or per 64-bit lane) — O(new data), distributed, no
    # per-row Python. Probes hash driver-side values through the SAME JVM
    # xxhash64 via a 1-row local-relation job, so build and probe can never
    # drift (Spark's xxhash64 output depends on the column's physical type).
    _BLOOM_K = 6
    _BLOOM_BITS_PER_KEY = 16
    _BLOOM_MIN_BITS = 1 << 10
    _BLOOM_MAX_BITS = 1 << 20  # 128 KiB of manifest per (dir, col) at most
    _BLOOM_PROBE_CAP = 10_000  # driver-side membership tests per dir

    def _dir_blooms(self, rel: str | None) -> dict:
        """{col: {"m": bits, "k": probes, "b64": packed lanes}} for a freshly
        written data dir — empty unless ``bloom_cols`` is set."""
        import base64
        import struct

        cols = self.props().get("bloom_cols", [])
        if not cols or rel is None:
            return {}
        df = self.spark.read.parquet(os.path.join(self.root, rel))
        cols = [c for c in cols if c in df.columns]
        if not cols:
            return {}
        ndv = df.agg(
            *[F.approx_count_distinct(c).alias(f"__n{i}") for i, c in enumerate(cols)]
        ).collect()[0]
        out: dict = {}
        for i, c in enumerate(cols):
            target = max(
                self._BLOOM_MIN_BITS, int(ndv[f"__n{i}"]) * self._BLOOM_BITS_PER_KEY
            )
            m = min(self._BLOOM_MAX_BITS, 1 << (target - 1).bit_length())
            rows = (
                df.select(F.col(c).alias("v"))
                .where(F.col("v").isNotNull())
                .select(
                    F.explode(
                        F.array(
                            *[
                                F.pmod(F.xxhash64(F.col("v"), F.lit(s)), F.lit(m))
                                for s in range(self._BLOOM_K)
                            ]
                        )
                    ).alias("p")
                )
                .select(
                    (F.col("p") / F.lit(64)).cast("long").alias("lane"),
                    F.shiftleft(
                        F.lit(1).cast("bigint"), (F.col("p") % 64).cast("int")
                    ).alias("bit"),
                )
                .groupBy("lane")
                .agg(F.bit_or("bit").alias("bits"))
                .collect()
            )
            packed = bytearray(m // 8)
            for r in rows:
                struct.pack_into("<q", packed, int(r["lane"]) * 8, int(r["bits"]))
            out[c] = {"m": m, "k": self._BLOOM_K, "b64": base64.b64encode(bytes(packed)).decode()}
        return out

    def _bloom_hashes(self, values: list, dtype) -> list[list[int]] | None:
        """Per-value [k raw xxhash64 hashes], order-aligned with ``values``
        (which must be non-null), computed by the JVM over a local relation
        (no scan, one tiny job for ALL values). Per-dir positions are
        ``hash % m`` — Python ``%`` on a positive modulus matches Spark's
        ``pmod`` exactly. Returns None (= cannot prune) if the values don't
        coerce to the column type. An explicit row index carries the
        alignment so no assumption about collect() order is needed."""
        from pyspark.sql.types import LongType, StructField, StructType

        if not values:
            return []
        try:
            sdf = self.spark.createDataFrame(
                [(i, v) for i, v in enumerate(values)],
                StructType(
                    [StructField("i", LongType()), StructField("v", dtype)]
                ),
            )
            rows = sdf.select(
                "i",
                *[
                    F.xxhash64(F.col("v"), F.lit(s)).alias(f"h{s}")
                    for s in range(self._BLOOM_K)
                ],
            ).collect()
        except Exception:
            return None
        by_i = {r["i"]: [r[f"h{s}"] for s in range(self._BLOOM_K)] for r in rows}
        return [by_i[i] for i in range(len(values))]

    @staticmethod
    def _bloom_may_contain(bloom: dict, hashes: list[int]) -> bool:
        import base64
        import struct

        m = bloom["m"]
        lanes = struct.unpack(f"<{m // 64}q", base64.b64decode(bloom["b64"]))
        for h in hashes:
            p = h % m
            if not (lanes[p // 64] >> (p % 64)) & 1:
                return False
        return True

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

    def _validate_rel(self, rel: str | None) -> None:
        """Enforce CHECK constraints on a freshly-written data dir BEFORE it
        is committed: O(written data) — only the new/rewritten rows are
        re-read (columnar, footer-pruned to the constrained columns), never
        the rest of the table. On violation the orphan dir is GC'd and
        ``ConstraintViolationError`` raised; the previous snapshot stays
        live."""
        cons = self.constraints()
        if not cons or rel is None:
            return
        bad = self._violation_counts(
            self.spark.read.parquet(os.path.join(self.root, rel)), cons
        )
        if bad:
            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise ConstraintViolationError(self.root, bad)

    def overwrite(self, df: DataFrame) -> None:
        """S8: full replace, new schema wins (overwriteSchema semantics).
        A blind write: on commit conflict it just claims the next slot —
        the data dir is already on disk, so a retry is metadata-only."""
        rel, zonemap = self._write_data(df)
        self._validate_rel(rel)
        stats = {rel: zonemap} if rel else {}
        blooms = {rel: self._dir_blooms(rel)} if rel else {}
        while True:
            try:
                self._commit(
                    self._next_version(),
                    [rel] if rel else [],
                    df.schema.json(),
                    stats,
                    op="OVERWRITE",
                    blooms=blooms,
                )
                break
            except ConcurrentCommitError:
                continue
        self._vacuum(self.retain)

    def append(self, df: DataFrame, merge_schema: bool = True) -> None:
        """S7: file-additive append — writes ONLY the new rows (O(new data)
        I/O); the new snapshot's manifest references every prior data dir
        byte-identical. With ``merge_schema`` new columns null-fill old rows
        at read time (Delta ``mergeSchema`` semantics); without it a schema
        mismatch raises instead of silently widening."""
        if not self.exists():
            return self.overwrite(df)
        if not merge_schema:
            cur = {f.name: f.dataType for f in self.read().schema.fields}
            new = {f.name: f.dataType for f in df.schema.fields}
            if cur != new:
                raise ValueError(
                    f"append schema mismatch without merge_schema: table has "
                    f"{sorted(cur)}, frame has {sorted(new)}"
                )
        rel, zonemap = self._write_data(df)
        self._validate_rel(rel)
        new_stats = {rel: zonemap} if rel else {}
        new_blooms = {rel: self._dir_blooms(rel)} if rel else {}
        while True:
            # Rebase onto whatever snapshot is newest RIGHT NOW: carry its
            # file list plus our (already-written) data dir. Losing the CAS
            # race costs one metadata re-read, never a data rewrite.
            base = self._next_version() - 1
            prior = [os.path.relpath(d, self.root) for d in self.data_dirs(base)]
            merged_schema = (
                self.read(base).unionByName(df, allowMissingColumns=True).schema.json()
                if merge_schema
                else df.schema.json()
            )
            stats = {**self._manifest(base).get("stats", {}), **new_stats}
            blooms = {**self._manifest(base).get("blooms", {}), **new_blooms}
            try:
                self._commit(
                    base + 1,
                    prior + ([rel] if rel else []),
                    merged_schema,
                    stats,
                    op="APPEND",
                    blooms=blooms,
                )
                break
            except ConcurrentCommitError:
                continue
        self._vacuum(self.retain)

    def _overwrite_expecting(
        self, df: DataFrame, base: int, op: str = "OVERWRITE", validate: bool = False
    ) -> None:
        """Commit ``df`` as ``base + 1`` or abort. For read-modify-write ops:
        ``df`` was computed against snapshot ``base``, so if any other writer
        has claimed ``base + 1`` the output is stale — surface
        ConcurrentCommitError (Delta's ConcurrentAppendException analogue)
        instead of silently dropping the other writer's rows. ``validate``
        only for ops that can INTRODUCE constraint violations (UPDATE) —
        DELETE/OPTIMIZE re-emit rows that already passed."""
        rel, zonemap = self._write_data(df)
        if validate:
            self._validate_rel(rel)
        stats = {rel: zonemap} if rel else {}
        blooms = {rel: self._dir_blooms(rel)} if rel else {}
        try:
            self._commit(
                base + 1,
                [rel] if rel else [],
                df.schema.json(),
                stats,
                op=op,
                blooms=blooms,
            )
        except ConcurrentCommitError:
            if rel:  # drop the orphaned output dir before re-raising
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise
        self._vacuum(self.retain)

    def merge(
        self,
        source: DataFrame,
        key: str | list[str],
        when_matched: str = "update_all",
        prune: Column | None = None,
    ) -> None:
        """S9: keyed upsert — update-all matched rows, insert-all new rows.

        Requires the source to be unique per key (the reference pre-dedups
        with a row_number window before every merge — enforce upstream with
        ``operators.dedup.dedup_latest``; a duplicate-key source makes
        "update-all" ill-defined, which is exactly why Delta errors on it).

        ``prune``: optional predicate limiting which target rows can match
        (partition-prune analogue); rows failing ``prune`` are carried over
        untouched without joining.

        File-pruned like Delta's merge: the distinct source keys (or the
        per-column envelope for multi-key/huge sources) are tested against
        each data dir's manifest zonemap, and dirs that cannot contain a
        source key are carried into the new snapshot BY REFERENCE — only
        overlapping dirs are read, anti-joined, and rewritten. A target row matching a source key necessarily lives in
        an overlapping dir, so the join over just those dirs is exact (for
        insert-only mode too: the source-vs-target anti-join only needs the
        dirs that could hold a matching key). An upsert of one day's keys
        into a date-keyed 100 TB table rewrites one day's files.
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
        untouched = [rel for rel in m["dirs"] if rel not in set(touched)]
        target = self._read_rel_dirs(m, touched)

        if prune is not None:
            frozen = target.filter(~prune)
            target = target.filter(prune)

        if when_matched == "update_all":
            kept = target.join(source.select(*keys), on=keys, how="left_anti")
        elif when_matched == "keep_target":  # insert-only merge
            source = source.join(target.select(*keys), on=keys, how="left_anti")
            kept = target
        else:
            raise ValueError(f"unknown when_matched={when_matched!r}")

        out = kept.unionByName(source, allowMissingColumns=True)
        if prune is not None:
            out = frozen.unionByName(out, allowMissingColumns=True)
        # Full post-merge schema: every target column (from the manifest,
        # untouched dirs included) plus any new source columns.
        schema = StructType.fromJson(json.loads(m["schema"]))
        merged_schema = (
            self.spark.createDataFrame([], schema)
            .unionByName(out.limit(0), allowMissingColumns=True)
            .schema
        )
        self._commit_rewrite(
            base, m, untouched, out, merged_schema.json(), op="MERGE", validate=True
        )

    def delete_where(self, predicate: Column | tuple, *more: tuple) -> None:
        """Delete matching rows (Delta DELETE analogue). With a Column
        predicate every data dir is rewritten; with ``(col, op, value)``
        condition tuples (AND-combined, ``read_where`` grammar) the manifest
        zonemaps prove most dirs untouched and only dirs that may hold a
        matching row are rewritten — a retention delete on a time-keyed
        table costs O(expired slice), not O(table)."""
        base = self._next_version() - 1
        if isinstance(predicate, Column):
            self._overwrite_expecting(
                self.read(base).filter(~predicate), base, op="DELETE"
            )
            return
        conds = [predicate, *more]
        m = self._manifest(base)
        touched = self._matching_dirs(m, conds)
        if not touched:
            return  # zonemaps prove no row matches: nothing to do
        untouched = [rel for rel in m["dirs"] if rel not in set(touched)]
        survivors = self._read_rel_dirs(m, touched).filter(
            ~skipping.conds_filter(conds)
        )
        self._commit_rewrite(base, m, untouched, survivors, m["schema"], op="DELETE")

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
        schema = StructType.fromJson(json.loads(m["schema"]))
        known = {f.name for f in schema.fields}
        bad = set(assignments) - known
        if bad:
            raise ValueError(f"update_where: unknown columns {sorted(bad)}")

        def apply(df: DataFrame, cond: Column) -> DataFrame:
            for name, expr in assignments.items():
                df = df.withColumn(name, F.when(cond, expr).otherwise(F.col(name)))
            return df

        if isinstance(predicate, Column):
            self._overwrite_expecting(
                apply(self.read(base), predicate), base, op="UPDATE", validate=True
            )
            return
        conds = [predicate, *more]
        touched = self._matching_dirs(m, conds)
        if not touched:
            return
        untouched = [rel for rel in m["dirs"] if rel not in set(touched)]
        out = apply(self._read_rel_dirs(m, touched), skipping.conds_filter(conds))
        self._commit_rewrite(
            base, m, untouched, out, m["schema"], op="UPDATE", validate=True
        )

    def _commit_rewrite(
        self,
        base: int,
        manifest: dict,
        untouched: list[str],
        rewritten: DataFrame,
        schema_json: str,
        op: str = "REWRITE",
        validate: bool = False,
    ) -> None:
        """Commit a partial rewrite: carry ``untouched`` dirs (and their
        stats) by reference, write ``rewritten`` as one new dir. Aborts with
        ConcurrentCommitError on conflict (read-modify-write cannot rebase)
        and GCs its orphaned output dir, like ``_overwrite_expecting``.
        ``validate`` enforces CHECK constraints on the rewritten dir (MERGE /
        UPDATE — ops whose output contains NEW values)."""
        rel, zonemap = self._write_data(rewritten)
        if validate:
            self._validate_rel(rel)
        old_stats = manifest.get("stats", {})
        stats = {r: old_stats[r] for r in untouched if r in old_stats}
        old_blooms = manifest.get("blooms", {})
        blooms = {r: old_blooms[r] for r in untouched if r in old_blooms}
        if rel:
            stats[rel] = zonemap
            blooms[rel] = self._dir_blooms(rel)
        try:
            self._commit(
                base + 1,
                untouched + ([rel] if rel else []),
                schema_json,
                stats,
                op=op,
                blooms=blooms,
            )
        except ConcurrentCommitError:
            if rel:
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise
        self._vacuum(self.retain)

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
        n = max(1, -(-stats["total_bytes"] // target_bytes))  # ceil
        if not cluster_cols:
            df = self.read(base)
            if self.partition_by:
                df = df.repartition(n, *self.partition_by)
            else:
                df = df.repartition(n)
            # Abort-on-conflict: a concurrent append between our read and
            # commit would otherwise be silently dropped by the rewrite.
            self._overwrite_expecting(df, base, op="OPTIMIZE")
            return self.file_stats()

        from lakehouse_architecture_for_realestatedata_spark.plans.layout import cluster_by

        m = self._manifest(base)
        n = n_dirs or n
        df = cluster_by(self.read(base), cluster_cols, n_partitions=n, zorder=zorder)
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
        written = self.spark.read.parquet(staging)
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
        self._vacuum(self.retain)
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
                    blooms=m.get("blooms", {}),
                )
                break
            except ConcurrentCommitError:
                continue
        self._vacuum(self.retain)

    def vacuum(self, keep: int | None = None) -> None:
        """Explicit VACUUM: shrink retention to ``keep`` versions right now
        (default: the table's ``retain`` setting). Auto-vacuum already runs
        after every write; call this to reclaim history early — e.g. after
        a RESTORE you do not want to be able to re-undo."""
        self._vacuum(self.retain if keep is None else max(1, keep))

    def _vacuum(self, keep: int = 2) -> None:
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
