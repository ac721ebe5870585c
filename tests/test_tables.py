"""ParquetTable: Delta-semantics (append/overwrite/merge/snapshot) tests —
the invariants the reference relies on but never asserts (SURVEY §5):
PK uniqueness post-MERGE, idempotent re-runs, schema evolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.sources.tables import ParquetTable


def _df(spark, rows, schema="id int, val string, ts timestamp"):
    return spark.createDataFrame(rows, schema)


def test_overwrite_and_read(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t1"))
    t.overwrite(_df(spark, [(1, "a", None), (2, "b", None)]))
    assert t.read().count() == 2
    t.overwrite(_df(spark, [(3, "c", None)]))
    assert t.read().count() == 1
    assert t.version() == 1


def test_append_with_schema_merge(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t2"))
    t.append(spark.createDataFrame([(1, "a")], "id int, val string"))
    t.append(spark.createDataFrame([(2, "b", 9.5)], "id int, val string, extra double"))
    out = t.read()
    assert set(out.columns) == {"id", "val", "extra"}
    row = {r["id"]: r for r in out.collect()}
    assert row[1]["extra"] is None and row[2]["extra"] == 9.5


def _parquet_files(d):
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def test_append_is_file_additive(spark, tmp_path):
    """The 100 TB contract: appending N rows costs O(N) I/O — the prior
    snapshot's files are referenced by the new manifest byte-identical,
    never read, copied, or rewritten."""
    t = ParquetTable(spark, str(tmp_path / "t10"))
    t.overwrite(spark.range(1000).select(F.col("id"), F.lit("base").alias("val")))
    base_files = _parquet_files(t.data_dirs()[0])
    assert base_files

    t.append(spark.range(1000, 1010).select(F.col("id"), F.lit("inc").alias("val")))
    dirs = t.data_dirs()
    assert len(dirs) == 2  # one prior dir referenced + one new dir written
    # prior files untouched: same paths, sizes, mtimes (reused, not copied)
    assert _parquet_files(dirs[0]) == base_files
    # the new dir holds only the increment
    inc_rows = spark.read.parquet(dirs[1]).count()
    assert inc_rows == 10
    assert t.read().count() == 1010


def test_append_empty_increment_keeps_snapshot(spark, tmp_path):
    """A zero-row append (idempotent ingest re-run) must not add unreadable
    dirs or change the data."""
    t = ParquetTable(spark, str(tmp_path / "t11"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, val string"))
    t.append(spark.createDataFrame([], "id int, val string"))
    assert len(t.data_dirs()) == 1
    assert t.read().count() == 1


def test_append_opens_no_existing_dir(spark, tmp_path, monkeypatch):
    """An append decides the merged schema (and the ``merge_schema=False``
    check) from the manifest alone: neither a parquet read nor a footer
    schema read touches a dir the table already holds."""
    t = ParquetTable(spark, str(tmp_path / "noscan"))
    t.overwrite(_df(spark, [(1, "a", None)]))
    t.append(_df(spark, [(2, "b", None)]))
    t.append(spark.createDataFrame([(3, "c", None, 1.5)], "id int, val string, ts timestamp, x double"))
    old = t.data_dirs()
    assert len(old) == 3

    reader = type(spark.read)
    real_parquet, real_schema, seen = reader.parquet, ParquetTable._dir_schema, []

    def spy_parquet(self, *paths, **kw):
        seen.extend(paths)
        return real_parquet(self, *paths, **kw)

    def spy_schema(self, path, schema):
        seen.append(path)
        return real_schema(self, path, schema)

    monkeypatch.setattr(reader, "parquet", spy_parquet)
    monkeypatch.setattr(ParquetTable, "_dir_schema", spy_schema)
    t.append(spark.createDataFrame([(4, "d", None, "n")], "id int, val string, ts timestamp, note string"))
    wide = "id int, val string, ts timestamp, x double, note string"
    t.append(spark.createDataFrame([(5, "e", None, 2.5, None)], wide), merge_schema=False)
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(_df(spark, [(6, "f", None)]), merge_schema=False)
    monkeypatch.undo()
    assert not set(seen) & set(old)
    assert t.read().dtypes == [
        ("id", "int"), ("val", "string"), ("ts", "timestamp"), ("x", "double"), ("note", "string")
    ]
    assert t.read().count() == 5


def test_append_schema_mismatch_raises_without_merge(spark, tmp_path):
    import pytest

    t = ParquetTable(spark, str(tmp_path / "t12"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, val string"))
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(
            spark.createDataFrame([(2, "b", 1.0)], "id int, val string, extra double"),
            merge_schema=False,
        )


def test_merge_upsert_update_and_insert(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t3"))
    t.overwrite(spark.createDataFrame([(1, "old"), (2, "keep")], "id int, val string"))
    t.merge(spark.createDataFrame([(1, "new"), (3, "ins")], "id int, val string"), key="id")
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows == {1: "new", 2: "keep", 3: "ins"}
    # PK stays unique after merge (the invariant the reference's dbt tests assert)
    assert t.read().groupBy("id").count().filter(F.col("count") > 1).count() == 0
    # a bigint key past 2**53 must not be pruned against its dir's
    # float-rounded bounds: the row is updated, not duplicated
    big = 2**53 + 1
    t = ParquetTable(spark, str(tmp_path / "t3big"))
    t.overwrite(spark.createDataFrame([(big, "old")], "id bigint, val string"))
    t.merge(spark.createDataFrame([(big, "new")], "id bigint, val string"), key="id")
    assert [tuple(r) for r in t.read().collect()] == [(big, "new")]


def test_merge_idempotent(spark, tmp_path):
    """Re-running the same merge must not change table state (SURVEY §5)."""
    t = ParquetTable(spark, str(tmp_path / "t4"))
    src = spark.createDataFrame([(1, "x"), (2, "y")], "id int, val string")
    t.merge(src, key="id")
    first = sorted(map(tuple, t.read().collect()))
    t.merge(src, key="id")
    assert sorted(map(tuple, t.read().collect())) == first


def test_merge_insert_only(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t5"))
    t.overwrite(spark.createDataFrame([(1, "orig")], "id int, val string"))
    t.merge(
        spark.createDataFrame([(1, "clobber"), (2, "new")], "id int, val string"),
        key="id",
        when_matched="keep_target",
    )
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows == {1: "orig", 2: "new"}


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t6"))
    t.overwrite(spark.createDataFrame([(1, "v0")], "id int, val string"))
    old = t.version()
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, val string"))
    assert t.read(old).collect()[0]["val"] == "v0"
    assert t.read().collect()[0]["val"] == "v1"


def test_compact_binpacks_small_files(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t8"))
    t.overwrite(spark.range(10000).repartition(16).select(F.col("id"), (F.col("id") % 7).alias("g")))
    before = t.file_stats()
    assert before["n_files"] == 16
    data_before = sorted(map(tuple, t.read().collect()))
    after = t.compact(target_bytes=1 << 30)  # everything fits one file
    assert after["n_files"] == 1
    assert after["version"] == before["version"] + 1
    assert sorted(map(tuple, t.read().collect())) == data_before


def test_compact_preserves_partition_layout(spark, tmp_path):
    import os

    t = ParquetTable(spark, str(tmp_path / "t9"), partition_by=["g"])
    t.overwrite(
        spark.range(2000).repartition(8).select(F.col("id"), (F.col("id") % 3).alias("g"))
    )
    assert t.file_stats()["n_files"] > 3  # several files per partition dir
    t.compact(target_bytes=1 << 30)
    (snap,) = t.data_dirs()  # compaction re-merges to one data dir
    dirs = sorted(d for d in os.listdir(snap) if d.startswith("g="))
    assert dirs == ["g=0", "g=1", "g=2"]  # pruning layout survives compaction
    assert t.read().count() == 2000


def test_high_water_mark(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t7"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", "2024-03-01 10:00:00")], "id int, val string, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
    )
    df = spark.range(1).select(t.high_water_mark("ts").alias("hwm"))
    assert str(df.collect()[0]["hwm"]) == "2024-03-01 10:00:00"


# ---------------------------------------------------------------- concurrency
# Optimistic CAS (hard-link-exclusive manifest claim). The interleaved writer
# is injected between _write_data and _commit — the exact race window.


def _race(table, spark, root, racing_df):
    """Monkeypatch ``table`` so a competing writer commits an append in the
    middle of ``table``'s next write transaction."""
    orig = table._write_data

    def write_then_lose_race(df):
        rel = orig(df)
        ParquetTable(spark, root).append(racing_df)
        table._write_data = orig  # race once, not on the rebase retry
        return rel

    table._write_data = write_then_lose_race


def test_append_race_rebases_and_keeps_both(spark, tmp_path):
    root = str(tmp_path / "race1")
    t = ParquetTable(spark, root)
    t.overwrite(_df(spark, [(1, "base", None)]))
    _race(t, spark, root, _df(spark, [(2, "racer", None)]))
    t.append(_df(spark, [(3, "mine", None)]))
    vals = {r["val"] for r in t.read().collect()}
    assert vals == {"base", "racer", "mine"}  # nobody's write was lost


def test_merge_race_aborts_not_clobbers(spark, tmp_path):
    import pytest

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import (
        ConcurrentCommitError,
    )

    root = str(tmp_path / "race2")
    t = ParquetTable(spark, root)
    t.overwrite(_df(spark, [(1, "base", None)]))
    _race(t, spark, root, _df(spark, [(2, "racer", None)]))
    with pytest.raises(ConcurrentCommitError):
        t.merge(_df(spark, [(1, "merged", None)]), key="id")
    # the interleaved append survives; the stale merge output never landed
    vals = {r["val"] for r in t.read().collect()}
    assert vals == {"base", "racer"}


def test_crashed_claim_is_skipped(spark, tmp_path):
    """A manifest linked by a writer that died before the pointer swap must
    not wedge the table: the next commit claims the slot after it."""
    import json
    import os

    root = str(tmp_path / "race3")
    t = ParquetTable(spark, root)
    t.overwrite(_df(spark, [(1, "a", None)]))
    with open(t._manifest_path(0)) as fh:
        m = json.load(fh)
    with open(t._manifest_path(1), "w") as fh:  # orphan claim, pointer still 0
        json.dump(m, fh)
    assert t.version() == 0
    t.append(_df(spark, [(2, "b", None)]))
    assert t.version() == 2  # skipped the orphaned v=1
    assert t.read().count() == 2


# ------------------------------------------------------------- data skipping


def test_read_where_skips_disjoint_dirs(spark, tmp_path):
    """Zonemap pruning: three appends with disjoint id ranges; a range scan
    must (a) return exactly the matching rows and (b) not even list the
    files of provably-disjoint dirs."""
    t = ParquetTable(spark, str(tmp_path / "zm1"))
    t.append(_df(spark, [(i, "lo", None) for i in range(0, 10)]))
    t.append(_df(spark, [(i, "mid", None) for i in range(100, 110)]))
    t.append(_df(spark, [(i, "hi", None) for i in range(200, 210)]))

    out = t.read_where(("id", "between", (100, 109)))
    assert {r["val"] for r in out.collect()} == {"mid"}
    # only the mid dir's files were scanned
    scanned = {"/" + f.split(":", 1)[1].lstrip("/") for f in out.inputFiles()}
    all_dirs = t.data_dirs()
    touched = {d for d in all_dirs if any(f.startswith(d + "/") for f in scanned)}
    assert len(touched) == 1

    # result identical to the unpruned filter
    assert out.count() == t.read().filter("id between 100 and 109").count()


def test_read_where_ops_and_strings(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "zm2"))
    t.append(_df(spark, [(1, "apple", None), (2, "banana", None)]))
    t.append(_df(spark, [(3, "yak", None), (4, "zebra", None)]))
    assert t.read_where(("val", ">=", "yak")).count() == 2
    assert len(t.read_where(("val", ">=", "yak")).inputFiles()) < len(t.read().inputFiles())
    assert t.read_where(("id", "<", 2)).count() == 1
    assert t.read_where(("id", ">", 100)).count() == 0
    assert t.read_where(("val", "=", "banana")).count() == 1


def test_read_where_schema_drift_and_nulls(spark, tmp_path):
    """Dirs written before a column existed have no stats for it — they must
    be kept (and null-filtered), never wrongly skipped; an all-NULL dir is
    provably skippable for any comparison."""
    t = ParquetTable(spark, str(tmp_path / "zm3"))
    t.append(_df(spark, [(1, "old", None)]))
    t.append(
        spark.createDataFrame([(2, "new", None, 7.5)], "id int, val string, ts timestamp, score double")
    )
    out = t.read_where(("score", ">", 5.0))
    assert [r["val"] for r in out.collect()] == ["new"]
    # all-null dir: skipped outright
    t2 = ParquetTable(spark, str(tmp_path / "zm4"))
    t2.append(spark.createDataFrame([(1, None)], "id int, score double"))
    t2.append(spark.createDataFrame([(2, 9.0)], "id int, score double"))
    out2 = t2.read_where(("score", ">=", 0.0))
    assert out2.count() == 1
    assert len(out2.inputFiles()) < len(t2.read().inputFiles())


# ------------------------------------------------- file-pruned merge/delete


def _three_band_table(spark, tmp_path, name):
    """Three appends with disjoint id ranges → three zonemapped data dirs."""
    t = ParquetTable(spark, str(tmp_path / name))
    t.append(_df(spark, [(i, "lo", None) for i in range(0, 10)]))
    t.append(_df(spark, [(i, "mid", None) for i in range(100, 110)]))
    t.append(_df(spark, [(i, "hi", None) for i in range(200, 210)]))
    return t


def test_merge_rewrites_only_overlapping_dirs(spark, tmp_path):
    """An upsert whose keys land in one dir's range must carry the other
    dirs by reference (same paths, bytes untouched) and still produce the
    exact full-table merge result."""
    t = _three_band_table(spark, tmp_path, "pm1")
    before = set(t.data_dirs())
    t.merge(_df(spark, [(105, "UPD", None), (300, "NEW", None)]), key="id")
    after = set(t.data_dirs())
    assert len(before & after) == 2  # lo + hi dirs reused by reference
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert len(rows) == 31
    assert rows[105] == "UPD" and rows[300] == "NEW"
    assert rows[0] == "lo" and rows[200] == "hi" and rows[100] == "mid"


def test_merge_insert_only_pruned(spark, tmp_path):
    t = _three_band_table(spark, tmp_path, "pm2")
    before = set(t.data_dirs())
    t.merge(
        _df(spark, [(105, "CLOBBER", None), (106, "NEW", None)]),
        key="id",
        when_matched="keep_target",
    )
    assert len(before & set(t.data_dirs())) == 2
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows[105] == "mid"  # existing row kept
    assert rows[106] == "mid"  # key existed → source row dropped
    assert len(rows) == 30


def test_merge_all_null_source_keys_is_pure_insert(spark, tmp_path):
    t = _three_band_table(spark, tmp_path, "pm3")
    before = set(t.data_dirs())
    t.merge(_df(spark, [(None, "nullkey", None)]), key="id")
    assert before <= set(t.data_dirs())  # every dir carried by reference
    assert t.read().count() == 31


def test_nan_bounds_never_prune(spark, tmp_path):
    """Spark writes a NaN max into the parquet footer, and its max()
    aggregate returns NaN, so a dir holding NaN gets a NaN bound. It proves
    nothing (NaN sorts above every number): neither a filtered read nor
    a keyed MERGE may skip the dir."""
    t = ParquetTable(spark, str(tmp_path / "nan"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 1.0), (2, float("nan")), (3, 5.0)], "id int, x double"
        ).coalesce(1)
    )
    assert t.read_where(("x", "=", 5.0)).count() == 1
    assert t.read_where(("x", ">", 3.0)).count() == 2  # 5.0 and NaN
    t.merge(spark.createDataFrame([(30, 5.0)], "id int, x double"), key="x")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 30]


def test_delete_where_conds_prunes_dirs(spark, tmp_path):
    t = _three_band_table(spark, tmp_path, "pd1")
    before = set(t.data_dirs())
    t.delete_where(("id", "between", (100, 104)))
    after = set(t.data_dirs())
    assert len(before & after) == 2  # lo + hi untouched
    assert t.read().count() == 25
    assert t.read().filter("id between 100 and 104").count() == 0
    # provably-no-match delete is a metadata no-op: no new version
    v = t.version()
    t.delete_where(("id", ">", 100000))
    assert t.version() == v
    # Column-predicate path still works (full rewrite)
    t.delete_where(F.col("val") == "hi")
    assert t.read().count() == 15


def test_merge_schema_widening_survives_pruning(spark, tmp_path):
    """Source with a new column: untouched dirs lack it; the manifest schema
    and read() must still surface it (NULL for untouched rows)."""
    t = _three_band_table(spark, tmp_path, "pm4")
    src = spark.createDataFrame(
        [(105, "UPD", None, 9.9)], "id int, val string, ts timestamp, score double"
    )
    t.merge(src, key="id")
    out = t.read()
    assert "score" in out.columns
    got = {r["id"]: r["score"] for r in out.collect() if r["id"] in (0, 105)}
    assert got[105] == 9.9 and got[0] is None


def test_update_where_pruned_and_full(spark, tmp_path):
    t = _three_band_table(spark, tmp_path, "pu1")
    before = set(t.data_dirs())
    t.update_where({"val": F.lit("FIXED")}, ("id", "between", (102, 104)))
    assert len(before & set(t.data_dirs())) == 2  # lo + hi untouched
    rows = {r["id"]: r["val"] for r in t.read().collect()}
    assert rows[103] == "FIXED" and rows[105] == "mid" and rows[0] == "lo"
    # Column-predicate path (full rewrite), and unknown-column rejection
    t.update_where({"val": F.lit("HI")}, F.col("val") == "hi")
    assert {r["val"] for r in t.read().filter("id >= 200").collect()} == {"HI"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        t.update_where({"nope": F.lit(1)}, ("id", "=", 1))
    # provably-no-match update is a metadata no-op
    v = t.version()
    t.update_where({"val": F.lit("X")}, ("id", ">", 99999))
    assert t.version() == v


def test_history_and_restore(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "hr1"))
    t.overwrite(_df(spark, [(1, "a", None)]))
    t.append(_df(spark, [(2, "b", None)]))
    t.delete_where(("id", "=", 1))
    h = t.history()
    assert [r["op"] for r in h[-2:]] == ["APPEND", "DELETE"]
    assert t.read().count() == 1
    # restore to the pre-delete version: metadata-only, rows come back
    pre_delete = h[-2]["version"]
    t.restore(pre_delete)
    assert t.read().count() == 2
    assert t.history()[-1]["op"] == "RESTORE"


def test_compact_clustered_keeps_pruning(spark, tmp_path):
    """OPTIMIZE-ZORDER analogue: after a clustered compaction the table has
    n range-bucketed dirs, total rows intact, and read_where still skips
    non-overlapping dirs — a plain compact would collapse to 1 dir and kill
    data skipping."""
    t = ParquetTable(spark, str(tmp_path / "zc1"))
    # interleaved appends so each original dir spans the whole id range
    t.append(_df(spark, [(i, "a", None) for i in range(0, 300, 3)]))
    t.append(_df(spark, [(i, "b", None) for i in range(1, 300, 3)]))
    t.append(_df(spark, [(i, "c", None) for i in range(2, 300, 3)]))
    # pre-compaction: every dir overlaps any id range → no pruning possible
    assert len(t.read_where(("id", "between", (0, 9))).inputFiles()) == len(
        t.read().inputFiles()
    )
    t.compact(cluster_cols=["id"], n_dirs=4)
    assert t.history()[-1]["op"] == "OPTIMIZE"
    assert len(t.data_dirs()) == 4
    assert t.read().count() == 300
    out = t.read_where(("id", "between", (0, 9)))
    assert out.count() == 10
    assert len(out.inputFiles()) < len(t.read().inputFiles())


def test_compact_clustered_partitioned_table(spark, tmp_path):
    import os

    t = ParquetTable(spark, str(tmp_path / "zc2"), partition_by=["g"])
    t.overwrite(
        spark.range(900).select(F.col("id"), (F.col("id") % 3).alias("g"))
    )
    t.compact(cluster_cols=["id"], n_dirs=3)
    assert t.read().count() == 900
    # each promoted dir keeps the hive layout for partition pruning
    for d in t.data_dirs():
        assert any(e.startswith("g=") for e in os.listdir(d))
    # zonemap pruning on the cluster key still works
    assert len(t.read_where(("id", "<", 100)).inputFiles()) < len(
        t.read().inputFiles()
    )


def test_compact_clustered_zorder_two_cols(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "zc3"))
    t.overwrite(
        spark.range(4096).select(
            (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("int").alias("y")
        )
    )
    t.compact(cluster_cols=["x", "y"], zorder=True, n_dirs=8)
    assert t.read().count() == 4096
    # a box query in (x, y) space touches a subset of dirs
    out = t.read_where(("x", "between", (0, 7)), ("y", "between", (0, 7)))
    assert out.count() == 8 * 8
    assert len(out.inputFiles()) < len(t.read().inputFiles())


def test_check_constraint_blocks_bad_append(spark, tmp_path):
    """Delta CHECK-constraint analogue: violating writes commit NOTHING, the
    previous snapshot stays live, and the orphan data dir is GC'd."""
    import pytest as _pytest

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ConstraintViolationError

    t = ParquetTable(spark, str(tmp_path / "c1"))
    t.overwrite(_df(spark, [(1, "a", None)]))
    t.add_constraint("id_positive", "id > 0")
    t.add_constraint("val_known", "val IN ('a', 'b')")
    v = t.version()
    with _pytest.raises(ConstraintViolationError) as ei:
        t.append(_df(spark, [(2, "b", None), (-1, "zzz", None)]))
    assert ei.value.violations == {"id_positive": 1, "val_known": 1}
    assert t.version() == v and t.read().count() == 1
    # orphan dir was GC'd: only the committed snapshot's dirs remain on disk
    import os

    data_root = os.path.join(str(tmp_path / "c1"), "data")
    on_disk = {os.path.join(data_root, d) for d in os.listdir(data_root)}
    assert on_disk == set(t.data_dirs())
    # conforming append goes through
    t.append(_df(spark, [(2, "b", None)]))
    assert t.read().count() == 2


def test_check_constraint_null_passes_and_not_null_form(spark, tmp_path):
    """SQL CHECK semantics: NULL expression result passes; NOT NULL is its
    own constraint form."""
    import pytest as _pytest

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ConstraintViolationError

    t = ParquetTable(spark, str(tmp_path / "c2"))
    t.overwrite(_df(spark, [(1, "a", None)]))
    t.add_constraint("id_positive", "id > 0")
    t.append(_df(spark, [(None, "x", None)], "id int, val string, ts timestamp"))
    assert t.read().count() == 2  # NULL id: `NULL > 0` is NULL -> passes CHECK
    with _pytest.raises(ConstraintViolationError):
        t.add_constraint("id_not_null", "id IS NOT NULL")  # a NULL exists
    # on a clean table the same constraint then blocks NULL writes
    t2 = ParquetTable(spark, str(tmp_path / "c2b"))
    t2.overwrite(_df(spark, [(1, "a", None)]))
    t2.add_constraint("id_not_null", "id IS NOT NULL")
    with _pytest.raises(ConstraintViolationError):
        t2.append(_df(spark, [(None, "x", None)], "id int, val string, ts timestamp"))


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    import pytest as _pytest

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ConstraintViolationError

    t = ParquetTable(spark, str(tmp_path / "c3"))
    t.overwrite(_df(spark, [(-5, "a", None)]))
    with _pytest.raises(ConstraintViolationError):
        t.add_constraint("id_positive", "id > 0")
    assert t.constraints() == {}  # refused, not registered
    t.drop_constraint("never_there")  # no-op


def test_check_constraint_merge_and_update_enforced(spark, tmp_path):
    import pytest as _pytest

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ConstraintViolationError

    t = ParquetTable(spark, str(tmp_path / "c4"))
    t.overwrite(_df(spark, [(1, "a", None), (2, "b", None)]))
    t.add_constraint("val_known", "val IN ('a', 'b', 'c')")
    with _pytest.raises(ConstraintViolationError):
        t.merge(_df(spark, [(2, "ILLEGAL", None)]), key="id")
    t.merge(_df(spark, [(2, "c", None)]), key="id")
    assert {r["val"] for r in t.read().collect()} == {"a", "c"}
    with _pytest.raises(ConstraintViolationError):
        t.update_where({"val": F.lit("NOPE")}, ("id", "=", 1))
    # delete never validates (cannot introduce violations) and still works
    t.delete_where(("id", "=", 2))
    assert t.read().count() == 1


def test_check_constraint_schema_merge_missing_column_passes(spark, tmp_path):
    """An appended frame missing a constrained column null-fills it at read
    time — CHECK over NULL passes, mirroring Delta's mergeSchema + invariant
    interplay."""
    t = ParquetTable(spark, str(tmp_path / "c5"))
    t.overwrite(spark.createDataFrame([(1, 5.0)], "id int, score double"))
    t.add_constraint("score_range", "score BETWEEN 0 AND 10")
    t.append(spark.createDataFrame([(2,)], "id int"))  # no score column
    assert t.read().count() == 2
    # a present-and-bad score still fails
    import pytest as _pytest

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ConstraintViolationError

    with _pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(3, 99.0)], "id int, score double"))


def test_check_constraint_dropped_allows_write(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "c6"))
    t.overwrite(_df(spark, [(1, "a", None)]))
    t.add_constraint("id_positive", "id > 0")
    t.drop_constraint("id_positive")
    t.append(_df(spark, [(-1, "x", None)]))
    assert t.read().count() == 2


def test_retention_window_and_public_vacuum(spark, tmp_path):
    """retain=N keeps N versions live for history()/restore()/time travel;
    public vacuum() shrinks history on demand."""
    t = ParquetTable(spark, str(tmp_path / "r1"), retain=4)
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}", None)]))
    assert [h["version"] for h in t.history()] == [0, 1, 2, 3]
    # time travel across the retained window
    assert t.read(0).count() == 1 and t.read(3).count() == 4
    t.restore(0)
    assert t.read().count() == 1
    t.vacuum(keep=1)
    assert [h["version"] for h in t.history()] == [4]
    # old snapshot manifests are gone; data dir of v4 (== v0's dir) survives
    assert t.read().count() == 1
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        t.read(2)


def test_read_changes_append_only(spark, tmp_path):
    """CDF analogue: dir-diff between snapshots returns exactly the appended
    rows, O(changed data) — the incremental-consumer contract."""
    t = ParquetTable(spark, str(tmp_path / "cdf1"), retain=10)
    t.overwrite(_df(spark, [(1, "a", None)]))          # v0
    t.append(_df(spark, [(2, "b", None)]))             # v1
    t.append(_df(spark, [(3, "c", None), (4, "d", None)]))  # v2
    assert sorted(r["id"] for r in t.read_changes(0).collect()) == [2, 3, 4]
    assert sorted(r["id"] for r in t.read_changes(1).collect()) == [3, 4]
    assert sorted(r["id"] for r in t.read_changes(0, to=1).collect()) == [2]
    # no-change range: empty frame, schema intact
    empty = t.read_changes(2)
    assert empty.count() == 0 and "val" in empty.columns


def test_read_changes_rejects_rewrite_ops(spark, tmp_path):
    import pytest as _pytest

    t = ParquetTable(spark, str(tmp_path / "cdf2"), retain=10)
    t.overwrite(_df(spark, [(1, "a", None)]))                      # v0
    t.append(_df(spark, [(2, "b", None)]))                         # v1
    t.merge(_df(spark, [(2, "B", None)]), key="id")                # v2 MERGE
    with _pytest.raises(ValueError, match="MERGE"):
        t.read_changes(0)
    # a range strictly after the rewrite is fine again
    t.append(_df(spark, [(5, "e", None)]))                         # v3
    assert [r["id"] for r in t.read_changes(2).collect()] == [5]
    with _pytest.raises(ValueError, match="ahead"):
        t.read_changes(9)


def test_read_changes_vacuumed_base_raises(spark, tmp_path):
    import pytest as _pytest

    t = ParquetTable(spark, str(tmp_path / "cdf3"), retain=2)
    for i in range(5):
        t.append(_df(spark, [(i, "x", None)]))
    with _pytest.raises(FileNotFoundError):
        t.read_changes(0)


def test_empty_append_still_widens_read_schema(spark, tmp_path):
    """An append that contributes ZERO rows (legitimately empty batch) but a
    wider schema must still widen the read: the MANIFEST schema governs,
    null-filling columns no surviving data dir carries."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10.0)], "k long, v double"))
    empty_wide = spark.createDataFrame([], "k long, v double, extra string")
    t.append(empty_wide, merge_schema=True)
    out = t.read()
    assert set(out.columns) == {"k", "v", "extra"}
    rows = out.collect()
    assert [(r["k"], r["v"], r["extra"]) for r in rows] == [(1, 10.0, None)]
    assert dict(out.dtypes)["extra"] == "string"


def test_merge_schema_drift_update_all_with_constraints(spark, tmp_path):
    """VERDICT r5 #7 — Delta `whenMatchedUpdateAll` + `mergeSchema` parity:
    MERGE a source carrying a NEW column into a constrained table. Matched
    rows take the source's widened row (update-all), unmatched old rows are
    NULL-padded on the new column, CHECK constraints keep enforcing on the
    rewritten data — including a constraint ON the new column added
    afterwards — and a violating widened merge commits NOTHING."""
    t = ParquetTable(spark, str(tmp_path / "drift1"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id int, val string")
    )
    t.add_constraint("id_positive", "id > 0")
    t.add_constraint("val_known", "val IN ('a', 'b', 'c')")

    # widened source: updates id=1, inserts id=4, adds `score`
    widened = spark.createDataFrame(
        [(1, "c", 0.5), (4, "b", 1.5)], "id int, val string, score double"
    )
    t.merge(widened, key="id")
    rows = {r["id"]: (r["val"], r["score"]) for r in t.read().collect()}
    assert rows == {1: ("c", 0.5), 2: ("b", None), 3: ("a", None), 4: ("b", 1.5)}

    # constraints still live on the widened table: a violating merge aborts
    # atomically (no partial rows, version unchanged)
    v = t.version()
    bad = spark.createDataFrame([(5, "zzz", 2.0)], "id int, val string, score double")
    with pytest.raises(Exception, match="val_known|constraint"):
        t.merge(bad, key="id")
    assert t.version() == v and t.read().count() == 4

    # a constraint on the DRIFTED column enforces too (NULL passes, per SQL
    # CHECK semantics — the padded old rows stay legal)
    t.add_constraint("score_range", "score >= 0 AND score <= 10")
    t.merge(
        spark.createDataFrame([(6, "a", 3.0)], "id int, val string, score double"),
        key="id",
    )
    assert t.read().count() == 5
    with pytest.raises(Exception, match="score_range|constraint"):
        t.merge(
            spark.createDataFrame([(7, "a", -1.0)], "id int, val string, score double"),
            key="id",
        )
    # second drift: ANOTHER new column on a source that also misses `score`
    # (both directions of allowMissingColumns in one merge)
    t.merge(spark.createDataFrame([(8, "b", "x")], "id int, val string, tag string"), key="id")
    out = {r["id"]: (r["score"], r["tag"]) for r in t.read().collect()}
    assert out[8] == (None, "x") and out[6] == (3.0, None)


def test_attempt_named_partitions_and_roots_keep_their_rows(spark, tmp_path):
    """Only path components below a fresh dir are tested for uncommitted
    ``attempt_*`` output: a partition column named ``attempt_*`` and a
    table under an ``attempt_*`` directory are committed data, and an
    overwrite must keep every row of them."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "attempt_no int, val string"
    )
    for root, parts in [
        (tmp_path / "attempt_part", ["attempt_no"]),
        (tmp_path / "attempt_7" / "t", None),
    ]:
        t = ParquetTable(spark, str(root), partition_by=parts)
        t.overwrite(df)
        t.overwrite(df)
        assert sorted(map(tuple, t.read().select("attempt_no", "val").collect())) == [
            (1, "a"), (2, "b"), (3, "c")
        ]
        assert t.read_where(("attempt_no", "=", 2)).count() == 1


def test_footer_stats_decimal_and_walk_cap(spark, tmp_path, monkeypatch):
    """r15: (a) narrow decimals (INT32/INT64-backed in Spark's layout) must
    not kick the whole dir's footer zonemap back to the aggregate job —
    the raw unscaled-int stat rescales exactly (ADVICE r14); (b) the
    footer walk is bounded — past _FOOTER_WALK_CAP files the path yields
    to the distributed aggregate instead of stalling the driver
    (VERDICT r14 #7)."""
    import decimal

    from lakehouse_architecture_for_realestatedata_spark.sources import tables as T
    from lakehouse_architecture_for_realestatedata_spark.sources.skipping import (
        stats_cols,
    )

    t = ParquetTable(spark, str(tmp_path / "tdec"))
    df = spark.createDataFrame(
        [(1, decimal.Decimal("12.34"), decimal.Decimal("-3.500")),
         (2, decimal.Decimal("99.99"), decimal.Decimal("1.500")),
         (3, None, None)],
        "id int, p decimal(9,2), q decimal(18,3)",
    )
    t.overwrite(df)
    path = t.data_dirs()[0]
    rel = path.replace(str(tmp_path / "tdec"), "").lstrip("/")
    has_rows, footer = t._footer_pass(path, stats_cols(df.schema))
    assert has_rows
    assert footer is not None, "footer path must serve decimal dirs"
    assert footer["p"] == [decimal.Decimal("12.34"), decimal.Decimal("99.99")]
    assert footer["q"] == [decimal.Decimal("-3.500"), decimal.Decimal("1.500")]
    # footer path agrees with the aggregate fallback bit-for-bit
    monkeypatch.setattr(T, "_FOOTER_WALK_CAP", 0)
    has_rows, capped = t._footer_pass(path, stats_cols(df.schema))
    assert has_rows and capped is None  # cap: yields to the agg job
    agg = t._dir_stats(rel, df.schema)
    assert agg["p"] == footer["p"] and agg["q"] == footer["q"]
    assert agg["id"] == footer["id"] == [1, 3]


def test_pruned_scans_keep_the_snapshot_schema(spark, tmp_path):
    """``read_where`` and ``read_changes`` expose ``read()``'s columns, in
    its order and with its types, whichever dirs the zonemaps keep: here
    after an append that added a column and widened ``a`` from int to
    bigint, and an empty append that added another column."""
    t = ParquetTable(spark, str(tmp_path / "sch"), retain=3)
    t.overwrite(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    t.append(spark.createDataFrame([(10, "z", 1.5)], "a bigint, b string, c double"))
    t.append(spark.createDataFrame([], "a bigint, b string, c double, d string"))
    full = t.read()
    assert full.dtypes == [("a", "bigint"), ("b", "string"), ("c", "double"), ("d", "string")]

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    for conds, col in [
        ([("a", ">=", 0)], F.col("a") >= 0),  # every dir kept
        ([("a", ">", 1000)], F.col("a") > 1000),  # every dir pruned
        ([("a", "=", 1)], F.col("a") == 1),  # the older dir only
        ([("a", "=", 10), ("c", ">", 1.0)], (F.col("a") == 10) & (F.col("c") > 1.0)),
    ]:
        out = t.read_where(*conds)
        assert out.dtypes == full.dtypes, conds
        assert rows(out) == rows(full.filter(col)), conds

    added = t.read_changes(0)  # the widening dir plus the empty append
    assert added.dtypes == full.dtypes
    assert rows(added) == [(10, "z", 1.5, None)]
    nothing = t.read_changes(1, 2)  # only the empty append: zero dirs
    assert nothing.dtypes == t.read(2).dtypes == full.dtypes
    assert nothing.count() == 0
