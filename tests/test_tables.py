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
    """An append decides the merged schema from the manifest alone: neither a parquet read nor a footer
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
    t.append(spark.createDataFrame([(5, "e", None, 2.5, None)], wide))
    monkeypatch.undo()
    assert not set(seen) & set(old)
    assert t.read().dtypes == [
        ("id", "int"), ("val", "string"), ("ts", "timestamp"), ("x", "double"), ("note", "string")
    ]
    assert t.read().count() == 5


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


def test_snapshot_isolation_and_time_travel(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t6"))
    t.overwrite(spark.createDataFrame([(1, "v0")], "id int, val string"))
    old = t.version()
    t.overwrite(spark.createDataFrame([(1, "v1")], "id int, val string"))
    assert t.read(old).collect()[0]["val"] == "v0"
    assert t.read().collect()[0]["val"] == "v1"


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


def test_merge_all_null_source_keys_is_pure_insert(spark, tmp_path):
    t = _three_band_table(spark, tmp_path, "pm3")
    before = set(t.data_dirs())
    t.merge(_df(spark, [(None, "nullkey", None)]), key="id")
    assert before <= set(t.data_dirs())  # every dir carried by reference
    assert t.read().count() == 31


def test_nan_bounds_never_prune(spark, tmp_path):
    """Spark writes a NaN max into the parquet footer, and its max()
    aggregate returns NaN, so a dir holding NaN gets a NaN bound. It proves
    nothing (NaN sorts above every number): a keyed MERGE may not skip the
    dir."""
    t = ParquetTable(spark, str(tmp_path / "nan"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 1.0), (2, float("nan")), (3, 5.0)], "id int, x double"
        ).coalesce(1)
    )
    t.merge(spark.createDataFrame([(30, 5.0)], "id int, x double"), key="x")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 30]


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


def test_empty_append_still_widens_read_schema(spark, tmp_path):
    """An append that contributes ZERO rows (legitimately empty batch) but a
    wider schema must still widen the read: the MANIFEST schema governs,
    null-filling columns no surviving data dir carries."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.sources.tables import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 10.0)], "k long, v double"))
    empty_wide = spark.createDataFrame([], "k long, v double, extra string")
    t.append(empty_wide)
    out = t.read()
    assert set(out.columns) == {"k", "v", "extra"}
    rows = out.collect()
    assert [(r["k"], r["v"], r["extra"]) for r in rows] == [(1, 10.0, None)]
    assert dict(out.dtypes)["extra"] == "string"


def test_merge_schema_drift_update_all_with_constraints(spark, tmp_path):
    """Delta `whenMatchedUpdateAll` + `mergeSchema` parity: MERGE a source
    carrying a NEW column. Matched rows take the source's widened row
    (update-all), unmatched old rows are NULL-padded on the new column, and
    a later source that lacks it and adds another widens again."""
    t = ParquetTable(spark, str(tmp_path / "drift1"))
    t.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id int, val string")
    )

    # widened source: updates id=1, inserts id=4, adds `score`
    widened = spark.createDataFrame(
        [(1, "c", 0.5), (4, "b", 1.5)], "id int, val string, score double"
    )
    t.merge(widened, key="id")
    rows = {r["id"]: (r["val"], r["score"]) for r in t.read().collect()}
    assert rows == {1: ("c", 0.5), 2: ("b", None), 3: ("a", None), 4: ("b", 1.5)}

    t.merge(
        spark.createDataFrame([(6, "a", 3.0)], "id int, val string, score double"),
        key="id",
    )
    assert t.read().count() == 5
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
        assert t.read().filter("attempt_no = 2").count() == 1


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
