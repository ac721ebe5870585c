"""Catalog (S12): persistent name→path registry + SQL front door.

The reference's contract: CREATE DATABASE / CREATE TABLE ... LOCATION /
DESCRIBE / REFRESH, and any SQL client resolving ``bronze.properties`` by
name (scripts/load_bronze_to_table.py:99-171). These tests pin
register → query-by-qualified-name → write → refresh → re-query, plus
cross-"session" persistence via a fresh Catalog object over the same root.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.sources.catalog import Catalog


def test_create_table_and_sql_by_name(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat1"))
    t = cat.create_table("bronze", "properties")
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string"))
    cat.refresh("bronze", "properties")
    rows = cat.sql("SELECT count(*) AS n FROM bronze.properties").collect()
    assert rows[0]["n"] == 2


def test_show_tables_and_describe(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat2"))
    cat.create_table("bronze", "a").overwrite(spark.createDataFrame([(1,)], "id int"))
    cat.create_table("gold", "b")
    assert cat.show_tables() == ["bronze.a", "gold.b"]
    assert cat.show_tables("bronze") == ["bronze.a"]
    d = cat.describe("bronze", "a")
    assert d["exists"] and d["columns"] == [{"name": "id", "type": "int"}]
    assert cat.describe("gold", "b")["exists"] is False


def test_refresh_sees_new_snapshot(spark, tmp_path):
    """A view pins the snapshot dirs it was built over; refresh re-binds —
    the REFRESH TABLE analogue (the reference restarts its Thrift server to
    get this, end_to_end_pipeline.py:209-244)."""
    cat = Catalog(spark, str(tmp_path / "cat3"))
    t = cat.create_table("silver", "props")
    t.overwrite(spark.createDataFrame([(1, "v0")], "id int, val string"))
    cat.refresh("silver", "props")
    assert cat.sql("SELECT val FROM silver.props").collect()[0]["val"] == "v0"
    t.append(spark.createDataFrame([(2, "v1")], "id int, val string"))
    cat.refresh("silver", "props")
    assert cat.sql("SELECT count(*) AS n FROM silver.props").collect()[0]["n"] == 2


def test_view_merges_schema_like_read(spark, tmp_path):
    """Appends that widened the schema must read identically through SQL and
    through ParquetTable.read (null-filled old rows)."""
    cat = Catalog(spark, str(tmp_path / "cat4"))
    t = cat.create_table("bronze", "drift")
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, val string"))
    t.append(spark.createDataFrame([(2, "b", 9.5)], "id int, val string, extra double"))
    cat.refresh("bronze", "drift")
    via_sql = {r["id"]: r["extra"] for r in cat.sql("SELECT id, extra FROM bronze.drift").collect()}
    assert via_sql == {1: None, 2: 9.5}

    # A zero-row snapshot binds as a typed empty relation.
    empty = cat.create_table("bronze", "empty")
    empty.overwrite(spark.createDataFrame([], "id int, val string"))
    # A partitioned table widened by a non-empty and by an empty append.
    part = cat.create_table("gold", "widened", partition_by=["g"])
    part.overwrite(spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "id int, g int, val string"))
    part.append(spark.createDataFrame([(3, 1, "c", 2.5)], "id int, g int, val string, extra double"))
    part.append(spark.createDataFrame([], "id int, g int, val string, extra double, note string"))
    for db, name, tbl in [("bronze", "drift", t), ("bronze", "empty", empty), ("gold", "widened", part)]:
        cat.refresh(db, name)
        view, read = spark.table(f"{db}.{name}"), tbl.read()
        assert view.dtypes == read.dtypes, name
        assert sorted(map(tuple, view.collect()), key=repr) == sorted(
            map(tuple, read.collect()), key=repr
        ), name


def test_view_bind_scans_each_dir_once(spark, tmp_path, monkeypatch):
    """Binding a view over an N-dir snapshot builds no DataFrame: the view
    body is SQL over one dir table per dir, rendered from the same per-dir
    select lists ``read()`` projects with, so the bind makes no
    ``DataFrameReader.parquet`` call, and the catalog itself opens no data
    dir. The bound view then scans each dir once."""
    cat = Catalog(spark, str(tmp_path / "cat_jobs"))
    t = cat.create_table("silver", "dirs")
    t.overwrite(spark.createDataFrame([(1, "a")], "id int, val string"))
    t.append(spark.createDataFrame([(2, "b")], "id int, val string"))
    t.append(spark.createDataFrame([(3, "c", 1.0)], "id int, val string, x double"))
    assert len(t.data_dirs()) == 3

    reader = type(spark.read)
    real, calls = reader.parquet, []

    def spy(self, *paths, **kw):
        calls.extend(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(reader, "parquet", spy)
    cat.refresh("silver", "dirs")
    monkeypatch.undo()
    assert calls == []
    assert cat.sql("SELECT count(x) AS n FROM silver.dirs").collect()[0]["n"] == 1


def test_refresh_of_registered_empty_table_is_a_noop(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat_empty"))
    cat.create_table("silver", "later")
    cat.refresh("silver", "later")  # no data yet: nothing to bind
    assert not spark.catalog.tableExists("silver.later")


def _spark_jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted with a job
    group once the status listener has caught up."""
    import uuid

    sc, group = spark.sparkContext, f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _three_dir_table(spark, cat, db, name):
    t = cat.create_table(db, name, partition_by=["g"])
    t.overwrite(spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "id int, g int, val string"))
    t.append(spark.createDataFrame([(3, 1, "c")], "id int, g int, val string"))
    t.append(spark.createDataFrame([(4, 2, "d", 1.0)], "id int, g int, val string, x double"))
    assert len(t.data_dirs()) == 3
    return t


def test_building_snapshot_relations_runs_no_spark_job(spark, tmp_path):
    """Every data dir is opened with its declared schema: building
    ``read()`` of the latest and of the previous snapshot over a 3-dir table, and
    binding its view, run no Spark job, and a query through the view runs
    as many jobs as the same query on ``read()``."""
    cat = Catalog(spark, str(tmp_path / "cat_nojobs"))
    t = _three_dir_table(spark, cat, "silver", "nojobs")
    for build in (t.read, lambda: t.read(t.version() - 1)):
        _df, n = _spark_jobs(spark, build)
        assert n == 0
    _none, n = _spark_jobs(spark, lambda: cat.refresh("silver", "nojobs"))
    assert n == 0
    via_read, n_read = _spark_jobs(spark, lambda: t.read().count())
    via_view, n_view = _spark_jobs(
        spark, lambda: spark.sql("SELECT count(*) FROM silver.nojobs").collect()[0][0]
    )
    assert via_read == via_view == 4
    assert n_view == n_read


def test_string_partition_values_read_back_exactly(spark, tmp_path):
    """A ``string`` partition column keeps values that look like numbers:
    the dir's partition columns are declared with the manifest's types, not
    inferred from the directory names."""
    cat = Catalog(spark, str(tmp_path / "cat_codes"))
    t = cat.create_table("gold", "codes", partition_by=["code"])
    t.overwrite(spark.createDataFrame([(1, "007"), (2, "1e3")], "id int, code string"))
    cat.refresh("gold", "codes")
    want = [(1, "007"), (2, "1e3")]
    assert sorted(map(tuple, t.read().collect())) == want
    assert [tuple(r) for r in t.read().filter("code = '007'").collect()] == [(1, "007")]
    view = spark.table("gold.codes")
    assert view.dtypes == [("id", "int"), ("code", "string")]
    assert sorted(map(tuple, view.collect())) == want


def test_appends_that_widen_types_read_as_the_manifest(spark, tmp_path):
    """``append`` widens int to string, bigint to double and date to
    timestamp; a parquet scan cannot read an old dir as the wider type, so
    each dir is read as written and cast. ``read()`` and the view both carry
    the manifest types and the same rows."""
    import datetime

    cat = Catalog(spark, str(tmp_path / "cat_widen"))
    t = cat.create_table("bronze", "widen")
    t.overwrite(spark.createDataFrame(
        [(1, 10, datetime.date(2024, 1, 2))], "a int, b bigint, c date"))
    t.append(spark.createDataFrame(
        [("x", 2.5, datetime.datetime(2024, 1, 3, 4, 5, 6))], "a string, b double, c timestamp"))
    cat.refresh("bronze", "widen")
    want = [("a", "string"), ("b", "double"), ("c", "timestamp")]
    read, view = t.read(), spark.table("bronze.widen")
    assert read.dtypes == view.dtypes == want
    rows = sorted(map(tuple, read.collect()), key=repr)
    assert rows == sorted(map(tuple, view.collect()), key=repr)
    assert rows == [
        ("1", 10.0, datetime.datetime(2024, 1, 2)),
        ("x", 2.5, datetime.datetime(2024, 1, 3, 4, 5, 6)),
    ]


def test_dir_tables_follow_vacuum_and_drop(spark, tmp_path):
    """A rebind drops the dir tables of data dirs vacuum removed and keeps
    the rest; ``drop_table`` drops them all. Dir tables are EXTERNAL, so
    dropping one leaves its files."""
    import os

    cat = Catalog(spark, str(tmp_path / "cat_life"))
    t = cat.create_table("gold", "life")  # the auto-vacuum keeps 2 versions
    t.overwrite(spark.createDataFrame([(0, "v0")], "id int, val string"))
    cat.refresh("gold", "life")
    for i in range(1, 7):
        t.merge(spark.createDataFrame([(0, f"v{i}"), (i, "new")], "id int, val string"), key="id")
        cat.refresh("gold", "life")
        # the current dir and the previous version's (still live) have
        # tables; the dir vacuum removed has none
        bound = {n.split("_")[1] for n in cat._dir_tables(t)}
        assert bound == set(os.listdir(os.path.join(t.root, "data"))), i
    assert cat.sql("SELECT val FROM gold.life WHERE id = 0").collect()[0][0] == "v6"

    files = {os.path.join(dp, f) for dp, _d, fs in os.walk(t.root) for f in fs if f.endswith(".parquet")}
    cat.drop_table("gold", "life")
    assert cat._dir_tables(t) == []
    assert files and all(os.path.exists(f) for f in files)
    assert t.read().count() == 7


def test_concurrent_create_table_keeps_both_registrations(spark, tmp_path, monkeypatch):
    """A second ``create_table`` that runs between the first one's registry
    load and save must not be lost: the registry edit is locked, so the
    second waits and then edits the first one's saved state."""
    import threading

    root = str(tmp_path / "cat_race")
    done = threading.Event()
    real_load, seen = Catalog._load, []

    def second():
        Catalog(spark, root).create_table("bronze", "second")
        done.set()

    def load_with_race(self):
        state = real_load(self)
        if not seen:  # the first load: let the other writer try to run now
            seen.append(1)
            threading.Thread(target=second, daemon=True).start()
            done.wait(timeout=3)
        return state

    monkeypatch.setattr(Catalog, "_load", load_with_race)
    Catalog(spark, root).create_table("bronze", "first")
    assert done.wait(timeout=60)
    assert Catalog(spark, root).show_tables() == ["bronze.first", "bronze.second"]


def test_catalog_persists_across_sessions(spark, tmp_path):
    """A new Catalog object over the same root (the new-session stand-in)
    re-attaches every table by name."""
    root = str(tmp_path / "cat5")
    cat = Catalog(spark, root)
    cat.create_table("gold", "fct").overwrite(
        spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("m"))
    )
    spark.sql("DROP VIEW IF EXISTS gold.fct")  # simulate a fresh session's empty namespace

    cat2 = Catalog(spark, root)
    cat2.attach()
    assert cat2.sql("SELECT sum(m) AS s FROM gold.fct").collect()[0]["s"] == 20
    assert cat2.show_tables() == ["gold.fct"]


def test_partitioned_table_roundtrip(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat6"))
    t = cat.create_table("gold", "part", partition_by=["g"])
    t.overwrite(spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("g")))
    cat.refresh("gold", "part")
    rows = cat.sql(
        "SELECT g, count(*) AS n FROM gold.part GROUP BY g ORDER BY g"
    ).collect()
    assert [(r["g"], r["n"]) for r in rows] == [(0, 34), (1, 33), (2, 33)]
    # handle round-trips with partition spec intact
    assert cat.table("gold", "part").partition_by == ["g"]


def test_medallion_pipeline_registers_all_layers(spark, tmp_path):
    """The reference's full contract: after a pipeline run every layer is
    SQL-addressable by database-qualified name (bronze.properties →
    silver.stg_properties → gold.*), like its metastore + Thrift serving
    (load_bronze_to_table.py:99-171)."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.plans.medallion import MedallionPipeline
    from lakehouse_architecture_for_realestatedata_spark.queries_pipeline import _bronze_df

    cat = Catalog(spark, str(tmp_path / "cat8"))
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), catalog=cat)
    pipe.ingest_bronze(_bronze_df(spark))
    pipe.run(created_at=F.to_timestamp(F.lit("2024-02-01 00:00:00")))

    assert cat.show_tables("gold") == [
        "gold.dim_legal_status",
        "gold.dim_locations",
        "gold.dim_properties",
        "gold.fct_daily_summary",
        "gold.fct_data_quality_report",
        "gold.fct_properties",
    ]
    assert cat.sql("SELECT count(*) AS n FROM bronze.properties").collect()[0]["n"] == 8
    assert cat.sql(
        "SELECT count(*) AS n FROM silver.stg_properties WHERE data_quality_flag = 'VALID'"
    ).collect()[0]["n"] > 0
    # star query over catalog-resolved gold names
    rows = cat.sql(
        """
        SELECT l.region, count(*) AS n
        FROM gold.fct_properties f
        JOIN gold.dim_locations l ON f.location_id = l.location_id
        GROUP BY l.region
        """
    ).collect()
    assert sum(r["n"] for r in rows) == cat.sql(
        "SELECT count(*) AS n FROM gold.fct_properties"
    ).collect()[0]["n"]


def test_drop_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat7"))
    cat.create_table("bronze", "gone").overwrite(spark.createDataFrame([(1,)], "id int"))
    cat.refresh("bronze", "gone")
    cat.drop_table("bronze", "gone")
    assert cat.show_tables() == []


def test_serve_one_call_bootstrap(spark, tmp_path):
    """serve() = session + attach in one call: a fresh 'session' (new Catalog
    object, same root) resolves every registered name immediately."""
    import lakehouse_architecture_for_realestatedata_spark as lf

    root = str(tmp_path / "wh")
    cat = Catalog(spark, root)
    cat.create_table("bi", "customer").overwrite(
        spark.createDataFrame([(1, "north"), (2, "south"), (3, "north")], "id int, region string")
    )
    served = lf.serve(root, spark=spark)
    rows = served.sql(
        "SELECT region, count(*) AS n FROM bi.customer GROUP BY region ORDER BY region"
    ).collect()
    assert [(r["region"], r["n"]) for r in rows] == [("north", 2), ("south", 1)]


def test_serve_http_concurrent_clients(spark, tmp_path):
    """S13 transport: multiple concurrent HTTP clients query the attached
    catalog and get exactly the direct-.sql() results; bad SQL → 400; the
    row cap marks truncation."""
    import json
    import threading
    import urllib.error
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from lakehouse_architecture_for_realestatedata_spark.sources.catalog import serve_http

    root = str(tmp_path / "wh")
    cat = Catalog(spark, root)
    cat.create_table("bi", "customer").overwrite(
        spark.createDataFrame(
            [(i, "north" if i % 2 else "south") for i in range(20)],
            "id int, region string",
        )
    )
    cat.attach()
    server, base = serve_http(cat, max_rows=5)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        def post(sql):
            req = urllib.request.Request(
                f"{base}/sql",
                data=json.dumps({"sql": sql}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        q = "SELECT region, count(*) AS n FROM bi.customer GROUP BY region ORDER BY region"
        with ThreadPoolExecutor(4) as ex:
            results = list(ex.map(lambda _: post(q), range(4)))
        for res in results:
            assert res["columns"] == ["region", "n"]
            assert res["rows"] == [["north", 10], ["south", 10]]
            assert res["truncated"] is False
        # GET transport
        with urllib.request.urlopen(
            f"{base}/sql?q=SELECT%20count(*)%20AS%20c%20FROM%20bi.customer"
        ) as r:
            assert json.loads(r.read())["rows"] == [[20]]
        # row cap
        res = post("SELECT id FROM bi.customer ORDER BY id")
        assert len(res["rows"]) == 5 and res["truncated"] is True
        # analyzer error → 400 with message
        try:
            post("SELECT nope FROM bi.customer")
            raise AssertionError("expected HTTPError")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "nope" in json.loads(e.read())["error"].lower()
    finally:
        server.shutdown()
        server.server_close()


def test_serve_thrift_wire_protocol_end_to_end(spark, tmp_path):
    """S13 FULL: the real HiveServer2 wire protocol. Start Spark's bundled
    HiveThriftServer2 inside the session (startWithContext — what the
    reference's long-lived Thrift Server container runs for Superset/dbt,
    docker-compose.yml:102-137), then query it THROUGH THE WIRE with the
    bundled beeline JDBC client (a separate JVM — nothing shortcuts through
    the in-process session). Catalog tables resolve as global temp views
    from the thrift sessions; results must equal the in-process SQL, and
    two concurrent wire clients must both succeed (the Superset+dbt
    concurrency shape)."""
    import threading

    from lakehouse_architecture_for_realestatedata_spark.sources.catalog import (
        serve_thrift,
        thrift_sql,
    )

    cat = Catalog(spark, str(tmp_path / "cat_thrift"))
    cat.create_database("gold")
    cat.create_table("gold", "orders_lite", str(tmp_path / "t_orders"))
    df = spark.createDataFrame(
        [(1, "A", 100), (2, "B", 250), (3, "A", 50), (4, "C", 75)],
        "o_id bigint, status string, cents bigint",
    )
    cat.table("gold", "orders_lite").overwrite(df)

    handle, port = serve_thrift(cat)
    try:
        sql = (
            "SELECT status, count(*) AS n, sum(cents) AS total "
            "FROM global_temp.gold_orders_lite GROUP BY status ORDER BY status"
        )
        cols, rows = thrift_sql(port, sql)
        assert cols == ["status", "n", "total"]
        assert rows == [["A", "2", "150"], ["B", "1", "250"], ["C", "1", "75"]]

        # the pure-Python wire client (r14: kills beeline's per-statement
        # JVM spawn) must be drop-in equivalent on the same socket — same
        # columns, same stringified rows, NULLs as "" like csv2
        from lakehouse_architecture_for_realestatedata_spark.sources.hive2_client import (
            wire_sql,
        )

        wcols, wrows = wire_sql(port, sql)
        assert (wcols, wrows) == (cols, rows)
        ncols, nrows = wire_sql(
            port,
            "SELECT cast(null AS string) AS a, cast(null AS bigint) AS b, "
            "true AS c, cast(1.5 AS double) AS d",
        )
        assert ncols == ["a", "b", "c", "d"]
        assert nrows == [["", "", "true", "1.5"]]
        # equals the in-process front door on the same snapshot
        local = [
            [str(v) for v in r]
            for r in spark.sql(sql).collect()
        ]
        assert rows == local

        # two concurrent wire clients (separate JVMs, separate thrift
        # sessions) — both must see the same answer
        results: list = [None, None]

        def _client(i: int) -> None:
            results[i] = thrift_sql(port, sql)[1]

        ts = [threading.Thread(target=_client, args=(i,)) for i in range(2)]
        [t.start() for t in ts]
        [t.join(timeout=180) for t in ts]
        assert results[0] == rows and results[1] == rows
    finally:
        handle.stop()
