"""Persistent catalog (S12): name → table-root registry over ``ParquetTable``,
the medallion's table store (``sources/tables.py``).

The reference registers every table in a Hive metastore so any SQL client can
resolve ``bronze.properties`` by name — ``CREATE DATABASE IF NOT EXISTS``,
``CREATE TABLE ... USING DELTA LOCATION``, ``DESCRIBE TABLE``, ``REFRESH
TABLE`` (reference: scripts/load_bronze_to_table.py:99,108,163,171;
scripts/normalize_bronze_columns.py:73,159,166; dbt/dbt_project.yml:21-23).
Without a metastore service in this image, the same contract is met with:

  - a JSON registry file (``<root>/catalog.json``) holding db.table →
    {path, partition_by} — the persistent, cross-session half;
  - Spark's built-in session catalog (``CREATE DATABASE`` + ``CREATE OR
    REPLACE VIEW db.tbl``) — the SQL-resolvable half, rebuilt per session by
    ``attach()``. A view's body is ``ParquetTable.view_sql()``: the table's
    CURRENT snapshot rendered by the same scan builder ``ParquetTable.read()``
    uses, so ``spark.sql("SELECT ... FROM bronze.properties")`` reads
    exactly what ``read()`` reads.

The view reads each data dir through an EXTERNAL, schema-declared table
in the private database ``_lakeflow_dirs`` (``tables.DIR_DB``), the way the
reference's metastore carries each Delta table's schema: neither binding a
view nor resolving it in a query re-derives a schema, so a bind runs no
Spark job. That database is the engine's, not a user namespace; its tables
are named after table roots and data dirs and come and go with them.
``tables.py`` renders every statement, the catalog only executes them.

``refresh`` re-binds a view to the newest snapshot — the honest analogue of
``REFRESH TABLE`` under snapshot-pointer storage (and what the reference
achieves by restarting its whole Thrift server,
airflow/dags/end_to_end_pipeline.py:209-244) — and drops the dir tables of
data dirs vacuum has removed (live ones stay: a query on the previous view
may still resolve them). ``drop_table`` drops all of the table's dir
tables; they are EXTERNAL, so no data goes with them. A table registered
but not yet written has no view; ``refresh`` and ``attach`` skip it.

Scale: the registry is a tiny JSON document (thousands of entries ≪ 1 MB),
edited under an exclusive ``flock`` on a sidecar lock file so concurrent
DDL from several processes or threads never loses an entry; every data
operation stays on the ParquetTable path — the catalog never touches data
files.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from lakehouse_architecture_for_realestatedata_spark.sources.tables import DIR_DB, ParquetTable

_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check(name: str) -> str:
    if not _NAME.match(name):
        raise ValueError(f"invalid identifier {name!r} (letters/digits/_ only)")
    return name


class Catalog:
    """A file-backed db.table → ParquetTable registry, attachable to any
    SparkSession so raw SQL resolves qualified names across sessions."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        os.makedirs(self.root, exist_ok=True)

    # ------------------------------------------------------------ registry
    @property
    def _path(self) -> str:
        return os.path.join(self.root, "catalog.json")

    def _load(self) -> dict:
        try:
            with open(self._path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {}

    def _save(self, state: dict) -> None:
        tmp = os.path.join(self.root, f".catalog.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(state, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._path)  # atomic, same discipline as ParquetTable

    @contextmanager
    def _edit(self):
        """Yield the registry for a read-modify-write and save it after,
        holding an exclusive ``flock`` on ``.catalog.lock`` throughout: a
        concurrent edit (another process, or another thread — each opens
        its own lock description) waits instead of saving a stale copy over
        this one. The OS releases the lock if the holder dies."""
        with open(os.path.join(self.root, ".catalog.lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            state = self._load()
            yield state
            self._save(state)

    # ----------------------------------------------------------------- DDL
    def create_database(self, db: str) -> None:
        """CREATE DATABASE IF NOT EXISTS analogue, persisted + session."""
        with self._edit() as state:
            state.setdefault(_check(db), {})
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")

    def create_table(
        self,
        db: str,
        table: str,
        path: str | None = None,
        partition_by: list[str] | None = None,
    ) -> ParquetTable:
        """CREATE TABLE ... USING <fmt> LOCATION analogue: register (or
        re-register, idempotently) a table root and expose it to SQL. The
        table may already hold data (external-table registration) or be
        written afterwards via the returned handle."""
        _check(db)
        entry = {
            "path": path or os.path.join(self.root, db, _check(table)),
            "partition_by": partition_by or [],
        }
        with self._edit() as state:
            state.setdefault(db, {})[table] = entry
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        t = ParquetTable(self.spark, entry["path"], partition_by=entry["partition_by"])
        self._bind_view(db, table, t)
        return t

    def drop_table(self, db: str, table: str, purge: bool = False) -> None:
        """Unregister ``db.table`` and drop its view and its dir tables;
        ``purge`` also deletes the table's files."""
        with self._edit() as state:
            entry = state.get(db, {}).pop(table, None)
        self.spark.sql(f"DROP VIEW IF EXISTS {_check(db)}.{_check(table)}")
        if entry:
            t = ParquetTable(self.spark, entry["path"])
            for stmt in t.drop_dir_tables_sql(self._dir_tables(t), gone_only=False):
                self.spark.sql(stmt)
        if purge and entry:
            import shutil

            shutil.rmtree(entry["path"], ignore_errors=True)

    # -------------------------------------------------------------- lookup
    def table(self, db: str, table: str) -> ParquetTable:
        entry = self._load().get(db, {}).get(table)
        if entry is None:
            raise KeyError(f"table {db}.{table} is not in the catalog")
        return ParquetTable(self.spark, entry["path"], partition_by=entry["partition_by"])

    def load(self, db: str, table: str, version: int | None = None) -> DataFrame:
        """Read a cataloged table; ``version`` time-travels to a RETAINED
        snapshot (``VERSION AS OF`` analogue — reach is bounded by the
        table's vacuum retention, exactly like Delta)."""
        return self.table(db, table).read(version)

    def show_tables(self, db: str | None = None) -> list[str]:
        state = self._load()
        dbs = [db] if db is not None else sorted(state)
        return [f"{d}.{t}" for d in dbs for t in sorted(state.get(d, {}))]

    def describe(self, db: str, table: str) -> dict:
        """DESCRIBE TABLE analogue: schema + snapshot/file metadata."""
        t = self.table(db, table)
        out = {
            "name": f"{db}.{table}",
            "path": t.root,
            "partition_by": t.partition_by,
            "exists": t.exists(),
        }
        if t.exists():
            out["version"] = t.version()
            out["columns"] = [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in t.read().schema.fields
            ]
            out["files"] = t.file_stats()
        return out

    # ------------------------------------------------------------- session
    def refresh(self, db: str, table: str) -> None:
        """REFRESH TABLE analogue: re-bind the SQL view to the table's
        current snapshot (a write commits a new pointer; views pin the dirs
        they were built over, so refresh after out-of-band writes). A no-op
        on a registered table that holds no data yet."""
        self._bind_view(db, table, self.table(db, table))

    def attach(self) -> None:
        """Register every cataloged database and table into this session's
        SQL namespace — the session-start hook that makes ``spark.sql`` a
        full front door across sessions (SURVEY §3.3)."""
        state = self._load()
        for db in sorted(state):
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {_check(db)}")
            for table in sorted(state[db]):
                self._bind_view(db, table, self.table(db, table))

    def sql(self, text: str) -> DataFrame:
        """The ad-hoc SQL front door over cataloged names (in-process
        half of S13; ``serve_thrift`` below serves the same catalog over
        the real HiveServer2 wire protocol, ``serve_http`` over JSON)."""
        return self.spark.sql(text)

    def _bind_view(self, db: str, table: str, t: ParquetTable) -> None:
        """CREATE OR REPLACE VIEW db.table AS the current snapshot's body
        from ``ParquetTable.view_sql()`` — the relation ``read()`` yields —
        after creating the dir tables it reads that do not exist yet, then
        drop the dir tables of data dirs vacuum has removed; nothing to bind
        until the table holds data. Runs no Spark job."""
        if not t.exists():
            return
        tables, body = t.view_sql()
        listed = self._dir_tables(t)
        if not listed:  # the table's first bind: DIR_DB may not exist yet
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {DIR_DB}")
        for name, ddl in tables.items():
            if name not in listed:
                self.spark.sql(ddl)
        self.spark.sql(f"CREATE OR REPLACE VIEW {_check(db)}.{_check(table)} AS {body}")
        for stmt in t.drop_dir_tables_sql(listed, gone_only=True):
            self.spark.sql(stmt)

    def _dir_tables(self, t: ParquetTable) -> list[str]:
        """Names of ``t``'s dir tables in ``DIR_DB``."""
        if not self.spark.catalog.databaseExists(DIR_DB):
            return []
        return [r.tableName for r in self.spark.sql(t.dir_tables_sql()).collect()]


def serve(
    warehouse_root: str,
    spark: SparkSession | None = None,
    app_name: str = "lakehouse_architecture_for_realestatedata-serve",
) -> Catalog:
    """One-call SQL serving bootstrap (S13): build (or reuse) a session,
    attach every cataloged ``db.table`` as a resolvable name, and return the
    ``Catalog`` whose ``.sql()`` is the front door::

        from lakehouse_architecture_for_realestatedata_spark.sources.catalog import serve

        cat = serve("/data/warehouse")
        cat.sql("SELECT region, count(*) FROM bi.customer GROUP BY region").show()

    The reference serves Superset/dbt through a long-lived Spark Thrift
    Server (reference: docker-compose.yml:102-137, README.md:183-188). A
    multi-session HiveServer2 is deployment infra outside this library's
    boundary (and absent from the sandbox image); everything up to the
    transport — catalog attach, cross-session name resolution, arbitrary
    SQL over current snapshots — is this call. To expose it over JDBC in a
    real deployment, start the bundled Thrift server on the session this
    returns (``spark-submit --class
    org.apache.spark.sql.hive.thriftserver.HiveThriftServer2`` or
    ``HiveThriftServer2.startWithContext``); no library code changes.
    """
    if spark is None:
        from lakehouse_architecture_for_realestatedata_spark.session import get_spark

        spark = get_spark(app_name)
    cat = Catalog(spark, warehouse_root)
    cat.attach()
    return cat


def serve_http(
    cat: Catalog,
    host: str = "127.0.0.1",
    port: int = 0,
    max_rows: int = 10_000,
):
    """Multi-client SQL serving over HTTP — the in-sandbox transport for
    S13 (the reference's Superset/dbt front door is a long-lived Thrift
    Server, docker-compose.yml:102-137; Thrift/HiveServer2 jars are
    deployment infra absent from this image, so this serves the same
    catalog over the one transport the stdlib provides).

    ``POST /sql`` with body ``{"sql": "..."}`` (or ``GET
    /sql?q=...``) → ``{"columns": [...], "rows": [[...]], "truncated":
    bool}``; SQL errors return 400 with the analyzer message. Requests run
    concurrently (ThreadingHTTPServer; Spark sessions are thread-safe for
    concurrent actions — the same property the real Thrift server relies
    on) against the attached catalog views, so several BI clients can
    query current snapshots at once. ``max_rows`` caps the driver-side
    collect per request — a serving endpoint must never materialize an
    unbounded result.

    Returns ``(server, base_url)``; call ``server.shutdown()`` to stop.
    The caller owns the thread (``threading.Thread(target=
    server.serve_forever, daemon=True).start()``) — see
    tests/test_catalog.py for the full lifecycle."""
    import datetime
    import decimal
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
    from urllib.parse import parse_qs, urlparse

    spark = cat.spark

    def _json_val(v):
        if v is None or isinstance(v, (bool, int, float, str)):
            return v
        if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
            return str(v)
        if isinstance(v, (bytes, bytearray)):
            return bytes(v).hex()
        if isinstance(v, (list, tuple)):
            return [_json_val(x) for x in v]
        if isinstance(v, dict):
            return {str(k): _json_val(x) for k, x in v.items()}
        if hasattr(v, "asDict"):  # Row / struct
            return {k: _json_val(x) for k, x in v.asDict().items()}
        return str(v)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet: the server is a library piece
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _run(self, sql: str) -> None:
            if not sql:
                self._reply(400, {"error": "empty sql"})
                return
            try:
                df = spark.sql(sql)
                rows = df.take(max_rows + 1)
            except Exception as e:  # analyzer/execution errors → 400
                self._reply(400, {"error": str(e)[:2000]})
                return
            truncated = len(rows) > max_rows
            self._reply(
                200,
                {
                    "columns": df.columns,
                    "rows": [[_json_val(v) for v in r] for r in rows[:max_rows]],
                    "truncated": truncated,
                },
            )

        def do_GET(self):
            u = urlparse(self.path)
            if u.path != "/sql":
                self._reply(404, {"error": "POST or GET /sql"})
                return
            q = parse_qs(u.query).get("q", [""])[0]
            self._run(q)

        def do_POST(self):
            if urlparse(self.path).path != "/sql":
                self._reply(404, {"error": "POST or GET /sql"})
                return
            n = int(self.headers.get("Content-Length") or 0)
            try:
                payload = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._reply(400, {"error": "body must be JSON {\"sql\": ...}"})
                return
            self._run(payload.get("sql", ""))

    server = ThreadingHTTPServer((host, port), Handler)
    return server, f"http://{server.server_address[0]}:{server.server_address[1]}"


def serve_thrift(cat: Catalog, port: int | None = None):
    """S13, the REAL wire protocol: start Spark's HiveThriftServer2
    (HiveServer2 binary thrift — exactly what the reference's Superset and
    dbt connect to: docker-compose.yml:102-137, dbt/profiles.yml:8-16)
    inside the catalog's session via the public ``startWithContext`` hook.
    pyspark 4.1 bundles spark-hive-thriftserver + hive-jdbc + beeline, so
    both server and a conformant JDBC client ship with the engine — no
    deployment infra needed.

    Thrift connections get their own SparkSession forks (temp views are
    session-isolated, per HiveServer2 semantics), so the catalog's tables
    are additionally bound as GLOBAL temp views — any wire client reads
    them as ``global_temp.<db>_<table>``, always resolving the CURRENT
    manifest snapshot at bind time (``attach_global`` again after writes,
    like ``Catalog.refresh``).

    Returns ``(handle, port)``; ``handle.stop()`` shuts the server down.
    One server per JVM is the HiveServer2 contract — callers cache it.
    """
    import random

    spark = cat.spark
    attach_global(cat)
    if port is None:
        port = random.Random(os.getpid()).randint(10200, 10999)
    spark.conf.set("hive.server2.thrift.port", str(port))
    hts = spark._sc._jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2
    handle = hts.startWithContext(spark._jsparkSession.sqlContext())
    # readiness: poll the socket (the server binds asynchronously)
    import socket
    import time as _time

    # 120 s: generous because a loaded JVM (a 200-query sweep in the same
    # process) can push the async bind far past the usual ~2 s — the one
    # observed flake was exactly this timeout under marathon load
    deadline = _time.time() + 120
    while _time.time() < deadline:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=1):
                break
        except OSError:
            _time.sleep(0.5)
    else:
        raise TimeoutError(f"thrift server did not bind :{port} within 120 s")
    return handle, port


def attach_global(cat: Catalog) -> list[str]:
    """Bind every cataloged ``db.table`` as a GLOBAL temp view
    ``global_temp.<db>_<table>`` — the cross-session binding thrift/JDBC
    clients resolve (plain temp views are invisible to their forked
    sessions). Returns the bound names."""
    out = []
    for qual in cat.show_tables():
        db, table = qual.split(".", 1)
        t = cat.table(db, table)
        if t.exists():
            name = f"{db}_{table}"
            t.read().createOrReplaceGlobalTempView(name)
            out.append(f"global_temp.{name}")
    return sorted(out)


def thrift_sql(
    port: int, sql: str, timeout: int = 240, retry: bool = True
) -> tuple[list[str], list[list[str]]]:
    """Run ``sql`` against a running thrift server THROUGH THE WIRE using
    the bundled beeline JDBC client (a separate JVM process — nothing is
    shortcut through the in-process session). Returns (columns, rows) as
    strings, csv2-parsed; callers cast. Serving-path plumbing for tests
    and the oracle row, not a bulk transport.

    ``retry``: one re-execution after a timeout. A timeout during fetch
    does NOT mean the server skipped the statement, so the retry can
    DOUBLE-EXECUTE — fine for the SELECTs this serves, but pass
    ``retry=False`` for any non-idempotent statement (INSERT/CTAS)."""
    import csv
    import io
    import subprocess

    import pyspark

    beeline = os.path.join(os.path.dirname(pyspark.__file__), "bin", "beeline")
    cmd = [
        beeline,
        "--outputformat=csv2",
        "--silent=true",
        "--showHeader=true",
        "-u",
        f"jdbc:hive2://localhost:{port}",
        "-e",
        sql,
    ]
    try:
        r = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout
        )
    except subprocess.TimeoutExpired:
        if not retry:
            raise
        # One retry: under heavy shared-JVM load (a long query sweep in
        # the same process) the HiveServer2 handshake can stall past any
        # reasonable single-attempt timeout while the server itself is
        # healthy — the retry lands after the load burst. A genuine
        # server failure times out twice and surfaces.
        r = subprocess.run(
            cmd, capture_output=True, text=True, timeout=timeout
        )
    if r.returncode != 0:
        raise RuntimeError(f"beeline failed: {r.stderr[-2000:]}")
    # csv2 payload = the csv block in stdout; beeline glues its JDBC prompt
    # onto the first payload line ("0: jdbc:hive2://host:port> status,...")
    # and echoes bare "> " continuation prompts — strip both
    import re

    prompt = re.compile(r"^\d+: jdbc:hive2://\S*> ")
    lines = [
        prompt.sub("", ln)
        for ln in r.stdout.splitlines()
        if ln and not ln.lstrip().startswith(">")
    ]
    # find the header: first line that parses as csv and is followed by rows
    reader = csv.reader(io.StringIO("\n".join(lines)))
    parsed = [row for row in reader if row]
    if not parsed:
        return [], []
    return parsed[0], parsed[1:]


def serve_sql(
    port: int, sql: str, timeout: int = 240
) -> tuple[list[str], list[list[str]]]:
    """``thrift_sql`` semantics over the FAST wire client: the pure-Python
    thrift binary + SASL PLAIN client (``sources.hive2_client``) speaks the
    identical HiveServer2 socket protocol without beeline's per-statement
    JVM spawn (~1.5-2 s of pure client overhead per call — measured r14;
    the wire client answers in ~0.25 s). Falls back to beeline on any wire
    error so a protocol surprise degrades to slow, never to wrong."""
    from lakehouse_architecture_for_realestatedata_spark.sources.hive2_client import (
        wire_sql,
    )

    try:
        return wire_sql(port, sql, timeout=timeout)
    except Exception:
        return thrift_sql(port, sql, timeout=timeout)


_THRIFT: tuple | None = None  # (handle, port) — one server per JVM


def ensure_thrift(cat: Catalog) -> int:
    """Start-or-reuse the JVM's thrift server (HiveServer2 allows one per
    process) and (re)bind the catalog's tables as global temp views so
    wire clients see the CURRENT snapshots. Returns the port."""
    global _THRIFT
    if _THRIFT is None:
        _THRIFT = serve_thrift(cat)
    else:
        attach_global(cat)
    return _THRIFT[1]
