"""BI serving phase: a closed loop of SQL clients against ``serve_http``.

Dashboard traffic over the gold star schema: star-join aggregates over a
``date_key`` range, daily-trend and quality-share reads, top-k by price/m²
within a district, and point lookups by ``property_id``. Each client sends
its next request when the previous answer arrives. Answers
are kept per template and compared, after the timed phase, with the same
SQL run directly through ``Catalog.sql``.
"""

from __future__ import annotations

import datetime
import decimal
import http.client
import json
import random
import threading
import time
from urllib.parse import urlparse

# One client: with two, a request's latency also depended on which query
# shape happened to run beside it in the engine's driver, and the per-run
# median moved with that (see RUNS.md).
CLIENTS = 1
VERIFY_PER_TEMPLATE = 1
TEMPLATES = ("star_join", "daily_trend", "quality_share", "topk_district", "point_lookup")
# No measured dashboard mix is at hand, so each client sends one request
# per query shape in turn, starting at its own offset, and point lookups
# draw keys uniformly. The seed varies the parameters, never the mix, so
# runs with different seeds issue the same sequence of query shapes.
ROTATION = TEMPLATES


class Params:
    """Query parameters drawn from the gold tables at set-up (untimed)."""

    def __init__(self, cat):
        self.days = [str(r[0]) for r in cat.sql(
            "SELECT DISTINCT date_key FROM gold.fct_properties ORDER BY date_key").collect()]
        self.districts = [r[0] for r in cat.sql(
            "SELECT DISTINCT district FROM gold.dim_locations ORDER BY district").collect()]
        self.ids = [r[0] for r in cat.sql(
            "SELECT property_id FROM gold.fct_properties ORDER BY property_id").collect()]


def make_sql(kind: str, rng: random.Random, p: Params) -> str:
    if kind == "star_join":
        a = rng.randrange(len(p.days))
        b = min(len(p.days) - 1, a + rng.randint(0, 3))
        return ("SELECT l.region, l.province, count(*) AS n, "
                "round(avg(f.price_per_m2_millions), 3) AS avg_ppm2 "
                "FROM gold.fct_properties f JOIN gold.dim_locations l "
                "ON f.location_id = l.location_id "
                f"WHERE f.date_key BETWEEN DATE'{p.days[a]}' AND DATE'{p.days[b]}' "
                "GROUP BY l.region, l.province ORDER BY n DESC, l.province")
    if kind == "daily_trend":
        a = rng.randrange(len(p.days))
        return ("SELECT date_key, total_listings, avg_price_billions, avg_price_per_m2 "
                f"FROM gold.fct_daily_summary WHERE date_key >= DATE'{p.days[a]}' "
                "ORDER BY date_key")
    if kind == "quality_share":
        a = rng.randrange(len(p.days))
        return ("SELECT report_date, data_quality_flag, record_count, percentage "
                "FROM gold.fct_data_quality_report "
                f"WHERE report_date >= DATE'{p.days[a]}' "
                "ORDER BY report_date, data_quality_flag")
    if kind == "topk_district":
        d = rng.choice(p.districts).replace("'", "''")
        return ("SELECT f.property_id, f.price_per_m2_millions, f.area "
                "FROM gold.fct_properties f JOIN gold.dim_locations l "
                "ON f.location_id = l.location_id "
                f"WHERE l.district = '{d}' AND f.price_per_m2_millions IS NOT NULL "
                "ORDER BY f.price_per_m2_millions DESC, f.property_id LIMIT 10")
    key = rng.choice(p.ids)
    return ("SELECT property_id, date_key, price_in_billions, area, bedrooms "
            f"FROM gold.fct_properties WHERE property_id = '{key}'")


def json_rows(rows) -> list:
    """Rows as the HTTP endpoint encodes them, for comparing answers."""
    def val(v):
        if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
            return str(v)
        return v

    return json.loads(json.dumps([[val(v) for v in r] for r in rows]))


class TimedSession:
    """Stands in for the session ``serve_http`` runs SQL on (traced runs):
    times the engine part of each request, from ``sql()`` to the end of
    ``take()``, filed under the request id the client put in the SQL."""

    def __init__(self, spark, rec):
        self._spark, self._rec = spark, rec

    def __getattr__(self, name):
        return getattr(self._spark, name)

    def sql(self, text: str):
        rid = int(text.split("rid=", 1)[1].split(" ", 1)[0]) if "rid=" in text else None
        sid = self._rec.start("serving.engine", req=rid) if rid is not None and rid % 2 == 0 else None
        try:
            df = self._spark.sql(text)
        except Exception:
            self._rec.stop(sid)
            raise
        return _TimedFrame(df, self._rec, sid)


class _TimedFrame:
    def __init__(self, df, rec, sid):
        self._df, self._rec, self._sid = df, rec, sid

    def __getattr__(self, name):
        return getattr(self._df, name)

    def take(self, n):
        try:
            return self._df.take(n)
        finally:
            self._rec.stop(self._sid)


def open_server(cat, rec, traced: bool):
    """``serve_http`` over ``cat`` on an ephemeral port, serving thread started."""
    from lakehouse_architecture_for_realestatedata_spark.sources.catalog import serve_http

    real = cat.spark
    if traced:
        cat.spark = TimedSession(real, rec)
    try:
        server, url = serve_http(cat)
    finally:
        cat.spark = real
    th = threading.Thread(target=server.serve_forever, daemon=True)
    th.start()
    return server, th, url


def close_server(server, th) -> None:
    server.shutdown()
    server.server_close()
    th.join(timeout=30)


def post(url: str, sql: str) -> tuple[int, dict]:
    u = urlparse(url)
    conn = http.client.HTTPConnection(u.hostname, u.port, timeout=120)
    try:
        body = json.dumps({"sql": sql})
        conn.request("POST", "/sql", body=body, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read() or b"{}")
    finally:
        conn.close()


def run_clients(url: str, params: Params, seed: int, seconds: float, rec, traced: bool,
                max_turns: int | None = None):
    """Closed loop: CLIENTS threads until ``seconds`` pass (or each client
    has sent ``max_turns`` requests). A client past the deadline still
    finishes its round of ``ROTATION``, so every run sends each query shape
    equally often. Returns per-request (kind, latency_ms, rid), the
    latency of each whole round (one dashboard load: every shape once),
    failures, kept answers, wall seconds."""
    lock = threading.Lock()
    lat: list[tuple[str, float, int]] = []
    rounds: list[float] = []
    failures: list[str] = []
    kept: dict[str, list[tuple[str, list]]] = {k: [] for k in TEMPLATES}
    counter = iter(range(10**9))
    start = time.perf_counter()
    deadline = start + seconds

    def client(c: int) -> None:
        rng = random.Random(f"bi-client:{seed}:{c}")
        turn = first = c * len(ROTATION) // CLIENTS
        in_round = 0.0
        while ((time.perf_counter() < deadline or (turn - first) % len(ROTATION))
               and (max_turns is None or turn - first < max_turns)):
            kind = ROTATION[turn % len(ROTATION)]
            turn += 1
            sql = make_sql(kind, rng, params)
            with lock:
                rid = next(counter)
            text = f"/* rid={rid} */ {sql}"
            sid = rec.start("serving.request", req=rid) if traced and rid % 2 == 0 else None
            t0 = time.perf_counter()
            try:
                status, payload = post(url, text)
            except OSError as e:
                status, payload = -1, {"error": repr(e)}
            dt = (time.perf_counter() - t0) * 1000
            rec.stop(sid)
            with lock:
                if status != 200:
                    failures.append(f"{kind}: HTTP {status} {str(payload.get('error'))[:200]}")
                    continue
                if kind == "point_lookup" and len(payload["rows"]) != 1:
                    failures.append(f"point lookup returned {len(payload['rows'])} rows: {sql}")
                lat.append((kind, dt, rid))
                in_round += dt
                if (turn - first) % len(ROTATION) == 0:
                    rounds.append(in_round)
                    in_round = 0.0
                if len(kept[kind]) < VERIFY_PER_TEMPLATE:
                    kept[kind].append((sql, payload["rows"]))

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=seconds + 300)
    wall = time.perf_counter() - start
    return lat, rounds, failures, kept, wall


def verify(cat, kept, res) -> None:
    """Every kept HTTP answer must equal the same SQL through Catalog.sql."""
    for kind, answers in kept.items():
        for sql, rows in answers:
            direct = json_rows(cat.sql(sql).collect())
            res.check(direct == rows, f"{kind}: HTTP answer differs from Catalog.sql: {sql[:120]}")
