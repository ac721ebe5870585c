"""medallion_daily: the daily bronze → silver → gold refresh, then reads.

Write: ``CYCLES`` refresh cycles, each taking one seeded crawl day as
JSONL through ``read_json`` → ``normalize_columns`` →
``MedallionPipeline.ingest_bronze`` → ``run()`` with a ``Catalog``
attached — the loop the source system exists for. Crawl day 0 is the
untimed initial load and warm-up.

Set-up: opening the lakehouse the initial load filled — ``Catalog`` plus
``MedallionPipeline`` re-registering its eight tables and binding each to
its data, as each day's refresh job does when it starts (done several
times).

Read: dashboard loads over ``serve_http`` against the gold star schema the
last cycle refreshed, reads only, so a write-side change that costs reads
shows here (see ``bi.py``). A load is one request per query shape, one
after another; the shapes take different times, so the median of single
requests would sit in the tail of the fast shapes and move with it.

Operator, traced runs only: kNN batches over an embedding index (see
``knn.py``), the similar-listing search served next to the dashboards.
"""

from __future__ import annotations

import os
import statistics
import time

import bi
import knn
from common import Context, Result, timed_setups

PER_BATCH = 1000
# Timed refresh cycles per run. A cycle is about 100 Spark jobs and takes
# 11-19 s on 4 CPUs whatever the batch size, so a run has room for one.
CYCLES = 1


def generate(seed: int, out_dir: str):
    import gen

    return gen.ListingStream(seed, os.path.join(out_dir, "listings"), PER_BATCH), \
        knn.generate(seed)


def _cycle(ctx: Context, pipe, path: str) -> None:
    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.plans import medallion
    from lakehouse_architecture_for_realestatedata_spark.sources import readers

    with ctx.rec.span("readers.read_json"):
        raw = readers.read_json(ctx.spark, path)
    raw = raw.withColumn("file_modification_time", F.to_timestamp("file_modification_time"))
    pipe.ingest_bronze(medallion.normalize_columns(raw))
    pipe.run()


def _instrument(rec) -> None:
    """Wrap the public entry points a cycle reaches (traced run only)."""
    from lakehouse_architecture_for_realestatedata_spark.plans import medallion
    from lakehouse_architecture_for_realestatedata_spark.sources import catalog, tables

    for attr in ("merge", "overwrite", "append"):
        rec.wrap(tables.ParquetTable, attr, f"tables.{attr}")
    rec.wrap(catalog.Catalog, "refresh", "catalog.refresh")
    rec.wrap(medallion.MedallionPipeline, "ingest_bronze", "medallion.ingest_bronze")
    rec.wrap(medallion.MedallionPipeline, "run", "medallion.run")


def run(ctx: Context) -> Result:
    from lakehouse_architecture_for_realestatedata_spark.plans.medallion import MedallionPipeline
    from lakehouse_architecture_for_realestatedata_spark.sources.catalog import Catalog

    from tracing import dir_stats, file_sizes

    res = Result()
    (stream, emb), rec = ctx.inputs, ctx.rec

    root = os.path.join(ctx.root, "lakehouse")

    def open_lakehouse(_k: int = 0):
        """The catalog and the pipeline's eight tables, each registered (and
        bound to its data, once there is data)."""
        return MedallionPipeline(ctx.spark, os.path.join(root, "warehouse"),
                                 catalog=Catalog(ctx.spark, os.path.join(root, "catalog")))

    path, _n = stream.next_batch()
    _cycle(ctx, open_lakehouse(), path)  # initial load + warm-up, untimed
    res.mark("warmup")
    pipe = timed_setups(res, open_lakehouse)
    cat = pipe.catalog
    res.mark("setup")

    if ctx.traced:
        _instrument(rec)
    rec.enabled = ctx.traced
    for _ in range(CYCLES):
        path, n = stream.next_batch()
        before = file_sizes(pipe.root) if ctx.traced else {}
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with rec.span("cycle"):
                _cycle(ctx, pipe, path)
        except Exception as e:  # an engine failure ends the phase, counted
            res.fail(f"cycle {stream.batches}", e)
            break
        dt = time.perf_counter() - t0
        if ctx.traced:  # bytes the cycle wrote, outside its timing
            after = file_sizes(pipe.root)
            res.extra["written_bytes"] = res.extra.get("written_bytes", 0) + sum(
                s for p, s in after.items() if p not in before)
            res.extra["cycle_input_bytes"] = res.extra.get("cycle_input_bytes", 0) + \
                os.path.getsize(path)
        res.write_ms.append(dt * 1000)
        res.write_rows += n
        res.write_s += dt
    rec.enabled = False
    rec.unwrap()
    res.mark("write")

    # read phase: serve the catalog the refresh just re-bound
    server, th, url = bi.open_server(cat, rec, ctx.traced)
    try:
        params = bi.Params(cat)
        # warm-up: the clients' first turns together run every query shape
        bi.run_clients(url, params, ctx.seed + 1, 60.0, rec, False,
                       max_turns=-(-len(bi.ROTATION) // bi.CLIENTS))
        res.mark("warmup")
        rec.enabled = ctx.traced
        lat, loads, failures, kept, wall = bi.run_clients(url, params, ctx.seed,
                                                          ctx.seconds, rec, ctx.traced)
        rec.enabled = False
    finally:
        bi.close_server(server, th)
    res.attempted += len(lat) + len(failures)
    res.failed += len(failures)
    res.errors.extend(failures[:5])
    res.read_ms = loads
    res.reads = len(lat)
    res.read_s = wall
    res.extra["bi_lat"] = lat
    res.mark("read")

    if ctx.traced:
        knn.run(ctx, res, emb)

    _check(res, cat, pipe, stream)
    bi.verify(cat, kept, res)
    res.mark("checks")

    disk = dir_stats(pipe.root)
    res.report.update({
        "medallion_cycle_s": round(statistics.median(res.write_ms) / 1000, 4),
        "medallion_rows_per_s": round(res.write_rows / res.write_s, 1),
        "storage_amp": round(disk["bytes"] / stream.input_bytes, 4),
        "cycles": len(res.write_ms), "rows_per_cycle": PER_BATCH,
        "distinct_listings": len(stream.latest),
        "bi_p50_ms": round(statistics.median(ms for _k, ms, _r in lat), 2),
        "bi_requests": len(lat), "dashboard_load_p50_ms": round(statistics.median(loads), 2),
        "dashboard_loads": len(loads),
        "bi_qps": round(res.reads / res.read_s, 2),
        "bi_p50_ms_by_template": {
            k: round(statistics.median([ms for kk, ms, _r in lat if kk == k]), 2)
            for k in bi.TEMPLATES if any(kk == k for kk, _m, _r in lat)},
    })
    if ctx.traced:
        res.report.update(knn.report(res))
    res.extra["pipe"] = pipe
    return res


def _check(res: Result, cat, pipe, stream) -> None:
    want_ids = set(stream.latest)
    got = [r[0] for r in pipe.silver.read().select("property_id").collect()]
    res.check(len(got) == len(set(got)), "silver has duplicate property_id")
    res.check(set(got) == want_ids,
              f"silver ids differ from crawled ids ({len(set(got))} vs {len(want_ids)})")

    fct = [r[0] for r in cat.sql("SELECT property_id FROM gold.fct_properties").collect()]
    n_fct, fct_ids = len(fct), set(fct)
    total = cat.sql("SELECT sum(total_listings) FROM gold.fct_daily_summary").first()[0]
    res.check(n_fct == total, f"daily summary total {total} != fct rows {n_fct}")
    res.check(len(fct_ids) == n_fct, "fct_properties has duplicate property_id")
    clean = {k for k, v in stream.latest.items() if v.clean}
    res.check(clean <= fct_ids, f"{len(clean - fct_ids)} clean listings missing from fct_properties")

    days, off = cat.sql("SELECT count(*), count_if(abs(s - 100.0) > 1e-6) FROM ("
                        "SELECT report_date, sum(percentage) AS s "
                        "FROM gold.fct_data_quality_report GROUP BY report_date)").first()
    res.check(off == 0 and days == stream.batches,
              f"quality shares: {off} days off 100%, {days} days of {stream.batches}")


def layer_metrics(ctx: Context, res: Result) -> dict:
    rec = ctx.rec
    n = max(len(rec.by_name("cycle")), 1)
    pipe = res.extra["pipe"]
    tables = [getattr(pipe, a) for _db, a, _t, _p in pipe._TABLES]
    live = sum(t.file_stats()["total_bytes"] for t in tables)
    # serving: engine time per traced request, client latency minus it
    engine = {s.req: s.dur * 1000 for s in rec.by_name("serving.engine")}
    client = {s.req: s.dur * 1000 for s in rec.by_name("serving.request")}
    both = [r for r in client if r in engine]
    # even requests were traced, odd ones not: per query shape, the gap
    # between the two medians is the tracing overhead
    gaps = []
    for kind in bi.TEMPLATES:
        on = [ms for k, ms, r in res.extra["bi_lat"] if k == kind and r % 2 == 0]
        off = [ms for k, ms, r in res.extra["bi_lat"] if k == kind and r % 2 == 1]
        if on and off:
            gaps.append(statistics.median(on) - statistics.median(off))
    if gaps:
        res.report["trace_query_overhead_ms"] = round(statistics.median(gaps), 2)
    return {
        "tables.merge.s": rec.total_s("tables.merge") / n,
        "tables.merge.spark_jobs": rec.spark("tables.merge", "jobs") / n,
        "tables.overwrite.s": rec.total_s("tables.overwrite") / n,
        "tables.append.s": rec.total_s("tables.append") / n,
        "tables.write_amp": res.extra["written_bytes"] / res.extra["cycle_input_bytes"],
        "tables.data_dirs": sum(len(t.data_dirs()) for t in tables),
        "tables.bytes_live": live,
        "catalog.refresh.s": rec.total_s("catalog.refresh") / n,
        "catalog.refresh.calls": len(rec.by_name("catalog.refresh")) / n,
        "readers.read_json.s": rec.total_s("readers.read_json") / n,
        "medallion.ingest_bronze.s": rec.total_s("medallion.ingest_bronze") / n,
        "medallion.run.s": rec.self_s("medallion.run") / n,
        "medallion.spark_jobs": rec.spark("cycle", "jobs") / n,
        "medallion.spark_stages": rec.spark("cycle", "stages") / n,
        "medallion.spark_tasks": rec.spark("cycle", "tasks") / n,
        "serving.engine_ms": statistics.median(engine[r] for r in both) if both else 0.0,
        "serving.overhead_ms": statistics.median(client[r] - engine[r] for r in both) if both else 0.0,
        "serving.spark_jobs": rec.spark("serving.engine", "jobs") / max(len(engine), 1),
        "serving.spark_tasks": rec.spark("serving.engine", "tasks") / max(len(engine), 1),
        **knn.layer_metrics(rec),
    }
