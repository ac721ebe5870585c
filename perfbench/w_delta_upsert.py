"""delta_upsert: a Delta table under change-data capture.

Set-up writes the seeded base listing table with ``delta_write`` (rows
arrive sorted by district, so its files cover narrow district ranges) and
enables deletion vectors.
Write: each CDC batch is one ``delta_merge`` on ``list_id`` (the source
system's normalize MERGE) and one deletion-vector ``delta_delete_where`` of
the id range that expired.
Read: each commit is followed by read rounds, each two stats-pruned
``delta_read(where=...)`` calls: a per-district count and a point read (of
an upserted id after the merge, of an expired id after the delete). The
timed read is the round: the two calls take different times, so the
median of single calls would fall in the gap between them and jump from
one to the other. Every commit gets ``ROUNDS`` rounds, and the districts
come in a fixed rotation, so every run makes the same reads at the same
log positions: how many files a district count may skip depends on the
district, so a seeded draw of districts would add to the run-to-run spread.
Operator, traced runs only: one ``prepare_corpus`` shard (see
``curation.py``), the batch curation job that runs beside the table
maintenance.

Every run makes the same commits. Set-up leaves the table at version 1
(write, enable DVs) and the untimed warm-up batch at version 3. The timed
window is ``PRE_BATCHES`` batches (versions 4-9), ``delta_optimize`` by
district (version 10, where the log writes its checkpoint at the engine's
10-commit interval) with ``delta_vacuum`` (no commit), then
``POST_BATCHES`` batches read and written against the fresh checkpoint.
The window thus spans the checkpoint at the same log positions in every
run. ``--seconds`` does not change it.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import time
from collections import Counter

import curation
from common import Context, Result, timed_setups

BASE_ROWS = 5_000
BATCH_ROWS = 500
EXPIRE = 100
PRE_BATCHES, POST_BATCHES = 3, 1
ROUNDS = 2              # read rounds after each commit
# OPTIMIZE target file size: small enough that the district-clustered
# rewrite keeps several files, so district reads have files to skip
OPTIMIZE_TARGET_BYTES = 32 << 10
MAX_BATCHES = 1 + PRE_BATCHES + POST_BATCHES


def generate(seed: int, out_dir: str):
    import gen

    return gen.delta_cdc(seed, BASE_ROWS, MAX_BATCHES, BATCH_ROWS, EXPIRE), \
        curation.generate(seed)


class Expected:
    """The table's ground truth, advanced with every commit."""

    def __init__(self, base):
        self.rows = {r[0]: r for r in base}
        self.per_district = Counter(r[1] for r in base)

    def upsert(self, rows) -> None:
        for r in rows:
            old = self.rows.get(r[0])
            if old is not None:
                self.per_district[old[1]] -= 1
            self.rows[r[0]] = r
            self.per_district[r[1]] += 1

    def expire(self, lo: int, hi: int) -> int:
        gone = [i for i in range(lo, hi + 1) if i in self.rows]
        for i in gone:
            self.per_district[self.rows.pop(i)[1]] -= 1
        return len(gone)


def _instrument(rec) -> None:
    """Wrap the eager entry points; reads are spanned where they run, since
    ``delta_read`` returns before its Spark action."""
    from lakehouse_architecture_for_realestatedata_spark.sources import delta_lite as dl

    for fn, name in (("delta_merge", "merge"), ("delta_delete_where", "delete"),
                     ("delta_optimize", "optimize"), ("delta_vacuum", "vacuum")):
        rec.wrap(dl, fn, f"delta_lite.{name}")


def _last_checkpoint(path: str) -> int:
    log = os.path.join(path, "_delta_log")
    return max((int(f.split(".")[0]) for f in os.listdir(log) if ".checkpoint." in f), default=0)


def run(ctx: Context) -> Result:
    from lakehouse_architecture_for_realestatedata_spark.sources import delta_lite as dl

    from tracing import dir_stats, file_sizes

    res, rec, spark = Result(), ctx.rec, ctx.spark
    inp, make_shard = ctx.inputs
    # the engine's inputs as DataFrames, built before any timing; the base
    # arrives sorted by district, so its files cover narrow district ranges
    base_df = spark.createDataFrame(sorted(inp.base, key=lambda r: (r[1], r[0])), inp.schema)

    def create(i: int) -> str:
        path = os.path.join(ctx.root, f"listings{i}")
        dl.delta_write(base_df, path, mode="overwrite")
        dl.delta_enable_dvs(spark, path)
        return path

    res.mark("inputs")
    path = timed_setups(res, create)
    res.mark("setup")
    exp = Expected(inp.base)
    rng = random.Random(f"delta-reads:{ctx.seed}")
    if ctx.traced:
        _instrument(rec)
    merge_ms, delete_ms, apply_ms, read_ms, round_ms, maint_ms = [], [], [], [], [], []
    probes: dict[str, list] = {"scanned": [], "since_ckpt": [], "new_bytes": [], "new_dvs": []}
    b = 0

    def timed(kind: list, fn, *args, **kw):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        kind.append((time.perf_counter() - t0) * 1000)
        return out

    def write(kind: list, fn, *args) -> None:
        """One commit; traced runs note the data and DV files it added."""
        before = file_sizes(path) if rec.enabled else None
        timed(kind, fn, *args)
        if before is not None:
            new = {p: s for p, s in file_sizes(path).items()
                   if p not in before and "_delta_log" not in p}
            probes["new_bytes"].append(sum(s for p, s in new.items() if p.endswith(".parquet")))
            probes["new_dvs"].append(sum(1 for p in new if p.endswith(".bin")))

    def one_batch(timing: bool) -> None:
        """One CDC batch: merge, reads, expiry delete, reads."""
        nonlocal b
        rows, (lo, hi) = inp.batches[b]
        src = spark.createDataFrame(rows, inp.schema)  # handed over untimed
        write(merge_ms, dl.delta_merge, src, path, "list_id")
        exp.upsert(rows)
        read_round(lambda: rng.choice(rows)[0])
        write(delete_ms, dl.delta_delete_where, spark, path, ("list_id", "between", (lo, hi)))
        gone = exp.expire(lo, hi)
        read_round(lambda: rng.randint(lo, hi))
        if timing:  # the batch's apply time: its merge plus its delete
            apply_ms.append(merge_ms[-1] + delete_ms[-1])
            res.write_rows += len(rows) + gone
        b += 1

    rotation = itertools.cycle(inp.districts)

    def read_round(draw_key) -> None:
        """District counts and point reads right after a commit."""
        for _ in range(ROUNDS):
            district = next(rotation)
            if rec.enabled:  # what the reads face, probed outside their timing
                where = [("district", "=", district)]
                probes["scanned"].append(len(dl.delta_matching_files(spark, path, where))
                                         / max(len(dl.delta_matching_files(spark, path, [])), 1))
                probes["since_ckpt"].append(dl.delta_versions(path)[-1] - _last_checkpoint(path))
            district_read(district)
            point_read(draw_key())
            round_ms.append(read_ms[-2] + read_ms[-1])

    def district_read(d: str) -> None:
        def read():
            with rec.span("delta_lite.read"):
                return dl.delta_read(spark, path, where=[("district", "=", d)]).count()

        n = timed(read_ms, read)
        res.check(n == exp.per_district[d], f"district {d}: {n} rows, want {exp.per_district[d]}")

    def point_read(key: int) -> None:
        def read():
            with rec.span("delta_lite.read"):
                return dl.delta_read(spark, path, where=[("list_id", "=", key)]).collect()

        got = timed(read_ms, read)
        want = exp.rows.get(key)
        ok = (not got and want is None) or (
            len(got) == 1 and want is not None and tuple(got[0]) == tuple(want))
        res.check(ok, f"point read {key}: {got} want {want}")

    one_batch(timing=False)  # warm-up
    for warm in (merge_ms, delete_ms, read_ms, round_ms):
        warm.clear()
    res.mark("warmup")
    rec.enabled = ctx.traced
    t_start = time.perf_counter()
    try:
        for _ in range(PRE_BATCHES):
            one_batch(timing=True)
        timed(maint_ms, dl.delta_optimize, spark, path, cluster_cols=["district"],
              target_bytes=OPTIMIZE_TARGET_BYTES)
        timed(maint_ms, dl.delta_vacuum, spark, path)
        for _ in range(POST_BATCHES):
            one_batch(timing=True)
    except Exception as e:  # an engine failure ends the run, counted
        res.fail(f"batch {b}", e)
    wall = time.perf_counter() - t_start
    rec.enabled = False
    rec.unwrap()
    res.mark("write+read")

    res.attempted += len(merge_ms) + len(delete_ms) + len(maint_ms)
    res.write_ms = apply_ms
    res.write_s = (sum(apply_ms) + sum(maint_ms)) / 1000
    res.read_ms = round_ms

    final = dl.delta_read(spark, path)
    n, distinct = final.count(), final.select("list_id").distinct().count()
    res.check(n == distinct == len(exp.rows), f"live keys: {n} rows, {distinct} distinct, "
              f"want {len(exp.rows)}")
    res.mark("checks")
    disk = dir_stats(path)
    input_bytes = sum(len(repr(r)) for r in inp.base) + sum(
        len(repr(r)) for rows, _ in inp.batches[:b] for r in rows)
    res.report.update({
        "delta_write_p50_ms": round(statistics.median(merge_ms + delete_ms), 2),
        "delta_batch_apply_p50_ms": round(statistics.median(apply_ms), 2),
        "delta_merge_p50_ms": round(statistics.median(merge_ms), 2),
        "delta_delete_p50_ms": round(statistics.median(delete_ms), 2),
        "delta_read_p50_ms": round(statistics.median(read_ms), 2),
        "delta_read_round_p50_ms": round(statistics.median(round_ms), 2),
        "delta_reads": len(read_ms),
        "delta_maintenance_p50_ms": round(statistics.median(maint_ms), 2),
        "storage_amp": round(disk["bytes"] / input_bytes, 4),
        "cdc_batches": b - 1, "commits": dl.delta_versions(path)[-1],
        "last_checkpoint": _last_checkpoint(path),
        "live_keys": len(exp.rows), "window_s": round(wall, 2),
    })
    if ctx.traced:
        curation.run(ctx, res, make_shard)
        res.report.update(curation.report(res))
    res.extra.update(path=path, probes=probes)
    return res


def layer_metrics(ctx: Context, res: Result) -> dict:
    from lakehouse_architecture_for_realestatedata_spark.sources import delta_lite as dl

    from tracing import dir_stats

    rec, path = ctx.rec, res.extra["path"]
    n_merge = max(len(rec.by_name("delta_lite.merge")), 1)
    n_del = max(len(rec.by_name("delta_lite.delete")), 1)
    n_read = max(len(rec.by_name("delta_lite.read")), 1)
    n_opt = max(len(rec.by_name("delta_lite.optimize")), 1)
    snap_files = dl.delta_matching_files(ctx.spark, path, [])
    log = dir_stats(os.path.join(path, "_delta_log"))
    p = res.extra["probes"]
    return {
        "delta_lite.merge.s": rec.total_s("delta_lite.merge") / n_merge,
        "delta_lite.delete.s": rec.total_s("delta_lite.delete") / n_del,
        "delta_lite.read.s": rec.total_s("delta_lite.read") / n_read,
        "delta_lite.optimize.s": rec.total_s("delta_lite.optimize") / n_opt,
        "delta_lite.vacuum.s": rec.total_s("delta_lite.vacuum") / n_opt,
        "delta_lite.merge.spark_jobs": rec.spark("delta_lite.merge", "jobs") / n_merge,
        "delta_lite.read.spark_tasks": rec.spark("delta_lite.read", "tasks") / n_read,
        "delta_lite.bytes_rewritten": statistics.mean(p["new_bytes"]) if p["new_bytes"] else 0,
        "delta_lite.dv_files": sum(p["new_dvs"]),
        "delta_lite.live_files": len(snap_files),
        "delta_lite.log_entries": log["files"],
        "delta_lite.commits_since_checkpoint": statistics.mean(p["since_ckpt"])
        if p["since_ckpt"] else 0,
        "delta_lite.files_scanned_ratio": statistics.mean(p["scanned"]) if p["scanned"] else 0,
        **curation.layer_metrics(rec, res),
    }
