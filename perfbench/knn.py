"""kNN retrieval step: batches of ``knn_quantized_blas`` top-k queries over
a cached embedding index.

Every query has one planted nearest neighbour in the index (see
``gen.embeddings``), so the top-1 of each answer is checked against it.
The index is cached and materialised untimed; batch 0 is the untimed
warm-up (the first run of the scoring plan); the timed batches then run
for the run's seconds, at least one.
"""

from __future__ import annotations

import statistics
import time

from common import Context, Result

INDEX_VECS, DIM, QUERY_BATCH = 2_000, 64, 32
MAX_BATCHES = 30
K = 5
VEC_SCHEMA = "vec_id long, embedding array<double>"


def generate(seed: int):
    import gen

    return gen.embeddings(seed, INDEX_VECS, QUERY_BATCH * (MAX_BATCHES + 1), DIM)


def _batch(ctx: Context, res: Result, emb, index, b: int, top1: dict) -> float:
    """Answer query batch ``b``; returns its seconds and notes each top-1."""
    from lakehouse_architecture_for_realestatedata_spark.operators.similarity import (
        knn_quantized_blas,
    )

    lo = b * QUERY_BATCH  # this batch's queries, handed over untimed
    queries = ctx.spark.createDataFrame(list(zip(emb.query_ids[lo:lo + QUERY_BATCH],
                                                 emb.query_vecs[lo:lo + QUERY_BATCH])), VEC_SCHEMA)
    t0 = time.perf_counter()
    with ctx.rec.span("similarity.knn"):
        hits = knn_quantized_blas(index, queries, k=K).collect()
    dt = time.perf_counter() - t0
    best: dict[int, tuple] = {}
    for r in hits:
        key = (r["cosine"], -r["neighbor_id"])
        if r["query_id"] not in best or key > best[r["query_id"]]:
            best[r["query_id"]] = key
    top1.update({q: -negn for q, (_c, negn) in best.items()})
    res.check(len(best) == QUERY_BATCH, f"kNN batch {b}: {len(best)} of {QUERY_BATCH} answered")
    return dt


def run(ctx: Context, res: Result, emb) -> None:
    """Load the index, warm up, then time kNN batches into ``res.op_*`` for
    the run's seconds and check every top-1 against its planted neighbour."""
    rec, top1 = ctx.rec, {}
    index = ctx.spark.createDataFrame(list(zip(emb.corpus_ids, emb.corpus_vecs)),
                                      VEC_SCHEMA).cache()
    index.count()
    _batch(ctx, res, emb, index, 0, {})
    res.mark("warmup")
    rec.enabled = ctx.traced
    deadline = time.perf_counter() + ctx.seconds
    b = 1
    while (time.perf_counter() < deadline or not res.op_ms) and b <= MAX_BATCHES:
        res.attempted += 1
        try:
            res.op_ms.append(_batch(ctx, res, emb, index, b, top1) * 1000)
        except Exception as e:  # an engine failure ends the phase, counted
            res.fail(f"kNN batch {b}", e)
            break
        b += 1
    rec.enabled = False
    index.unpersist()
    res.op_items = QUERY_BATCH * len(res.op_ms)
    res.op_s = sum(res.op_ms) / 1000
    wrong = [q for q, n in top1.items() if emb.planted[q] != n]
    res.check(not wrong, f"{len(wrong)} of {len(top1)} kNN top-1 are not the planted neighbour")
    res.mark("knn")


def report(res: Result) -> dict:
    return {
        "knn_batch_p50_ms": round(statistics.median(res.op_ms), 2),
        "knn_queries_per_s": round(res.op_items / res.op_s, 1),
        "knn_batches": len(res.op_ms), "queries_per_batch": QUERY_BATCH,
        "index_vectors": INDEX_VECS,
    }


def layer_metrics(rec) -> dict:
    n = max(len(rec.by_name("similarity.knn")), 1)
    return {
        "similarity.knn.s": rec.total_s("similarity.knn") / n,
        "similarity.knn.spark_tasks": rec.spark("similarity.knn", "tasks") / n,
    }
