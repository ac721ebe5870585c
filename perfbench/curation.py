"""Corpus-curation step: ``prepare_corpus(eval_df=...)`` over seeded
multi-language shards (quality gates, exact and MinHash-LSH near dedup,
eval decontamination, split).

Shards carry planted exact duplicates, planted near duplicates and
documents that quote an eval document; the kept set must be exactly the
base documents that quote no eval document. Shard 0 is the untimed
warm-up: the same steps on a tenth of the documents, which pays the first
run of the plans (about 8 s).
"""

from __future__ import annotations

import statistics
import time

from common import Context, Result

SHARD_DOCS = 200        # distinct documents per shard, before planted copies
EXACT, NEAR, EVAL, CONTAM = 10, 10, 8, 8
WARM_DOCS = 20
SHARDS = 1              # timed shards per run (a shard is about 70 Spark jobs)
SCHEMA = "doc_id long, text string"


def generate(seed: int):
    """A function ``shard(s, n_docs)`` giving shard ``s``'s documents and
    ground truth."""
    import gen

    lexicon = gen.vocab(seed)

    def shard(s: int, n_docs: int = SHARD_DOCS):
        exact, near, contam = (max(1, x * n_docs // SHARD_DOCS) for x in (EXACT, NEAR, CONTAM))
        return gen.corpus(seed * 1000 + s, lexicon, n_docs, exact, near, EVAL, contam)

    return shard


def _prepare(ctx: Context, res: Result, make_shard, s: int, n_docs: int) -> tuple[float, int]:
    from lakehouse_architecture_for_realestatedata_spark.plans.corpus import (
        CorpusPrepConfig,
        prepare_corpus,
    )

    cfg = CorpusPrepConfig()
    truth = make_shard(s, n_docs)  # generated and handed over before the clock starts
    docs = ctx.spark.createDataFrame(truth.docs, SCHEMA)
    evals = ctx.spark.createDataFrame(truth.eval_docs, SCHEMA)
    t0 = time.perf_counter()
    with ctx.rec.span("corpus.prepare"):
        kept = {r[0] for r in prepare_corpus(docs, cfg, eval_df=evals)
                .select(cfg.id_col).collect()}
    dt = time.perf_counter() - t0
    res.check(kept == truth.expected_kept,
              f"shard {s}: kept {len(kept)} docs, want {len(truth.expected_kept)}; "
              f"{len(kept & truth.planted_removed)} planted docs survived")
    return dt, len(truth.docs)


def _instrument(rec, spy: list) -> None:
    """Keep the input and output of the LSH pair stage that
    ``prepare_corpus`` calls, for the candidate/precision counts taken
    after the timed window."""
    from lakehouse_architecture_for_realestatedata_spark.plans import corpus

    orig = corpus.minhash_lsh_pairs

    def kept(df, *args, **kw):
        out = orig(df, *args, **kw)
        if rec.enabled:
            spy.append((df, args, kw, out))
        return out

    rec.patch(corpus, "minhash_lsh_pairs", kept)


def run(ctx: Context, res: Result, make_shard) -> None:
    """Curate the warm-up shard, then time ``SHARDS`` shards into
    ``res.op_*``."""
    rec, spy = ctx.rec, []
    _prepare(ctx, res, make_shard, 0, WARM_DOCS)
    res.mark("warmup")
    if ctx.traced:
        _instrument(rec, spy)
    rec.enabled = ctx.traced
    for s in range(1, SHARDS + 1):
        res.attempted += 1
        try:
            dt, n = _prepare(ctx, res, make_shard, s, SHARD_DOCS)
        except Exception as e:  # an engine failure ends the phase, counted
            res.fail(f"shard {s}", e)
            break
        res.op_ms.append(dt * 1000)
        res.op_items += n
    rec.enabled = False
    rec.unwrap()
    res.op_s = sum(res.op_ms) / 1000
    res.extra["spy"] = spy
    res.mark("curation")


def _candidates(df, id_col: str, text_col: str, **kw) -> int:
    """Distinct LSH candidate pairs of ``df``, before verification: docs
    sharing a band bucket of at most ``max_bucket`` members. The banding
    parameters are the ones ``minhash_lsh_pairs`` ran with (the call's own
    keywords, else the function's defaults); the sketch seed is the
    engine's fixed 42."""
    import inspect

    from pyspark.sql import functions as F

    from lakehouse_architecture_for_realestatedata_spark.functions import sketches
    from lakehouse_architecture_for_realestatedata_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    defaults = {n: p.default for n, p in inspect.signature(minhash_lsh_pairs).parameters.items()}
    k, num_hashes, bands, max_bucket = (kw.get(n, defaults[n])
                                        for n in ("k", "num_hashes", "bands", "max_bucket"))
    bk = df.select(F.col(id_col).alias("id"), sketches.minhash_buckets(
        sketches.hashed_shingles(F.col(text_col), k), num_hashes, bands, seed=42).alias("bk"))
    members = (bk.select("id", F.explode_outer("bk").alias("b")).groupBy("b")
               .agg(F.collect_set("id").alias("ids"))
               .filter(F.size("ids").between(2, max_bucket)))
    ids = members.select("b", F.explode("ids").alias("id"))
    pairs = ids.alias("x").join(ids.alias("y"), "b").filter(F.col("x.id") < F.col("y.id"))
    return pairs.select("x.id", "y.id").distinct().count()


def report(res: Result) -> dict:
    return {
        "corpus_docs_per_s": round(res.op_items / res.op_s, 1),
        "corpus_prepare_p50_ms": round(statistics.median(res.op_ms), 2),
        "shards": len(res.op_ms), "docs_per_shard": SHARD_DOCS + EXACT + NEAR,
    }


def layer_metrics(rec, res: Result) -> dict:
    n = max(len(rec.by_name("corpus.prepare")), 1)
    cands = verified = 0
    for df, args, kw, out in res.extra["spy"]:
        id_col, text_col = args[0], args[1]
        cands += _candidates(df, id_col, text_col, **kw)
        verified += out.count()
    return {
        "corpus.prepare.s": rec.total_s("corpus.prepare") / n,
        "corpus.spark_jobs": rec.spark("corpus.prepare", "jobs") / n,
        "corpus.spark_tasks": rec.spark("corpus.prepare", "tasks") / n,
        "dedup.lsh_candidates": cands / max(len(res.extra["spy"]), 1),
        "dedup.lsh_precision": verified / cands if cands else 0.0,
    }
