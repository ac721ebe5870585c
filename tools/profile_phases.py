"""Per-phase wall-clock profiling of expensive bench rows (guide §1: measure
first). Each profile re-implements a bench query's body with time.time()
checkpoints between its phases, runs it twice (warm pass first), and prints
the second pass — so the numbers show steady-state phase costs, not JIT.

Usage: python tools/profile_phases.py <name> [sf_dir]
Names: format_front_door, simhash, rowtrack_fmt, liquid, incr_summary,
       image_dedup, semantic, minhash
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_architecture_for_realestatedata_spark.session import get_spark  # noqa: E402
from lakehouse_architecture_for_realestatedata_spark.queries import _t, _events  # noqa: E402

spark = get_spark("profile")


class P:
    def __init__(self):
        self.t0 = time.time()
        self.rows = []

    def mark(self, label):
        t = time.time()
        self.rows.append((label, t - self.t0))
        self.t0 = t

    def dump(self, tag):
        total = sum(d for _, d in self.rows)
        print(f"--- {tag} (total {total:.3f}s)")
        for label, d in self.rows:
            print(f"  {d:7.3f}  {label}")
        self.rows = []


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def prof_format_front_door(p: P):
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_source import (
        register_delta_lite_source,
    )

    register_delta_lite_source(spark)
    ev = _t(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = os.path.join(
        tempfile.gettempdir(),
        f"prof_deltafmt_{os.path.basename(SF_DIR.rstrip('/'))}_{os.getpid()}",
    )
    path = f"{root}/events_delta"
    p.mark("setup")
    ev.write.format("delta_lite").mode("overwrite").save(path)
    p.mark("format write")
    got = spark.read.format("delta_lite").load(path).filter(F.col("user_id") <= 2000)
    p.mark("read plan")
    out = got.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("first_event"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
    )
    noop(out)
    p.mark("read+agg exec")


def prof_simhash(p: P):
    from lakehouse_architecture_for_realestatedata_spark.operators.dedup import (
        simhash_md5_fingerprints,
        simhash_pairs_from_fps,
    )

    docs = _t(spark, SF_DIR, "documents").filter(F.col("doc_id") < 2000)
    p.mark("setup")
    fps = simhash_md5_fingerprints(docs, "doc_id", "text", 60)
    noop(fps)
    p.mark("fingerprints alone (noop)")
    out = simhash_pairs_from_fps(
        simhash_md5_fingerprints(docs, "doc_id", "text", 60),
        "doc_id", 60, 4, 3,
    )
    noop(out)
    p.mark("end-to-end pairs (noop)")


def prof_minhash(p: P):
    from lakehouse_architecture_for_realestatedata_spark.operators.dedup import (
        minhash_md5_shingled,
        minhash_md5_band_buckets,
        minhash_lsh_verify_pairs,
    )

    docs = _t(spark, SF_DIR, "documents").filter(F.col("doc_id") < 2000)
    p.mark("setup")
    staged = minhash_md5_shingled(docs, "doc_id", "text", 3)
    noop(staged)
    p.mark("shingles alone (noop)")
    fp = minhash_md5_band_buckets(staged, "doc_id", 8)
    noop(fp)
    p.mark("shingles+bands (noop)")
    out = minhash_lsh_verify_pairs(fp, staged, "doc_id", 0.5)
    noop(out)
    p.mark("end-to-end (noop)")


def _rowtrack_fixture(path):
    import shutil

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_delete_where,
        delta_enable_dvs,
        delta_enable_row_tracking,
        delta_optimize,
        delta_write,
    )

    p = P()
    orders = _t(spark, SF_DIR, "orders").filter(F.col("o_orderkey") <= 800).select(
        "o_orderkey"
    )
    if os.path.isdir(path):
        shutil.rmtree(path)
    b1 = (
        orders.filter(F.col("o_orderkey") <= 500)
        .coalesce(1)
        .sortWithinPartitions("o_orderkey")
    )
    p.mark("plan")
    delta_write(b1, path)
    p.mark("v0 write")
    delta_enable_row_tracking(spark, path)
    p.mark("v1 enable row tracking (backfill)")
    b2 = (
        orders.filter(F.col("o_orderkey") > 500)
        .coalesce(1)
        .sortWithinPartitions("o_orderkey")
    )
    delta_write(b2, path, mode="append")
    p.mark("v2 append")
    delta_enable_dvs(spark, path)
    p.mark("v3 enable dvs")
    delta_delete_where(spark, path, ("o_orderkey", "between", (100, 200)))
    p.mark("v4 dv delete")
    delta_optimize(spark, path, n_files=1)
    p.mark("v5 optimize")
    return p


def prof_rowtrack_fmt(p: P):
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_source import (
        register_delta_lite_source,
    )

    register_delta_lite_source(spark)
    root = os.path.join(
        tempfile.gettempdir(), f"prof_rowtrackfmt_{os.getpid()}"
    )
    path = f"{root}/orders_rowtrack_fmt"
    sub = _rowtrack_fixture(path)
    p.rows.extend(sub.rows)
    p.t0 = time.time()
    got = (
        spark.read.format("delta_lite")
        .option("withRowIds", "true")
        .load(path)
    )
    out = got.select(
        "o_orderkey",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
    )
    noop(out)
    p.mark("format read withRowIds")


def prof_liquid(p: P):
    import shutil
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.queries import (
        cached_fixture,
        fixture_work_dir,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_optimize,
        delta_read,
        delta_set_clustering,
        delta_write,
    )

    orders = _t(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(30,2)").alias("price"),
    )
    cache = os.path.join(
        tempfile.gettempdir(),
        f"lakehouse_liquid_v3_{os.path.basename(SF_DIR.rstrip('/'))}",
    )

    def _build(b):
        q = f"{b}/orders_liquid"
        half = orders.filter(F.col("o_orderkey") % 2 == 0)
        delta_write(half.repartition(4), q)
        delta_set_clustering(spark, q, ["o_orderpriority", "o_orderkey"])
        delta_optimize(spark, q, n_files=4)

    cached_fixture(cache, _build)
    p.mark("fixture (cached)")
    path = os.path.join(fixture_work_dir(cache), "orders_liquid")
    shutil.copytree(f"{cache}/orders_liquid", path)
    p.mark("copytree")
    delta_write(
        orders.filter(F.col("o_orderkey") % 2 == 1), path, mode="append"
    )
    p.mark("append (v3)")
    delta_optimize(spark, path, n_files=4, incremental=True)
    p.mark("incremental optimize (v4)")
    got = delta_read(
        spark, path, where=[("o_orderkey", "between", (2000, 9000))]
    )
    out = got.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("price").cast("double").alias("revenue"),
    )
    noop(out)
    p.mark("pruned read+agg")


def prof_incr_summary(p: P):
    import json
    import shutil
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.plans.mviews import (
        refresh_daily_summary,
    )
    from lakehouse_architecture_for_realestatedata_spark.queries import (
        cached_fixture,
        fixture_work_dir,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_read,
        delta_write,
    )

    ev = _events(spark, SF_DIR).select("ts", "user_id", "value")
    cutoff = "2024-01-16"
    cache = os.path.join(
        tempfile.gettempdir(),
        f"lakehouse_mview_v4_{os.path.basename(SF_DIR.rstrip('/'))}",
    )

    def _build(b):
        delta_write(ev.filter(F.col("ts") < cutoff), f"{b}/events_base", mode="overwrite")
        return json.dumps({"v1": refresh_daily_summary(
            spark, f"{b}/events_base", f"{b}/daily_summary")})

    v1 = json.loads(cached_fixture(cache, _build))["v1"]
    p.mark("fixture (cached)")
    work = fixture_work_dir(cache)
    shutil.copytree(f"{cache}/events_base", f"{work}/events_base")
    shutil.copytree(f"{cache}/daily_summary", f"{work}/daily_summary")
    p.mark("copytree x2")
    base, summary = f"{work}/events_base", f"{work}/daily_summary"
    delta_write(ev.filter(F.col("ts") >= cutoff), base)
    p.mark("append batch 2")
    refresh_daily_summary(spark, base, summary, since_version=v1)
    p.mark("incremental refresh")
    out = delta_read(spark, summary).select("day", "n_events", "n_users", "sum_value")
    noop(out)
    p.mark("read summary")


def prof_image_dedup(p: P):
    from lakehouse_architecture_for_realestatedata_spark.queries_text import (
        q_image_dhash_dedup,
    )

    out = q_image_dhash_dedup(spark, SF_DIR)
    noop(out)
    p.mark("end-to-end")


def prof_semantic(p: P):
    from lakehouse_architecture_for_realestatedata_spark.queries import registry

    reg = registry()
    out = reg["semantic_dedup_embeddings"].spark_fn(spark, SF_DIR)
    noop(out)
    p.mark("end-to-end")


def prof_rowtrack(p: P):
    """Native twin of rowtrack_fmt — the delta_row_tracking_ids bench body."""
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_read,
    )

    root = os.path.join(tempfile.gettempdir(), f"prof_rowtrack_{os.getpid()}")
    path = f"{root}/orders_rowtrack"
    sub = _rowtrack_fixture(path)
    p.rows.extend(sub.rows)
    p.t0 = time.time()
    got = delta_read(spark, path, with_row_ids=True)
    out = got.select(
        "o_orderkey",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
    )
    noop(out)
    p.mark("native read with_row_ids")


def prof_dv_delete(p: P):
    """delta_dv_delete_roundtrip bench body, phase-marked."""
    import shutil
    import tempfile

    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import (
        delta_delete_where,
        delta_enable_dvs,
        delta_read,
        delta_write,
    )

    orders = _t(spark, SF_DIR, "orders").filter(F.col("o_orderkey") <= 1500).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(30,2)").alias("price"),
    )
    root = os.path.join(tempfile.gettempdir(), f"prof_dvdel_{os.getpid()}")
    path = f"{root}/orders_dvdel"
    if os.path.isdir(path):
        shutil.rmtree(path)
    p.mark("plan")
    delta_write(orders, path)
    p.mark("v0 write")
    delta_enable_dvs(spark, path)
    p.mark("v1 enable dvs")
    delta_delete_where(
        spark, path, ("o_orderstatus", "=", "F"), ("o_orderkey", "<=", 700)
    )
    p.mark("v2 dv delete 1")
    delta_delete_where(spark, path, ("price", ">", 350000.0))
    p.mark("v3 dv delete 2")
    got = delta_read(spark, path)
    out = got.select(
        "o_orderkey", "o_orderstatus", F.col("price").cast("double").alias("price")
    )
    noop(out)
    p.mark("read (DV applied)")


def prof_winnow(p: P):
    from lakehouse_architecture_for_realestatedata_spark.operators.retrieval import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "text")
    p.mark("setup")
    fp = winnow_fingerprints(docs, k=4, w=5)
    noop(fp)
    p.mark("fingerprints alone (noop)")
    out = winnow_overlap_pairs(docs, k=4, w=5, min_shared=2, max_df=64)
    noop(out)
    p.mark("end-to-end pairs (noop)")


def prof_encode_vocab(p: P):
    from lakehouse_architecture_for_realestatedata_spark.operators.textprep import (
        build_vocab,
        encode_documents,
    )

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "text")
    p.mark("setup")
    vocab = build_vocab(docs, "text", min_count=5)
    noop(vocab)
    p.mark("vocab alone (noop)")
    enc = encode_documents(docs, build_vocab(docs, "text", min_count=5),
                           "doc_id", "text", oov_id=-1)
    out = enc.withColumn(
        "ids", F.array_join(F.transform("ids", lambda i: i.cast("string")), ",")
    )
    noop(out)
    p.mark("end-to-end encode (noop)")


def prof_perplexity(p: P):
    from lakehouse_architecture_for_realestatedata_spark.operators.textprep import (
        score_doc_perplexity,
        token_bigram_counts,
    )
    from lakehouse_architecture_for_realestatedata_spark.queries_text import _spread

    docs = _spread(spark, _t(spark, SF_DIR, "documents"))
    p.mark("setup")
    lm = token_bigram_counts(docs, "text", min_count=2)
    noop(lm)
    p.mark("bigram LM alone (noop)")
    out = score_doc_perplexity(docs, "doc_id", "text",
                               lm=token_bigram_counts(docs, "text", min_count=2))
    noop(out)
    p.mark("end-to-end perplexity (noop)")


def prof_pareto(p: P):
    from lakehouse_architecture_for_realestatedata_spark.queries import registry

    reg = registry()
    out = reg["pareto_customer_revenue"].spark_fn(spark, SF_DIR)
    p.mark("body (incl. eager localCheckpoint + boundary collects)")
    noop(out)
    p.mark("final exec (noop)")


def prof_knn_ivf(p: P):
    from lakehouse_architecture_for_realestatedata_spark.queries import registry

    reg = registry()
    out = reg["knn_cosine_ivf"].spark_fn(spark, SF_DIR)
    p.mark("plan build")
    noop(out)
    p.mark("exec (noop)")


def prof_ivf_cdc(p: P):
    from lakehouse_architecture_for_realestatedata_spark.queries import registry

    reg = registry()
    out = reg["ivf_cdc_sync_maintenance"].spark_fn(spark, SF_DIR)
    p.mark("body (fixture + copytree + sync)")
    noop(out)
    p.mark("live read (noop)")


PROFILES = {
    "format_front_door": prof_format_front_door,
    "simhash": prof_simhash,
    "minhash": prof_minhash,
    "rowtrack_fmt": prof_rowtrack_fmt,
    "rowtrack": prof_rowtrack,
    "dv_delete": prof_dv_delete,
    "winnow": prof_winnow,
    "encode_vocab": prof_encode_vocab,
    "perplexity": prof_perplexity,
    "pareto": prof_pareto,
    "knn_ivf": prof_knn_ivf,
    "ivf_cdc": prof_ivf_cdc,
    "liquid": prof_liquid,
    "incr_summary": prof_incr_summary,
    "image_dedup": prof_image_dedup,
    "semantic": prof_semantic,
}


def main():
    name = sys.argv[1]
    fn = PROFILES[name]
    # warm pass (JIT/codegen), then the measured pass
    for tag in ("warm", "measured"):
        p = P()
        spark.sparkContext.setJobDescription(f"profile:{name}:{tag}")
        fn(p)
        p.dump(f"{name} [{tag}]")


if __name__ == "__main__":
    main()
