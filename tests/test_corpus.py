"""End-to-end corpus-preparation pipeline (plans/corpus.py): funnel statuses
partition the input, planted duplicates are caught by the right stage, the
output is deterministic under repartitioning, and prepare_corpus equals the
stepwise application of its stages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_for_realestatedata_spark.plans.corpus import (
    CorpusPrepConfig,
    annotate,
    corpus_funnel,
    funnel_report,
    prepare_corpus,
)

CFG = CorpusPrepConfig(min_quality=0.2, near_dup=True, jaccard_threshold=0.5)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    """documents plus planted pathologies:
    - 9001: byte-identical copy of doc 1 (exact_dup)
    - 9002: doc 2 with one word swapped (near_dup at jaccard 0.5)
    - 9003: empty text (gated: too_short/low_quality)
    """
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    ).select("doc_id", "text")
    src = {r["doc_id"]: r["text"] for r in base.filter(F.col("doc_id").isin(1, 2)).collect()}
    toks = src[2].split()
    near = " ".join(toks[:-1] + ["zzzmutation"])
    planted = spark.createDataFrame(
        [(9001, src[1]), (9002, near), (9003, "")], "doc_id long, text string"
    )
    return base.unionByName(planted)


def test_funnel_statuses_partition_input(spark, docs):
    funnel = corpus_funnel(docs, CFG)
    assert funnel.count() == docs.count()  # no row lost or duplicated
    assert funnel.select("doc_id").distinct().count() == docs.count()
    statuses = {r["status"] for r in funnel.select("status").distinct().collect()}
    assert statuses <= {"kept", "low_quality", "wrong_lang", "too_short", "exact_dup", "near_dup"}


def test_planted_fates(spark, docs):
    fates = {
        r["doc_id"]: r["status"]
        for r in corpus_funnel(docs, CFG).filter(F.col("doc_id") >= 9000).collect()
    }
    assert fates[9001] == "exact_dup"  # identical copy, loses to min id 1
    assert fates[9002] == "near_dup"  # one-word mutation of doc 2
    assert fates[9003] in ("too_short", "low_quality")  # never reaches dedup
    # originals survive: the canonical member of each cluster is kept
    originals = {
        r["doc_id"]: r["status"]
        for r in corpus_funnel(docs, CFG).filter(F.col("doc_id").isin(1, 2)).collect()
    }
    assert originals[1] == "kept" and originals[2] == "kept"


def test_funnel_report_sums_to_total(spark, docs):
    rep = {r["status"]: r["n_docs"] for r in funnel_report(docs, CFG).collect()}
    assert sum(rep.values()) == docs.count()
    assert rep.get("exact_dup", 0) >= 1 and rep.get("near_dup", 0) >= 1


def test_prepare_corpus_deterministic_and_split(spark, docs):
    out1 = prepare_corpus(docs, CFG)
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    ids2 = sorted(r["doc_id"] for r in prepare_corpus(docs.repartition(7), CFG).collect())
    assert ids1 == ids2  # partition-invariant
    splits = {r["split"] for r in out1.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # split is a pure function of (id, salt): re-run agrees row-for-row
    a = {(r["doc_id"], r["split"]) for r in out1.collect()}
    b = {(r["doc_id"], r["split"]) for r in prepare_corpus(docs, CFG).collect()}
    assert a == b


def test_prepare_equals_stepwise(spark, docs):
    """prepare_corpus kept-set == gates, then exact dedup, then near dedup
    applied one at a time with the same operators."""
    from lakehouse_architecture_for_realestatedata_spark.functions.text import doc_fingerprint
    from lakehouse_architecture_for_realestatedata_spark.operators.dedup import (
        dedup_latest,
        minhash_lsh_pairs,
    )
    from lakehouse_architecture_for_realestatedata_spark.operators.graph import keep_canonical

    ann = annotate(docs, CFG)
    gated = ann.filter(
        (F.col("quality") >= CFG.min_quality) & (F.col("n_tokens") >= CFG.min_tokens)
    )
    exact = dedup_latest(
        gated.withColumn("__fp", doc_fingerprint(F.col("text"))),
        "__fp",
        [F.col("doc_id").asc()],
    ).drop("__fp")
    pairs = minhash_lsh_pairs(exact, "doc_id", "text", k=CFG.shingle_k, threshold=CFG.jaccard_threshold)
    stepwise = keep_canonical(exact, pairs, "doc_id")
    want = sorted(r["doc_id"] for r in stepwise.collect())
    got = sorted(r["doc_id"] for r in prepare_corpus(docs, CFG).collect())
    assert got == want


def test_idempotent_on_clean_corpus(spark, docs):
    """Running the pipeline on its own output removes nothing."""
    clean = prepare_corpus(docs, CFG).drop("split", "quality", "lang", "n_tokens")
    again = prepare_corpus(clean, CFG)
    assert again.count() == clean.count()


def test_export_shards_deterministic_and_shuffled(spark, docs, tmp_path):
    import glob

    from lakehouse_architecture_for_realestatedata_spark.plans.corpus import export_shards

    out = prepare_corpus(docs, CFG).select("doc_id", "text", "split")
    p1, p2 = str(tmp_path / "x1"), str(tmp_path / "x2")
    export_shards(out, p1, n_shards=4, key="doc_id")
    export_shards(out.repartition(11), p2, n_shards=4, key="doc_id")

    def shard_contents(p):
        # per-shard ordered doc_id lists, keyed by shard index
        files = sorted(glob.glob(f"{p}/part-*.parquet"))
        assert len(files) == 4
        return [
            [r["doc_id"] for r in spark.read.parquet(f).collect()] for f in files
        ]

    s1, s2 = shard_contents(p1), shard_contents(p2)
    assert s1 == s2  # byte-stable membership AND row order under repartition
    # globally shuffled: within-shard order is not id order
    assert any(lst != sorted(lst) for lst in s1 if len(lst) > 2)
    # different salt redraws the shuffle
    p3 = str(tmp_path / "x3")
    export_shards(out, p3, n_shards=4, key="doc_id", salt="other")
    assert shard_contents(p3) != s1
    # nothing lost
    assert sorted(x for lst in s1 for x in lst) == sorted(
        r["doc_id"] for r in out.collect()
    )


def test_incremental_equals_oneshot_on_id_ordered_batches(spark, docs, tmp_path):
    """Processing id-ordered batches through prepare_corpus_incremental must
    keep exactly the same document set as one-shot prepare_corpus on the
    union — the invariant that makes the daily-drop pipeline trustworthy."""
    from lakehouse_architecture_for_realestatedata_spark.plans.corpus import prepare_corpus_incremental
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import delta_read

    state = str(tmp_path / "state")
    b1 = docs.filter(F.col("doc_id") < 100)
    b2 = docs.filter(F.col("doc_id") >= 100)  # includes the planted 9001/9002/9003
    new1 = prepare_corpus_incremental(spark, b1, state, CFG)
    new2 = prepare_corpus_incremental(spark, b2, state, CFG)

    oneshot = prepare_corpus(docs, CFG)
    want = sorted(r["doc_id"] for r in oneshot.collect())
    got_new = sorted(
        [r["doc_id"] for r in new1.collect()] + [r["doc_id"] for r in new2.collect()]
    )
    assert got_new == want
    # the persisted prepared table agrees with the returned increments
    table = delta_read(spark, f"{state}/prepared")
    assert sorted(r["doc_id"] for r in table.collect()) == want
    # split assignment identical to one-shot (pure function of id+salt)
    ws = {(r["doc_id"], r["split"]) for r in oneshot.collect()}
    ts = {(r["doc_id"], r["split"]) for r in table.collect()}
    assert ts == ws


def test_incremental_rejects_cross_batch_duplicates(spark, docs, tmp_path):
    """A batch-2 copy (exact or near) of a batch-1 keeper must be dropped by
    the HISTORY index, not just within-batch logic."""
    from lakehouse_architecture_for_realestatedata_spark.plans.corpus import prepare_corpus_incremental

    state = str(tmp_path / "state2")
    b1 = docs.filter(F.col("doc_id") < 100)
    kept1 = {r["doc_id"] for r in prepare_corpus_incremental(spark, b1, state, CFG).collect()}
    src = min(kept1)
    text = docs.filter(F.col("doc_id") == src).collect()[0]["text"]
    toks = text.split()
    b2 = spark.createDataFrame(
        [
            (20001, text),  # exact copy of a batch-1 keeper
            (20002, " ".join(toks[:-1] + ["zzznearmutation"])),  # near copy
            (20003, "an entirely fresh document about orbital mechanics and dynamics today"),
        ],
        "doc_id long, text string",
    )
    kept2 = {r["doc_id"] for r in prepare_corpus_incremental(spark, b2, state, CFG).collect()}
    assert 20001 not in kept2  # exact dup vs history index
    assert 20002 not in kept2  # near dup vs history bucket index
    assert 20003 in kept2


def test_incremental_probe_partition_pruned_and_single_index_read(
    spark, docs, tmp_path
):
    """The history-probe plan of a second batch must (a) carry a
    PartitionFilters entry on bucket_part — the hive-partitioned bucket
    index is pruned at plan time, only matching bucket ranges are read —
    and (b) contain at most ONE parquet scan of index/ (the projected read
    is persisted and reused by both the fp anti-join and the shingle
    verify)."""
    from lakehouse_architecture_for_realestatedata_spark.plans.corpus import (
        _batch_kept_plan,
        prepare_corpus_incremental,
    )
    from lakehouse_architecture_for_realestatedata_spark.plans.explain import physical_plan

    state = str(tmp_path / "state3")
    prepare_corpus_incremental(spark, docs.filter(F.col("doc_id") < 100), state, CFG)

    b2 = spark.createDataFrame(
        [(30001, "a genuinely fresh second-batch document about tidal forces")],
        "doc_id long, text string",
    )
    kept = _batch_kept_plan(spark, b2, state, CFG)
    try:
        plan = physical_plan(kept)
        assert "PartitionFilters" in plan, plan
        pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        assert "bucket_part" in pf, pf
        # one projected index read: the path appears in at most one scan node
        n_index_scans = plan.count(f"{state}/index")
        assert n_index_scans <= 1, f"{n_index_scans} index scans\n{plan}"
    finally:
        cache = kept.__dict__.get("_corpus_hist_cache")
        if cache is not None:
            cache.unpersist()


def test_incremental_recovers_from_partial_commit(spark, docs, tmp_path):
    """A crash between the three state writes must not corrupt the state:
    resubmitting the batch after the failure yields exactly the clean-run
    result (no silently-lost docs from orphan index entries, no duplicate
    rows in prepared)."""
    import os

    import pytest as _pytest

    from lakehouse_architecture_for_realestatedata_spark.plans.corpus import (
        _marker_path,
        prepare_corpus_incremental,
    )
    from lakehouse_architecture_for_realestatedata_spark.sources.delta_lite import delta_read

    b1 = docs.filter(F.col("doc_id") < 100)
    b2 = docs.filter(F.col("doc_id") >= 100)

    clean = str(tmp_path / "clean")
    prepare_corpus_incremental(spark, b1, clean, CFG)
    prepare_corpus_incremental(spark, b2, clean, CFG)
    want = sorted(
        r["doc_id"] for r in delta_read(spark, f"{clean}/prepared").collect()
    )

    for fail_point in ("buckets", "index"):
        state = str(tmp_path / f"crash_{fail_point}")
        prepare_corpus_incremental(spark, b1, state, CFG)
        with _pytest.raises(RuntimeError, match="simulated crash"):
            prepare_corpus_incremental(spark, b2, state, CFG, _fail_after=fail_point)
        assert os.path.exists(_marker_path(state))  # partial batch left marked
        # resubmission rolls back the partial batch, then replays it
        prepare_corpus_incremental(spark, b2, state, CFG)
        assert not os.path.exists(_marker_path(state))
        got = sorted(
            r["doc_id"]
            for r in delta_read(spark, f"{state}/prepared").collect()
        )
        assert got == want, fail_point
        # index and prepared agree doc-for-doc (the ADVICE invariant)
        idx = sorted(
            r["doc_id"] for r in delta_read(spark, f"{state}/index").collect()
        )
        assert idx == want, fail_point


def test_funnel_contamination_stage(spark, docs):
    """With an eval set, surviving docs that overlap it are labeled
    'contaminated'; dedup verdicts still win (a near-dup stays near_dup)."""
    src = docs.filter(F.col("doc_id") == 7).collect()[0]["text"]
    eval_df = spark.createDataFrame(
        [(1, "bench " + src)], "doc_id long, text string"
    )
    funnel = corpus_funnel(docs, CFG, eval_df=eval_df)
    fates = {r["doc_id"]: r["status"] for r in funnel.collect()}
    assert fates[7] == "contaminated"
    assert fates[9001] == "exact_dup" and fates[9002] == "near_dup"  # unchanged
    # prepare_corpus drops it
    kept = {r["doc_id"] for r in prepare_corpus(docs, CFG, eval_df=eval_df).collect()}
    assert 7 not in kept
    # without eval_df, doc 7 is kept
    assert 7 in {r["doc_id"] for r in prepare_corpus(docs, CFG).collect()}


def test_language_gate(spark, docs):
    cfg = CorpusPrepConfig(min_quality=0.0, langs=("en",), near_dup=False)
    funnel = corpus_funnel(docs, cfg)
    fates = {r["status"] for r in funnel.collect()}
    assert "wrong_lang" in fates
    kept_langs = {
        r["lang"]
        for r in funnel.filter(F.col("status") == "kept").select("lang").distinct().collect()
    }
    assert kept_langs <= {"en"}
