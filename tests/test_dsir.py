"""DSIR semantics beyond the generic oracle parity: an independent
pure-Python model check of the weights, the selection budget, KL
sanity, and the family's cache-slot isolation."""

from __future__ import annotations

import hashlib
import math
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_framework_in_go_spark.operators import dedup, dsir


def _py_bucket(w: str) -> int:
    return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dsir.DSIR_BUCKETS


def _py_model(sf_dir: str):
    """Independent-implementation DSIR: plain Python re/md5/math —
    shares no code with the Spark path or the SQL oracle."""
    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    ct = [0] * dsir.DSIR_BUCKETS
    cr = [0] * dsir.DSIR_BUCKETS
    doc_buckets = {}
    for row in tbl:
        # letter runs: \w minus digits/underscore == Unicode letters
        toks = re.findall(r"[^\W\d_]+", row["text"])
        bs = [_py_bucket(t) for t in toks]
        tgt = row["source"] == dsir.DSIR_TARGET
        for b in bs:
            (ct if tgt else cr)[b] += 1
        if not tgt:
            doc_buckets[row["doc_id"]] = bs
    tt, tr = sum(ct), sum(cr)
    B, S = dsir.DSIR_BUCKETS, dsir.LOG_SCALE
    slr = [
        round(math.log((ct[b] + 1) / (tt + B)) * S)
        - round(math.log((cr[b] + 1) / (tr + B)) * S)
        for b in range(B)
    ]
    weights = {
        d: sum(slr[b] for b in bs) for d, bs in doc_buckets.items()
    }
    return weights


def test_weights_match_independent_python_model(spark, sf_dir):
    expected = _py_model(sf_dir)
    rows = dsir.dsir_weights(spark, sf_dir).collect()
    got = {r.doc_id: r.w_scaled for r in rows}
    assert got == expected


def test_select_budget_and_target_exclusion(spark, sf_dir):
    rows = dsir.dsir_select(spark, sf_dir).collect()
    assert all(r.source != dsir.DSIR_TARGET for r in rows), (
        "target slice must not appear in the scored pool"
    )
    n_docs = sum(r.n_docs for r in rows)
    n_sel = sum(r.n_selected for r in rows)
    assert n_sel == math.ceil(n_docs * dsir.DSIR_SELECT_FRAC)
    assert all(0 <= r.n_selected <= r.n_docs for r in rows)


def test_divergence_row_sanity(spark, sf_dir):
    row = dsir.dsir_bucket_divergence(spark, sf_dir).collect()[0]
    expected = _py_model(sf_dir)
    # token totals cross-check the independent tokenizer
    py_raw = sum(
        len(bs) for bs in _raw_bucket_lists(sf_dir)
    )
    assert row.raw_tokens == py_raw
    assert row.n_buckets_hit <= dsir.DSIR_BUCKETS
    # smoothed-KL of genuinely different word salads is positive
    assert row.kl_nats > 0
    assert expected  # model ran


def _raw_bucket_lists(sf_dir: str):
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["source", "text"]
    ).to_pylist()
    for row in tbl:
        if row["source"] != dsir.DSIR_TARGET:
            yield re.findall(r"[^\W\d_]+", row["text"])


def test_dsir_frames_survive_dedup_eviction(spark, sf_dir):
    slr, w = dsir._frames(spark, sf_dir)
    assert slr.storageLevel.useMemory and w.storageLevel.useMemory
    dedup._CACHE_GENERATION.evict()
    assert slr.storageLevel.useMemory and w.storageLevel.useMemory, (
        "dsir frames evicted by dedup's generation — per-slot rule violated"
    )


def _py_model_ngram(sf_dir: str):
    """Independent hashed-n-gram DSIR model (unigrams + bigrams)."""
    tbl = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    ct = [0] * dsir.DSIR_BUCKETS
    cr = [0] * dsir.DSIR_BUCKETS
    doc_buckets = {}
    for row in tbl:
        toks = re.findall(r"[^\W\d_]+", row["text"])
        feats = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        bs = [_py_bucket(f) for f in feats]
        tgt = row["source"] == dsir.DSIR_TARGET
        for b in bs:
            (ct if tgt else cr)[b] += 1
        if not tgt:
            doc_buckets[row["doc_id"]] = bs
    tt, tr = sum(ct), sum(cr)
    B, S = dsir.DSIR_BUCKETS, dsir.LOG_SCALE
    slr = [
        round(math.log((ct[b] + 1) / (tt + B)) * S)
        - round(math.log((cr[b] + 1) / (tr + B)) * S)
        for b in range(B)
    ]
    return {d: sum(slr[b] for b in bs) for d, bs in doc_buckets.items()}


def test_ngram_weights_match_independent_python_model(spark, sf_dir):
    expected = _py_model_ngram(sf_dir)
    rows = dsir.dsir_weights_ngram(spark, sf_dir).collect()
    got = {r.doc_id: r.w_scaled for r in rows}
    assert got == expected


def test_ngram_weights_diverge_from_unigram(spark, sf_dir):
    """Bigram features carry word-order signal the unigram model cannot
    see: the two weight vectors must rank the pool measurably
    differently (VERDICT r5 ask #4's done-condition)."""
    uni = {
        r.doc_id: r.w_scaled
        for r in dsir.dsir_weights(spark, sf_dir).collect()
    }
    ng = {
        r.doc_id: r.w_scaled
        for r in dsir.dsir_weights_ngram(spark, sf_dir).collect()
    }
    assert set(uni) == set(ng)
    assert uni != ng
    # rank-order disagreement, not just scale: the top-20% selected
    # sets under the two configs differ on the fixture corpus
    k = max(1, len(uni) // 5)
    top_uni = set(
        sorted(uni, key=lambda d: (-uni[d], d))[:k]
    )
    top_ng = set(
        sorted(ng, key=lambda d: (-ng[d], d))[:k]
    )
    assert top_uni != top_ng


def test_ngram_frames_survive_unigram_eviction(spark, sf_dir):
    """Per-slot rule: the two DSIR configs own separate generations."""
    slr, w = dsir._frames_ngram(spark, sf_dir)
    assert slr.storageLevel.useMemory and w.storageLevel.useMemory
    dsir._DSIR_GENERATION.evict()
    assert slr.storageLevel.useMemory and w.storageLevel.useMemory, (
        "ngram frames evicted by the unigram generation — per-slot rule"
    )
