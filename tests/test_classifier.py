"""Hashed-NB classifier semantics beyond oracle parity: an independent
pure-Python model check of predictions AND margins, cross-query
agreement, and the family's cache-slot isolation."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapreduce_framework_in_go_spark.operators import classifier, dedup


def _py_nb(sf_dir: str):
    """Independent NB: plain Python — shares no code with Spark/SQL."""
    B, S, FOLD = classifier.NB_BUCKETS, classifier.LOG_SCALE, classifier.NB_FOLD
    rows = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    classes = sorted({r["source"] for r in rows})
    bucket = lambda w: int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B
    train = [r for r in rows if r["doc_id"] % FOLD != 0]
    hold = [r for r in rows if r["doc_id"] % FOLD == 0]
    cb = defaultdict(Counter)  # class -> bucket counts
    dn = Counter()
    for r in train:
        dn[r["source"]] += 1
        cb[r["source"]].update(
            bucket(w) for w in re.findall(r"[^\W\d_]+", r["text"])
        )
    sp = {
        c: round(math.log((dn[c] + 1) / (len(train) + len(classes))) * S)
        for c in classes
    }
    sll = {
        c: {
            b: round(
                math.log(
                    (cb[c][b] + 1) / (sum(cb[c].values()) + B)
                )
                * S
            )
            for b in range(B)
        }
        for c in classes
    }
    preds = {}
    for r in hold:
        bs = [bucket(w) for w in re.findall(r"[^\W\d_]+", r["text"])]
        scores = sorted(
            ((sp[c] + sum(sll[c][b] for b in bs), c) for c in classes),
            key=lambda t: (-t[0], t[1]),
        )
        preds[r["doc_id"]] = (
            scores[0][1],
            scores[0][0],
            scores[0][0] - scores[1][0],
        )
    return preds


def test_predictions_match_independent_python_model(spark, sf_dir):
    expected = _py_nb(sf_dir)
    got = {
        r.doc_id: (r.pred_source, r.top_score_scaled, r.margin_scaled)
        for r in classifier.nb_doc_margin(spark, sf_dir).collect()
    }
    assert got == expected


def test_confusion_and_margin_agree(spark, sf_dir):
    conf = {
        (r.true_source, r.pred_source): r.n_docs
        for r in classifier.nb_source_confusion(spark, sf_dir).collect()
    }
    margin_rows = classifier.nb_doc_margin(spark, sf_dir).collect()
    from_margin = Counter(
        (r.true_source, r.pred_source) for r in margin_rows
    )
    assert conf == dict(from_margin)
    assert sum(conf.values()) == len(margin_rows)
    # every holdout doc classified exactly once
    assert len({r.doc_id for r in margin_rows}) == len(margin_rows)
    assert all(r.margin_scaled >= 0 for r in margin_rows)


def test_stream_gate_agrees_with_batch(spark, sf_dir):
    """The streaming gate's verdicts must equal the batch argmax doc
    for doc — one model, two execution paths."""
    from mapreduce_framework_in_go_spark.operators.streaming_queries import (
        stream_nb_gate,
    )

    stream = {
        r.doc_id: (r.true_source, r.pred_source)
        for r in stream_nb_gate(spark, sf_dir).collect()
    }
    batch = {
        r.doc_id: (r.true_source, r.pred_source)
        for r in classifier.nb_doc_margin(spark, sf_dir).collect()
    }
    assert stream == batch


def test_nb_frames_survive_dedup_eviction(spark, sf_dir):
    scored = classifier._scored(spark, sf_dir)
    frames = list(classifier._NB_GENERATION)
    assert frames and all(f.storageLevel.useMemory for f in frames)
    dedup._CACHE_GENERATION.evict()
    assert all(f.storageLevel.useMemory for f in frames), (
        "classifier frames evicted by dedup's generation — per-slot "
        "rule violated"
    )
    assert scored.where(F.col("rn") == 1).count() > 0


def test_feature_importance_shape_and_score_rule(spark, sf_dir):
    """Top-K per class, ranks dense, ordered by (log_odds DESC, bucket
    ASC); a spot-checked score reproduces the smoothed log-odds from
    independently-computed Python counts."""
    rows = classifier.nb_feature_importance(spark, sf_dir).collect()
    by_c = defaultdict(list)
    for r in rows:
        by_c[r.source_class].append(r)
    assert by_c
    for c, rs in by_c.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(
            range(1, classifier.NB_TOP_FEATURES + 1)
        )
        keys = [(-r.log_odds_scaled, r.bucket) for r in rs]
        assert keys == sorted(keys)

    # independent recomputation of every reported score from plain
    # Python counts: log_odds = sll(c,b) - comp_sll(c,b)
    B, S, FOLD = classifier.NB_BUCKETS, classifier.LOG_SCALE, classifier.NB_FOLD
    docs = pq.read_table(f"{_sf_dir()}/documents.parquet").to_pylist()
    bucket = lambda w: int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % B
    cb = defaultdict(Counter)
    for d in docs:
        if d["doc_id"] % FOLD != 0:
            cb[d["source"]].update(
                bucket(w) for w in re.findall(r"[^\W\d_]+", d["text"])
            )
    ct = {c: sum(v.values()) for c, v in cb.items()}
    tb = Counter()
    for v in cb.values():
        tb.update(v)
    tt = sum(ct.values())
    for r in rows:
        c, b = r.source_class, r.bucket
        sll = round(math.log((cb[c][b] + 1) / (ct[c] + B)) * S)
        comp = round(
            math.log((tb[b] - cb[c][b] + 1) / (tt - ct[c] + B)) * S
        )
        assert r.log_odds_scaled == sll - comp, (c, b)
        assert r.n_occurrences == cb[c][b]


def _sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_nb_model_memoized_outside_generation(spark, sf_dir):
    """The trained model is memoized per (applicationId, dataset) and
    excluded from the scored frame's one-generation eviction (the
    trained-centroids precedent): repeat calls return the SAME
    materialized frames, and evicting the generation — which any
    scored rebuild does — must not unpersist them."""
    m1 = classifier._model(spark, sf_dir)
    m2 = classifier._model(spark, sf_dir)
    assert all(a is b for a, b in zip(m1, m2))
    meta, _priors, lik, tc = m1
    classifier._NB_GENERATION.evict()
    for f in (meta, lik, tc):
        assert f.storageLevel.useMemory, (
            "memoized model frame evicted by the scored generation"
        )
    # and the model still serves the full (C x B) grid after eviction
    n_classes = meta.select("source").distinct().count()
    assert lik.count() == n_classes * classifier.NB_BUCKETS
