"""Per-slot cache isolation — the recurring review-finding class.

The rule (CLAUDE.md): a one-generation persist cache is PER FAMILY. A
driver may build several query frames before collecting any; if family
B's build evicts family A's slot, A's still-unexecuted persisted frame
silently recomputes (winnow/pipeline/embedding-IVF all had this at some
point). These tests pin the contract mechanically: build a frame in
one family, trigger the OTHER family's eviction path, and assert the
first frame is still marked persisted (eviction would reset its
storage level to NONE).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce_framework_in_go_spark.cache import AppMemo
from mapreduce_framework_in_go_spark.operators import (
    dedup,
    pipeline,
    similarity,
    textops,
)
from mapreduce_framework_in_go_spark.sources.tables import table


def test_winnow_frames_survive_dedup_eviction(spark, sf_dir):
    _cand, _pairs, sh = textops._winnow_pair_frames(spark, sf_dir)
    assert sh.storageLevel.useMemory
    dedup._CACHE_GENERATION.evict()  # any dedup-family build runs this
    assert sh.storageLevel.useMemory, (
        "winnow shingle frame evicted by dedup's generation — per-slot "
        "rule violated"
    )


def test_pipeline_frames_survive_dedup_eviction(spark, sf_dir):
    pipeline._level_frame(table(spark, sf_dir, "documents"))
    frames = list(pipeline._PIPELINE_GENERATION)
    assert frames and all(f.storageLevel.useMemory for f in frames)
    dedup._CACHE_GENERATION.evict()
    assert all(f.storageLevel.useMemory for f in frames), (
        "pipeline flags/shingles evicted by dedup's generation"
    )


def test_clusters_delta_slot_survives_dedup_eviction(spark, sf_dir):
    """The delta-merge family has its OWN generation (r10 advice):
    dedup-family builds must not evict its in-flight control frames,
    and a delta build must not evict dedup's shingles."""
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    labels = dedup._clusters_lsh_frame(base).select("doc_id", "cluster_rep")
    dedup_frames = list(dedup._CACHE_GENERATION)
    assert dedup_frames
    empty = spark.createDataFrame([], "doc_id long, text string")
    dedup.clusters_delta_frame(base, empty, labels)
    delta_frames = list(dedup._CLUSTERS_DELTA_GENERATION)
    assert delta_frames and all(
        f.storageLevel.useMemory for f in delta_frames
    )
    assert all(f.storageLevel.useMemory for f in dedup_frames), (
        "delta-merge build evicted dedup's generation — per-slot rule"
    )
    dedup._CACHE_GENERATION.evict()
    assert all(f.storageLevel.useMemory for f in delta_frames), (
        "dedup eviction reached the delta-merge slot — per-slot rule"
    )


def test_delta_consumer_slots_are_isolated(spark, sf_dir):
    """Each clusters_delta_frame consumer has its OWN slot (proof
    shape, merge-only, streaming fold): both batch variants are
    plan-memoized, so a shared slot would let query B's build
    unpersist query A's memoized-plan inputs (the r10-advice
    build-then-build hazard). Build the merge-only frame, then run the
    proof-shape eviction path — the merge slot must be untouched, and
    vice versa."""
    from mapreduce_framework_in_go_spark.registry import REGISTRY

    REGISTRY["dedup_clusters_delta_merge_only"].fn(spark, sf_dir)
    merge_frames = list(dedup._CLUSTERS_MERGE_GENERATION)
    assert merge_frames and all(
        f.storageLevel.useMemory for f in merge_frames
    )
    dedup._CLUSTERS_DELTA_GENERATION.evict()  # proof-shape entry path
    dedup._CLUSTERS_STREAM_GENERATION.evict()  # streaming fold path
    assert all(f.storageLevel.useMemory for f in merge_frames), (
        "a sibling delta consumer's eviction reached the merge-only "
        "slot — per-slot rule"
    )


def test_delta_base_artifact_survives_slot_evictions(spark, sf_dir):
    """The merge-only frozen-base artifact lives OUTSIDE every
    generation slot: a silent rebuild would re-pay the full base
    clustering on the next weekly increment. The artifact is
    localCheckpoint-ed, not persisted (its sketch shares a logical
    plan with the in-slot shingle frame, so CacheManager would dedupe
    the cache entries and eviction WOULD reach it — see
    _delta_base_artifact) — so the contract here is lineage
    truncation: every artifact frame must scan an ExistingRDD, with no
    upstream plan an eviction could force back into execution."""
    labels, idx = dedup._delta_base_artifact(spark, sf_dir)
    dedup._CACHE_GENERATION.evict()
    dedup._CLUSTERS_DELTA_GENERATION.evict()
    for f in (labels, *idx.values()):
        plan = f._jdf.queryExecution().optimizedPlan().toString()
        # a later merge may wrap the checkpointed labels in an
        # InMemoryRelation (it persists its base_labels input); the
        # invariant is that the root is a checkpointed RDD scan either
        # way — never a rebuildable parquet lineage
        assert (
            "LogicalRDD" in plan or "ExistingRDD" in plan
        ) and "parquet" not in plan, (
            "frozen-base artifact still carries lineage — a slot "
            "eviction could force a silent full rebuild"
        )


def test_assignment_artifact_survives_slot_evictions(spark, sf_dir):
    """The standing-assignment artifact (the stored label table
    dataset_split_cluster / dedup_token_savings join) lives OUTSIDE
    every generation slot — same lineage-truncation contract as the
    frozen-base artifact."""
    labels = dedup.cluster_assignment(spark, sf_dir)
    dedup._CACHE_GENERATION.evict()
    dedup._CLUSTERS_DELTA_GENERATION.evict()
    plan = labels._jdf.queryExecution().optimizedPlan().toString()
    assert (
        "LogicalRDD" in plan or "ExistingRDD" in plan
    ) and "parquet" not in plan, (
        "standing-assignment artifact still carries lineage — a slot "
        "eviction could force a silent full reclustering"
    )


def test_exact_gt_artifact_survives_slot_evictions(spark, sf_dir):
    """r14: the exact ANN ground truth is a memoized per-(app, dataset)
    artifact shared by ann_ivfpq_recall and ann_ivfpq_nprobe_tuning —
    localCheckpoint-ed OUTSIDE every generation slot, so no per-query
    slot eviction can force a silent rebuild of the |Q| x N scoring
    pass (same lineage-truncation contract as the frozen-base
    artifact)."""
    from mapreduce_framework_in_go_spark.operators import ivfpq
    from mapreduce_framework_in_go_spark.sources.tables import table

    emb = table(spark, sf_dir, "embeddings")
    gt = ivfpq._exact_ground_truth(emb, sf_dir, "isolation")
    ivfpq._slot("ann_ivfpq_recall").evict()
    ivfpq._slot("ann_ivfpq_nprobe_tuning").evict()
    dedup._CACHE_GENERATION.evict()
    plan = gt._jdf.queryExecution().optimizedPlan().toString()
    assert (
        "LogicalRDD" in plan or "ExistingRDD" in plan
    ) and "parquet" not in plan, (
        "exact ground-truth artifact still carries lineage — a slot "
        "eviction could force a silent rebuild of the scoring pass"
    )
    # and the memo is shared: the same key returns the same frame
    assert ivfpq._exact_ground_truth(emb, sf_dir, "isolation") is gt


def test_pack_boundary_slot_survives_neighbor_evictions(spark, sf_dir):
    """pack_boundary_contamination's junction frame has its own slot
    (r10 advice): pipeline and training-prep neighbors must not evict
    it mid-build."""
    from mapreduce_framework_in_go_spark.operators import training_prep

    from mapreduce_framework_in_go_spark.registry import REGISTRY

    REGISTRY["pack_boundary_contamination"].fn(spark, sf_dir)
    frames = list(training_prep._PACK_BOUNDARY_GENERATION)
    assert frames and all(f.storageLevel.useMemory for f in frames)
    pipeline._PIPELINE_GENERATION.evict()
    dedup._CACHE_GENERATION.evict()
    assert all(f.storageLevel.useMemory for f in frames), (
        "pack-boundary junction frame evicted by a neighbor family"
    )


def test_emb_ivf_assignment_survives_similarity_eviction(spark, sf_dir):
    df = dedup.dedup_embedding_ivf(spark, sf_dir)
    frames = list(dedup._EMB_IVF_GENERATION)
    assert frames and all(f.storageLevel.useMemory for f in frames)
    similarity._CACHE_GENERATION.evict()  # any similarity build runs this
    assert all(f.storageLevel.useMemory for f in frames), (
        "embedding-IVF assignment evicted by similarity's generation"
    )
    # and the frame still executes correctly after the foreign eviction
    assert df.where(F.col("cosine").isNotNull()).count() >= 0


def test_sketch_slots_survive_each_other_and_dedup(spark, sf_dir):
    """r13: cms_heavy_hitters and hll_exact_registers persist their
    shared-consumer frames in PER-QUERY slots — building one must not
    evict the other's in-flight frame, and neither touches dedup's
    generation."""
    from mapreduce_framework_in_go_spark.operators import sketches

    sketches.cms_heavy_hitters(spark, sf_dir)
    cms_frames = list(sketches._CMS_GENERATION)
    assert cms_frames and all(f.storageLevel.useMemory for f in cms_frames)
    sketches.hll_exact_registers(spark, sf_dir)
    assert all(f.storageLevel.useMemory for f in cms_frames), (
        "HLL build evicted the CMS count table — per-slot rule violated"
    )
    hll_frames = list(sketches._HLL_GENERATION)
    assert hll_frames and all(f.storageLevel.useMemory for f in hll_frames)
    dedup._CACHE_GENERATION.evict()
    assert all(f.storageLevel.useMemory for f in cms_frames + hll_frames)


def test_app_memo_key_and_dead_app_eviction(spark, sf_dir):
    """The memo rule in cache.AppMemo, without a Spark action: one key
    per (application, name, abspath(dataset)); a miss drops only
    other applications' keys; ``build`` runs once per key."""
    memo = AppMemo()
    dead = ("app-gone", "x", os.path.abspath(sf_dir))
    memo[dead] = "stale"
    builds: list[str] = []

    def build(tag: str):
        def _build() -> str:
            builds.append(tag)
            return tag

        return _build

    assert memo.get_or_build(spark, "x", sf_dir, build("x")) == "x"
    assert dead not in memo, "dead-application key survived a miss"
    # relative, absolute and trailing-slash spellings are one key
    for path in (os.path.relpath(sf_dir), os.path.abspath(sf_dir) + "/"):
        assert memo.get_or_build(spark, "x", path, build("x2")) == "x"
    assert builds == ["x"]
    # another name (or dataset) of the live application is its own
    # entry, and building it keeps the first
    assert memo.get_or_build(spark, "y", sf_dir, build("y")) == "y"
    assert memo.get_or_build(spark, "x", "/elsewhere", build("z")) == "z"
    assert builds == ["x", "y", "z"] and len(memo) == 3


def test_structured_emb_one_entry_per_dataset(spark, sf_dir):
    """A relative and an absolute path to one dataset share ONE
    memoized label-blended corpus — never a second build and persist."""
    rel = similarity._structured_emb(spark, os.path.relpath(sf_dir))
    assert similarity._structured_emb(spark, os.path.abspath(sf_dir)) is rel


def test_rank_slots_survive_each_other(spark, sf_dir):
    """Two terasort-rank consumers built before either is collected:
    each ranked frame lives in its own ``relational._RANK_SLOTS`` slot, so
    the second build leaves the first persisted (one materialized
    range partitioning for both of its branches), and both answers
    equal their solo runs."""
    from mapreduce_framework_in_go_spark.operators import relational
    from mapreduce_framework_in_go_spark.registry import REGISTRY

    names = ("global_sort_rank", "training_shuffle_order")
    solo = {n: sorted(REGISTRY[n].fn(spark, sf_dir).collect()) for n in names}
    built = {n: REGISTRY[n].fn(spark, sf_dir) for n in names}
    ranked = list(relational._RANK_SLOTS[names[0]])
    assert ranked and all(f.storageLevel.useMemory for f in ranked), (
        "a sibling rank build evicted global_sort_rank's ranked frame"
    )
    for n in names:
        assert sorted(built[n].collect()) == solo[n], n
