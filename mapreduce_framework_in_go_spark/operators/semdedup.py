"""SemDeDup — semantic deduplication over the ``embeddings`` table.

The published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): k-means-cluster
the corpus embeddings, compute pairwise cosine *within each cluster
only*, and for every semantic-duplicate pair (cosine >= tau) keep the
member with the LOWEST cosine similarity to its cluster centroid —
the cluster's "least prototypical" copy — pruning the rest. This is the
embedding-space sibling of the lexical dedup families in
``operators/dedup.py``; the reference repo (a Go MapReduce engine,
``mrapps/wc.go``) has no analogue, but a 100 TB training-data pipeline
does this pass routinely.

Determinism deviation from the paper (which prunes via an unordered
scan): here a vector is pruned iff some same-cluster vector that
PRECEDES it in the total order (round(cent_cos, 6) ASC, vec_id ASC) is
a semantic duplicate of it. The order-minimum of every duplicate
component always survives, the rule is a pure pairwise EXISTS (no
iteration), and both engine and oracle replay it bitwise.

Everything rides the trained IVF index machinery in
``operators/similarity.py``:

- centroids: the memoized exact-fixed-point Lloyd run
  (``_trained_centroids``) — shared per (session, dataset) with every
  ANN/dedup consumer, so this pass trains nothing new;
- assignment: the map-only HOF argmax (``_with_nearest_cell``) — the
  embedding never leaves the row, no shuffle;
- oracle: the verbatim SQL twin (``_lloyd_ctes``).

Scale (100 TB): the centroid table is ~sqrt(N) rows and broadcast;
assignment is map-only; the only pairwise work is the within-cluster
self-join, whose row count is sum(n_c^2) over cells — the published
SemDeDup cost model, bounded by cell occupancy (~sqrt(N) with the
self-scaling k), never |N|^2. The per-vector reduction
(max-preceding-cosine) is an ordinary partial-aggregated groupBy —
constant state per key, no window set-state. The tau sweep scores the
pair set ONCE and derives every threshold from the same per-vector
maximum (the ivfpq nprobe-sweep pattern): pruned(tau) depends only on
max_prev_cos >= tau. On a cluster the member table would be written
bucketed by cell_id, making the self-join a co-located, exchange-free
sort-merge per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import GenerationSlot
from ..functions.vectors import cosine_from_norms
from ..registry import register
from .similarity import (
    LLOYD_ITERS,
    _COS_SQL,
    _emb,
    _lloyd_ctes,
    _trained_centroids,
    _with_nearest_cell,
)

# Semantic-duplicate threshold. The synthetic embeddings are
# near-orthogonal (max corpus pair cosine ~0.52); within-cluster pairs
# reach ~0.47 at sf0.01, so 0.4 prunes a real (small) duplicate set at
# every test SF. Real text embeddings would use ~0.95+.
SEMDEDUP_TAU = 0.4

# Sweep grid for the tuning curve (one scored pass serves all).
SEMDEDUP_TAUS = [0.30, 0.35, 0.40, 0.45]

# Family persist slot (per-slot cache rule, cache.GenerationSlot).
_SEM_GENERATION = GenerationSlot()


def _member_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(members, max_prev) for the dataset.

    ``members``: (vec_id, cell_id, embedding, vn, cent_cos) — each
    vector with its 1-nearest trained cell and its rounded cosine to
    that cell's centroid. Persisted (three plan branches ride it).

    ``max_prev``: (vec_id, max_prev_cos) — for each vector, the max
    pairwise cosine to any same-cell vector preceding it in
    (cent_cos ASC, vec_id ASC) order. Vectors with no preceding
    same-cell partner are absent (left-join + coalesce downstream).
    """
    _SEM_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    cent = _trained_centroids(emb, sf_dir)
    members = (
        _with_nearest_cell(emb, cent)
        .join(F.broadcast(cent), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            "embedding",
            "vn",
            F.round(
                cosine_from_norms(
                    F.col("embedding"), F.col("ce"), F.col("vn"), F.col("cn")
                ),
                6,
            ).alias("cent_cos"),
        )
        .persist()
    )
    _SEM_GENERATION.append(members)

    return members, max_prev_from_members(members)


def max_prev_from_members(members: DataFrame) -> DataFrame:
    """The within-cell pairwise reduction over any frame shaped like
    ``members`` (vec_id, cell_id, embedding, vn, cent_cos) — split out
    so the bucketed-layout twin (tests/test_semdedup.py) can run the
    IDENTICAL dataflow over a cell_id-bucketed table: both scan
    branches then report the bucket hash as their partitioning and the
    self-join plans with NO exchange between scan and join (the
    co-located sort-merge the module docstring claims for the 100 TB
    layout)."""
    a = members.select(
        F.col("cell_id"),
        F.col("vec_id").alias("ai"),
        F.col("cent_cos").alias("ca"),
        F.col("embedding").alias("ae"),
        F.col("vn").alias("an"),
    )
    b = members.select(
        F.col("cell_id"),
        F.col("vec_id").alias("bi"),
        F.col("cent_cos").alias("cb"),
        F.col("embedding").alias("be"),
        F.col("vn").alias("bn"),
    )
    return (
        a.join(b, "cell_id")
        .where(
            (F.col("ca") < F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("ai") < F.col("bi")))
        )
        .select(
            F.col("bi").alias("vec_id"),
            F.round(
                cosine_from_norms(
                    F.col("ae"), F.col("be"), F.col("an"), F.col("bn")
                ),
                6,
            ).alias("c"),
        )
        .groupBy("vec_id")
        .agg(F.max("c").alias("max_prev_cos"))
    )


def _memb_ctes() -> str:
    """CTE chain ending at ``memb(vec_id, cell_id, cent_cos)`` and
    ``mp(vec_id, max_prev_cos)`` — the oracle twin of
    :func:`_member_frames` over the trained centroids."""
    final = f"cent{LLOYD_ITERS}"
    return f"""{_lloyd_ctes(LLOYD_ITERS)},
    sd_asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings v, {final} c
      ) WHERE rn = 1
    ),
    memb AS (
      SELECT a.vec_id, a.cell_id,
             round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) AS cent_cos
      FROM sd_asg a
      JOIN embeddings v USING (vec_id)
      JOIN {final} c ON c.cell_id = a.cell_id
    ),
    mp AS (
      SELECT b.vec_id, max({_COS_SQL.format("va", "vb")}) AS max_prev_cos
      FROM memb a
      JOIN memb b ON a.cell_id = b.cell_id
       AND (a.cent_cos < b.cent_cos
            OR (a.cent_cos = b.cent_cos AND a.vec_id < b.vec_id))
      JOIN embeddings va ON va.vec_id = a.vec_id
      JOIN embeddings vb ON vb.vec_id = b.vec_id
      GROUP BY b.vec_id
    )"""


@register(
    "semdedup_prune",
    oracle=f"""
    WITH {_memb_ctes()}
    SELECT m.vec_id, m.cell_id, m.cent_cos,
           coalesce(mp.max_prev_cos < {SEMDEDUP_TAU}, TRUE) AS keep
    FROM memb m LEFT JOIN mp USING (vec_id)
    """,
    doc="SemDeDup per-vector verdict: cluster over the trained IVF "
    "centroids, prune any vector with a preceding same-cluster "
    "semantic duplicate (cosine >= tau); the least-centroid-similar "
    "copy of every duplicate group survives. Pairwise work bounded by "
    "cell occupancy, never |N|^2.",
    tags=["semdedup", "llm-pipeline"],
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    members, max_prev = _member_frames(spark, sf_dir)
    return members.join(max_prev, "vec_id", "left").select(
        "vec_id",
        "cell_id",
        "cent_cos",
        F.coalesce(
            F.col("max_prev_cos") < SEMDEDUP_TAU, F.lit(True)
        ).alias("keep"),
    )


@register(
    "semdedup_stats",
    oracle=f"""
    WITH {_memb_ctes()}
    SELECT m.cell_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(CASE WHEN mp.max_prev_cos >= {SEMDEDUP_TAU} THEN 1 END)
                AS BIGINT) AS n_pruned,
           round(max(m.cent_cos), 6) AS max_cent_cos
    FROM memb m LEFT JOIN mp USING (vec_id)
    GROUP BY m.cell_id
    """,
    doc="Per-cluster SemDeDup profile: member count, pruned count at "
    "tau, and the most prototypical member's centroid cosine — the "
    "audit table a 100 TB pass emits to spot collapsed (boilerplate) "
    "clusters before committing the prune.",
    tags=["semdedup", "llm-pipeline"],
)
def semdedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    members, max_prev = _member_frames(spark, sf_dir)
    return (
        members.join(max_prev, "vec_id", "left")
        .groupBy("cell_id")
        .agg(
            F.count("*").alias("n_members"),
            F.count(
                F.when(F.col("max_prev_cos") >= SEMDEDUP_TAU, F.lit(1))
            ).alias("n_pruned"),
            F.round(F.max("cent_cos"), 6).alias("max_cent_cos"),
        )
    )


# ::DOUBLE: a bare VALUES literal is DECIMAL in DuckDB, which would
# canonicalize as '0.30' vs Spark's double '0.3' in the hash compare.
_TAUS_SQL = ", ".join(f"({t}::DOUBLE)" for t in SEMDEDUP_TAUS)


@register(
    "semdedup_tau_tuning",
    oracle=f"""
    WITH {_memb_ctes()},
    taus(tau) AS (SELECT * FROM (VALUES {_TAUS_SQL}) t(tau)),
    scored AS (
      SELECT m.vec_id, coalesce(mp.max_prev_cos, -1.0) AS max_prev_cos
      FROM memb m LEFT JOIN mp USING (vec_id)
    )
    SELECT round(t.tau, 2) AS tau,
           CAST(count(CASE WHEN s.max_prev_cos >= t.tau THEN 1 END) AS BIGINT)
             AS n_pruned,
           CAST(count(CASE WHEN s.max_prev_cos < t.tau THEN 1 END) AS BIGINT)
             AS n_kept,
           round(count(CASE WHEN s.max_prev_cos >= t.tau THEN 1 END) * 1.0
                 / count(*), 6) AS prune_rate
    FROM taus t CROSS JOIN scored s
    GROUP BY t.tau
    """,
    doc="Prune-rate curve over the tau grid, measured BEFORE committing "
    "a full prune (the band/nprobe-tuning pattern). The pair set is "
    "scored once: pruned(tau) depends only on each vector's "
    "max-preceding-cosine, so every threshold derives from one pass.",
    tags=["semdedup", "llm-pipeline", "tuning"],
)
def semdedup_tau_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    members, max_prev = _member_frames(spark, sf_dir)
    scored = members.join(max_prev, "vec_id", "left").select(
        "vec_id", F.coalesce(F.col("max_prev_cos"), F.lit(-1.0)).alias("max_prev_cos")
    )
    taus = F.broadcast(
        members.sparkSession.createDataFrame(
            [(float(t),) for t in SEMDEDUP_TAUS], "tau double"
        )
    )
    return (
        taus.crossJoin(scored)
        .groupBy(F.round(F.col("tau"), 2).alias("tau"))
        .agg(
            F.count(F.when(F.col("max_prev_cos") >= F.col("tau"), 1)).alias(
                "n_pruned"
            ),
            F.count(F.when(F.col("max_prev_cos") < F.col("tau"), 1)).alias(
                "n_kept"
            ),
            F.round(
                F.count(F.when(F.col("max_prev_cos") >= F.col("tau"), 1))
                * F.lit(1.0)
                / F.count("*"),
                6,
            ).alias("prune_rate"),
        )
    )
