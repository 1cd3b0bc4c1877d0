"""Similarity search over the ``embeddings`` table: brute-force cosine
top-k (the exact baseline), an IVF (inverted-file) variant (the scale
path), and per-label vector aggregation.

Determinism contract: every ranking orders by (round(cosine, 6) DESC,
vec_id ASC) so engine and oracle rank identically even though raw
doubles could differ in the last ulp. Dot products are double-precision
left folds over the array — bit-identical between Spark's
``aggregate`` and DuckDB's ``list_cosine_similarity`` on DOUBLE[]
(verified empirically; see tests).

Scale notes (100 TB / billions of vectors):

- brute force is O(|Q| * |N| * d) with the corpus side partitioned and
  the query side broadcast — correct as long as Q is small; it is the
  per-cell verifier inside IVF, not the top-level plan.
- IVF: centroid assignment is a broadcast join (centroid table is
  KB-MB), so building the cell index is one map pass + one shuffle on
  cell_id. Queries probe nprobe cells; the candidate join hits only
  |N| * nprobe / n_cells vectors per query. On a real cluster the cell
  assignment would be written bucketed-by-cell so probes prune
  partitions. k ~ sqrt(N) (modulus = floor(sqrt(N)), a broadcast 1-row
  aggregate) balances assignment against in-cell verification and
  bounds the centroid broadcast. ann_ivf searches the
  deterministic-sample seeds; ann_ivf_trained refines them with LLOYD_ITERS k-means
  rounds, each round one broadcast-argmax assignment + one
  O(cells*dims) exact fixed-point mean update — same probe dataflow,
  better cells. ann_ivf_recall quantifies both against the exact
  brute-force top-k (0.42 at sf0.01 with sqrt(N) cells; trained ties
  sample there — the synthetic corpus is near-orthogonal, so k-means
  has little structure to learn, but must never do worse).
  ann_ivf_recall_structured runs the same measurement on the
  label-blended fixture, where training provably helps: trained 0.94
  vs sample 0.76 at sf0.01, strictness asserted in
  tests/test_components.py.
- label centroids: posexplode to (label, dim) then two-level agg —
  partial aggregation map-side makes the shuffle O(labels * d), not
  O(rows * d).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import ARTIFACTS, GenerationSlot
from ..functions.vectors import cosine_from_norms, l2_norm
from ..registry import register
from ..sources.tables import table

QUERY_MOD = 50  # vec_id % QUERY_MOD == 0 => a query vector
# Centroid seeds are vec_id % M == 0 where M = max(1, floor(sqrt(N))) —
# so k ~ sqrt(N) cells of ~sqrt(N) vectors each, the IVF sizing that
# balances assignment O(N*k*d) against in-cell verification O(N^2/k*d)
# and keeps the centroid broadcast ~sqrt(N)*d*8 bytes (16 MB at 1e9
# vectors). A FIXED modulus would grow k linearly with the corpus:
# quadratic assignment and an unbounded broadcast in disguise. M is a
# 1-row aggregate cross-joined into the plan (no driver action), and
# the oracle computes the identical scalar subquery.
_CMOD_SQL = (
    "(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"
)
TOP_K = 10
IVF_TOP_K = 5
NPROBE = 2
LLOYD_ITERS = 2  # k-means refinement rounds for the trained IVF index
CENT_SCALE = 10_000_000  # fixed-point scale for exact centroid means

# one-generation cache for trained-centroid frames (same policy as
# operators/dedup.py: each invocation evicts the previous one's).
# NOTE: _emb / _nearest_cells / _trained_centroids are a shared
# internal contract — operators/dedup.py's dedup_embedding_ivf builds
# its candidate generation on them; change their signatures in both
# call sites.
_CACHE_GENERATION = GenerationSlot()

_COS_SQL = (
    "round(list_cosine_similarity({0}.embedding::DOUBLE[], "
    "{1}.embedding::DOUBLE[]), 6)"
)


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             {_COS_SQL.format('q', 'n')} AS cosine
      FROM q JOIN embeddings n ON n.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM ranked WHERE rank <= {TOP_K}
    """,
    doc=f"Exact cosine top-{TOP_K} for every query vector "
    f"(vec_id % {QUERY_MOD} = 0) by brute force: broadcast the query "
    "side, JVM-side double-precision dot products over the partitioned "
    "corpus, per-query window rank. The exact baseline ANN variants "
    "are measured against.",
    tags=["similarity"],
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import parquet_num_rows

    n_rows = parquet_num_rows(sf_dir, "embeddings")
    return _bruteforce_topk(_emb(spark, sf_dir), TOP_K, n_rows)


# Broadcasting an unbounded query side is the one scale hazard in the
# exact plan: |Q| grows with the corpus, executor memory does not.
# _bruteforce_topk therefore chunks the query side so each broadcast
# carries ~BROADCAST_QUERY_BATCH rows (disjoint id-hash slices are
# balanced to within a few percent at this batch size; one bounded
# broadcast-join per slice, results unioned — chunking cannot change
# the output, every query lands in exactly one slice for ANY chunk
# count >= 1).
# The loop is sized from parquet FOOTER metadata (n_rows / QUERY_MOD),
# not a count() action — the hot path stays free of driver-side jobs;
# the estimate only shapes broadcast granularity, never correctness.
BROADCAST_QUERY_BATCH = 4096


def _bruteforce_topk(
    emb: DataFrame, k: int, n_rows: int, batch: int = BROADCAST_QUERY_BATCH
) -> DataFrame:
    """Exact cosine top-k: bounded broadcasts of the query side against
    the partitioned corpus, rank per query. ``n_rows`` is the corpus
    row count (from footer metadata) used only to size the chunk loop."""
    q = emb.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("vn").alias("qn"),
    )
    n_queries = -(-n_rows // QUERY_MOD)  # ceil: dense 0-based vec_ids
    n_chunks = max(1, -(-n_queries // batch))
    scored = None
    for c in range(n_chunks):
        qc = q.where(F.pmod(F.xxhash64("query_id"), F.lit(n_chunks)) == c)
        part = (
            F.broadcast(qc)
            .join(emb, F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(
                    cosine_from_norms(
                        F.col("qe"), F.col("embedding"), F.col("qn"), F.col("vn")
                    ),
                    6,
                ).alias("cosine"),
            )
        )
        scored = part if scored is None else scored.union(part)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


@register(
    "ann_ivf",
    oracle=f"""
    WITH cent AS (SELECT * FROM embeddings WHERE vec_id % {_CMOD_SQL} = 0),
    assign_scored AS (
      SELECT v.vec_id, c.vec_id AS cell_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY {_COS_SQL.format('v', 'c')} DESC, c.vec_id) AS rn
      FROM embeddings v JOIN cent c ON TRUE
    ),
    assign AS (
      SELECT vec_id, cell_id FROM assign_scored WHERE rn = 1
    ),
    q AS (SELECT * FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    probe_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cell_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_COS_SQL.format('q', 'c')} DESC, c.vec_id) AS rn
      FROM q JOIN cent c ON TRUE
    ),
    probes AS (
      SELECT query_id, cell_id FROM probe_scored WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS_SQL.format('q', 'n')} AS cosine
      FROM probes p
      JOIN assign a USING (cell_id)
      JOIN embeddings n ON n.vec_id = a.vec_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM ranked WHERE rank <= {IVF_TOP_K}
    """,
    doc=f"IVF approximate nearest neighbors: vectors are assigned to "
    "their nearest centroid cell (~sqrt(N) deterministic-sample "
    "centroids, broadcast); each query probes its "
    f"{NPROBE} nearest cells "
    f"and ranks only those cells' members, returning top-{IVF_TOP_K}. "
    "Cost per query drops from |N| to |N|*nprobe/cells; on a cluster "
    "the assignment table is bucketed by cell_id so probes prune "
    "partitions.",
    tags=["similarity"],
)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return _ivf_search(emb, _seed_centroids(emb))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("vn")
    )


def _seed_centroids(emb: DataFrame) -> DataFrame:
    """(cell_id, ce, cn): the deterministic-sample centroid table —
    k-means INIT (and the untrained baseline ann_ivf searches with).
    k ~ sqrt(N): the modulus is a broadcast 1-row aggregate, so the
    seed rule self-scales with the corpus without a driver action."""
    m = emb.agg(
        F.greatest(F.lit(1), F.floor(F.sqrt(F.count("*"))))
        .cast("long")
        .alias("cmod")
    )
    return (
        emb.crossJoin(F.broadcast(m))
        .where(F.col("vec_id") % F.col("cmod") == 0)
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("ce"),
            F.col("vn").alias("cn"),
        )
    )


def _nearest_cells(
    vecs: DataFrame, cent: DataFrame, id_col: str, n: int,
    keep_rank: bool = False,
) -> DataFrame:
    """Top-n (n > 1) centroid cells per vector: broadcast the (KB-MB)
    centroid table, rank by (rounded cosine DESC, cell_id) per vector.
    For n == 1 use _with_nearest_cell — same semantics, no shuffle.
    ``keep_rank`` also returns the 1-based probe rank ``rn`` so a sweep
    can derive every smaller probe budget from one widest probing."""
    scored = vecs.join(F.broadcast(cent)).select(
        id_col,
        "cell_id",
        F.round(
            cosine_from_norms(
                F.col("embedding"), F.col("ce"), F.col("vn"), F.col("cn")
            ),
            6,
        ).alias("c"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c").desc(), F.col("cell_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= n
    )
    if keep_rank:
        return ranked.select(id_col, "cell_id", "rn")
    return ranked.select(id_col, "cell_id")


def _with_nearest_cell(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """``vecs`` plus a ``cell_id`` column: each row's argmax-cosine
    centroid — the n=1 assignment as a MAP-ONLY stage.

    The k ~ sqrt(N) centroid table is collapsed to one row holding an
    array of (cell_id, ce, cn) structs, cross-joined broadcast, and
    folded per vector row. The window-rank path shuffles and sorts
    N*k scored rows per assignment; this shuffles nothing, which also
    lets Lloyd rounds skip the emb-to-assignment re-join because the
    embedding never leaves the row. Two-step fold: transform scores
    each cell ONCE (lambda bodies get no subexpression elimination —
    the cosine must not sit in the comparator), then an
    order-independent argmax fold applies the oracle's exact
    tie-break (round(cos, 6) DESC, cell_id ASC), so the
    nondeterministic collect_list order cannot perturb the result.
    """
    carr = cent.agg(
        F.collect_list(F.struct("cell_id", "ce", "cn")).alias("_cells")
    )
    scored = F.transform(
        F.col("_cells"),
        lambda cell: F.struct(
            F.round(
                cosine_from_norms(
                    F.col("embedding"), cell["ce"], F.col("vn"), cell["cn"]
                ),
                6,
            ).alias("c"),
            cell["cell_id"].alias("id"),
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("double").alias("c"),
            F.lit(None).cast("long").alias("id"),
        ),
        lambda acc, s: F.when(
            acc["id"].isNull()
            | (s["c"] > acc["c"])
            | ((s["c"] == acc["c"]) & (s["id"] < acc["id"])),
            s,
        ).otherwise(acc),
    )
    return (
        vecs.crossJoin(F.broadcast(carr))
        .withColumn("cell_id", best["id"])
        .drop("_cells")
    )


def _ivf_search(
    emb: DataFrame, cent: DataFrame, nprobe: int = NPROBE
) -> DataFrame:
    """The IVF probe plan over any centroid table: assign corpus
    vectors to their nearest cell, probe each query's ``nprobe``
    nearest cells, rank only those cells' members."""
    q = emb.where(F.col("vec_id") % QUERY_MOD == 0)
    probes = _nearest_cells(
        q.select(F.col("vec_id").alias("query_id"), "embedding", "vn"),
        cent,
        "query_id",
        nprobe,
    )

    members = _with_nearest_cell(emb, cent).select(
        "vec_id",
        "cell_id",
        F.col("embedding").alias("ne"),
        F.col("vn").alias("nn"),
    )
    scored = (
        probes.join(members, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(
            F.broadcast(
                q.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qe"),
                    F.col("vn").alias("qn"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_from_norms(F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


@register(
    "embedding_label_centroids",
    oracle="""
    WITH norms AS (
      SELECT label, vec_id,
             sqrt(list_reduce(
               list_prepend(0.0, list_transform(embedding::DOUBLE[], x -> x * x)),
               (a, b) -> a + b)) AS vnorm
      FROM embeddings
    ),
    dims AS (
      SELECT label, i AS pos, avg(embedding[i]::DOUBLE) AS dim_avg
      FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
      GROUP BY 1, 2
    ),
    cent AS (
      SELECT label, sqrt(sum(dim_avg * dim_avg)) AS centroid_norm
      FROM dims GROUP BY label
    )
    SELECT n.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(n.vnorm), 6) AS avg_norm,
           round(any_value(c.centroid_norm), 6) AS centroid_norm
    FROM norms n JOIN cent c USING (label)
    GROUP BY n.label
    """,
    doc="Per-label vector aggregation: count, mean L2 norm, and the "
    "norm of the mean vector (centroid). posexplode to (label, dim) "
    "rows then aggregate — map-side partial aggregation makes the "
    "shuffle O(labels * dims), independent of row count.",
    tags=["similarity"],
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label", "vec_id", l2_norm(F.col("embedding")).alias("vnorm")
    )
    per_label = norms.groupBy("label").agg(
        F.count("*").alias("n_vecs"), F.round(F.avg("vnorm"), 6).alias("avg_norm")
    )
    dims = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("dim_avg"))
    )
    cent = dims.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("dim_avg") * F.col("dim_avg"))), 6).alias(
            "centroid_norm"
        )
    )
    return per_label.join(cent, "label").select(
        "label", "n_vecs", "avg_norm", "centroid_norm"
    )


# The trained centroid table is an INDEX — a build-once artifact (on a
# cluster it would be written to storage bucketed by cell and reused by
# every search/dedup job until the corpus changes). An ARTIFACTS entry
# per (session, dataset) so consecutive queries in one session share
# one Lloyd run; the one-generation eviction only manages per-round
# intermediates.


def _trained_centroids(
    emb: DataFrame, sf_dir: str, corpus: str = "raw"
) -> DataFrame:
    """(cell_id, ce, cn): LLOYD_ITERS k-means refinements of the seed
    centroids, entirely as DataFrame aggregates.

    Each round: (1) assign every vector to its nearest centroid (the
    map-only HOF argmax in _with_nearest_cell — no shuffle, no re-join,
    the embedding stays on the row); (2) recompute each cell's
    centroid as the mean of its members via posexplode + groupBy
    (cell_id, pos) — map-side partials make the update shuffle
    O(cells * dims), independent of corpus size. One small shuffle
    per round total.

    Determinism contract: the mean is EXACT fixed-point — per-element
    round(x * CENT_SCALE) to BIGINT, integer sum, then one double
    division (sum / scale / n, the favg op order) — so parallel
    summation order can never perturb a centroid, and the DuckDB
    oracle reproduces every component bitwise. Float32 inputs carry ~7
    significant digits, so the 1e-7 quantization is below input
    precision. (Guardrail: the integer sum stays exact while
    n_members * CENT_SCALE < 2^53 — ~9e8 vectors per cell, far beyond
    any real cell.) A cell that loses all members drops out (k may
    shrink); ties in assignment break by cell_id.

    Per-round frames persist under the module's one-generation cache:
    each assignment re-reads the previous round's centroids, and the
    final search references them from multiple plan branches. The
    FINAL centroid frame is memoized as ``trained:<corpus>`` for
    ``sf_dir`` (``corpus`` names which of the dataset's embedding
    corpora ``emb`` is) and excluded from generation eviction, so every
    consumer of the same corpus's index reuses one training run —
    training is deterministic, so results are identical either way.
    """
    return ARTIFACTS.get_or_build(
        emb.sparkSession, f"trained:{corpus}", sf_dir, lambda: _train(emb)
    )


def _train(emb: DataFrame) -> DataFrame:
    cent = _seed_centroids(emb)
    for _ in range(LLOYD_ITERS):
        sums = (
            _with_nearest_cell(emb, cent)
            .select("cell_id", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(
                F.sum(
                    F.round(F.col("val").cast("double") * CENT_SCALE).cast("long")
                ).alias("s"),
                F.count("*").alias("n"),
            )
        )
        comp = sums.select(
            "cell_id",
            "pos",
            (
                F.col("s").cast("double")
                / F.lit(float(CENT_SCALE))
                / F.col("n")
            ).alias("val"),
        )
        cent = (
            comp.groupBy("cell_id")
            .agg(F.collect_list(F.struct("pos", "val")).alias("pv"))
            .select(
                "cell_id",
                F.transform(F.array_sort("pv"), lambda x: x["val"]).alias("ce"),
            )
            .select("cell_id", "ce", l2_norm(F.col("ce")).alias("cn"))
            .persist()
        )
        _CACHE_GENERATION.append(cent)
    # keep the final index out of generation eviction, and materialize
    # it NOW: cent's lineage roots at the per-round cents still inside
    # the evictable generation — a later invocation would evict them
    # before an unmaterialized memo ever ran, forcing a full retrain on
    # its next consumer action (the bpe._artifacts lesson)
    _CACHE_GENERATION.remove(cent)
    cent.count()
    return cent


def _lloyd_ctes(
    n_iters: int, src: str = "embeddings", cmod_src: str | None = None
) -> str:
    """CTE chain cent0 -> ... -> cent{n_iters} mirroring
    _trained_centroids verbatim (same fixed-point mean, same
    tie-breaks) over source relation ``src``. ``cmod_src`` overrides
    the relation the ~sqrt(N) seed modulus counts (defaults to the full
    embeddings table, which matches the Spark side whenever ``src`` has
    the same row count; pass the subset relation when training on a
    strict subset, e.g. ann_ivf_incremental's base slice)."""
    cmod = (
        _CMOD_SQL
        if cmod_src is None
        else "(SELECT greatest(1, CAST(floor(sqrt(count(*))) AS BIGINT)) "
        f"FROM {cmod_src})"
    )
    parts = [
        f"""cent0 AS (
      SELECT vec_id AS cell_id, embedding::DOUBLE[] AS ce
      FROM {src} WHERE vec_id % {cmod} = 0
    )"""
    ]
    for i in range(n_iters):
        parts.append(
            f"""asg{i} AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM {src} v, cent{i} c
      ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""usum{i} AS (
      SELECT a.cell_id, p.i AS pos,
             SUM(CAST(round(v.embedding[p.i]::DOUBLE * {CENT_SCALE}) AS BIGINT)) AS s,
             count(*) AS n
      FROM asg{i} a
      JOIN {src} v USING (vec_id),
           unnest(range(1, len(v.embedding) + 1)) p(i)
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"""cent{i + 1} AS (
      SELECT cell_id,
             list(s::DOUBLE / {float(CENT_SCALE)} / n ORDER BY pos) AS ce
      FROM usum{i} GROUP BY cell_id
    )"""
        )
    return ",\n    ".join(parts)


def _ivf_search_sql(
    cent: str, s: str, src: str = "embeddings", nprobe: int = NPROBE
) -> str:
    """CTE chain ending at ``ivf_{s}(query_id, neighbor_id, rank,
    cosine)``: the IVF probe plan over centroid relation ``cent``
    and corpus relation ``src``."""
    return f"""asg_{s} AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM {src} v, {cent} c
      ) WHERE rn = 1
    ),
    prb_{s} AS (
      SELECT query_id, cell_id FROM (
        SELECT q.vec_id AS query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM {src} q, {cent} c WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rn <= {nprobe}
    ),
    ivf_{s} AS (
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cosine,
               row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
                          a.vec_id) AS rank
        FROM prb_{s} p
        JOIN asg_{s} a USING (cell_id)
        JOIN {src} n ON n.vec_id = a.vec_id
        JOIN {src} q ON q.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
      ) WHERE rank <= {IVF_TOP_K}
    )"""


@register(
    "ann_ivf_trained",
    oracle=f"""
    WITH {_lloyd_ctes(LLOYD_ITERS)},
    {_ivf_search_sql(f"cent{LLOYD_ITERS}", "t")}
    SELECT query_id, neighbor_id, rank, cosine FROM ivf_t
    """,
    doc=f"IVF over TRAINED centroids: {LLOYD_ITERS} Lloyd iterations "
    "refine the deterministic-sample seeds (assignment = broadcast "
    "argmax; update = posexplode + exact fixed-point mean, shuffle "
    "O(cells*dims)), then the same probe plan as ann_ivf. Same "
    "dataflow, better cells — recall measured by ann_ivf_recall.",
    tags=["similarity"],
)
def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    return _ivf_search(emb, _trained_centroids(emb, sf_dir))


@register(
    "ann_ivf_recall",
    oracle=f"""
    WITH {_lloyd_ctes(LLOYD_ITERS)},
    {_ivf_search_sql("cent0", "s")},
    {_ivf_search_sql(f"cent{LLOYD_ITERS}", "t")},
    exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
                          n.vec_id) AS rank
        FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rank <= {IVF_TOP_K}
    ),
    nq AS (SELECT count(DISTINCT query_id) AS q FROM exact5),
    hs AS (SELECT count(*) AS h FROM exact5 JOIN ivf_s USING (query_id, neighbor_id)),
    ht AS (SELECT count(*) AS h FROM exact5 JOIN ivf_t USING (query_id, neighbor_id))
    SELECT 'sample' AS variant, CAST(q AS BIGINT) AS n_queries,
           round(h::DOUBLE / (q * {float(IVF_TOP_K)}), 6) AS mean_recall
    FROM hs, nq
    UNION ALL
    SELECT 'trained' AS variant, CAST(q AS BIGINT) AS n_queries,
           round(h::DOUBLE / (q * {float(IVF_TOP_K)}), 6) AS mean_recall
    FROM ht, nq
    """,
    doc=f"Recall@{IVF_TOP_K} of both IVF variants against the exact "
    "brute-force top-k: one row per variant (sample seeds vs "
    f"{LLOYD_ITERS}-round Lloyd-trained centroids). hits counted as an "
    "integer join-count so the ratio is order-independent. The metric "
    "query that makes the ANN index honest.",
    tags=["similarity"],
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import parquet_num_rows

    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    n_rows = parquet_num_rows(sf_dir, "embeddings")
    exact5 = _bruteforce_topk(emb, IVF_TOP_K, n_rows).select(
        "query_id", "neighbor_id"
    )
    nq = exact5.agg(F.countDistinct("query_id").alias("q"))

    def recall_row(variant: str, ivf: DataFrame) -> DataFrame:
        hits = exact5.join(
            ivf.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).agg(F.count("*").alias("h"))
        return hits.crossJoin(F.broadcast(nq)).select(
            F.lit(variant).alias("variant"),
            F.col("q").cast("long").alias("n_queries"),
            F.round(
                F.col("h").cast("double") / (F.col("q") * F.lit(float(IVF_TOP_K))),
                6,
            ).alias("mean_recall"),
        )

    sample = recall_row("sample", _ivf_search(emb, _seed_centroids(emb)))
    trained = recall_row(
        "trained", _ivf_search(emb, _trained_centroids(emb, sf_dir))
    )
    return sample.union(trained)


# ---------------------------------------------------------------------------
# Structured-fixture recall: where Lloyd training has something to learn
# ---------------------------------------------------------------------------

# The raw synthetic embeddings are near-orthogonal (max pairwise cosine
# ~0.5), so k-means has almost no structure to learn and trained
# centroids merely tie the sampled seeds. This fixture manufactures the
# structure real corpora have: each vector is blended toward its label's
# centroid, v' = 0.8 * centroid(label) + 0.2 * v, producing one tight
# cluster per label. The blend is EXACT integer arithmetic shared with
# the oracle: with r = round(v * S) and s = per-label elementwise sum of
# r over n members, v'_i = (4 * s_i + n * r_i) / (5 * n * S) — one
# integer numerator (< 2^53), one double division, bitwise identical in
# both engines.
BLEND_NUM = 4  # centroid weight 4/5, vector weight 1/5


# The label-blended corpus is a deterministic DERIVED TABLE (in
# production it would be materialized at ingest, not re-derived per
# query), consumed by four registered queries and the memoized indexes
# trained on it — an ARTIFACTS entry, persisted and counted before it
# is stored so no generation eviction can force a silent rebuild.
# Consumers use it directly: do NOT re-persist it or append it to a
# generation cache (the eviction would strip the memo's storage).


def _structured_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, vn): the label-blended corpus, memoized."""
    return ARTIFACTS.get_or_build(
        spark, "structured_emb", sf_dir, lambda: _blend(spark, sf_dir)
    )


def _blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    r = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * CENT_SCALE).cast("long"),
        ).alias("r_arr"),
    )
    sums = (
        r.select("label", F.posexplode("r_arr").alias("pos", "rv"))
        .groupBy("label", "pos")
        .agg(F.sum("rv").alias("s"), F.count("*").alias("n"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("s_arr"),
            F.max("n").alias("n"),
        )
    )
    blended = r.join(F.broadcast(sums), "label").select(
        "vec_id",
        F.zip_with(
            "s_arr",
            "r_arr",
            lambda s, rv: (F.lit(BLEND_NUM) * s + F.col("n") * rv).cast("double")
            / (F.lit(float(BLEND_NUM + 1)) * F.col("n") * F.lit(CENT_SCALE)),
        ).alias("embedding"),
    )
    out = blended.select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("vn")
    ).persist()
    out.count()
    return out


_STRUCTURED_SQL = f"""structured AS (
      SELECT v.vec_id,
             list_transform(range(1, len(v.embedding) + 1),
               i -> CAST({BLEND_NUM} * s.s_arr[i]
                         + s.n * CAST(round((v.embedding::DOUBLE[])[i]
                                            * {CENT_SCALE}) AS BIGINT)
                         AS DOUBLE)
                    / ({float(BLEND_NUM + 1)} * s.n * {CENT_SCALE})) AS embedding
      FROM embeddings v
      JOIN (
        SELECT label, list(s ORDER BY pos) AS s_arr, max(n) AS n
        FROM (
          SELECT label, p.i AS pos,
                 SUM(CAST(round((e.embedding::DOUBLE[])[p.i] * {CENT_SCALE})
                          AS BIGINT)) AS s,
                 count(*) AS n
          FROM embeddings e, unnest(range(1, len(e.embedding) + 1)) p(i)
          GROUP BY 1, 2
        ) GROUP BY label
      ) s USING (label)
    )"""


@register(
    "ann_ivf_recall_structured",
    oracle=f"""
    WITH {_STRUCTURED_SQL},
    {_lloyd_ctes(LLOYD_ITERS, src="structured")},
    {_ivf_search_sql("cent0", "s", src="structured")},
    {_ivf_search_sql(f"cent{LLOYD_ITERS}", "t", src="structured")},
    exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
                          n.vec_id) AS rank
        FROM structured q JOIN structured n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rank <= {IVF_TOP_K}
    ),
    nq AS (SELECT count(DISTINCT query_id) AS q FROM exact5),
    hs AS (SELECT count(*) AS h FROM exact5 JOIN ivf_s USING (query_id, neighbor_id)),
    ht AS (SELECT count(*) AS h FROM exact5 JOIN ivf_t USING (query_id, neighbor_id))
    SELECT 'sample' AS variant, CAST(q AS BIGINT) AS n_queries,
           round(h::DOUBLE / (q * {float(IVF_TOP_K)}), 6) AS mean_recall
    FROM hs, nq
    UNION ALL
    SELECT 'trained' AS variant, CAST(q AS BIGINT) AS n_queries,
           round(h::DOUBLE / (q * {float(IVF_TOP_K)}), 6) AS mean_recall
    FROM ht, nq
    """,
    doc=f"Recall@{IVF_TOP_K} of sampled vs Lloyd-trained IVF on the "
    "label-blended corpus (v' = 0.8*centroid(label) + 0.2*v, exact "
    "shared integer arithmetic): a fixture with genuine cluster "
    "structure, where training provably improves the index — trained "
    "recall strictly exceeds sample recall (asserted in "
    "tests/test_components.py), unlike the near-orthogonal raw corpus "
    "where they tie. Same dataflow and oracle machinery as "
    "ann_ivf_recall, parameterized on the source relation.",
    tags=["similarity"],
)
def ann_ivf_recall_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import parquet_num_rows

    _CACHE_GENERATION.evict()
    emb = _structured_emb(spark, sf_dir)  # memoized; not ours to evict
    n_rows = parquet_num_rows(sf_dir, "embeddings")
    exact5 = _bruteforce_topk(emb, IVF_TOP_K, n_rows).select(
        "query_id", "neighbor_id"
    )
    nq = exact5.agg(F.countDistinct("query_id").alias("q"))

    def recall_row(variant: str, ivf: DataFrame) -> DataFrame:
        hits = exact5.join(
            ivf.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).agg(F.count("*").alias("h"))
        return hits.crossJoin(F.broadcast(nq)).select(
            F.lit(variant).alias("variant"),
            F.col("q").cast("long").alias("n_queries"),
            F.round(
                F.col("h").cast("double") / (F.col("q") * F.lit(float(IVF_TOP_K))),
                6,
            ).alias("mean_recall"),
        )

    sample = recall_row("sample", _ivf_search(emb, _seed_centroids(emb)))
    trained = recall_row(
        "trained",
        _ivf_search(emb, _trained_centroids(emb, sf_dir, "structured")),
    )
    return sample.union(trained)


# --- Hyperplane (random-projection) LSH ANN ------------------------------
# The other classic ANN bucketing besides IVF: sign bits of random
# projections. 16 hyperplanes whose +/-1 coefficients derive from the
# shared md5 hash (reproducible on any engine), signature split into
# 4 x 4-bit chunks; two vectors are candidates when ANY chunk matches
# (standard banding). Fixed-point projection sums (round(e*1e6) BIGINT)
# make every sign bit — and therefore the candidate set — deterministic
# under any summation order, which is what lets DuckDB reproduce the
# whole index from SQL.
HP_PLANES = 16
HP_CHUNK_BITS = 4
HP_CHUNKS = HP_PLANES // HP_CHUNK_BITS
HP_FP = 10**6  # fixed-point scale for projection arithmetic

_HP_COEF_SQL = f"""coef AS (
      SELECT p, d,
             CASE WHEN ('0x' || substr(md5('hp' || CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS sign
      FROM unnest(range(0, {HP_PLANES})) up(p),
           unnest(range(0, 64)) ud(d)
    )"""

_HP_BUCKETS_SQL = f"""ex AS (
      SELECT vec_id, i - 1 AS d,
             CAST(round(embedding[i]::DOUBLE * {HP_FP}) AS BIGINT) AS ei
      FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)
    ),
    {_HP_COEF_SQL},
    sums AS (
      SELECT vec_id, p, sum(sign * ei) AS s
      FROM ex JOIN coef USING (d) GROUP BY 1, 2
    ),
    bits AS (
      SELECT vec_id, p, CASE WHEN s >= 0 THEN 1 ELSE 0 END AS b FROM sums
    ),
    chunks AS (
      SELECT vec_id, CAST(p // {HP_CHUNK_BITS} AS BIGINT) AS c,
             CAST(sum(b * CAST(pow(2, p % {HP_CHUNK_BITS}) AS BIGINT)) AS BIGINT) AS val
      FROM bits GROUP BY 1, 2
    )"""


def _hp_signs() -> list[list[int]]:
    """+/-1 hyperplane coefficients, computed driver-side from the SAME
    md5 formula the oracle's coef CTE uses (int(md5('hp{p}_{d}')[:8],
    16) % 2) — deterministic constants, embedded as array literals."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"hp{p}_{d}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for d in range(64)
        ]
        for p in range(HP_PLANES)
    ]


_HP_CHAIN_SQL = f"""{_HP_BUCKETS_SQL},
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
      FROM chunks q JOIN chunks n ON q.c = n.c AND q.val = n.val
      WHERE q.vec_id % {QUERY_MOD} = 0 AND n.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cosine
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    ),
    hp_topk AS (
      SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= {IVF_TOP_K}
    )"""


@register(
    "ann_hyperplane",
    oracle=f"""
    WITH {_HP_CHAIN_SQL}
    SELECT query_id, neighbor_id, rank, cosine FROM hp_topk
    """,
    doc=f"Hyperplane-LSH ANN — the LSH-bucketed alternative to the IVF "
    f"scale path: {HP_PLANES} random-projection sign bits (coefficients "
    "derived from the shared md5 hash; projection sums in fixed-point "
    "BIGINT so every bit is order-independent and engine-reproducible), "
    f"banded into {HP_CHUNKS} x {HP_CHUNK_BITS}-bit chunks; candidates "
    "share a chunk, exact cosine runs on candidates only (~1/4 of the "
    "corpus per query at these parameters vs brute force). Signature "
    "build is a PURE MAP — coefficient arrays are md5-derived constants "
    "embedded as literals, plane sums are zip_with folds over one "
    "staged fixed-point array — so the only exchanges are the bucket "
    "equi-join and the rank; never all-pairs.",
    tags=["similarity"],
)
def ann_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    signs = _hp_signs()
    # Stage the fixed-point array through one Generate so the 16 plane
    # sums bind a materialized attribute instead of re-evaluating the
    # transform per plane (HOF lambdas are excluded from subexpression
    # elimination — same staging trick as functions/text.py shingles).
    fixed = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * HP_FP).cast("long")
    )
    staged = emb.select(
        "vec_id",
        F.explode(F.array(F.struct(fixed.alias("ei")))).alias("_st"),
    )
    ei = F.col("_st.ei")

    def plane_sum(p: int) -> F.Column:
        coef = F.array(*[F.lit(s) for s in signs[p]])
        return F.aggregate(
            F.zip_with(ei, coef, lambda x, c: x * c),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    chunk_structs = []
    for c in range(HP_CHUNKS):
        val = F.lit(0).cast("long")
        for j in range(HP_CHUNK_BITS):
            p = c * HP_CHUNK_BITS + j
            val = val + (plane_sum(p) >= 0).cast("long") * (1 << j)
        chunk_structs.append(
            F.struct(F.lit(c).cast("long").alias("c"), val.alias("val"))
        )
    chunks = staged.select(
        "vec_id", F.explode(F.array(*chunk_structs)).alias("b")
    ).select("vec_id", F.col("b.c").alias("c"), F.col("b.val").alias("val"))
    qb = chunks.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "c", "val"
    )
    nb = chunks.select(F.col("vec_id").alias("neighbor_id"), "c", "val")
    cand = (
        qb.join(nb, ["c", "val"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("vn").alias("qn"),
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
        F.col("vn").alias("nn"),
    )
    scored = (
        cand.join(q, "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms(
                    F.col("qe"), F.col("ne"), F.col("qn"), F.col("nn")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= IVF_TOP_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cosine")
    )


@register(
    "ann_hyperplane_recall",
    oracle=f"""
    WITH {_HP_CHAIN_SQL},
    exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
                          n.vec_id) AS rank
        FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rank <= {IVF_TOP_K}
    ),
    nq AS (SELECT count(DISTINCT query_id) AS q FROM exact5),
    h AS (SELECT count(*) AS h FROM exact5 JOIN hp_topk USING (query_id, neighbor_id))
    SELECT 'hyperplane' AS variant, CAST(q AS BIGINT) AS n_queries,
           round(h::DOUBLE / (q * {float(IVF_TOP_K)}), 6) AS mean_recall
    FROM h, nq
    """,
    doc=f"Recall@{IVF_TOP_K} of the hyperplane-LSH index against the "
    "exact brute-force ground truth — the sketch-quality number that "
    "tunes planes x chunk-bits before a full corpus pass, sibling of "
    "ann_ivf_recall/dedup_lsh_recall. Both paths share the corpus scan; "
    "the ratio is a crossJoin of two 1-row aggregates.",
    tags=["similarity", "metric"],
)
def ann_hyperplane_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import parquet_num_rows

    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    n_rows = parquet_num_rows(sf_dir, "embeddings")
    exact5 = _bruteforce_topk(emb, IVF_TOP_K, n_rows).select(
        "query_id", "neighbor_id"
    )
    nq = exact5.agg(F.countDistinct("query_id").alias("q"))
    hp = ann_hyperplane(spark, sf_dir).select("query_id", "neighbor_id")
    hits = exact5.join(hp, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count("*").alias("h")
    )
    return hits.crossJoin(F.broadcast(nq)).select(
        F.lit("hyperplane").alias("variant"),
        F.col("q").cast("long").alias("n_queries"),
        F.round(
            F.col("h").cast("double") / (F.col("q") * F.lit(float(IVF_TOP_K))),
            6,
        ).alias("mean_recall"),
    )


NPROBE_CONFIGS = [1, 2, 4]


def _nprobe_tuning_oracle() -> str:
    chains = ",\n    ".join(
        _ivf_search_sql(f"cent{LLOYD_ITERS}", f"p{np}", nprobe=np)
        for np in NPROBE_CONFIGS
    )
    rows = " UNION ALL ".join(
        f"""SELECT CAST({np} AS BIGINT) AS nprobe,
           (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM exact5) AS n_queries,
           round((SELECT count(*) FROM exact5 e JOIN ivf_p{np} i USING (query_id, neighbor_id))::DOUBLE
                 / ((SELECT count(DISTINCT query_id) FROM exact5) * {float(IVF_TOP_K)}), 6) AS mean_recall"""
        for np in NPROBE_CONFIGS
    )
    return f"""
    WITH {_lloyd_ctes(LLOYD_ITERS)},
    {chains},
    exact5 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
                          n.vec_id) AS rank
        FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rank <= {IVF_TOP_K}
    )
    {rows}
    """


@register(
    "ann_nprobe_tuning",
    oracle=_nprobe_tuning_oracle(),
    doc=f"IVF probe-tuning table: recall@{IVF_TOP_K} of the trained "
    f"index at nprobe = {NPROBE_CONFIGS} against the exact brute-force "
    "ground truth — the other half of the sketch-tuning story beside "
    "dedup_band_tuning (more probes = higher recall, nprobe/n_cells of "
    "the corpus scanned per query). The trained centroids build ONCE "
    "(memoized per dataset); each config pays only its probe join.",
    tags=["similarity", "metric"],
)
def ann_nprobe_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import parquet_num_rows

    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    cent = _trained_centroids(emb, sf_dir)
    n_rows = parquet_num_rows(sf_dir, "embeddings")
    exact5 = _bruteforce_topk(emb, IVF_TOP_K, n_rows).select(
        "query_id", "neighbor_id"
    )
    nq = exact5.agg(F.countDistinct("query_id").alias("q"))

    out = None
    for np in NPROBE_CONFIGS:
        ivf = _ivf_search(emb, cent, nprobe=np).select("query_id", "neighbor_id")
        hits = exact5.join(ivf, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count("*").alias("h")
        )
        row = hits.crossJoin(F.broadcast(nq)).select(
            F.lit(np).cast("long").alias("nprobe"),
            F.col("q").cast("long").alias("n_queries"),
            F.round(
                F.col("h").cast("double")
                / (F.col("q") * F.lit(float(IVF_TOP_K))),
                6,
            ).alias("mean_recall"),
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "knn_label_agreement",
    oracle=f"""
    WITH {_lloyd_ctes(LLOYD_ITERS)},
    {_ivf_search_sql(f"cent{LLOYD_ITERS}", "la")},
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
    j AS (
      SELECT t.query_id, ql.label AS qlabel, nl.label AS nlabel
      FROM ivf_la t
      JOIN lab ql ON ql.vec_id = t.query_id
      JOIN lab nl ON nl.vec_id = t.neighbor_id
    ),
    c AS (
      SELECT query_id, qlabel, nlabel, CAST(count(*) AS BIGINT) AS c
      FROM j GROUP BY 1, 2, 3
    ),
    m AS (
      SELECT *,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY c DESC, nlabel) AS rn,
             CAST(sum(c) OVER (PARTITION BY query_id) AS BIGINT) AS k
      FROM c
    )
    SELECT query_id, qlabel AS label,
           CAST(sum(CASE WHEN nlabel = qlabel THEN c ELSE 0 END) AS BIGINT)
             AS n_agree,
           round(sum(CASE WHEN nlabel = qlabel THEN c ELSE 0 END)::DOUBLE
                 / max(k), 6) AS agreement,
           max(CASE WHEN rn = 1 THEN nlabel END) AS majority_label
    FROM m GROUP BY query_id, qlabel
    """,
    doc="Label-noise audit: for every query vector, the fraction of its "
    f"trained-IVF top-{IVF_TOP_K} neighbors sharing its label, plus the "
    "neighborhood's majority label (ties by smallest label) — the "
    "audit that surfaces mislabeled rows before a classifier ever "
    "trains on them. Rides the production ANN index (candidates from "
    "probed cells, cost bounded by cell occupancy, index memoized), "
    "never an all-pairs scan; label joins are keyed equi-joins on the "
    "|queries|*k result. Denominator is the retrieved-neighbor count, "
    "honest when a probed cell holds fewer than k candidates.",
    tags=["similarity", "quality"],
)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    topk = _ivf_search(emb, _trained_centroids(emb, sf_dir))
    lab = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    j = topk.join(
        lab.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
        ),
        "neighbor_id",
    ).join(
        lab.select(
            F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
        ),
        "query_id",
    )
    c = j.groupBy("query_id", "qlabel", "nlabel").agg(F.count("*").alias("c"))
    wr = Window.partitionBy("query_id").orderBy(F.col("c").desc(), "nlabel")
    wq = Window.partitionBy("query_id")
    m = c.withColumn("rn", F.row_number().over(wr)).withColumn(
        "k", F.sum("c").over(wq)
    )
    agree = F.sum(
        F.when(F.col("nlabel") == F.col("qlabel"), F.col("c")).otherwise(
            F.lit(0)
        )
    )
    return m.groupBy("query_id", "qlabel").agg(
        agree.alias("n_agree"),
        F.round(agree.cast("double") / F.max("k"), 6).alias("agreement"),
        F.max(F.when(F.col("rn") == 1, F.col("nlabel"))).alias(
            "majority_label"
        ),
    ).select(
        "query_id",
        F.col("qlabel").alias("label"),
        "n_agree",
        "agreement",
        "majority_label",
    )


@register(
    "source_topic_profile",
    oracle=f"""
    WITH {_lloyd_ctes(LLOYD_ITERS)},
    asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM embeddings v, cent{LLOYD_ITERS} c
      ) WHERE rn = 1
    ),
    c AS (
      SELECT d.source, CAST(a.cell_id AS BIGINT) AS cell_id,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM documents d JOIN asg a ON a.vec_id = d.doc_id
      GROUP BY 1, 2
    )
    SELECT source, cell_id, n_docs,
           round(n_docs::DOUBLE
                 / sum(n_docs) OVER (PARTITION BY source), 6) AS share
    FROM c
    """,
    doc="Data-mixture diagnostic: each source's occupancy over the "
    "trained-IVF topic cells (documents join their embeddings 1:1 on "
    "doc_id = vec_id, the corpus embedding contract) — which semantic "
    "regions a source contributes and in what proportion, the table a "
    "mixture-weight decision reads. Assignment is the map-only "
    "broadcast-centroid fold (no N*k shuffle); output is "
    "|sources| * |cells| bounded, so the share window is tiny.",
    tags=["similarity", "quality"],
)
def source_topic_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    asg = _with_nearest_cell(
        emb, _trained_centroids(emb, sf_dir)
    ).select("vec_id", "cell_id")
    src = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    c = (
        src.join(asg, "vec_id")
        .groupBy("source", "cell_id")
        .agg(F.count("*").alias("n_docs"))
    )
    ws = Window.partitionBy("source")
    return c.select(
        "source",
        F.col("cell_id").cast("long").alias("cell_id"),
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(ws), 6
        ).alias("share"),
    )


# --- incremental index maintenance -----------------------------------

# The delta slice standing in for "vectors that arrived after the index
# was trained": ~1/7 of the corpus, disjoint from nothing else by
# construction (any residue works; 3 avoids the % QUERY_MOD == 0 and
# % cmod == 0 slices overlapping it fully).
INCR_DELTA_MOD = 7
INCR_DELTA_REM = 3
# a cell is hot when its share of the delta exceeds this multiple of
# its share of the base — the retrain signal
INCR_HOT_FACTOR = 2


@register(
    "ann_ivf_incremental",
    oracle=f"""
    WITH base AS (
      SELECT * FROM embeddings
      WHERE vec_id % {INCR_DELTA_MOD} <> {INCR_DELTA_REM}
    ),
    delta AS (
      SELECT * FROM embeddings
      WHERE vec_id % {INCR_DELTA_MOD} = {INCR_DELTA_REM}
    ),
    {{lloyd}},
    ab AS (
      SELECT cell_id, count(*) AS n_base FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM base v, cent{{L}} c
      ) WHERE rn = 1 GROUP BY 1
    ),
    ad AS (
      SELECT cell_id, count(*) AS n_delta FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM delta v, cent{{L}} c
      ) WHERE rn = 1 GROUP BY 1
    ),
    t AS (
      SELECT (SELECT coalesce(sum(n_base), 0) FROM ab) AS tb,
             (SELECT coalesce(sum(n_delta), 0) FROM ad) AS td
    )
    SELECT c.cell_id,
           CAST(coalesce(ab.n_base, 0) AS BIGINT) AS n_base,
           CAST(coalesce(ad.n_delta, 0) AS BIGINT) AS n_delta,
           round(coalesce(ad.n_delta, 0)::DOUBLE
                 / greatest(coalesce(ab.n_base, 0), 1), 6) AS growth,
           CAST(CASE WHEN coalesce(ad.n_delta, 0) * t.tb
                       > {INCR_HOT_FACTOR} * coalesce(ab.n_base, 0) * t.td
                THEN 1 ELSE 0 END AS BIGINT) AS is_hot
    FROM cent{{L}} c
    LEFT JOIN ab USING (cell_id)
    LEFT JOIN ad USING (cell_id), t
    """.replace(
        "{lloyd}", _lloyd_ctes(LLOYD_ITERS, src="base", cmod_src="base")
    ).replace("{L}", str(LLOYD_ITERS)),
    doc="Incremental index maintenance — the operation a production "
    "ANN index actually runs between retrains (FAISS IVF add): the "
    f"~1/{INCR_DELTA_MOD} delta slice of the corpus is assigned "
    "MAP-ONLY to the cells of an index trained on the base slice "
    "alone (frozen centroids — no retraining pass), and the output is "
    "the per-cell occupancy ledger: base members, delta members, "
    "growth ratio, and an integer-exact hot-cell flag (delta share > "
    f"{INCR_HOT_FACTOR}x base share, compared by cross-multiplication "
    "so no float boundary can flip it) — the drift report that decides "
    "WHEN to retrain. At 100 TB the delta assignment is one broadcast "
    "map over arriving vectors (the same _with_nearest_cell fold every "
    "searcher uses); nothing touches the stored corpus. Sibling of "
    "dedup_incremental (delta-vs-base for MinHash).",
    tags=["similarity"],
)
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE_GENERATION.evict()
    emb = _emb(spark, sf_dir)
    is_delta = (F.col("vec_id") % INCR_DELTA_MOD) == INCR_DELTA_REM
    base = emb.where(~is_delta)
    delta = emb.where(is_delta)
    cent = _trained_centroids(base, sf_dir, "incr")
    nb = (
        _with_nearest_cell(base, cent)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_base"))
    )
    nd = (
        _with_nearest_cell(delta, cent)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n_delta"))
    )
    tots = nb.agg(
        F.coalesce(F.sum("n_base"), F.lit(0)).alias("tb")
    ).crossJoin(
        F.broadcast(
            nd.agg(F.coalesce(F.sum("n_delta"), F.lit(0)).alias("td"))
        )
    )
    return (
        cent.select("cell_id")
        .join(nb, "cell_id", "left")
        .join(nd, "cell_id", "left")
        .select(
            "cell_id",
            F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).cast("long").alias("n_delta"),
        )
        .crossJoin(F.broadcast(tots))
        .select(
            "cell_id",
            "n_base",
            "n_delta",
            F.round(
                F.col("n_delta") / F.greatest(F.col("n_base"), F.lit(1)), 6
            ).alias("growth"),
            (
                F.col("n_delta") * F.col("tb")
                > F.lit(INCR_HOT_FACTOR) * F.col("n_base") * F.col("td")
            )
            .cast("long")
            .alias("is_hot"),
        )
    )
