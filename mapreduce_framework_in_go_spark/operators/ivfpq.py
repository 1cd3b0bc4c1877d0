"""IVFADC: trained IVF cells over PQ-encoded residuals — the composed
index the two existing halves imply (VERDICT r4 ask #4).

operators/similarity.py prunes WHICH vectors a query scores (trained
Lloyd cells, nprobe probing); operators/pq.py shrinks WHAT is stored
per vector (subspace codes + ADC lookup tables). IVFADC composes them
the way Jegou et al.'s original PQ paper does: each vector is stored as
(cell_id, residual codes) where the residual r = v - centroid(cell) is
what gets quantized — residuals are much smaller in magnitude than raw
vectors, so the same code budget quantizes them far more accurately —
and a query scores only the members of its nprobe probed cells:

    q . v  ~=  q . c(cell)  +  sum_m  dp(q_m, codeword(code_m))

The q.c term is one integer dot product per (query, probed cell); the
residual term is the standard ADC table lookup. The stored corpus is
never touched at query time.

Everything is EXACT INTEGER dataflow (the pq.py discipline): vectors
and trained centroids are fixed-pointed once (round(x * 1e6) BIGINT),
residuals are BIGINT differences, code assignment minimizes integer
squared L2 with (dist, seed_id) tie-breaks, and scores are integer
sums at one shared scale (1e12) — no float fold order anywhere, so the
DuckDB oracle replays encoding, probing, and ranking bitwise.

Scale shape (the 100 TB story): the trained-centroid table (~sqrt(N)
rows, memoized per dataset — the same build-once index ann_ivf_trained
searches) and the residual codebook (~sqrt(N) x M subvectors) are
broadcasts; cell assignment and residual encoding are map-side against
them; the scoring join is candidate-restricted (probed cells only,
~nprobe/sqrt(N) of the corpus) and shuffles (query, candidate, m)
integer partials, never vectors. Index memory per vector is M codes +
one cell id (~8 B at M=4) versus 256 B of floats — the compression
that lets a billion-vector index fit executor memory, now with cell
pruning on top so query cost is also sublinear.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import ARTIFACTS, GenerationSlot
from ..registry import register
from ..sources.tables import table
from .pq import _CMOD, PQ_M, PQ_TOP_K, _codes, _explode_subs, _fixed, _isum
from .similarity import (
    LLOYD_ITERS,
    QUERY_MOD,
    _STRUCTURED_SQL,
    _emb,
    _lloyd_ctes,
    _nearest_cells,
    _structured_emb,
    _trained_centroids,
    _with_nearest_cell,
)

IVFPQ_NPROBE = 4  # probed cells per query (recall_structured tunes this)

# Per-QUERY one-generation caches (per-slot rule, CLAUDE.md): each of
# the three registered ivfpq queries owns a slot, so a driver that
# builds several of their frames before collecting any cannot have one
# build unpersist another's in-flight query slice — and none of them
# ever evicts similarity.py's generation.
_IVFPQ_SLOTS: dict[str, GenerationSlot] = {}


def _slot(name: str) -> GenerationSlot:
    return _IVFPQ_SLOTS.setdefault(name, GenerationSlot())


_S = 1_000_000  # fixed-point scale (pq.PQ_SCALE; spelled out for SQL)

# The built IVFADC index — integer centroids, persisted residual frame,
# residual codebook, persisted codes — is a build-once artifact per
# (session, corpus), exactly like the trained centroids it rides and
# the BPE merge table: queries probe and score against it, they never
# rebuild it. An ARTIFACTS entry, localCheckpoint-ed before it is
# stored (the lineage roots in evictable frames).


def _index_artifacts(
    emb: DataFrame, sf_dir: str, corpus: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(centi, resid, cb, codes): the stored IVFADC index for a corpus.

    centi: integer centroids at the vector fixed-point scale; resid:
    per-vector (cell_id, integer residual v - ci), persisted; cb: the
    residual codebook (deterministic ~sqrt(N) seed sample's residual
    subvectors — same codeword count as flat PQ, equal code budget);
    codes: per-(vector, m) nearest-codeword assignment, persisted.
    """
    return ARTIFACTS.get_or_build(
        emb.sparkSession,
        f"ivfpq_index:{corpus}",
        sf_dir,
        lambda: _build_index(emb, sf_dir, corpus),
    )


def _build_index(
    emb: DataFrame, sf_dir: str, corpus: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    cent = _trained_centroids(emb, sf_dir, corpus)
    # localCheckpoint, not persist (r12): these ARE the stored index —
    # at deployment, warehouse tables. centi's un-checkpointed plan
    # embeds the whole iterative Lloyd chain, and every consumer frame
    # re-embeds it per reference: the nprobe-tuning action's plan tree
    # reached ~27k scan nodes / ~56k exchanges of pure TEXT, costing
    # ~14 s of driver plan bookkeeping per action with every byte of
    # data already cached (the BPE 2^N-lineage lesson). Checkpointing
    # roots every consumer at an RDD scan — plans stay linear.
    centi = cent.select(
        "cell_id", "ce", "cn", _fixed(F.col("ce")).alias("ci")
    ).localCheckpoint()
    asg = _with_nearest_cell(emb, cent)
    resid = (
        asg.join(F.broadcast(centi.select("cell_id", "ci")), "cell_id")
        .select(
            "vec_id",
            "cell_id",
            F.zip_with(
                _fixed(F.col("embedding")), F.col("ci"), lambda a, b: a - b
            ).alias("v"),
        )
        .localCheckpoint()
    )
    # cmod sizes off the residual frame (same row count as the corpus)
    # so the modulus costs no extra corpus scan
    cb = _explode_subs(
        resid.crossJoin(F.broadcast(_cmod_frame(resid)))
        .where(F.col("vec_id") % F.col("cmod") == 0)
        .select(F.col("vec_id").alias("seed_id"), "v"),
        "seed_id",
        "v",
    ).withColumnRenamed("sub", "ssub").localCheckpoint()
    codes = _codes(resid.select("vec_id", "v"), cb).localCheckpoint()
    return centi, resid, cb, codes


def _cmod_frame(emb: DataFrame) -> DataFrame:
    return emb.agg(
        F.greatest(F.lit(1), F.floor(F.sqrt(F.count("*"))))
        .cast("long")
        .alias("cmod")
    )


def _ivfpq_scored(
    emb: DataFrame, sf_dir: str, corpus: str, nprobe: int, gen: GenerationSlot
) -> DataFrame:
    """(query_id, neighbor_id, cell_rank, score): every candidate pair
    of the nprobe-cell probing with its exact integer ADC score and the
    1-based probe rank of the (single) cell the pair shares.

    A pair's score is PROBE-INVARIANT: each stored vector lives in
    exactly one cell, so the q.c term is that cell's dot product and
    the residual term is the same ADC sum whatever the probe budget —
    widening nprobe only ADDS pairs. That is what lets the probe sweep
    score ONCE at the widest setting and derive every narrower budget
    as a cell_rank filter (ann_ivfpq_nprobe_tuning), instead of paying
    one scoring chain per setting.
    """
    centi, resid, cb, codes = _index_artifacts(emb, sf_dir, corpus)

    # query side: probes, ADC lookup table, and the q.c cell offsets —
    # all derived from ONE persisted query slice (N/QUERY_MOD rows) so
    # the corpus parquet is not re-scanned per consumer
    q = gen.adopt(emb.where(F.col("vec_id") % QUERY_MOD == 0).persist())
    probes = _nearest_cells(
        q.select(F.col("vec_id").alias("query_id"), "embedding", "vn"),
        centi.select("cell_id", "ce", "cn"),
        "query_id",
        nprobe,
        keep_rank=True,
    )
    qfixed = q.select(
        F.col("vec_id").alias("query_id"), _fixed(F.col("embedding")).alias("v")
    )
    q_sub = _explode_subs(qfixed.withColumnRenamed("v", "_qv"), "query_id", "_qv")
    lut = q_sub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        F.col("seed_id").alias("code"),
        _isum(F.zip_with(F.col("sub"), F.col("ssub"), lambda a, b: a * b)).alias(
            "dp"
        ),
    )
    qc = (
        probes.join(F.broadcast(centi.select("cell_id", "ci")), "cell_id")
        .join(F.broadcast(qfixed), "query_id")
        .select(
            "query_id",
            "cell_id",
            "rn",
            _isum(F.zip_with(F.col("v"), F.col("ci"), lambda a, b: a * b)).alias(
                "qcdp"
            ),
        )
    )

    # candidate-restricted ADC scoring: probed cells' members only;
    # qcdp / rn are constant per (query, candidate) — max() is their
    # exact, order-free extraction
    members = resid.select("vec_id", "cell_id")
    return (
        qc.join(members, "cell_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(
            F.max("rn").alias("cell_rank"),
            (F.max("qcdp") + F.sum("dp")).alias("score"),
        )
    )



# The exact integer-inner-product ground truth both metric queries rank
# against — ONE definition of the ordering contract (dp DESC,
# neighbor_id tie-break, PQ_TOP_K prefix) in Spark and one in SQL, so
# the two metrics can never desynchronize.
_EXACT_TOP_SQL = f"""exact_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(list_zip(q.v, n.v),
                                   p -> p[1] * p[2])) DESC, n.vec_id) AS rank
        FROM fixedv q JOIN fixedv n ON n.vec_id <> q.vec_id
        WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rank <= {PQ_TOP_K}
    )"""


# The exact ground truth is a deterministic per-corpus artifact shared
# by ann_ivfpq_recall and ann_ivfpq_nprobe_tuning (VERDICT r13 ask #1)
# — the trained-centroids / _delta_base_artifact precedent: an
# ARTIFACTS entry, localCheckpoint-ed (eager, so it is materialized
# before the memo and every consumer's plan roots at an RDD scan — no
# slot eviction can unroot it, and the recall row's formatted plan
# stops re-printing the whole scoring chain per reference).


def _exact_ground_truth(emb: DataFrame, sf_dir: str, corpus: str) -> DataFrame:
    """(query_id, neighbor_id): the exact top-k by integer inner
    product over a (vec_id, embedding) corpus — memoized as
    ``ivfpq_gt:<corpus>`` for ``sf_dir``, localCheckpoint-ed.

    r13 (guide §4.2/§8): the scoring pass runs as ONE ``mapInPandas``
    over the corpus — each Arrow batch meets the broadcast query
    matrix as numpy int64 (dp = V @ Q^T is exact in any order) and
    emits only its LOCAL top-k per query under the (dp DESC,
    neighbor_id) contract; the global window then ranks the tiny
    per-partition candidate union instead of |Q| x N scored rows.

    r14 (VERDICT r13 #5): the query slice is packed executor-side into
    ONE row (array_sort(collect_list) — vec_id-ascending, so the
    numpy matrix order is deterministic) and the driver only relays
    that single packed row into the broadcast; no toPandas() of an
    N-proportional row set. The broadcast itself is |Q| x dim x 8 B =
    N/{QUERY_MOD} x dim x 8 — the guide §3.1 broadcast-side budget
    (~0.3 GB per billion 64-dim vectors); past that the deployment
    shape is query-chunked slices of a STORED ground-truth table, at
    which point the |Q| x N score volume, not this broadcast, is the
    binding cost."""
    return ARTIFACTS.get_or_build(
        emb.sparkSession,
        f"ivfpq_gt:{corpus}",
        sf_dir,
        lambda: _build_ground_truth(emb),
    )


def _build_ground_truth(emb: DataFrame) -> DataFrame:
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    fixed = emb.select("vec_id", _fixed(F.col("embedding")).alias("v"))
    packed = (
        fixed.where(F.col("vec_id") % QUERY_MOD == 0)
        .agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("q")
        )
        .first()["q"]
    )
    if not packed:
        # empty query slice (ADVICE r13): no ground-truth rows — the
        # old join-based plan returned an empty frame gracefully too
        gt = spark.createDataFrame([], "query_id long, neighbor_id long")
    else:
        qids = np.array([r["vec_id"] for r in packed], dtype=np.int64)
        qm = np.array([r["v"] for r in packed], dtype=np.int64)
        bc = spark.sparkContext.broadcast((qids, qm))

        def _local_topk(it):
            q_ids, q_mat = bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                vids = pdf["vec_id"].to_numpy(dtype=np.int64)
                v = np.array(pdf["v"].tolist(), dtype=np.int64)
                dp = v @ q_mat.T  # (n, |Q|), exact int64
                out_q, out_n, out_d = [], [], []
                for j in range(len(q_ids)):
                    # per query: dp desc, neighbor_id asc (lexsort:
                    # last key is primary), self excluded
                    order_j = np.lexsort((vids, -dp[:, j]))
                    sel = order_j[vids[order_j] != q_ids[j]][: PQ_TOP_K]
                    out_q.append(
                        np.full(len(sel), q_ids[j], dtype=np.int64)
                    )
                    out_n.append(vids[sel])
                    out_d.append(dp[sel, j])
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "dp": np.concatenate(out_d),
                    }
                )

        src = fixed
        # map-only local top-k parallelizes by input splits (CLAUDE.md
        # trap d / ADVICE r13): rescue the one-row-group local parquet;
        # never fires on a cluster-scale scan
        par = spark.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() * 2 < par:
            src = src.repartition(par)
        cand = src.mapInPandas(
            _local_topk, schema="query_id long, neighbor_id long, dp long"
        )
        wex = Window.partitionBy("query_id").orderBy(
            F.col("dp").desc(), "neighbor_id"
        )
        gt = (
            cand.withColumn("rank", F.row_number().over(wex))
            .where(F.col("rank") <= PQ_TOP_K)
            .select("query_id", "neighbor_id")
        )
    return gt.localCheckpoint()  # eager: materialized before the memo


def _rank_topk(scored: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, rank, score_scaled): the dense top-k
    prefix of a scored-pair frame under (score DESC, neighbor_id)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PQ_TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("score").cast("long").alias("score_scaled"),
        )
    )


def _ivfpq_topk(
    emb: DataFrame, sf_dir: str, corpus: str, nprobe: int, gen: GenerationSlot
) -> DataFrame:
    """(query_id, neighbor_id, rank, score_scaled): IVFADC top-k over an
    (vec_id, embedding, vn) corpus frame.

    ``sf_dir`` and ``corpus`` key the memoized index artifacts: the trained
    centroids (shared with ann_ivf_trained / ann_ivf_recall_structured
    for the same corpus, so one Lloyd run serves both index families in
    a session) and, one level up, the whole stored IVFADC index
    (residuals + codebook + codes) — queries only probe and score.
    """
    return _rank_topk(_ivfpq_scored(emb, sf_dir, corpus, nprobe, gen))


def _ivfpq_index_sql(src: str) -> str:
    """The stored-index CTE chain — centi, fixedv, asg, resid, rsubs,
    cb, rcodes, qsubs, rlut — over corpus relation ``src``; expects the
    Lloyd chain cent{LLOYD_ITERS} already defined. Search chains
    (``_ivfpq_search_sql``) compose on top, so a probe sweep shares ONE
    index build exactly like the Spark side's memoized artifacts."""
    return f"""centi AS (
      SELECT cell_id, ce,
             list_transform(ce, x -> CAST(round(x * {_S}) AS BIGINT)) AS ci
      FROM cent{LLOYD_ITERS}
    ),
    fixedv AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(round(x * {_S}) AS BIGINT)) AS v,
             len(embedding) AS dim
      FROM {src}
    ),
    asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT v.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM {src} v, centi c
      ) WHERE rn = 1
    ),
    resid AS (
      SELECT f.vec_id, f.dim, a.cell_id,
             list_transform(list_zip(f.v, c.ci), p -> p[1] - p[2]) AS r
      FROM fixedv f JOIN asg a USING (vec_id) JOIN centi c USING (cell_id)
    ),
    rsubs AS (
      SELECT vec_id, m,
             r[m * (dim // {PQ_M}) + 1 : (m + 1) * (dim // {PQ_M})] AS sub
      FROM resid, unnest(generate_series(0, {PQ_M} - 1)) AS u(m)
    ),
    cb AS (
      SELECT vec_id AS seed_id, m, sub AS csub FROM rsubs
      WHERE vec_id % {_CMOD} = 0
    ),
    rcodes AS (
      SELECT vec_id, m, seed_id AS code FROM (
        SELECT r.vec_id, r.m, c.seed_id,
               row_number() OVER (PARTITION BY r.vec_id, r.m
                 ORDER BY list_sum(list_transform(list_zip(r.sub, c.csub),
                          p -> (p[1]-p[2])*(p[1]-p[2]))), c.seed_id) AS rn
        FROM rsubs r JOIN cb c USING (m)
      ) WHERE rn = 1
    ),
    qsubs AS (
      SELECT vec_id AS query_id, m,
             v[m * (dim // {PQ_M}) + 1 : (m + 1) * (dim // {PQ_M})] AS qsub
      FROM fixedv, unnest(generate_series(0, {PQ_M} - 1)) AS u(m)
      WHERE vec_id % {QUERY_MOD} = 0
    ),
    rlut AS (
      SELECT q.query_id, q.m, c.seed_id,
             list_sum(list_transform(list_zip(q.qsub, c.csub),
                      p -> p[1] * p[2])) AS dp
      FROM qsubs q JOIN cb c USING (m)
    )"""


def _ivfpq_search_sql(src: str, nprobe: int, tag: str = "") -> str:
    """A probe-and-score chain — prb{tag}, qcell{tag}, ivfpq_top{tag} —
    over the index CTEs of ``_ivfpq_index_sql``. ``tag`` suffixes the
    CTE names so a sweep can lay several searches side by side."""
    return f"""prb{tag} AS (
      SELECT query_id, cell_id FROM (
        SELECT q.vec_id AS query_id, c.cell_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce), 6) DESC,
                          c.cell_id) AS rn
        FROM {src} q, centi c WHERE q.vec_id % {QUERY_MOD} = 0
      ) WHERE rn <= {nprobe}
    ),
    qcell{tag} AS (
      SELECT p.query_id, p.cell_id,
             list_sum(list_transform(list_zip(f.v, c.ci),
                      p2 -> p2[1] * p2[2])) AS qcdp
      FROM prb{tag} p
      JOIN centi c USING (cell_id)
      JOIN fixedv f ON f.vec_id = p.query_id
    ),
    ivfpq_top{tag} AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id)
               AS BIGINT) AS rank,
             CAST(score AS BIGINT) AS score_scaled
      FROM (
        SELECT qc.query_id, cd.vec_id AS neighbor_id,
               max(qc.qcdp) + sum(l.dp) AS score
        FROM qcell{tag} qc
        JOIN asg a ON a.cell_id = qc.cell_id AND a.vec_id <> qc.query_id
        JOIN rcodes cd ON cd.vec_id = a.vec_id
        JOIN rlut l ON l.query_id = qc.query_id AND l.m = cd.m
                   AND l.seed_id = cd.code
        GROUP BY 1, 2
      ) QUALIFY rank <= {PQ_TOP_K}
    )"""


def _ivfpq_sql(src: str, nprobe: int) -> str:
    """CTE chain ending at ``ivfpq_top(query_id, neighbor_id, rank,
    score_scaled)`` over corpus relation ``src``; expects the Lloyd
    chain cent{LLOYD_ITERS} already defined."""
    return f"{_ivfpq_index_sql(src)},\n    {_ivfpq_search_sql(src, nprobe)}"


@register(
    "ann_ivfpq",
    oracle=f"""
    WITH {_lloyd_ctes(LLOYD_ITERS)},
    {_ivfpq_sql("embeddings", IVFPQ_NPROBE)}
    SELECT query_id, neighbor_id, rank, score_scaled FROM ivfpq_top
    """,
    doc=f"IVFADC approximate top-{PQ_TOP_K} by inner product: "
    f"{LLOYD_ITERS}-round Lloyd-trained IVF cells, per-vector residual "
    f"(v - centroid) encoded as {PQ_M} nearest-codeword codes, queries "
    f"scored over their {IVFPQ_NPROBE} probed cells only as q.c + the "
    "ADC residual lookup — all-integer dataflow at one shared scale, "
    "oracle replays training, encoding, probing, and ranking bitwise. "
    "See module doc for the 100 TB memory + sublinear-query story.",
    tags=["similarity", "pq"],
)
def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    gen = _slot("ann_ivfpq")
    gen.evict()
    return _ivfpq_topk(
        _emb(spark, sf_dir), sf_dir, "raw", nprobe=IVFPQ_NPROBE, gen=gen
    )


@register(
    "ann_ivfpq_recall",
    oracle=f"""
    WITH {_STRUCTURED_SQL},
    {_lloyd_ctes(LLOYD_ITERS, src="structured")},
    {_ivfpq_sql("structured", IVFPQ_NPROBE)},
    subs AS (
      SELECT vec_id, m,
             v[m * (dim // {PQ_M}) + 1 : (m + 1) * (dim // {PQ_M})] AS sub
      FROM fixedv, unnest(generate_series(0, {PQ_M} - 1)) AS u(m)
    ),
    pseeds AS (
      SELECT vec_id AS seed_id, m, sub AS ssub FROM subs
      WHERE vec_id % {_CMOD} = 0
    ),
    pcodes AS (
      SELECT vec_id, m, seed_id AS code FROM (
        SELECT s.vec_id, s.m, d.seed_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY list_sum(list_transform(list_zip(s.sub, d.ssub),
                          p -> (p[1]-p[2])*(p[1]-p[2]))), d.seed_id) AS rn
        FROM subs s JOIN pseeds d USING (m)
      ) WHERE rn = 1
    ),
    plut AS (
      SELECT q.vec_id AS query_id, q.m, d.seed_id,
             list_sum(list_transform(list_zip(q.sub, d.ssub),
                      p -> p[1] * p[2])) AS dp
      FROM subs q JOIN pseeds d USING (m)
      WHERE q.vec_id % {QUERY_MOD} = 0
    ),
    pq_top AS (
      SELECT query_id, neighbor_id FROM (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY l.query_id
                 ORDER BY sum(l.dp) DESC, c.vec_id) AS rank
        FROM pcodes c JOIN plut l ON l.m = c.m AND l.seed_id = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id
      ) WHERE rank <= {PQ_TOP_K}
    ),
    {_EXACT_TOP_SQL},
    nq AS (SELECT count(*) AS total FROM exact_top),
    hp AS (SELECT count(*) AS h FROM exact_top JOIN pq_top USING (query_id, neighbor_id)),
    hi AS (SELECT count(*) AS h FROM exact_top
           JOIN (SELECT query_id, neighbor_id FROM ivfpq_top) i
           USING (query_id, neighbor_id))
    SELECT 'pq' AS variant, CAST({PQ_TOP_K} AS BIGINT) AS k,
           round(h::DOUBLE / total, 6) AS recall_at_k
    FROM hp, nq
    UNION ALL
    SELECT 'ivfpq' AS variant, CAST({PQ_TOP_K} AS BIGINT) AS k,
           round(h::DOUBLE / total, 6) AS recall_at_k
    FROM hi, nq
    """,
    doc=f"Recall@{PQ_TOP_K} of flat PQ vs IVFADC at EQUAL code budget "
    f"({PQ_M} codes/vector, ~sqrt(N) codewords) against the exact "
    "integer-inner-product top-k, on the label-blended structured "
    "corpus — the fixture with genuine cluster structure where index "
    "quality differences are measurable (the raw near-orthogonal "
    "synthetic corpus scrambles any cell assignment; precedent: "
    "ann_ivf_recall_structured). Residual quantization is strictly "
    "more accurate per bit, so ivfpq >= pq here (asserted in "
    "tests/test_components.py). Hits are integer join counts; both "
    "numbers reproduce bitwise in the oracle.",
    tags=["similarity", "pq"],
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    gen = _slot("ann_ivfpq_recall")
    gen.evict()
    emb = _structured_emb(spark, sf_dir)  # memoized; not ours to evict
    fixed = gen.adopt(
        emb.select("vec_id", _fixed(F.col("embedding")).alias("v")).persist()
    )

    ivfpq_top = _ivfpq_topk(
        emb, sf_dir, "structured", nprobe=IVFPQ_NPROBE, gen=gen
    ).select("query_id", "neighbor_id")

    # flat-PQ baseline over the SAME corpus (pq.py's chain via its own
    # helpers — raw vectors, same seed rule, same code budget)
    cb = _explode_subs(
        fixed.crossJoin(F.broadcast(_cmod_frame(emb)))
        .where(F.col("vec_id") % F.col("cmod") == 0)
        .select(F.col("vec_id").alias("seed_id"), "v"),
        "seed_id",
        "v",
    ).withColumnRenamed("sub", "ssub")
    pcodes = _codes(fixed, cb)
    q_sub = _explode_subs(
        fixed.where(F.col("vec_id") % QUERY_MOD == 0).withColumnRenamed(
            "vec_id", "query_id"
        ),
        "query_id",
        "v",
    )
    plut = q_sub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        F.col("seed_id").alias("code"),
        _isum(F.zip_with(F.col("sub"), F.col("ssub"), lambda a, b: a * b)).alias(
            "dp"
        ),
    )
    wpq = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id"
    )
    pq_top = (
        pcodes.join(F.broadcast(plut), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dp").alias("score"))
        .withColumn("rank", F.row_number().over(wpq))
        .where(F.col("rank") <= PQ_TOP_K)
        .select("query_id", "neighbor_id")
    )

    # memoized artifact (checkpointed, shared with the nprobe sweep) —
    # consumers read RDD-scan-rooted blocks, nothing to pre-fill there
    exact_top = _exact_ground_truth(emb, sf_dir, "structured")
    # fill the shared persisted cache before the multi-branch recall
    # action (same concurrent-cold-cache recompute as the nprobe sweep:
    # `fixed` has three consumers)
    fixed.count()

    nq = exact_top.agg(F.count("*").alias("total"))

    def recall_row(variant: str, top: DataFrame) -> DataFrame:
        hits = exact_top.join(
            top, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count("*").alias("h"))
        return hits.crossJoin(F.broadcast(nq)).select(
            F.lit(variant).alias("variant"),
            F.lit(PQ_TOP_K).cast("long").alias("k"),
            F.round(F.col("h").cast("double") / F.col("total"), 6).alias(
                "recall_at_k"
            ),
        )

    return recall_row("pq", pq_top).union(recall_row("ivfpq", ivfpq_top))


NPROBE_SWEEP = [1, 2, 4]


def _ivfpq_tuning_oracle() -> str:
    searches = ",\n    ".join(
        _ivfpq_search_sql("structured", np, tag=f"_p{np}") for np in NPROBE_SWEEP
    )
    rows = " UNION ALL ".join(
        f"""SELECT CAST({np} AS BIGINT) AS nprobe,
           CAST({PQ_TOP_K} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT)
            FROM prb_p{np} p JOIN asg a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id)
             AS n_candidates,
           round((SELECT count(*) FROM exact_top e
                  JOIN ivfpq_top_p{np} i USING (query_id, neighbor_id))::DOUBLE
                 / (SELECT count(*) FROM exact_top), 6) AS recall_at_k"""
        for np in NPROBE_SWEEP
    )
    return f"""
    WITH {_STRUCTURED_SQL},
    {_lloyd_ctes(LLOYD_ITERS, src="structured")},
    {_ivfpq_index_sql("structured")},
    {searches},
    {_EXACT_TOP_SQL}
    {rows}
    """


@register(
    "ann_ivfpq_nprobe_tuning",
    oracle=_ivfpq_tuning_oracle(),
    doc=f"IVFADC probe-tuning table: candidate volume and "
    f"recall@{PQ_TOP_K} of the composed index at nprobe = "
    f"{NPROBE_SWEEP} against the exact integer-inner-product top-k, on "
    "the label-blended structured corpus (precedent: "
    "ann_ivf_recall_structured). The cost-recall curve that sizes the "
    "probe budget BEFORE a full corpus pass — n_candidates is the "
    "scored-pair volume a setting pays (~nprobe/sqrt(N) of the corpus "
    "per query), recall is what it buys. The stored index — centroids, "
    "residuals, codebook, codes — builds ONCE (memoized per dataset, "
    "shared with ann_ivfpq_recall); each setting pays only its probe "
    "join and ADC re-score, exactly the sweep shape of "
    "ann_nprobe_tuning and dedup_band_tuning.",
    tags=["similarity", "pq", "metric"],
)
def ann_ivfpq_nprobe_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    gen = _slot("ann_ivfpq_nprobe_tuning")
    gen.evict()
    emb = _structured_emb(spark, sf_dir)  # memoized; not ours to evict

    # memoized artifact (checkpointed, shared with ann_ivfpq_recall) —
    # the per-invocation fixed-point slice + persist + count this row
    # used to pay are gone with it (r14, VERDICT r13 ask #1)
    exact_top = _exact_ground_truth(emb, sf_dir, "structured")
    nq = exact_top.agg(F.count("*").alias("total"))

    # score ONCE at the widest setting; every narrower budget is a
    # cell_rank filter over the same persisted pair frame (a pair's ADC
    # score is probe-invariant — see _ivfpq_scored)
    scored = gen.adopt(
        _ivfpq_scored(
            emb, sf_dir, "structured", nprobe=max(NPROBE_SWEEP), gen=gen
        )
        .persist()
    )
    # materialize the shared persisted frame BEFORE the multi-branch
    # sweep action: the three nprobe branches run as concurrent stages
    # of ONE job, and a persisted-but-cold frame gets recomputed per
    # branch (r12 split measurement: 14.5 s/run exec -> ~5 s once the
    # caches are filled first — the sweep really is probe-only after)
    scored.count()

    out = None
    for np_ in NPROBE_SWEEP:
        sub = scored.where(F.col("cell_rank") <= np_)
        cand = sub.agg(F.count("*").alias("nc"))
        top = _rank_topk(sub).select("query_id", "neighbor_id")
        hits = exact_top.join(
            top, ["query_id", "neighbor_id"], "left_semi"
        ).agg(F.count("*").alias("h"))
        row = (
            hits.crossJoin(F.broadcast(nq))
            .crossJoin(F.broadcast(cand))
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                F.lit(PQ_TOP_K).cast("long").alias("k"),
                F.col("nc").cast("long").alias("n_candidates"),
                F.round(F.col("h").cast("double") / F.col("total"), 6).alias(
                    "recall_at_k"
                ),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out
