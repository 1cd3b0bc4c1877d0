"""Training-set preparation operators: the steps between a cleaned
corpus and a training run — benchmark decontamination, sequence
packing, and source mixing under a token budget. All three are
deterministic (hash-order, integer arithmetic) so every one is
oracle-checked.

Scale notes (100 TB):

- decontamination: the benchmark side of the join is an eval suite —
  megabytes, not terabytes — so its distinct n-gram set is BROADCAST
  and the scan stays shuffle-free on the corpus side except the final
  per-doc count. If the eval set ever outgrows a broadcast, the same
  plan works as a shuffle equi-join on the n-gram.
- packing: the global token cumsum is computed two-level — a window
  inside each doc_id range-group plus a tiny broadcast join of group
  offsets — NEVER a single-partition global window (the classic
  orderBy-window scale trap; same decomposition as the KV fold).
- mixing: one window per source, parallel across sources. A single
  pathological source can be range-split with the packing
  decomposition; noted, not needed for this corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import md5_long32, shingles_col, tokens_col
from ..registry import register
from ..sources.tables import table

DECON_NGRAM = 5  # n-gram width for benchmark-overlap detection
EVAL_MOD = 20  # doc_id % EVAL_MOD == 0 => held-out "benchmark" doc
CTX_TOKENS = 512  # packed training-context length
SOURCE_TOKEN_BUDGET = 800  # per-source token budget for the mix

# Number of docs per packing range-group: the local-window unit. Big
# enough that the group-offset table stays tiny (one row per
# PACK_GROUP_SPAN of doc_id space), small enough that one group's
# window never approaches a single executor's memory.
PACK_GROUP_SPAN = 1_000

_SHINGLE_5_SQL = f"""
  toks AS (
    SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
    FROM documents
  ),
  sh AS (
    SELECT DISTINCT doc_id, s FROM (
      SELECT doc_id, array_to_string(toks[i:i+{DECON_NGRAM - 1}], ' ') AS s
      FROM toks, unnest(range(1, len(toks) - {DECON_NGRAM - 2})) u(i)
      WHERE len(toks) >= {DECON_NGRAM}
    )
  )
"""


@register(
    "decontaminate_ngram",
    oracle=f"""
    WITH {_SHINGLE_5_SQL},
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_MOD} = 0),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_MOD} != 0),
    sizes AS (SELECT doc_id, count(*) AS n_ngrams FROM tr GROUP BY 1),
    hits AS (
      SELECT tr.doc_id, count(*) AS n_hit
      FROM tr JOIN ev USING (s) GROUP BY 1
    )
    SELECT h.doc_id,
           CAST(h.n_hit AS BIGINT) AS n_hit_ngrams,
           CAST(z.n_ngrams AS BIGINT) AS n_ngrams,
           round(h.n_hit * 1.0 / z.n_ngrams, 6) AS contamination
    FROM hits h JOIN sizes z USING (doc_id)
    """,
    doc=f"Benchmark decontamination: training documents sharing at "
    f"least one {DECON_NGRAM}-gram with the held-out eval split "
    f"(doc_id % {EVAL_MOD} = 0) — the overlap check run before any "
    "pretraining so eval answers cannot leak into the corpus. The "
    "eval side's distinct n-gram set is broadcast (an eval suite is "
    "MBs against a TB corpus), so the corpus scan joins map-side and "
    "the only shuffle is the per-doc hit count.",
    tags=["training_prep"],
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col("text"), DECON_NGRAM))
        ).alias("s"),
    )
    ev = (
        sh.where(F.col("doc_id") % EVAL_MOD == 0).select("s").distinct()
    )
    tr = sh.where(F.col("doc_id") % EVAL_MOD != 0)
    sizes = tr.groupBy("doc_id").agg(F.count("*").alias("n_ngrams"))
    hits = (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        F.col("n_hit").alias("n_hit_ngrams"),
        F.col("n_ngrams"),
        F.round(F.col("n_hit") / F.col("n_ngrams"), 6).alias(
            "contamination"
        ),
    )


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[\\p{{L}}]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS token_offset
      FROM t
    )
    SELECT doc_id, n_tokens, token_offset,
           CAST(floor(token_offset / {CTX_TOKENS}) AS BIGINT) AS bin_first,
           CAST(floor((token_offset + n_tokens - 1) / {CTX_TOKENS}) AS BIGINT)
             AS bin_last
    FROM c WHERE n_tokens > 0
    """,
    doc=f"Sequence packing, concat-then-chunk: documents are laid out "
    f"in doc_id order on one global token axis and sliced into "
    f"{CTX_TOKENS}-token training contexts; each doc reports its "
    "global token offset and the first/last context bin it lands in. "
    "The global cumulative sum is two-level (per range-group window + "
    "broadcast group offsets), never a single-partition global "
    "window — the layout a 100 TB packing job actually computes.",
    tags=["training_prep"],
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") / PACK_GROUP_SPAN).cast("long").alias("g"),
    )
    w_local = (
        Window.partitionBy("g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = t.withColumn(
        "local_cum", F.sum("n_tokens").over(w_local)
    )
    g_tot = t.groupBy("g").agg(F.sum("n_tokens").alias("g_tokens"))
    w_g = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    g_off = g_tot.select(
        "g",
        (F.sum("g_tokens").over(w_g) - F.col("g_tokens")).alias("g_offset"),
    )
    off = F.col("g_offset") + F.col("local_cum") - F.col("n_tokens")
    return (
        local.join(F.broadcast(g_off), "g")
        .where(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "n_tokens",
            off.alias("token_offset"),
            F.floor(off / CTX_TOKENS).alias("bin_first"),
            F.floor((off + F.col("n_tokens") - 1) / CTX_TOKENS).alias(
                "bin_last"
            ),
        )
    )


@register(
    "mix_sources_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '[\\p{{L}}]+')) AS BIGINT)
               AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS pre_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, pre_tokens
    FROM c WHERE pre_tokens < {SOURCE_TOKEN_BUDGET}
    """,
    doc=f"Source mixing under a token budget: within each source, "
    "documents are taken in deterministic hash order (md5-derived, "
    "layout-independent) until the source has contributed "
    f"{SOURCE_TOKEN_BUDGET} tokens — the sampling step that turns "
    "per-source weights into an actual training mix. One window per "
    "source, parallel across sources; a pathological mega-source "
    "would be range-split exactly like pack_sequences' cumsum.",
    tags=["training_prep"],
)
def mix_sources_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        md5_long32(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("pre_tokens", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .where(F.col("pre_tokens") < SOURCE_TOKEN_BUDGET)
        .select("doc_id", "source", "n_tokens", "pre_tokens")
    )


CURR_FRACS = [i / 10 for i in range(1, 10)]  # decile boundaries


@register(
    "curriculum_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(text, '[\\p{{L}}]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    q AS (
      SELECT quantile_cont(n_tokens, [{', '.join(str(f) for f in CURR_FRACS)}]) AS qs
      FROM t
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM (
      SELECT n_tokens,
             CAST(1 {' '.join(f'+ CASE WHEN n_tokens > qs[{i + 1}] THEN 1 ELSE 0 END' for i in range(len(CURR_FRACS)))} AS BIGINT) AS bin
      FROM t, q
    )
    GROUP BY bin
    """,
    doc="Length-curriculum decile bins: documents bucketed into 10 "
    "difficulty levels by token count. Boundaries are the exact "
    "interpolated deciles (one aggregate pass — identical to DuckDB "
    "quantile_cont, the parity percentile_pricing already pins), "
    "broadcast as one row; bin assignment is then a map-side "
    "comparison sum. NEVER a global ntile() window — that is a "
    "single-partition sort at corpus scale. Swap the exact percentile "
    "for approx_percentile (GK sketch, bounded rank error) when the "
    "corpus outgrows exact interpolation.",
    tags=["training"],
)
def curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens_col("text")).cast("long").alias("n_tokens")
    )
    fr = ", ".join(f"{f}D" for f in CURR_FRACS)
    q = t.agg(F.expr(f"percentile(n_tokens, array({fr}))").alias("qs"))
    bin_col = F.lit(1)
    for i in range(len(CURR_FRACS)):
        bin_col = bin_col + (
            F.col("n_tokens") > F.try_element_at(F.col("qs"), F.lit(i + 1))
        ).cast("int")
    return (
        t.crossJoin(F.broadcast(q))
        .select("n_tokens", bin_col.cast("long").alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


CHUNK_TOKENS = 32  # passage window length (sized so the corpus's
# 10-99-token docs genuinely produce multiple overlapping windows;
# production would use 512/384 with identical plan shape)
CHUNK_STRIDE = 24  # window stride (8-token overlap)


@register(
    "chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= {CHUNK_TOKENS} THEN 1
                  ELSE 1 + CAST(ceil((len(toks) - {CHUNK_TOKENS})
                                     * 1.0 / {CHUNK_STRIDE}) AS BIGINT)
             END AS n_chunks
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least({CHUNK_TOKENS}, n - i * {CHUNK_STRIDE}) AS BIGINT)
             AS n_tok,
           md5(list_aggregate(
                 toks[i * {CHUNK_STRIDE} + 1 :
                      i * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
                 'string_agg', ' ')) AS chunk_digest
    FROM sized, unnest(generate_series(0, n_chunks - 1)) AS u(i)
    """,
    doc=f"Overlapping passage chunking (RAG/context prep): each "
    f"document's token array is sliced into {CHUNK_TOKENS}-token "
    f"windows at stride {CHUNK_STRIDE} (overlap "
    f"{CHUNK_TOKENS - CHUNK_STRIDE}), the final window covering the "
    "tail. Entirely map-side — sequence() fan-out inside the row, "
    "slice() per chunk, zero shuffles, so the plan partitions exactly "
    "like the input at any corpus size; chunk content is carried as "
    "its md5 digest (both engines agree bitwise on the space-joined "
    "token text).",
    tags=["training_prep"],
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col("text").alias("toks")).where(
        F.size("toks") > 0
    )
    n = F.size("toks")
    n_chunks = F.when(n <= CHUNK_TOKENS, F.lit(1)).otherwise(
        1 + F.ceil((n - CHUNK_TOKENS) / F.lit(float(CHUNK_STRIDE))).cast("long")
    )
    start = F.col("chunk_idx") * CHUNK_STRIDE
    return (
        t.select(
            "doc_id",
            "toks",
            n.alias("n"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            start.cast("long").alias("start_tok"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n") - start)
            .cast("long")
            .alias("n_tok"),
            F.md5(
                F.array_join(
                    F.slice("toks", start + 1, F.lit(CHUNK_TOKENS)), " "
                )
            ).alias("chunk_digest"),
        )
    )


SEM_TAU = 0.35  # eval-similarity flag threshold (synthetic embeddings
# are near-orthogonal; planted structure tops out ~0.49 cross-split)


@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id AS eval_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id % {EVAL_MOD} = 0
    ),
    tr AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
      FROM embeddings WHERE vec_id % {EVAL_MOD} != 0
    ),
    pairs AS (
      SELECT tr.doc_id, ev.eval_id,
             round(list_cosine_similarity(tr.v, ev.e), 6) AS cos
      FROM tr, ev
    ),
    best AS (
      SELECT doc_id, eval_id, cos,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cos DESC, eval_id) AS rk
      FROM pairs
    )
    SELECT doc_id, eval_id AS nearest_eval_id, cos AS max_cos,
           cos >= {SEM_TAU} AS contaminated
    FROM best WHERE rk = 1
    """,
    doc=f"Semantic decontamination — the embedding-space sibling of "
    f"decontaminate_ngram: every training vector reports its nearest "
    f"held-out eval vector (doc_id % {EVAL_MOD} = 0 split) by cosine, "
    f"flagged when similarity >= {SEM_TAU}. The eval suite is small "
    "and fixed (MBs against a TB corpus), so its vectors+norms ride "
    "ONE broadcast array and the scan is MAP-ONLY: a per-row "
    "higher-order fold takes the max over eval vectors — no pair "
    "rows, no shuffle, output exactly one row per training vector. "
    "Tie-breaks on (rounded cosine desc, eval_id asc) keep the fold "
    "order-independent and hash-identical to the oracle's "
    "row_number. If the eval suite ever outgrew a broadcast, the IVF "
    "cell-probe path (dedup_embedding_ivf) is the fallback.",
    tags=["training_prep", "similarity"],
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, l2_norm

    emb = table(spark, sf_dir, "embeddings")
    ev = (
        emb.where(F.col("vec_id") % EVAL_MOD == 0)
        .select(
            F.col("vec_id").alias("eval_id"),
            "embedding",
            l2_norm(F.col("embedding")).alias("n"),
        )
    )
    ev_arr = ev.agg(
        F.collect_list(F.struct("eval_id", "embedding", "n")).alias("evs")
    )
    tr = emb.where(F.col("vec_id") % EVAL_MOD != 0).select(
        F.col("vec_id").alias("doc_id"),
        "embedding",
        l2_norm(F.col("embedding")).alias("tn"),
    )

    # Each eval's cosine computes EXACTLY once: a fold that references
    # the score in its comparison and both branches re-evaluates the
    # whole dot product 3x per eval (lambda bodies are excluded from
    # subexpression elimination — the CLAUDE.md HOF gotcha, measured
    # 3x slower). transform materializes (rc, -eval_id) structs once;
    # array_max's native struct ordering then gives max rc with ties
    # to the SMALLEST eval_id via the negated second field.
    scored = F.transform(
        "evs",
        lambda e: F.struct(
            F.round(
                dot(F.col("embedding"), e["embedding"])
                / (F.col("tn") * e["n"]),
                6,
            ).alias("rc"),
            (-e["eval_id"]).alias("neg_id"),
        ),
    )
    best = tr.crossJoin(F.broadcast(ev_arr)).select(
        "doc_id", F.array_max(scored).alias("best")
    )
    return best.select(
        "doc_id",
        (-F.col("best.neg_id")).alias("nearest_eval_id"),
        F.col("best.rc").alias("max_cos"),
        (F.col("best.rc") >= SEM_TAU).alias("contaminated"),
    )


ALPHA_BUDGET = 100_000  # token budget to allocate across sources
ALPHA_SCALE = 10**6  # sqrt weights snapped to this integer grid


@register(
    "mix_alpha_allocation",
    oracle=f"""
    WITH t AS (
      SELECT source,
             SUM(CAST(len(regexp_extract_all(text, '[\\p{{L}}]+'))
                 AS BIGINT)) AS tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, tokens,
             CAST(round(sqrt(CAST(tokens AS DOUBLE)) * {ALPHA_SCALE})
               AS BIGINT) AS wi
      FROM t
    ),
    tot AS (SELECT sum(wi) AS sw, sum(tokens) AS st FROM w),
    base AS (
      SELECT w.source, w.tokens, w.wi, tot.sw,
             ({ALPHA_BUDGET} * w.wi) // tot.sw AS alloc_floor,
             ({ALPHA_BUDGET} * w.wi) % tot.sw AS rem
      FROM w, tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
             {ALPHA_BUDGET} - sum(alloc_floor) OVER () AS deficit
      FROM base
    )
    SELECT source, CAST(tokens AS BIGINT) AS tokens,
           CAST(wi AS BIGINT) AS weight_scaled,
           CAST(alloc_floor + CASE WHEN rk <= deficit THEN 1 ELSE 0 END
             AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
    doc=f"Temperature-based (alpha = 0.5) source mixing: each source's "
    f"share of a {ALPHA_BUDGET}-token budget is proportional to "
    "sqrt(tokens) — the standard up-weighting of small sources in "
    "multilingual/multi-domain pretraining mixes — allocated EXACTLY "
    "via largest-remainder apportionment (floor quotas + ranked "
    "remainders; allocations sum to the budget bit-exactly). Weights "
    "snap to an integer grid so every division and the remainder "
    "ranking are pure integer arithmetic — order-free, "
    "engine-identical; sqrt is IEEE exact-rounded on both engines. "
    "One token-count aggregate is the only corpus pass; the "
    "apportionment runs on the source-domain-sized table. The "
    "hash-order greedy sibling (mix_sources_budget) picks WHICH "
    "documents fill each quota.",
    tags=["training_prep", "sampling"],
)
def mix_alpha_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    t = docs.groupBy("source").agg(
        F.sum(F.size(tokens_col("text")).cast("long")).alias("tokens")
    )
    w = t.select(
        "source",
        "tokens",
        F.round(F.sqrt(F.col("tokens").cast("double")) * ALPHA_SCALE)
        .cast("long")
        .alias("wi"),
    )
    tot = w.agg(F.sum("wi").alias("sw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        "wi",
        F.expr(f"({ALPHA_BUDGET} * wi) div sw").alias("alloc_floor"),
        F.expr(f"({ALPHA_BUDGET} * wi) % sw").alias("rem"),
    )
    win_rank = Window.orderBy(F.col("rem").desc(), "source")
    win_all = Window.partitionBy()
    ranked = base.select(
        "source",
        "tokens",
        "wi",
        "alloc_floor",
        F.row_number().over(win_rank).alias("rk"),
        (F.lit(ALPHA_BUDGET) - F.sum("alloc_floor").over(win_all)).alias(
            "deficit"
        ),
    )
    return ranked.select(
        "source",
        F.col("tokens").cast("long").alias("tokens"),
        F.col("wi").cast("long").alias("weight_scaled"),
        (
            F.col("alloc_floor")
            + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


SHUFFLE_SEED = 1  # epoch-1 seed; epoch N passes its own for a fresh order
SHUFFLE_SHARDS = 8  # output shard count (data-loader worker files)
SHUFFLE_SEED_EPOCH2 = 2  # the demonstrated second-epoch permutation


def _shuffle_order_sql(seed: int) -> str:
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT)
             AS shuffle_pos,
           CAST((row_number() OVER (ORDER BY h, doc_id) - 1)
                % {SHUFFLE_SHARDS} AS BIGINT) AS shard
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5('shuffle:{seed}:'
                                 || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS h
      FROM documents
    )
    """


def _shuffle_order_frame(
    spark: SparkSession, sf_dir: str, seed: int, slot: str
) -> DataFrame:
    from .relational import two_level_global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        md5_long32(
            F.concat(
                F.lit(f"shuffle:{seed}:"),
                F.col("doc_id").cast("string"),
            )
        ).alias("h"),
    )
    return two_level_global_rank(docs, ["h", "doc_id"], slot=slot).select(
        "doc_id",
        F.col("pos").alias("shuffle_pos"),
        ((F.col("pos") - 1) % SHUFFLE_SHARDS).cast("long").alias("shard"),
    )


@register(
    "training_shuffle_order",
    oracle=_shuffle_order_sql(SHUFFLE_SEED),
    doc="The global training-data shuffle: a deterministic pseudo-random "
    "permutation of the corpus (seeded doc_id hash as the sort key — "
    "epoch seed changes give a fresh permutation) with an exact global "
    "position and a round-robin shard assignment for data-loader "
    "workers. Runs as the terasort two-level rank "
    "(relational.two_level_global_rank): RangePartitioning on the hash "
    "+ per-partition row_number + broadcast prefix offsets — a 100 TB "
    "corpus shuffles without any single-partition window; round-robin "
    "sharding balances shards to within one row by construction.",
    tags=["training_prep", "sort"],
)
def training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _shuffle_order_frame(
        spark, sf_dir, SHUFFLE_SEED, slot="training_shuffle_order"
    )


@register(
    "training_shuffle_epoch2",
    oracle=f"""
    WITH e1 AS ({_shuffle_order_sql(SHUFFLE_SEED)}),
         e2 AS ({_shuffle_order_sql(SHUFFLE_SEED_EPOCH2)})
    SELECT e2.doc_id, e2.shuffle_pos, e2.shard,
           CAST(e1.shuffle_pos AS BIGINT) AS epoch1_pos,
           e2.shuffle_pos != e1.shuffle_pos AS moved
    FROM e2 JOIN e1 USING (doc_id)
    """,
    doc="The SECOND training epoch's permutation (seed="
    f"{SHUFFLE_SEED_EPOCH2}): the same two-level terasort rank under a "
    "fresh epoch-seeded hash, joined 1:1 against epoch 1's position so "
    "the output itself certifies the multi-epoch contract — identical "
    "membership (the join is total: row count = corpus size, checked "
    "by the hash compare) with a genuinely fresh order (`moved` is "
    "true for ~all rows). Epoch N at 100 TB is the identical plan "
    "with a different seed literal — no state carries between epochs, "
    "so a training run schedules epochs as independent jobs.",
    tags=["training_prep", "sort"],
)
def training_shuffle_epoch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # epoch 1 rebuilt under THIS query's own slots: reusing
    # training_shuffle_order's slot would evict that registered query's
    # still-unexecuted ranked frame (the per-slot isolation rule,
    # tests/test_cache_isolation.py)
    e1 = _shuffle_order_frame(
        spark, sf_dir, SHUFFLE_SEED, slot="training_shuffle_epoch2_e1"
    ).select("doc_id", F.col("shuffle_pos").alias("epoch1_pos"))
    e2 = _shuffle_order_frame(
        spark, sf_dir, SHUFFLE_SEED_EPOCH2, slot="training_shuffle_epoch2"
    )
    return e2.join(e1, "doc_id").select(
        "doc_id",
        "shuffle_pos",
        "shard",
        "epoch1_pos",
        (F.col("shuffle_pos") != F.col("epoch1_pos")).alias("moved"),
    )


# --- span-level decontamination: surgical scrub, not whole-doc drop ---

from .spans import (  # noqa: E402
    SPAN_W as _SPAN_W,
    islands_spans_ctes,
    positions_to_spans,
    scrub_ledger_ctes,
    scrub_ledger_frame,
)
from .spans import _SCRUB_LEDGER_SELECT  # noqa: E402

# The island-merge rule (spans.positions_to_spans / islands_spans_ctes)
# is defined at the ExactSubstr window width; the decontamination gram
# width must match it for the composed scrub to be coherent.
assert DECON_NGRAM == _SPAN_W


@register(
    "decontaminate_span_scrub",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents WHERE doc_id % {EVAL_MOD} != 0
    ),
    evg AS (
      SELECT DISTINCT array_to_string(toks[i:i+{DECON_NGRAM - 1}], ' ') AS g
      FROM (
        SELECT regexp_extract_all(text, '[\\p{{L}}]+') AS toks
        FROM documents WHERE doc_id % {EVAL_MOD} = 0
      ), unnest(range(1, len(toks) - {DECON_NGRAM - 2})) u(i)
      WHERE len(toks) >= {DECON_NGRAM}
    ),
    dup_pos AS (
      SELECT t.doc_id, i AS pos
      FROM toks t, unnest(range(1, len(t.toks) - {DECON_NGRAM - 2})) u(i)
      WHERE len(t.toks) >= {DECON_NGRAM}
        AND array_to_string(t.toks[i:i+{DECON_NGRAM - 1}], ' ')
            IN (SELECT g FROM evg)
    ),
    {islands_spans_ctes()},
    {scrub_ledger_ctes()}
    {_SCRUB_LEDGER_SELECT}
    """,
    doc=f"SURGICAL benchmark decontamination: instead of dropping every "
    f"training document sharing a {DECON_NGRAM}-gram with the eval "
    "split (decontaminate_ngram's whole-doc verdict — wasteful when "
    "one quoted sentence contaminates a long useful document), cut "
    "ONLY the contaminated regions: flagged gram positions merge into "
    "maximal islands (the ExactSubstr rule, spans.positions_to_spans) "
    "and the scrub ledger emits each train doc's kept remainder as "
    "count + digest. At 100 TB the eval gram set rides one broadcast "
    "(MBs against the corpus), position flagging is a map-side "
    "semi-join, and the only shuffles are the per-doc islands window "
    "and ledger — duplicate-volume- and doc-bounded, never pairwise. "
    "Composes the decontamination family's gram contract with the "
    "span family's island-merge + reassembly, each defined ONCE.",
    tags=["training_prep", "dedup", "spans"],
)
def decontaminate_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    evg = (
        docs.where(is_eval)
        .select(
            F.explode(
                F.array_distinct(
                    shingles_col(tokens_col("text"), DECON_NGRAM)
                )
            ).alias("g")
        )
        .distinct()
    )
    train = docs.where(~is_eval)
    grams = train.select(
        "doc_id",
        F.posexplode(shingles_col(tokens_col("text"), DECON_NGRAM)).alias(
            "pos0", "g"
        ),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "g")
    flagged = grams.join(F.broadcast(evg), "g", "left_semi").select(
        "doc_id", "pos"
    )
    return scrub_ledger_frame(train, positions_to_spans(flagged))


# --- best-fit packing (Ding et al. 2024, "Fewer Truncations...") ---

PACK_SHARDS = 8


def _bfd_pandas(pdf):
    """Best-fit-decreasing over one shard's packable pieces: pieces in
    (r DESC, doc_id ASC) order each go to the FULLEST bin they fit in
    (first such bin on ties), else open a new bin. Bins are 1-based in
    shard-local order of opening. Sequential by nature — which is why
    packing shards must fit one task (the paper packs per data segment
    the same way)."""
    import pandas as pd

    pdf = pdf.sort_values(["r", "doc_id"], ascending=[False, True])
    loads: list[int] = []
    bins = []
    ctx = int(pdf["ctx"].iloc[0])
    for r in pdf["r"].tolist():
        best, best_load = 0, -1
        for i, l in enumerate(loads):
            if l + r <= ctx and l > best_load:
                best, best_load = i + 1, l
        if best == 0:
            loads.append(r)
            bins.append(len(loads))
        else:
            loads[best - 1] += r
            bins.append(best)
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "shard": pdf["shard"], "pack_bin": bins}
    )


@register(
    "pack_bestfit_shards",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             CAST(len(regexp_extract_all(text, '[\\p{{L}}]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    pieces AS (
      SELECT doc_id, shard, n_tokens,
             n_tokens // {CTX_TOKENS} AS own_bins,
             n_tokens % {CTX_TOKENS} AS r
      FROM base WHERE n_tokens > 0
    ),
    packable AS (
      SELECT doc_id, shard, r,
             row_number() OVER (PARTITION BY shard
                                ORDER BY r DESC, doc_id) AS rn
      FROM pieces WHERE r > 0
    ),
    rec AS (
      SELECT shard, CAST(0 AS BIGINT) AS rn,
             CAST([] AS BIGINT[]) AS loads, CAST(0 AS BIGINT) AS doc_id,
             CAST(0 AS BIGINT) AS bin
      FROM (SELECT DISTINCT shard FROM packable)
      UNION ALL
      SELECT p.shard, p.rn,
             CASE WHEN len(list_filter(rec.loads,
                          l -> l + p.r <= {CTX_TOKENS})) > 0
                  THEN list_transform(rec.loads, (l, i) ->
                       CASE WHEN i = list_position(rec.loads,
                              list_max(list_filter(rec.loads,
                                l -> l + p.r <= {CTX_TOKENS})))
                            THEN l + p.r ELSE l END)
                  ELSE list_append(rec.loads, p.r) END,
             p.doc_id,
             CASE WHEN len(list_filter(rec.loads,
                          l -> l + p.r <= {CTX_TOKENS})) > 0
                  THEN CAST(list_position(rec.loads,
                         list_max(list_filter(rec.loads,
                           l -> l + p.r <= {CTX_TOKENS}))) AS BIGINT)
                  ELSE len(rec.loads) + 1 END
      FROM rec
      JOIN packable p ON p.shard = rec.shard AND p.rn = rec.rn + 1
    )
    SELECT pc.doc_id, pc.shard, pc.n_tokens,
           pc.own_bins AS n_own_bins,
           r.bin AS pack_bin
    FROM pieces pc
    LEFT JOIN (SELECT shard, doc_id, bin FROM rec WHERE rn > 0) r
      ON r.shard = pc.shard AND r.doc_id = pc.doc_id
    """,
    doc="Best-fit packing (Ding et al. 2024, 'Fewer Truncations "
    "Improve Language Modeling'): instead of concat-then-chunk "
    "(pack_sequences), documents are laid into fixed context bins "
    "with NO cross-document truncation — full CTX_TOKENS multiples of "
    "a long doc take dedicated bins, the remainder plus whole short "
    "docs pack best-fit-decreasing (fullest fitting bin, first on "
    "ties) within a hash shard. The fold is sequential BY NATURE, so "
    "it runs per shard inside one Arrow applyInPandas task — the "
    "paper's per-segment recipe; shard count scales so a shard's "
    "piece list fits one worker, and every other step (tokenize, "
    "chunk split, the final join) is ordinary distributed map/join "
    "work. The oracle replays the identical fold as a per-shard "
    "recursive CTE over bin-load lists.",
    tags=["training_prep", "llm-pipeline"],
)
def pack_bestfit_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
    )
    pieces = base.where(F.col("n_tokens") > 0).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"n_tokens div {CTX_TOKENS}").alias("own_bins"),
        (F.col("n_tokens") % CTX_TOKENS).alias("r"),
    )
    packable = pieces.where(F.col("r") > 0).withColumn(
        "ctx", F.lit(CTX_TOKENS)
    )
    assigned = packable.groupBy("shard").applyInPandas(
        _bfd_pandas, schema="doc_id long, shard long, pack_bin long"
    )
    return pieces.join(assigned, ["doc_id", "shard"], "left").select(
        "doc_id",
        "shard",
        "n_tokens",
        F.col("own_bins").alias("n_own_bins"),
        "pack_bin",
    )


_PACK_BOUNDARY_ORACLE = f"""
    WITH {_SHINGLE_5_SQL},
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_MOD} = 0),
    t0 AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS tk
      FROM documents WHERE doc_id % {EVAL_MOD} != 0
    ),
    t AS (SELECT doc_id, tk, len(tk) AS n FROM t0 WHERE len(tk) > 0),
    c AS (
      SELECT doc_id, tk, n,
             sum(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS off
      FROM t
    ),
    j AS (
      SELECT doc_id AS prev_id, tk AS ptk, n AS pn,
             lead(doc_id) OVER w AS next_id,
             lead(tk) OVER w AS ntk,
             lead(n) OVER w AS nn,
             lead(off) OVER w AS junction
      FROM c WINDOW w AS (ORDER BY doc_id)
    ),
    cand AS (
      SELECT prev_id, next_id, junction, k,
             array_to_string(
               list_concat(ptk[pn - k + 1 : pn], ntk[1 : {DECON_NGRAM} - k]),
               ' ') AS s
      FROM j, unnest(range(1, {DECON_NGRAM})) u(k)
      WHERE next_id IS NOT NULL
        AND k <= pn AND ({DECON_NGRAM} - k) <= nn
        AND (junction - k) // {CTX_TOKENS}
            = (junction - k + {DECON_NGRAM - 1}) // {CTX_TOKENS}
    ),
    counts AS (
      SELECT prev_id, next_id, junction, count(*) AS ncand
      FROM cand GROUP BY 1, 2, 3
    ),
    hits AS (
      SELECT prev_id, next_id, count(*) AS nh
      FROM cand JOIN ev USING (s) GROUP BY 1, 2
    )
    SELECT counts.prev_id AS prev_doc_id,
           counts.next_id AS next_doc_id,
           CAST(junction AS BIGINT) AS junction_offset,
           CAST(ncand AS BIGINT) AS n_boundary_grams,
           CAST(coalesce(nh, 0) AS BIGINT) AS n_eval_hits
    FROM counts LEFT JOIN hits USING (prev_id, next_id)
"""


# Own generation slot (per-slot rule, CLAUDE.md): the junction frame is
# referenced by four consumers (local pairs, group heads/tails x2, and
# through them both candidate aggregates) — unpersisted, each re-plans
# the corpus scan + offset windows.
from ..cache import GenerationSlot  # noqa: E402

_PACK_BOUNDARY_GENERATION = GenerationSlot()


@register(
    "pack_boundary_contamination",
    oracle=_PACK_BOUNDARY_ORACLE,
    doc=f"The contamination channel doc-level decontamination cannot "
    f"see: concat-then-chunk packing (pack_sequences) lays train "
    f"documents end to end, so a {DECON_NGRAM}-gram of the eval split "
    "can MATERIALIZE at the junction between two adjacent train docs "
    "— its tokens exist in no single document. For every junction in "
    "the packed train corpus (doc_id order, eval split excluded, "
    "empty docs skipped) this enumerates the boundary-crossing "
    f"{DECON_NGRAM}-token windows that stay inside ONE "
    f"{CTX_TOKENS}-token context bin (a window split by a bin edge "
    "never co-attends in training), and counts those present in the "
    "eval n-gram set. Scale shape: the eval gram set broadcasts; the "
    "junction frame carries only each doc's first/last "
    f"{DECON_NGRAM - 1} tokens (never the corpus text); adjacency is "
    "two-level (within-group lead + a groups-sized boundary join), "
    "never a global single-partition window. Planted-junction "
    "detection pinned in tests/test_properties_spark — see "
    "test_streaming/test pack boundary test.",
    tags=["training_prep", "llm-pipeline"],
)
def pack_boundary_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    k_head = DECON_NGRAM - 1
    # eval gram set (the decontaminate_ngram broadcast side)
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_col(tokens_col("text"), DECON_NGRAM))
        ).alias("s"),
    )
    ev = sh.where(F.col("doc_id") % EVAL_MOD == 0).select("s").distinct()

    toks = tokens_col("text")
    t = (
        docs.where(F.col("doc_id") % EVAL_MOD != 0)
        .select(
            "doc_id",
            (F.col("doc_id") / PACK_GROUP_SPAN).cast("long").alias("g"),
            F.explode(
                F.array(
                    F.struct(
                        F.size(toks).alias("n"),
                        F.slice(toks, 1, k_head).alias("head"),
                        F.slice(
                            toks,
                            F.greatest(F.size(toks) - (k_head - 1), F.lit(1)),
                            F.least(F.size(toks), F.lit(k_head)),
                        ).alias("tail"),
                    )
                )
            ).alias("u"),
        )
        .select("doc_id", "g", "u.n", "u.head", "u.tail")
        .where(F.col("n") > 0)
    )
    # two-level global token offsets (the pack_sequences shape)
    w_local = (
        Window.partitionBy("g")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ONE corpus tokenize (r14, guide §2.4): `t` used to feed three
    # unpersisted consumers — the local window, g_tot under g_off, and
    # g_tot again under the group rank joined by heads/tails — so the
    # regex tokenize + head/tail slices re-executed up to FOUR times
    # per action. Persist the narrow post-tokenize trunk once; every
    # group statistic derives from it (g_tokens = the group's last
    # cumulative sum, exactly sum(n)).
    _PACK_BOUNDARY_GENERATION.evict()
    local = _PACK_BOUNDARY_GENERATION.adopt(
        t.withColumn("local_cum", F.sum("n").over(w_local)).persist()
    )
    g_tot = local.groupBy("g").agg(F.max("local_cum").alias("g_tokens"))
    w_g = Window.orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_rank = Window.orderBy("g")  # groups-sized frame: tiny by design
    # one groups-sized window pass carries BOTH the exclusive offset
    # and the dense group rank (same partition/order -> one Window node)
    g_meta = g_tot.select(
        "g",
        (
            F.sum("g_tokens").over(w_g) - F.col("g_tokens")
        ).alias("g_offset"),
        F.row_number().over(w_rank).alias("r"),
    )
    # persisted: four consumers (within-group lead, group heads/tails,
    # and both candidate aggregates through them) would otherwise each
    # re-plan the offset join. Tiny rows — doc_id, group, count,
    # first/last 4 tokens — never the document text.
    frame = _PACK_BOUNDARY_GENERATION.adopt(
        local.join(F.broadcast(g_meta.select("g", "g_offset")), "g")
        .select(
            "doc_id",
            "g",
            "n",
            "head",
            "tail",
            (F.col("g_offset") + F.col("local_cum") - F.col("n")).alias("off"),
        )
        .persist()
    )
    # adjacency: within-group lead + a groups-sized cross-boundary join
    # (rank present groups; group r's last doc precedes group r+1's first)
    w_adj = Window.partitionBy("g").orderBy("doc_id")
    local_pairs = frame.select(
        F.col("doc_id").alias("prev_id"),
        F.col("tail").alias("ptail"),
        F.col("n").alias("pn"),
        F.lead("doc_id").over(w_adj).alias("next_id"),
        F.lead("head").over(w_adj).alias("nhead"),
        F.lead("n").over(w_adj).alias("nn"),
        F.lead("off").over(w_adj).alias("junction"),
    ).where(F.col("next_id").isNotNull())
    ranked = g_meta.select("g", "r")
    lasts = (
        frame.join(
            frame.groupBy("g").agg(F.max("doc_id").alias("doc_id")),
            ["g", "doc_id"],
            "left_semi",
        )
        .join(ranked, "g")
        .select(
            "r",
            F.col("doc_id").alias("prev_id"),
            F.col("tail").alias("ptail"),
            F.col("n").alias("pn"),
        )
    )
    firsts = (
        frame.join(
            frame.groupBy("g").agg(F.min("doc_id").alias("doc_id")),
            ["g", "doc_id"],
            "left_semi",
        )
        .join(ranked, "g")
        .select(
            (F.col("r") - 1).alias("r"),
            F.col("doc_id").alias("next_id"),
            F.col("head").alias("nhead"),
            F.col("n").alias("nn"),
            F.col("off").alias("junction"),
        )
    )
    cross_pairs = lasts.join(firsts, "r").select(
        "prev_id", "ptail", "pn", "next_id", "nhead", "nn", "junction"
    )
    pairs = local_pairs.unionByName(cross_pairs)

    k = F.col("k")
    s_start = F.col("junction") - k
    gram = F.array_join(
        F.concat(
            F.slice("ptail", F.size("ptail") - k + F.lit(1), k),
            F.slice("nhead", F.lit(1), F.lit(DECON_NGRAM) - k),
        ),
        " ",
    )
    cand = (
        pairs.select(
            "prev_id",
            "next_id",
            "junction",
            F.explode(F.sequence(F.lit(1), F.lit(k_head))).alias("k"),
            "ptail",
            "pn",
            "nhead",
            "nn",
        )
        .where(
            (k <= F.col("pn"))
            & (F.lit(DECON_NGRAM) - k <= F.col("nn"))
            & (
                F.floor(s_start / CTX_TOKENS)
                == F.floor((s_start + DECON_NGRAM - 1) / CTX_TOKENS)
            )
        )
        .select("prev_id", "next_id", "junction", gram.alias("s"))
    )
    counts = cand.groupBy("prev_id", "next_id", "junction").agg(
        F.count("*").alias("ncand")
    )
    hits = (
        cand.join(F.broadcast(ev), "s")
        .groupBy("prev_id", "next_id")
        .agg(F.count("*").alias("nh"))
    )
    return counts.join(hits, ["prev_id", "next_id"], "left").select(
        F.col("prev_id").alias("prev_doc_id"),
        F.col("next_id").alias("next_doc_id"),
        F.col("junction").cast("long").alias("junction_offset"),
        F.col("ncand").cast("long").alias("n_boundary_grams"),
        F.coalesce("nh", F.lit(0)).cast("long").alias("n_eval_hits"),
    )
