"""Count-based language-model statistics over the document corpus —
the table artifacts an LLM data pipeline derives BEFORE any neural
training: smoothed n-gram probability tables (the classic KenLM-style
preprocessing) and per-document model-based quality scores.

Three queries:

- ``lm_kn_bigrams``: the interpolated Kneser-Ney bigram table. The
  only corpus-sized shuffle is the bigram count (explode -> two-level
  groupBy with map-side combine); every derived statistic — context
  totals c(u.), forward continuation types N1+(u.), backward
  continuation types N1+(.v), bigram-type total B — is computed FROM
  the distinct-bigram table, which is vocab^2-bounded (tiny even when
  the corpus is 100 TB), and joined back by broadcast. P_KN uses the
  standard absolute-discount form with D = 0.75:
      P(v|u) = (c(u,v) - D)/c(u.) + D*N1+(u.)/c(u.) * N1+(.v)/B
  Both engines evaluate the identical IEEE expression tree (each
  +,-,*,/ is correctly rounded, hence bitwise deterministic), so the
  probability hash-matches the oracle after round-6.

- ``lm_next_token_top3``: the argmax view of the same table — top-3
  continuations per context by (count desc, token asc), a per-context
  window rank over the vocab^2-bounded bigram table (partitioned by
  context, so never a single-partition window).

- ``doc_perplexity``: per-document cross-entropy/perplexity under the
  corpus unigram MLE — the cheapest model-based quality filter (docs
  of rare tokens score high, boilerplate scores low). Per-token
  log-probabilities are SCALED-INTEGER nats (round(ln(c/T)*1e9) as
  BIGINT) so the per-document sum is order-free exact integer
  arithmetic — libm's ln differs from the JVM's by 1 ulp on ~2% of
  inputs (measured), which the integer grid absorbs, while a raw
  double sum would additionally depend on partition order. The global
  count table rides a broadcast join; one explode + one groupBy(doc)
  is the whole distributed cost.

Reference parity note: the reference's app surface is wordcount-shaped
(``mrapps/wc.go``, ``mrapps/indexer.go``); these are its natural
extension — the same token streams folded into the statistics a
training-data pipeline actually ships. Tokenization is the shared
letter-run contract (``functions/text.py:TOKEN_SPLIT_RE``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import GenerationSlot
from ..functions.text import tokens_col
from ..registry import register
from ..sources.tables import table
from .relational import two_level_global_rank

DISCOUNT = 0.75
LOG_SCALE = 10**9

# one-generation cache (the dedup.py policy): the bigram/unigram count
# tables are vocab-bounded but have MULTIPLE consumers (context totals,
# continuation types, the type total; the scaled-log table) — without a
# persist each consumer re-plans the corpus explode+count, turning one
# scan into four (visible as scans=4 in PLANS.md). Persisting the TINY
# count frame pins one corpus pass total.
_CACHE_GENERATION = GenerationSlot()

# Shared SQL prelude: per-document token arrays and exploded bigrams.
_BIGRAM_SQL = """
    toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{L}]+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT toks[i] AS w1, toks[i + 1] AS w2
      FROM toks, unnest(range(1, len(toks))) u(i)
      WHERE len(toks) >= 2
    ),
    bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2)
"""


def _bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, c) bigram counts — the one corpus-sized shuffle."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    # Adjacent pairs via the zip_with trick (see shingles_col): one
    # O(len) pass, no per-position re-evaluation of the regex split.
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c"))
    )


@register(
    "lm_kn_bigrams",
    oracle=f"""
    WITH {_BIGRAM_SQL},
    ctx AS (
      SELECT w1, sum(c) AS c_ctx, count(*) AS nf FROM bc GROUP BY 1
    ),
    back AS (SELECT w2, count(*) AS nb FROM bc GROUP BY 1),
    tot AS (SELECT count(*) AS b FROM bc)
    SELECT bc.w1, bc.w2, CAST(bc.c AS BIGINT) AS c,
           CAST(ctx.c_ctx AS BIGINT) AS c_ctx,
           CAST(ctx.nf AS BIGINT) AS n_follow_types,
           CAST(back.nb AS BIGINT) AS n_precede_types,
           round((bc.c - {DISCOUNT}) / ctx.c_ctx
                 + {DISCOUNT} * ctx.nf / ctx.c_ctx * (back.nb * 1.0 / tot.b),
                 6) AS p_kn
    FROM bc JOIN ctx USING (w1) JOIN back USING (w2), tot
    """,
    doc="Interpolated Kneser-Ney bigram probability table (D=0.75). "
    "Corpus-sized work is ONE explode + two-level bigram count; "
    "context totals, continuation-type counts and the bigram-type "
    "total all derive from the vocab^2-bounded count table and join "
    "back by broadcast. Identical IEEE expression trees on both sides "
    "make p_kn hash-exact at round-6.",
    tags=["langmodel", "textops"],
)
def lm_kn_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE_GENERATION.evict()
    bc = _bigram_counts(spark, sf_dir).persist()
    _CACHE_GENERATION.append(bc)
    ctx = bc.groupBy("w1").agg(
        F.sum("c").alias("c_ctx"), F.count("*").alias("nf")
    )
    back = bc.groupBy("w2").agg(F.count("*").alias("nb"))
    tot = bc.agg(F.count("*").alias("b"))
    d = F.lit(DISCOUNT)
    p_kn = F.round(
        (F.col("c") - d) / F.col("c_ctx")
        + d * F.col("nf") / F.col("c_ctx")
        * (F.col("nb") * F.lit(1.0) / F.col("b")),
        6,
    )
    return (
        bc.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(back), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("c"),
            F.col("c_ctx").cast("long").alias("c_ctx"),
            F.col("nf").cast("long").alias("n_follow_types"),
            F.col("nb").cast("long").alias("n_precede_types"),
            p_kn.alias("p_kn"),
        )
    )


@register(
    "lm_next_token_top3",
    oracle=f"""
    WITH {_BIGRAM_SQL},
    ranked AS (
      SELECT w1, w2, c,
             row_number() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rk
      FROM bc
    )
    SELECT w1, CAST(rk AS BIGINT) AS rk, w2 AS next_token,
           CAST(c AS BIGINT) AS c
    FROM ranked WHERE rk <= 3
    """,
    doc="Top-3 next-token table per context (count desc, token asc "
    "tie-break) — the greedy-decode view of the bigram LM. The rank "
    "window is partitioned by context over the vocab^2-bounded count "
    "table; the corpus-sized stage is only the shared bigram count.",
    tags=["langmodel", "textops"],
)
def lm_next_token_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    bc = _bigram_counts(spark, sf_dir)
    w = Window.partitionBy("w1").orderBy(F.col("c").desc(), "w2")
    return (
        bc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "w1",
            F.col("rk").cast("long").alias("rk"),
            F.col("w2").alias("next_token"),
            F.col("c").cast("long").alias("c"),
        )
    )


@register(
    "doc_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS w FROM toks
    ),
    uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
    tot AS (SELECT sum(cw) AS t FROM uni),
    slog AS (
      SELECT w, CAST(round(ln(cw / t) * {LOG_SCALE}) AS BIGINT) AS sl
      FROM uni, tot
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n, sum(sl) AS s
      FROM tok JOIN slog USING (w)
      GROUP BY 1
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           round(-(s * 1.0 / {LOG_SCALE}) / n, 6) AS cross_entropy,
           round(exp(-(s * 1.0 / {LOG_SCALE}) / n), 6) AS perplexity
    FROM per_doc
    """,
    doc="Per-document cross-entropy (nats) and perplexity under the "
    "corpus unigram MLE — the cheapest model-based quality signal. "
    "Token log-probs are scaled-integer nats (round(ln(c/T)*1e9)) so "
    "the per-doc fold is order-free integer addition; the unigram "
    "table broadcasts. One explode + one groupBy(doc_id) is the whole "
    "distributed cost.",
    tags=["langmodel", "textops"],
)
def doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("w")
    )
    _CACHE_GENERATION.evict()
    # vocab-sized; persisted so tot and slog share one corpus count
    uni = tok.groupBy("w").agg(F.count("*").alias("cw")).persist()
    _CACHE_GENERATION.append(uni)
    tot = uni.agg(F.sum("cw").alias("t"))
    slog = (
        uni.crossJoin(F.broadcast(tot))
        .select(
            "w",
            F.round(F.log(F.col("cw") / F.col("t")) * LOG_SCALE)
            .cast("long")
            .alias("sl"),
        )
    )
    per_doc = (
        tok.join(F.broadcast(slog), "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("sl").alias("s"))
    )
    h = -(F.col("s") * F.lit(1.0) / F.lit(LOG_SCALE)) / F.col("n")
    return per_doc.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.round(h, 6).alias("cross_entropy"),
        F.round(F.exp(h), 6).alias("perplexity"),
    )


ZIPF_SCALE = 10**9  # log(rank)/log(freq) snapped to this integer grid


@register(
    "zipf_fit_tokens",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_extract_all(text, '[\\p{{L}}]+')) AS w
      FROM documents
    ),
    uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
    ranked AS (
      SELECT cw, row_number() OVER (ORDER BY cw DESC, w) AS rk FROM uni
    ),
    logs AS (
      SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * {ZIPF_SCALE}) AS BIGINT) AS lx,
             CAST(round(ln(CAST(cw AS DOUBLE)) * {ZIPF_SCALE}) AS BIGINT) AS ly
      FROM ranked
    ),
    m AS (
      SELECT count(*) AS n,
             sum(CAST(lx AS HUGEINT)) AS sx, sum(CAST(ly AS HUGEINT)) AS sy,
             sum(CAST(lx AS HUGEINT) * lx) AS sxx,
             sum(CAST(ly AS HUGEINT) * ly) AS syy,
             sum(CAST(lx AS HUGEINT) * ly) AS sxy
      FROM logs
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           (SELECT CAST(sum(cw) AS BIGINT) FROM uni) AS total_tokens,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS zipf_slope,
           round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS r2
    FROM m
    """,
    doc="Zipf's-law fit over the token frequency distribution: OLS of "
    "ln(frequency) on ln(rank) — natural corpora fit slope ~ -1 with "
    "high r^2; template/boilerplate corpora bend the curve, making "
    "this a one-row corpus-health signal. Logs snap to an integer "
    "grid (the doc_perplexity discipline) and the moment sums "
    "accumulate in DECIMAL(38,0) (the corr_matrix discipline), so "
    "the whole fit is order-free and hash-exact. The vocab rank is "
    "the two-level terasort rank (range-partitioned + broadcast "
    "prefix-sum, `relational.two_level_global_rank`) — never a "
    "single-partition window, so a 10^8-type web vocabulary ranks "
    "in parallel.",
    tags=["langmodel", "stats"],
)
def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens_col("text")).alias("w"))
    uni = tok.groupBy("w").agg(F.count("*").alias("cw"))
    ranked = two_level_global_rank(
        uni, [F.col("cw").desc(), "w"], slot="zipf_fit_tokens"
    ).select("cw", F.col("pos").alias("rk"))
    logs = ranked.select(
        F.round(F.log(F.col("rk").cast("double")) * ZIPF_SCALE)
        .cast("long")
        .alias("lx"),
        F.round(F.log(F.col("cw").cast("double")) * ZIPF_SCALE)
        .cast("long")
        .alias("ly"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = logs.select(
        dec("lx").alias("lx"), dec("ly").alias("ly")
    ).agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).alias("syy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    tot = uni.agg(F.sum("cw").cast("long").alias("total_tokens"))
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n_types"),
            "total_tokens",
            F.round(cov / vx, 6).alias("zipf_slope"),
            F.round(cov * cov / (vx * vy), 6).alias("r2"),
        )
    )


@register(
    "doc_perplexity_kn",
    oracle=f"""
    WITH {_BIGRAM_SQL.replace("bg AS", "bgd AS").replace(
        "SELECT toks[i] AS w1", "SELECT doc_id, toks[i] AS w1"
    ).replace("FROM bg GROUP", "FROM bgd GROUP")},
    ctx AS (SELECT w1, sum(c) AS c_ctx, count(*) AS nf FROM bc GROUP BY 1),
    back AS (SELECT w2, count(*) AS nb FROM bc GROUP BY 1),
    tot AS (SELECT count(*) AS b FROM bc),
    slog AS (
      SELECT bc.w1, bc.w2,
             CAST(round(ln(
               (CAST(bc.c AS DOUBLE) - {DISCOUNT}) / ctx.c_ctx
               + {DISCOUNT} * CAST(ctx.nf AS DOUBLE) / ctx.c_ctx
                 * (back.nb * 1.0 / tot.b)
             ) * {LOG_SCALE}) AS BIGINT) AS sl
      FROM bc JOIN ctx USING (w1) JOIN back USING (w2), tot
    )
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(-(sum(sl) * 1.0 / {LOG_SCALE}) / count(*), 6)
             AS cross_entropy_kn,
           round(exp(-(sum(sl) * 1.0 / {LOG_SCALE}) / count(*)), 6)
             AS perplexity_kn
    FROM bgd g JOIN slog s ON g.w1 = s.w1 AND g.w2 = s.w2
    GROUP BY 1
    """,
    doc="Per-document cross-entropy/perplexity under the interpolated "
    "Kneser-Ney bigram LM — the model-based quality score "
    "doc_perplexity upgrades to once a real smoothed LM exists "
    "(KenLM-style filtering). Every scored bigram is in the corpus "
    "table (the model trains on the same corpus), so no backoff path "
    "is needed; P_KN is the identical double expression tree on both "
    "engines and per-bigram log-probs are scaled-integer nats, making "
    "the per-doc fold order-free exact. Docs with <2 tokens have no "
    "bigrams and drop out on both sides. Corpus-sized work: the shared "
    "bigram count + one doc-bigram join against the vocab^2-bounded "
    "scaled-log table.",
    tags=["langmodel", "textops", "llm-pipeline"],
)
def doc_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE_GENERATION.evict()
    docs = table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bgd = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )
    bc = _bigram_counts(spark, sf_dir).persist()
    _CACHE_GENERATION.append(bc)
    ctx = bc.groupBy("w1").agg(
        F.sum("c").alias("c_ctx"), F.count("*").alias("nf")
    )
    back = bc.groupBy("w2").agg(F.count("*").alias("nb"))
    tot = bc.agg(F.count("*").alias("b"))
    d = F.lit(DISCOUNT)
    p_kn = (
        (F.col("c").cast("double") - d) / F.col("c_ctx")
        + d * F.col("nf").cast("double") / F.col("c_ctx")
        * (F.col("nb") * F.lit(1.0) / F.col("b"))
    )
    slog = (
        bc.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(back), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.round(F.log(p_kn) * F.lit(LOG_SCALE)).cast("long").alias("sl"),
        )
    )
    per_doc = (
        bgd.join(slog, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("sl").alias("s"))
    )
    h = -(F.col("s") * F.lit(1.0) / F.lit(LOG_SCALE)) / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round(h, 6).alias("cross_entropy_kn"),
        F.round(F.exp(h), 6).alias("perplexity_kn"),
    )


@register(
    "perplexity_ccnet_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(toks) AS w FROM toks
    ),
    uni AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
    tot AS (SELECT sum(cw) AS t FROM uni),
    slog AS (
      SELECT w, CAST(round(ln(cw / t) * {LOG_SCALE}) AS BIGINT) AS sl
      FROM uni, tot
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n, sum(sl) AS s
      FROM tok JOIN slog USING (w)
      GROUP BY 1
    ),
    scored AS (
      SELECT d.doc_id, d.source,
             round(-(p.s * 1.0 / {LOG_SCALE}) / p.n, 6) AS cross_entropy
      FROM per_doc p JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY source
                                ORDER BY cross_entropy, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS ns
      FROM scored
    )
    SELECT doc_id, source, cross_entropy,
           CASE (rk - 1) * 3 // ns
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM ranked
    """,
    doc="The CCNet bucketing (Wenzek et al. 2020): split each source's "
    "documents into equal head/middle/tail thirds by LM "
    "cross-entropy — the published shape that lets a pipeline keep "
    "head+middle and drop the noisy tail per language. Scores are the "
    "doc_perplexity unigram cross-entropy (order-free scaled-integer "
    "fold); the per-source rank does NOT run a per-source monolithic "
    "window — it derives from the shared terasort two-level rank over "
    "(source, score, doc_id) plus a broadcast per-source offset "
    "table, so one mega-language can never funnel the corpus through "
    "a single partition. Tertile membership is exact integer "
    "arithmetic ((rank-1)*3 div n), bitwise-replayed by the oracle.",
    tags=["langmodel", "textops", "llm-pipeline"],
)
def perplexity_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import two_level_global_rank

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("w")
    )
    _CACHE_GENERATION.evict()
    uni = tok.groupBy("w").agg(F.count("*").alias("cw")).persist()
    _CACHE_GENERATION.append(uni)
    tot = uni.agg(F.sum("cw").alias("t"))
    slog = uni.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.log(F.col("cw") / F.col("t")) * LOG_SCALE)
        .cast("long")
        .alias("sl"),
    )
    per_doc = (
        tok.join(F.broadcast(slog), "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("sl").alias("s"))
    )
    scored = per_doc.join(docs.select("doc_id", "source"), "doc_id").select(
        "doc_id",
        "source",
        F.round(
            -(F.col("s") * F.lit(1.0) / F.lit(LOG_SCALE)) / F.col("n"), 6
        ).alias("cross_entropy"),
    )
    ranked = two_level_global_rank(
        scored,
        ["source", "cross_entropy", "doc_id"],
        slot="perplexity_ccnet_buckets",
    )
    offsets = ranked.groupBy("source").agg(
        F.min("pos").alias("p0"), F.count("*").alias("ns")
    )
    return (
        ranked.join(F.broadcast(offsets), "source")
        .withColumn("rk", F.col("pos") - F.col("p0") + 1)
        .select(
            "doc_id",
            "source",
            "cross_entropy",
            F.when(F.expr("(rk - 1) * 3 div ns") == 0, "head")
            .when(F.expr("(rk - 1) * 3 div ns") == 1, "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


def _quality_matrix_oracle() -> str:
    from ..registry import REGISTRY
    from . import textops  # noqa: F401  (ensures registration)

    ccnet = REGISTRY["perplexity_ccnet_buckets"].oracle
    gopher = REGISTRY["gopher_quality_flags"].oracle
    return f"""
    SELECT c.ppl_bucket, g.gopher_pass,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN g.ok_word_count THEN 1 END) AS BIGINT)
             AS n_ok_word_count,
           CAST(count(CASE WHEN g.ok_stop_words THEN 1 END) AS BIGINT)
             AS n_ok_stop_words,
           CAST(sum(CAST(round(c.cross_entropy * 1000000) AS BIGINT))
                AS DOUBLE) / 1000000.0 / count(*) AS avg_cross_entropy
    FROM ({ccnet}) c JOIN ({gopher}) g USING (doc_id)
    GROUP BY 1, 2
    """


@register(
    "quality_agreement_matrix",
    oracle=_quality_matrix_oracle(),
    doc="The gate-selection audit: cross-tabulate the two independent "
    "quality dimensions — CCNet LM tertile (head/middle/tail) and the "
    "Gopher heuristic verdict — with per-cell doc counts, the two "
    "most label-sensitive rule hit counts, and the exact fixed-point "
    "mean cross-entropy. A pipeline reads this BEFORE choosing which "
    "gate to trust: heavy disagreement (heuristic-fail inside the LM "
    "head) means the heuristics are mis-tuned for the corpus, "
    "agreement means the cheap gate can front the expensive one. "
    "Pure composition of two verified frames joined on doc_id — the "
    "group count is |3 x 2| bounded.",
    tags=["langmodel", "textops", "llm-pipeline", "tuning"],
)
def quality_agreement_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import favg
    from .textops import gopher_flags_frame

    buckets = perplexity_ccnet_buckets(spark, sf_dir)
    flags = gopher_flags_frame(table(spark, sf_dir, "documents"))
    return (
        buckets.join(flags, "doc_id")
        .groupBy("ppl_bucket", "gopher_pass")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("ok_word_count"), 1)).alias(
                "n_ok_word_count"
            ),
            F.count(F.when(F.col("ok_stop_words"), 1)).alias(
                "n_ok_stop_words"
            ),
            favg(F.col("cross_entropy"), 10**6).alias("avg_cross_entropy"),
        )
    )
