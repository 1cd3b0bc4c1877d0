"""DSIR — Data Selection via Importance Resampling over ``documents``.

The published recipe (Xie et al. 2023, "Data Selection for Language
Models via Importance Resampling"): fit two unigram bag-of-hashed-
n-grams models — one on a small TARGET corpus (the distribution you
want more of), one on the RAW pool — and score every raw document with
its log importance weight

    w(doc) = sum over tokens t of  ln p_target(b(t)) - ln p_raw(b(t))

where ``b(t)`` hashes the token into a fixed bucket space. Documents
are then selected by weight (the paper Gumbel-samples; here the
deterministic variant: take the top fraction under the total order
(weight DESC, doc_id ASC), so both engines replay the choice bitwise).
The reference repo (a Go MapReduce engine, ``mrapps/wc.go``) has no
analogue — this is the wordcount stream folded into the data-selection
artifact a 100 TB pretraining pipeline actually ships.

Fixture mapping: target = the ``source = 'src0'`` slice, raw = every
other document (the paper's target/raw split, with the target held out
of the pool being scored). Bucket space ``DSIR_BUCKETS`` = 1024 via the
shared oracle-reproducible hash (``functions.text.md5_long32`` %% B).

Exactness: each smoothed log term is snapped to SCALED-INTEGER nats
(round(ln((c+1)/(T+B)) * 1e9) AS BIGINT — the ``langmodel.py`` grid,
which absorbs the ~1-ulp libm-vs-JVM ln drift), so the per-document
sum is order-free integer arithmetic and hash-matches the DuckDB twin.

Scale (100 TB): the bucket-count tables are B-bounded (1024 rows each)
regardless of corpus size — one explode + groupBy(bucket) with map-side
combine builds them; the scoring join is tok -> broadcast(slr) (map
only); the per-doc weight is one groupBy(doc). Selection never runs a
single-partition window: the global position comes from the shared
terasort two-level rank (``relational.two_level_global_rank``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import GenerationSlot
from ..functions.text import md5_long32, tokens_col
from ..registry import register
from ..sources.tables import table
from .relational import two_level_global_rank

DSIR_TARGET = "src0"
DSIR_BUCKETS = 1024
DSIR_SELECT_FRAC = 0.2  # top fraction of the raw pool kept
LOG_SCALE = 10**9

# Per-family persist slot (per-slot cache rule): the bucket log-ratio
# table and the per-doc weight frame have multiple consumers.
_DSIR_GENERATION = GenerationSlot()


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, b) — one row per token with its hash bucket."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.explode(tokens_col("text")).alias("w"),
    ).select(
        "doc_id",
        "source",
        (md5_long32(F.col("w")) % DSIR_BUCKETS).alias("b"),
    )


def _scaled_ln_smoothed(c: F.Column, t: F.Column) -> F.Column:
    """round(ln((c+1)/(T+B)) * S) as BIGINT — one grid point per term."""
    return F.round(
        F.log((c + F.lit(1)).cast("double") / (t + F.lit(DSIR_BUCKETS)).cast("double"))
        * F.lit(LOG_SCALE)
    ).cast("long")


def _frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(slr, w): the bucket log-ratio table and the per-raw-doc weights.

    ``slr`` spans the full B-bucket domain (unseen buckets get the
    pure-smoothing term), is at most ``DSIR_BUCKETS`` rows at any
    corpus size, and rides a broadcast join onto the token stream.
    ``w`` is (doc_id, source, n_tokens, w_scaled) for every RAW doc.
    """
    return _frames_from_tok(spark, _tok(spark, sf_dir), _DSIR_GENERATION)


def _frames_from_tok(
    spark: SparkSession, tok: DataFrame, gen: GenerationSlot
) -> tuple[DataFrame, DataFrame]:
    gen.evict()
    # ONE feature-extraction pass (r14, guide §2.4): the bucketed
    # feature stream feeds BOTH the model counts and the scoring join;
    # unpersisted, each pass re-ran the regex tokenize (+ bigram
    # shingles and md5 for the n-gram family) over the whole corpus.
    # The persisted rows are (doc_id, source, b) — 3 narrow columns,
    # never the text; at warehouse scale this is the materialized
    # hashed-feature table the DSIR paper stores between the two
    # passes anyway (MEMORY_AND_DISK spills gracefully).
    tok = gen.adopt(tok.persist())
    is_target = F.col("source") == DSIR_TARGET
    counts = (
        tok.groupBy("b")
        .agg(
            F.count(F.when(is_target, 1)).alias("ct"),
            F.count(F.when(~is_target, 1)).alias("cr"),
        )
    )
    # Full bucket domain: buckets no token hashed into still carry the
    # smoothing mass (exactly mirrored in the oracle's range(B) CTE).
    domain = spark.range(DSIR_BUCKETS).select(F.col("id").alias("b"))
    counts = (
        domain.join(counts, "b", "left")
        .select(
            "b",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    totals = counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    slr = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "b",
            "ct",
            "cr",
            (
                _scaled_ln_smoothed(F.col("ct"), F.col("tt"))
                - _scaled_ln_smoothed(F.col("cr"), F.col("tr"))
            ).alias("slr"),
        )
        .persist()
    )
    gen.append(slr)

    w = (
        tok.where(~is_target)
        .join(F.broadcast(slr.select("b", "slr")), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("slr").alias("w_scaled"),
        )
        .persist()
    )
    gen.append(w)
    return slr, w


# Oracle CTE chain ending at slr(b, ct, cr, slr) and w(doc_id, source,
# n_tokens, w_scaled) — the DuckDB twin of :func:`_weights`.
# Model chain from the bucketed feature stream `tok(doc_id, source, b)`
# onward — shared verbatim by the unigram and hashed-n-gram oracles.
_DSIR_MODEL_CTES = f"""
    bcounts AS (
      SELECT d.b,
             coalesce(c.ct, 0) AS ct,
             coalesce(c.cr, 0) AS cr
      FROM (SELECT unnest(range({DSIR_BUCKETS})) AS b) d
      LEFT JOIN (
        SELECT b,
               count(CASE WHEN source = '{DSIR_TARGET}' THEN 1 END) AS ct,
               count(CASE WHEN source <> '{DSIR_TARGET}' THEN 1 END) AS cr
        FROM tok GROUP BY b
      ) c USING (b)
    ),
    btot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bcounts),
    slr AS (
      SELECT b, ct, cr,
             CAST(round(ln((ct + 1) * 1.0 / (tt + {DSIR_BUCKETS})) * {LOG_SCALE}) AS BIGINT)
             - CAST(round(ln((cr + 1) * 1.0 / (tr + {DSIR_BUCKETS})) * {LOG_SCALE}) AS BIGINT)
               AS slr
      FROM bcounts, btot
    ),
    w AS (
      SELECT doc_id, source,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(slr) AS BIGINT) AS w_scaled
      FROM tok JOIN slr USING (b)
      WHERE source <> '{DSIR_TARGET}'
      GROUP BY doc_id, source
    )"""

_DSIR_CTES = f"""
    tok AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(t.w), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
      FROM documents,
           unnest(regexp_extract_all(text, '[\\p{{L}}]+')) t(w)
    ),
    {_DSIR_MODEL_CTES}"""

# Hashed-n-gram feature stream (the paper's actual config — Xie et al.
# 2023 §3 hash unigrams AND bigrams into one bucket space).
_DSIR_NGRAM_CTES = f"""
    tokarr AS (
      SELECT doc_id, source,
             regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, t.w AS f FROM tokarr, unnest(toks) t(w)
      UNION ALL
      SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS f
      FROM tokarr, unnest(range(1, len(toks))) u(i)
      WHERE len(toks) >= 2
    ),
    tok AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(f), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
      FROM feats
    ),
    {_DSIR_MODEL_CTES}"""


@register(
    "dsir_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, source, n_tokens, w_scaled,
           round((w_scaled * 1.0 / {LOG_SCALE}) / n_tokens, 6) AS avg_logratio
    FROM w
    """,
    doc="DSIR per-document log importance weight (Xie et al. 2023): "
    "sum over tokens of the smoothed hashed-unigram log-ratio "
    "ln p_target(b) - ln p_raw(b), target = the src0 slice. "
    "Scaled-integer nats make the per-doc fold order-free exact; the "
    "bucket model is 1024 rows at ANY corpus size and broadcast.",
    tags=["dsir", "llm-pipeline"],
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, w = _frames(spark, sf_dir)
    return w.select(
        "doc_id",
        "source",
        "n_tokens",
        "w_scaled",
        F.round(
            (F.col("w_scaled") * F.lit(1.0) / F.lit(LOG_SCALE))
            / F.col("n_tokens"),
            6,
        ).alias("avg_logratio"),
    )


@register(
    "dsir_select",
    oracle=f"""
    WITH {_DSIR_CTES},
    pool AS (SELECT count(*) AS n FROM w),
    ranked AS (
      SELECT source,
             row_number() OVER (ORDER BY w_scaled DESC, doc_id) AS pos
      FROM w
    )
    SELECT r.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(CASE WHEN r.pos <= CAST(ceil(p.n * {DSIR_SELECT_FRAC}) AS BIGINT)
                      THEN 1 END) AS BIGINT) AS n_selected
    FROM ranked r, pool p
    GROUP BY r.source
    """,
    doc="DSIR selection audit: keep the top DSIR_SELECT_FRAC of the raw "
    "pool under (weight DESC, doc_id ASC) — the deterministic variant "
    "of the paper's resampling — and report per-source kept counts "
    "(the did-selection-shift-the-mixture artifact). The global "
    "position is the terasort two-level rank, never a single-partition "
    "window.",
    tags=["dsir", "llm-pipeline"],
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    _, w = _frames(spark, sf_dir)
    # Pool size is not footer-derivable (source is a data column), so
    # one 1-row count probe on the persisted weights frame — the
    # sanctioned scalar-probe shape — sizes K as a literal.
    n_pool = w.agg(F.count("*").alias("n")).collect()[0]["n"]
    k = int(math.ceil(n_pool * DSIR_SELECT_FRAC))
    ranked = two_level_global_rank(
        w, [F.col("w_scaled").desc(), F.col("doc_id").asc()], slot="dsir_select"
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("pos") <= k, 1)).alias("n_selected"),
        )
    )


@register(
    "dsir_bucket_divergence",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT CAST(count(CASE WHEN ct > 0 OR cr > 0 THEN 1 END) AS BIGINT)
             AS n_buckets_hit,
           CAST(sum(ct) AS BIGINT) AS target_tokens,
           CAST(sum(cr) AS BIGINT) AS raw_tokens,
           round(sum((ct + 1) * slr) * 1.0
                 / (sum(ct) + {DSIR_BUCKETS}) / {LOG_SCALE}, 6) AS kl_nats
    FROM slr
    """,
    doc="KL(target || raw) over the smoothed hashed-bucket models — the "
    "tune-before-the-full-pass artifact: how distinguishable the "
    "target slice is, hence how much signal a DSIR pass can extract. "
    "Per-bucket contributions are exact integer products "
    "(ct+1)*slr_scaled summed as BIGINT; the two divisions happen once "
    "at the end, so both engines agree bitwise.",
    tags=["dsir", "llm-pipeline", "tuning"],
)
def dsir_bucket_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    slr, _ = _frames(spark, sf_dir)
    return slr.agg(
        F.count(F.when((F.col("ct") > 0) | (F.col("cr") > 0), 1)).alias(
            "n_buckets_hit"
        ),
        F.sum("ct").alias("target_tokens"),
        F.sum("cr").alias("raw_tokens"),
        F.round(
            F.sum((F.col("ct") + F.lit(1)) * F.col("slr"))
            * F.lit(1.0)
            / (F.sum("ct") + F.lit(DSIR_BUCKETS))
            / F.lit(LOG_SCALE),
            6,
        ).alias("kl_nats"),
    )


# --- hashed n-gram DSIR (the paper's published configuration) ---

# Its OWN persist slot (per-slot cache rule): the unigram family's
# frames must survive a driver that builds unigram and n-gram weight
# frames before collecting either.
_DSIR_NGRAM_GENERATION = GenerationSlot()


def _tok_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, b): one row per hashed FEATURE — every unigram
    plus every ' '-joined bigram, one shared bucket space (Xie et al.
    2023 §3). The token array is staged through a single-element
    explode so the regex split runs once per row, not once per
    HOF-slice reference (CLAUDE.md lambda-subexpression rule)."""
    from ..functions.text import shingles_col

    docs = table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "source", F.explode(F.array(tokens_col("text"))).alias("toks")
    )
    feats = F.concat(F.col("toks"), shingles_col(F.col("toks"), 2))
    return staged.select(
        "doc_id", "source", F.explode(feats).alias("f")
    ).select(
        "doc_id",
        "source",
        (md5_long32(F.col("f")) % DSIR_BUCKETS).alias("b"),
    )


def _frames_ngram(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    return _frames_from_tok(
        spark, _tok_ngram(spark, sf_dir), _DSIR_NGRAM_GENERATION
    )


@register(
    "dsir_weights_ngram",
    oracle=f"""
    WITH {_DSIR_NGRAM_CTES}
    SELECT doc_id, source,
           n_tokens AS n_features, w_scaled,
           round((w_scaled * 1.0 / {LOG_SCALE}) / n_tokens, 6)
             AS avg_logratio
    FROM w
    """,
    doc="DSIR importance weights under the paper's ACTUAL feature "
    "config — hashed n-grams (every unigram plus every bigram, one "
    "shared 1024-bucket space) rather than unigrams only. Shares the "
    "_frames model machinery verbatim: the bucket table stays "
    "B-bounded at ANY corpus size (bigrams add rows to the token "
    "STREAM, never to the model), the log-ratio table broadcasts, the "
    "per-doc fold is order-free scaled-integer nats. Bigram features "
    "capture word-order signal the unigram model cannot (the planted "
    "near-dup corpus separates the two measurably — pinned in "
    "tests/test_dsir.py).",
    tags=["dsir", "llm-pipeline"],
)
def dsir_weights_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, w = _frames_ngram(spark, sf_dir)
    return w.select(
        "doc_id",
        "source",
        F.col("n_tokens").alias("n_features"),
        "w_scaled",
        F.round(
            (F.col("w_scaled") * F.lit(1.0) / F.lit(LOG_SCALE))
            / F.col("n_tokens"),
            6,
        ).alias("avg_logratio"),
    )
