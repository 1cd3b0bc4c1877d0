"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface the reference never had but a 100 TB
corpus needs: token counting, quality scoring, language ID, document
fingerprinting.

The reference's only text processing is letter-run tokenization inside
the MR apps (``mrapps/wc.go:22-26``); these operators keep that exact
tokenizer contract (``functions/text.py``) and extend it. Everything is
JVM-side built-ins — `split` / `regexp_extract_all` / higher-order array
functions — so the hot path stays in whole-stage codegen with zero
Python crossings; every query has a DuckDB oracle.

Scale notes (100 TB): all queries here are embarrassingly parallel
per-document map work — no shuffle at all except the final (tiny)
summaries. On a cluster the scan is the whole cost; column pruning
pushes ``text`` + id only, and the per-doc outputs partition exactly
like the input (no exchange in the plan — verified in
tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import PLANS, GenerationSlot
from ..functions.text import md5_long32, shingles_col, tokens_col
from ..registry import register
from ..sources.tables import table
from .setsim import jaccard, overlap, with_sizes

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the shape GPT-2-style byte-pair pre-splitting produces.
BPE_RE = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]"

# Shared stopword lists (lowercase); the heuristic language-ID scores a
# doc by stopword hits per language. Deterministic tie-break: first
# language in alphabetical order attaining the max; zero hits => 'und'.
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "is", "to"],
    "es": ["el", "la", "de", "que", "los", "es"],
    "fr": ["le", "la", "de", "et", "les", "est"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}
EN_STOP = STOPWORDS["en"]

# Rabin-Karp rolling-hash params (shared engine/oracle; products stay
# far below 2^63: MOD*BASE ~ 2^31 * 2^20 = 2^51).
RK_BASE = 1_000_003
RK_MOD = 2_147_483_647


# One-generation cache for the winnow pair family's shingle frame —
# its OWN slot (not dedup._CACHE_GENERATION): a driver may build a
# dedup frame and a winnow frame before collecting either, and a shared
# slot would let each build unpersist the other's in-flight frame
# (per-slot rule, see cache.py).
_WINNOW_GENERATION = GenerationSlot()


def _stop_hits(tokens: Column, words: list[str]) -> Column:
    """Number of tokens (with multiplicity) in a stopword list."""
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(n_chars AS BIGINT)                                   AS n_chars,
           CAST(len(regexp_extract_all(text, '[\\p{{L}}]+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)       AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)   AS n_bpe_tokens
    FROM documents
    """,
    doc="Per-document token counting, three tokenizers: Unicode "
    "letter-run (the reference contract, mrapps/wc.go:22-26), "
    "whitespace, and a BPE-style pre-tokenizer (letter|digit|symbol "
    "runs). Pure map work — no shuffle; scan prunes to (doc_id, text, "
    "n_chars).",
    tags=["textops"],
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(tokens_col("text")).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOP) + "]"


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             regexp_extract_all(text, '[\\p{{L}}]+') AS toks,
             len(regexp_replace(text, '[^\\p{{L}}]+', '', 'g')) AS n_letter_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round(len(list_filter(toks, t -> list_contains({_EN_STOP_SQL}, t)))
                 * 1.0 / nullif(len(toks), 0), 6)                AS stopword_ratio,
           round(n_letter_chars * 1.0 / nullif(n_chars, 0), 6)   AS alpha_ratio,
           round(n_letter_chars * 1.0 / nullif(len(toks), 0), 6) AS mean_token_len,
           round(0.5 * coalesce(len(list_filter(toks, t ->
                       list_contains({_EN_STOP_SQL}, t)))
                       * 1.0 / nullif(len(toks), 0), 0)
               + 0.3 * least(coalesce(n_letter_chars * 1.0
                       / nullif(len(toks), 0), 0) / 10.0, 1.0)
               + 0.2 * coalesce(n_letter_chars * 1.0
                       / nullif(n_chars, 0), 0), 6)              AS quality
    FROM t
    """,
    doc="Per-document quality scoring: stopword ratio, letter-character "
    "ratio, mean token length, and a weighted composite — the cheap "
    "heuristics a pretraining filter runs before any model-based "
    "scorer. Shuffle-free map work.",
    tags=["textops"],
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n_tok = F.size(toks).cast("long")
    n_letter = F.length(F.regexp_replace("text", r"[^\p{L}]+", ""))
    stop_ratio = _stop_hits(toks, EN_STOP) / F.nullif(n_tok, F.lit(0))
    alpha = n_letter / F.nullif(F.col("n_chars"), F.lit(0))
    mean_len = n_letter / F.nullif(n_tok, F.lit(0))
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha, 6).alias("alpha_ratio"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(
            0.5 * F.coalesce(stop_ratio, F.lit(0.0))
            + 0.3 * F.least(F.coalesce(mean_len, F.lit(0.0)) / 10.0, F.lit(1.0))
            + 0.2 * F.coalesce(alpha, F.lit(0.0)),
            6,
        ).alias("quality"),
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{L}]+') AS toks
      FROM documents
    ),
    sh AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS s
      FROM toks, unnest(range(1, len(toks) - 1)) u(i)
      WHERE len(toks) >= 3
    ),
    counts AS (
      SELECT doc_id, s, count(*) AS c FROM sh GROUP BY 1, 2
    ),
    agg AS (
      SELECT doc_id, sum(c) AS n_shingles, count(*) AS n_distinct,
             max(c) AS top_c
      FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(a.n_distinct, 0) AS BIGINT) AS n_distinct,
           round(CASE WHEN coalesce(a.n_shingles, 0) > 0
                      THEN 1.0 - a.n_distinct * 1.0 / a.n_shingles
                      ELSE 0.0 END, 6) AS rep_ratio,
           round(CASE WHEN coalesce(a.n_shingles, 0) > 0
                      THEN a.top_c * 1.0 / a.n_shingles
                      ELSE 0.0 END, 6) AS top_share
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="Within-document repetition scoring (the Gopher-style filter "
    "signal): fraction of duplicated 3-gram shingles and the share of "
    "the single most frequent shingle. Everything is computed inside "
    "the staged shingle array with higher-order functions — the "
    "explode(array(...)) staging materializes the array once per row, "
    "and the top count is a sort + longest-run fold (O(n log n) per "
    "document, one pass). Zero shuffles: the plan is scan -> "
    "generate -> project, partitioned exactly like the input.",
    tags=["textops"],
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.explode(F.array(shingles_col(tokens_col("text"), 3))).alias("sh"),
    )
    n_sh = F.size("sh")
    n_distinct = F.size(F.array_distinct("sh"))
    # max multiplicity in ONE pass: sort the array, fold a longest-run
    # counter over adjacent equals — O(n log n) per row, replacing the
    # earlier distinct x total scan (quadratic in document length).
    # "" is a safe run-seed: shingles are space-joined non-empty tokens.
    top_c = F.when(
        n_sh > 0,
        F.aggregate(
            F.array_sort("sh"),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.best,
        ),
    ).otherwise(0)
    return staged.select(
        "doc_id",
        n_sh.cast("long").alias("n_shingles"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(
            F.when(n_sh > 0, 1.0 - n_distinct / n_sh).otherwise(0.0), 6
        ).alias("rep_ratio"),
        F.round(
            F.when(n_sh > 0, top_c / n_sh).otherwise(0.0), 6
        ).alias("top_share"),
    )


def _langid_case_sql() -> str:
    langs = sorted(STOPWORDS)
    hits = {
        lang: f"len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        + "], t)))"
        for lang in langs
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    whens = " ".join(
        f"WHEN {hits[lang]} = best THEN '{lang}'" for lang in langs
    )
    return f"""
    WITH t AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '[\\p{{L}}]+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, lang, toks, {best} AS best FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN best = 0 THEN 'und' {whens} END AS pred_lang,
           CAST(best AS BIGINT) AS stop_hits
    FROM scored
    """


@register(
    "text_lang_id",
    oracle=_langid_case_sql(),
    doc="Heuristic language ID: stopword-hit voting over "
    f"{sorted(STOPWORDS)} with deterministic alphabetical tie-break, "
    "'und' when nothing matches. (The synthetic corpus's `lang` label "
    "is random — the oracle checks the mechanism, not label recovery.) "
    "Shuffle-free; the stopword tables are literals (broadcast-free).",
    tags=["textops"],
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens_col(F.lower(F.col("text")))
    langs = sorted(STOPWORDS)
    hit_cols = {lang: _stop_hits(toks, STOPWORDS[lang]) for lang in langs}
    best = F.greatest(*hit_cols.values())
    pred = F.when(best == 0, "und")
    for lang in langs:
        pred = pred.when(hit_cols[lang] == best, lang)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        best.cast("long").alias("stop_hits"),
    )


TFIDF_TOP_K = 3


@register(
    "text_tfidf",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{{L}}]+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term), n
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, tfidf
    FROM ranked WHERE rank <= {TFIDF_TOP_K}
    """,
    doc=f"TF-IDF: top-{TFIDF_TOP_K} most characteristic terms per "
    "document (tf * ln(N/df), rank by rounded score then term). Two "
    "aggregations — term frequencies shuffle on (doc, term), document "
    "frequencies on term; the df table and the scalar N broadcast back "
    "onto the tf rows. The standard corpus-weighting every retrieval/"
    "quality pipeline needs.",
    tags=["textops"],
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # N as a broadcast 1-row aggregate (the oracle's scalar subquery) —
    # no driver-side action, so building this frame launches no job.
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "rank", "tfidf")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' '))
             ELSE [] END AS shingles,
             toks
      FROM t
    )
    SELECT doc_id,
           CAST(len(list_distinct(shingles)) AS BIGINT) AS n_shingles,
           CAST(list_min(list_transform(shingles,
                s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS BIGINT)
                                                        AS min_shingle_hash,
           md5(array_to_string(list_sort(list_distinct(shingles)), '|'))
                                                        AS content_fingerprint,
           CAST(list_reduce(
                 list_prepend(0::BIGINT, list_transform(toks,
                     t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % {RK_MOD})),
                 (a, b) -> (a * {RK_BASE} + b) % {RK_MOD})
                AS BIGINT)                               AS rolling_hash
    FROM sh
    """,
    doc="Document fingerprinting: distinct 3-gram shingle count, the "
    "minimum shingle hash (a 1-perm MinHash), an order-insensitive "
    "content fingerprint (md5 of sorted distinct shingles), and an "
    "order-SENSITIVE Rabin-Karp rolling hash folded over the token "
    "stream ((a*B + h) mod M). All higher-order array built-ins — "
    "shuffle-free.",
    tags=["textops"],
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # Higher-order-function expressions are excluded from Spark's
    # subexpression elimination, so naming toks/shingles in straight
    # projections would re-run the regex tokenization once per lambda
    # reference and re-shingle once per output column. Two single-
    # element explodes route each array through a Generate operator:
    # its output attribute is materialized once per row and shared by
    # every consumer. Still map-only — no exchange.
    tok_staged = docs.select(
        "doc_id",
        F.explode(F.array(tokens_col("text"))).alias("toks"),
    )
    staged = tok_staged.select(
        "doc_id",
        "toks",
        F.explode(
            F.array(F.array_distinct(shingles_col(F.col("toks"), 3)))
        ).alias("sh"),
    )
    return staged.select(
        "doc_id",
        F.size("sh").cast("long").alias("n_shingles"),
        F.array_min(F.transform("sh", md5_long32)).cast("long").alias(
            "min_shingle_hash"
        ),
        F.md5(F.array_join(F.array_sort("sh"), "|")).alias("content_fingerprint"),
        F.aggregate(
            F.transform("toks", lambda t: md5_long32(t) % RK_MOD),
            F.lit(0).cast("long"),
            lambda a, b: (a * RK_BASE + b) % RK_MOD,
        )
        .cast("long")
        .alias("rolling_hash"),
    )


WINNOW_W = 4  # winnowing window: guarantees detection of matches
#               spanning >= WINNOW_W + 3 - 1 + 2 tokens (w + k-gram span)


def _winnow_sel_ctes() -> str:
    """CTE chain ending at ``wsel(doc_id, fp_pos, fp_hash)`` — the
    winnowed fingerprint set, shared by text_winnowing and
    dedup_winnow_pairs."""
    return f"""wt AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ),
    wh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3 THEN
               list_transform(range(1, len(toks) - 1),
                 i -> ('0x' || substr(md5(
                        array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT)
             ELSE [] END AS hs
      FROM wt
    ),
    wins AS (
      SELECT doc_id, i, hs[i:i+{WINNOW_W - 1}] AS win
      FROM wh, unnest(range(1, len(hs) - {WINNOW_W - 2})) u(i)
      WHERE len(hs) >= {WINNOW_W}
    ),
    wsel AS (
      SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(i - 1 + list_position(win, list_min(win)) AS BIGINT)
               AS fp_pos,
             CAST(list_min(win) AS BIGINT) AS fp_hash
      FROM wins
    )"""


@register(
    "text_winnowing",
    oracle=f"""
    WITH {_winnow_sel_ctes()}
    SELECT doc_id, fp_pos, fp_hash FROM wsel
    """,
    doc="Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, "
    "MOSS): from each document's 3-gram hash sequence, every "
    f"{WINNOW_W}-hash window contributes its minimum (leftmost on "
    "ties — a consistent tie-break keeps the per-window guarantee: any "
    "shared run long enough to span a full window shares a selected "
    "fingerprint), distinct (position, hash) pairs kept. The standard "
    "robust alternative to fixed-stride sampling for copy detection: "
    "~2/(w+1) density with a detection GUARANTEE, entirely shuffle-free "
    "map work (the selection is per-row array arithmetic; only the "
    "output rows leave the scan).",
    tags=["textops", "dedup"],
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnow_fingerprints(table(spark, sf_dir, "documents"))


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp_pos, fp_hash): the winnowed fingerprint set of a
    (doc_id, text) frame — see text_winnowing."""
    # stage shingles then their hash array through Generates so the
    # per-window lambda binds an attribute (no per-element re-eval)
    staged = docs.select(
        "doc_id",
        F.explode(F.array(shingles_col(tokens_col("text"), 3))).alias("sh"),
    ).select(
        "doc_id",
        F.explode(F.array(F.transform("sh", md5_long32))).alias("hs"),
    )
    nw = F.size("hs") - (WINNOW_W - 1)

    # Lambda bodies get no subexpression elimination, so bind the
    # window slice (and then its min) ONCE each via single-element
    # transform hops instead of re-evaluating them per use.
    def _fp(i):
        def over_slice(win):
            def over_min(mn):
                return F.struct(
                    (i - 1 + F.array_position(win, mn))
                    .cast("long")
                    .alias("fp_pos"),
                    mn.alias("fp_hash"),
                )

            return F.try_element_at(
                F.transform(F.array(F.array_min(win)), over_min), F.lit(1)
            )

        return F.try_element_at(
            F.transform(F.array(F.slice("hs", i, WINNOW_W)), over_slice),
            F.lit(1),
        )

    sel = F.array_distinct(F.transform(F.sequence(F.lit(1), nw), _fp))
    return (
        staged.where(nw >= 1)
        .select("doc_id", F.explode(sel).alias("fp"))
        .select("doc_id", F.col("fp.fp_pos"), F.col("fp.fp_hash"))
        .distinct()
    )


MIN_SHARED_FP = 2  # candidate gate: fingerprints shared by a pair


def _winnow_pair_ctes() -> str:
    """CTE chain ending at ``cand`` / ``inter`` (plus ``sh``/``sizes``)
    — winnow candidates with exact intersections, shared by the pair
    query and the recall metric."""
    from .dedup import _SHINGLES_CTE

    return f"""{_winnow_sel_ctes()},
    {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(DISTINCT a.fp_hash) AS BIGINT) AS n_shared_fp
      FROM wsel a JOIN wsel b
        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING count(DISTINCT a.fp_hash) >= {MIN_SHARED_FP}
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.n_shared_fp,
             CAST(count(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY 1, 2, 3
    )"""


def _winnow_pairs_oracle() -> str:
    return f"""
    WITH {_winnow_pair_ctes()}
    SELECT doc_a, doc_b, n_shared_fp, n_common,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """


@register(
    "dedup_winnow_pairs",
    oracle=_winnow_pairs_oracle(),
    doc="Winnowing as a CANDIDATE GENERATOR — the fourth sketch family "
    "next to MinHash bands, SimHash chunks, and PPJoin prefixes: pairs "
    f"sharing >= {MIN_SHARED_FP} winnowed fingerprints (an equi-join "
    "on the ~2/(w+1)-density fingerprint index, so the bucket join "
    "touches a fraction of what full posting lists would) are verified "
    "with the exact 3-gram Jaccard RESTRICTED to candidates. The MOSS "
    "guarantee shapes recall: any pair sharing a run spanning a full "
    "window shares a fingerprint. Output keeps every candidate with "
    "its verified overlap, so precision/recall against the exact pair "
    "core is measurable downstream.",
    tags=["dedup", "textops"],
)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _cand, pairs, _sh = _winnow_pair_frames(spark, sf_dir)
    return pairs


def _winnow_pair_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cand, pairs, sh): the pre-verify candidate set, the verified
    pair frame, and the persisted shingle frame they ride — ONE
    generation in the winnow family's OWN slot (per-slot cache rule:
    sharing dedup's slot would let a driver that builds a dedup frame
    and a winnow frame before collecting either unpersist the other's
    in-flight shingle frame), shared by the pair query and the recall
    metric so the exact path reuses the same shingles."""
    from .dedup import _shingle_rows

    docs = table(spark, sf_dir, "documents")
    _WINNOW_GENERATION.evict()
    # the fingerprint chain (per-window slice/min over the hash array,
    # O(n*w) per doc) feeds BOTH sides of the candidate self-join —
    # persist it once instead of running the selection twice (r13,
    # guide §2.4; the frame is the ~2/(w+1)-density fingerprint index,
    # far smaller than the corpus)
    fps = winnow_fingerprints(docs).persist()
    _WINNOW_GENERATION.append(fps)
    cand = (
        fps.select(F.col("doc_id").alias("doc_a"), "fp_hash")
        .join(fps.select(F.col("doc_id").alias("doc_b"), "fp_hash"), "fp_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count_distinct("fp_hash").alias("n_shared_fp"))
        .where(F.col("n_shared_fp") >= MIN_SHARED_FP)
    )
    # Plan-distinguishing tag (r13): dedup-family queries
    # (dedup_containment, dedup_ngram_jaccard, dedup_simhash_tuning)
    # persist the IDENTICAL plain-shingle plan in dedup's generation
    # slot, and Spark's CacheManager dedupes same-plan entries — so a
    # later dedup eviction would silently drop THIS slot's frame (the
    # CLAUDE.md shared-entry trap; exposed by running a dedup build
    # before the winnow build in one session). The no-op extra column
    # keeps the analyzed plans distinct, so each slot owns its entry.
    sh = (
        _shingle_rows(spark, sf_dir)
        .withColumn("_winnow_slot", F.lit(1))
        .drop("_winnow_slot")
        .persist()
    )
    _WINNOW_GENERATION.append(sh)
    pairs = with_sizes(overlap(cand, sh), sh).select(
        "doc_a",
        "doc_b",
        "n_shared_fp",
        F.col("n_common").cast("long").alias("n_common"),
        jaccard().alias("jaccard"),
    )
    return cand, pairs, sh


def _winnow_recall_oracle() -> str:
    from .dedup import JACCARD_THRESHOLD

    return f"""
    WITH {_winnow_pair_ctes()},
    wverified AS (
      SELECT doc_a, doc_b FROM (
        SELECT i.doc_a, i.doc_b,
               round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
      ) WHERE j >= {JACCARD_THRESHOLD}
    ),
    exact_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    true_pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM exact_inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE round(i.n_common * 1.0 / (sa.n + sb.n - i.n_common), 6)
            >= {JACCARD_THRESHOLD}
    )
    SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM wverified) AS BIGINT) AS n_verified,
           CAST((SELECT count(*) FROM true_pairs) AS BIGINT) AS n_true,
           round((SELECT count(*) FROM wverified) * 1.0 /
                 greatest((SELECT count(*) FROM true_pairs), 1), 6)
             AS recall,
           round((SELECT count(*) FROM wverified) * 1.0 /
                 greatest((SELECT count(*) FROM cand), 1), 6)
             AS precision
    """


@register(
    "dedup_winnow_recall",
    oracle=_winnow_recall_oracle(),
    doc="Sketch-quality metric for the winnowing family (the "
    "dedup_lsh_recall / band-tuning pattern): candidate volume, "
    "candidates surviving exact-Jaccard verification at the shared "
    "threshold, the exact ground-truth pair count, and recall/"
    "precision — the tune-w-before-the-full-pass artifact. Verified "
    "pairs are a subset of true pairs by construction (the verifier IS "
    "the exact Jaccard), so recall = |verified| / |true|. The exact "
    "side reuses the lossless prefix-filter pair core; the shingle "
    "frame persists one generation and feeds every path once.",
    tags=["dedup", "metric"],
)
def dedup_winnow_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import JACCARD_THRESHOLD, _jaccard_inter_frame

    cand, pairs, sh = _winnow_pair_frames(spark, sf_dir)
    # candidate volume counts the PRE-verify candidate set (matching
    # the oracle's cand CTE — the verified frame would silently drop a
    # hash-collision pair with zero common shingles)
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    n_ver = pairs.where(F.col("jaccard") >= JACCARD_THRESHOLD).agg(
        F.count("*").alias("n_verified")
    )
    # exact ground truth over the SAME persisted shingle frame (no
    # second eviction/persist cycle)
    n_true = (
        _jaccard_inter_frame(sh)
        .where(jaccard() >= JACCARD_THRESHOLD)
        .agg(F.count("*").alias("n_true"))
    )
    return (
        n_cand.crossJoin(F.broadcast(n_ver))
        .crossJoin(F.broadcast(n_true))
        .select(
            "n_candidates",
            "n_verified",
            "n_true",
            F.round(
                F.col("n_verified")
                / F.greatest(F.col("n_true"), F.lit(1)),
                6,
            ).alias("recall"),
            F.round(
                F.col("n_verified")
                / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("precision"),
        )
    )


# --- the published Gopher quality rules (Rae et al. 2021, A1.1) ---

# Gopher's stop-word presence rule uses this fixed 8-word set.
GOPHER_STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]
_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOP) + "]"


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_extract_all(text, '\\S+') AS words,
             string_split(text, chr(10)) AS lines,
             len(regexp_replace(text, '\\s+', '', 'g')) AS wchars,
             len(text) - len(replace(text, '#', '')) AS n_hash,
             (len(text) - len(replace(text, '...', ''))) // 3 AS n_ell
      FROM documents
    ),
    c AS (
      SELECT doc_id, words, lines, wchars, n_hash, n_ell,
             len(words) AS nw,
             len(lines) AS nl,
             len(list_filter(words, w -> regexp_matches(w, '[\\p{{L}}]')))
               AS n_alpha,
             len(list_filter(lines, l ->
                   starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
                   OR starts_with(ltrim(l), '•'))) AS n_bullet,
             len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
               AS n_ellend,
             len(list_intersect(list_transform(words, w -> lower(w)),
                                {_GOPHER_STOP_SQL})) AS n_stop
      FROM t
    )
    SELECT doc_id,
           CAST(nw AS BIGINT) AS n_words,
           nw BETWEEN 50 AND 100000 AS ok_word_count,
           3 * nw <= wchars AND wchars <= 10 * nw AS ok_mean_word_len,
           10 * (n_hash + n_ell) < nw AS ok_symbol_ratio,
           10 * n_bullet < 9 * nl AS ok_bullet_lines,
           10 * n_ellend < 3 * nl AS ok_ellipsis_lines,
           5 * n_alpha >= 4 * nw AS ok_alpha_words,
           n_stop >= 2 AS ok_stop_words,
           (nw BETWEEN 50 AND 100000)
             AND (3 * nw <= wchars AND wchars <= 10 * nw)
             AND (10 * (n_hash + n_ell) < nw)
             AND (10 * n_bullet < 9 * nl)
             AND (10 * n_ellend < 3 * nl)
             AND (5 * n_alpha >= 4 * nw)
             AND (n_stop >= 2) AS gopher_pass
    FROM c
    """,
    doc="The published Gopher document-quality rules (Rae et al. 2021 "
    "Appendix A1.1) as per-document flags: word count in [50, 1e5], "
    "mean word length in [3, 10], symbol-to-word ratio (# and "
    "ellipsis) < 0.1, < 90% bullet-started lines, < 30% "
    "ellipsis-ended lines, >= 80% words containing a letter, and >= 2 "
    "of the fixed 8 stop words present — plus the conjunction the "
    "pipeline actually gates on. Every rule is EXACT integer "
    "arithmetic (10*symbols < words, 5*alpha >= 4*words, ...): no "
    "ratio double ever enters the hashed output, so both engines "
    "agree bitwise with zero rounding discipline needed. Shuffle-free "
    "map work over the corpus scan — the cheapest gate in the "
    "pipeline, which is why Gopher runs it first.",
    tags=["textops", "llm-pipeline"],
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_flags_frame(table(spark, sf_dir, "documents"))


def gopher_flags_frame(docs: DataFrame, keep: tuple = ()) -> DataFrame:
    """The Gopher rule flags as a pure column transformation — shared
    verbatim by the batch query and the streaming ingest gate
    (streaming/gopher_gate via operators/streaming_queries.py): every
    rule is array/HOF map work with no aggregation, so the SAME frame
    is append-mode-safe on an unbounded stream.

    ``keep`` threads extra input columns through to the output
    unchanged — the composed single-pass ingest stream
    (streaming/ingest_release.py:ingest_release_stream) cannot join
    sibling frames of one stream, so each stage must carry its
    successors' inputs. Kept names must not collide with this frame's
    computed or intermediate columns."""
    reserved = {
        "doc_id", "words", "lines", "wchars", "n_hash", "n_ell",
        "nw", "nl", "n_alpha", "n_bullet", "n_ellend", "n_stop",
        "n_words", "ok_word_count", "ok_mean_word_len",
        "ok_symbol_ratio", "ok_bullet_lines", "ok_ellipsis_lines",
        "ok_alpha_words", "ok_stop_words", "gopher_pass",
    }
    clash = reserved.intersection(keep)
    if clash:
        raise ValueError(
            "gopher_flags_frame keep= collides with computed columns: "
            f"{sorted(clash)}"
        )
    words = F.split(F.col("text"), r"\s+")
    # split() emits a leading/trailing '' for boundary whitespace;
    # drop empties to match regexp_extract_all('\S+') semantics
    words = F.filter(words, lambda w: w != F.lit(""))
    lines = F.split(F.col("text"), r"\n", -1)
    t = docs.select(
        "doc_id",
        *keep,
        words.alias("words"),
        lines.alias("lines"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("wchars"),
        (
            F.length("text") - F.length(F.regexp_replace("text", r"#", ""))
        ).alias("n_hash"),
        (
            (
                F.length("text")
                - F.length(F.replace("text", F.lit("...")))
            )
            / 3
        )
        .cast("long")
        .alias("n_ell"),
    )
    c = t.select(
        "doc_id",
        *keep,
        F.size("words").alias("nw"),
        F.size("lines").alias("nl"),
        "wchars",
        "n_hash",
        "n_ell",
        F.size(
            F.filter(F.col("words"), lambda w: w.rlike(r"[\p{L}]"))
        ).alias("n_alpha"),
        F.size(
            F.filter(
                F.col("lines"),
                lambda l: F.ltrim(l).startswith("-")
                | F.ltrim(l).startswith("*")
                | F.ltrim(l).startswith("•"),
            )
        ).alias("n_bullet"),
        F.size(
            F.filter(F.col("lines"), lambda l: F.rtrim(l).endswith("..."))
        ).alias("n_ellend"),
        F.size(
            F.array_intersect(
                F.transform(F.col("words"), F.lower),
                F.array(*[F.lit(w) for w in GOPHER_STOP]),
            )
        ).alias("n_stop"),
    )
    ok_wc = F.col("nw").between(50, 100000)
    ok_mwl = (F.lit(3) * F.col("nw") <= F.col("wchars")) & (
        F.col("wchars") <= F.lit(10) * F.col("nw")
    )
    ok_sym = F.lit(10) * (F.col("n_hash") + F.col("n_ell")) < F.col("nw")
    ok_bul = F.lit(10) * F.col("n_bullet") < F.lit(9) * F.col("nl")
    ok_ell = F.lit(10) * F.col("n_ellend") < F.lit(3) * F.col("nl")
    ok_alpha = F.lit(5) * F.col("n_alpha") >= F.lit(4) * F.col("nw")
    ok_stop = F.col("n_stop") >= 2
    return c.select(
        "doc_id",
        *keep,
        F.col("nw").cast("long").alias("n_words"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_bul.alias("ok_bullet_lines"),
        ok_ell.alias("ok_ellipsis_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stop_words"),
        (
            ok_wc & ok_mwl & ok_sym & ok_bul & ok_ell & ok_alpha & ok_stop
        ).alias("gopher_pass"),
    )


# Gopher repetition thresholds (Rae et al. 2021, Table A1), as
# (numerator-scale, limit) integer pairs: frac <= limit/100.
_GOPHER_TOP_LIMITS = {2: 20, 3: 18, 4: 16}
_GOPHER_DUP_LIMITS = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}


def _gopher_rep_oracle() -> str:
    top_in = ", ".join(str(k) for k in _GOPHER_TOP_LIMITS)
    dup_min = min(_GOPHER_DUP_LIMITS)
    ks = ", ".join(str(k) for k in [*_GOPHER_TOP_LIMITS, *_GOPHER_DUP_LIMITS])
    top_cols = ", ".join(
        f"max(CASE WHEN k = {k} THEN cov END) AS cov{k}"
        for k in _GOPHER_TOP_LIMITS
    )
    dup_cols = ", ".join(
        f"max(CASE WHEN k = {k} THEN cov END) AS cov{k}"
        for k in _GOPHER_DUP_LIMITS
    )
    top_flags = "\n".join(
        f",           100 * coalesce(t.cov{k}, 0) <= {lim} * coalesce(den.den, 0)"
        f" AS ok_top{k}gram_chars"
        for k, lim in _GOPHER_TOP_LIMITS.items()
    )
    dup_flags = "\n".join(
        f",           100 * coalesce(dc.cov{k}, 0) <= {lim} * coalesce(den.den, 0)"
        f" AS ok_dup{k}gram_chars"
        for k, lim in _GOPHER_DUP_LIMITS.items()
    )
    all_terms = " AND ".join(
        ["10 * (la.nl - la.dl) <= 3 * la.nl",
         "10 * (pa.np - pa.dp) <= 3 * pa.np",
         "10 * ld.dup_chars <= 2 * la.lc",
         "10 * pd.dup_chars <= 2 * pa.pc"]
        + [f"100 * coalesce(t.cov{k}, 0) <= {lim} * coalesce(den.den, 0)"
           for k, lim in _GOPHER_TOP_LIMITS.items()]
        + [f"100 * coalesce(dc.cov{k}, 0) <= {lim} * coalesce(den.den, 0)"
           for k, lim in _GOPHER_DUP_LIMITS.items()]
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents
    ),
    tl AS (
      SELECT doc_id, i - 1 AS p, len(toks[i]) AS wl
      FROM toks, unnest(range(1, len(toks) + 1)) u(i)
    ),
    den AS (SELECT doc_id, sum(wl) AS den FROM tl GROUP BY 1),
    grams AS (
      SELECT doc_id, k, i - 1 AS pos,
             array_to_string(toks[i:i+k-1], ' ') AS g
      FROM toks,
           unnest([{ks}]) kk(k),
           unnest(range(1, len(toks) - k + 2)) u(i)
      WHERE len(toks) >= k
    ),
    gc AS (SELECT doc_id, k, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
    topk AS (
      SELECT doc_id, k, c * len(replace(g, ' ', '')) AS cov
      FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, k
                                         ORDER BY c DESC, g) AS rn
            FROM gc WHERE k IN ({top_in}))
      WHERE rn = 1
    ),
    tp AS (SELECT doc_id, {top_cols} FROM topk GROUP BY doc_id),
    dpos AS (
      SELECT DISTINCT gr.doc_id, gr.k, p
      FROM grams gr
      JOIN gc ON gc.doc_id = gr.doc_id AND gc.k = gr.k AND gc.g = gr.g,
           unnest(range(gr.pos, gr.pos + gr.k)) u(p)
      WHERE gc.c > 1 AND gr.k >= {dup_min}
    ),
    dcov AS (
      SELECT d.doc_id, d.k, sum(tl.wl) AS cov
      FROM dpos d JOIN tl ON tl.doc_id = d.doc_id AND tl.p = d.p
      GROUP BY 1, 2
    ),
    dc AS (SELECT doc_id, {dup_cols} FROM dcov GROUP BY doc_id),
    ln AS (
      SELECT doc_id, x FROM
      (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
      unnest(ls) t(x)
    ),
    la AS (SELECT doc_id, count(*) AS nl, count(DISTINCT x) AS dl,
                  sum(len(x)) AS lc
           FROM ln GROUP BY 1),
    ld AS (SELECT doc_id, sum((c - 1) * len(x)) AS dup_chars
           FROM (SELECT doc_id, x, count(*) AS c FROM ln GROUP BY 1, 2)
           GROUP BY 1),
    pn AS (
      SELECT doc_id, x FROM
      (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
       FROM documents),
      unnest(ps) t(x)
    ),
    pa AS (SELECT doc_id, count(*) AS np, count(DISTINCT x) AS dp,
                  sum(len(x)) AS pc
           FROM pn GROUP BY 1),
    pd AS (SELECT doc_id, sum((c - 1) * len(x)) AS dup_chars
           FROM (SELECT doc_id, x, count(*) AS c FROM pn GROUP BY 1, 2)
           GROUP BY 1)
    SELECT d.doc_id,
           10 * (la.nl - la.dl) <= 3 * la.nl AS ok_dup_line_frac,
           10 * (pa.np - pa.dp) <= 3 * pa.np AS ok_dup_para_frac,
           10 * ld.dup_chars <= 2 * la.lc AS ok_dup_line_chars,
           10 * pd.dup_chars <= 2 * pa.pc AS ok_dup_para_chars
           {top_flags}
           {dup_flags},
           {all_terms} AS rep_pass
    FROM documents d
    JOIN la USING (doc_id) JOIN ld USING (doc_id)
    JOIN pa USING (doc_id) JOIN pd USING (doc_id)
    LEFT JOIN den USING (doc_id)
    LEFT JOIN tp t USING (doc_id)
    LEFT JOIN dc USING (doc_id)
    """


@register(
    "gopher_repetition_flags",
    oracle=_gopher_rep_oracle(),
    doc="The OTHER half of the published Gopher filter (Rae et al. "
    "2021, Table A1) — the repetition rules: duplicate line/paragraph "
    "fractions (<= 0.30), duplicate line/paragraph CHARACTER "
    "fractions (<= 0.20), the top-{2,3,4}-gram character fraction "
    "(<= .20/.18/.16, most-frequent gram by (count, gram) "
    "tie-break), and the duplicated-{5..10}-gram character fraction "
    "(<= .15/.14/.13/.12/.11/.10) under POSITION-COVERAGE semantics: "
    "a token's characters count once when ANY duplicated k-gram "
    "covers its position — the overlap-correct published definition, "
    "not the multiplicity sum that can exceed 1. Every rule is exact "
    "integer arithmetic (100*covered <= limit*total), so no ratio "
    "double enters the hashed output. Every statistic is a function "
    "of ONE document, so the whole query is map-only — ZERO "
    "exchanges, the embarrassingly-parallel shape a per-document "
    "filter should have at 100 TB (plan-asserted in test_plans.py). "
    "Per row: each gram width's (gram, pos) structs are array_sorted "
    "so equal grams are adjacent; a gram is duplicated iff it equals "
    "a sorted neighbor (an O(1) index probe, never a count groupBy), "
    "and the duplicated occurrences' re-sorted start positions feed "
    "the interval-union coverage fold against the doc's token-length "
    "array. The top-k-gram argmax and the line/paragraph "
    "distinct/duplicate stats are single O(units) folds over the "
    "same sorted arrays — run-length walks with scalar accumulators. "
    "Shared HOF-derived arrays are staged through explode(array(...)) "
    "Generates (lambda bodies are excluded from subexpression "
    "elimination), so tokenization and each sort run once per doc.",
    tags=["textops", "llm-pipeline"],
)
def gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:

    def _build() -> DataFrame:
        docs = table(spark, sf_dir, "documents")
        # Map-only work parallelizes by INPUT SPLITS; a small local
        # corpus is one unsplittable row group = one core for every
        # per-doc fold. Rescue the degenerate case with one
        # cardinality-preserving round-robin exchange of the raw
        # (doc_id, text) rows — trivial bytes here, and on a cluster
        # (where scans have thousands of splits) the condition never
        # fires, keeping the plan exchange-free.
        par = spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() * 2 < par:
            docs = docs.repartition(par)
        return gopher_repetition_frame(docs)

    # ~70% of this query's per-invocation wall time is py4j plan
    # CONSTRUCTION (1.8 s build vs 0.7 s exec at sf0.1) — memoized per
    # (app, dataset); every action over the cached frame re-executes
    # the full fold work honestly (cache.py rationale).
    return PLANS.get_or_build(spark, "gopher_repetition_flags", sf_dir, _build)


_GOPHER_REP_RESERVED = frozenset(
    ["doc_id", "toks", "lsort", "psort", "u", "st", "wls"]
    + [f"tg{k}" for k in _GOPHER_TOP_LIMITS]
    + [f"sg{k}" for k in _GOPHER_DUP_LIMITS]
    + ["nl", "dl", "lc", "ldup", "np", "dp", "pc", "pdup", "den"]
    + [f"cov{k}" for k in [*_GOPHER_TOP_LIMITS, *_GOPHER_DUP_LIMITS]]
    + ["rep_pass"]
    + [
        f"ok_top{k}gram_chars" for k in _GOPHER_TOP_LIMITS
    ]
    + [f"ok_dup{k}gram_chars" for k in _GOPHER_DUP_LIMITS]
    + [
        "ok_dup_line_frac",
        "ok_dup_para_frac",
        "ok_dup_line_chars",
        "ok_dup_para_chars",
    ]
)


def gopher_repetition_frame(
    docs: DataFrame, keep: tuple[str, ...] = (), toks: str | None = None
) -> DataFrame:
    """The Gopher repetition rule vector over a ``(doc_id, text)``
    frame — pure stateless column work, so the same builder serves the
    batch query and the ingest stream (``stream_gopher_repetition``),
    and composed pipelines chain it (``streaming/ingest_release.py``)
    with successors' input columns carried through ``keep``.

    ``toks`` names an ALREADY-MATERIALIZED token-array attribute
    (``functions.text.tokens_col`` semantics) to use instead of
    re-tokenizing ``text`` — the composed ingest stages tokenization
    once at the head of its chain and every stage binds the attribute
    (lambda-derived arrays are excluded from subexpression
    elimination, so without this each stage re-tokenizes per doc).

    Timing note: measure this frame with a noop WRITE, never
    ``count()`` — nested-column pruning strips the unreferenced struct
    fields out of the staging Generates under a count, silently
    skipping most of the fold work (a count 'converges' ~3x faster
    than the honest full execution).
    """
    clash = set(keep) & _GOPHER_REP_RESERVED
    if clash:
        raise ValueError(
            f"keep columns collide with computed/intermediate names: "
            f"{sorted(clash)}"
        )
    if toks is not None and toks in _GOPHER_REP_RESERVED:
        raise ValueError(
            f"toks attribute name collides with a computed name: {toks}"
        )
    # Stage 1 (one Generate): tokenization + unit splits, each computed
    # once per doc. Sorted unit arrays replace the (doc, unit) count
    # shuffle: run lengths in a sorted array ARE the per-unit counts.
    # A pre-tokenized attribute skips the tokenize (it is already a
    # plain attribute read — no staging needed).
    s1 = docs.select(
        "doc_id",
        *keep,
        *([F.col(toks).alias("toks")] if toks is not None else []),
        F.explode(
            F.array(
                F.struct(
                    *(
                        []
                        if toks is not None
                        else [tokens_col("text").alias("toks")]
                    ),
                    F.array_sort(F.split("text", r"\n", -1)).alias("lsort"),
                    F.array_sort(F.split("text", r"\n\n", -1)).alias(
                        "psort"
                    ),
                )
            )
        ).alias("u"),
    ).select(
        "doc_id",
        *keep,
        *(["toks"] if toks is not None else ["u.toks"]),
        "u.lsort",
        "u.psort",
    )

    def _gram_pos_sorted(k: int) -> Column:
        # (gram, pos) structs sorted by (gram, pos): equal grams become
        # adjacent runs, positions ascending within a run.
        return F.array_sort(
            F.transform(
                shingles_col(F.col("toks"), k),
                lambda g, i: F.struct(g.alias("g"), i.cast("int").alias("pos")),
            )
        )

    # Stage 2 (one Generate): every shared HOF-derived array
    # materialized once — token lengths plus the nine sorted gram
    # arrays the folds below read repeatedly. (An alternative staging
    # that builds each width from the previous one behind its own
    # Generate measures identically under honest noop-write timing —
    # one Generate is simply the smaller plan.)
    s2b = s1.select(
        "doc_id",
        *keep,
        "lsort",
        "psort",
        F.explode(
            F.array(
                F.struct(
                    F.transform("toks", F.length).alias("wls"),
                    *[
                        F.array_sort(
                            shingles_col(F.col("toks"), k)
                        ).alias(f"tg{k}")
                        for k in _GOPHER_TOP_LIMITS
                    ],
                    *[
                        _gram_pos_sorted(k).alias(f"sg{k}")
                        for k in _GOPHER_DUP_LIMITS
                    ],
                )
            )
        ).alias("u"),
    ).select(
        "doc_id",
        *keep,
        "lsort",
        "psort",
        "u.wls",
        *[F.col(f"u.tg{k}").alias(f"tg{k}") for k in _GOPHER_TOP_LIMITS],
        *[F.col(f"u.sg{k}").alias(f"sg{k}") for k in _GOPHER_DUP_LIMITS],
    )

    long0 = F.lit(0).cast("bigint")
    nulls = F.lit(None).cast("string")

    def _run_better(acc) -> Column:
        # does the just-closed run (acc.prev x acc.run) beat the best
        # under (count DESC, gram ASC)?
        return acc["prev"].isNotNull() & (
            (acc["run"] > acc["bc"])
            | (
                (acc["run"] == acc["bc"])
                & (acc["bg"].isNull() | (acc["prev"] < acc["bg"]))
            )
        )

    def _top_cov(col: str) -> Column:
        # argmax over runs of the sorted gram array: most-frequent gram
        # by (count DESC, gram ASC), cov = count * non-space chars.
        def step(acc, g):
            same = acc["prev"].isNotNull() & (g == acc["prev"])
            better = ~same & _run_better(acc)
            return F.struct(
                g.alias("prev"),
                F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
                F.when(better, acc["run"]).otherwise(acc["bc"]).alias("bc"),
                F.when(better, acc["prev"]).otherwise(acc["bg"]).alias("bg"),
            )

        def finish(acc):
            better = _run_better(acc)
            bc = F.when(better, acc["run"]).otherwise(acc["bc"])
            bg = F.when(better, acc["prev"]).otherwise(acc["bg"])
            return F.coalesce(
                bc
                * F.length(F.regexp_replace(bg, " ", "")).cast("bigint"),
                long0,
            )

        acc0 = F.struct(
            nulls.alias("prev"),
            long0.alias("run"),
            long0.alias("bc"),
            nulls.alias("bg"),
        )
        return F.aggregate(col, acc0, step, finish)

    def _cov_fold(starts: Column, k: int) -> Column:
        # Interval-union coverage: starts are sorted distinct ints with
        # a shared k, so each new segment is [max(s, last), s + k) and
        # s + k is the running max reach; its token chars come from a
        # bounded slice of the staged token-length array.
        def step(acc, s):
            lo = F.greatest(s, acc["last"])
            hi = s + F.lit(k)
            seg = F.aggregate(
                F.slice(F.col("wls"), lo + F.lit(1), hi - lo),
                long0,
                lambda a, x: a + x,
            )
            return F.struct(
                (acc["cov"] + seg).alias("cov"), hi.alias("last")
            )

        zero = F.struct(
            long0.alias("cov"), F.lit(0).cast("int").alias("last")
        )
        return F.aggregate(starts, zero, step, lambda acc: acc["cov"])

    def _dup_cov(k: int) -> Column:
        # A gram is duplicated iff it equals a neighbor in the sorted
        # array — an O(1) probe per element against the staged column
        # (1-indexed: prev of 0-based i is element i, next is i + 2;
        # nullif/overflow make the boundary probes NULL -> not kept).
        sg = F.col(f"sg{k}")

        def is_dup(s, i):
            prev = F.try_element_at(sg, F.nullif(i, F.lit(0)))
            nxt = F.try_element_at(sg, i + F.lit(2))
            return (s["g"] == prev["g"]) | (s["g"] == nxt["g"])

        starts = F.array_sort(
            F.transform(F.filter(sg, is_dup), lambda s: s["pos"])
        )
        return _cov_fold(starts, k)

    def _unit_fold(col: str):
        # one O(units) walk over the sorted unit array: run lengths are
        # per-unit counts, so distinct units and duplicated chars
        # ((count-1) * len per distinct unit) fall out of run closes.
        def step(acc, x):
            same = acc["prev"].isNotNull() & (x == acc["prev"])
            closed_dup = F.when(
                acc["prev"].isNotNull(),
                (acc["run"] - 1) * F.length(acc["prev"]).cast("bigint"),
            ).otherwise(long0)
            return F.struct(
                x.alias("prev"),
                F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("bigint")).alias("run"),
                F.when(same, acc["d"]).otherwise(acc["d"] + 1).alias("d"),
                F.when(same, acc["dup"]).otherwise(
                    acc["dup"] + closed_dup
                ).alias("dup"),
            )

        def finish(acc):
            tail = F.when(
                acc["prev"].isNotNull(),
                (acc["run"] - 1) * F.length(acc["prev"]).cast("bigint"),
            ).otherwise(long0)
            return F.struct(
                acc["d"].alias("d"), (acc["dup"] + tail).alias("dup")
            )

        acc0 = F.struct(
            nulls.alias("prev"),
            long0.alias("run"),
            long0.alias("d"),
            long0.alias("dup"),
        )
        return F.aggregate(col, acc0, step, finish)

    def _chars(col: str) -> Column:
        return F.aggregate(
            col, long0, lambda a, x: a + F.length(x).cast("bigint")
        )

    # Stage 3 (one Generate): EVERY per-doc statistic staged behind a
    # Generate before the flag layer. The flag expressions below each
    # appear twice (as an output column and inside rep_pass), and
    # project collapse would re-inline — and so re-run — each fold per
    # reference; behind the Generate they are plain attribute reads.
    out = s2b.select(
        "doc_id",
        *keep,
        F.explode(
            F.array(
                F.struct(
                    F.struct(
                        F.size("lsort").cast("bigint").alias("n"),
                        _chars("lsort").alias("c"),
                        _unit_fold("lsort").alias("f"),
                    ).alias("l"),
                    F.struct(
                        F.size("psort").cast("bigint").alias("n"),
                        _chars("psort").alias("c"),
                        _unit_fold("psort").alias("f"),
                    ).alias("p"),
                    F.aggregate(
                        "wls", long0, lambda a, x: a + x
                    ).alias("den"),
                    *[
                        _top_cov(f"tg{k}").alias(f"cov{k}")
                        for k in _GOPHER_TOP_LIMITS
                    ],
                    *[
                        _dup_cov(k).alias(f"cov{k}")
                        for k in _GOPHER_DUP_LIMITS
                    ],
                )
            )
        ).alias("st"),
    ).select(
        "doc_id",
        *keep,
        F.col("st.l.n").alias("nl"),
        F.col("st.l.f.d").alias("dl"),
        F.col("st.l.c").alias("lc"),
        F.col("st.l.f.dup").alias("ldup"),
        F.col("st.p.n").alias("np"),
        F.col("st.p.f.d").alias("dp"),
        F.col("st.p.c").alias("pc"),
        F.col("st.p.f.dup").alias("pdup"),
        F.col("st.den").alias("den"),
        *[
            F.col(f"st.cov{k}").alias(f"cov{k}")
            for k in [*_GOPHER_TOP_LIMITS, *_GOPHER_DUP_LIMITS]
        ],
    )
    flags = {
        "ok_dup_line_frac": F.lit(10) * (F.col("nl") - F.col("dl"))
        <= F.lit(3) * F.col("nl"),
        "ok_dup_para_frac": F.lit(10) * (F.col("np") - F.col("dp"))
        <= F.lit(3) * F.col("np"),
        "ok_dup_line_chars": F.lit(10) * F.col("ldup")
        <= F.lit(2) * F.col("lc"),
        "ok_dup_para_chars": F.lit(10) * F.col("pdup")
        <= F.lit(2) * F.col("pc"),
    }
    den0 = F.coalesce(F.col("den"), F.lit(0))
    for k, lim in _GOPHER_TOP_LIMITS.items():
        flags[f"ok_top{k}gram_chars"] = (
            F.lit(100) * F.coalesce(F.col(f"cov{k}"), F.lit(0))
            <= F.lit(lim) * den0
        )
    for k, lim in _GOPHER_DUP_LIMITS.items():
        flags[f"ok_dup{k}gram_chars"] = (
            F.lit(100) * F.coalesce(F.col(f"cov{k}"), F.lit(0))
            <= F.lit(lim) * den0
        )
    rep_pass = None
    for expr in flags.values():
        rep_pass = expr if rep_pass is None else (rep_pass & expr)
    return out.select(
        "doc_id",
        *keep,
        *[expr.alias(name) for name, expr in flags.items()],
        rep_pass.alias("rep_pass"),
    )


# --- BM25 lexical retrieval (Robertson-Sparck Jones / Lucene form) ---

BM25_QUERY = ["hash", "join", "scan", "merge"]
BM25_K1 = "1.2"  # spelled as SQL-literal strings so both engines
BM25_B_NUM = "0.75"  # parse the identical DOUBLE constants
BM25_TOP = 20
_BM25_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in BM25_QUERY) + "]"


@register(
    "bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{{L}}]+')) AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*) AS nd, avg(CAST(dl AS DOUBLE)) AS avgdl
              FROM dl),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM tok
      WHERE list_contains({_BM25_TERMS_SQL}, w) GROUP BY 1, 2
    ),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    idf AS (
      SELECT w,
             CAST(round(ln((CAST(nd - df AS DOUBLE) + (0.5::DOUBLE))
                           / (CAST(df AS DOUBLE) + (0.5::DOUBLE))
                           + (1.0::DOUBLE)) * 1e9) AS BIGINT) AS idf_s
      FROM df, stats
    ),
    contrib AS (
      SELECT tf.doc_id, tf.w,
             CAST(round(CAST(i.idf_s AS DOUBLE)
                        * ((CAST(tf.tf AS DOUBLE) * (2.2::DOUBLE))
                           / (CAST(tf.tf AS DOUBLE)
                              + ({BM25_K1}::DOUBLE)
                                * ((0.25::DOUBLE)
                                   + ({BM25_B_NUM}::DOUBLE)
                                     * (CAST(d.dl AS DOUBLE) / s.avgdl))))
                        / (1000.0::DOUBLE)) AS BIGINT) AS c
      FROM tf JOIN idf i USING (w) JOIN dl d USING (doc_id), stats s
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS score_scaled,
           CAST(count(*) AS BIGINT) AS n_terms_matched
    FROM contrib
    GROUP BY doc_id
    ORDER BY score_scaled DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    doc=f"BM25 lexical retrieval: top-{BM25_TOP} documents for the "
    f"fixed query {BM25_QUERY} under the Lucene-form scoring "
    "idf = ln((N-df+0.5)/(df+0.5)+1), "
    "tf_part = tf*(k1+1)/(tf + k1*(1-b+b*dl/avgdl)), k1=1.2 b=0.75. "
    "The lexical complement of the ANN family: the engine can now "
    "rank by sparse term match as well as dense cosine. Exactness: "
    "idf snaps to the 1e9 integer grid (absorbing libm-vs-JVM ln "
    "drift); each term's contribution is one identical IEEE "
    "double tree rounded to a 1e6-scaled BIGINT, so the per-doc sum "
    "is order-free integer addition. Scale: tf touches only "
    "query-term postings (the WHERE is pushed into the token "
    "stream), df/idf are |query|-row broadcasts, doc lengths ride "
    "one corpus-wide count, and the final top-k is "
    "TakeOrderedAndProject — per-partition heaps, never a global "
    "sort.",
    tags=["textops", "llm-pipeline", "topk"],
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col("text")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("nd"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    tf = (
        tok.where(F.col("w").isin(BM25_QUERY))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    # idf built exactly as the oracle's IEEE tree
    idf = (
        df.crossJoin(F.broadcast(stats))
        .select(
            "w",
            F.round(
                F.log(
                    ((F.col("nd") - F.col("df")).cast("double") + F.lit(0.5))
                    / (F.col("df").cast("double") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * F.lit(1e9)
            )
            .cast("long")
            .alias("idf_s"),
        )
    )
    ratio = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(float(BM25_K1))
        * (
            F.lit(0.25)
            + F.lit(float(BM25_B_NUM))
            * (F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            F.round(F.col("idf_s").cast("double") * ratio / F.lit(1000.0))
            .cast("long")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.sum("c").alias("score_scaled"),
            F.count("*").alias("n_terms_matched"),
        )
        .orderBy(F.col("score_scaled").desc(), F.col("doc_id").asc())
        .limit(BM25_TOP)
    )


# --- cross-document line-level boilerplate scrub (RefinedWeb/C4) ---

BOILER_LINE_DF = 3  # a line present in >= this many docs is boilerplate


@register(
    "boilerplate_line_scrub",
    oracle=f"""
    WITH ls AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
    ),
    ln AS (
      SELECT doc_id, i - 1 AS pos, ls[i] AS l
      FROM ls, unnest(range(1, len(ls) + 1)) u(i)
    ),
    hot AS (
      SELECT l FROM ln GROUP BY l
      HAVING count(DISTINCT doc_id) >= {BOILER_LINE_DF}
    ),
    kept AS (
      SELECT ln.doc_id, ln.pos, ln.l
      FROM ln LEFT JOIN hot ON hot.l = ln.l
      WHERE hot.l IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(coalesce(string_agg(l, chr(10) ORDER BY pos), ''))
               AS kept_md5
      FROM kept GROUP BY 1
    ),
    tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1)
    SELECT t.doc_id,
           CAST(t.n_lines AS BIGINT) AS n_lines,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept_lines,
           CAST(t.n_lines - coalesce(a.n_kept, 0) AS BIGINT)
             AS n_removed_lines,
           coalesce(a.kept_md5, md5('')) AS kept_md5
    FROM tot t LEFT JOIN agg a USING (doc_id)
    """,
    doc="Cross-document line-level boilerplate removal (the "
    "RefinedWeb/C4 stage): any line occurring in >= 3 distinct "
    "documents (nav bars, cookie banners, footers) is dropped from "
    "EVERY document; each doc reports its kept/removed line counts "
    "and the md5 of its kept text (original line order preserved via "
    "collect-struct(pos) -> array_sort -> join, the order-sensitive "
    "aggregation discipline) — the digest proves the byte-exact "
    "scrub. Scale: the line-df table is one explode + groupBy; the "
    "hot set is bounded by boilerplate volume (and would swap for "
    "the Misra-Gries heavy-hitter pass of boilerplate_ngrams at "
    "extreme line cardinality); the scrub join is hot-set-restricted.",
    tags=["textops", "dedup", "llm-pipeline"],
)
def boilerplate_line_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ln = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), r"\n", -1)).alias("pos", "l"),
    )
    hot = (
        ln.groupBy("l")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= BOILER_LINE_DF)
        .select("l")
    )
    kept = ln.join(F.broadcast(hot), "l", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "l"))
                    ),
                    lambda x: x["l"],
                ),
                "\n",
            )
        ).alias("kept_md5"),
    )
    tot = ln.groupBy("doc_id").agg(F.count("*").alias("n_lines"))
    return tot.join(agg, "doc_id", "left").select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept_lines"),
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed_lines"),
        F.coalesce(F.col("kept_md5"), F.md5(F.lit(""))).alias("kept_md5"),
    )
