"""BPE merge learning — the tokenizer-training artifact of an LLM data
pipeline, as exact relational dataflow.

Byte-pair encoding training (Sennrich et al. 2016; the procedure behind
GPT-2/RoBERTa vocabularies) is usually presented as an in-memory loop;
its data-parallel shape is the same one ``lm_kn_bigrams`` uses: the only
corpus-sized work is ONE token count (explode + two-level groupBy with
map-side combine), and every training iteration runs on the *word
table* — |vocab| rows — which is tiny even when the corpus is 100 TB.
Per iteration:

1. adjacent symbol pairs per word, weighted by word frequency — a
   vocab-sized explode;
2. the argmax pair by (total frequency DESC, pair ASC) — ONE
   vocab-bounded row, TakeOrdered then collected as the round's scalar
   probe (the dedup_clusters convergence-count precedent: per-round
   driver probes are inherent to sequentially-dependent iterations and
   bounded by the rank count);
3. apply the merge to every word's symbol string as string literals —
   keeping every plan LINEAR in the rank (a join-based application
   embeds each round's subtree twice in the next, 2^N plan blowup).

Step 3 is where naive formulations go quadratic or nondeterministic.
BPE replaces NON-OVERLAPPING occurrences left-to-right ("a a a" with
merge (a,a) -> "aa a"); that is exactly the semantics of SQL
``replace()`` when symbols are encoded as a spaced string with the
invariant *every symbol carries its own leading and trailing space*
(``"abc"`` -> ``' a  b  c '``): the pattern ``' l  r '`` consumes both
symbols' inner spaces, the replacement ``' lr '`` restores the
invariant, and the scan resumes after the replacement — matching BPE's
left-to-right non-overlap rule. Both engines implement ``replace`` with
those semantics, so every iteration is bitwise reproducible and the
whole merge table is hash-checked against the DuckDB oracle (the
unrolled-CTE pattern ``_lloyd_ctes`` established for trained IVF).

Ties in pair frequency break by pair lexicographic order — a total
order, so the learned table is deterministic under any partitioning.

Reference parity: the reference's app surface is token-count-shaped
(``mrapps/wc.go``); this is the §7 training-data extension that turns
the same letter-run token stream into a tokenizer artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import ARTIFACTS, GenerationSlot
from ..functions.text import tokens_col
from ..registry import register
from ..sources.tables import table

BPE_MERGES = 6  # learned merge ranks (unrolled identically in the oracle)

# one-generation cache (dedup.py policy): the word table and each
# iteration's 1-row argmax / vocab-sized symbol table have multiple
# consumers (next iteration + the output union); without persist each
# consumer re-plans its whole subtree — the corpus count would run once
# per 2^iteration branch instead of once.
_CACHE_GENERATION = GenerationSlot()


def _persist(df: DataFrame) -> DataFrame:
    return _CACHE_GENERATION.adopt(df.persist())


def _syms_col():
    return F.filter(F.split("s", " +"), lambda t: t != F.lit(""))


# The merge table is an INDEX — a build-once tokenizer artifact (on a
# cluster it ships with the training run and is reused until the corpus
# changes) — so, like the trained IVF centroids, the final frames are
# an ARTIFACTS entry OUTSIDE the one-generation cache. The win is
# driver-side as much as executor-side: the N-iteration lineage costs
# seconds of Catalyst analysis per rebuild, which the memo pays once.


def _artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(merges, w_final): the learned merge table (merge_rank, l, r,
    merged, pair_freq) and the final per-word symbol table, memoized."""
    return ARTIFACTS.get_or_build(
        spark, "bpe", sf_dir, lambda: _train(spark, sf_dir)
    )


def _train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    learned, w = merge_chain_from(table(spark, sf_dir, "documents"))
    merges = spark.createDataFrame(
        [
            (i, left, right, left + right, freq)
            for i, (left, right, freq) in (
                (i, m) for i, m in enumerate(learned, start=1) if m
            )
        ],
        "merge_rank long, l string, r string, merged string, pair_freq long",
    )
    w = w.persist()  # final artifact: outside generation eviction
    # Materialize NOW: w's lineage roots at w0 inside the evictable
    # generation cache — a later merge_chain_from call (another sf_dir,
    # or a direct call) evicts w0, and an unmaterialized memo would then
    # recompute the whole corpus chain on its next consumer action.
    w.count()
    return merges, w


def pair_argmax_frame(w: DataFrame) -> DataFrame:
    """The 1-row (l, r, pair_freq) frequency argmax over the adjacent
    symbol pairs of word table ``w`` — a TakeOrdered over a vocab-sized
    explode, never a global sort."""
    syms = _syms_col()
    m = F.size(syms) - 1
    pairs = F.when(
        m > 0,
        F.zip_with(
            F.slice(syms, 1, F.greatest(m, F.lit(0))),
            F.slice(syms, 2, F.greatest(m, F.lit(0))),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        w.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("pair_freq"))
        .orderBy(F.desc("pair_freq"), "l", "r")
        .limit(1)
    )


def merge_chain_from(
    docs: DataFrame,
) -> tuple[list[tuple[str, str, int] | None], DataFrame]:
    """([merge_1..merge_N], w_N): the learned merges as (l, r,
    pair_freq) tuples (None once pairs are exhausted) and the final
    per-word symbol table.

    Each rank's argmax is ONE vocab-bounded row, collected to the
    driver and applied to the symbol strings as string LITERALS — the
    per-round scalar probe that iterative operators in this repo
    already use (dedup_clusters' convergence counts): inherent to the
    sequential dependency, bounded by the rank count, and it keeps
    every plan LINEAR. The earlier broadcast-join formulation embedded
    each iteration's subtree twice in the next plan — 2^N copies of
    the base subtree by rank N, which cost the driver seconds of plan
    bookkeeping per action even when every frame was cached.

    A corpus that runs out of distinct pairs before rank N yields None
    from that rank on and EMPTIES the word table (mirroring the
    oracle's cross join with an empty m_i CTE — its w_i CTEs are empty
    from that rank too); real corpora never get close (rank N needs
    only N distinct adjacent pairs).
    """
    _CACHE_GENERATION.evict()
    w = _persist(
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            "word",
            "freq",
            F.regexp_replace("word", "(.)", " $1 ").alias("s"),
        )
    )
    merges: list[tuple[str, str, int] | None] = []
    for _ in range(BPE_MERGES):
        got = pair_argmax_frame(w).collect()
        if not got:
            merges.append(None)
            w = w.limit(0)
            continue
        left, right, freq = got[0].l, got[0].r, int(got[0].pair_freq)
        merges.append((left, right, freq))
        w = w.select(
            "word",
            "freq",
            F.replace(
                F.col("s"),
                F.lit(f" {left}  {right} "),
                F.lit(f" {left}{right} "),
            ).alias("s"),
        )
    return merges, w


def _w0_cte() -> str:
    return r"""
  w0 AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           regexp_replace(word, '(.)', ' \1 ', 'g') AS s
    FROM (
      SELECT unnest(regexp_extract_all(text, '[\p{L}]+')) AS word
      FROM documents
    )
    GROUP BY word
  )
"""


def _iter_ctes(n: int) -> str:
    parts = []
    for i in range(1, n + 1):
        parts.append(f"""
  p{i} AS (
    SELECT syms[j] AS l, syms[j + 1] AS r,
           CAST(sum(freq) AS BIGINT) AS pair_freq
    FROM (
      SELECT freq,
             list_filter(string_split_regex(s, ' +'), x -> x <> '') AS syms
      FROM w{i - 1}
    ), unnest(range(1, len(syms))) u(j)
    GROUP BY l, r
  ),
  m{i} AS (
    SELECT l, r, pair_freq FROM p{i} ORDER BY pair_freq DESC, l, r LIMIT 1
  ),
  w{i} AS (
    SELECT word, freq,
           replace(s, ' ' || m.l || '  ' || m.r || ' ',
                      ' ' || m.l || m.r || ' ') AS s
    FROM w{i - 1}, m{i} AS m
  )""")
    return ",".join(parts)


def _merges_union_sql(n: int) -> str:
    return "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, l, r, "
        f"l || r AS merged, pair_freq FROM m{i}"
        for i in range(1, n + 1)
    )


@register(
    "bpe_learn_merges",
    oracle=f"""
    WITH {_w0_cte()}, {_iter_ctes(BPE_MERGES)}
    {_merges_union_sql(BPE_MERGES)}
    """,
    doc=f"The learned BPE merge table ({BPE_MERGES} ranks): at each rank "
    "the corpus-frequency-argmax adjacent symbol pair (ties by pair "
    "order) and its frequency. Corpus cost is one token count; every "
    "iteration rides the vocab-sized word table with a 1-row collected "
    "argmax probe — the lm_kn_bigrams scale shape with the "
    "dedup_clusters per-round-probe pattern.",
    tags=["training_prep", "bpe"],
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _w = _artifacts(spark, sf_dir)
    return merges


@register(
    "bpe_vocab_usage",
    oracle=f"""
    WITH {_w0_cte()}, {_iter_ctes(BPE_MERGES)},
    u AS (
      SELECT word, freq,
             unnest(list_filter(string_split_regex(s, ' +'), x -> x <> ''))
               AS symbol
      FROM w{BPE_MERGES}
    )
    SELECT symbol,
           CAST(length(symbol) AS BIGINT) AS n_chars,
           CAST(sum(freq) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words
    FROM u GROUP BY symbol
    """,
    doc="Corpus usage of the post-merge symbol vocabulary: for every "
    f"symbol after the {BPE_MERGES} learned merges, its corpus "
    "occurrence count (word-frequency weighted) and the number of "
    "distinct words containing it — the sanity artifact a tokenizer "
    "build ships (all work rides the vocab-sized table).",
    tags=["training_prep", "bpe"],
)
def bpe_vocab_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, w = _artifacts(spark, sf_dir)
    return (
        w.select("word", "freq", F.explode(_syms_col()).alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.sum("freq").alias("n_occurrences"),
            F.count_distinct("word").alias("n_words"),
        )
        .select(
            "symbol",
            F.length("symbol").cast("long").alias("n_chars"),
            "n_occurrences",
            "n_words",
        )
    )


@register(
    "bpe_doc_compression",
    oracle=f"""
    WITH {_w0_cte()}, {_iter_ctes(BPE_MERGES)},
    vocab AS (
      SELECT word,
             CAST(len(list_filter(string_split_regex(s, ' +'),
                                  x -> x <> '')) AS BIGINT) AS n_syms,
             CAST(length(word) AS BIGINT) AS n_chars
      FROM w{BPE_MERGES}
    ),
    dtok AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[\\p{{L}}]+')) AS word
      FROM documents
    )
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(v.n_syms) AS BIGINT) AS n_symbols,
           CAST(sum(v.n_chars) AS BIGINT) AS n_letter_chars,
           round(sum(v.n_syms) * 1.0 / sum(v.n_chars), 6)
             AS compression
    FROM dtok d JOIN vocab v USING (word)
    GROUP BY d.doc_id
    """,
    doc="Per-document BPE encoding cost under the learned merge table: "
    "symbols emitted per letter character (1.0 = character-level, "
    "lower = merges paying off) plus token/symbol/char counts — the "
    "artifact that tells a tokenizer build whether its merges help on "
    "each corpus slice. The vocab's per-word symbol counts ride the "
    "memoized artifact table and reach the corpus as a broadcast join; "
    "corpus-side work is one explode + one groupBy(doc).",
    tags=["training_prep", "bpe"],
)
def bpe_doc_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    _merges, w = _artifacts(spark, sf_dir)
    vocab = w.select(
        "word",
        F.size(_syms_col()).cast("long").alias("n_syms"),
        F.length("word").cast("long").alias("n_chars"),
    )
    dtok = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens_col("text")).alias("word")
    )
    return (
        dtok.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n_syms").alias("n_symbols"),
            F.sum("n_chars").alias("n_letter_chars"),
            F.round(
                F.sum("n_syms").cast("double") / F.sum("n_chars"), 6
            ).alias("compression"),
        )
    )
