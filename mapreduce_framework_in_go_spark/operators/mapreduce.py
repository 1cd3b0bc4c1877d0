"""The reference's implemented query surface, Spark-first.

The reference ships six Map/Reduce app pairs (``mrapps/*.go``); the three
with data semantics (wc, indexer, crash/nocrash — the timing probes are
scheduler assertions, covered in tests) are re-expressed as declarative
DataFrame pipelines over the ``documents`` table, plus a generic
``mr_run`` that honors the reference's UDF extension contract
(``Map(filename, contents) []KeyValue`` / ``Reduce(key, values) string``,
``main/mrworker.go:42-47``).

Semantics follow the *sequential oracle* (``main/mrsequential.go:38-86``):
global group-by-key across all inputs. The reference's distributed path
reduces each intermediate file independently (``mr/worker.go:94-125``) and
cannot match its own oracle — we deliberately do not replicate that
(SURVEY.md §2.4).

Scale notes (100 TB): every pipeline here is
scan → generate → shuffle-on-key → aggregate. Spark inserts partial
(map-side) aggregation before the exchange for count/min/max, so the
shuffle carries one row per (partition, key) — the same win the paper's
combiner gives. The crash-shape query concatenates all values per key,
which is inherently a hot-key design (4 keys total) — fine for parity
with the reference probe, but flagged: a real pipeline would never
string_agg an unbounded group (see operators/textops.py for the scalable
alternatives).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from ..registry import register
from ..sources.tables import table

# ---------------------------------------------------------------------------
# wc — word count (mrapps/wc.go:21-44)
# ---------------------------------------------------------------------------


@register(
    "mr_wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
      SELECT unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
    doc="Word count over documents.text: maximal Unicode-letter runs, "
    "case-sensitive, global group-by-key (mrapps/wc.go:21-44; oracle "
    "semantics main/mrsequential.go:38-86).",
    tags=["mapreduce"],
)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# indexer — inverted index (mrapps/indexer.go:20-39)
# ---------------------------------------------------------------------------


@register(
    "mr_inverted_index",
    oracle="""
    SELECT word,
           CAST(count(*) AS BIGINT) AS n_docs,
           string_agg(doc, ',' ORDER BY doc) AS doc_list
    FROM (
      SELECT DISTINCT word, doc FROM (
        SELECT unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word,
               CAST(doc_id AS VARCHAR) AS doc
        FROM documents
      ) WHERE word <> ''
    )
    GROUP BY word
    """,
    doc="Inverted index: distinct (word, doc) pairs, per word the doc "
    "count and the lexicographically sorted comma-joined doc list — the "
    "exact output shape of mrapps/indexer.go:36-39 "
    '("%d %s", len(values), join(sort(values), ",")).',
    tags=["mapreduce"],
)
def mr_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(tokens_col("text")).alias("word"),
        F.col("doc_id").cast("string").alias("doc"),
    ).distinct()  # map-side dedup in the reference (indexer.go:24-26)
    return pairs.groupBy("word").agg(
        F.count("*").alias("n_docs"),
        F.array_join(F.sort_array(F.collect_set("doc")), ",").alias("doc_list"),
    )


# ---------------------------------------------------------------------------
# crash/nocrash — 4-key sorted string_agg probe (mrapps/nocrash.go:17-47)
# ---------------------------------------------------------------------------


@register(
    "mr_crash_shape",
    oracle="""
    SELECT key,
           CAST(count(*) AS BIGINT) AS n_values,
           string_agg(value, ' ' ORDER BY value) AS joined
    FROM (
      SELECT 'a' AS key, source AS value FROM documents
      UNION ALL
      SELECT 'b', CAST(length(source) AS VARCHAR) FROM documents
      UNION ALL
      SELECT 'c', CAST(n_chars AS VARCHAR) FROM documents
      UNION ALL
      SELECT 'd', 'xyzzy' FROM documents
    )
    GROUP BY key
    """,
    doc="The crash/nocrash app's dataflow shape: each doc emits "
    "(a, source), (b, len(source)), (c, len(contents)), (d, 'xyzzy'); "
    "reduce = sort values, join with spaces (mrapps/nocrash.go:26-47). "
    "Crash-injection itself is a harness concern — Spark task retry — "
    "tested in tests/test_mapreduce.py by rerun-determinism.",
    tags=["mapreduce"],
)
def mr_crash_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.expr(
            "stack(4, "
            "'a', source, "
            "'b', cast(length(source) as string), "
            "'c', cast(n_chars as string), "
            "'d', 'xyzzy') as (key, value)"
        )
    )
    # Sorting values before joining is what makes the aggregate
    # deterministic under retries — same trick as every reference Reduce
    # (mrapps/crash.go:48-51).
    return pairs.groupBy("key").agg(
        F.count("*").alias("n_values"),
        F.array_join(F.sort_array(F.collect_list("value")), " ").alias("joined"),
    )


# ---------------------------------------------------------------------------
# generic Map/Reduce UDF contract (main/mrworker.go:42-47)
# ---------------------------------------------------------------------------

MapFn = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


def mr_run(
    docs: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    doc_col: str = "doc_id",
    content_col: str = "text",
) -> DataFrame:
    """Run an arbitrary reference-style Map/Reduce pair on a corpus.

    ``map_fn(doc, contents) -> iterable[(key, value)]`` is the UDTF shape,
    ``reduce_fn(key, values) -> value`` the UDAF shape — the reference's
    only extension points (``mr/worker.go:38``, ``main/mrsequential.go:
    93-110``). Values arrive at ``reduce_fn`` sorted (matching the
    sequential oracle, which reduces over a globally sorted buffer,
    ``main/mrsequential.go:59-77``) so any order-sensitive reduce is
    deterministic under Spark task retries.

    Execution: Arrow-batched ``mapInPandas`` for the flatMap (one Python
    crossing per batch, not per row), then ``collect_list`` per key —
    map-side partial lists, one hash exchange on ``key``, one merged
    list per key — and a ``mapInArrow`` that calls ``reduce_fn`` once per
    key, one Python crossing per Arrow batch of keys. Each key's values
    reach Reduce exactly once, as in Google MapReduce (OSDI 2004 §4.1).
    There is no driver materialization.

    Memory: one key's values must fit in a worker, as with any per-group
    reduce; a reduce batch holds up to
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` keys with all their
    values.

    ``map_fn`` must emit ``str`` keys and values — the reference's
    ``KeyValue{Key, Value string}``. Anything else (``None`` included,
    which ``collect_list`` would silently drop) fails the map task with
    a ``TypeError`` naming the pair.
    """
    import pandas as pd
    import pyarrow as pa

    def flat_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for doc, content in zip(pdf[doc_col].astype(str), pdf[content_col]):
                for k, v in map_fn(doc, content if content is not None else ""):
                    keys.append(k)
                    vals.append(v)
            # one C-level pass over the emitted types; the scan below runs
            # only to name the offending pair
            types = {*map(type, keys), *map(type, vals)}
            if not all(issubclass(t, str) for t in types):
                k, v = next(
                    (k, v) for k, v in zip(keys, vals)
                    if not (isinstance(k, str) and isinstance(v, str))
                )
                raise TypeError(
                    f"Map emitted ({k!r}, {v!r}); the plugin contract is Go "
                    "KeyValue{Key, Value string}: key and value must both be str"
                )
            yield pd.DataFrame({"key": keys, "value": vals})

    pairs = docs.select(
        F.col(doc_col).cast("string").alias(doc_col), F.col(content_col)
    ).mapInPandas(flat_map, schema="key string, value string")

    def reduce_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            keys = batch.column(0)
            out = [
                reduce_fn(k, sorted(vs))
                for k, vs in zip(keys.to_pylist(), batch.column(1).to_pylist())
            ]
            yield pa.RecordBatch.from_arrays(
                [keys, pa.array(out, pa.string())], ["key", "value"]
            )

    return (
        pairs.groupBy("key")
        .agg(F.collect_list("value").alias("values"))
        .mapInArrow(reduce_batches, schema="key string, value string")
    )


def wc_map(doc: str, contents: str) -> Iterable[tuple[str, str]]:
    """Reference wc Map (mrapps/wc.go:21-34), for mr_run round-trip tests.

    ``str.isalpha`` is Unicode category L — the same predicate as Go's
    ``unicode.IsLetter`` (SURVEY.md §2.6 tokenization parity).
    """
    run: list[str] = []
    for ch in contents:
        if ch.isalpha():
            run.append(ch)
        else:
            if run:
                yield "".join(run), "1"
                run = []
    if run:
        yield "".join(run), "1"


def wc_reduce(key: str, values: list[str]) -> str:
    """Reference wc Reduce (mrapps/wc.go:41-44)."""
    return str(len(values))
