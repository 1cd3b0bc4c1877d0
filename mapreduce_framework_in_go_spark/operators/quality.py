"""Data-quality operators: column profiling and time-series anomaly
flagging — the observability layer a production ingest pipeline runs
continuously over its tables.

Scale notes (100 TB):

- ``column_profile`` computes every column's statistics in ONE scan of
  the table: nulls and min/max are plain aggregates; the multi-column
  ``count(DISTINCT ...)`` lowers to a single Expand + two-phase
  aggregate (one pass, no per-column re-scan). At extreme cardinality
  swap the exact distincts for ``approx_count_distinct`` — the HLL
  sketch contract is already established in ``operators/sketches.py``.
- ``event_anomaly_hours`` is two aggregations (hour rollup, then
  per-type moment sums) + a broadcast join of the tiny per-type stats
  back onto the hourly rollup. Moments are EXACT integer sums (counts
  are integers), so mean/variance/z derive from identical integers on
  both engines via identical IEEE expressions — deterministic without
  fixed-point tricks; ``sqrt`` is correctly rounded per IEEE 754, so
  it is bit-stable across engines (unlike exp/ln).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table
from .setsim import jaccard

_NUM_COLS = ["o_orderkey", "o_custkey", "o_totalprice"]
_STR_COLS = ["o_orderstatus", "o_orderpriority"]
_TS_COLS = ["o_orderdate"]


@register(
    "column_profile",
    oracle="""
    SELECT 'o_orderkey' AS column, CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           round(CAST(min(o_orderkey) AS DOUBLE), 4) AS min_num,
           round(CAST(max(o_orderkey) AS DOUBLE), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           round(CAST(min(o_custkey) AS DOUBLE), 4),
           round(CAST(max(o_custkey) AS DOUBLE), 4), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           round(CAST(min(o_totalprice) AS DOUBLE), 4),
           round(CAST(max(o_totalprice) AS DOUBLE), 4), NULL, NULL
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           NULL, NULL, min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) - count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           NULL, NULL, min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(count(*) - count(o_orderdate) AS BIGINT),
           CAST(count(DISTINCT o_orderdate) AS BIGINT),
           NULL, NULL,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    """,
    doc="Per-column data-quality profile of orders (null count, exact "
    "distinct cardinality, min/max) computed in ONE table scan: all "
    "aggregates run in a single agg (multi-column DISTINCT lowers to "
    "one Expand), then unpivot to a row per column. The oracle states "
    "the same facts as six single-column scans.",
    tags=["quality"],
)
def column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    aggs = []
    for c in _NUM_COLS + _STR_COLS + _TS_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__dist"),
        ]
    for c in _NUM_COLS:
        aggs += [
            F.round(F.min(c).cast("double"), 4).alias(f"{c}__min_n"),
            F.round(F.max(c).cast("double"), 4).alias(f"{c}__max_n"),
        ]
    for c in _STR_COLS:
        aggs += [F.min(c).alias(f"{c}__min_s"), F.max(c).alias(f"{c}__max_s")]
    for c in _TS_COLS:
        aggs += [
            F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__min_s"),
            F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"{c}__max_s"),
        ]
    row = o.agg(*aggs)

    def entry(c: str) -> F.Column:
        num = c in _NUM_COLS
        return F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__dist").alias("n_distinct"),
            (F.col(f"{c}__min_n") if num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"{c}__max_n") if num else F.lit(None).cast("double")).alias("max_num"),
            (F.lit(None).cast("string") if num else F.col(f"{c}__min_s")).alias("min_str"),
            (F.lit(None).cast("string") if num else F.col(f"{c}__max_s")).alias("max_str"),
        )

    cols = _NUM_COLS + _STR_COLS + _TS_COLS
    return row.select(
        F.explode(F.array(*[entry(c) for c in cols])).alias("p")
    ).select("p.*")


Z_ROUND = 6

_ANOMALY_ORACLE = """
    WITH hourly AS (
      SELECT event_type,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(n) AS BIGINT) AS s1,
             CAST(sum(n * n) AS BIGINT) AS s2
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hour, h.n,
           round(
             CASE WHEN s.n_hours > 1
                   AND (CAST(s.s2 AS DOUBLE)
                        - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
                          / CAST(s.n_hours AS DOUBLE))
                       / CAST(s.n_hours - 1 AS DOUBLE) > 0
             THEN (CAST(h.n AS DOUBLE)
                   - CAST(s.s1 AS DOUBLE) / CAST(s.n_hours AS DOUBLE))
                  / sqrt((CAST(s.s2 AS DOUBLE)
                          - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
                            / CAST(s.n_hours AS DOUBLE))
                         / CAST(s.n_hours - 1 AS DOUBLE))
             ELSE 0.0 END, {Z}) AS zscore
    FROM hourly h JOIN stats s USING (event_type)
    """.replace("{Z}", str(Z_ROUND))


def anomaly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type moment sums over the hourly rollup — the static baseline
    the streaming twin joins against: (event_type, n_hours, s1, s2)."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
        )
        .agg(F.count("*").alias("n"))
    )
    return hourly.groupBy("event_type").agg(
        F.count("*").alias("n_hours"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )


def zscore_col() -> F.Column:
    """Deterministic z from (n, n_hours, s1, s2) — identical arithmetic
    shape on both engines (exact integer moments, IEEE sqrt)."""
    nh = F.col("n_hours").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    var = (s2 - s1 * s1 / nh) / (F.col("n_hours") - 1).cast("double")
    mean = s1 / nh
    return F.round(
        F.when(
            (F.col("n_hours") > 1) & (var > 0),
            (F.col("n").cast("double") - mean) / F.sqrt(var),
        ).otherwise(F.lit(0.0)),
        Z_ROUND,
    )


@register(
    "event_anomaly_hours",
    oracle=_ANOMALY_ORACLE,
    doc="Per-hour event-count z-scores per event type — the drift/"
    "anomaly monitor over ingest volume. Mean and variance derive from "
    "EXACT integer moment sums (sum n, sum n^2 over hourly counts), so "
    "the doubles are bit-identical across engines; sqrt is IEEE-exact. "
    "Two aggregations plus a broadcast of per-type stats (rows = event "
    "types) back onto the hourly rollup.",
    tags=["quality", "events"],
)
def event_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
    ).agg(F.count("*").alias("n"))
    stats = anomaly_stats(spark, sf_dir)
    j = hourly.join(F.broadcast(stats), "event_type")
    return j.select("event_type", "hour", "n", zscore_col().alias("zscore"))


@register(
    "dataset_card",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups,
           CAST(SUM(len(regexp_extract_all(text, '[\\p{L}]+'))) AS BIGINT)
             AS total_tokens,
           round(CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / count(*), 6)
             AS avg_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY source
    """,
    doc="Per-source dataset card over the text corpus: volume (docs, "
    "tokens), exact-duplicate incidence (md5 distinct vs rows — the "
    "map-side digest trick from dedup_exact), length profile, and "
    "language spread. One scan, one shuffle on source; the digest "
    "distinct is the only wide aggregate. The governance artifact a "
    "training-data release ships alongside the data.",
    tags=["quality", "text"],
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_col

    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        (F.count("*") - F.count_distinct(F.md5("text"))).alias("n_exact_dups"),
        F.sum(F.size(tokens_col("text")).cast("long")).alias("total_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.count("*"), 6
        ).alias("avg_chars"),
        F.count_distinct("lang").alias("n_langs"),
    )


@register(
    "source_overlap_matrix",
    oracle="""
    WITH toks AS (
      SELECT source, regexp_extract_all(text, '[\\p{L}]+') AS toks
      FROM documents
    ),
    occ AS (
      SELECT DISTINCT source, array_to_string(toks[i:i+2], ' ') AS s
      FROM toks, unnest(range(1, len(toks) - 1)) u(i)
      WHERE len(toks) >= 3
    ),
    sizes AS (SELECT source, count(*) AS n FROM occ GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
      FROM occ a JOIN occ b USING (s)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(n_common AS BIGINT) AS n_common,
           round(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
    doc="Cross-source contamination matrix: shingle-set Jaccard between "
    "every pair of sources — which feeds mirror/scrape each other, the "
    "provenance question a multi-source corpus release must answer. "
    "Shingle sets collapse to per-SOURCE distincts before the self-join, "
    "so the pair fan-out per shingle is bounded by source count (a "
    "constant), never document count; sources are the unit, so the "
    "matrix is tiny at any corpus size.",
    tags=["quality", "text"],
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles_col, tokens_col

    occ = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.array_distinct(shingles_col(tokens_col("text"), 3))
            ).alias("s"),
        )
        .distinct()
    )
    sizes = occ.groupBy("source").agg(F.count("*").alias("n"))
    a = occ.select(F.col("source").alias("src_a"), "s")
    b = occ.select(F.col("source").alias("src_b"), "s")
    inter = (
        a.join(b, "s")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b",
            F.col("n_common").cast("long").alias("n_common"),
            jaccard().alias("jaccard"),
        )
    )


@register(
    "reconcile_snapshots",
    oracle="""
    WITH b AS (
      SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid FROM events
    ),
    fst AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_a,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS v_a
      FROM events, b WHERE epoch_us(ts) < mid GROUP BY user_id
    ),
    snd AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_b,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS v_b
      FROM events, b WHERE epoch_us(ts) >= mid GROUP BY user_id
    )
    SELECT coalesce(fst.user_id, snd.user_id) AS user_id,
           CASE WHEN fst.user_id IS NULL THEN 'only_second'
                WHEN snd.user_id IS NULL THEN 'only_first'
                ELSE 'both' END AS status,
           coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
           coalesce(n_b, 0) - coalesce(n_a, 0) AS delta_n,
           round(coalesce(v_b, 0) - coalesce(v_a, 0), 2) AS delta_value
    FROM fst FULL OUTER JOIN snd ON fst.user_id = snd.user_id
    """,
    doc="Snapshot reconciliation via FULL OUTER join: per-user activity "
    "in the first vs second half of the time range (split at the "
    "midpoint of the observed span — a broadcast 1-row bound, integer "
    "epoch arithmetic), classifying users as both/only_first/"
    "only_second with count and exact fixed-point value deltas. The "
    "diff/audit shape for comparing two table versions; one shuffle "
    "per side + the keyed outer join.",
    tags=["quality", "joins", "events"],
)
def reconcile_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import fsum

    ev = table(spark, sf_dir, "events").withColumn(
        "tsm",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        ),
    )
    bounds = ev.agg(
        F.expr("(min(tsm) + max(tsm)) div 2").alias("mid")
    )
    ev = ev.crossJoin(F.broadcast(bounds))

    def half(pred, n_name, v_name):
        return (
            ev.where(pred)
            .groupBy("user_id")
            .agg(
                F.count("*").alias(n_name),
                fsum(F.col("value"), 100).alias(v_name),
            )
        )

    fst = half(F.col("tsm") < F.col("mid"), "n_a", "v_a")
    snd = half(F.col("tsm") >= F.col("mid"), "n_b", "v_b").withColumnRenamed(
        "user_id", "user_id_b"
    )
    j = fst.join(snd, fst["user_id"] == snd["user_id_b"], "full_outer")
    return j.select(
        F.coalesce(fst["user_id"], snd["user_id_b"]).alias("user_id"),
        F.when(fst["user_id"].isNull(), "only_second")
        .when(snd["user_id_b"].isNull(), "only_first")
        .otherwise("both")
        .alias("status"),
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        (F.coalesce("n_b", F.lit(0)) - F.coalesce("n_a", F.lit(0))).alias(
            "delta_n"
        ),
        F.round(
            F.coalesce("v_b", F.lit(0.0)) - F.coalesce("v_a", F.lit(0.0)), 2
        ).alias("delta_value"),
    )


CDC_KEYS = 500  # key domain: ~20 change ops per key at sf0.01


@register(
    "cdc_apply",
    oracle=f"""
    WITH ops AS (
      SELECT event_id % {CDC_KEYS} AS key,
             CASE WHEN event_type IN ('signup', 'view') THEN 'upsert'
                  WHEN event_type = 'error'            THEN 'delete'
                  ELSE 'upsert' END AS op,
             CAST(round(value * 100) AS BIGINT) AS val_cents,
             event_id AS seq
      FROM events
    ),
    last AS (
      SELECT key, op, val_cents, seq,
             row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn,
             count(*) OVER (PARTITION BY key) AS n_changes
      FROM ops
    )
    SELECT key, CAST(val_cents AS BIGINT) AS val_cents,
           CAST(seq AS BIGINT) AS last_seq,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM last WHERE rn = 1 AND op <> 'delete'
    """,
    doc="Change-data-capture apply: a change stream (upserts + deletes "
    "keyed by sequence number) collapses to the final table state — "
    "last-writer-wins per key, tombstones drop the row entirely, which "
    "is the semantics the KV fold (append-concat) does not cover. One "
    "shuffle on key; the per-key window replaces a full sort-merge "
    "reduce. At lakehouse scale this is the MERGE-into-snapshot "
    "compaction step (see merge_upsert_orders for the two-sided form); "
    "values are exact fixed-point cents so the hash check is stable.",
    tags=["quality", "kv"],
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ops = table(spark, sf_dir, "events").select(
        (F.col("event_id") % CDC_KEYS).alias("key"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
        F.round(F.col("value") * 100).cast("long").alias("val_cents"),
        F.col("event_id").alias("seq"),
    )
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    wc = Window.partitionBy("key")
    last = ops.select(
        "key",
        "op",
        "val_cents",
        "seq",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_changes"),
    )
    return last.where((F.col("rn") == 1) & (F.col("op") != "delete")).select(
        "key",
        "val_cents",
        F.col("seq").alias("last_seq"),
        "n_changes",
    )
