"""Streaming queries registered in the correctness gate.

The streaming twins in streaming/windows.py were previously exercised
only by stream-vs-batch parity tests; here each one is also a first-class
``queries()`` entry: the streaming query is driven to completion over the
bounded events parquet (availableNow-style: one microbatch per file) and
its materialized result is hash-compared against a plain ANSI-SQL oracle.
That makes the streaming path itself oracle-checked, not just
batch-equivalent by test.

Scale notes: these run identically on an unbounded source — the memory
sink + processAllAvailable harness is only the bounded-input driver. At
100 TB the same frames write to Kafka/Delta with the watermark bounding
state; nothing in the query shape changes. The oracle reads the same
parquet with DuckDB, so the correctness statement is end-to-end: source
decode, event-time windowing, watermark accounting, and sink output all
agree with the declarative SQL semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import PLANS
from ..registry import register
from ..streaming import nb_gate as sng
from ..streaming import windows as sw
from .classifier import _NB_CTES
from .classifier import _model as _nb_model


def _run(df: DataFrame, mode: str, name: str) -> DataFrame:
    # FIXED per-query sink name: repeated invocations (driver retries,
    # full test runs) replace the previous run's memory-sink temp view
    # instead of accumulating unbounded materialized views in the
    # catalog — run_to_completion drops any stale view before starting.
    return sw.run_to_completion(df, f"sq_{name}", mode)


@register(
    "stream_hourly_agg",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Streaming tumbling 1-hour window aggregation driven to "
    "completion over the bounded events source (watermark 1h, complete "
    "mode — append would withhold windows the final watermark never "
    "passes). Oracle: the same GROUP BY date_trunc in plain SQL. "
    "Streaming twin of events_hourly_agg.",
    tags=["streaming", "events"],
)
def stream_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    return _run(sw.hourly_agg_stream(ev), "complete", "hourly_agg")


@register(
    "stream_sliding_agg",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS win_start,
             event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
             event_type, value
      FROM events
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM expanded
    GROUP BY 1, 2
    """,
    doc="Streaming sliding window (1h wide, 30m slide): every event "
    "lands in exactly width/slide = 2 overlapping windows. Oracle "
    "expands each row into both covering window starts (the 30-minute "
    "floor and the one before it — time_bucket's origin is a whole "
    "multiple of 30m from the epoch, matching Spark's epoch-aligned "
    "windows) and aggregates.",
    tags=["streaming", "events"],
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    return _run(sw.sliding_agg_stream(ev), "complete", "sliding_agg")


@register(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, session_no
    """,
    doc="Streaming session windows (30-minute gap) per user. Oracle is "
    "the lag + cumulative-sum sessionization; the gap comparison is "
    "STRICT (<) because session_window treats [start, last+gap) as "
    "half-open — an event exactly at the gap boundary opens a new "
    "session. Streaming twin of events_sessionization.",
    tags=["streaming", "events", "window"],
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    return _run(sw.session_window_stream(ev), "complete", "session_window")


@register(
    "stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    doc="Stream-stream interval join (each purchase joined to the same "
    "user's clicks from the preceding hour), append mode. Two-sided "
    "time bounds + watermarks let Spark expire join state; the oracle "
    "is the plain inequality join.",
    tags=["streaming", "events", "join"],
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    return _run(sw.purchase_click_interval_join(ev), "append", "interval_join")


# ---------------------------------------------------------------------------
# Streaming ingestion: exact dedup + the stateless gate, oracle-checked
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

from ..operators.pipeline import _flags_ctes  # noqa: E402
from ..operators.training_prep import _SHINGLE_5_SQL, EVAL_MOD  # noqa: E402
from ..streaming.dedup_stream import dedup_stream_exact  # noqa: E402
from ..streaming.ingest_gate import eval_ngram_set, ingest_gate_stream  # noqa: E402

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{sf_dir}/documents.parquet*")
    )


@register(
    "stream_dedup_digests",
    oracle="SELECT DISTINCT md5(text) AS text_md5 FROM documents",
    doc="Streaming exact dedup at ingest: dropDuplicates on the content "
    "digest as documents arrive, projected to the digest set (WHICH "
    "arrival survives per digest is an execution-order accident, the "
    "digest set is not — so the set is the oracle-checkable contract, "
    "exactly the determinism discipline of the batch canonical sink). "
    "Unbounded digest state; the watermark-bounded twin "
    "(dropDuplicatesWithinWatermark) is exercised in test_streaming.",
    tags=["streaming", "dedup"],
)
def stream_dedup_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = dedup_stream_exact(_docs_stream(spark, sf_dir))
    return _run(deduped.select("text_md5"), "append", "exact_dedup")


@register(
    "stream_ingest_gate",
    oracle=f"""
    WITH {_flags_ctes()},
    {_SHINGLE_5_SQL},
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_MOD} = 0),
    dirty AS (
      SELECT DISTINCT tr.doc_id
      FROM sh tr JOIN ev USING (s)
      WHERE tr.doc_id % {EVAL_MOD} != 0
    )
    SELECT f.doc_id, f.source, f.n_tokens
    FROM flags f
    LEFT JOIN dirty d ON d.doc_id = f.doc_id
    WHERE f.pass_q AND f.pass_lang
      AND f.doc_id % {EVAL_MOD} != 0
      AND d.doc_id IS NULL
    """,
    doc="The streaming ingestion gate end-to-end in the correctness "
    "gate: quality + language + eval-membership + zero-5-gram-overlap "
    "decontamination applied to the document stream (stateless map "
    "work, stream-static broadcast of the eval n-gram set), oracle = "
    "the identical batch flags + overlap SQL. Proves the stream emits "
    "exactly the batch pipeline's stage-2 survivors minus "
    "contamination.",
    tags=["streaming", "pipeline"],
)
def stream_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import table as _table

    docs_static = _table(spark, sf_dir, "documents")
    gated = ingest_gate_stream(
        _docs_stream(spark, sf_dir), eval_ngram_set(docs_static)
    )
    return _run(gated, "append", "ingest_gate")


# ---------------------------------------------------------------------------
# Stateful streaming: the KV fold via applyInPandasWithState
# ---------------------------------------------------------------------------

from ..operators.kv import _STATE_SQL, ops_from_events  # noqa: E402
from ..streaming import kv_state as skv  # noqa: E402


@register(
    "stream_kv_state_fold",
    oracle=_STATE_SQL,
    doc="The stateful streaming KV fold itself in the correctness gate: "
    "ops derive from the events STREAM (same column work as the batch "
    "log), fold per key in applyInPandasWithState (max-applied-seq dedup + "
    "last-put base + append concat carried in state), update-mode "
    "memory sink. Oracle = the batch fold SQL. The bounded source is "
    "one file => one microbatch, so the sink holds exactly the final "
    "state row per key; checkpoint-restart and multi-batch delivery "
    "are exercised in test_streaming.",
    tags=["streaming", "kv"],
)
def stream_kv_state_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    folded = skv.kv_state_stream(ops_from_events(ev))
    return _run(folded, "update", "kv_state_fold")


# ---------------------------------------------------------------------------
# Streaming near-dup ingest: the crawl-delta classifier as a stream
# ---------------------------------------------------------------------------

from ..operators.dedup import INCREMENTAL_ORACLE  # noqa: E402
from ..streaming import near_dedup as snd  # noqa: E402


@register(
    "stream_near_dedup",
    oracle=INCREMENTAL_ORACLE,
    doc="Streaming near-duplicate ingest classification: delta "
    "documents arrive as a stream and are classified against the "
    "standing base corpus — exact (digest match), near (best "
    "LSH-verified Jaccard partner via stream-static band-probe joins), "
    "or new — with one applyInPandasWithState verdict fold per doc. "
    "Oracle: the SAME SQL as the batch dedup_incremental, so the "
    "stream provably converges to the batch classification. The "
    "streaming twin that completes the crawl-delta story end-to-end.",
    tags=["streaming", "dedup"],
)
def stream_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import table

    delta = snd.delta_filter(_docs_stream(spark, sf_dir))
    base = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % snd.DELTA_MOD != snd.DELTA_REM
    )
    out = snd.near_dedup_stream(
        delta,
        snd.base_band_table(base),
        snd.base_shingle_sets(base),
        snd.base_digest_lookup(base),
    )
    return _run(out, "update", "near_dedup")


from ..operators.quality import _ANOMALY_ORACLE, anomaly_stats, zscore_col  # noqa: E402


@register(
    "stream_anomaly_hours",
    oracle=_ANOMALY_ORACLE,
    doc="Streaming volume-anomaly monitor: hourly event counts per type "
    "flow from the stream; the per-type baseline moments (n_hours, s1, "
    "s2 — a tiny static table) attach via a stream-static broadcast "
    "join BEFORE the windowed aggregation (joins after streaming "
    "aggregations are unsupported; joining first and grouping by the "
    "functionally-dependent stat columns keeps cardinality unchanged "
    "and stays inside the supported plan space). z derives from exact "
    "integer moments, so the stream's verdicts hash-match the batch "
    "event_anomaly_hours SQL — the production shape: train the "
    "baseline offline, score the live stream against it.",
    tags=["streaming", "quality", "events"],
)
def stream_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    stats = anomaly_stats(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .join(F.broadcast(stats), "event_type")
        .groupBy(
            F.window("ts", "1 hour"),
            "event_type",
            "n_hours",
            "s1",
            "s2",
        )
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            sw._utc_str("window.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            zscore_col().alias("zscore"),
        )
    )
    return _run(agg, "complete", "anomaly_hours")


@register(
    "stream_dataset_card",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '[\\p{L}]+'))) AS BIGINT)
             AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
    doc="Streaming per-source corpus rollup (complete mode): the "
    "continuously-updated dataset card an ingest pipeline exposes "
    "while a crawl is still arriving. Exact-distinct columns are the "
    "one omission vs the batch dataset_card — count(DISTINCT) is "
    "unsupported in streaming aggregation; production uses "
    "approx_count_distinct (HLL) there, the sketch contract "
    "operators/sketches.py establishes.",
    tags=["streaming", "quality"],
)
def stream_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_col

    docs = _docs_stream(spark, sf_dir)
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens_col("text")).cast("long")).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )
    return _run(agg, "complete", "dataset_card")


from ..streaming import transitions as str_trans  # noqa: E402


@register(
    "stream_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts,
             lead(event_type) OVER w AS next_event_type,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trans AS (
      SELECT event_type, next_event_type
      FROM seq
      WHERE next_event_type IS NOT NULL
        AND next_ts - ts <= INTERVAL 30 MINUTE
    ),
    counts AS (
      SELECT event_type, next_event_type, count(*) AS c
      FROM trans GROUP BY 1, 2
    ),
    ctx AS (
      SELECT event_type, sum(c) AS c_ctx FROM counts GROUP BY 1
    )
    SELECT counts.event_type, counts.next_event_type,
           CAST(counts.c AS BIGINT) AS c,
           CAST(ctx.c_ctx AS BIGINT) AS c_ctx,
           round(counts.c * 1.0 / ctx.c_ctx, 6) AS p
    FROM counts JOIN ctx USING (event_type)
    """,
    doc="Streaming twin of event_transition_matrix: transitions are "
    "extracted INCREMENTALLY by an O(1)-state per-user fold "
    "(applyInPandasWithState carries each user's last event across "
    "microbatches; a batch lead() window has no streaming form), "
    "driven to completion over the bounded events source; the "
    "matrix normalization is a batch rollup over the emitted "
    "transition sink. Oracle: the batch lead-window SQL — so the "
    "stateful extraction itself is hash-checked end-to-end.",
    tags=["streaming", "temporal", "events"],
)
def stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = sw.events_stream(spark, f"{sf_dir}/events.parquet")
    sunk = _run(str_trans.transitions_stream(ev), "append", "transition_matrix")
    counts = sunk.groupBy("event_type", "next_event_type").agg(
        F.count("*").alias("c")
    )
    # row-normalize via a per-context window over the matrix-sized
    # frame (a self-join of the memory-sink view trips conflicting
    # attribute resolution; the window avoids the self-reference)
    c_ctx = F.sum("c").over(Window.partitionBy("event_type"))
    return counts.select(
        "event_type",
        "next_event_type",
        F.col("c").cast("long").alias("c"),
        c_ctx.cast("long").alias("c_ctx"),
        F.round(F.col("c") * F.lit(1.0) / c_ctx, 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Streaming substring probe: crawl-delta duplicated-region ledger
# ---------------------------------------------------------------------------

from ..operators.spans import SPAN_W as _W  # noqa: E402
from ..operators.spans import islands_spans_ctes as _islands_spans_ctes  # noqa: E402
from ..streaming import substring_probe as ssp  # noqa: E402

_SSP_ORACLE = f"""
    WITH dtoks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents WHERE doc_id % {snd.DELTA_MOD} = {snd.DELTA_REM}
    ),
    btoks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents WHERE doc_id % {snd.DELTA_MOD} <> {snd.DELTA_REM}
    ),
    bg AS (
      SELECT DISTINCT array_to_string(toks[i:i+{_W - 1}], ' ') AS g
      FROM btoks, unnest(range(1, len(toks) - {_W - 2})) u(i)
      WHERE len(toks) >= {_W}
    ),
    dg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(toks[i:i+{_W - 1}], ' ') AS g
      FROM dtoks, unnest(range(1, len(toks) - {_W - 2})) u(i)
      WHERE len(toks) >= {_W}
    ),
    dup_pos AS (SELECT doc_id, pos FROM dg WHERE g IN (SELECT g FROM bg)),
    {_islands_spans_ctes()},
    per_doc AS (
      SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
             CAST(count(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id
    )
    SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_tokens,
           coalesce(p.dup_tokens, 0) AS dup_tokens,
           coalesce(p.n_spans, 0) AS n_spans,
           round(coalesce(p.dup_tokens, 0) / len(t.toks)::DOUBLE, 6)
             AS dup_frac
    FROM dtoks t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    WHERE len(t.toks) > 0
"""


@register(
    "stream_substring_probe",
    oracle=_SSP_ORACLE,
    doc="Streaming duplicated-substring ingest probe: each arriving "
    "delta document's token windows are membership-checked against the "
    "standing base corpus's distinct gram set (stream-static join), "
    "flagged positions merge into maximal islands inside one "
    "applyInPandasWithState fold per doc, and a scrub ledger row "
    "(n/dup tokens, span count, fraction) emits. Oracle: the identical "
    "ledger computed in batch over the delta/base split — the stream "
    "provably converges to the batch answer. Completes the crawl-delta "
    "story for region-level dedup the way stream_near_dedup does for "
    "document-level.",
    tags=["streaming", "dedup", "spans"],
)
def stream_substring_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import table

    delta = snd.delta_filter(_docs_stream(spark, sf_dir))
    base = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % snd.DELTA_MOD != snd.DELTA_REM
    )
    out = ssp.substring_probe_stream(delta, ssp.base_gram_set(base))
    return _run(out, "update", "substring_probe")


# ---------------------------------------------------------------------------
# Streaming IVF assignment: index maintenance as vectors arrive
# ---------------------------------------------------------------------------

from ..operators.similarity import (  # noqa: E402
    INCR_DELTA_MOD,
    INCR_DELTA_REM,
    LLOYD_ITERS,
    _emb,
    _lloyd_ctes,
    _trained_centroids,
)
from ..streaming import ivf_assign as siv  # noqa: E402


@register(
    "stream_ivf_assign",
    oracle=f"""
    WITH base AS (
      SELECT * FROM embeddings
      WHERE vec_id % {INCR_DELTA_MOD} <> {INCR_DELTA_REM}
    ),
    {_lloyd_ctes(LLOYD_ITERS, src="base", cmod_src="base")}
    SELECT cell_id, CAST(count(*) AS BIGINT) AS n_arrived FROM (
      SELECT v.vec_id, c.cell_id,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], c.ce), 6) DESC,
                        c.cell_id) AS rn
      FROM embeddings v, cent{LLOYD_ITERS} c
      WHERE v.vec_id % {INCR_DELTA_MOD} = {INCR_DELTA_REM}
    ) WHERE rn = 1 GROUP BY cell_id
    """,
    doc="The streaming half of ann_ivf_incremental: embeddings arriving "
    "on the stream (the delta slice) are assigned MAP-ONLY to the "
    "frozen cells of the base-trained index — a stream-static "
    "broadcast of the one-row centroid array, the identical "
    "_with_nearest_cell fold the batch searchers use, zero shuffle "
    "per row — and the running per-cell arrival counts (state: one "
    "long per cell) are the live occupancy-drift signal the batch "
    "ledger snapshots. Oracle = the batch delta assignment over the "
    "same frozen Lloyd chain. The centroid index is shared with the "
    "batch query through the per-(session, dataset) memo, so stream "
    "and batch provably probe ONE index.",
    tags=["streaming", "similarity"],
)
def stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _emb(spark, sf_dir).where(
        (F.col("vec_id") % INCR_DELTA_MOD) != INCR_DELTA_REM
    )
    cent = _trained_centroids(base, sf_dir, "incr")
    delta = siv.emb_stream(spark, f"{sf_dir}/embeddings.parquet").where(
        (F.col("vec_id") % INCR_DELTA_MOD) == INCR_DELTA_REM
    )
    return _run(siv.ivf_assign_stream(delta, cent), "complete", "ivf_assign")


@register(
    "stream_nb_gate",
    oracle=f"""
    WITH {_NB_CTES},
    ntok AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
      FROM tok WHERE holdout GROUP BY 1
    )
    SELECT s.doc_id, s.true_source, s.c AS pred_source, n.n_tokens
    FROM scored s JOIN ntok n USING (doc_id)
    WHERE s.rn = 1
    """,
    doc="The streaming half of the hashed-NB quality gate: documents "
    "arriving on the stream (the holdout slice) are scored against the "
    "frozen batch-trained model — the (C x 1024) likelihood table "
    "pivoted to a per-bucket class-score array and joined "
    "stream-static broadcast, so scoring adds zero shuffle per token. "
    "One per-(doc, class-sums) aggregation (state: C+1 longs per "
    "in-flight doc); the argmax is a stateless post-agg array_sort "
    "with the exact batch tie-break. Oracle = the batch scored CTE's "
    "rn=1 verdicts. Batch and stream train through classifier._model, "
    "so they provably score with ONE model.",
    tags=["streaming", "classifier", "llm-pipeline"],
)
def stream_nb_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _meta, priors, lik, _tc = _nb_model(spark, sf_dir)
    # C-row model-hydration probe (the BPE apply-as-literals precedent):
    # the class list and priors become plan literals of the stream frame
    pri = {r["c"]: r["sp"] for r in priors.collect()}
    classes = sorted(pri)
    model = sng.lik_wide(lik)
    docs = sng.doc_stream(spark, f"{sf_dir}/documents.parquet")
    return _run(
        sng.nb_gate_stream(docs, model, classes, pri), "complete", "nb_gate"
    )


def _gopher_oracle() -> str:
    # the stream's oracle IS the batch query's oracle, verbatim
    from . import textops  # noqa: F401  (ensures registration)
    from ..registry import REGISTRY

    return REGISTRY["gopher_quality_flags"].oracle


@register(
    "stream_gopher_flags",
    oracle=_gopher_oracle(),
    doc="The published Gopher quality gate at INGEST: every arriving "
    "document is scored with the full rule vector (word count, mean "
    "word length, symbol ratio, bullet/ellipsis lines, alpha words, "
    "stop-word presence, the gating conjunction) by the IDENTICAL "
    "column expressions the batch query runs "
    "(textops.gopher_flags_frame — pure array/HOF map work, no "
    "aggregation), so the stream is stateless, append-mode, needs no "
    "watermark, and adds zero exchanges to the microbatch plan. "
    "Oracle = the batch SQL verbatim: the stream's verdicts match the "
    "batch pass doc-for-doc, flag-for-flag.",
    tags=["streaming", "textops", "llm-pipeline"],
)
def stream_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import gopher_flags_frame

    flags = gopher_flags_frame(_docs_stream(spark, sf_dir))
    return _run(flags, "append", "gopher_flags")


def _gopher_rep_oracle() -> str:
    # the stream's oracle IS the batch query's oracle, verbatim
    from . import textops  # noqa: F401  (ensures registration)
    from ..registry import REGISTRY

    return REGISTRY["gopher_repetition_flags"].oracle


@register(
    "stream_gopher_repetition",
    oracle=_gopher_rep_oracle(),
    doc="The repetition half of the published Gopher filter at INGEST "
    "— possible precisely because the batch rewrite made it map-only: "
    "every repetition statistic (duplicate line/paragraph fractions, "
    "top-gram share, duplicated-gram position-coverage) is a function "
    "of ONE document, computed per row by sorted-array folds "
    "(textops.gopher_repetition_frame), so the stream is stateless, "
    "append-mode, and needs no watermark or state store. One "
    "round-robin repartition per microbatch spreads the CPU-heavy "
    "per-doc folds across cores (a small microbatch is otherwise one "
    "task; never a key shuffle, no state). Together with "
    "stream_gopher_flags this puts the COMPLETE published Gopher "
    "filter (quality + repetition, Rae et al. 2021 Table A1) on the "
    "ingest path. Oracle = the batch SQL verbatim: verdicts match the "
    "batch pass doc-for-doc, flag-for-flag.",
    tags=["streaming", "textops", "llm-pipeline"],
)
def stream_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import gopher_repetition_frame

    def _build() -> DataFrame:
        docs = _docs_stream(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        return gopher_repetition_frame(docs)

    # the fold expression tree costs ~2 s of py4j plan construction —
    # memoized per (app, dataset); each invocation still starts a fresh
    # streaming query over the cached plan (cache.py rationale)
    return _run(
        PLANS.get_or_build(spark, "stream_gopher_repetition", sf_dir, _build),
        "append",
        "gopher_repetition",
    )


def _pii_oracle() -> str:
    from . import privacy  # noqa: F401  (ensures registration)
    from ..registry import REGISTRY

    return REGISTRY["pii_scrub"].oracle


@register(
    "stream_pii_scrub",
    oracle=_pii_oracle(),
    doc="PII masking at INGEST: arriving documents pass through the "
    "identical fixed-order regex scrub the batch query runs "
    "(privacy.pii_scrub_frame — pure column work), emitting per-type "
    "counts and the scrubbed text's digest. Stateless, append-mode, "
    "zero exchanges added to the microbatch plan; oracle = the batch "
    "SQL verbatim, so the stream's scrub is proven byte-identical to "
    "the batch release scrub doc-for-doc.",
    tags=["streaming", "privacy", "llm-pipeline"],
)
def stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .privacy import pii_scrub_frame

    return _run(
        pii_scrub_frame(_docs_stream(spark, sf_dir)), "append", "pii_scrub"
    )


def _ingest_release_oracle() -> str:
    # the composition's oracle composes the constituents' oracles: the
    # registered gopher quality + repetition + pii SQL verbatim as
    # derived tables, plus the
    # NB model CTEs scoring EVERY document (the standalone gate scores
    # only the holdout slice; the release ledger scores all arrivals,
    # zero-token docs falling back to the priors-only argmax).
    from . import privacy, textops  # noqa: F401  (ensures registration)
    from ..registry import REGISTRY

    g = REGISTRY["gopher_quality_flags"].oracle
    p = REGISTRY["pii_scrub"].oracle
    r = REGISTRY["gopher_repetition_flags"].oracle
    return f"""
    WITH {_NB_CTES},
    ntok AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1
    ),
    tsall AS (
      SELECT t.doc_id, l.c, sum(l.sll) AS s
      FROM tok t JOIN lik l USING (b) GROUP BY 1, 2
    ),
    pred AS (
      SELECT doc_id, c AS pred_source
      FROM (SELECT d.doc_id, pr.c,
                   row_number() OVER (
                     PARTITION BY d.doc_id
                     ORDER BY pr.sp + coalesce(ts.s, 0) DESC, pr.c) AS rn
            FROM documents d
            CROSS JOIN priors pr
            LEFT JOIN tsall ts ON ts.doc_id = d.doc_id AND ts.c = pr.c)
      WHERE rn = 1
    )
    SELECT g.doc_id, d.source, g.n_words, g.gopher_pass, r.rep_pass,
           pi.n_email, pi.n_ip, pi.n_phone, pi.had_pii, pi.scrubbed_md5,
           coalesce(nt.n, 0) AS n_tokens, pr.pred_source
    FROM ({g}) g
    JOIN ({r}) r ON r.doc_id = g.doc_id
    JOIN ({p}) pi ON pi.doc_id = g.doc_id
    JOIN documents d ON d.doc_id = g.doc_id
    LEFT JOIN ntok nt ON nt.doc_id = g.doc_id
    JOIN pred pr ON pr.doc_id = g.doc_id
    """


@register(
    "stream_ingest_release",
    oracle=_ingest_release_oracle(),
    doc="The composed single-pass streaming ingest: every arriving "
    "document leaves ONE stream with its full release-ledger row — "
    "the COMPLETE published Gopher filter (quality verdict + "
    "repetition verdict), fixed-order PII scrub counts + "
    "scrubbed-text digest, and the NB source verdict. The stages "
    "chain as pure column transformations (each carries its "
    "successors' inputs via the frame builders' keep= pass-through), "
    "and the NB stage is re-expressed statelessly: the frozen "
    "batch-trained likelihood table flattens to one bucket-major "
    "array<long> row broadcast stream-static, and each document "
    "folds its token buckets against it JVM-side — exact BIGINT "
    "scaled-nat sums, (score DESC, class ASC) argmax, bitwise the "
    "batch scorer's result with NO aggregation operator in the "
    "stream plan: zero state stores, no watermark, no key shuffle "
    "(one round-robin repartition per microbatch spreads the "
    "repetition folds across cores). "
    "Oracle = the gopher quality + repetition + pii registered "
    "oracles composed verbatim "
    "plus the NB CTEs scoring every document. The reference's fixed "
    "scan->map->shuffle->reduce chain (mr/worker.go:52-142) lifted "
    "to a stream with shuffle/reduce eliminated.",
    tags=["streaming", "pipeline", "llm-pipeline"],
)
def stream_ingest_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import ingest_release as sir

    def _build() -> DataFrame:
        _meta, priors, lik, _tc = _nb_model(spark, sf_dir)
        # C-row model-hydration probe (the stream_nb_gate precedent)
        pri = {r["c"]: r["sp"] for r in priors.collect()}
        classes = sorted(pri)
        model = sir.nb_model_row(lik)
        docs = _docs_stream(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        return sir.ingest_release_stream(docs, model, classes, pri)

    # the composed ledger's expression tree costs ~2.4 s of py4j plan
    # construction vs ~1.9 s of stream execution — memoized per (app,
    # dataset); each invocation still starts a fresh streaming query
    # over the cached plan. The plan's lineage roots in the memoized
    # model's persisted lik frame, which lives as long as this plan
    # (both are per-(app, dataset) memo entries).
    return _run(
        PLANS.get_or_build(spark, "stream_ingest_release", sf_dir, _build),
        "append",
        "ingest_release",
    )


@register(
    "stream_warc_ingest",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           md5(text) AS payload_md5
    FROM documents
    """,
    doc="Continuous crawl ingest into WARC archives: each microbatch "
    "of the documents stream commits its records as gzip-membered "
    ".warc.gz shard files (doc_id % 4, executor-side atomic renames) "
    "sealed by a per-batch _SUCCESS marker — the custom-container "
    "equivalent of the parquet sink's _spark_metadata exactly-once "
    "(streaming/warc_ingest.py: replayed batches are detected sealed "
    "and skipped; a mid-batch crash rewrites byte-identical files "
    "then seals; readers consume only sealed dirs — the restart "
    "matrix is test-pinned). The query drives the bounded stream to "
    "completion under a fresh out/checkpoint dir, then answers FROM "
    "the sealed archives via binaryFile + parse_warc, so the hash "
    "check covers the container bytes end-to-end. Oracle: every "
    "document exactly once with its byte length and digest.",
    tags=["streaming", "sources", "llm-pipeline"],
)
def stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.warc_ingest import read_ingested, run_warc_ingest

    out = tempfile.mkdtemp(prefix="spark_graft_warcingest_")
    try:
        run_warc_ingest(
            _docs_stream(spark, sf_dir),
            os.path.join(out, "archives"),
            os.path.join(out, "checkpoint"),
        )
        # pin off the tmp files before cleanup (the state-table
        # precedent: the read-back frame's lineage roots in out/)
        return read_ingested(spark, os.path.join(out, "archives")).localCheckpoint()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _cluster_maintenance_oracle() -> str:
    from .dedup import _CLUSTERS_DELTA_ORACLE

    return _CLUSTERS_DELTA_ORACLE


@register(
    "stream_cluster_maintenance",
    oracle=_cluster_maintenance_oracle(),
    doc="Continuous cluster maintenance on the ingest stream: every "
    "arriving microbatch of crawl documents is folded into the "
    "standing duplicate-cluster assignment via the incremental merge "
    "(streaming/cluster_maintenance.py -> dedup.clusters_delta_frame) "
    "— the streaming form of dedup_clusters_delta, legal because "
    "increments provably compose (two merges == one == from-scratch, "
    "pinned in test_components.py). Per batch only new-digest reps "
    "are sketched and components run on the contracted touched "
    "graph, so steady-state ingest cost tracks the batch, never the "
    "standing corpus. Oracle = the from-scratch union clustering "
    "(dedup_clusters_lsh's recursive CTE + the from_delta flag) — "
    "the stream's final state must land exactly there. Multi-"
    "microbatch composition exercised in test_streaming.py.",
    tags=["streaming", "dedup", "llm-pipeline"],
)
def stream_cluster_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import DELTA_MOD, DELTA_REM, _delta_base_labels
    from ..sources.tables import table
    from ..streaming.cluster_maintenance import run_cluster_maintenance

    docs = table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_REM
    base = docs.where(~is_delta)
    # the standing assignment is STORED state at deployment (the
    # module's storage-table tier); reuse the per-session frozen-base
    # artifact rather than re-deriving the base clustering per stream
    # start — shared with dedup_clusters_delta_merge_only
    # labels-only artifact: the index-less fold never reads the stored
    # index, so don't pay its corpus-rep sketch build here
    base_labels = _delta_base_labels(spark, sf_dir)
    stream = _docs_stream(spark, sf_dir).where(
        F.col("doc_id") % DELTA_MOD == DELTA_REM
    )
    # index-less driver-held fold: at local scale the fused per-batch
    # re-sketch is FASTER than probing + advancing the stored index
    # (measured r11: 4.6 s vs 9.0 s converged — the index's advantage
    # is corpus-scale sketch avoidance, a 100 TB property); the indexed
    # fold is exercised for correctness in test_streaming.py and the
    # storage-table mode always runs it
    out = run_cluster_maintenance(
        stream, base.select("doc_id", "text"), base_labels
    )
    return out.withColumn(
        "from_delta", F.col("doc_id") % DELTA_MOD == DELTA_REM
    )


@register(
    "stream_cluster_maintenance_table",
    oracle=_cluster_maintenance_oracle(),
    doc="The DEPLOYMENT tier of stream_cluster_maintenance priced "
    "end-to-end (r11 verdict ask #4): standing state as crash-"
    "surviving parquet STATE TABLES under a fresh state_dir — frozen "
    "base labels + the stored groups/sketch/bands index written once, "
    "then per microbatch the append-only index increment, the label "
    "upserts (_SUCCESS-gated exactly-once), and a real "
    "checkpointLocation. Same oracle as the driver-held row (the "
    "final state must equal the from-scratch union clustering); what "
    "this row adds is timing visibility for everything the driver-"
    "held form does not pay — index advance, state-table IO, commit "
    "markers. The memoized frozen-base artifact seeds the store "
    "(building it is dedup_clusters_delta_merge_only's priced cost, "
    "not an ingest cost); per-batch work is delta-bounded by "
    "construction (test-pinned in test_streaming.py).",
    tags=["streaming", "dedup", "llm-pipeline"],
)
def stream_cluster_maintenance_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from ..operators.dedup import (
        DELTA_MOD,
        DELTA_REM,
        _delta_base_artifact,
    )
    from ..sources.tables import table
    from ..streaming.cluster_maintenance import run_cluster_maintenance

    docs = table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_REM
    base = docs.where(~is_delta)
    base_labels, index = _delta_base_artifact(spark, sf_dir)
    stream = _docs_stream(spark, sf_dir).where(is_delta)
    state_dir = tempfile.mkdtemp(prefix="spark_graft_cmstate_")
    try:
        out = run_cluster_maintenance(
            stream,
            base.select("doc_id", "text"),
            base_labels,
            base_index=index,
            state_dir=state_dir,
        )
        # pin the result off the state tables before cleanup — the
        # label lineage may root in state_dir parquet on degenerate
        # (zero-batch) runs
        return out.withColumn(
            "from_delta", F.col("doc_id") % DELTA_MOD == DELTA_REM
        ).localCheckpoint()
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


from .sketches import CMS_ORACLE, cms_cells_frame, cms_estimate_frame  # noqa: E402


@register(
    "stream_heavy_hitters",
    oracle=CMS_ORACLE,
    doc="Streaming count-min sketch: documents arrive as a stream, each "
    "token occurrence explodes to its 4 (row, bucket) cells, and the "
    "cells groupBy COUNT runs as a streaming aggregation in complete "
    "mode — the aggregation STATE IS the sketch, bounded at D*W=256 "
    "rows no matter how much stream has passed (the whole point of a "
    "turnstile sketch at ingest: counters merge by ADDITION, so "
    "microbatch boundaries and arrival order provably cannot change "
    "the final state). The completed sketch is then densified to the "
    "one-row broadcast array and probed with the static vocabulary "
    "batch-side; output is hash-identical to the batch cms_heavy_"
    "hitters oracle. Streaming twin of cms_heavy_hitters.",
    tags=["streaming", "sketches"],
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens_col
    from ..sources.tables import table as _table

    stoks = _docs_stream(spark, sf_dir).select(
        F.explode(tokens_col("text")).alias("tok")
    )
    cms = cms_cells_frame(stoks).groupBy("d", "b").agg(
        F.count("*").alias("cnt")
    )
    built = _run(cms, "complete", "cms_hh")
    toks = _table(spark, sf_dir, "documents").select(
        F.explode(tokens_col("text")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("true_cnt"))
    return cms_estimate_frame(built, counts)
