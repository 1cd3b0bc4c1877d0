"""Streaming NEAR-duplicate classification at ingest — the streaming
twin of ``operators/dedup.py:dedup_incremental``, completing the
crawl-delta story end-to-end: as delta documents ARRIVE they are
classified against the standing base corpus as exact dups (content
digest), near dups (best LSH-verified Jaccard partner), or new.

Dataflow (all stream-static — the stream never joins itself):

1. per-row sketching: shingles, minhash signature, and band keys are
   PURE COLUMN WORK on the arriving document (the batch pipeline's
   groupBy-aggregated signature collapses to ``array_min`` over
   per-permutation transforms of the row's shingle-hash array — the
   identical arithmetic, so band keys match the batch table bitwise).
   Shared HOF-derived arrays are staged through single-element
   ``explode(array(...))`` Generates so no lambda re-evaluates them.
2. candidate lookup: the exploded band keys LEFT-join the base
   corpus's (static, bucketable) band table; a second static join
   brings in each candidate's shingle set; ``array_intersect`` sizes
   the exact overlap — verification restricted to candidates, exactly
   the batch plan.
3. verdict fold: ``applyInPandasWithState`` groups the candidate rows
   of each delta doc (they all derive from its single input row, so
   they share a microbatch) and emits one verdict row — exact beats
   near beats new, near ties broken by (jaccard DESC, doc_b ASC),
   mirroring the batch window rank.

Scale notes (100 TB base, streaming crawl): the base band table and
shingle-set table are build-once artifacts, persisted bucketed by
(band_id, band_sig) / doc_id on a cluster; per-microbatch cost is the
delta's sketching (map-only) + two bucket-pruned joins + a fold whose
state is one in-flight group per delta doc. Nothing scales with the
base corpus except the (pruned) joins themselves.

Reference anchor: the incremental shape a recurring crawl needs
(SURVEY.md §7 extension surface); classification semantics identical
to dedup_incremental (oracle-shared, see
operators/streaming_queries.py:stream_near_dedup).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import md5_long32, shingles_col, tokens_col
from ..operators.dedup import (
    DELTA_MOD,
    DELTA_REM,
    JACCARD_THRESHOLD,
    MH_A,
    MH_B,
    MH_P,
    MINHASH_K,
    _band_structs,
)
from ..operators.setsim import jaccard

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dup_kind", T.StringType()),
        T.StructField("dup_of", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("done", T.IntegerType())])


def _staged_sketch(delta: DataFrame) -> DataFrame:
    """(doc_id, dig, s_arr, n_a, sig): per-row sketch columns, each
    shared array staged through one Generate so the 16 permutation
    transforms (and the band concats) bind attributes, not
    re-evaluated expressions."""
    with_sh = delta.select(
        "doc_id",
        F.md5("text").alias("dig"),
        F.explode(
            F.array(F.array_distinct(shingles_col(tokens_col("text"), 3)))
        ).alias("s_arr"),
    )
    with_h = with_sh.select(
        "doc_id",
        "dig",
        "s_arr",
        F.explode(
            F.array(F.transform("s_arr", lambda s: md5_long32(s)))
        ).alias("h_arr"),
    )
    def _perm(i: int):
        # a closure, NOT a default-arg lambda: pyspark inspects the
        # callable's arity and would feed a 2-param lambda the element
        # index as its second argument
        return lambda h: (h * MH_A[i] + MH_B[i]) % MH_P

    sig = F.array(
        *[
            F.array_min(F.transform("h_arr", _perm(i)))
            for i in range(MINHASH_K)
        ]
    )
    return with_h.select(
        "doc_id",
        "dig",
        "s_arr",
        F.size("s_arr").alias("n_a"),
        F.explode(F.array(sig)).alias("sig"),
    )


def base_band_table(base_docs: DataFrame) -> DataFrame:
    """(band_id, band_sig, doc_b): the standing corpus's LSH band
    index — the build-once artifact the stream probes (bucketed by
    (band_id, band_sig) on a cluster)."""
    from ..operators.dedup import _band_frame, _minhash_sig, _shingle_rows_from

    sh = _shingle_rows_from(base_docs).withColumn("h", md5_long32(F.col("s")))
    return _band_frame(_minhash_sig(sh)).select(
        "band_id", "band_sig", F.col("doc_id").alias("doc_b")
    )


def base_shingle_sets(base_docs: DataFrame) -> DataFrame:
    """(doc_b, b_s_arr, n_b): each base doc's distinct shingle set."""
    return base_docs.select(
        F.col("doc_id").alias("doc_b"),
        F.array_distinct(shingles_col(tokens_col("text"), 3)).alias("b_s_arr"),
    ).withColumn("n_b", F.size("b_s_arr"))


def base_digest_lookup(base_docs: DataFrame) -> DataFrame:
    """(dig, ex_dup_of): min base doc per content digest."""
    return (
        base_docs.select("doc_id", F.md5("text").alias("dig"))
        .groupBy("dig")
        .agg(F.min("doc_id").alias("ex_dup_of"))
    )


def _verdict(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state
) -> Iterator[pd.DataFrame]:
    # Contract (same as substring_probe._ledger): a delta doc's
    # candidate rows arrive in exactly ONE microbatch — they all derive
    # from one input row. The best-candidate argmax below is only
    # correct then; a doc split across batches would silently emit two
    # partial verdicts in update mode, so fail loudly instead.
    if state.exists:
        raise RuntimeError(
            f"near_dedup: doc {key[0]!r} arrived in a second microbatch; "
            "the single-batch-per-doc source contract is violated and "
            "the verdict would be partial"
        )
    state.update((1,))
    chunks = list(pdf_iter)
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    ex = pdf["ex_dup_of"].dropna()
    if len(ex):
        kind, dup_of, jac = "exact", int(ex.iloc[0]), None
    else:
        near = pdf[pdf["jaccard"].notna() & (pdf["jaccard"] >= JACCARD_THRESHOLD)]
        if len(near):
            best = near.sort_values(
                ["jaccard", "doc_b"], ascending=[False, True]
            ).iloc[0]
            kind, dup_of, jac = "near", int(best["doc_b"]), float(best["jaccard"])
        else:
            kind, dup_of, jac = "new", None, None
    yield pd.DataFrame(
        {
            "doc_id": [key[0]],
            "dup_kind": [kind],
            "dup_of": pd.array([dup_of], dtype="Int64"),
            "jaccard": [jac],
        }
    )


def near_dedup_stream(
    delta_stream: DataFrame,
    base_bands: DataFrame,
    base_sh: DataFrame,
    base_dig: DataFrame,
) -> DataFrame:
    """Classify each arriving delta document against the static base:
    (doc_id, dup_kind, dup_of, jaccard), one row per delta doc."""
    sk = _staged_sketch(delta_stream)
    bands = sk.select(
        "doc_id",
        "dig",
        "s_arr",
        "n_a",
        F.explode_outer(
            F.when(F.col("n_a") > 0, _band_structs())
        ).alias("band"),
    )
    cands = (
        bands.join(
            base_bands,
            (F.col("band.band_id") == base_bands["band_id"])
            & (F.col("band.band_sig") == base_bands["band_sig"]),
            "left",
        )
        .join(base_sh, "doc_b", "left")
        .join(F.broadcast(base_dig), "dig", "left")
        .withColumn(
            "n_common",
            F.when(
                F.col("b_s_arr").isNotNull(),
                F.size(F.array_intersect("s_arr", "b_s_arr")),
            ),
        )
        .select(
            "doc_id",
            "doc_b",
            "ex_dup_of",
            jaccard().alias("jaccard"),
        )
    )
    return cands.groupBy("doc_id").applyInPandasWithState(
        _verdict,
        outputStructType=VERDICT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def delta_filter(docs: DataFrame) -> DataFrame:
    """The crawl-increment split shared with the batch query."""
    return docs.where(F.col("doc_id") % DELTA_MOD == DELTA_REM)
