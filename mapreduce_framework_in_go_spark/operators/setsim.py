"""Set-similarity pair joins in the V-SMART-Join shape (Metwally &
Faloutsos, VLDB 2012): every pair query of the dedup family runs the
same three phases over ``(doc_id, s)`` element frames, and each phase
is one helper here.

- **Candidate phase.** A bucket self-join (:func:`band_pairs`, the
  MinHash band buckets) or lossless prefix filtering
  (:func:`prefix_candidates`, PPJoin) yields candidate pairs; the
  cost is driven by bucket collisions, never the pair square.
- **Joining phase.** :func:`with_sizes` attaches each endpoint's set
  size ``n_a`` / ``n_b`` from the element frame's per-document counts.
- **Similarity (verify) phase.** :func:`overlap` counts the common
  elements ``n_common`` of every candidate pair, joining the element
  frame RESTRICTED to candidates (never the full posting lists).

:func:`jaccard` is the rounded ratio every site thresholds and emits —
the same ``round(n_common / (n_a + n_b - n_common), 6)`` the DuckDB
oracles compute. Each helper emits exactly the DataFrame calls its
sites used to inline, so physical plans (and oracle hashes) do not
depend on whether a site calls the helper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def jaccard() -> Column:
    """round(|A∩B| / |A∪B|, 6) over ``n_common``, ``n_a``, ``n_b``."""
    return F.round(
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
    )


def overlap(
    cand: DataFrame, sh: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """``cand``'s columns + ``n_common``: the element overlap of every
    candidate pair ``(a, b)``, counted over ``sh`` rows restricted to
    the candidates. Extra candidate columns (sizes, fingerprint counts)
    ride the groupBy key."""
    return (
        cand.join(sh.select(F.col("doc_id").alias(a), "s"), a)
        .join(sh.select(F.col("doc_id").alias(b), "s"), [b, "s"])
        .groupBy(*cand.columns)
        .agg(F.count("*").alias("n_common"))
    )


def with_sizes(
    pairs: DataFrame, sh: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """``pairs`` + ``n_a`` / ``n_b``: each endpoint's element count in
    ``sh``."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return pairs.join(
        sizes.select(F.col("doc_id").alias(a), F.col("n").alias("n_a")), a
    ).join(sizes.select(F.col("doc_id").alias(b), F.col("n").alias("n_b")), b)


def band_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the distinct pairs sharing a
    ``(band_id, band_sig)`` bucket of a ``(doc_id, band_id, band_sig)``
    frame."""
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band_id", "band_sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def ranked_all(sh: DataFrame) -> DataFrame:
    """(doc_id, s, rn, n): EVERY element row with its rank in the
    global rarest-first (df ASC, s ASC) order and its doc's size. The
    rank order is correctness-critical for the lossless prefix and
    positional filters and must stay identical everywhere."""
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    by_doc = Window.partitionBy("doc_id")
    return sh.join(dfreq, "s").select(
        "doc_id",
        "s",
        F.row_number().over(by_doc.orderBy("df", "s")).alias("rn"),
        F.count("*").over(by_doc).alias("n"),
    )


def in_prefix(t: float) -> Column:
    """True for the :func:`ranked_all` rows inside their doc's lossless
    prefix for threshold ``t``: the first ``n - ceil(t*n) + 1``
    elements. A pair whose overlap reaches ``ceil(t*n)`` must collide
    within it, so the symmetric Jaccard candidates and the one-sided
    containment candidates both expose only these rows as join keys."""
    return F.col("rn") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1


def prefix_candidates(
    sh: DataFrame, t: float, positional: bool = True
) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b): every pair that can have Jaccard >= t,
    by lossless prefix filtering over a ``(doc_id, s)`` element frame
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection", WWW'08). Only prefix elements (:func:`in_prefix`) are
    join keys; the length-ratio filter prunes the rest at candidate
    time.

    ``positional`` adds the PPJoin positional filter (§3.2), also
    lossless: both element lists are sorted by the SAME global order,
    so a qualifying pair's EARLIEST common element has the minimum rank
    among its prefix collisions in both docs simultaneously (rank i in
    A, j in B — and it must lie inside both prefixes: rank_A(c) <=
    n_a - |A∩B| + 1 <= the prefix length). Every other common element
    sits after it in both lists, so |A∩B| <= 1 + min(n_a - i, n_b - j);
    J >= t needs |A∩B| >= t/(1+t) * (n_a + n_b), and pairs whose upper
    bound cannot reach that are discarded before the (much wider)
    verify join. The min-rank aggregate rides the same shuffle the
    candidate distinct already paid — the filter is free, and cuts
    surviving candidates ~2x on the documents corpus (asserted in
    test_components)."""
    prefix = ranked_all(sh).where(in_prefix(t))
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "s",
        F.col("rn").alias("rn_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "s",
        F.col("rn").alias("rn_b"),
    )
    cand = (
        pa.join(pb, "s")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_a") >= t * F.col("n_b"))
            & (F.col("n_b") >= t * F.col("n_a"))
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.min("rn_a").alias("i"), F.min("rn_b").alias("j"))
    )
    if positional:
        ubound = 1 + F.least(F.col("n_a") - F.col("i"), F.col("n_b") - F.col("j"))
        cand = cand.where(
            ubound >= F.lit(t) / (1 + t) * (F.col("n_a") + F.col("n_b"))
        )
    return cand.select("doc_a", "doc_b", "n_a", "n_b")
