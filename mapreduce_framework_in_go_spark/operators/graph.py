"""Iterative graph analytics: PageRank over the supplier co-occurrence
graph, with EXACT integer dataflow so every iteration is hash-checkable.

The reference has no graph surface; connected components
(operators/dedup.py) covers contraction-style iteration. This adds the
other canonical iterative shape — fixed-iteration score propagation —
the way a Spark engine actually runs it: the edge list persists once,
each round is one co-partitioned join plus one groupBy(dst) shuffle,
and the per-round constants ride a broadcast 1-row frame (no driver
actions in the loop).

Determinism contract: floating-point PageRank is order-sensitive
(parallel double sums), so ranks are scaled integers (SCALE = 1e12):
init = SCALE // N, contribution = rank // degree, update =
base + (85 * sum) // 100 — all integer ops, bitwise identical in any
execution order and reproduced verbatim by the DuckDB oracle's chained
CTEs. Max intermediate 85 * SCALE ~ 8.5e13, far under 2^63.

Scale notes (billions of edges): the edge frame would be bucketed by
src so the rank join is exchange-free; each iteration's only movement
is the contribution shuffle to dst — the same cost profile as the
GraphX/Pregel aggregateMessages step. Degree-0 nodes cannot occur (the
co-occurrence graph is symmetric); true dangling-mass handling would
add one 1-row aggregate per round, same dataflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import GenerationSlot
from ..registry import register
from ..sources.tables import table

SCALE = 10**12
PR_ITERS = 3
# Bitmap triangle counting needs n/64 longs per node (n^2/8 bytes of
# total bitmap state): 65536 nodes = 8 KiB/node, 512 MiB total — the
# practical broadcast ceiling. Beyond it, the oriented-intersection
# sparse path applies.
DENSE_NODE_LIMIT = 65536

_CACHE = GenerationSlot()


def _pagerank_oracle() -> str:
    its = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        its.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             (SELECT b FROM base) + (85 * sum(r.r // d.degree)) // 100 AS r
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""
        )
        prev = f"r{i}"
    iters = ",\n    ".join(its)
    return f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_suppkey <> b.l_suppkey
    ),
    deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1),
    n AS (SELECT count(*) AS n_nodes FROM deg),
    base AS (SELECT (({SCALE} // n_nodes) * 15) // 100 AS b FROM n),
    r0 AS (SELECT src AS node, {SCALE} // n_nodes AS r FROM deg, n),
    {iters}
    SELECT node AS l_suppkey, CAST(r AS BIGINT) AS rank_scaled,
           round(r / {float(SCALE)}, 9) AS rank
    FROM r{PR_ITERS}
    """


@register(
    "supplier_pagerank",
    oracle=_pagerank_oracle(),
    doc=f"{PR_ITERS}-iteration PageRank (d=0.85) over the supplier "
    "co-occurrence graph (suppliers sharing an order are neighbors). "
    "Exact integer arithmetic end-to-end — see module docstring — so "
    "the oracle's chained CTEs reproduce every rank bitwise. Edge list "
    "persists once; each round is one join + one groupBy(dst) shuffle "
    "with broadcast constants, the Pregel aggregateMessages profile.",
    tags=["graph"],
)
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    _CACHE.evict()
    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_suppkey").alias("src"))
    b = items.select("l_orderkey", F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    _CACHE.append(edges)
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    nn = deg.agg(F.count("*").alias("n_nodes"))
    base = nn.select(
        F.expr(f"(({SCALE} div n_nodes) * 15) div 100").alias("b")
    )
    r = (
        deg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(nn))
        .select("node", F.expr(f"{SCALE} div n_nodes").alias("r"))
    )
    for _ in range(PR_ITERS):
        contribs = (
            edges.join(r, edges["src"] == r["node"])
            .join(deg, "src")
            .select("dst", F.expr("r div degree").alias("c"))
        )
        r = (
            contribs.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(base))
            .select(
                F.col("dst").alias("node"),
                F.expr("b + (85 * s) div 100").alias("r"),
            )
        )
    return r.select(
        F.col("node").alias("l_suppkey"),
        F.col("r").cast("long").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(SCALE)), 9).alias("rank"),
    )


_TRI_ORACLE = """
    WITH items AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_suppkey <> b.l_suppkey
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM edges e1
      JOIN edges e2 ON e2.src = e1.dst AND e2.dst > e1.dst
      JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
      WHERE e1.src < e1.dst
    ),
    per_node AS (
      SELECT node, count(*) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY 1
    ),
    deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1)
    SELECT d.node AS l_suppkey,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(p.t, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN d.degree >= 2
                      THEN coalesce(p.t, 0) * 2.0 / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 9) AS clustering_coef
    FROM deg d LEFT JOIN per_node p USING (node)
    """


@register(
    "triangle_count",
    oracle=_TRI_ORACLE,
    doc="Per-node triangle count + local clustering coefficient over "
    "the supplier co-occurrence graph, via DEGREE ORIENTATION: each "
    "undirected edge is kept only in the (degree, id)-ascending "
    "direction, so every wedge is enumerated at its lowest-degree "
    "vertex and the oriented out-degree is O(sqrt(m)) — the pair "
    "fan-out that makes distributed triangle counting feasible (the "
    "naive wedge count at a hub is quadratic in its degree; oriented, "
    "the hub is the TARGET of its high-degree neighbors' wedges, "
    "never the pivot). Wedges close via one equi-join back to the "
    "oriented edge list. Each triangle is found exactly once. The "
    "oracle is the independent naive a<b<c three-way self-join.",
    tags=["graph"],
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import parquet_num_rows

    items = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    a = items.select("l_orderkey", F.col("l_suppkey").alias("src"))
    b = items.select("l_orderkey", F.col("l_suppkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .persist()
    )
    _CACHE.append(edges)
    # Physical-strategy pick by node-domain size (parquet footer count,
    # no Spark action): the co-occurrence graph over a dimension-sized
    # supplier domain is DENSE (91% at sf0.1) — adjacency bitmaps beat
    # neighborhood intersection ~3x there; past the bitmap-width budget
    # (n^2/8 bytes of total state) the sparse oriented path takes over.
    n_nodes = parquet_num_rows(sf_dir, "supplier")
    impl = triangles_per_node_dense if n_nodes <= DENSE_NODE_LIMIT else triangles_per_node
    return impl(edges).withColumnRenamed("node", "l_suppkey")


def triangles_per_node_dense(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via fixed-width adjacency BITMAPS — the
    dense-graph physical strategy (node domain small enough that one
    node's neighborhood packs into an array<long> of ceil(n/64) words;
    at 1000 nodes that is 16 longs = 128 bytes/node, 125 KB total).

    For a symmetric edge set, t(x) = (1/2) * sum_{y in N(x)}
    |N(x) ∩ N(y)| — each triangle {x,y,z} is seen from x twice (via y
    and via z). With bitmaps the intersection size is a zip_with of
    word-ANDs + bit_count: ~16 long ops per edge instead of a per-row
    hash-set intersection, and NO per-triangle row ever materializes —
    on a 91%-dense 1000-node graph that removes the Θ(#triangles) =
    1.2e8-row stage entirely. The dense index, word count and bitmap
    table are all dimension-sized (broadcast); the only corpus-sized
    pass is one broadcast-join sweep over the edge list into a
    groupBy(src). Falls over when the node domain outgrows bitmap
    width (n^2/8 bytes of total bitmap state) — that is the sparse
    regime where the oriented-intersection `triangles_per_node` path
    below is the right plan; `triangle_count` picks by domain size
    (parquet footer count, no Spark action).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("degree")).select(
        F.col("src").alias("node"), "degree"
    )
    idx = deg.select(
        "node",
        (F.row_number().over(Window.orderBy("node")) - 1).alias("j"),
    )
    nw = idx.agg(
        (F.floor(F.max("j") / 64) + 1).cast("int").alias("nw")
    )
    nbrs = (
        edges.join(
            F.broadcast(idx.select(F.col("node").alias("dst"), "j")), "dst"
        )
        .groupBy("src")
        .agg(F.collect_list("j").alias("nbrs"))
        .crossJoin(F.broadcast(nw))
    )
    bitmaps = nbrs.select(
        F.col("src").alias("node"),
        F.expr(
            "aggregate(nbrs, array_repeat(CAST(0 AS BIGINT), nw), "
            "(acc, j) -> transform(acc, (w, wi) -> "
            "IF(wi = CAST(j DIV 64 AS INT), "
            "w | shiftleft(CAST(1 AS BIGINT), CAST(j % 64 AS INT)), w)))"
        ).alias("bm"),
    )
    common = (
        edges.join(
            F.broadcast(
                bitmaps.select(F.col("node").alias("src"), F.col("bm").alias("bx"))
            ),
            "src",
        )
        .join(
            F.broadcast(
                bitmaps.select(F.col("node").alias("dst"), F.col("bm").alias("by"))
            ),
            "dst",
        )
        .select(
            "src",
            F.expr(
                "aggregate(zip_with(bx, by, (a, b) -> bit_count(a & b)), "
                "0, (s, x) -> s + x)"
            ).alias("c"),
        )
    )
    per_node = (
        common.groupBy(F.col("src").alias("node"))
        .agg((F.sum("c") / 2).cast("long").alias("t"))
    )
    return _clustering_output(deg, per_node)


def triangles_per_node(edges: DataFrame) -> DataFrame:
    """Degree-oriented triangle counting over a SYMMETRIC distinct edge
    frame (src, dst) — see the triangle_count doc for the cost
    argument. Returns (node, degree, n_triangles, clustering_coef).

    Formulation: edge-local adjacency intersection. After orienting
    every edge (degree, id)-ascending, each triangle {a -> b, a -> c,
    b -> c} is found exactly once at its lowest edge (a, b) as
    c ∈ N+(a) ∩ N+(b). Per-node attribution is then algebraic for the
    pivot (a) and middle (b) — a sum of per-edge intersection COUNTS —
    and only the top vertex (c) needs the intersection CONTENTS,
    exploded one row per triangle straight into a map-side-combined
    count. Compared with the classic wedge-join (enumerate out-pairs,
    semi-join the closing edge), this never shuffles the Θ(#wedges)
    frame: the oriented adjacency lists (O(m) total, out-degree capped
    at O(sqrt(m)) by the orientation) join onto the edge list — here
    via broadcast; at billions of edges the same joins hash-partition
    on v/w — and the intersection runs inside codegen. On the dense
    co-occurrence graph this is ~3x faster than the wedge join; the
    per-triangle explode is inherent to exact per-node counts (the
    oracle's three-way join pays the same)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("degree")).select(
        F.col("src").alias("node"), "degree"
    )
    # Orient each symmetric edge in the (degree, id)-ascending direction.
    o = (
        edges.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("degree", "ds")
        .join(
            deg.select(F.col("node").alias("dst"), F.col("degree").alias("dd")),
            "dst",
        )
        .where(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        .persist()
    )
    _CACHE.append(o)
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    closed = (
        o.join(
            F.broadcast(adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv"))),
            F.col("src") == F.col("v"),
        )
        .join(
            F.broadcast(adj.select(F.col("src").alias("w"), F.col("nbrs").alias("nw"))),
            F.col("dst") == F.col("w"),
        )
        .select("src", "dst", F.array_intersect("nv", "nw").alias("ix"))
        .withColumn("cnt", F.size("ix"))
        .where(F.col("cnt") > 0)
    )
    # Pivot/middle attribution sums per-edge counts (O(m) rows); only
    # the top vertex pays one raw-long row per triangle, folded by the
    # map-side combine — no struct construction in the hot explode.
    pivot_mid = closed.select(
        F.explode(F.array("src", "dst")).alias("node"),
        F.col("cnt").cast("long").alias("c"),
    )
    top = closed.select(
        F.explode("ix").alias("node"), F.lit(1).cast("long").alias("c")
    )
    per_node = (
        pivot_mid.unionAll(top)
        .groupBy("node")
        .agg(F.sum("c").alias("t"))
    )
    return _clustering_output(deg, per_node)


def _clustering_output(deg: DataFrame, per_node: DataFrame) -> DataFrame:
    """(node, degree) x (node, t) -> the shared output schema."""
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    F.coalesce("t", F.lit(0))
                    * 2.0
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(0.0),
                9,
            ).alias("clustering_coef"),
        )
    )
