"""Sources: parquet table scans + the reference's whole-file text scan.

The reference's only source is a whole-file text scan — one record per
input file, ``(filename, contents)`` (``mr/worker.go:194-206``,
``main/mrsequential.go:39-51``); its only sink is ``"key value\\n"`` text
lines (``mr/worker.go:115``). Here the primary source is columnar parquet
(scan + predicate pushdown + column pruning come from Spark's
DataSource V2), and the whole-file scan is kept as a compatibility
source for MR-style corpora.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Catalyst prunes columns / pushes filters.

    ``events.ts`` must come out as microsecond TIMESTAMP_NTZ — the naive
    wall-clock DuckDB sees on the same file — whatever physical layout the
    generator used. Three layouts are handled:

    - INT64 TIMESTAMP(NANOS): Spark rejects it natively; read as raw long
      (legacy nanosAsLong conf) and truncate to micros via timestampadd on
      an NTZ epoch base (timezone-independent).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): native TIMESTAMP_NTZ read
      (inferTimestampNTZ, default on in Spark 4) — pass through.
    - TIMESTAMP(MICROS, isAdjustedToUTC=true): an instant; re-render its
      UTC wall clock as NTZ via unix_micros (session-TZ independent).
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        from pyspark.sql import types as T

        dt = raw.schema["ts"].dataType
        if isinstance(dt, T.TimestampNTZType):
            return raw
        if isinstance(dt, T.StringType):
            # ISO naive strings: a direct NTZ cast is session-TZ free
            # (defensive — a layout the generator could ship next)
            return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        if isinstance(dt, T.LongType):
            micros = _int64_ts_micros_expr(f"{sf_dir}/{name}.parquet")
        else:  # instant (TIMESTAMP type)
            micros = "unix_micros(ts)"
        return raw.withColumn(
            "ts",
            F.expr(
                f"timestampadd(MICROSECOND, {micros}, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_TS_EXPR_CACHE: dict[str, str] = {}


def _int64_ts_micros_expr(path: str) -> str:
    """SQL expression turning a raw-INT64 ``ts`` into epoch micros,
    for the events parquet at ``path``.

    TIMESTAMP(NANOS) is the layout the generator has actually shipped
    (``ts div 1000``), but a plain un-annotated INT64 epoch column
    would land in the same LongType branch — so infer the unit from
    footer metadata instead of assuming. pyarrow distinguishes
    timestamp[ns] (nanos for sure) from bare int64; for bare int64 the
    column's footer max statistic picks the unit by magnitude (epoch
    values in this era: seconds ~2e9, millis ~2e12, micros ~2e15,
    nanos ~2e18 — three orders of magnitude apart, unambiguous).
    Footer-only (no Spark jobs), memoized per path — the inferred unit
    is constant for a given file set.
    """
    cached = _TS_EXPR_CACHE.get(path)
    if cached is not None:
        return cached

    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    ) or [path]
    f = pq.ParquetFile(files[0])
    typ = f.schema_arrow.field("ts").type
    if str(typ).startswith("timestamp[ns"):
        expr = "ts div 1000"
    else:
        idx = f.schema_arrow.get_field_index("ts")
        stats = f.metadata.row_group(0).column(idx).statistics
        mx = stats.max if stats is not None and stats.has_min_max else None
        if mx is None:
            expr = "ts div 1000"  # no stats: the historical nanos assumption
        elif mx < 10**11:
            expr = "ts * 1000000"  # seconds
        elif mx < 10**14:
            expr = "ts * 1000"  # millis
        elif mx < 10**17:
            expr = "ts"  # micros
        else:
            expr = "ts div 1000"  # nanos
    _TS_EXPR_CACHE[path] = expr
    return expr


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def scan_text_corpus(spark: SparkSession, path_glob: str) -> DataFrame:
    """Whole-file text scan: one row per file, ``(doc, content)``.

    Mirrors the reference's map-input contract ``Map(filename, contents)``
    (``mr/worker.go:54-60``): the file is the split. On a cluster this
    scales to millions of files — Spark's FileScan enumerates/packs splits
    on the driver and reads in parallel; `wholetext` keeps one record per
    file exactly like ``prepareMapInput``.

    A wildcard basename (``data/pg-*.txt``) is read as its directory with
    ``pathGlobFilter``: a glob in the load path makes FileStreamSink's
    metadata-dir probe log a full FileNotFoundException stack at WARN on
    every scan. Directories, literal files and wildcards in directory
    parts load as given.
    """
    reader = spark.read
    head, base = os.path.split(path_glob)
    if head and not _has_glob(head) and _has_glob(base):
        reader = reader.option("pathGlobFilter", base)
        path_glob = head
    return (
        reader.text(path_glob, wholetext=True)
        .withColumn("doc", F.element_at(F.split(F.input_file_name(), "/"), -1))
        .select("doc", F.col("value").alias("content"))
    )


def _has_glob(path: str) -> bool:
    """Whether a path holds Hadoop glob syntax."""
    return any(c in path for c in "*?[{")


def parquet_num_rows(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet FOOTERS — planner-grade
    metadata, zero Spark jobs and zero data pages read. Sizing loops
    (e.g. the bounded-broadcast chunking in operators/similarity.py)
    need a driver-side integer; footer stats provide it without the
    driver-side ``count()`` action a hot path must not contain. At
    cluster scale this reads the same footers the scan's own planning
    lists."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    files = (
        sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if os.path.isdir(path)
        else [path]
    )
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
