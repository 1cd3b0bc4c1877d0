"""Sinks.

The reference's only sink is newline-delimited ``"key value"`` text, one
file per reduce partition (``mr/worker.go:115,136``; oracle single file
``main/mrsequential.go:61,81``). Output correctness in the reference is
judged on the *merged sorted* line set (``main/test-mr.sh:59``), so the
partition count is not observable — we default to Spark's parallel text
writer and offer a canonical single-sorted-file mode for oracle diffs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kv_lines(df: DataFrame, key: str = "key", value: str = "value") -> DataFrame:
    """Project a 2-column frame into the reference's ``"key value"`` line."""
    return df.select(
        F.concat_ws(" ", F.col(key).cast("string"), F.col(value).cast("string")).alias(
            "value"
        )
    )


def write_kv_text(
    df: DataFrame,
    path: str,
    key: str = "key",
    value: str = "value",
    canonical: bool = False,
) -> None:
    """Write ``"key value"`` text lines.

    ``canonical=True`` emits one globally sorted file (the shape of the
    reference oracle's ``mr-out-0``): one exchange into a single
    partition, sorted there. Unlike ``orderBy``, this needs no range
    sampling job, so the upstream is computed once; unlike ``coalesce(1)``
    it keeps the upstream stage's parallelism. At 100 TB you would never
    do this — leave ``canonical=False`` so each task writes its own file
    through the committer, exactly like ``mr-out-Y`` per reduce bucket.
    """
    lines = kv_lines(df, key, value)
    if canonical:
        lines = lines.repartition(1).sortWithinPartitions("value")
    lines.write.mode("overwrite").text(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
