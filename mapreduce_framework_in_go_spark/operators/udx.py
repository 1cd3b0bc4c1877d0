"""User-defined extension surface: native Python UDTF and grouped-agg
pandas UDAF, each oracle-checked.

The reference's extensibility contract is the Go-plugin Map/Reduce pair
(``mrapps/*.go`` loaded via ``plugin.Open``, ``mr/worker.go:30-40``);
its Spark-native analogues are already first-class here via Arrow
(``operators/mapreduce.py:mr_run`` = mapInPandas map, collect_list
per key, mapInArrow reduce,
``operators/multimodal.py`` = mapInPandas over binary columns). This
module completes the UDF/UDAF/UDTF trio with the two remaining API
shapes:

- ``udtf_token_positions``: a Python UDTF (``@udtf``) applied as a
  LATERAL table function in SQL — one input row fans out to N output
  rows. UDTFs are row-at-a-time Python (no Arrow batching in the eval
  loop), i.e. the SLOW path: this query is the extension-contract
  demo, deliberately bounded to a small slice of the corpus; the hot
  equivalent of the same fan-out is the built-in posexplode the text
  operators use. Output is oracle-checked against DuckDB's
  unnest-with-index, which pins the Python tokenizer to the shared
  letter-run contract.

- ``udaf_median_acctbal``: a grouped-aggregate pandas UDF
  (PandasUDFType.GROUPED_AGG) — whole-group Series in, scalar out,
  Arrow-transferred. Median is the canonical "not expressible as a
  sum of partials" aggregate; Spark routes it through the
  Arrow group-aggregate node (ArrowAggregatePython). The oracle is DuckDB ``median`` (both sides
  interpolate the even-count midpoint; the 1-ulp association
  difference between (a+b)/2 and a+(b-a)*0.5 is absorbed by round-6).

Both functions are defined INSIDE the query body so cloudpickle ships
them by value — no executor-side import of this package is needed
(the module-level-reference pitfall documented in CLAUDE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import table

UDTF_DOC_LIMIT = 25  # UDTF demo is deliberately small — see module doc


@register(
    "udtf_token_positions",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[\\p{{L}}]+') AS toks
      FROM documents WHERE doc_id < {UDTF_DOC_LIMIT}
    )
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS token
    FROM toks, unnest(range(1, len(toks) + 1)) u(i)
    """,
    doc="Python UDTF applied as a LATERAL table function: each "
    "document row fans out to one row per token with its position. "
    "Row-at-a-time Python — the extension-contract demo (bounded "
    f"to doc_id < {UDTF_DOC_LIMIT}); the hot-path form of this exact "
    "fan-out is posexplode (see textops). The Python tokenizer "
    "([^\\W\\d_]+ = Unicode letter runs) is pinned to the shared "
    "tokenization contract by the oracle comparison.",
    tags=["udx", "extension"],
)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from pyspark.sql.functions import udtf

    letter_run = re.compile(r"[^\W\d_]+")

    @udtf(returnType="pos: long, token: string")
    class TokenPositions:
        def eval(self, text: str):
            for i, tok in enumerate(letter_run.findall(text or "")):
                yield i, tok

    spark.udtf.register("token_positions", TokenPositions)
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") < UDTF_DOC_LIMIT
    )
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.token
        FROM udtf_docs d, LATERAL token_positions(d.text) s
        """
    )


@register(
    "udaf_median_acctbal",
    oracle="""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(median(c_acctbal), 6) AS median_acctbal
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="Grouped-aggregate pandas UDAF (Arrow whole-group transfer): "
    "exact median of customer account balance per nation — the "
    "canonical holistic aggregate that cannot be folded from "
    "partials. Spark plans the Arrow group aggregate after the "
    "group shuffle; at scale the same query would pre-filter and rely on "
    "the GK sketch (approx_percentile_prices) unless exactness is "
    "required. Oracle: DuckDB median (same midpoint interpolation, "
    "round-6 absorbs ulp-level association differences).",
    tags=["udx", "extension"],
)
def udaf_median_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: this module has `from __future__ import annotations`, which
    # stringifies hints; pandas_udf infers GROUPED_AGG from the REAL
    # (Series -> float) signature, so set annotations explicitly.
    def _median(v):
        return float(v.median())

    _median.__annotations__ = {"v": pd.Series, "return": float}
    median_udaf = pandas_udf("double")(_median)

    # Spark forbids mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg() — the group count is a pandas UDAF too.
    def _count(v):
        return len(v)

    _count.__annotations__ = {"v": pd.Series, "return": int}
    count_udaf = pandas_udf("long")(_count)

    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            count_udaf(F.col("c_acctbal")).alias("n_customers"),
            F.round(median_udaf(F.col("c_acctbal")), 6).alias(
                "median_acctbal"
            ),
        )
    )
