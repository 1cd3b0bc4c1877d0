"""Compare the generated ``query_mix`` tables with a set of test-data
tables, column by column: physical type, row count, and the value
domain (distinct values of a categorical column, the word set of a
text column, min and max of a numeric one).

    python3 perfbench/domains.py <test-data sf dir> --sf 0.01 --seed 1

Prints one line per column that differs and a closing count. The
comparison is a record for readers of ``tables.py``; no run depends on it.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.tables import build_tables  # noqa: E402

CATEGORICAL_MAX = 50  # a string column with at most this many values is compared as a set


def domain(col: pa.ChunkedArray):
    if pa.types.is_string(col.type):
        values = set(col.to_pylist())
        if len(values) <= CATEGORICAL_MAX:
            return "values", sorted(values)
        words = {w for s in col.to_pylist() for w in s.split()}
        if len(words) <= CATEGORICAL_MAX:
            return "words", sorted(words)
        return "distinct", None
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type) or pa.types.is_timestamp(col.type):
        mm = pc.min_max(col)
        return "range", (mm["min"].as_py(), mm["max"].as_py())
    return "type", None


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("sf_dir")
    p.add_argument("--sf", type=float, required=True)
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args()
    generated = build_tables(np.random.default_rng(args.seed), args.sf)
    differ = 0
    for name, gen in generated.items():
        ref = pq.read_table(os.path.join(args.sf_dir, f"{name}.parquet"))
        if gen.num_rows != ref.num_rows:
            print(f"{name}: {gen.num_rows} rows, test data {ref.num_rows}")
        for field in ref.schema:
            if field.name not in gen.column_names:
                print(f"{name}.{field.name}: missing")
                differ += 1
                continue
            g = gen[field.name]
            if g.type != field.type:
                print(f"{name}.{field.name}: type {g.type}, test data {field.type}")
                differ += 1
                continue
            gk, gd = domain(g)
            rk, rd = domain(ref[field.name])
            if (gk, gd) != (rk, rd) and not (gk == rk == "range"):
                print(f"{name}.{field.name}: {gk} {gd}, test data {rk} {rd}")
                differ += 1
            elif gk == "range" and gd != rd:
                print(f"{name}.{field.name}: range {gd}, test data {rd} (ranges are listed, not counted)")
    print(f"{differ} columns differ in type or in categorical/word domain")
    return 0


if __name__ == "__main__":
    sys.exit(main())
