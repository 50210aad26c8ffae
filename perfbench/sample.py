"""Make the benchmark's input sample from the sf0.1 tables (TESTDATA.md).

    python3 perfbench/sample.py <sf0.1 directory>

Writes ``perfbench/data/{documents,orders,lineitem,events}.parquet``:
every ``documents`` row, and the first ``SUITE_ROWS`` rows of the
other three tables (``lineitem``: the rows of those orders), keeping
only the columns the operator-suite queries read.  The benchmark
generates all its inputs from these files and the seed, so its runs
need nothing outside the checkout.
"""

from __future__ import annotations

import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SUITE_ROWS = {"orders": 6000, "events": 5000}
COLUMNS = {
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}


def main(sf_dir: str) -> None:
    os.makedirs(DATA, exist_ok=True)
    tables = {
        name: pq.read_table(os.path.join(sf_dir, f"{name}.parquet"), columns=cols)
        for name, cols in COLUMNS.items()
    }
    orders = tables["orders"].sort_by("o_orderkey").slice(0, SUITE_ROWS["orders"])
    keys = orders.column("o_orderkey")
    li = tables["lineitem"]
    tables["orders"] = orders
    tables["lineitem"] = li.filter(pc.is_in(li.column("l_orderkey"), keys)).sort_by(
        [("l_orderkey", "ascending"), ("l_partkey", "ascending"), ("l_suppkey", "ascending")]
    )
    tables["events"] = tables["events"].sort_by("event_id").slice(0, SUITE_ROWS["events"])
    tables["documents"] = tables["documents"].sort_by("doc_id")
    for name, table in tables.items():
        pq.write_table(table, os.path.join(DATA, f"{name}.parquet"), compression="zstd")
        print(f"{name}: {table.num_rows} rows")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
