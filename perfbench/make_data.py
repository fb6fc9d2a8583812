#!/usr/bin/env python3
"""Cut the benchmark's base tables from the repository's sf0.1 test tables.

    python3 perfbench/make_data.py --src <directory holding the sf0.1 parquet tables>

Writes ``perfbench/data/{lineitem,part,documents}.parquet``:

- ``lineitem``: every line of the first ``ORDERS`` orders (``l_orderkey <
  ORDERS``), so each sampled frame keeps all its boxes and line numbers;
- ``part``: the whole part table, the domain ``l_partkey`` is remapped over;
- ``documents``: the whole 5,000-document corpus.

The run itself reads only these files (``inputs.py`` remaps them per seed),
so it needs nothing outside its checkout.
"""

from __future__ import annotations

import argparse
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

ORDERS = 3000
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", required=True)
    args = ap.parse_args()
    os.makedirs(DATA, exist_ok=True)
    li = pq.read_table(os.path.join(args.src, "lineitem.parquet"))
    li = li.filter(pc.less(li["l_orderkey"], ORDERS))
    pq.write_table(li, os.path.join(DATA, "lineitem.parquet"))
    for name in ("part", "documents"):
        pq.write_table(
            pq.read_table(os.path.join(args.src, f"{name}.parquet")),
            os.path.join(DATA, f"{name}.parquet"),
        )
    print(f"lineitem: {li.num_rows} lines of {ORDERS} orders -> {DATA}")


if __name__ == "__main__":
    main()
