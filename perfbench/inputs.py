"""Seeded benchmark inputs: the repository's sf0.1 test tables, remapped.

``data/`` holds a cut of the sf0.1 tables (``make_data.py``): the lines of the
first 3,000 orders, the whole part table and the whole 5,000-document corpus.
A workload seed remaps them, as ``tools/make_scale.py`` does for replicas:

- ``l_partkey`` and ``l_suppkey`` go through seeded permutations of their key
  domains, so box categories, geometry and pair distances change while
  per-frame box counts and line numbers stay;
- ``documents.text`` goes through a seeded permutation of the corpus
  vocabulary, so Bloom positions and quality verdicts change while
  length, Zipf and duplicate structure stay.

The work per iteration is the same on every seed; the values are not. The
registry's DuckDB oracles are SQL over the tables, so they apply on any seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SUPPLIERS = 1000  # sf0.1 supplier keys are 0..999


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def _set(table: pa.Table, column: str, values) -> pa.Table:
    i = table.schema.get_field_index(column)
    return table.set_column(i, table.schema.field(i), pa.array(values, table.schema.field(i).type))


def _remap_lineitem(li: pa.Table, n_parts: int, rng: np.random.Generator) -> pa.Table:
    part_perm = rng.permutation(n_parts)
    supp_perm = rng.permutation(SUPPLIERS)
    li = _set(li, "l_partkey", part_perm[li["l_partkey"].to_numpy()])
    return _set(li, "l_suppkey", supp_perm[li["l_suppkey"].to_numpy()])


def _remap_documents(docs: pa.Table, rng: np.random.Generator) -> pa.Table:
    texts = docs["text"].to_pylist()
    vocab = sorted({t for s in texts for t in s.split(" ") if t})
    perm = rng.permutation(len(vocab))
    mapping = {w: vocab[perm[i]] for i, w in enumerate(vocab)}
    texts = [" ".join(mapping.get(t, t) for t in s.split(" ")) for s in texts]
    docs = _set(docs, "text", texts)
    return _set(docs, "n_chars", [len(s) for s in texts])


def write_tables(out_dir: str, seed: int, orders: int, n_docs: int) -> None:
    """Write ``lineitem`` (lines of orders below ``orders``), ``part`` and
    ``documents`` (the first ``n_docs``) for one seed into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    li = _read("lineitem")
    part = _read("part")
    li = li.filter(pc.less(li["l_orderkey"], orders))
    tables = {
        "lineitem": _remap_lineitem(li, part.num_rows, rng),
        "part": part,
        "documents": _remap_documents(_read("documents").slice(0, n_docs), rng),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
