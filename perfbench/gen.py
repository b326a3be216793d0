"""Seeded input generator for the benchmark.

The base is the engine's own sf0.001 test tables, ``documents`` and
``embeddings``, copied unchanged into ``perfbench/base/`` so that a run
reads nothing outside its checkout. ``derive`` replicates a base table
K times the way ``tools/scale_data.py`` derives larger scale factors:

- key columns are offset per replica (replica r adds r * (max key + 1));
- documents: in replicas > 0, a seeded half of each replica's texts get a
  `` v<r>`` suffix, the rest stay byte-identical to replica 0, so both
  the exact-dup and near-dup paths see mixed work;
- embeddings: replica r shifts every component by r * 0.001 * u_r,
  u_r drawn from [0.5, 1.5), so ANN buckets do not collapse onto
  K identical vectors.

The benchmark seed chooses the row order of every table, which
documents get a suffix and each replica's embedding shift. The same
seed gives the same rows; another seed gives other files with the same
row counts. Everything is numpy + pyarrow, so generation needs no Spark
session.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
TABLES = ("documents", "embeddings")
# key column of each table, offset per replica
KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def base_tables() -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(BASE_DIR, f"{t}.parquet"))
            for t in TABLES}


def _vectors(v: np.ndarray) -> pa.Array:
    n, d = v.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d), pa.int32())
    return pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1), pa.float32()))


def derive(t: pa.Table, name: str, k: int, seed: int) -> pa.Table:
    """Replicate base table ``name`` ``k`` times with per-replica key
    offsets; the seed picks row order, suffixed documents and
    embedding shifts. Each table draws from its own stream."""
    rng = np.random.default_rng([seed, k, TABLES.index(name)])
    n = t.num_rows
    rep = np.repeat(np.arange(k), n)
    key = KEYS[name]
    stride = int(pc.max(t[key]).as_py()) + 1
    cols = {}
    for col in t.column_names:
        arr = t[col].combine_chunks()
        if col == key:
            cols[col] = pa.array(np.tile(arr.to_numpy(), k) + rep * stride, arr.type)
        elif col == "embedding":
            shift = np.arange(k) * 0.001 * rng.uniform(0.5, 1.5, k)
            v = np.stack(arr.to_numpy(zero_copy_only=False))
            cols[col] = _vectors(
                (np.tile(v, (k, 1)) + shift[rep][:, None]).astype(np.float32))
        elif col == "text":
            texts = pa.concat_arrays([arr] * k).to_pylist()
            # exactly half of each later replica, so the seed changes
            # which documents are near-duplicates but not how many
            suffix = np.concatenate([np.zeros(n, bool)] + [
                rng.permutation(n) < n // 2 for _ in range(1, k)])
            for i in np.flatnonzero(suffix):
                texts[i] = f"{texts[i]} v{rep[i]}"
            cols[col] = pa.array(texts, pa.string())
        else:
            cols[col] = pa.concat_arrays([arr] * k)
    return pa.table(cols).take(pa.array(rng.permutation(n * k)))


def generate(out_dir: str, seed: int, k: int, tables) -> dict[str, int]:
    """Derive ``tables`` ``k``-fold with ``seed`` into ``out_dir``, one
    parquet file each; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    base = base_tables()
    rows = {}
    for name in tables:
        t = derive(base[name], name, k, seed)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
