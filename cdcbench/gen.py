"""Seeded change-event generator for the benchmark.

The engine's own generator (``data_pipeline_spark.gen``) has no seed: row i
is a pure function of i. The benchmark needs inputs that change with
``--seed`` (keys, ops, payloads) while every count stays fixed, so it draws
them here with numpy and writes parquet with pyarrow on the driver, before
the JVM does any timed work. The engine only ever sees the parquet files.

Event schema (the engine's change-event layout, see FIXTURES.md):
  lsn:int64, batch_id:int32, op:string, doc_id:string,
  tokens:array<int32>, n_tok:int32, source:string
Deletes carry null payloads. LSNs are unique across a workload, so the
last-writer-wins order is total.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ("web", "books", "code", "wiki")
MIN_LEN, MAX_LEN = 8, 64
# op mix of data_pipeline_spark.gen.gen_event_log: 35% insert, 40% update,
# 5% delete, the rest upsert
OP_NAMES = ("insert", "update", "delete", "upsert")
OP_CUTS = (0.35, 0.75, 0.80)
# share of the non-base events that hit the seed's hot doc
HOT_FRAC = 0.10

EVENT_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("batch_id", pa.int32()),
        ("op", pa.string()),
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


class KeySpace:
    """``n_docs`` distinct doc ids drawn from the seed, plus the hot doc."""

    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng([seed, 0])
        ids = rng.choice(10**9, size=n_docs, replace=False)
        self.keys = np.array([f"doc_{i:09d}" for i in ids], dtype=object)
        self.hot = int(rng.integers(n_docs))

    def __len__(self) -> int:
        return len(self.keys)


def _tokens(rng: np.random.Generator, lengths: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def make_events(
    seed: int,
    stream: int,
    keys: KeySpace,
    lsn0: int,
    n: int,
    batch_id: int,
    inserts_only: bool = False,
) -> pa.Table:
    """``n`` events with LSNs ``lsn0 .. lsn0+n-1``.

    ``stream`` separates independent draws under one seed (one per file).
    ``HOT_FRAC`` of the events hit the seed's hot doc; the rest pick a doc
    uniformly. ``inserts_only`` writes one insert for each of the first
    ``n`` docs (the seed base). Rows are shuffled so a file's order says
    nothing about LSN order.
    """
    rng = np.random.default_rng([seed, 1, stream])
    if inserts_only:
        ords = np.arange(n)
        op_idx = np.zeros(n, dtype=np.int8)
    else:
        ords = rng.integers(0, len(keys), size=n)
        ords[rng.random(n) < HOT_FRAC] = keys.hot
        op_idx = np.searchsorted(OP_CUTS, rng.random(n), side="right").astype(np.int8)
    is_del = op_idx == OP_NAMES.index("delete")
    lengths = rng.integers(MIN_LEN, MAX_LEN + 1, size=n).astype(np.int32)
    lengths[is_del] = 0
    tokens = _tokens(rng, lengths)
    mask = pa.array(is_del)
    src_idx = rng.integers(0, len(SOURCES), size=n)
    perm = rng.permutation(n)
    lsn = np.arange(lsn0, lsn0 + n, dtype=np.int64)
    table = pa.table(
        {
            "lsn": pa.array(lsn),
            "batch_id": pa.array(np.full(n, batch_id, dtype=np.int32)),
            "op": pa.array(np.array(OP_NAMES, dtype=object)[op_idx]),
            "doc_id": pa.array(keys.keys[ords]),
            "tokens": pa.ListArray.from_arrays(
                tokens.offsets, tokens.values, mask=mask
            ),
            "n_tok": pa.array(lengths, mask=is_del),
            "source": pa.array(np.array(SOURCES, dtype=object)[src_idx], mask=is_del),
        },
        schema=EVENT_SCHEMA,
    )
    return table.take(pa.array(perm))


def write_events(table: pa.Table, path: str) -> str:
    """Write one event file (its directory is created)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path
