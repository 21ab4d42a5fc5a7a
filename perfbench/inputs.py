"""Seeded replicas of the engine's test tables, the benchmark's inputs.

The base tables in ``perfbench/data/`` are slices of the engine's sf0.1
test tables (``make_base.py`` writes them). A run's inputs are built from
them the way the engine's sf1 scaling tables are built: ``copies`` copies
of each table, with keys offset per copy so join fan-out and group
cardinality grow with the copies, document tokens suffixed per copy and
embeddings nudged per copy, so copies never look like duplicates of each
other. Here each copy also holds only a seeded sample (``frac``) of the
base rows, so the seed selects the data. The same seed gives the same
bytes; ``checksum`` proves it.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
KEY_STRIDE = 1_000_000        # per-copy offset of ids and foreign keys
ORDER_STRIDE = 10_000_000     # per-copy offset of order keys
VEC_NUDGE = 1e-3              # per-copy shift of every embedding component


@dataclass(frozen=True)
class Replica:
    """``copies`` copies of a base table, each a seeded sample of ``frac``
    of its rows. ``copies = 0`` leaves the table out."""

    copies: int = 0
    frac: float = 1.0


@dataclass(frozen=True)
class Sizes:
    """The replicas a workload reads. ``tpch`` covers orders, their
    lineitems and the customers: orders are sampled, lineitems follow
    their orders and every customer is kept, so joins stay complete."""

    tpch: Replica = Replica()
    events: Replica = Replica()
    documents: Replica = Replica()
    embeddings: Replica = Replica()


def _base(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


def _sample(rng, n: int, frac: float) -> np.ndarray:
    """Sorted row positions of a seeded sample of ``frac`` of ``n`` rows."""
    return np.sort(rng.permutation(n)[:max(1, round(n * frac))])


def _offset(table: pa.Table, cols: tuple, by: int) -> pa.Table:
    for col in cols:
        i = table.schema.get_field_index(col)
        table = table.set_column(i, col, pc.add(table[col], pa.scalar(by, table[col].type)))
    return table


def _tpch(rng_of, rep: Replica) -> dict[str, pa.Table]:
    orders, lineitem, customer = _base("orders"), _base("lineitem"), _base("customer")
    out: dict[str, list] = {"orders": [], "lineitem": [], "customer": []}
    for k in range(rep.copies):
        o = orders.take(_sample(rng_of(k), orders.num_rows, rep.frac))
        li = lineitem.filter(pc.is_in(lineitem["l_orderkey"], value_set=o["o_orderkey"]))
        out["orders"].append(_offset(_offset(o, ("o_orderkey",), k * ORDER_STRIDE),
                                     ("o_custkey",), k * KEY_STRIDE))
        out["lineitem"].append(_offset(_offset(li, ("l_orderkey",), k * ORDER_STRIDE),
                                       ("l_partkey", "l_suppkey"), k * KEY_STRIDE))
        out["customer"].append(_offset(customer, ("c_custkey",), k * KEY_STRIDE))
    return {name: pa.concat_tables(parts) for name, parts in out.items()}


def _events(rng_of, rep: Replica) -> pa.Table:
    events = _base("events")
    return pa.concat_tables(
        _offset(events.take(_sample(rng_of(k), events.num_rows, rep.frac)),
                ("event_id", "user_id"), k * KEY_STRIDE)
        for k in range(rep.copies))


def _documents(rng_of, rep: Replica) -> pa.Table:
    docs = _base("documents")
    parts = []
    for k in range(rep.copies):
        d = _offset(docs.take(_sample(rng_of(k), docs.num_rows, rep.frac)), ("doc_id",),
                    k * KEY_STRIDE)
        if k:   # copy 0 keeps the base text; later copies get their own tokens
            text = [" ".join(f"{t}~{k}" for t in s.split(" ")) for s in d["text"].to_pylist()]
            d = d.set_column(d.schema.get_field_index("text"), "text", pa.array(text))
            n_chars = pa.array([len(s) for s in text], pa.int64())
            d = d.set_column(d.schema.get_field_index("n_chars"), "n_chars", n_chars)
        parts.append(d)
    return pa.concat_tables(parts)


def _embeddings(rng_of, rep: Replica) -> pa.Table:
    emb = _base("embeddings")
    parts = []
    for k in range(rep.copies):
        e = _offset(emb.take(_sample(rng_of(k), emb.num_rows, rep.frac)), ("vec_id",),
                    k * KEY_STRIDE)
        if k:
            col = e["embedding"].combine_chunks()
            values = pc.add(col.values, pa.scalar(k * VEC_NUDGE, pa.float32()))
            e = e.set_column(e.schema.get_field_index("embedding"), "embedding",
                             pa.ListArray.from_arrays(col.offsets, values))
        parts.append(e)
    return pa.concat_tables(parts)


def generate(seed: int, sizes: Sizes, out_dir: str) -> dict[str, str]:
    """Write every replica ``sizes`` asks for under ``out_dir``; return
    {table name: parquet path}. Each table and copy draws from its own
    stream of the seed, so resizing one table leaves the others' bytes
    unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"tpch": _tpch, "events": _events, "documents": _documents,
              "embeddings": _embeddings}
    tables: dict[str, pa.Table] = {}
    for i, (group, make) in enumerate(makers.items()):
        rep = getattr(sizes, group)
        if rep.copies <= 0:
            continue
        made = make(lambda k, i=i: np.random.default_rng([seed, i, k]), rep)
        tables.update(made if isinstance(made, dict) else {group: made})
    paths = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths[name] = path
    return paths


def rows(paths: dict[str, str]) -> dict[str, int]:
    return {name: pq.ParquetFile(path).metadata.num_rows for name, path in paths.items()}


def checksum(paths: dict[str, str]) -> str:
    """SHA-256 over the generated files, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(paths):
        h.update(name.encode())
        with open(paths[name], "rb") as f:
            h.update(f.read())
    return h.hexdigest()
