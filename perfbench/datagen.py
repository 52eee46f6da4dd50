"""Seeded benchmark inputs, resampled from the fixtures in ``fixtures/``.

The fixtures are a copy of the sf0.01 testdata tables.  ``make_inputs``
writes one table set per seed:

* ``customer``, ``part``, ``supplier`` and ``events`` are resampled with
  replacement.  Keys stay the dense range ``0..n-1``, so they stay unique;
  the ``Customer#``/``Supplier#`` names follow their new key.
* ``orders`` is resampled with replacement *within each line-count
  stratum*, and every new order takes its source order's line items, so
  ``lineitem`` keeps exactly the fixture's row count and line-count mix.
* Foreign keys (``o_custkey``, ``l_partkey``, ``l_suppkey``) are remapped
  to a new row drawn from the same source row when one exists, else to a
  random new row, so every foreign key still resolves.
* ``documents`` is a seeded subset of ``N_DOCS`` fixture documents, with
  new ids.  ``fixtures/doc_clusters.json`` lists the fixture's near-duplicate
  groups (the clusters of the ``x30_dedup_clusters`` oracle over the fixture
  documents); the seed picks which groups are kept, whole, so that the
  share of documents with a near-duplicate stays that of the fixture.
  The subset keeps the DuckDB oracles of the minhash/cluster queries, which
  grow faster than linearly, within a run's budget.
* ``embeddings`` is permuted, not resampled: the seed picks which ids carry
  the fixture's near-duplicates, and their share stays exactly the same.
* ``nation`` and ``region`` are copied.

The same seed gives byte-identical tables; the program only ever sees the
generated directory.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
N_DOCS = 100
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))


def _set(tbl: pa.Table, col: str, values) -> pa.Table:
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, tbl.schema.field(i), pa.array(values, tbl.schema.field(i).type))


def _fk_map(src: np.ndarray, rng: np.random.Generator):
    """For a table resampled as ``new row i <- old row src[i]``, return a
    function that maps old keys to new keys drawn from the same source row,
    or to a uniformly random new row when the source row was not drawn."""
    n = len(src)
    by_src = np.argsort(src, kind="stable")
    lo = np.searchsorted(src[by_src], np.arange(n), side="left")
    hi = np.searchsorted(src[by_src], np.arange(n), side="right")

    def remap(old: np.ndarray) -> np.ndarray:
        cnt = (hi - lo)[old]
        u = rng.random(len(old))
        fallback = rng.integers(0, n, len(old))
        hit = by_src[np.minimum(lo[old] + (u * cnt).astype(np.int64), n - 1)]
        return np.where(cnt > 0, hit, fallback)

    return remap


def _resample_dim(tbl: pa.Table, key: str, name_col: str | None, prefix: str, rng):
    n = tbl.num_rows
    src = rng.integers(0, n, n)
    out = _set(tbl.take(pa.array(src)), key, np.arange(n))
    if name_col is not None:
        out = _set(out, name_col, [f"{prefix}#{k:09d}" for k in range(n)])
    return out, _fk_map(src, rng)


def generate(seed: int) -> dict[str, pa.Table]:
    """Build every table for ``seed`` in memory."""
    rng = np.random.default_rng(seed)
    out = {t: _read(t) for t in ("region", "nation")}

    out["customer"], cust = _resample_dim(_read("customer"), "c_custkey", "c_name", "Customer", rng)
    out["supplier"], supp = _resample_dim(_read("supplier"), "s_suppkey", "s_name", "Supplier", rng)
    out["part"], part = _resample_dim(_read("part"), "p_partkey", None, "", rng)

    orders, lineitem = _read("orders"), _read("lineitem")
    n_orders = orders.num_rows
    l_order = lineitem.column("l_orderkey").to_numpy()
    lines = np.bincount(l_order, minlength=n_orders)
    src = np.concatenate([
        rng.choice(members, size=len(members), replace=True)
        for members in (np.flatnonzero(lines == c) for c in np.unique(lines))
    ])
    src = src[rng.permutation(n_orders)]
    o = _set(orders.take(pa.array(src)), "o_orderkey", np.arange(n_orders))
    out["orders"] = _set(o, "o_custkey", cust(o.column("o_custkey").to_numpy()))

    by_order = np.argsort(l_order, kind="stable")
    starts = np.concatenate([[0], np.cumsum(lines)[:-1]])
    lens = lines[src]
    new_order = np.repeat(np.arange(n_orders), lens)
    within = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
    rows = by_order[starts[src][new_order] + within]
    shuffle = rng.permutation(len(rows))
    li = _set(lineitem.take(pa.array(rows[shuffle])), "l_orderkey", new_order[shuffle])
    li = _set(li, "l_partkey", part(li.column("l_partkey").to_numpy()))
    out["lineitem"] = _set(li, "l_suppkey", supp(li.column("l_suppkey").to_numpy()))

    events = _read("events")
    ev = events.take(pa.array(rng.integers(0, events.num_rows, events.num_rows)))
    ev = ev.take(pc.sort_indices(ev, sort_keys=[("ts", "ascending")]))
    out["events"] = _set(ev, "event_id", np.arange(ev.num_rows))

    out["documents"] = _set(_read("documents").take(pa.array(_pick_documents(rng))),
                            "doc_id", np.arange(N_DOCS))
    emb = _read("embeddings")
    out["embeddings"] = _set(emb.take(pa.array(rng.permutation(emb.num_rows))),
                             "vec_id", np.arange(emb.num_rows))
    return out


def _pick_documents(rng: np.random.Generator) -> np.ndarray:
    """Fixture row indices of the ``N_DOCS`` documents to keep, in their
    new id order: whole near-duplicate groups up to the fixture's share of
    grouped documents, then singletons."""
    with open(os.path.join(FIXTURES, "doc_clusters.json")) as f:
        groups = json.load(f)
    n = _read("documents").num_rows  # fixture doc_id == row index
    grouped = sum(len(g) for g in groups)
    target = round(grouped / n * N_DOCS)
    chosen: list[int] = []
    for i in rng.permutation(len(groups)):
        if len(chosen) >= target:
            break
        chosen += groups[i]
    singles = np.setdiff1d(np.arange(n), np.concatenate(groups))
    chosen += list(rng.choice(singles, N_DOCS - len(chosen), replace=False))
    return rng.permutation(np.array(chosen))


def make_inputs(seed: int, out_dir: str) -> str:
    """Write the tables for ``seed`` as ``<out_dir>/<table>.parquet``
    (one row group each, like the fixtures) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in generate(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
