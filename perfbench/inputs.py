"""Seeded input tables for the benchmark workloads.

Every table a workload reads (events, customer, orders, documents,
embeddings) is derived from the seed sample of the project's sf0.1
tables in ``perfbench/seed`` (cut by ``seed/make_seed.py``) by a
transformation driven by one integer seed. Each table is replicated
until it reaches the size in ``spec.json`` and each copy is changed:

- events: times shifted by a seeded offset inside the sample's 10-day
  window (wrapping at its end), users remapped by a seeded map onto a
  domain of ``users`` users, values jittered and rounded to cents; event types
  and ``props`` JSON are kept, and ids are re-issued in time order;
- customer and orders: copy ``k`` shifts the customer keys by
  ``k`` sample sizes, orders follow their customer through a seeded
  remap inside the copy, prices and balances are jittered and order
  dates shifted by seeded days inside the sample's date range;
- documents: copies after the first swap a share of their words for
  other words of the sample (the near-duplicate marker is kept);
- embeddings: copies after the first add seeded noise and are
  re-normalised to unit length (64-d float32).

A seeded draw then keeps the requested number of rows. The same seed
gives byte-identical tables.

    python3 perfbench/inputs.py --seed 7 --out perfbench/.work/inputs

prints the manifest: row counts per table and one content hash.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SEED_DIR = os.path.join(HERE, "seed")
TABLES = ("events", "customer", "orders", "documents", "embeddings")
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64
DUP_MARKER = " dup"
_US_PER_DAY = 86_400_000_000


def _us(col: pa.ChunkedArray) -> np.ndarray:
    return col.cast(pa.int64()).to_numpy()


def _copies(base_rows: int, n: int) -> int:
    return max(1, math.ceil(n / base_rows))


def _draw(rng: np.random.Generator, total: int, n: int) -> np.ndarray:
    """Sorted positions of ``n`` of ``total`` rows."""
    return np.sort(rng.choice(total, size=n, replace=False))


def _jitter(col: pa.ChunkedArray, factor: np.ndarray) -> pa.Array:
    return pc.round(pc.multiply(col.combine_chunks(), pa.array(factor)), 2)


def _events(rng: np.random.Generator, base: pa.Table, n: int, spec: dict) -> pa.Table:
    t_lo = int(np.datetime64(spec["events_start"], "us").astype(np.int64))
    span = spec["events_days"] * _US_PER_DAY
    ts0 = _us(base["ts"]) - t_lo
    users0 = base["user_id"].to_numpy()
    sample_users = int(users0.max()) + 1
    parts = []
    for _ in range(_copies(base.num_rows, n)):
        shift = int(rng.integers(0, span))
        # a seeded map of the sample's users onto spec["users"] users
        perm = rng.permutation(sample_users) % spec["users"]
        parts.append(pa.table({
            "ts": pa.array(((ts0 + shift) % span + t_lo).astype("datetime64[us]"),
                           pa.timestamp("us")),
            "user_id": pa.array(perm[users0].astype(np.int64)),
            "event_type": base["event_type"],
            "value": _jitter(base["value"],
                             rng.lognormal(0.0, spec["value_jitter"], base.num_rows)),
            "props": base["props"],
        }))
    t = pa.concat_tables(parts)
    t = t.take(_draw(rng, t.num_rows, n))
    t = t.take(pc.sort_indices(t, [("ts", "ascending")]))
    return t.add_column(0, "event_id", pa.array(np.arange(n, dtype=np.int64)))


def _customer_orders(rng: np.random.Generator, cust: pa.Table, orders: pa.Table,
                     n_cust: int, n_orders: int, spec: dict):
    c0 = cust.num_rows
    copies = max(_copies(c0, n_cust), _copies(orders.num_rows, n_orders))
    d_lo = int(_us(orders["o_orderdate"]).min() // _US_PER_DAY)
    d_span = int(_us(orders["o_orderdate"]).max() // _US_PER_DAY) - d_lo + 1
    days0 = _us(orders["o_orderdate"]) // _US_PER_DAY - d_lo
    ckey0 = cust["c_custkey"].to_numpy()
    okey0 = orders["o_custkey"].to_numpy()
    cparts, oparts = [], []
    for k in range(copies):
        keys = ckey0 + k * c0
        cparts.append(pa.table({
            "c_custkey": pa.array(keys.astype(np.int64)),
            "c_name": pa.array([f"Customer#{int(x):09d}" for x in keys]),
            "c_nationkey": cust["c_nationkey"],
            "c_acctbal": _jitter(cust["c_acctbal"],
                                 rng.lognormal(0.0, spec["value_jitter"], c0)),
            "c_mktsegment": cust["c_mktsegment"],
        }))
        remap = rng.permutation(c0)
        shift = int(rng.integers(0, d_span))
        days = (days0 + shift) % d_span + d_lo
        oparts.append(pa.table({
            "o_custkey": pa.array((remap[okey0] + k * c0).astype(np.int64)),
            "o_orderstatus": orders["o_orderstatus"],
            "o_totalprice": _jitter(orders["o_totalprice"],
                                    rng.lognormal(0.0, spec["value_jitter"],
                                                  orders.num_rows)),
            "o_orderdate": pa.array((days * _US_PER_DAY).astype("datetime64[us]"),
                                    pa.timestamp("us")),
            "o_orderpriority": orders["o_orderpriority"],
        }))
    c = pa.concat_tables(cparts).slice(0, n_cust)
    o = pa.concat_tables(oparts)
    o = o.filter(pc.less(o["o_custkey"], n_cust))
    o = o.take(_draw(rng, o.num_rows, n_orders))
    return c, o.add_column(0, "o_orderkey", pa.array(np.arange(n_orders, dtype=np.int64)))


def _documents(rng: np.random.Generator, base: pa.Table, n: int, spec: dict) -> pa.Table:
    texts0 = base["text"].to_pylist()
    vocab = sorted({w for t in texts0 for w in t.split()} - {DUP_MARKER.strip()})
    texts: list[str] = []
    for k in range(_copies(base.num_rows, n)):
        for t in texts0:
            if k:
                body, marker = ((t[:-len(DUP_MARKER)], DUP_MARKER)
                                if t.endswith(DUP_MARKER) else (t, ""))
                words = body.split()
                swap = rng.random(len(words)) < spec["word_swap_share"]
                picks = rng.integers(0, len(vocab), len(words))
                t = " ".join(vocab[p] if s else w
                             for w, s, p in zip(words, swap, picks)) + marker
            texts.append(t)
    copies = len(texts) // base.num_rows
    rows = _draw(rng, len(texts), n)
    lang = pa.concat_arrays([base["lang"].combine_chunks()] * copies).take(rows)
    source = pa.concat_arrays([base["source"].combine_chunks()] * copies).take(rows)
    kept = [texts[i] for i in rows]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(kept),
        "lang": lang,
        "source": source,
        "n_chars": pa.array(np.array([len(t) for t in kept], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, base: pa.Table, n: int, spec: dict) -> pa.Table:
    v0 = np.asarray(base["embedding"].to_pylist(), dtype=np.float32)
    parts = []
    for k in range(_copies(base.num_rows, n)):
        v = v0.copy()
        if k:
            v += rng.normal(0.0, spec["embedding_jitter"], v.shape).astype(np.float32)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
        parts.append(v)
    rows = _draw(rng, base.num_rows * len(parts), n)
    v = np.concatenate(parts)[rows]
    labels = np.tile(base["label"].to_numpy(), len(parts))[rows]
    offsets = pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1), pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def read_seed(seed_dir: str = SEED_DIR) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(seed_dir, f"{t}.parquet")) for t in TABLES}


def build_tables(seed: int, spec: dict, seed_dir: str = SEED_DIR) -> dict[str, pa.Table]:
    """All input tables for ``seed``; one child generator per table so a
    size change in one table leaves the others' contents unchanged."""
    rows = spec["rows"]
    base = read_seed(seed_dir)
    rngs = dict(zip(["events", "orders", "documents", "embeddings"],
                    np.random.default_rng(seed).spawn(4)))
    customer, orders = _customer_orders(rngs["orders"], base["customer"], base["orders"],
                                        rows["customer"], rows["orders"], spec)
    return {
        "events": _events(rngs["events"], base["events"], rows["events"], spec),
        "customer": customer,
        "orders": orders,
        "documents": _documents(rngs["documents"], base["documents"], rows["documents"], spec),
        "embeddings": _embeddings(rngs["embeddings"], base["embeddings"],
                                  rows["embeddings"], spec),
    }


def content_hash(tables: dict[str, pa.Table]) -> str:
    """sha256 over each table's Arrow IPC stream, in table-name order."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_inputs(seed: int, spec: dict, out_dir: str) -> dict:
    """Write ``<out_dir>/<table>.parquet`` for every table and return
    the manifest ``{"seed", "rows": {table: n}, "sha256"}``."""
    tables = build_tables(seed, spec)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {
        "seed": seed,
        "rows": {k: t.num_rows for k, t in sorted(tables.items())},
        "sha256": content_hash(tables),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)["inputs"]
    print(json.dumps(write_inputs(args.seed, spec, args.out)))


if __name__ == "__main__":
    main()
