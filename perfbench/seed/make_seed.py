"""Cut the benchmark's seed sample from the project's sf0.1 test tables.

    python3 perfbench/seed/make_seed.py --sf DIR

``DIR`` holds the sf0.1 star-schema parquet tables. The sample written
next to this script is what perfbench/inputs.py derives every run's
inputs from, so a benchmark run needs nothing outside its checkout:

- events: every event from 2024-01-10 to 2024-01-20, the window the
  backtest query's warm-up and start constants fall in;
- customer: customers 0..1499, and orders: every order of those
  customers, so each order keeps its customer;
- documents: 500 documents, the first 25 near-duplicate pairs (a
  document whose text ends in the " dup" marker and the document it
  was made from, the one with the most words in common) and then the
  other documents in doc_id order, so the sample keeps the tables' 5 %
  near-duplicate share;
- embeddings: vec_id < 500.

Rows and columns are copied as they are; only the pandas metadata is
dropped.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EVENTS_FROM = dt.datetime(2024, 1, 10)
EVENTS_TO = dt.datetime(2024, 1, 20)
CUSTOMERS = 1500
DOCUMENTS = 500
DUP_PAIRS = 25
EMBEDDINGS = 500


def _document_rows(texts: list[str]) -> list[int]:
    words = [set(t.split()) for t in texts]
    dups = [i for i, t in enumerate(texts) if t.endswith(" dup")]
    plain = [i for i, t in enumerate(texts) if not t.endswith(" dup")]
    rows: list[int] = []
    for i in dups[:DUP_PAIRS]:
        src = max(plain, key=lambda j: len(words[i] & words[j]) / len(words[i] | words[j]))
        rows += [i, src]
    rows = list(dict.fromkeys(rows))  # two copies may share a source
    rows += [j for j in plain if j not in rows][:DOCUMENTS - len(rows)]
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", required=True, help="directory of the sf0.1 tables")
    args = ap.parse_args()

    def read(name: str):
        return pq.read_table(os.path.join(args.sf, f"{name}.parquet")).replace_schema_metadata()

    ev = read("events")
    cust = read("customer")
    orders = read("orders")
    docs = read("documents")
    emb = read("embeddings")
    sample = {
        "events": ev.filter(pc.and_(pc.greater_equal(ev["ts"], EVENTS_FROM),
                                    pc.less(ev["ts"], EVENTS_TO))),
        "customer": cust.filter(pc.less(cust["c_custkey"], CUSTOMERS)),
        "orders": orders.filter(pc.less(orders["o_custkey"], CUSTOMERS)),
        "documents": docs.take(sorted(_document_rows(docs.column("text").to_pylist()))),
        "embeddings": emb.filter(pc.less(emb["vec_id"], EMBEDDINGS)),
    }
    for name, t in sample.items():
        pq.write_table(t, os.path.join(HERE, f"{name}.parquet"), compression="zstd")
        print(name, t.num_rows)


if __name__ == "__main__":
    main()
