"""Open-loop feed generator for the ``feed_live`` workload.

Runs as its own process so a slow engine can never slow the schedule.
It writes COMPACT Quote and Trade envelopes ``(channel, symbol, offset,
ts, payload)`` as parquet files into a file feed-bus directory:

1. builds every payload from the seed, then writes the backfill files
   and prints ``ready``;
2. on a ``go`` line on stdin, writes one batch every ``period_ms``
   milliseconds for ``seconds`` seconds. Each batch is stamped with its
   creation time at write time, written under a hidden name (which the
   stream ignores) and renamed into place, so the stream never lists a
   half-written file;
3. prints one JSON line: per batch its file name, due time, stamp and
   quote/trade counts, and exits.

    python3 perfbench/feedgen.py --bus DIR --seed 1 --seconds 10 \\
        --period-ms 100 --rate 10000 --symbols 200 --quote-share 0.5 \\
        --backfill-events 100000 --backfill-files 50
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("channel", pa.string()),
    ("symbol", pa.string()),
    ("offset", pa.int64()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("payload", pa.string()),
])
# event time of the first event (2024-01-02T14:30:00Z, ms); one event
# per millisecond after it, so candles span several 1-minute windows
EVENT_T0_MS = 1_704_205_800_000


class Payloads:
    """Every envelope of the run, prebuilt; ``batch(i, n)`` slices them."""

    def __init__(self, seed: int, n: int, symbols: int, quote_share: float) -> None:
        rng = np.random.default_rng(seed)
        sym = rng.integers(0, symbols, n)
        is_quote = rng.random(n) < quote_share
        t = EVENT_T0_MS + np.arange(n, dtype=np.int64)
        # prices on a 1/64 grid and integer sizes: sums and VWAP are
        # exact in binary floating point, so streaming and batch agree
        base = 50.0 + (sym % 97).astype(np.float64)
        tick = rng.integers(-64, 65, n) / 64.0
        spread = rng.integers(1, 9, n) / 64.0
        sizes = rng.integers(1, 101, (n, 2))
        self.channel = np.where(is_quote, "Quote", "Trade")
        self.symbol = np.array([f"SYM{s:03d}" for s in range(symbols)])[sym]
        self.offset = np.empty(n, dtype=np.int64)
        self.offset[is_quote] = np.arange(int(is_quote.sum()))
        self.offset[~is_quote] = np.arange(int((~is_quote).sum()))
        self.is_quote = is_quote
        payload = []
        for i in range(n):
            s, px = self.symbol[i], base[i] + tick[i]
            if is_quote[i]:
                payload.append(json.dumps(
                    ["Quote", s, str(t[i]), repr(px), repr(px + spread[i]),
                     str(sizes[i, 0]), str(sizes[i, 1])]))
            else:
                payload.append(json.dumps(
                    ["Trade", s, str(t[i]), repr(px), str(sizes[i, 0])]))
        self.payload = np.array(payload, dtype=object)

    def columns(self, lo: int, hi: int) -> dict:
        return {
            "channel": pa.array(self.channel[lo:hi]),
            "symbol": pa.array(self.symbol[lo:hi]),
            "offset": pa.array(self.offset[lo:hi]),
            "payload": pa.array(self.payload[lo:hi], pa.string()),
        }


def write_batch(bus: str, name: str, cols: dict, n: int) -> float:
    """Stamp, write under a hidden name, rename into place; returns the
    creation stamp (epoch seconds)."""
    stamp = time.time()
    ts = pa.array(np.full(n, int(stamp * 1e6), dtype=np.int64),
                  pa.timestamp("us", tz="UTC"))
    table = pa.table({**cols, "ts": ts}).select(SCHEMA.names).cast(SCHEMA)
    hidden = os.path.join(bus, f".{name}.tmp")
    pq.write_table(table, hidden)
    os.rename(hidden, os.path.join(bus, name))
    return stamp


def main() -> int:
    ap = argparse.ArgumentParser(description="open-loop feed generator")
    ap.add_argument("--bus", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--period-ms", type=float, required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--symbols", type=int, required=True)
    ap.add_argument("--quote-share", type=float, required=True)
    ap.add_argument("--backfill-events", type=int, required=True)
    ap.add_argument("--backfill-files", type=int, required=True)
    a = ap.parse_args()

    per_batch = int(a.rate * a.period_ms / 1000.0)
    n_live = int(round(a.seconds * 1000.0 / a.period_ms))
    total = a.backfill_events + per_batch * n_live
    data = Payloads(a.seed, total, a.symbols, a.quote_share)
    os.makedirs(a.bus, exist_ok=True)

    per_file = a.backfill_events // a.backfill_files
    for f in range(a.backfill_files):
        lo = f * per_file
        hi = a.backfill_events if f == a.backfill_files - 1 else lo + per_file
        write_batch(a.bus, f"backfill-{f:05d}.parquet", data.columns(lo, hi), hi - lo)
    # live batches: slices prebuilt now, only the stamp is added at write
    live = []
    for k in range(n_live):
        lo = a.backfill_events + k * per_batch
        hi = lo + per_batch
        live.append((f"live-{k:06d}.parquet", data.columns(lo, hi), hi - lo,
                     int(data.is_quote[lo:hi].sum())))
    print("ready", flush=True)

    if sys.stdin.readline().strip() != "go":
        return 1
    log = []
    t0 = time.time()
    for k, (name, cols, n, n_quotes) in enumerate(live):
        due = t0 + k * a.period_ms / 1000.0
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        stamp = write_batch(a.bus, name, cols, n)
        log.append({"file": name, "due": due, "stamp": stamp,
                    "quotes": n_quotes, "trades": n - n_quotes})
    print(json.dumps({"start": t0, "batches": log}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
