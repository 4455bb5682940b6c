"""Open-loop streaming workload: ``feed_live``.

Pipeline under test, on the file feed bus written by feedgen.py:

- quotes: ``feed_bus_stream`` -> ``decode_compact`` -> ``streaming_latest``
  -> ``upsert_parquet_batch`` into the latest table;
- trades: ``feed_bus_stream`` -> ``decode_compact`` -> ``streaming_ohlcv``
  -> ``upsert_parquet_batch`` into the candle table.

Phase A drains a pre-written backfill; phase B runs live at a fixed
rate. A quote's latency runs from the generator's creation stamp to
the return of the sink call that committed it. Which files each
micro-batch read comes from the stream's own source log in its
checkpoint, so nothing is added to the timed path.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import subprocess
import sys
import time

from common import (
    HERE,
    Spans,
    geomean,
    hd_quantile,
    median,
    percentile,
    reset_dir,
    start_spark,
)
from eventlog import JobTotals, jobs_between, latest_log, read_jobs

LATENCY_TARGET_MS = 500.0


def _schemas():
    from pyspark.sql import types as T

    quote = T.StructType([
        T.StructField("eventSymbol", T.StringType()),
        T.StructField("time", T.LongType()),
        T.StructField("bidPrice", T.DoubleType()),
        T.StructField("askPrice", T.DoubleType()),
        T.StructField("bidSize", T.DoubleType()),
        T.StructField("askSize", T.DoubleType()),
    ])
    trade = T.StructType([
        T.StructField("eventSymbol", T.StringType()),
        T.StructField("time", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("size", T.DoubleType()),
    ])
    return quote, trade


def decoded(envelopes, channel: str, schema):
    """COMPACT payload -> typed rows with a timestamp ``time`` column."""
    from pyspark.sql import functions as F

    from tastytrade_sdk_spark.sources.compact import decode_compact

    arr = F.slice(F.from_json("payload", "array<string>"), 2, 1000000)
    rows = decode_compact(
        envelopes.filter(F.col("channel") == channel).withColumn("arr", arr),
        "arr", schema, keep_cols=["offset", "ts"], corrupt_col=None,
    )
    return rows.withColumn("time", F.timestamp_millis("time"))


def file_epochs(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id that read it, from the query's own
    checkpoint. The file source logs each file under its own log offset
    (``sources/0``: a version line, then JSON lines); the offset log
    (``offsets/<batch>``) records the source's log offset at the end of
    each micro-batch, so a file belongs to the first micro-batch whose
    end offset reaches the file's log offset."""
    by_offset: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    by_offset[os.path.basename(entry["path"])] = int(entry["batchId"])
    ends: list[tuple[int, int]] = []
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if not name.isdigit():
            continue
        with open(path) as fh:
            lines = fh.read().splitlines()
        ends.append((json.loads(lines[-1])["logOffset"], int(name)))
    ends.sort()
    out: dict[str, int] = {}
    for f, off in by_offset.items():
        out[f] = next(epoch for end, epoch in ends if end >= off)
    return out


def _progress_start(p) -> float:
    return dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()


class Pipeline:
    """The two streaming queries over one bus directory, each committing
    through ``upsert_parquet_batch``; every sink call's start and end
    time is kept per micro-batch id."""

    def __init__(self, spark, root: str, candle_interval: str) -> None:
        from pyspark.sql import functions as F

        from tastytrade_sdk_spark.sources.feedbus import feed_bus_stream
        from tastytrade_sdk_spark.streaming.sinks import upsert_parquet_batch
        from tastytrade_sdk_spark.streaming.streams import (
            streaming_latest,
            streaming_ohlcv,
        )

        self.bus = os.path.join(root, "bus")
        self.latest_path = os.path.join(root, "latest")
        self.candle_path = os.path.join(root, "candles")
        self.ck_quotes = os.path.join(root, "ck_quotes")
        self.ck_candles = os.path.join(root, "ck_trades")
        os.makedirs(self.bus, exist_ok=True)
        self.sink_q: dict[int, tuple[float, float]] = {}
        self.sink_t: dict[int, tuple[float, float]] = {}

        def quotes_sink(df, epoch: int) -> None:
            t0 = time.time()
            upsert_parquet_batch(df, self.latest_path, ["eventSymbol"], ["time", "offset"])
            self.sink_q[epoch] = (t0, time.time())

        def candles_sink(df, epoch: int) -> None:
            t0 = time.time()
            upsert_parquet_batch(df.withColumn("_epoch", F.lit(epoch)),
                                 self.candle_path, ["symbol", "time"], ["_epoch"])
            self.sink_t[epoch] = (t0, time.time())

        quote_schema, trade_schema = _schemas()
        env = feed_bus_stream(spark, self.bus)
        latest = streaming_latest(decoded(env, "Quote", quote_schema),
                                  keys=["eventSymbol"], time_col="time",
                                  order_cols=["time", "offset"])
        candles = streaming_ohlcv(decoded(env, "Trade", trade_schema),
                                  symbol_col="eventSymbol", time_col="time",
                                  price_col="price", size_col="size",
                                  interval=candle_interval,
                                  watermark="10 minutes", order_col="offset")
        self._writers = (
            latest.writeStream.outputMode("update")
            .option("checkpointLocation", self.ck_quotes).foreachBatch(quotes_sink),
            candles.writeStream.outputMode("update")
            .option("checkpointLocation", self.ck_candles).foreachBatch(candles_sink),
        )
        self.queries: list = []

    def start(self) -> None:
        self.queries = [w.start() for w in self._writers]

    def drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def progress(self) -> dict[str, list]:
        return {"quotes": list(self.queries[0].recentProgress),
                "candles": list(self.queries[1].recentProgress)}

    def stop(self) -> None:
        for q in self.queries:
            q.stop()


class FeedWorkload:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.cfg = ctx.spec["workloads"]["feed_live"]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.root = os.path.join(ctx.work, "feed")

    def warm_up(self, spark) -> None:
        """The workload's part of set-up: both queries over two batches,
        so the measured phases see a warm JVM."""
        reset_dir(self.root)
        self._warm_up(spark, os.path.join(self.root, "warmup"))

    def run(self, spark, seconds: float, trace: bool):
        e2e, info, res = self.feed_once(spark, seconds, traced=False)
        layers: dict[str, float] = {}
        if trace:
            spark.stop()
            spark = start_spark(self.ctx.work, self.ctx.cpus, event_log=True)
            _, _, traced = self.feed_once(spark, seconds, traced=True, warm=True)
            spark.stop()  # finishes the event log
            layers = self.layers(traced)
            base = res["latency_p50_ms"]
            layers["trace.overhead_share"] = (
                traced["latency_p50_ms"] / base - 1.0 if base else 0.0)
        return e2e, layers, info

    # -- one full feed: warm-up, generator, phase A, phase B, checks -----
    def feed_once(self, spark, seconds: float, traced: bool, warm: bool = False):
        """One feed: the generator starts, phase A drains the backfill,
        phase B runs live, then the tables are checked. ``warm`` runs
        the warm-up first, for a session the set-up did not warm."""
        cfg, ctx = self.cfg, self.ctx
        reset_dir(self.root)
        pipe = Pipeline(spark, os.path.join(self.root, "run"), cfg["candle_interval"])
        # the generator builds its payloads while a warm-up runs
        gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "feedgen.py"),
             "--bus", pipe.bus, "--seed", str(ctx.seed), "--seconds", str(seconds),
             "--period-ms", str(cfg["period_ms"]),
             "--rate", str(cfg["rate_events_per_s"]),
             "--symbols", str(cfg["symbols"]),
             "--quote-share", str(cfg["quote_share"]),
             "--backfill-events", str(cfg["backfill_events"]),
             "--backfill-files", str(cfg["backfill_files"])],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        ctx.children.append(gen)
        t0 = time.time()
        if warm:
            self._warm_up(spark, os.path.join(self.root, "warmup"))
        t_warm = time.time()
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("feed generator failed to start")

        # phase A: drain the backfill
        t_a = time.time()
        phases = {"warm-up": t_warm - t0} if warm else {}
        phases["generator ready"] = t_a - t_warm
        pipe.start()
        try:
            pipe.drain()
            t_b = time.time()
            last_backfill = {"quotes": max(pipe.sink_q), "candles": max(pipe.sink_t)}

            # phase B: live, open loop
            gen.stdin.write("go\n")
            gen.stdin.flush()
            out, _ = gen.communicate(timeout=seconds + 60)
            if gen.returncode != 0:
                raise RuntimeError(f"feed generator exited {gen.returncode}")
            gen_log = json.loads(out.strip().splitlines()[-1])
            t_live = time.time()
            pipe.drain()
            t_end = time.time()
            progress = pipe.progress()
        finally:
            pipe.stop()
        sink_q, sink_t = pipe.sink_q, pipe.sink_t

        n_backfill = cfg["backfill_events"]
        backfill_s = t_b - t_a
        file_batch = file_epochs(pipe.ck_quotes)
        lat, visible, vis_end, backlog = self._latency(gen_log, file_batch, sink_q)
        with open(os.path.join(ctx.out_dir, f"feed-seed{ctx.seed}.json"), "w") as fh:
            # per live file: due, stamp, micro-batch, commit; every sink call
            json.dump({**gen_log, "sinks": {"quotes": sink_q, "candles": sink_t}}, fh)
        live_batches = [
            p for name, ps in progress.items() for p in ps
            if p.batchId > last_backfill[name] and p.numInputRows > 0
        ]
        triggers = [p.durationMs.get("triggerExecution", 0) / 1000.0
                    for p in live_batches]
        lateness = [(b["stamp"] - b["due"]) * 1000.0 for b in gen_log["batches"]]
        late_p99 = percentile(lateness, 99)

        # correctness
        self.attempted += len(sink_q) + len(sink_t)
        t_check = time.time()
        self._check_tables(spark, pipe.bus, pipe.latest_path, pipe.candle_path)
        phases.update({"backfill": t_b - t_a, "live": t_live - t_b,
                       "final drain": t_end - t_live, "table check": time.time() - t_check})
        if late_p99 > cfg["max_gen_late_p99_ms"]:
            self.attempted += 1
            self.failed += 1
            self.failures.append(
                f"generator ran late: p99 {late_p99:.1f} ms > "
                f"{cfg['max_gen_late_p99_ms']} ms; the run measures the host, "
                f"not the engine")

        live_s = vis_end - gen_log["start"]
        n_quotes = sum(b["quotes"] for b in gen_log["batches"] if b.get("committed"))
        res = {
            "latency_p50_ms": hd_quantile(lat, 0.50),
            "latency_p95_ms": hd_quantile(lat, 0.95),
            "progress": progress, "live_batches": live_batches,
            "sink_q": sink_q, "sink_t": sink_t, "gen_log": gen_log,
            "late_p99": late_p99, "backlog": backlog,
            "t_a": t_a, "t_end": t_end,
        }
        e2e = {
            "pass_s": (backfill_s, "s"),
            "query_geomean_s": (geomean(triggers), "s"),
            "latency_p50_ms": (res["latency_p50_ms"], "ms"),
            "latency_p95_ms": (res["latency_p95_ms"], "ms"),
        }
        verdict = "meets" if res["latency_p95_ms"] < LATENCY_TARGET_MS else "misses"
        info = [
            f"backfill_events_per_s {n_backfill / backfill_s:.6g} events/s "
            f"({n_backfill} events, {cfg['backfill_files']} files)",
            f"live_events_per_s {visible / live_s if live_s > 0 else 0.0:.6g} events/s "
            f"(offered {cfg['rate_events_per_s']} events/s, {seconds:g} s)",
            f"latency samples {n_quotes} quotes in {len(lat)} files; p95 {verdict} the "
            f"{LATENCY_TARGET_MS:.0f} ms target",
            f"generator lateness p99 {late_p99:.2f} ms; peak backlog {backlog} quotes",
            f"micro-batches quotes {len(sink_q)} candles {len(sink_t)}",
            "phases " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()),
        ]
        if traced:
            self._spans(res)
        return e2e, info, res

    def _warm_up(self, spark, root: str) -> None:
        """Run both queries over two batches of their own."""
        from feedgen import Payloads, write_batch

        pipe = Pipeline(spark, root, self.cfg["candle_interval"])
        n = self.cfg["warmup_events"] // 2
        data = Payloads(self.ctx.seed + 1, 2 * n, self.cfg["symbols"],
                        self.cfg["quote_share"])
        pipe.start()
        try:
            for k in range(2):
                write_batch(pipe.bus, f"warm-{k}.parquet",
                            data.columns(k * n, (k + 1) * n), n)
                pipe.drain()
        finally:
            pipe.stop()

    def _latency(self, gen_log: dict, file_batch: dict[str, int],
                 sink_q: dict[int, tuple[float, float]]):
        """Latency (ms) of each live file's quotes (they share one creation
        stamp and one commit), the events made visible in the live phase,
        the time the last one became visible, and the peak quote backlog
        seen at a commit."""
        lat: list[float] = []
        visible = 0
        vis_end = gen_log["start"]
        commits: list[tuple[float, int]] = []
        for b in gen_log["batches"]:
            epoch = file_batch.get(b["file"])
            b["epoch"] = epoch
            b["committed"] = sink_q[epoch][1] if epoch in sink_q else None
            if epoch is None or epoch not in sink_q:
                self.attempted += 1
                self.failed += 1
                self.failures.append(f"feed file {b['file']} never committed")
                continue
            done = sink_q[epoch][1]
            lat.append((done - b["stamp"]) * 1000.0)
            visible += b["quotes"] + b["trades"]
            vis_end = max(vis_end, done)
            commits.append((done, b["quotes"]))
        backlog = 0
        for t, _ in commits:
            written = sum(b["quotes"] for b in gen_log["batches"] if b["stamp"] <= t)
            committed = sum(n for d, n in commits if d <= t)
            backlog = max(backlog, written - committed)
        return lat, visible, vis_end, backlog

    def _check_tables(self, spark, bus: str, latest_path: str, candle_path: str) -> None:
        """The latest table must equal keep_last over every quote written,
        the candle table ohlcv over every trade written."""
        from check_rules import compare_frames

        from tastytrade_sdk_spark.operators.candles import ohlcv
        from tastytrade_sdk_spark.operators.dedup import keep_last
        from tastytrade_sdk_spark.sources.feedbus import ENVELOPE_SCHEMA

        quote_schema, trade_schema = _schemas()
        env = spark.read.schema(ENVELOPE_SCHEMA).parquet(bus)
        want_latest = keep_last(decoded(env, "Quote", quote_schema),
                                ["eventSymbol"], ["time", "offset"])
        want_candles = ohlcv(decoded(env, "Trade", trade_schema),
                             symbol_col="eventSymbol", time_col="time",
                             price_col="price", size_col="size",
                             interval=self.cfg["candle_interval"], order_col="offset")
        got_latest = spark.read.parquet(latest_path)
        got_candles = spark.read.parquet(candle_path).drop("_epoch")
        for name, got, want in (("latest", got_latest, want_latest),
                                ("candles", got_candles, want_candles)):
            self.attempted += 1
            issues = compare_frames(name, got, want)
            if issues:
                self.failed += 1
                self.failures.append(f"{name} table: " + " | ".join(issues))

    # -- traced run ----------------------------------------------------
    def _spans(self, res: dict) -> None:
        """Per micro-batch: a root span from the progress report, its
        phases laid out in execution order, and the timed sink call."""
        spans = Spans()
        order = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")
        for name, ps in res["progress"].items():
            sinks = res["sink_q"] if name == "quotes" else res["sink_t"]
            for p in ps:
                if p.numInputRows == 0:
                    continue
                tid = f"feed_live/{name}/{p.batchId}"
                start = _progress_start(p)
                d = p.durationMs
                root = spans.add(tid, f"micro-batch {name}", start,
                                 start + d.get("triggerExecution", 0) / 1000.0,
                                 rows=p.numInputRows)
                t = start
                for phase in order:
                    ms = d.get(phase, 0) / 1000.0
                    child = spans.add(tid, phase, t, t + ms, parent=root)
                    if phase == "addBatch" and p.batchId in sinks:
                        spans.add(tid, "sink upsert_parquet_batch",
                                  *sinks[p.batchId], parent=child)
                    t += ms
        spans.write(os.path.join(self.ctx.out_dir,
                                 f"spans-feed_live-seed{self.ctx.seed}.json"))

    def layers(self, res: dict) -> dict[str, float]:
        from batch import add_package_layers

        jobs = read_jobs(latest_log(os.path.join(self.ctx.work, "eventlog")))
        totals = JobTotals()
        for j in jobs_between(jobs, res["t_a"], res["t_end"]):
            totals.add(j)
        layers: dict[str, float] = {}
        add_package_layers(layers, "sources", totals, res["t_end"] - res["t_a"])
        layers["sources.scan_mb"] = totals.input_bytes / 1e6
        layers["sources.scan_rows"] = float(totals.input_records)

        live = res["live_batches"]
        d = [p.durationMs for p in live]
        layers["streaming.trigger_ms_p50"] = median([x.get("triggerExecution", 0) for x in d])
        layers["streaming.trigger_ms_p95"] = percentile([x.get("triggerExecution", 0) for x in d], 95)
        layers["streaming.offsets_ms"] = median(
            [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d])
        layers["streaming.plan_ms"] = median([x.get("queryPlanning", 0) for x in d])
        layers["streaming.commit_ms"] = median(
            [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d])
        sinks = [(e - s) * 1000.0 for s, e in
                 list(res["sink_q"].values()) + list(res["sink_t"].values())]
        layers["streaming.sink_ms"] = median(sinks)
        all_batches = [p for ps in res["progress"].values() for p in ps
                       if p.numInputRows > 0]
        layers["streaming.rows_per_batch"] = (
            sum(p.numInputRows for p in all_batches) / len(all_batches)
            if all_batches else 0.0)
        layers["streaming.batches"] = float(len(all_batches))
        state_rows = state_bytes = 0
        for ps in res["progress"].values():
            if ps:
                for op in ps[-1].stateOperators:
                    state_rows += op.numRowsTotal
                    state_bytes += op.memoryUsedBytes
        layers["streaming.state_rows"] = float(state_rows)
        layers["streaming.state_mb"] = state_bytes / 1e6
        layers["streaming.state_commit_ms"] = median(
            [sum(op.commitTimeMs for op in p.stateOperators) for p in all_batches])
        layers["feed.gen_late_p99_ms"] = res["late_p99"]
        layers["feed.backlog_events"] = float(res["backlog"])
        return layers
