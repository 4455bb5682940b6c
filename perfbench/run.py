"""spark-tick benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload market_batch --seed 1 --seconds 10 --trace 0

Workloads (perfbench/spec.json states each one's loop, rate, sizes and
reason): ``market_batch`` and ``llm_index`` run a query list in a
closed loop; ``feed_live`` drives the streaming pipeline from a
separate open-loop generator process. All run on local[nproc].

Inputs are derived from ``--seed`` and the sf0.1 sample in
perfbench/seed, under perfbench/.work. Outputs are checked in the same
run (oracle twins on DuckDB for the batch queries, batch twins for the
streaming tables). Every metric is printed by name
with its unit; the last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones from a traced pass (job groups, a plain-JSON Spark event
log, streaming progress, spans written to perfbench/.work/out) and the
tracing overhead against the untraced pass of the same run.

Exits non-zero without a result line when the program under test is
missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (  # noqa: E402
    ROOT,
    WORK,
    RssSampler,
    cpu_count,
    jvm_pid,
    kill_descendants,
    load_spec,
    prepare_env,
    shutdown_jvm,
    start_spark,
)

WORKLOADS = ("market_batch", "llm_index", "feed_live")
# a run that has not finished by then kills what it started and fails
DEADLINE_S = 170.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "peak_rss_mb": "MB",
}
# per-query layer metrics in the JSON result come from this workload;
# other workloads' per-query figures are printed, not returned
PER_QUERY_WORKLOAD = "market_batch"
PACKAGE_METRICS = ("exec_s", "jobs", "tasks", "task_cpu_share",
                   "shuffle_mb", "spill_mb", "python_s")
STREAMING_METRICS = (
    "streaming.trigger_ms_p50", "streaming.trigger_ms_p95",
    "streaming.offsets_ms", "streaming.plan_ms", "streaming.commit_ms",
    "streaming.sink_ms", "streaming.rows_per_batch", "streaming.batches",
    "streaming.state_rows", "streaming.state_mb", "streaming.state_commit_ms",
    "feed.gen_late_p99_ms", "feed.backlog_events",
)


def per_layer_names(spec: dict) -> list[str]:
    names = ["plans.build_s", "plans.build_jobs", "plans.plan_ms"]
    for p in ("operators", "kernels", "llmops", "sources"):
        names += [f"{p}.{m}" for m in PACKAGE_METRICS]
    names += ["sources.scan_mb", "sources.scan_rows"]
    for q in spec["workloads"][PER_QUERY_WORKLOAD]["queries"]:
        names += [f"q.{q}.build_s", f"q.{q}.exec_s", f"q.{q}.jobs"]
    names += list(STREAMING_METRICS)
    names.append("trace.overhead_share")
    return names


def per_layer_unit(name: str) -> str:
    if name.endswith(("_s",)):
        return "s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_share",)):
        return "ratio"
    if name.endswith("rows_per_batch"):
        return "rows"
    return "count"


class Context:
    def __init__(self, args, spec: dict) -> None:
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.spec = spec
        self.cpus = cpu_count()
        self.work = WORK
        self.input_dir = os.path.join(WORK, "inputs")
        self.out_dir = os.path.join(WORK, "out")
        self.tables = sorted(spec["inputs"]["rows"])
        self.children: list = []  # processes the workload started


def _watchdog(ctx: Context) -> threading.Timer:
    def fire() -> None:
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, aborting",
              file=sys.stderr, flush=True)
        kill_descendants()
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()
    return t


def setup(ctx: Context, workload) -> tuple:
    """The cold set-up: launch the JVM and start the Spark session on
    local[nproc], import the query registry and run the workload's
    warm-up. Returns the session and the set-up's wall time."""
    t0 = time.perf_counter()
    spark = start_spark(ctx.work, ctx.cpus)
    import tastytrade_sdk_spark.plans  # noqa: F401  the registry import

    workload.warm_up(spark)
    return spark, time.perf_counter() - t0


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-tick benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spec", default=None,
                    help="workload spec file (default perfbench/spec.json); "
                         "the tests pass a tiny one")
    args = ap.parse_args()
    t_run = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "tastytrade_sdk_spark", "__init__.py")):
        print(f"perfbench: program package tastytrade_sdk_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = load_spec(args.spec)
    ctx = Context(args, spec)
    for sub in os.listdir(WORK) if os.path.isdir(WORK) else []:
        if sub != "out":
            shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    prepare_env(WORK)
    watchdog = _watchdog(ctx)
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if args.workload != "feed_live":  # the feed reads no tables
        from inputs import write_inputs

        manifest = write_inputs(ctx.seed, spec["inputs"], ctx.input_dir)
        print(f"inputs {json.dumps(manifest)}")

    rss = RssSampler()
    try:
        if args.workload == "feed_live":
            from feed import FeedWorkload

            wl = FeedWorkload(ctx)
        else:
            from batch import BatchWorkload

            wl = BatchWorkload(ctx, args.workload)
        spark, setup_s = setup(ctx, wl)
        rss.start(jvm_pid())
        e2e, layers, info = wl.run(spark, ctx.seconds, ctx.trace)
    finally:
        rss.stop()
        for p in ctx.children:
            if p.poll() is None:
                p.kill()
            p.wait()
        shutdown_jvm()
        watchdog.cancel()
        kill_descendants()  # anything the JVM left behind
    for sub in ("inputs", "tmp", "spark-local", "warehouse", "feed", "eventlog"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)

    e2e["setup_s"] = (setup_s, "s")
    e2e["peak_rss_mb"] = (rss.peak_bytes / 1e6, "MB")
    failed_share = wl.failed / wl.attempted if wl.attempted else 1.0
    print(f"workload {args.workload} seed {ctx.seed} cores {ctx.cpus} "
          f"seconds {ctx.seconds:g} trace {int(ctx.trace)}")
    for line in info:
        print(line)
    for name, (value, unit) in e2e.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"failed_share {failed_share:.6g} ratio "
          f"({wl.failed} of {wl.attempted} operations)")
    for f in wl.failures:
        print(f"FAILED {f}")

    if ctx.trace:
        names = per_layer_names(spec)
        for n in names + sorted(set(layers) - set(names)):
            print(f"{n} {layers.get(n, 0.0):.6g} {per_layer_unit(n)}")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": per_layer_unit(n)}
                   for n in names}
    else:
        metrics = {n: {"value": float(e2e[n][0]), "unit": u}
                   for n, u in END_TO_END.items()}
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }
    print(f"run wall {time.perf_counter() - t_run:.1f} s")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
