"""Closed-loop batch workloads: ``market_batch`` and ``llm_index``.

One client runs the workload's query list back to back. Each query is
built (``queries()[name](spark, dir)``), planned and executed to the
``noop`` sink. The timed pass runs on a warm session: every query has
already run once, in the check pass below, as in a long-running
analytics service where a query's code is loaded and compiled once.

Correctness, untimed, before the timed pass: each query is built and
collected once, two queries at a time, and compared with its
``oracle_sql()`` twin, which runs on DuckDB over the same generated
files on a background thread meanwhile, by ``tools/check_oracle.py``'s
rules.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from check_rules import oracle_rules
from common import (
    Spans,
    geomean,
    hd_quantile,
    start_spark,
)
from eventlog import JobTotals, jobs_between, latest_log, read_jobs

PACKAGES = ("operators", "kernels", "llmops", "sources")
WARMUP_QUERY = "keep_last_upsert"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BatchWorkload:
    def __init__(self, ctx, name: str) -> None:
        self.ctx = ctx
        self.name = name
        self.queries: list[str] = ctx.spec["workloads"][name]["queries"]
        self.packages: dict[str, str] = ctx.spec["packages"]
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._oracle: dict[str, tuple | Exception] = {}
        self.phases: dict[str, float] = {}

    def warm_up(self, spark) -> None:
        """The workload's part of set-up: one light query."""
        from tastytrade_sdk_spark.plans import QUERIES

        _noop(QUERIES[WARMUP_QUERY](spark, self.ctx.input_dir))

    # -- correctness -------------------------------------------------
    def _run_oracles(self) -> None:
        import duckdb

        from tastytrade_sdk_spark.plans import ORACLE_SQL

        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{os.path.join(self.ctx.work, 'tmp')}'")
            for t in self.ctx.tables:
                path = os.path.join(self.ctx.input_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name in self.queries:
                try:
                    rel = con.sql(ORACLE_SQL[name])
                    self._oracle[name] = (rel.columns, rel.types, rel.fetchall())
                except Exception as e:  # reported when the query is checked
                    self._oracle[name] = e
        finally:
            con.close()

    def check_pass(self, spark) -> None:
        """Build and collect every query once while the twins run on
        DuckDB, then compare each output with its twin."""
        from tastytrade_sdk_spark.plans import QUERIES

        compare, type_issues = oracle_rules()
        t0 = time.perf_counter()
        oracle = threading.Thread(target=self._run_oracles, daemon=True)
        oracle.start()

        def collect(name: str) -> tuple | Exception:
            try:
                df = QUERIES[name](spark, self.ctx.input_dir)
                return df.schema, df.columns, [tuple(r) for r in df.collect()]
            except Exception as e:  # a failing check is a counted failure
                return e

        # untimed, so two queries run at a time: most of a query's first
        # run is single-threaded driver work (building, planning, code
        # generation). With the DuckDB thread, 4 threads in all.
        with ThreadPoolExecutor(2) as pool:
            got = dict(zip(self.queries, pool.map(collect, self.queries)))
        t_spark = time.perf_counter() - t0
        oracle.join()
        t_oracle = time.perf_counter() - t0
        for name in self.queries:
            self.attempted += 1
            try:
                expected, actual = self._oracle.get(name), got[name]
                if expected is None or isinstance(expected, Exception):
                    raise RuntimeError(f"oracle twin failed: {expected!r}")
                if isinstance(actual, Exception):
                    raise actual
                cols, types, want = expected
                schema, columns, rows = actual
                issues = type_issues(schema, cols, types)
                issues += compare(name, rows, want, columns, cols)
                if not rows:
                    issues.append("EMPTY result: the input exercises nothing")
            except Exception as e:
                issues = [f"ERROR {type(e).__name__}: {str(e)[:300]}"]
            if issues:
                self.failed += 1
                self.failures.append(f"oracle {name}: " + " | ".join(issues))
        self.phases = {"check spark": t_spark, "check oracle": t_oracle,
                       "check compare": time.perf_counter() - t0 - t_oracle}

    # -- timed passes ------------------------------------------------
    def one_pass(self, spark, traced: bool = False,
                 spans: Spans | None = None) -> tuple[float, dict[str, dict]]:
        """Run the list once. Returns the pass time (the sum of the timed
        build, plan and execute phases) and, per query, its phase
        boundaries in epoch seconds."""
        from tastytrade_sdk_spark.plans import QUERIES

        sc = spark.sparkContext
        out: dict[str, dict] = {}
        total = 0.0
        for name in self.queries:
            self.attempted += 1
            rec: dict = {"ok": False}
            try:
                t0 = time.time()
                if traced:
                    sc.setJobGroup(f"{name}:build", f"perfbench {name} build")
                df = QUERIES[name](spark, self.ctx.input_dir)
                t1 = time.time()
                if traced:
                    sc.setJobGroup(f"{name}:plan", f"perfbench {name} plan")
                    df._jdf.queryExecution().executedPlan()
                t2 = time.time()
                if traced:
                    sc.setJobGroup(f"{name}:exec", f"perfbench {name} exec")
                _noop(df)
                t3 = time.time()
                rec = {"ok": True, "build": (t0, t1), "plan": (t1, t2),
                       "exec": (t2, t3), "wall": t3 - t0}
                total += t3 - t0
            except Exception as e:
                self.failed += 1
                self.failures.append(f"run {name}: {type(e).__name__}: {str(e)[:300]}")
                traceback.print_exc(file=sys.stderr)
            finally:
                if traced:
                    sc._jsc.clearJobGroup()
            out[name] = rec
            if traced and spans is not None and rec["ok"]:
                tid = f"{self.name}/{name}"
                root = spans.add(tid, f"query {name}", rec["build"][0],
                                 rec["exec"][1], package=self.packages[name])
                for phase in ("build", "plan", "exec"):
                    spans.add(tid, phase, *rec[phase], parent=root)
        return total, out

    def run(self, spark, seconds: float, trace: bool):
        """The check pass, then one timed pass; the pass's length is set
        by the query list, not by ``seconds``. Returns (end-to-end
        metrics, per-layer metrics, report lines)."""
        self.check_pass(spark)
        wall, out = self.one_pass(spark)
        walls = [rec["wall"] for rec in out.values() if rec["ok"]]
        e2e = {
            "pass_s": (wall, "s"),
            "query_geomean_s": (geomean(walls), "s"),
            "latency_p50_ms": (hd_quantile(walls, 0.50) * 1000.0, "ms"),
            "latency_p95_ms": (hd_quantile(walls, 0.95) * 1000.0, "ms"),
        }
        info = [f"{name} {rec['wall']:.3f} s" for name, rec in out.items() if rec["ok"]]
        info.append(f"query executions {len(walls)}")
        info.append("phases " + ", ".join(f"{k} {v:.1f} s" for k, v in self.phases.items()))
        layers = self.traced_pass(spark, wall) if trace else {}
        return e2e, layers, info

    # -- traced pass -------------------------------------------------
    def traced_pass(self, spark, untraced_wall: float):
        """One more pass, on a session restarted with the event log on,
        with job groups, forced planning and spans. The log folds into
        the per-layer metrics; the pass's time over the untraced timed
        pass's is the tracing overhead. The traced pass runs on a JVM
        that has run the list once more, so the overhead can read below
        zero when tracing costs less than that extra warming."""
        ctx = self.ctx
        spark.stop()
        spark = start_spark(ctx.work, ctx.cpus, event_log=True)
        spans = Spans()
        wall, out = self.one_pass(spark, traced=True, spans=spans)
        spark.stop()  # finishes the event log
        jobs = read_jobs(latest_log(os.path.join(ctx.work, "eventlog")))
        spans.write(os.path.join(ctx.out_dir, f"spans-{self.name}-seed{ctx.seed}.json"))

        layers: dict[str, float] = {}
        build_s = plan_ms = 0.0
        build_jobs = 0
        pkg = {p: JobTotals() for p in PACKAGES}
        pkg_exec = {p: 0.0 for p in PACKAGES}
        everything = JobTotals()
        for name, rec in out.items():
            if not rec["ok"]:
                continue
            b = jobs_between(jobs, *rec["build"])
            allq = jobs_between(jobs, rec["build"][0], rec["exec"][1])
            build_s += rec["build"][1] - rec["build"][0]
            plan_ms += (rec["plan"][1] - rec["plan"][0]) * 1000.0
            build_jobs += len(b)
            p = self.packages[name]
            pkg_exec[p] += rec["exec"][1] - rec["exec"][0]
            for j in allq:
                pkg[p].add(j)
                everything.add(j)
            layers[f"q.{name}.build_s"] = rec["build"][1] - rec["build"][0]
            layers[f"q.{name}.exec_s"] = rec["exec"][1] - rec["exec"][0]
            layers[f"q.{name}.jobs"] = float(len(allq))
        layers["plans.build_s"] = build_s
        layers["plans.build_jobs"] = float(build_jobs)
        layers["plans.plan_ms"] = plan_ms
        for p in PACKAGES:
            add_package_layers(layers, p, pkg[p], pkg_exec[p])
        layers["sources.scan_mb"] = everything.input_bytes / 1e6
        layers["sources.scan_rows"] = float(everything.input_records)
        layers["trace.overhead_share"] = wall / untraced_wall - 1.0
        return layers


def add_package_layers(layers: dict, p: str, t: JobTotals, exec_s: float) -> None:
    layers[f"{p}.exec_s"] = exec_s
    layers[f"{p}.jobs"] = float(t.jobs)
    layers[f"{p}.tasks"] = float(t.tasks)
    layers[f"{p}.task_cpu_share"] = t.cpu_share()
    layers[f"{p}.shuffle_mb"] = t.shuffle_write_bytes / 1e6
    layers[f"{p}.spill_mb"] = t.spill_bytes / 1e6
    layers[f"{p}.python_s"] = t.python_ms / 1000.0
