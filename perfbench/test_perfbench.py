"""Tests of the benchmark itself: input determinism, the metric
contract in BENCHMARK.json, the feed generator, the checkpoint reader,
and a tiny-input smoke run of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark and take several minutes; ``-k "not smoke"``
skips them.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from common import load_spec  # noqa: E402
from feed import file_epochs  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def _tiny_spec(tmp_path) -> str:
    spec = load_spec()
    spec["inputs"]["rows"] = {"events": 3000, "customer": 200, "orders": 1500,
                              "documents": 120, "embeddings": 240}
    spec["inputs"]["users"] = 60
    spec["workloads"]["feed_live"].update(
        {"backfill_events": 4000, "backfill_files": 4, "warmup_events": 2000,
         "rate_events_per_s": 2000})
    path = tmp_path / "tiny_spec.json"
    path.write_text(json.dumps(spec))
    return str(path)


# -- inputs ----------------------------------------------------------------

def test_inputs_are_deterministic_per_seed():
    spec = load_spec()["inputs"]
    a = inputs.content_hash(inputs.build_tables(5, spec))
    b = inputs.content_hash(inputs.build_tables(5, spec))
    c = inputs.content_hash(inputs.build_tables(6, spec))
    assert a == b
    assert a != c


def test_inputs_keep_the_value_domains(tmp_path):
    import numpy as np

    spec = load_spec()["inputs"]
    manifest = inputs.write_inputs(3, spec, str(tmp_path))
    assert manifest["rows"] == dict(sorted(spec["rows"].items()))
    t = inputs.build_tables(3, spec)
    seed = inputs.read_seed()
    for name in inputs.TABLES:
        assert t[name].schema.names == seed[name].schema.names, name
    ev = t["events"].to_pydict()
    assert set(ev["event_type"]) == set(inputs.EVENT_TYPES)
    assert all(re.fullmatch(r'\{"k": \d{1,2}\}', p) for p in ev["props"])
    assert all(round(v, 2) == v and v >= 0 for v in ev["value"])
    assert ev["event_id"] == list(range(len(ev["event_id"])))
    assert ev["ts"] == sorted(ev["ts"])
    start = np.datetime64(spec["events_start"]).astype("datetime64[us]").item()
    days = {(ts - start).days for ts in ev["ts"]}
    assert days == set(range(spec["events_days"]))
    assert set(ev["user_id"]) <= set(range(spec["users"]))
    cust = t["customer"].to_pydict()
    assert cust["c_custkey"] == list(range(spec["rows"]["customer"]))
    assert all(n == f"Customer#{k:09d}" for k, n in zip(cust["c_custkey"], cust["c_name"]))
    assert set(t["orders"].column("o_custkey").to_pylist()) <= set(cust["c_custkey"])
    emb = np.asarray(t["embeddings"].column("embedding").to_pylist())
    assert emb.shape == (spec["rows"]["embeddings"], inputs.EMBED_DIM)
    assert np.allclose(np.linalg.norm(emb, axis=1), 1.0, atol=1e-5)
    docs = t["documents"].to_pydict()
    assert sum(d.endswith(inputs.DUP_MARKER) for d in docs["text"]) > 0
    assert docs["n_chars"] == [len(d) for d in docs["text"]]


# -- metric contract -------------------------------------------------------

def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert 1 <= bench["run_seconds"] <= 60
    workloads = [w["name"] for w in bench["workloads"]]
    assert 2 <= len(workloads) <= 8
    assert set(workloads) <= set(run.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200

    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert list(e2e) == list(run.END_TO_END)
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["unit"] == run.END_TO_END[m["name"]]
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert e2e["setup_s"]["better"] == "lower" and e2e["setup_s"]["unit"] == "s"

    layers = [m["name"] for m in bench["per_layer"]]
    assert layers == run.per_layer_names(load_spec())
    assert len(layers) <= 128
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["unit"] == run.per_layer_unit(m["name"])

    names = workloads + list(e2e) + layers
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")


def test_every_batch_query_has_a_package():
    spec = load_spec()
    for w in ("market_batch", "llm_index"):
        for q in spec["workloads"][w]["queries"]:
            assert spec["packages"][q] in ("operators", "kernels", "llmops", "sources")
            assert not q.endswith("_search_only")


# -- feed generator and checkpoint reader -----------------------------------

def test_feed_generator_writes_whole_files_on_schedule(tmp_path):
    import pyarrow.parquet as pq

    bus = tmp_path / "bus"
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "feedgen.py"), "--bus", str(bus),
         "--seed", "1", "--seconds", "0.5", "--period-ms", "100", "--rate", "2000",
         "--symbols", "10", "--quote-share", "0.5", "--backfill-events", "500",
         "--backfill-files", "2"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert gen.stdout.readline().strip() == "ready"
        out, _ = gen.communicate("go\n", timeout=60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    assert gen.returncode == 0
    log = json.loads(out.strip().splitlines()[-1])
    assert len(log["batches"]) == 5
    names = sorted(os.listdir(bus))
    assert not [n for n in names if n.startswith(".")]  # no hidden leftovers
    assert len(names) == 7
    for b in log["batches"]:
        assert b["stamp"] >= b["due"] - 1e-3
        assert b["quotes"] + b["trades"] == 200
        t = pq.read_table(os.path.join(bus, b["file"]))
        assert t.num_rows == 200
        payload = json.loads(t.column("payload")[0].as_py())
        assert payload[0] in ("Quote", "Trade")


def test_file_epochs_follow_the_offset_log(tmp_path):
    ck = tmp_path / "ck"
    (ck / "sources" / "0").mkdir(parents=True)
    (ck / "offsets").mkdir()
    entries = [("a", 0), ("b", 1), ("c", 1), ("d", 2)]
    (ck / "sources" / "0" / "1.compact").write_text(
        "v1\n" + "\n".join(json.dumps({"path": f"file:///bus/{f}", "timestamp": 0,
                                       "batchId": b}) for f, b in entries))
    # micro-batch 1 read nothing new (a no-data batch), 2 read source batch 1
    for epoch, off in ((0, 0), (1, 0), (2, 1), (3, 2)):
        (ck / "offsets" / str(epoch)).write_text(
            'v1\n{"batchWatermarkMs":0}\n' + json.dumps({"logOffset": off}))
    assert file_epochs(str(ck)) == {"a": 0, "b": 2, "c": 2, "d": 3}


# -- end-to-end smoke runs ---------------------------------------------------

def _run(args: list[str], cwd: str = ROOT, timeout: int = 300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


# layers each traced workload must fill; a zero here means the event-log
# parse, a phase window or the progress capture came back empty
MUST_FILL = {
    "market_batch": [
        "plans.build_s", "plans.build_jobs", "plans.plan_ms",
        "operators.exec_s", "operators.jobs", "operators.tasks",
        "kernels.exec_s", "kernels.jobs", "kernels.python_s",
        "llmops.exec_s", "llmops.jobs", "sources.scan_mb", "sources.scan_rows",
    ] + [f"q.{q}.{m}" for q in load_spec()["workloads"]["market_batch"]["queries"]
         for m in ("build_s", "exec_s", "jobs")],
    "feed_live": [
        "sources.exec_s", "sources.jobs", "sources.tasks", "sources.scan_rows",
        "streaming.trigger_ms_p50", "streaming.offsets_ms", "streaming.sink_ms",
        "streaming.rows_per_batch", "streaming.batches", "streaming.state_rows",
    ],
}


@pytest.mark.parametrize("workload,trace", [
    ("market_batch", "0"), ("market_batch", "1"), ("llm_index", "0"), ("feed_live", "1"),
])
def test_smoke_each_workload(workload, trace, tmp_path):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "2",
              "--trace", trace, "--spec", _tiny_spec(tmp_path)])
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    # every end-to-end metric is printed by name and unit, traced or not
    printed = {ln.split()[0]: ln.split()[1:3] for ln in lines[:-1] if ln.split()}
    for name, unit in run.END_TO_END.items():
        assert printed[name][1] == unit and float(printed[name][0]) > 0, name
    if trace == "0":
        assert list(result["metrics"]) == list(run.END_TO_END)
        assert all(m["value"] > 0 for m in result["metrics"].values())
        return
    metrics = result["metrics"]
    assert list(metrics) == run.per_layer_names(load_spec())
    empty = [n for n in MUST_FILL[workload] if not metrics[n]["value"] > 0]
    assert not empty, empty
    with open(os.path.join(HERE, ".work", "out", f"spans-{workload}-seed1.json")) as f:
        spans = json.load(f)
    ids = {s["span_id"] for s in spans}
    assert spans and all(s["parent_id"] in ids for s in spans if s["parent_id"])
    assert all(s["end"] >= s["start"] for s in spans)


def test_smoke_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(["--workload", "market_batch", "--seed", "1", "--seconds", "2",
              "--trace", "0"], cwd=str(tmp_path), timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
