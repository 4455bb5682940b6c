"""session.overlap: the one way to run lineage-disjoint driver jobs
concurrently — joins every thread before raising, re-raises the
earliest failure by argument order, keeps the caller's job group."""

import ast
import pathlib
import threading
import time
import uuid

import pytest

from tastytrade_sdk_spark.session import overlap

PKG = pathlib.Path(__file__).resolve().parent.parent / "tastytrade_sdk_spark"


@pytest.fixture
def job_group(spark):
    """A fresh job group set on the calling thread, cleared afterwards
    so later tests' jobs do not inherit it."""
    sc = spark.sparkContext
    group = f"t:{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "overlap test")
    yield group
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def test_siblings_joined_before_raise():
    finished = threading.Event()

    def slow():
        time.sleep(0.5)
        finished.set()

    def fast_fail():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        overlap(fast_fail, slow)
    assert finished.is_set()


def test_earliest_error_by_argument_order_wins():
    def late_fail():
        time.sleep(0.3)
        raise ValueError("first argument")

    def early_fail():
        raise KeyError("second argument")

    with pytest.raises(ValueError, match="first argument"):
        overlap(late_fail, early_fail)


def test_results_in_argument_order():
    def after(delay, value):
        def run():
            time.sleep(delay)
            return value

        return run

    assert overlap(after(0.3, "a"), after(0.0, "b"), after(0.1, "c")) == [
        "a",
        "b",
        "c",
    ]
    assert overlap() == []


def test_jobs_carry_the_callers_job_group(spark, job_group):
    tracker = spark.sparkContext.statusTracker()
    assert list(tracker.getJobIdsForGroup(job_group)) == []
    overlap(lambda: spark.range(10).count())
    assert len(tracker.getJobIdsForGroup(job_group)) >= 1


def _marker_jobs(spark, group: str) -> list:
    sc = spark.sparkContext
    sc.setJobGroup(group, "marker")
    spark.range(1).count()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_bm25_index_write_jobs_stay_in_the_callers_group(
    spark, tmp_path, job_group
):
    """Every job bm25_index_write starts, including the overlapped
    postings write, is attributed to the caller's job group. Job ids
    are assigned in submission order, so the jobs started during the
    call are exactly the ids between two marker jobs."""
    from tastytrade_sdk_spark.llmops.retrieval import bm25_index_write

    sc = spark.sparkContext
    corpus = spark.createDataFrame(
        [(0, "spark query engine"), (1, "fast joins and scans")],
        "doc_id long, text string",
    )
    first = max(_marker_jobs(spark, f"{job_group}:before"))
    sc.setJobGroup("t:build", "bm25_index_write")
    bm25_index_write(corpus, str(tmp_path / "idx"), n_buckets=4)
    last = min(_marker_jobs(spark, f"{job_group}:after"))
    during = set(range(first + 1, last))
    assert during
    outside = during - set(sc.statusTracker().getJobIdsForGroup("t:build"))
    assert not outside, f"jobs without the caller's group: {sorted(outside)}"


def test_no_hand_rolled_threads_in_the_package():
    """Driver-job concurrency goes through session.overlap; only the
    socket source keeps its own accept/listener threads."""
    allowed = {PKG / "session.py", PKG / "sources" / "socket_source.py"}
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "Thread"
                and isinstance(f.value, ast.Name)
                and f.value.id == "threading"
            ) or (isinstance(f, ast.Name) and f.id == "Thread"):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, offenders
