"""Self-tests for the benchmark's pure parts and its tracing.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import pickle
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog  # noqa: E402
from perfbench.metrics import gap, median_n, self_times, union_length  # noqa: E402


def test_median_and_sample_count():
    assert median_n([3.0, 1.0, 2.0]) == (2.0, 3)
    assert median_n([4.0, 1.0, 3.0, 2.0]) == (2.5, 4)
    assert median_n(iter([7.5])) == (7.5, 1)
    with pytest.raises(ValueError):
        median_n([])


def test_union_of_intervals_counts_overlap_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (5, 6)]) == 3.0
    assert union_length([(0, 4), (1, 2), (3, 6)]) == 6.0  # nested + overlap
    assert union_length([(3, 6), (0, 4)]) == 6.0  # unsorted
    assert union_length([(0, 1), (1, 2)]) == 2.0  # touching
    assert union_length([(-5, 2), (8, 20)], lo=0, hi=10) == 4.0  # clipped
    assert union_length([(11, 12)], lo=0, hi=10) == 0.0


def test_driver_gap_is_window_minus_job_union():
    # window 0..10, jobs cover 1..4 (two overlapping) and 6..7 -> 4 busy
    assert gap((0, 10), [(1, 3), (2, 4), (6, 7)]) == 6.0
    assert gap((0, 10), []) == 10.0
    # a job running past the window end is clipped to it
    assert gap((0, 10), [(9, 15)]) == 9.0


def test_nested_span_self_time():
    spans = [
        (None, 0.0, 10.0),  # 0: root
        (0, 1.0, 4.0),      # 1: child
        (1, 2.0, 3.0),      # 2: grandchild
        (0, 3.0, 6.0),      # 3: child overlapping 1 (another thread)
        (None, 20.0, 21.0),  # 4: second root, no children
    ]
    assert self_times(spans) == [5.0, 2.0, 1.0, 3.0, 1.0]
    # self times of a properly nested tree add up to the root's duration
    nested = [(None, 0.0, 10.0), (0, 1.0, 4.0), (1, 2.0, 3.0), (0, 5.0, 6.0)]
    assert sum(self_times(nested)) == 10.0


def _ev(**kw):
    return json.dumps(kw)


def test_event_log_parser_on_synthetic_lines():
    lines = [
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0,
               "Submission Time": 1000, "Stage IDs": [0, 1],
               "Properties": {"spark.jobGroup.id": "q1",
                              "spark.job.description": "kg:build"}}),
        _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
               "Task End Reason": {"Reason": "Success"},
               "Task Metrics": {"Executor Run Time": 300,
                                "Executor CPU Time": 200_000_000,
                                "JVM GC Time": 10,
                                "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}}),
        _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 1,
               "Task End Reason": {"Reason": "ExceptionFailure"},
               "Task Metrics": {"Executor Run Time": 100,
                                "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                         "Local Bytes Read": 63}}}),
        _ev(**{"Event": "SparkListenerStageCompleted",
               "Stage Info": {"Stage ID": 0, "Accumulables": [
                   {"ID": 1, "Name": "data sent to Python workers", "Value": 40},
                   {"ID": 2, "Name": "data returned from Python workers", "Value": "2"},
                   {"ID": 3, "Name": "number of output rows", "Value": 9}]}}),
        _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000}),
        # submitted outside the window: ignored
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1,
               "Submission Time": 9000, "Stage IDs": [2]}),
        "",
    ]
    log = eventlog.parse(lines)
    assert log.jobs[0].group == "q1" and log.jobs[0].description == "kg:build"
    sub = eventlog.substrate(log, (0.5, 5.0))
    assert sub == {
        "spark.jobs": 1,
        "spark.stages": 1,
        "spark.tasks": 2,
        "spark.failed_tasks": 1,
        "spark.executor_run_s": 0.4,
        "spark.executor_cpu_s": 0.2,
        "spark.gc_s": 0.01,
        "spark.shuffle_read_bytes": 64,
        "spark.shuffle_write_bytes": 64,
        "spark.python_bytes": 42,
        "spark.driver_gap_s": 4.5 - 2.0,
    }
    layers = ("kg", "train")
    assert eventlog.layer_of_description("kg:build", layers) == "kg"
    assert eventlog.layer_of_description("queries:q1", layers) is None
    assert eventlog.layer_of_description(None, layers) is None


@pytest.fixture(scope="module")
def spark_with_event_log(tmp_path_factory):
    from pyspark.sql import SparkSession

    logdir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", logdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield spark, logdir
    spark.stop()


def test_event_log_parser_on_a_local_spark_log(spark_with_event_log):
    import time

    from pyspark.sql import functions as F

    spark, logdir = spark_with_event_log
    sc = spark.sparkContext
    t0 = time.time()
    sc.setJobGroup("g1", "kg:count")
    spark.range(1000, numPartitions=3).count()
    sc.setJobGroup("g2", "pipeline:shuffle")
    spark.range(1000, numPartitions=3).groupBy((F.col("id") % 7).alias("k")).count().collect()
    t1 = time.time()
    tracker = sc.statusTracker()
    expected = {g: len(tracker.getJobIdsForGroup(g)) for g in ("g1", "g2")}
    app_id = sc.applicationId
    spark.stop()
    log = eventlog.read(os.path.join(logdir, app_id))
    by_group = {}
    for j in log.jobs.values():
        by_group[j.group] = by_group.get(j.group, 0) + 1
        assert j.end_s is not None and j.end_s >= j.submit_s
    assert {g: by_group.get(g, 0) for g in expected} == expected
    sub = eventlog.substrate(log, (t0 - 1, t1 + 1))
    assert sub["spark.jobs"] == sum(expected.values())
    assert sub["spark.tasks"] >= 3 and sub["spark.failed_tasks"] == 0
    assert sub["spark.shuffle_write_bytes"] > 0 and sub["spark.shuffle_read_bytes"] > 0
    assert sub["spark.executor_run_s"] >= 0
    assert 0 <= sub["spark.driver_gap_s"] <= (t1 - t0) + 2


class _FakeSC:
    def __init__(self):
        self.props: list = []

    def setLocalProperty(self, key, value):
        self.props.append((key, value))


def test_tracer_wraps_rebinds_and_restores():
    from perfbench.spans import MemoDict, Tracer
    from spark_tensors_spark.functions import activations
    from spark_tensors_spark.queries import kg

    original = activations.relu_np
    memo = kg._ENCODED_CACHE
    sc = _FakeSC()
    tracer = Tracer(sc)
    tracer.install()
    try:
        wrapped = activations.relu_np
        assert wrapped is not original and wrapped.__wrapped__ is original
        assert isinstance(kg._ENCODED_CACHE, MemoDict)
        assert kg.QUERIES["kg_q15_encode"].__wrapped__ is kg.kg_q15_encode.__wrapped__
        wrapped(-1.0)
        # a wrapped function pickles by reference (module + qualname),
        # so Python workers run the untraced original
        assert pickle.loads(pickle.dumps(wrapped)) is wrapped
        from pyspark import cloudpickle as cp  # what Spark ships functions with

        assert len(cp.dumps(wrapped)) < 200
    finally:
        tracer.uninstall()
    assert activations.relu_np is original
    assert kg._ENCODED_CACHE is memo
    assert kg.QUERIES["kg_q15_encode"] is kg.kg_q15_encode
    assert not hasattr(kg.kg_q15_encode, "__wrapped__")
    layer, name, parent, start, end = tracer.spans[0]
    assert (layer, name, parent) == ("functions", "relu_np", None)
    assert end >= start
    assert sc.props[0] == ("spark.job.description", "functions:relu_np")
    assert sc.props[-1] == ("spark.job.description", None)


def test_memo_dict_counts_probes_misses_and_builds():
    from perfbench.spans import MemoDict, Tracer

    tracer = Tracer(_FakeSC())
    memo = MemoDict({}, tracer)
    assert memo.get("k") is None       # probe, miss
    memo["k"] = 1                      # build ends
    assert "k" in memo                 # probe, hit
    assert memo.get("k") == 1          # probe, hit
    assert tracer.memo_calls == 3
    assert len(tracer.memo_builds) == 1
    s, e = tracer.memo_builds[0]
    assert e >= s


def test_benchmark_json_matches_the_runner():
    from perfbench import run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import __spark_entry__ as entry

    registry = entry.queries()
    for w in WORKLOADS.values():
        names = w.names(registry)
        assert names and len(set(names)) == len(names)
        assert set(names) <= set(registry)
    sizes = {w: len(WORKLOADS[w].names(registry)) for w in
             ("kge_train", "graph_iter", "doc_pipeline")}
    assert sizes == {"kge_train": 16, "graph_iter": 12, "doc_pipeline": 45}


def test_work_list_takes_most_jobs_then_ranks_by_driver_gap():
    from perfbench.report import work_list

    rows = [
        {"query": "a", "jobs": 5, "driver_gap_s": 9.0},
        {"query": "b", "jobs": 60, "driver_gap_s": 1.0},
        {"query": "c", "jobs": 40, "driver_gap_s": 3.0},
        {"query": "d", "jobs": 40, "driver_gap_s": 2.0},
    ]
    assert [r["query"] for r in work_list(rows, 3)] == ["c", "d", "b"]


def test_stop_processes_waits_for_orphaned_grandchildren():
    # the shell exits at once, so its two sleeps are orphaned and
    # re-parented to the subreaper, as Spark's daemon workers are when
    # the JVM exits
    import subprocess

    script = (
        "import subprocess, sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench import run\n"
        "run.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & sleep 60 &'], check=True)\n"
        "assert len(run.child_pids()) == 2, run.child_pids()\n"
        "run.stop_processes()\n"
        "print(run.child_pids())\n"
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=60, check=True)
    assert out.stdout.strip() == "[]"
