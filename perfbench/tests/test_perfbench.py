"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _write_log(path, events):
    os.makedirs(path)
    with open(os.path.join(path, "events_1_local-1"), "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
    with open(os.path.join(path, "appstatus_local-1"), "w") as fh:
        fh.write("not json\n")


def _task(stage, run_ms=0, cpu_ns=0, gc_ms=0, read=(0, 0), write=(0, 0), sw=0, sr=(0, 0), spill=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": u} for i, (n, u) in enumerate(accs)]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Input Metrics": {"Bytes Read": read[0], "Records Read": read[1]},
            "Output Metrics": {"Bytes Written": write[0], "Records Written": write[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr[0], "Local Bytes Read": sr[1]},
        },
    }


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {
        "Event": "SparkListenerJobStart",
        "Job ID": 0,
        "Submission Time": 1000_000,
        "Stage IDs": [0, 1],
        "Properties": {"spark.jobGroup.id": "perfbench:0:q"},
    },
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(0, run_ms=1500, cpu_ns=1_000_000_000, gc_ms=100, read=(4096, 10), sw=300, spill=7),
    _task(
        1,
        run_ms=500,
        cpu_ns=250_000_000,
        sr=(100, 200),
        accs=[
            ("time to run Python workers", "2000"),
            ("time to start Python workers", "500"),
            ("data sent to Python workers", "1000"),
            ("data returned from Python workers", "600"),
            ("number of output rows", 99),
        ],
    ),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1002_000},
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 3,
        "time": 1003_000,
        "sparkPlanInfo": {
            "metrics": [],
            "children": [{"metrics": [{"name": "number of written files", "accumulatorId": 77}], "children": []}],
        },
    },
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1003_500, "Stage IDs": [2]},
    _task(2, run_ms=200, write=(2048, 5)),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1004_000},
    {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
        "executionId": 3,
        "accumUpdates": [[77, 2], [78, 5]],
    },
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", "executionId": 3, "time": 1004_100},
]


def test_parser_reads_canned_event_log(tmp_path):
    log = str(tmp_path / "eventlog_v2_local-1")
    _write_log(log, CANNED)
    jobs = eventlog.read_log(str(tmp_path))
    assert [(j.job_id, j.start, j.end, j.group) for j in jobs] == [
        (0, 1000.0, 1002.0, "perfbench:0:q"),
        (1, 1003.5, 1004.0, None),
    ]
    c0, c1 = jobs[0].counters, jobs[1].counters
    assert c0["exec.stages"] == 2 and c0["exec.tasks"] == 2
    assert c0["exec.executor_run_s"] == pytest.approx(2.0)
    assert c0["exec.executor_cpu_s"] == pytest.approx(1.25)
    assert c0["exec.gc_s"] == pytest.approx(0.1)
    assert (c0["sources.scan_bytes"], c0["sources.scan_rows"]) == (4096, 10)
    assert (c0["shuffle.write_bytes"], c0["shuffle.read_bytes"], c0["shuffle.spill_bytes"]) == (300, 300, 7)
    assert c0["udf.python_s"] == pytest.approx(2.0)
    assert c0["udf.boot_s"] == pytest.approx(0.5)
    assert (c0["udf.bytes_sent"], c0["udf.bytes_received"]) == (1000, 600)
    assert (c1["sources.write_bytes"], c1["sources.write_rows"]) == (2048, 5)
    # Only accumulator 77 is the written-files metric; it lands on the job
    # running when its SQL execution ended.
    assert c1["sources.write_files"] == 2 and c0["sources.write_files"] == 0


def test_rolled_parts_are_read_in_index_order(tmp_path):
    log = tmp_path / "eventlog_v2_app"
    log.mkdir()
    start = {"Event": "SparkListenerJobStart", "Job ID": 5, "Submission Time": 1000, "Stage IDs": []}
    end = {"Event": "SparkListenerJobEnd", "Job ID": 5, "Completion Time": 3000}
    # Part 10 sorts before part 2 as text; the end event must still follow.
    (log / "events_2_app").write_text(json.dumps(start) + "\n")
    (log / "events_10_app").write_text(json.dumps(end) + "\n")
    (jobs,) = eventlog.read_log(str(tmp_path))
    assert (jobs.start, jobs.end) == (1.0, 3.0)


def test_interval_union():
    assert eventlog.interval_union([]) == 0.0
    assert eventlog.interval_union([(0, 1), (2, 3)]) == 2.0
    assert eventlog.interval_union([(0, 2), (1, 3), (2.5, 2.7)]) == 3.0
    assert eventlog.interval_union([(5, 6), (0, 1), (0.5, 5.5)]) == 6.0
    assert eventlog.clipped_union([(0, 2), (3, 10)], 1, 4) == 2.0
    assert eventlog.clipped_union([(0, 1)], 2, 3) == 0.0


def test_self_times_and_attribution():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert eventlog.self_times(spans) == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    jobs = [eventlog.Job(i, t) for i, t in enumerate([0.5, 1.5, 4.5, 7.0])]
    got = {sid: [j.job_id for j in js] for sid, js in eventlog.attribute(jobs, spans).items()}
    # Leaves are spans 2 and 3; a job outside every leaf is dropped.
    assert got == {3: [1], 2: [2]}


def test_tree_memory_counts_a_forking_jvm_once():
    # A JVM forking a helper shows a second java process holding the same
    # pages; Python processes report PSS and add up.
    assert run.tree_memory([(True, 1000), (True, 990), (False, 50), (False, 30)]) == 1080
    assert run.tree_memory([(False, 50)]) == 50


def _fake_worker(tmp_path, query_s):
    """A worker result: session set-up, then one pass per entry of
    ``query_s`` running the single query "q" for that long, and no jobs."""
    spans, sid = [], 0

    def add(name, parent, t0, t1, **kw):
        nonlocal sid
        spans.append({"id": sid, "name": name, "parent": parent, "t0": t0, "t1": t1, "start": t0, "end": t1, **kw})
        sid += 1
        return sid - 1

    add("session", None, 0.0, 5.0)
    add("plans.import", None, 5.0, 5.5)
    t = 6.0
    for p, dur in enumerate(query_s):
        pid = add("pass", None, t, t + dur + 0.1, pass_no=p)
        qid = add("query", pid, t, t + dur, query="q", pass_no=p)
        add("build", qid, t, t + 1.0)
        add("plan", qid, t + 1.0, t + 1.5)
        add("execute", qid, t + 1.5, t + dur)
        t += dur + 0.1
    event_dir = tmp_path / f"events{len(query_s)}"
    event_dir.mkdir(exist_ok=True)
    return {
        "spans": spans,
        "passes": [d + 0.1 for d in query_s],
        "streaming": [{"timestamp": "1970-01-01T00:00:18Z", "batch_s": 0.4, "commit_s": 0.1, "state_rows": 7}],
        "tmp_bytes_left": 123,
        "event_dir": str(event_dir),
        "peak_rss_mb": 900.0,
    }


def test_printed_metric_names_match_benchmark_json(tmp_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    traced = _fake_worker(tmp_path, [9.0, 3.0, 2.0, 4.0])
    baseline = _fake_worker(tmp_path, [9.0, 2.5, 2.5, 2.5])
    per_layer, layers, _ = run.per_layer(traced, baseline, ("q",), 0.3, 0)
    assert set(run.declared_metrics("per_layer")) == set(per_layer)
    e2e = run.end_to_end([9.0, 7.0, 8.0], traced)
    assert set(run.declared_metrics("end_to_end")) == set(e2e)
    assert e2e == pytest.approx({"setup_s": 8.0, "cold_pass_s": 9.1, "warm_pass_s": 3.1, "peak_rss_mb": 900.0})
    assert per_layer["plans.build_s"] == pytest.approx(1.0)
    assert per_layer["exec.driver_gap_s"] == pytest.approx(3.0)  # no jobs at all
    # The one progress event falls in pass 1 (t = 15.1 .. 18.1).
    assert layers[(1, "q")]["streaming.batches"] == 1 and layers[(1, "q")]["streaming.state_rows"] == 7
    assert per_layer["streaming.batches"] == 0  # median over the three warm passes
    assert per_layer["trace.overhead_s"] == pytest.approx(0.5)
    assert per_layer["trace.pass_self_s"] == pytest.approx(0.1)
    assert per_layer["session.start_s"] == 5.0
    q = layers[(1, "q")]
    assert q["plans.build_s"] + q["catalyst.plan_s"] + q["exec.run_s"] == pytest.approx(3.0)


def test_too_few_warm_passes_give_no_result(tmp_path):
    # A program so slow that only the cold pass ran must not read as a
    # zero-second warm pass.
    cold_only = _fake_worker(tmp_path, [60.0])
    with pytest.raises(run.RunError):
        run.end_to_end([8.0, 8.0, 8.0], cold_only)
    short = _fake_worker(tmp_path, [9.0] + [3.0] * (run.MIN_WARM_PASSES - 1))
    with pytest.raises(run.RunError):
        run.end_to_end([8.0, 8.0, 8.0], short)
    with pytest.raises(run.RunError):
        run.per_layer(_fake_worker(tmp_path, [9.0, 3.0, 3.0, 3.0]), cold_only, ("q",), 0.3, 0)


def test_generator_is_seeded(tmp_path):
    digests = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        out = str(tmp_path / name)
        gen.generate(out, seed)
        digests.append(gen.input_digest(out))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]
    docs = tmp_path / "a" / "documents.parquet"
    assert sorted(os.listdir(docs)) == [f"part-{i:05d}.parquet" for i in range(gen.DOC_FILES)]
