#!/usr/bin/env python3
"""Benchmark for the ETL engine: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root (the directory holding
``data_etl_pipeline_spark``).  The run

1. generates the workload's inputs from ``--seed`` (``gen.py``) under a
   work directory it owns and deletes afterwards;
2. with ``--trace 0``: starts a set-up probe and then the measuring
   worker (``worker.py``) one after another, each a fresh process on
   local[nproc] with its own TMPDIR, SPARK_LOCAL_DIRS and JVM tmpdir, and
   the package on PYTHONPATH; with ``--trace 1``: an untraced worker (the
   reference for the tracing overhead) and then a worker with Spark's
   event log and a streaming listener on;
3. samples the resident memory of each worker's process tree from /proc
   (``tree_memory``);
4. checks every collected result against the DuckDB oracle
   (``oracle_gate.py``), outside the timed region;
5. prints one line of run conditions, then the result line
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
   A traced run also writes per-query layers, spans and jobs to
   ``.perfbench_traces/<workload>-seed<seed>.json``.

End-to-end metrics: ``setup_s``, the median over the run's two
fresh-process set-ups of spawn to a ready session with the registry
loaded; ``cold_pass_s``, the first pass (declared query order) in a fresh
process; ``warm_pass_s``, the median wall time of the later passes (at
least ``MIN_WARM_PASSES`` of them, or no result); ``peak_rss_mb``, the
measuring worker's peak memory up to the end of its last pass.

Exit status: 0 when every query ran and matched the oracle; 1 when a
query failed or mismatched (the result line is still printed); 2 when the
run could not be made at all (no result line).
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads  # noqa: E402
from worker import MIN_WARM_PASSES  # noqa: E402

DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
# Extra set-ups besides the measuring worker's own.  One set-up is about
# 8 s on 4 cores; a third sample would push a pipeline run well past a
# minute.
SETUP_PROBES = 1
RUN_DEADLINE_S = 170.0
SAMPLE_INTERVAL_S = 0.25
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


class RunError(Exception):
    """The run cannot produce a result."""


# --------------------------------------------------------------------------
# processes


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _resident(pid: int) -> tuple[bool, int]:
    """Whether a process is a JVM, and its resident bytes.  For Python
    processes this is the proportional set size: pages shared between
    processes (forked Python workers) are split among them, so a sum over a
    process tree counts each page once.  A JVM's is its RSS from ``statm``:
    walking its multi-GB address space for PSS takes tens of ms, holding its
    memory map's lock while the query runs."""
    try:
        java = os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
        if java:
            with open(f"/proc/{pid}/statm") as fh:
                return True, int(fh.read().split()[1]) * PAGE_SIZE
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return False, int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return False, 0


def tree_memory(sizes: list[tuple[bool, int]]) -> int:
    """A process tree's memory from ``_resident`` of each of its processes:
    the largest JVM plus the sum of the rest.  The worker has one JVM; a
    second process running the java binary is a child it is forking to run
    a command, whose RSS is the parent's own pages until it execs."""
    return max((b for java, b in sizes if java), default=0) + sum(b for java, b in sizes if not java)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"


class TreeSampler(threading.Thread):
    """Samples the memory of a process tree and remembers every pid seen in
    it, so stragglers can be stopped after the root exits."""

    def __init__(self, root: int) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.samples: list[tuple[float, int]] = []
        self.pids: set[int] = {root}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(SAMPLE_INTERVAL_S):
            pids = _tree(self.root)
            self.pids.update(pids)
            self.samples.append((time.monotonic(), tree_memory([_resident(p) for p in pids])))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def peak(self, until: float) -> int:
        return max((rss for t, rss in self.samples if t <= until), default=0)


def _stop_all(pids: set[int], pgid: int) -> None:
    """SIGKILL what is left of a worker and wait until all of it ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except (ProcessLookupError, PermissionError):
        pass
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
    t_end = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < t_end:
        time.sleep(0.05)


def _worker_env(role_dir: str, event_dir: str | None, nproc: int) -> dict[str, str]:
    tmp, local, jtmp = (os.path.join(role_dir, d) for d in ("tmp", "local", "jvm_tmp"))
    for d in (tmp, local, jtmp):
        os.makedirs(d)
    # A fixed-size heap (-Xms = spark.driver.memory) and young generation:
    # G1 otherwise sizes both on its own timing-driven schedule, which
    # moves peak memory by hundreds of MB from run to run.
    confs = [
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}'",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if event_dir is not None:
        os.makedirs(event_dir)
        confs += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    env = dict(os.environ)
    old_pp = env.get("PYTHONPATH")
    env.update(
        PYTHONPATH=ROOT + (os.pathsep + old_pp if old_pp else ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        # Every JVM (launcher included) keeps its scratch files in the run's
        # directory: no hsperfdata file, java.io.tmpdir under role_dir.
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}",
        PYSPARK_SUBMIT_ARGS=" ".join(confs + ["pyspark-shell"]),
    )
    return env


def _spawn(args: list[str], role_dir: str, env: dict[str, str], deadline: float) -> tuple[float, TreeSampler]:
    """Run one worker to completion; returns its spawn time and sampler."""
    log_path = os.path.join(role_dir, "worker.log")
    with open(log_path, "wb") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args],
            cwd=ROOT,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop()
            _stop_all(sampler.pids, proc.pid)
            proc.wait()
    if rc != 0:
        with open(log_path, "rb") as fh:
            tail = fh.read()[-3000:].decode("utf-8", "replace")
        raise RunError(f"worker {args[0]} {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    return t_spawn, sampler


def _probe(work: str, i: int, nproc: int, deadline: float) -> float:
    role_dir = os.path.join(work, f"probe{i}")
    os.makedirs(role_dir)
    out = os.path.join(role_dir, "probe.json")
    t_spawn, _ = _spawn(["probe", out], role_dir, _worker_env(role_dir, None, nproc), deadline)
    with open(out) as fh:
        return json.load(fh)["ready"] - t_spawn


def _measure(work: str, role: str, args, in_dir: str, nproc: int, trace: bool, deadline: float) -> dict:
    role_dir = os.path.join(work, role)
    os.makedirs(role_dir)
    event_dir = os.path.join(role_dir, "eventlog") if trace else None
    env = _worker_env(role_dir, event_dir, nproc)
    argv = ["run", args.workload, str(args.seed), str(args.seconds), in_dir, role_dir, "1" if trace else "0"]
    t_spawn, sampler = _spawn(argv, role_dir, env, deadline)
    with open(os.path.join(role_dir, "result.json")) as fh:
        res = json.load(fh)
    with open(os.path.join(role_dir, "rows.pickle"), "rb") as fh:  # written by our own worker
        res["rows"] = pickle.load(fh)
    res["setup_s"] = res["ready"] - t_spawn
    res["peak_rss_mb"] = sampler.peak(res["measured_end"]) / 2**20
    res["tmp_bytes_left"] = _du(os.path.join(role_dir, "tmp"))
    res["event_dir"] = event_dir
    return res


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


# --------------------------------------------------------------------------
# correctness


def _gate(results: list[dict], in_dir: str, names: tuple[str, ...], nproc: int) -> dict:
    """Check every (pass, query) of every worker.  Returns the attempted
    and failed executions, the mismatches, the gate's wall time and its
    spans: one ``oracle`` span for the DuckDB answers and one ``check``
    span per execution."""
    import oracle_gate
    from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded

    t0, e0 = time.monotonic(), time.time()
    _ensure_loaded()
    con = oracle_gate.connect(in_dir, nproc)
    try:
        expected = oracle_gate.answers(con, {n: QUERIES[n].sql for n in names}, nproc)
    finally:
        con.close()
    spans = [{"name": "oracle", "start": e0, "end": time.time()}]
    out = {"attempted": 0, "failed": 0, "mismatches": {}, "spans": spans}
    for worker, res in enumerate(results):
        errors = {(f["pass"], f["query"]) for f in res["failures"]}
        for p in range(len(res["passes"])):
            for name in names:
                out["attempted"] += 1
                got = res["rows"].get((p, name))
                start = time.time()
                if (p, name) in errors or got is None:
                    status = "error"
                else:
                    status = oracle_gate.check(got[0], got[1], expected[name])
                span = {"name": "check", "worker": worker, "pass": p, "query": name, "status": status}
                spans.append({**span, "start": start, "end": time.time()})
                if status != "match":
                    out["failed"] += 1
                    if status != "error":
                        out["mismatches"][f"{p}:{name}"] = status
    out["seconds"] = time.monotonic() - t0
    return out


# --------------------------------------------------------------------------
# metrics


def query_times(res: dict) -> dict[str, list[float]]:
    """Each query's wall time per warm pass."""
    out: dict[str, list[float]] = {}
    for s in res["spans"]:
        if s["name"] == "query" and s["pass_no"] > 0:
            out.setdefault(s["query"], []).append(s["t1"] - s["t0"])
    return out


def warm_pass(res: dict) -> float:
    """A warm pass's wall time: the median over the passes after the cold
    one.  A worker that ran fewer than ``MIN_WARM_PASSES`` of them gives no
    result, so a slow program never reads as an empty (zero) warm pass."""
    warm = res["passes"][1:]
    if len(warm) < MIN_WARM_PASSES:
        raise RunError(f"{len(warm)} warm passes ran; a result needs {MIN_WARM_PASSES}")
    return statistics.median(warm)


def end_to_end(setups: list[float], res: dict) -> dict[str, float]:
    """The untraced run's metrics: set-up as the median of the run's
    set-ups, the cold pass, the warm pass and peak memory."""
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": res["passes"][0],
        "warm_pass_s": warm_pass(res),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def query_layers(res: dict) -> dict[tuple[int, str], dict[str, float]]:
    """Per (pass, query) layer metrics of a traced worker: its own spans,
    the event-log jobs submitted inside them, and streaming progress."""
    import eventlog

    spans = res["spans"]
    jobs = eventlog.read_log(res["event_dir"])
    by_span = eventlog.attribute(jobs, spans)
    kids: dict[int, dict[str, dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], {})[s["name"]] = s
    out: dict[tuple[int, str], dict[str, float]] = {}
    for q in (s for s in spans if s["name"] == "query"):
        phases = kids.get(q["id"], {})
        jobs_in = {p: by_span.get(s["id"], []) for p, s in phases.items()}
        q_jobs = [j for js in jobs_in.values() for j in js]
        m: dict[str, float] = dict.fromkeys(eventlog.JOB_COUNTERS, 0.0)
        for job in q_jobs:
            for k, v in job.counters.items():
                m[k] += v
        m["plans.build_jobs"] = len(jobs_in.get("build", []))
        m["exec.jobs"] = len(jobs_in.get("execute", []))
        dur = {p: s["end"] - s["start"] for p, s in phases.items()}
        m["plans.build_s"] = dur.get("build", 0.0)
        m["catalyst.plan_s"] = dur.get("plan", 0.0)
        m["exec.run_s"] = dur.get("execute", 0.0)
        m["exec.driver_gap_s"] = (q["end"] - q["start"]) - eventlog.clipped_union(
            [(j.start, j.end) for j in q_jobs], q["start"], q["end"]
        )
        batches = [b for b in res["streaming"] if q["start"] <= _epoch(b["timestamp"]) <= q["end"]]
        m["streaming.batches"] = len(batches)
        for key in ("batch_s", "commit_s", "state_rows"):
            m[f"streaming.{key}"] = sum(b[key] for b in batches)
        m["jobs"] = [{"id": j.job_id, "start": j.start, "end": j.end, "group": j.group} for j in q_jobs]
        out[(q["pass_no"], q["query"])] = m
    return out


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def per_layer(traced: dict, baseline: dict, names: tuple[str, ...], oracle_s: float, mismatches: int) -> tuple:
    """Workload per-layer metrics: each per-query metric is the median over
    the warm passes, summed over the workload's queries."""
    import eventlog

    layers = query_layers(traced)
    spans = traced["spans"]
    keys = [k for k in next(iter(layers.values())) if k != "jobs"] if layers else []
    n_pass = len(traced["passes"])
    metrics: dict[str, float] = {k: 0.0 for k in keys}
    for name in names:
        for k in keys:
            metrics[k] += _median([layers[(p, name)][k] for p in range(1, n_pass) if (p, name) in layers])
    cold = [layers[(0, n)] for n in names if (0, n) in layers]
    metrics["catalyst.plan_cold_s"] = sum(m["catalyst.plan_s"] for m in cold)
    metrics["udf.boot_cold_s"] = sum(m["udf.boot_s"] for m in cold)
    first = {s["name"]: s["t1"] - s["t0"] for s in reversed(spans)}
    metrics["session.start_s"] = first["session"]
    metrics["plans.import_s"] = first["plans.import"]
    metrics["sources.tmp_bytes_left"] = traced["tmp_bytes_left"]
    metrics["oracle.check_s"] = oracle_s
    metrics["oracle.mismatches"] = mismatches
    selfs = eventlog.self_times(spans)
    warm_pass_ids = [s["id"] for s in spans if s["name"] == "pass" and s["pass_no"] > 0]
    metrics["trace.pass_self_s"] = _median([selfs[i] for i in warm_pass_ids])
    metrics["trace.warm_pass_s"] = warm_pass(traced)
    metrics["trace.overhead_s"] = metrics["trace.warm_pass_s"] - warm_pass(baseline)
    return metrics, layers, selfs


# --------------------------------------------------------------------------
# conditions and output


def _git(*args: str) -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True, timeout=20, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def conditions(args, queries: tuple[str, ...], nproc: int, in_dir: str, digest: str, worker: dict) -> dict:
    import duckdb
    import pyspark

    rev = _git("rev-parse", "HEAD")
    status = _git("status", "--porcelain", "--untracked-files=no") if rev else None
    return {
        "workload": args.workload,
        "queries": list(queries),
        "seed": args.seed,
        "run_seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        **worker["conditions"],
        "passes": len(worker["passes"]),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_rev": rev,
        "git_dirty": None if status is None else bool(status),
        "input_dir": os.path.relpath(in_dir, ROOT),
        "input_digest": digest,
        "input_scale": gen.SCALE,
        "corpus_seed": args.seed,
        "corpus_files": gen.DOC_FILES,
    }


def declared_metrics(kind: str) -> dict[str, str]:
    """``{name: unit}`` of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "data_etl_pipeline_spark", "__init__.py")):
        raise RunError(f"no engine package under {ROOT}; run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    queries = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    deadline = time.monotonic() + RUN_DEADLINE_S
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        in_dir = os.path.join(work, "inputs")
        gen.generate(in_dir, args.seed)
        digest = gen.input_digest(in_dir)
        if args.trace:
            baseline = _measure(work, "baseline", args, in_dir, nproc, False, deadline)
            main_res = _measure(work, "traced", args, in_dir, nproc, True, deadline)
            checked = [baseline, main_res]
        else:
            setups = [_probe(work, i, nproc, deadline) for i in range(SETUP_PROBES)]
            main_res = _measure(work, "main", args, in_dir, nproc, False, deadline)
            setups.append(main_res["setup_s"])
            checked = [main_res]
        gate = _gate(checked, in_dir, queries, nproc)
        attempted, failed, mismatches = gate["attempted"], gate["failed"], gate["mismatches"]
        if args.trace:
            values, layers, selfs = per_layer(main_res, baseline, queries, gate["seconds"], len(mismatches))
            _write_trace(args, main_res, values, layers, selfs, gate["spans"])
        else:
            values = end_to_end(setups, main_res)
        cond = conditions(args, queries, nproc, in_dir, digest, main_res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass
    units = declared_metrics("per_layer" if args.trace else "end_to_end")
    missing = sorted(set(units) - set(values))
    if missing:
        raise RunError(f"metrics not measured: {missing}")
    print(
        json.dumps(
            {
                "conditions": cond,
                "failed_frac": failed / attempted,
                "failed_frac_base": f"{failed} failed of {attempted} query executions",
                "pass_s": main_res["passes"],
                "query_warm_s": {q: statistics.median(ts) for q, ts in query_times(main_res).items()},
                "failures": [f for r in checked for f in r["failures"]][:20],
                "mismatches": dict(list(mismatches.items())[:20]),
                **({} if args.trace else {"setup_samples_s": setups}),
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


def _write_trace(args, res: dict, values: dict, layers: dict, selfs: dict, check_spans: list[dict]) -> None:
    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    spans = [{**s, "self_s": selfs[s["id"]]} for s in res["spans"]]
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "metrics": values,
                "queries": [{"pass": p, "query": q, **m} for (p, q), m in sorted(layers.items())],
                "spans": spans,
                "check_spans": check_spans,
                "streaming": res["streaming"],
                "passes": res["passes"],
            },
            fh,
            indent=1,
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="warm-pass time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        return run(args)
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
