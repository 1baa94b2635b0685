"""One Spark process of a benchmark run (spawned by ``run.py``).

    python3 worker.py probe <out.json>
    python3 worker.py run <workload> <seed> <seconds> <in_dir> <out_dir> <trace 0|1>

``probe`` starts a session, loads the registry and exits: one set-up
sample.  ``run`` does the same, then runs the workload's queries back to
back (one client, closed loop): a cold pass, then ``MIN_WARM_PASSES`` warm
passes, then more warm passes until ``seconds`` of warm time have passed.
Each query is three spans: ``build`` (the registry's ``QuerySpec.fn``,
where eager fixtures and commits run), ``plan`` (forcing the executed
plan through Catalyst) and ``execute`` (``collect`` of the result).  The
collected rows go to ``rows.pickle`` for the oracle gate in ``run.py``;
spans, failures and run conditions go to ``result.json``.  With trace 1 a
``StreamingQueryListener`` records every micro-batch's progress.

Times are ``time.monotonic()`` (the clock ``run.py`` stamps the spawn
with); spans also carry epoch seconds so they line up with the event log.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402

# Warm passes always run; run.py stops a worker that passes its deadline
# and then gives no result.
MIN_WARM_PASSES = 3


class Spans:
    """In-memory span recorder: name, start, end, parent (monotonic and
    epoch seconds), written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._epoch0 = time.time() - time.monotonic()

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "parent": parent, "t0": time.monotonic(), **attrs})
        return len(self.spans) - 1

    def close(self, sid: int) -> float:
        s = self.spans[sid]
        s["t1"] = time.monotonic()
        s["start"], s["end"] = s["t0"] + self._epoch0, s["t1"] + self._epoch0
        return s["t1"] - s["t0"]


def _progress_recorder():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = p.durationMs
            self.batches.append(
                {
                    "timestamp": p.timestamp,
                    "batch_s": d.get("triggerExecution", 0) / 1e3,
                    "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                    "state_rows": sum(op.numRowsUpdated for op in p.stateOperators),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressRecorder()


def _start(spans: Spans):
    sid = spans.open("session")
    from data_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))  # set by run.py
    spans.close(sid)
    sid = spans.open("plans.import")
    from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    spans.close(sid)
    return spark, QUERIES


def _run_pass(spark, queries, names, in_dir, spans, pass_no, rows_out, failures) -> float:
    sc = spark.sparkContext
    pid = spans.open("pass", pass_no=pass_no)
    for name in names:
        qid = spans.open("query", pid, query=name, pass_no=pass_no)
        sc.setJobGroup(f"perfbench:{pass_no}:{name}", name)
        sid = None
        try:
            sid = spans.open("build", qid)
            df = queries[name].fn(spark, in_dir)
            spans.close(sid)
            sid = spans.open("plan", qid)
            df._jdf.queryExecution().executedPlan()
            spans.close(sid)
            sid = spans.open("execute", qid)
            rows = df.collect()
            spans.close(sid)
            sid = None
            rows_out[(pass_no, name)] = ([c.lower() for c in df.columns], [tuple(r) for r in rows])
        except Exception as exc:  # a failing query is a counted failure, not the end of the run
            if sid is not None:
                spans.close(sid)
            failures.append({"pass": pass_no, "query": name, "error": f"{type(exc).__name__}: {exc}"[:500]})
        spans.close(qid)
    return spans.close(pid)


def main(argv: list[str]) -> int:
    spans = Spans()
    if argv[0] == "probe":
        _start(spans)
        ready = time.monotonic()
        with open(argv[1], "w") as fh:
            json.dump({"ready": ready}, fh)
        # The sample is taken; run.py stops the JVM with the rest of the
        # process tree, so skip the graceful shutdown.
        os._exit(0)

    workload, seed, seconds, in_dir, out_dir, trace = argv[1:7]
    seed, seconds, trace = int(seed), float(seconds), trace == "1"
    spark, queries = _start(spans)
    ready = time.monotonic()
    sc = spark.sparkContext
    conditions = {
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
    }
    recorder = None
    if trace:
        recorder = _progress_recorder()
        spark.streams.addListener(recorder)

    # The cold pass runs the queries in their declared order: whichever
    # query runs first carries the JVM's warm-up, so a seeded cold order
    # would make cold_pass_s depend on the seed.  Warm passes are shuffled.
    names = list(workloads.WORKLOADS[workload])
    order_rng = random.Random(seed)
    rows: dict = {}
    failures: list[dict] = []
    passes: list[float] = []
    while len(passes) <= MIN_WARM_PASSES or sum(passes[1:]) < seconds:
        if passes:
            order_rng.shuffle(names)
        passes.append(_run_pass(spark, queries, names, in_dir, spans, len(passes), rows, failures))
    measured_end = time.monotonic()
    if trace:
        # Stopping drains the listener bus, so every progress event has
        # arrived, and closes the event log.
        spark.stop()
    with open(os.path.join(out_dir, "rows.pickle"), "wb") as fh:
        pickle.dump(rows, fh)
    with open(os.path.join(out_dir, "result.json"), "w") as fh:
        json.dump(
            {
                "ready": ready,
                "measured_end": measured_end,
                "passes": passes,
                "failures": failures,
                "spans": spans.spans,
                "streaming": recorder.batches if recorder else [],
                "conditions": conditions,
            },
            fh,
        )
    if not trace:
        os._exit(0)  # run.py stops the JVM with the rest of the process tree
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
