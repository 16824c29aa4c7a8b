"""One benchmark pass in a fresh process: set up a session, run one
workload's queries once, and write what was measured as JSON.

A fresh process starts with cold decision caches, memos and JIT, so
every pass measures what a new process pays. The engine is measured from
outside, through its public entry points:

- ``session.get_spark`` for set-up;
- ``registry.all_queries()[q].builder`` for the operators layer (Python
  plus the Spark jobs a builder launches before it returns);
- ``plans.caching`` (``result_memo_stats``, ``tracked_count``,
  ``release_result_memos``, ``release_tracked``) for the plans layer;
- Spark's job groups and in-process status store for the jobs each
  phase runs, which works with the UI disabled.

With ``--trace 1`` each query's jobs are tagged ``<query>:<phase>`` with
``setJobGroup``, Catalyst planning is timed on its own by forcing
``executedPlan`` before the action, and spans (run -> query -> build /
plan / exec) are kept in memory and written with the result.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


class Spans:
    """In-memory span tree: each span has a name, start, end (seconds
    since the pass's own clock zero) and the id of its parent."""

    def __init__(self, t0: float):
        self.t0 = t0
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "parent": parent,
             "start": time.perf_counter() - self.t0, "end": None}
        )
        return len(self.items) - 1

    def close(self, span: int) -> None:
        self.items[span]["end"] = time.perf_counter() - self.t0


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _status(spark, first_job: int) -> dict:
    """Per-job and per-stage metrics of every job with id >= first_job,
    read from the in-process status store once the listener bus has
    drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = {}
    for j in _scala_list(store.jobsList(None)):
        if j.jobId() < first_job:
            continue
        group = j.jobGroup()
        jobs[j.jobId()] = {
            "group": group.get() if group.isDefined() else None,
            "stages": _scala_list(j.stageIds()),
        }
    gw = sc._gateway
    stages = {}
    for s in _scala_list(
        store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                        gw.jvm.java.util.ArrayList())
    ):
        m = stages.setdefault(s.stageId(), dict.fromkeys(
            ("run_ms", "cpu_ns", "gc_ms", "shuffle_write", "spill", "rows_in", "ran"), 0))
        m["run_ms"] += s.executorRunTime()
        m["cpu_ns"] += s.executorCpuTime()
        m["gc_ms"] += s.jvmGcTime()
        m["shuffle_write"] += s.shuffleWriteBytes()
        m["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        m["rows_in"] += s.inputRecords()
        m["ran"] += int(s.status().toString() != "SKIPPED")
    # SQL executions name the parquet files they scan; map them to jobs
    scans = {}
    sql_store = spark._jsparkSession.sharedState().statusStore()
    for e in _scala_list(sql_store.executionsList()):
        tables = set(re.findall(r"/(\w+?)(?:_bkt_\w+)?(?:\.parquet)?[\],\s]",
                                e.physicalPlanDescription()))
        for jid in _scala_list(e.jobs().keys().toList()):
            if jid in jobs:
                scans.setdefault(jid, set()).update(tables)
    for jid, job in jobs.items():
        job["tables"] = sorted(scans.get(jid, ()))
    return {"jobs": jobs, "stages": stages}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def run_pass(args) -> dict:
    from workloads import LSH_QUERY, MEMO_NAMES, WORKLOADS

    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    out = {"queries": {}}
    spans = Spans(args.spawned_at)
    run_span = spans.open("run", None)
    setup_span = spans.open("setup", run_span)
    # ---- setup: engine import and session, warm-up, bucketed tables --
    from multithreaded_mapreduce_spark.operators.bucketing import ensure_bucketed_tables
    from multithreaded_mapreduce_spark.plans.caching import (
        release_result_memos,
        release_tracked,
        result_memo_stats,
        tracked_count,
    )
    from multithreaded_mapreduce_spark.plans.registry import all_queries
    from multithreaded_mapreduce_spark.session import get_spark

    from check import digest

    catalog = all_queries()
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.abspath(args.scratch)
    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch}",
        },
    )
    t_session = time.perf_counter()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t_warm = time.perf_counter()
    ensure_bucketed_tables(spark, args.data)
    t_ready = time.perf_counter()
    spans.close(setup_span)
    out["setup"] = {
        "session_s": t_session - args.spawned_at,
        "warmup_s": t_warm - t_session,
        "bucketing_s": t_ready - t_warm,
        "setup_s": t_ready - args.spawned_at,
    }
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    first_job = max([j.jobId() for j in _scala_list(store.jobsList(None))], default=-1) + 1

    # ---- workload ----------------------------------------------------
    def memo_totals() -> tuple[int, int]:
        stats = [result_memo_stats(m) or {"hits": 0, "misses": 0} for m in MEMO_NAMES]
        return sum(s["hits"] for s in stats), sum(s["misses"] for s in stats)

    cpu0 = time.process_time()
    t_start = time.perf_counter()
    checking = checking_cpu = 0.0  # digest time, excluded from wall and cpu
    for q in wl.queries:
        rec = {"error": None}
        out["queries"][q] = rec
        q_span = spans.open(q, run_span)
        s = spans.open("release", q_span)
        if wl.release_memos:
            release_result_memos()
        release_tracked()
        spans.close(s)
        hits0, misses0 = memo_totals()
        try:
            if trace:
                sc.setJobGroup(f"{q}:build", q)
            t0 = time.perf_counter()
            s = spans.open("build", q_span)
            df = catalog[q].builder(spark, args.data)
            spans.close(s)
            t1 = time.perf_counter()
            rec["tracked_persists"] = tracked_count()
            if trace:
                sc.setJobGroup(f"{q}:plan", q)
                s = spans.open("plan", q_span)
                df._jdf.queryExecution().executedPlan()
                spans.close(s)
                sc.setJobGroup(f"{q}:exec", q)
            t2 = time.perf_counter()
            s = spans.open("exec", q_span)
            cols = list(df.columns)
            rows = [tuple(r) for r in df.collect()]
            spans.close(s)
            spans.close(q_span)
            t3 = time.perf_counter()
            c3 = time.process_time()
            rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2, rows=len(rows))
            rec["digest"] = digest(cols, rows)
            if q == LSH_QUERY:
                idx = [cols.index(c) for c in ("doc_a", "doc_b", "jaccard")]
                rec["pairs"] = [[r[i] for i in idx] for r in rows]
            checking += time.perf_counter() - t3
            checking_cpu += time.process_time() - c3
        except Exception:  # a failed query is counted, and the pass goes on
            rec["error"] = traceback.format_exc(limit=3)
            if spans.items[q_span]["end"] is None:
                spans.close(q_span)
        if trace:
            sc.setJobGroup(f"{q}:check", q)
        hits1, misses1 = memo_totals()
        rec["memo_hits"], rec["memo_misses"] = hits1 - hits0, misses1 - misses0
    t_end = time.perf_counter()
    spans.close(run_span)
    out["wall_s"] = t_end - t_start - checking
    out["python_cpu_s"] = time.process_time() - cpu0 - checking_cpu
    out["java_version"] = sc._jvm.java.lang.System.getProperty("java.version")
    out["status"] = _status(spark, first_job)
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    out["peak_rss_mb"] = (
        _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    ) / 1024.0
    if trace:
        out["spans"] = spans.items
    # no spark.stop(): the parent stops the whole process group
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--spawned-at", type=float, required=True,
                    help="time.perf_counter() of the parent when it spawned this process")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = run_pass(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
