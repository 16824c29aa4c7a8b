"""Engine benchmark: one workload, one seed, fresh-process passes.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload similarity_cold --seed 1 --seconds 20 --trace 0

The inputs are generated from ``--seed`` into ``.perfbench/data/`` once
and reused; DuckDB reference digests are computed once per seed next to
them. Each pass is a fresh ``perfbench/worker.py`` process (cold decision
caches, memos and JIT). With ``--trace 0`` passes are started until
``--seconds`` of passes have elapsed (at least one), and the end-to-end
metrics are their medians. With ``--trace 1`` the run makes one untraced
and one traced pass and reports the per-layer metrics of the traced one,
with both wall times side by side. Every query's output is checked in
every pass. A human-readable summary goes to stdout first; the last line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from importlib import metadata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: a run starts no pass that would not end within this many seconds
#: of its start, and kills a pass that runs past it, so a run ends
#: within the 180 s it is allowed
RUN_BUDGET_S = 165

sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from workloads import LSH_QUERY, WORKLOADS  # noqa: E402

END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
#: per-layer metric -> (unit, which direction is better); the three
#: per-query families get one entry per query, named ``<family>.<query>``
PER_LAYER = {
    "setup.session_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "setup.bucketing_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.build_cpu_s": ("s", "lower"),
    "operators.build_share": ("ratio", "lower"),
    "operators.build_shuffle_write_bytes": ("bytes", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "exec.exec_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "sources.rows_read": ("rows", "lower"),
    "sources.read_amplification": ("ratio", "lower"),
    "plans.memo_hits": ("count", "higher"),
    "plans.memo_misses": ("count", "lower"),
    "plans.memo_hit_ratio": ("ratio", "higher"),
    "plans.tracked_persists": ("count", "lower"),
    "trace.wall_traced_s": ("s", "lower"),
    "trace.wall_untraced_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unaccounted_s": ("s", "lower"),
}
PER_QUERY = ("operators.build_s", "operators.build_jobs", "exec.exec_s")
ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "multithreaded_mapreduce_spark", "__init__.py"))


def _input(seed: int, size: str) -> tuple[str, dict]:
    import gen

    data = os.path.join(WORK, "data", f"{size}-{seed}")
    manifest = os.path.join(data, "manifest.json")
    if not os.path.exists(manifest):
        gen.generate(data, seed, size)
    with open(manifest) as f:
        return data, json.load(f)


def _kill_group(pgid: int) -> None:
    """Stop every process of a pass (the worker and its JVM) and wait
    until the group is empty."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def _pass(workload: str, data: str, trace: bool, n: int, timeout: float) -> dict | None:
    """Run one fresh-process pass; None if the worker failed."""
    scratch = os.path.join(WORK, "runs", f"{os.getpid()}-{n}")
    os.makedirs(os.path.join(scratch, "local"), exist_ok=True)
    out = os.path.join(scratch, "result.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("MMR_")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        TMPDIR=scratch,
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--data", data, "--workload", workload, "--trace", str(int(trace)),
        "--scratch", scratch, "--out", out,
    ]
    try:
        with open(os.path.join(scratch, "worker.log"), "w") as log:
            proc = subprocess.Popen(
                cmd + ["--spawned-at", repr(time.perf_counter())],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=max(timeout, 1.0))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _kill_group(proc.pid)
                proc.wait()
        if code == 0 and os.path.exists(out):
            with open(out) as f:
                return json.load(f)
        with open(os.path.join(scratch, "worker.log")) as f:
            tail = f.read()[-3000:]
        print(f"pass {n} failed (exit {code}):\n{tail}", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _check_pass(result: dict | None, wl, ref: dict, manifest: dict, data: str) -> list[str]:
    """Failures of one pass, one line per query that raised or whose
    digest differs from its reference."""
    from check import check_lsh, save_reference

    if result is None:
        return [f"{q}: pass failed" for q in wl.queries]
    failures = []
    for q in wl.queries:
        rec = result["queries"][q]
        if rec["error"]:
            failures.append(f"{q}: raised {rec['error'].strip().splitlines()[-1]}")
            continue
        if q == LSH_QUERY:
            why = check_lsh(rec["pairs"], ref, manifest["planted_clusters"])
            if why is None and ref.get("lsh_digest") is None:
                ref["lsh_digest"] = rec["digest"]
                save_reference(data, ref)
            if why is None and rec["digest"] != ref["lsh_digest"]:
                why = "digest differs from this seed's first checked output"
            if why:
                failures.append(f"{q}: {why}")
        elif rec["digest"] != ref["digests"][q]:
            failures.append(f"{q}: digest differs from the DuckDB reference")
    return failures


def _jobs_and_stages(status: dict) -> tuple[dict, dict]:
    return status["jobs"], {int(k): v for k, v in status["stages"].items()}


def _stage_sum(jobs: list[dict], stages: dict, key: str) -> float:
    ids = {s for j in jobs for s in j["stages"]}
    return sum(stages[s][key] for s in ids if s in stages)


def _cpu_s(result: dict) -> float:
    jobs, stages = _jobs_and_stages(result["status"])
    return _stage_sum(list(jobs.values()), stages, "cpu_ns") / 1e9 + result["python_cpu_s"]


def _per_layer(traced: dict, untraced: dict, manifest: dict) -> dict:
    jobs, stages = _jobs_and_stages(traced["status"])
    by_phase: dict[tuple[str, str], list[dict]] = {}
    for job in jobs.values():
        q, _, phase = (job["group"] or "::").partition(":")
        by_phase.setdefault((q, phase), []).append(job)
    queries = traced["queries"]
    ok = {q: r for q, r in queries.items() if r["error"] is None}

    def phase_sum(phase: str, key: str) -> float:
        sel = [j for (q, p), js in by_phase.items() if p == phase for j in js]
        return _stage_sum(sel, stages, key)

    def phase_jobs(phase: str, q: str | None = None) -> int:
        return sum(len(js) for (qq, p), js in by_phase.items()
                   if p == phase and (q is None or qq == q))

    rows_in_tables = 0
    for q in queries:
        tables = {t for (qq, _), js in by_phase.items() if qq == q for j in js for t in j["tables"]}
        rows_in_tables += sum(manifest["rows"].get(t, 0) for t in tables)
    rows_read = _stage_sum(list(jobs.values()), stages, "rows_in")
    build_s = sum(r["build_s"] for r in ok.values())
    hits = sum(r["memo_hits"] for r in queries.values())
    misses = sum(r["memo_misses"] for r in queries.values())
    unaccounted = 0.0
    spans = traced["spans"]
    for span in spans:
        if span["name"] in queries and span["parent"] == 0:
            kids = sum(c["end"] - c["start"] for c in spans
                       if c["parent"] == span["id"] and c["name"] in ("build", "plan", "exec"))
            unaccounted += span["end"] - span["start"] - kids
    m = {
        "setup.session_s": traced["setup"]["session_s"],
        "setup.warmup_s": traced["setup"]["warmup_s"],
        "setup.bucketing_s": traced["setup"]["bucketing_s"],
        "operators.build_s": build_s,
        "operators.build_jobs": phase_jobs("build"),
        "operators.build_cpu_s": phase_sum("build", "cpu_ns") / 1e9,
        "operators.build_share": build_s / traced["wall_s"],
        "operators.build_shuffle_write_bytes": phase_sum("build", "shuffle_write"),
        "catalyst.plan_s": sum(r["plan_s"] for r in ok.values()),
        "exec.exec_s": sum(r["exec_s"] for r in ok.values()),
        "exec.jobs": phase_jobs("exec"),
        "exec.stages": phase_sum("exec", "ran"),
        "exec.executor_run_s": phase_sum("exec", "run_ms") / 1e3,
        "exec.executor_cpu_s": phase_sum("exec", "cpu_ns") / 1e9,
        "exec.gc_s": phase_sum("exec", "gc_ms") / 1e3,
        "exec.shuffle_write_bytes": phase_sum("exec", "shuffle_write"),
        "exec.spill_bytes": phase_sum("exec", "spill"),
        "sources.rows_read": rows_read,
        "sources.read_amplification": rows_read / rows_in_tables if rows_in_tables else 0.0,
        "plans.memo_hits": hits,
        "plans.memo_misses": misses,
        "plans.memo_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "plans.tracked_persists": sum(r.get("tracked_persists", 0) for r in queries.values()),
        "trace.wall_traced_s": traced["wall_s"],
        "trace.wall_untraced_s": untraced["wall_s"],
        "trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
        "trace.unaccounted_s": unaccounted,
    }
    out = {k: (v, PER_LAYER[k][0]) for k, v in m.items()}
    for q in ALL_QUERIES:
        r = ok.get(q, {})
        per_query = (r.get("build_s", 0.0), phase_jobs("build", q) if r else 0, r.get("exec_s", 0.0))
        for family, v in zip(PER_QUERY, per_query):
            out[f"{family}.{q}"] = (v, PER_LAYER[family][0])
    return out


def per_layer_spec() -> list[dict]:
    """The per-layer metrics every traced run emits, as BENCHMARK.json
    lists them."""
    spec = [{"name": k, "unit": u, "better": b} for k, (u, b) in PER_LAYER.items()]
    for q in ALL_QUERIES:
        for family in PER_QUERY:
            u, b = PER_LAYER[family]
            spec.append({"name": f"{family}.{q}", "unit": u, "better": b})
    return spec


def _provenance(args, manifest: dict, ref: dict, passes: list[dict | None]) -> dict:
    def git(*a: str) -> str | None:
        try:
            return subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True,
                                  check=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    sha = git("rev-parse", "HEAD")
    java = next((p["java_version"] for p in passes if p), None)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_sha": sha,
        "git_dirty": None if sha is None else bool(git("status", "--porcelain")),
        "pyspark": metadata.version("pyspark"),
        "java": java,
        "seed": args.seed,
        "workload": args.workload,
        "trace": args.trace,
        "passes": len(passes),
        "input_rows": manifest["rows"],
        "distinct_tokens": manifest["distinct_tokens"],
        "generation_s": manifest["generation_s"],
        "reference_s": ref["seconds"],
    }


def _on_term(signum, frame) -> None:
    # unwinds through _pass, whose finally stops the running pass's group
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _on_term)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", help=argparse.SUPPRESS)
    args = ap.parse_args()
    start = time.perf_counter()
    if not _engine_present():
        print(f"engine package multithreaded_mapreduce_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    from check import ensure_references

    wl = WORKLOADS[args.workload]
    data, manifest = _input(args.seed, args.size)
    ref = ensure_references(data, wl.queries)

    def remaining() -> float:
        return start + RUN_BUDGET_S - time.perf_counter()

    passes: list[dict | None] = []
    if args.trace:
        for traced in (False, True):
            passes.append(_pass(wl.name, data, traced, len(passes), remaining()))
    else:
        t0 = time.perf_counter()
        while not passes or (time.perf_counter() - t0 < args.seconds
                             and remaining() > (time.perf_counter() - t0) / len(passes)):
            passes.append(_pass(wl.name, data, False, len(passes), remaining()))
    failures = [f for p in passes for f in _check_pass(p, wl, ref, manifest, data)]
    attempted = len(passes) * len(wl.queries)
    done = [p for p in passes if p is not None]
    if not done or (args.trace and None in passes):
        print("no pass completed; see the failures above", file=sys.stderr)
        return 1

    if args.trace:
        metrics = _per_layer(passes[1], passes[0], manifest)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": passes[1]["spans"], "queries": passes[1]["queries"]}, f)
    else:
        values = {
            "setup_s": [p["setup"]["setup_s"] for p in done],
            "wall_s": [p["wall_s"] for p in done],
            "cpu_s": [_cpu_s(p) for p in done],
        }
        metrics = {k: (statistics.median(v), END_TO_END_UNITS[k]) for k, v in values.items()}

    prov = _provenance(args, manifest, ref, passes)
    print(f"# perfbench {wl.name} seed={args.seed} trace={args.trace}")
    print("# provenance " + json.dumps(prov, sort_keys=True))
    for n, p in enumerate(done):
        for q, r in p["queries"].items():
            if r["error"] is None:
                print(f"# pass {n} {q}: build {r['build_s']:.3f} s, plan {r['plan_s']:.3f} s, "
                      f"exec {r['exec_s']:.3f} s, {r['rows']} rows")
    for f in failures:
        print(f"# FAILED {f}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    # printed, not gated: the JVM's heap high-water mark follows GC timing
    # and spreads 25-40 % between identical passes
    print(f"peak_rss_mb {statistics.median(p['peak_rss_mb'] for p in done):.6g} MB")
    print(f"error_rate {len(failures) / attempted:.6g} ratio")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
