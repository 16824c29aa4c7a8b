"""Tiny-size self-check of the benchmark itself.

Checks three things, at the generator's ``tiny`` size so it takes a few
minutes (four fresh-process passes):

1. the generator is deterministic per seed: the same seed writes
   byte-identical tables, another seed writes different documents;
2. every metric named in BENCHMARK.json is emitted, with its unit, by an
   untraced run (end-to-end) and a traced run (per-layer);
3. a deliberately corrupted reference digest makes the query count as
   failed and raises ``error_rate`` above 0.

Usage, from the root of a checkout::

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import WORK  # noqa: E402

SEED = 7
WORKLOAD = "pipeline_memo"


def _run(trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def check_determinism() -> None:
    base = os.path.join(WORK, "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    a, b, c = (os.path.join(base, x) for x in "abc")
    ma, mb = gen.generate(a, SEED, "tiny"), gen.generate(b, SEED, "tiny")
    gen.generate(c, SEED + 1, "tiny")
    tables = sorted(f for f in os.listdir(a) if f.endswith(".parquet"))
    match, mismatch, errors = filecmp.cmpfiles(a, b, tables, shallow=False)
    assert match == tables, f"same seed, different tables: {mismatch + errors}"
    ma.pop("generation_s"), mb.pop("generation_s")
    assert ma == mb, "same seed, different manifests"
    assert not filecmp.cmp(
        os.path.join(a, "documents.parquet"), os.path.join(c, "documents.parquet"), shallow=False
    ), "another seed wrote the same documents"
    shutil.rmtree(base)
    print("ok: generator is deterministic per seed")


def check_metrics() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, _ = _run(trace)
        assert result["correct"] and result["failed"] == 0, result
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, f"trace {trace}: emitted {sorted(got)} != named {sorted(want)}"
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        print(f"ok: --trace {trace} emits every {key} metric with its unit")


def check_corrupted_digest() -> None:
    path = os.path.join(WORK, "data", f"tiny-{SEED}", "reference.json")
    with open(path) as f:
        saved = f.read()
    ref = json.loads(saved)
    query = next(q for q, d in ref["digests"].items() if d)
    ref["digests"][query] = "0" * 64
    with open(path, "w") as f:
        json.dump(ref, f)
    try:
        result, lines = _run(0)
    finally:
        with open(path, "w") as f:
            f.write(saved)
    rate = next(float(ln.split()[1]) for ln in lines if ln.startswith("error_rate "))
    assert result["failed"] == 1 and not result["correct"], result
    assert rate > 0, lines
    print(f"ok: a corrupted digest for {query} counts as failed (error_rate {rate:.3g})")


def main() -> None:
    check_determinism()
    check_metrics()
    check_corrupted_digest()


if __name__ == "__main__":
    main()
