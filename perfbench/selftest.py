#!/usr/bin/env python3
"""Self-tests of the benchmark at smoke sizes (a few minutes):

1. every workload prints every end-to-end metric of BENCHMARK.json with
   its unit, and the artifact records each metric's sample count;
2. a traced run prints every per-layer metric with its unit;
3. a deliberately failing operation shows in `failed` and `correct`, and
   never as a (fast) time sample;
4. without the program's sources the benchmark exits non-zero and prints
   no result.

Usage: python3 perfbench/selftest.py
"""
import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
failures = []


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def bench(workload, *extra, cwd=ROOT, script=BENCH / "run.py"):
    r = subprocess.run([sys.executable, str(script), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--smoke", "1", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if r.returncode == 0 and lines else None), r


def artifact(workload, trace):
    return json.loads((build.target_dir() / "perfbench" / f"result-{workload}-s7-t{trace}.json").read_text())


def check_metrics(out, spec, label):
    expect(out is not None, f"{label}: result line printed")
    if out is None:
        return
    expect(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{label}: result keys")
    for m in spec:
        got = out["metrics"].get(m["name"])
        expect(got is not None and got.get("unit") == m["unit"] and isinstance(got["value"], (int, float))
               and math.isfinite(got["value"]),
               f"{label}: {m['name']} emitted in {m['unit']}")


for w in run.WORKLOADS:
    rc, out, _ = bench(w, "--trace", "0")
    check_metrics(out, SPEC["end_to_end"], w)
    if out is not None:
        expect(out["correct"] and out["failed"] == 0 and out["attempted"] > 0, f"{w}: checks pass")
        counts = artifact(w, 0)["sample_counts"]
        for m in SPEC["end_to_end"]:
            expect(counts.get(m["name"], 0) >= 1, f"{w}: {m['name']} has a sample count")

rc, out, _ = bench("supersteps", "--trace", "1")
check_metrics(out, SPEC["per_layer"], "supersteps traced")

rc, out, _ = bench("crawl", "--trace", "0", "--inject-failure", "1")
expect(out is not None and out["failed"] >= 1 and not out["correct"], "injected failure is counted")
if out is not None:
    a = artifact("crawl", 0)
    expect(any(e.startswith("injected-failure") for e in a["errors"]), "injected failure is named")
    expect(min(a["op_ms"]) > 1.0, "no failed operation appears as a fast sample")
    # crawl passes: one cold, one unsampled warm-up, then the sampled ones
    passes = len(a["cold_s"]) + 1 + len(a["pass_s"])
    expect(a["attempted"] - a["failed"] == passes + len(a["checks"]) - sum(not c["ok"] for c in a["checks"]),
           "only successful operations are timed")

bare = build.target_dir() / "perfbench" / "selftest-bare"
shutil.rmtree(bare, ignore_errors=True)
bare.mkdir(parents=True)
shutil.copy(ROOT / "BENCHMARK.json", bare)
shutil.copytree(BENCH, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "crawl", "--seed", "1",
                    "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True, text=True,
                   timeout=170)
expect(r.returncode != 0 and '"metrics"' not in r.stdout, "no program sources: non-zero exit, no result")
shutil.rmtree(bare, ignore_errors=True)

print(f"\n{len(failures)} failed" if failures else "\nall self-tests passed")
sys.exit(1 if failures else 0)
