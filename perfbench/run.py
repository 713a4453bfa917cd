#!/usr/bin/env python3
"""raphtoryspark benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), runs the workload in
one JVM at local[4], checks the results, prints a human report and, as the
last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. The full artifact (raw
samples, checks, environment, spans) goes to
<build dir>/perfbench/result-<workload>-s<seed>-t<trace>.json.

Self-test flags: --smoke 1 (tiny inputs), --inject-failure 1 (one
deliberately failing operation and one failed check).
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

WORKLOADS = ("crawl", "supersteps", "queries")
# Tail percentile per workload: the highest that keeps at least ten
# samples beyond it at the workload's usual sample count per run.
TAIL_PCT = {"crawl": 65, "supersteps": 55, "queries": 66}
DEADLINE_S = 170.0


def percentile(xs, p):
    """Nearest-rank percentile and the number of samples above it."""
    s = sorted(xs)
    k = max(0, math.ceil(p / 100.0 * len(s)) - 1)
    return s[k], len(s) - 1 - k


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def source_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return None


def run_jvm(out, args, work, deadline):
    jsa = build.archive(out)
    flag = f"-XX:SharedArchiveFile={jsa}" if jsa.exists() else "-Xshare:auto"
    cmd = build.java_cmd(out, flag) + args
    log = open(work / "jvm.log", "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = build.build()  # raises SystemExit without the program's sources
    deadline = time.time() + DEADLINE_S  # a first run also pays the build before this

    out_dir = build.target_dir() / "perfbench"
    work = out_dir / f"run-{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = BENCH / "data" / "sf0.001"
    rc = run_jvm(out, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                           "--trace", str(a.trace), "--out", str(work / "result.json"),
                           "--work", str(work), "--data", str(data), "--smoke", str(a.smoke),
                           "--inject-failure", str(a.inject_failure)], work, deadline)
    if rc != 0 or not (work / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        sys.stderr.write(f"\nperfbench: JVM exit {rc}; no result\n")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    res = json.loads((work / "result.json").read_text())

    attempted, failed = res["attempted"], res["failed"]
    errors, checks = list(res["errors"]), list(res["checks"])
    if a.workload == "queries":
        try:
            import oracle
            verdicts = oracle.check(str(work / "results"), str(work / "oracle_sql.json"), str(data))
        except Exception as e:  # no DuckDB: the oracle did not run, so nothing is verified
            verdicts = [("duckdb", False, f"oracle unavailable: {e}")]
        for name, ok, detail in verdicts:
            attempted += 1
            checks.append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
            if not ok:
                failed += 1
                errors.append(f"oracle.{name}: {detail}")
    correct = failed == 0 and attempted > 0 and all(c["ok"] for c in checks) and len(checks) > 0

    ops = res["op_ms"]
    tail_pct = TAIL_PCT[a.workload]
    tail, beyond = percentile(ops, tail_pct) if ops else (float("nan"), 0)
    e2e = {
        "setup_s": res["session_s"] + med(res["setup_build_s"]),
        "cold_s": med(res["cold_s"]),
        "pass_s": med(res["pass_s"]),
        "op_p50_ms": med(ops),
        "op_tail_ms": tail,
        "work_per_s": med(res["work_per_s"]),
        "rss_peak_mb": res["report"]["rss_peak_mb"],
    }
    counts = {"setup_s": len(res["setup_build_s"]), "cold_s": len(res["cold_s"]),
              "pass_s": len(res["pass_s"]), "op_p50_ms": len(ops), "op_tail_ms": len(ops),
              "work_per_s": len(res["work_per_s"]), "rss_peak_mb": 1}
    samples = {k: med(v) for k, v in res["samples"].items()}
    rep = res["report"]
    named = {"crawl": [("crawl_s", e2e["pass_s"], "s"),
                       ("ingest_pages_per_s", e2e["work_per_s"], "pages/s"),
                       ("pagerank_edges_per_s", samples.get("pagerank_edges_per_s"), "edges/s"),
                       ("superstep_p50_ms", e2e["op_p50_ms"], "ms")],
             "supersteps": [("step_edges_per_s", e2e["work_per_s"], "edges/s"),
                            ("step_edges_per_s_in_memory", samples.get("step_edges_per_s_in_memory"),
                             "edges/s"),
                            ("step_p50_ms", e2e["op_p50_ms"], "ms"),
                            (f"step_tail_ms (p{tail_pct})", tail, "ms"),
                            ("durable_s", samples.get("durable_s"), "s"),
                            ("resume_s", samples.get("resume_s"), "s"),
                            ("scaling_eff_1_4 (traced runs)", rep.get("scaling_eff_1_4"), "ratio")],
             "queries": [("query_cold_s", e2e["cold_s"], "s"),
                         ("query_p50_ms", e2e["op_p50_ms"], "ms"),
                         (f"query_tail_ms (p{tail_pct})", tail, "ms")]}[a.workload]
    named += [("setup_s", e2e["setup_s"], "s"),
              ("fail_ratio", failed / max(1, attempted), "ratio"),
              ("rss_peak_mb", e2e["rss_peak_mb"], "MB")]

    env = dict(res["env"], source=source_id() or f"tree-{out.name.split('-', 1)[1]}",
               seed=a.seed, workload=a.workload, trace=a.trace, seconds=a.seconds,
               host_probe_before_ms=rep["host_probe_before_ms"],
               host_probe_after_ms=rep["host_probe_after_ms"])
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} seconds={a.seconds}")
    print("env " + " ".join(f"{k}={v}" for k, v in env.items()))
    for name, v, unit in named:
        print(f"  {name:28s} {v if v is not None else float('nan'):>16.6g} {unit}")
    print(f"  samples: ops={len(ops)} (p{tail_pct} has {beyond} beyond) passes={len(res['pass_s'])}"
          f" cold={len(res['cold_s'])} setup_builds={len(res['setup_build_s'])}")
    if beyond < 10 and not a.smoke:
        print(f"  warning: op_tail_ms has only {beyond} samples beyond p{tail_pct}")
    for c in checks:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for e in errors:
        print(f"  error {e}")

    spec_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    spec_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if a.trace:
        layers = res["layers"]
        missing = [n for n in spec_layer if n not in layers]
        if missing:
            sys.stderr.write(f"perfbench: per-layer metrics not produced: {missing}\n")
            return 1
        for n in spec_layer:
            print(f"  layer {n:32s} {layers[n]:>16.6g} {spec_layer[n]}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in spec_layer.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in spec_e2e.items()}

    artifact = dict(res, env=env, checks=checks, errors=errors, attempted=attempted, failed=failed,
                    correct=correct, e2e=e2e, sample_counts=counts, named={n: v for n, v, _ in named},
                    tail_pct=tail_pct, tail_beyond=beyond)
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}"
    (out_dir / f"result-{stem}.json").write_text(json.dumps(artifact, indent=1))
    if (work / "spans.json").exists():
        shutil.copy(work / "spans.json", out_dir / f"spans-{stem}.json")
    shutil.rmtree(work, ignore_errors=True)

    # a metric with no successful sample is null, never a number
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            m["value"] = None
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics},
                     allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
