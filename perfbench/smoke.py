#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size (sf0.001 tables,
about 20 timesteps per loop run).

Usage: python3 perfbench/smoke.py     (from the repository root; ~5 min)

Checks that
  - every workload runs clean and prints every end-to-end metric declared
    in BENCHMARK.json with its unit, and its artifact carries the
    workload's own named metrics;
  - traced runs print every declared per-layer metric with its unit and
    write a spans file whose spans name their parents;
  - a deliberately corrupted expected value is reported as a failed
    operation, by name, with a non-zero exit: once for each loop (one
    expected timestep total off by a cent) and once for a batch sweep
    (one expected query digest altered).
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--seed", "7", "--seconds", "3", "--sf", "sf0.001", "--max-timesteps", "20"]

NAMED = {
    "loop_scalar": ["timesteps_per_s", "ts_latency_p50_ms", "ts_latency_p95_ms",
                    "ts_latency_samples", "state_mb", "setup_s", "failed_frac"],
    "arrays_batch": ["queries_per_s", "query_p50_s", "query_p90_s", "query_samples",
                     "cache_mb", "setup_s", "failed_frac"],
}
NAMED["loop_payload"] = NAMED["loop_scalar"]
NAMED["corpus_batch"] = NAMED["arrays_batch"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--trace", str(trace)] + TINY + list(extra)
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    art_path = os.path.join(HERE, "out", f"{workload}-s7-t{trace}.json")
    artifact = json.load(open(art_path)) if os.path.exists(art_path) else None
    return r.returncode, result, artifact, r.stderr


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def check_metrics(result, declared, what):
    got = result["metrics"]
    for m in declared:
        check(m["name"] in got and got[m["name"]]["unit"] == m["unit"]
              and isinstance(got[m["name"]]["value"], (int, float)),
              f"{what}: {m['name']} [{m['unit']}] emitted")
    check(set(got) == {m["name"] for m in declared}, f"{what}: no undeclared metrics")


def main():
    # loop_scalar and corpus_batch are runnable but not in BENCHMARK.json (see README)
    for w in [x["name"] for x in SPEC["workloads"]] + ["loop_scalar", "corpus_batch"]:
        code, res, art, err = run(w, 0)
        check(code == 0 and res is not None and res["correct"] and res["failed"] == 0,
              f"{w}: clean run (exit {code}){'' if code == 0 else chr(10) + err[-2000:]}")
        check(res["attempted"] >= 1, f"{w}: attempted {res['attempted']}")
        check_metrics(res, SPEC["end_to_end"], w)
        for n in NAMED[w]:
            check(art is not None and n in art["named"], f"{w}: artifact names {n}")
        for k in ("nproc", "heap_mb", "ext_cores", "commit", "spark_version"):
            check(k in art["stamp"], f"{w}: stamp has {k}")

    for w in ("loop_payload", "arrays_batch"):
        code, res, art, err = run(w, 1)
        check(code == 0 and res is not None and res["correct"], f"{w} traced: clean run")
        check_metrics(res, SPEC["per_layer"], f"{w} traced")
        spans = [json.loads(l) for l in open(os.path.join(ROOT, art["spans_file"]))]
        ids = {s["id"] for s in spans}
        check(len(spans) > 0 and all(s["parent"] == 0 or s["parent"] in ids for s in spans),
              f"{w} traced: {len(spans)} spans, every parent present")
        check("self_time" in art and "tracing_overhead" in art, f"{w} traced: layer table")

    for w in ("loop_scalar", "loop_payload"):
        code, res, art, _ = run(w, 0, "--corrupt", "1")
        check(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w} corrupted: reported failed={res and res['failed']}, exit {code}")
        check(any("timestep 3" in f for f in art["failures"]), f"{w} corrupted: named timestep 3")

    src = os.path.join(HERE, "expected", "sf0.001.tsv")
    bad = os.path.join(HERE, ".work", "corrupt-sf0.001.tsv")
    os.makedirs(os.path.dirname(bad), exist_ok=True)
    victim = None
    with open(src) as fi, open(bad, "w") as fo:
        for line in fi:
            parts = line.rstrip("\n").split("\t")
            if victim is None and not line.startswith("#") and parts[0].startswith("arr_"):
                victim = parts[0]
                parts[2] = format(int(parts[2], 16) ^ 1, "016x")
            fo.write("\t".join(parts) + "\n")
    code, res, art, _ = run("arrays_batch", 0, "--expected", os.path.relpath(bad, ROOT))
    check(code != 0 and res is not None and not res["correct"] and res["failed"] >= 1,
          f"arrays_batch corrupted: reported failed={res and res['failed']}, exit {code}")
    check(any(f"query {victim} " in f for f in art["failures"]),
          f"arrays_batch corrupted: named {victim}")
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
