#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of graft).

    python3 graftbench/selftest.py

For each workload (serve, analytics, docs) it runs a small-input smoke
(`--smoke 1`) and checks that every operation passed and every metric was
printed, then runs the same smoke with `--corrupt 1`, which falsifies one
answer before the checkers see it, and checks that exactly that operation
is counted as failed. A traced smoke of `serve` checks the per-layer
output. Takes about five minutes on 4 cores.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, trace=0, corrupt=0):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "graftbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke", "1",
         "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    per_layer = [m["name"] for m in bench["per_layer"]]
    problems = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            problems.append(msg)

    for w in ("serve", "analytics", "docs"):
        r, _ = run(w)
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{w} smoke: {r['attempted']} ops, {r['failed']} failed")
        expect(sorted(r["metrics"]) == sorted(e2e) and
               all(v["value"] > 0 for v in r["metrics"].values()),
               f"{w} smoke prints every end-to-end metric, none zero")
        r, err = run(w, corrupt=1)
        # analytics corrupts a warm-up reference: every measured run of
        # that one query then fails the DuckDB check
        fails = [l for l in err.splitlines() if l.startswith("[graftbench] failed ")]
        expect(r["correct"] and r["failed"] >= 1 and (w == "analytics" or r["failed"] == 1)
               and len({l.split(":")[0] for l in fails}) == 1,
               f"{w} with one corrupted answer: {r['failed']} failed of {r['attempted']}")
    r, _ = run("serve", trace=1)
    expect(set(per_layer) <= set(r["metrics"]) and r["failed"] == 0,
           "serve traced smoke prints every per-layer metric")
    print(f"\n{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
