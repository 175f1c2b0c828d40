#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads through graft's public API.

    python3 graftbench/run.py --workload serve|analytics|docs --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run compiles graft and the
benchmark with sbt (offline, only when a source changed, never two
sbt at once); every run then launches one JVM directly in a scratch
directory under .bench_work/, which is removed at exit. The last stdout
line is the result: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones BENCHMARK.json gates, with
--trace 1 the per-layer ones; the line before holds all seven end-to-end
figures of the run. See graftbench/README.md.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = "/root/testdata/sf0.01"
# serve's deliveries are rows of the events table at sf0.1 (100,000 events
# in time order, ids 0 to 99,999; 1,500 users; 720 hours)
EVENTS = "/root/testdata/sf0.1/events.parquet"
SLICE_ROWS = 20000  # 40 deliveries of 500
CPUS = 2
HEAP = "2g"
YOUNG = "512m"
JVM_TIMEOUT_S = 170
TAIL_PCT = 75
# Spark 4 on JDK 17 outside spark-submit (graft's build.sbt sets the same)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def metric_names(kind):
    """(name, unit) of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json gates."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def ensure_built(log):
    """Compile with sbt only when a source changed; return the classpath."""
    target = os.path.join(BENCH, "target")
    os.makedirs(target, exist_ok=True)
    stamp, cp_file = os.path.join(target, "built.sha256"), os.path.join(target, "classpath.txt")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one sbt at a time
        digest = source_digest()
        if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
            return open(cp_file).read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t = time.time()
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
        log(f"sbt build: exit {res.returncode} in {time.time() - t:.1f} s")
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
            raise SystemExit("graftbench: sbt build failed")
        lines = [l for l in res.stdout.splitlines() if os.pathsep in l or l.endswith(".jar")]
        cp = [l for l in lines if "classes" in l][-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp, "w") as f:
            f.write(digest)
        return cp


# ---------------------------------------------------------------- metrics

def median(xs):
    s = sorted(xs)
    n = len(s)
    return 0.0 if n == 0 else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return 0.0 if not s else s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def end_to_end(res, ops):
    reads = [o["ms"] for o in ops if o["read"]]
    writes = [o["ms"] for o in ops if not o["read"]]
    n = max(1, len(ops))
    return {
        "setup_s": (res["setup_done_ms"] - res["launched_ms"]) / 1000.0,
        "ops_per_s": sum(1 for o in ops if o["ok"]) / res["window_s"],
        "read_p50_ms": median(reads),
        "read_tail_ms": pct(reads, TAIL_PCT),
        "write_p50_ms": median(writes),
        "cpu_ms_per_op": res["cpu_ms"] / n,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }


def per_layer(workload, res, ops):
    """The per-layer metrics that apply to `workload`."""
    tr = res["trace"]
    kinds = tr["by_kind"]
    files = tr["write_ms_by_file"]
    m = {k: tr[k] for k in (
        "spark.jobs_per_read", "spark.outside_stage_ms_per_read", "spark.jobs_per_write",
        "spark.outside_stage_ms_per_write", "spark.stages_per_op", "spark.tasks_per_op",
        "spark.planning_ms_per_read", "spark.task_cpu_ratio", "spark.shuffle_mb_per_op",
        "spark.input_mb_per_op", "spark.spill_mb")}
    m["jvm.gc_ms_per_op"] = res["gc_ms"] / max(1, len(ops))
    if workload in ("serve", "docs"):
        for k in ("streaming.trigger_ms", "streaming.sink_ms", "streaming.engine_ms",
                  "streaming.pickup_ms", "streaming.jobs_per_trigger"):
            m[k] = tr[k]
        m["store.mb"] = res["store_mb"]
    if workload == "serve":
        m["streaming.ServingSink_ms"] = files.get("streaming.ServingSink", 0.0)
        m["store.written_mb_per_input_mb"] = tr["store.written_mb"] / res["published_mb"]
        for k in ("point", "range", "topk"):
            m[f"streaming.{k}_read_ms"] = kinds[k]["ms"]
    if workload == "docs":
        m["streaming.IngestPipeline_ms"] = files.get("streaming.IngestPipeline", 0.0)
        for f in ("DedupStore", "InvertedIndex", "AnnIndexStore"):
            m[f"operators.{f}_ms"] = files.get(f"operators.{f}", 0.0)
        m["operators.compactions"] = tr["operators.compactions"]
        m["operators.bm25_read_ms"] = kinds["bm25"]["ms"]
        m["operators.ann_read_ms"] = kinds["ann"]["ms"]
    if workload == "analytics":
        for k, v in kinds.items():
            m[f"queries.{k}_ms"] = v["ms"]
            m[f"queries.{k}_jobs"] = v["jobs"]
        m["plans.graft_node_reads"] = sum(
            1 for v in kinds.values() if v["graft_node"] and v["read"])
    return m


# ---------------------------------------------------------------- oracle

def events_slice(seed, path):
    """Write SLICE_ROWS consecutive rows of the events table, from a start
    the seed picks, as tab-separated text for the serve workload."""
    import duckdb
    import random
    start = random.Random(seed).randrange(100000 - SLICE_ROWS)
    rows = duckdb.sql(
        f"SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), user_id, event_type, "
        f"value, props FROM '{EVENTS}' WHERE event_id >= {start} "
        f"AND event_id < {start + SLICE_ROWS} ORDER BY event_id").fetchall()
    if not rows:
        raise SystemExit(f"graftbench: no events from id {start} in {EVENTS}")
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(map(str, r)) + "\n")


def oracle_check(res, ops, log):
    """Compare each analytics reference dump with DuckDB running the
    query's oracleSql, under check_oracle.py's canonical form; a mismatch
    fails every measured op of that query."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    # DuckDB's answers depend only on the SQL text and the data files, so
    # they are kept across runs (some oracles take seconds to evaluate)
    cache = os.path.join(ROOT, ".bench_work", "oracle-cache")
    os.makedirs(cache, exist_ok=True)
    data_id = [(t, os.stat(f"{DATA}/{t}.parquet").st_size) for t in co.TABLES]

    def duck(sql):
        key = hashlib.sha256(json.dumps([sql, DATA, data_id]).encode()).hexdigest()
        path = os.path.join(cache, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        ddf = con.sql(sql).df()
        ans = [sorted(ddf.columns), co.canon(ddf)]
        with open(path + ".tmp", "w") as f:
            json.dump(ans, f)
        os.replace(path + ".tmp", path)
        return json.loads(json.dumps(ans))

    bad = {}
    for name, sql in res.get("oracle", {}).items():
        try:
            sdf = pd.read_parquet(os.path.join(res["dumps"], name))
            d_cols, d_rows = duck(sql)
            if sorted(sdf.columns) != d_cols:
                bad[name] = f"columns {sorted(sdf.columns)} vs {d_cols}"
            elif [list(r) for r in co.canon(sdf)] != d_rows:
                bad[name] = "rows differ from the DuckDB oracle"
        except Exception as e:  # a checker error is a failed check
            bad[name] = f"oracle check error: {e}"
    for o in ops:
        if o["kind"] in bad and o["ok"]:
            o["ok"], o["err"] = False, bad[o["kind"]]
    log(f"oracle: {len(res.get('oracle', {})) - len(bad)} of {len(res.get('oracle', {}))} "
        f"queries equal DuckDB; {len(bad)} differ {sorted(bad)}")


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "analytics", "docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    def log(msg):
        print(f"[graftbench] {msg}", file=sys.stderr, flush=True)

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graftbench: graft sources not found; run from a full checkout")
    for d in (DATA, EVENTS):
        if not os.path.exists(d):
            raise SystemExit(f"graftbench: test data {d} not found")
    cp = ensure_built(log)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    try:
        # fixed heap with a fixed young generation, not pre-touched: every
        # run fills the young generation during set-up, so resident memory
        # then follows the old generation the program's data reaches
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
               f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        # set-up time runs from here: input generation, JVM start, session
        # and warm-up
        launched_ms = int(time.time() * 1000)
        events = os.path.join(work, "events.tsv")
        if args.workload == "serve":
            events_slice(args.seed, events)
        cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--cpus", str(CPUS), "--data", DATA, "--events", events, "--out", out,
                "--launched-ms", str(launched_ms), "--smoke", str(args.smoke),
                "--corrupt", str(args.corrupt)]
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=jlog, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                rc = proc.wait()
                log(f"JVM killed after {JVM_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"JVM exit {rc}; no result")
            names = metric_names("per_layer" if args.trace else "end_to_end")
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                              "metrics": {n: {"value": 0.0, "unit": u} for n, u in names}}))
            return
        with open(out) as f:
            res = json.load(f)
        ops = res["ops"]
        if res.get("oracle") is not None:
            oracle_check(res, ops, log)
        for o in ops:
            if not o["ok"]:
                log(f"failed {o['kind']}: {o['err']}")
        e2e = end_to_end(res, ops)
        # all seven end-to-end figures, also those BENCHMARK.json does not
        # gate because they did not hold steady on a shared host
        print(("traced " if args.trace else "") + "end-to-end: " + json.dumps(e2e))
        if args.trace:
            layer = per_layer(args.workload, res, ops)
            names = metric_names("per_layer")
            # metrics of layers this workload does not run read 0
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in names}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in metric_names("end_to_end")}
        extra = {k: res[k] for k in ("deliveries", "accepted_docs", "ann_recall") if k in res}
        log(f"{args.workload}: {len(ops)} ops ({sum(o['read'] for o in ops)} reads) "
            f"in {res['window_s']:.1f} s {extra}; phases (s) {res['phases']}")
        print(json.dumps({"correct": True, "attempted": len(ops),
                          "failed": sum(1 for o in ops if not o["ok"]),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
