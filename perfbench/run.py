#!/usr/bin/env python3
"""Seeded benchmark for graft.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, cached
under .bench_build/), makes the workload's inputs from the seed, runs the
harness JVM, checks every result (batch entries against their DuckDB
oracle SQL, the change stream against the generator's final state) and
prints one JSON record as the last line of standard output: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import duckdb
import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BASE_LAKE = os.path.join(HERE, "lake")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("lake_batch", "cdc_stream")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json"))) if os.path.exists(
    os.path.join(ROOT, "BENCHMARK.json")) else None
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(HERE, "src"), PROGRAM_SRC):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    """Compile the program and harness with sbt once per source state;
    later runs reuse the recorded classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        rec = json.load(open(stamp))
        if rec.get("digest") == digest:
            return rec["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    json.dump({"digest": digest, "classpath": cp}, open(stamp, "w"))
    return cp, digest


def prepare_lake(seed, dst):
    """The seeded lake: the base lake with every table's row order
    permuted by the seed. Content is unchanged, so oracle results are
    too."""
    os.makedirs(dst)
    rng = np.random.default_rng(seed)
    for f in sorted(os.listdir(BASE_LAKE)):
        t = pq.read_table(os.path.join(BASE_LAKE, f))
        t = t.take(rng.permutation(t.num_rows))
        pq.write_table(t, os.path.join(dst, f), compression="snappy", row_group_size=1 << 30)


def cpu_sample():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"steal": v[7] if len(v) > 7 else 0, "total": sum(v)}


def host_stamp():
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"loadavg": [float(x) for x in load], "cpu": cpu_sample()}


def oracle_check(lake, run_dir, checks, sqls):
    """Compare each entry's written result with its oracle SQL run in
    DuckDB over the same lake: column names, row count and the sorted
    rows must match exactly."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    for f in os.listdir(lake):
        t = f[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake}/{f}')")

    def canon(v):
        return ("f", repr(v)) if isinstance(v, float) else (type(v).__name__, str(v))

    bad = []
    for name in checks:
        try:
            rel = con.sql(f"SELECT * FROM read_parquet('{run_dir}/check/{name}/*.parquet')")
            scols = sorted(rel.columns)
            srows = con.sql(f"SELECT {', '.join(scols)} FROM rel").fetchall()
            dcols = sorted(con.sql(sqls[name]).columns)
            drows = con.execute(f"SELECT {', '.join(dcols)} FROM ({sqls[name]}) t").fetchall()
        except Exception as e:  # a missing result or an oracle error is a failed check
            bad.append(f"{name}: {str(e).splitlines()[0][:200]}")
            continue
        if scols != dcols:
            bad.append(f"{name}: columns {scols} != {dcols}")
        elif sorted(tuple(map(canon, r)) for r in srows) != sorted(tuple(map(canon, r)) for r in drows):
            bad.append(f"{name}: rows differ ({len(srows)} vs {len(drows)})")
    return bad


def java_cmd(cp, args, run_dir):
    opens = [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Harness"]
    return cmd + [str(a) for a in args]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if BENCH is None or not os.path.exists(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit("run from the repository root: the program sources are missing")

    cp, digest = ensure_build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = None
    try:
        stamp0 = host_stamp()
        lake = os.path.join(run_dir, "lake")
        prepare_lake(a.seed, lake)
        cores = min(4, os.cpu_count() or 1)
        env = dict(os.environ, SPARK_GRAFT_TMP=os.path.join(run_dir, "graft_tmp"))
        with open(os.path.join(run_dir, "harness.log"), "w") as logf:
            proc = subprocess.Popen(
                java_cmd(cp, [a.workload, a.seed, a.seconds, a.trace, lake, run_dir, cores], run_dir),
                cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit("harness timed out")
        res_path = os.path.join(run_dir, "harness.json")
        if rc != 0 or not os.path.exists(res_path):
            with open(os.path.join(run_dir, "harness.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"harness failed (exit {rc})")
        res = json.load(open(res_path))
        stamp1 = host_stamp()

        errors = list(res.get("errors", []))
        failed = int(res["failed"])
        if res.get("checks"):
            bad = oracle_check(lake, run_dir, res["checks"], res["oracle_sql"])
            errors += bad
            failed += len(bad)
            print(f"oracle: {len(res['checks']) - len(bad)} of {len(res['checks'])} entries match")
        det = res.get("determinism")
        if det:
            errors += check_determinism(a, det, digest)
        attempted = int(res["attempted"])
        correct = failed == 0 and not errors

        e2e = {
            "setup_s": (res["setup_s"], "s"),
            "pass_s": (res["pass_s"], "s"),
            "drain_eps": (res["drain_eps"], "1/s"),
            "lag_p50_ms": (res["lag_p50_ms"], "ms"),
            "lag_p95_ms": (res["lag_p95_ms"], "ms"),
            "peak_live_heap_mb": (res["peak_live_heap_mb"], "MB"),
        }
        stamp = {
            "start": stamp0, "end": stamp1,
            "steal_share": (stamp1["cpu"]["steal"] - stamp0["cpu"]["steal"])
            / max(1, stamp1["cpu"]["total"] - stamp0["cpu"]["total"]),
            "settings": res["settings"], "cores": res["cores"],
        }
        print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
        print(f"host: {json.dumps(stamp, sort_keys=True)}")
        print(f"samples: {json.dumps(res['samples'])} setup_rounds_s={res['setup_s_rounds']}")
        print(f"pass_ms: {[round(x) for x in res['pass_ms_all']]}")
        print(f"timeline_s: {res.get('timeline_s', '')} wall_s={time.time() - t_start:.1f}")
        if res.get("entry_ms"):
            print("entry_ms: " + ", ".join(f"{k}={v:.0f}" for k, v in sorted(res["entry_ms"].items())))
            print("entry_ms_by_pass: " + ", ".join(
                f"{k}={[round(x) for x in v]}" for k, v in sorted(res["entry_ms_by_pass"].items())))
        print(f"error_rate={failed / attempted:.6f} ({failed} of {attempted} operations)")
        for e in errors:
            print(f"error: {e}")
        for k, (v, u) in e2e.items():
            print(f"{k} = {v:.6g} {u}")
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            kept = os.path.join(traces, os.path.basename(run_dir) + ".spans.jsonl")
            shutil.move(os.path.join(run_dir, "spans.jsonl"), kept)
            print(f"spans: {kept}")
            print(f"span self time (ms): {json.dumps(res.get('span_self_ms', {}), sort_keys=True)}")
            metrics = per_layer(res)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def check_determinism(a, det, digest):
    """Job and task counts repeat across the passes of a run and across
    runs of one seed of the same build; a change means state leaks
    between passes."""
    errs = []
    if det["ok"] != "true":
        errs.append(f"determinism: counts changed across passes: {det['notes']}")
    path = os.path.join(BUILD, "counts", f"{a.workload}-{a.seed}-{digest[:16]}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    now = {"jobs_by_entry": det["jobs_by_entry"], "tasks": det["tasks"]}
    if os.path.exists(path):
        before = json.load(open(path))
        if before != now:
            errs.append(f"determinism: counts differ from an earlier run of seed {a.seed}: {before} -> {now}")
    else:
        json.dump(now, open(path, "w"))
    return errs


def per_layer(res):
    units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    layer = res.get("per_layer", {})
    return {k: {"value": float(layer.get(k, 0.0) or 0.0), "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    main()
