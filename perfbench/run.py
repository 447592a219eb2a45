#!/usr/bin/env python3
"""Benchmark of the novapulsarspark engine (see perfbench/README.md).

Usage, from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

W is catalog or daemon-loop. The first run builds
the engine and the harness from source with sbt (offline). One run starts
one JVM with one local[nproc] Spark session, runs the workload closed-loop
for S seconds, checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). A traced run also writes spans.jsonl and layers.tsv (self
times) to its output directory and reports its overhead against the
median of the untraced runs of the same workload in this checkout. Box state (load, cpu pressure, nproc,
versions, commit) is printed on a `box:` line and stored in record.json
beside the metrics, not among them.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import benchlib
import daemon_gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HARNESS = os.path.join(BENCH, "harness")
LAUNCH = os.path.join(HARNESS, "target", "launch.txt")
DATA = os.path.join(BENCH, "data", "sf0.01")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ["catalog", "daemon-loop"]
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s")]
HEAP = "3g"
RUN_LIMIT_S = 170
DAEMON_PASSES = 64  # generated for daemon-loop; more than a run can use


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def build_inputs():
    """Source files the harness launch depends on."""
    pats = ["src/main/**/*.scala", "build.sbt", "project/*.properties",
            "project/*.sbt", "perfbench/harness/src/main/**/*.scala",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/*.properties"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def build():
    """Compile the engine and the harness unless the launch file is newer
    than every source it depends on."""
    srcs = build_inputs()
    if os.path.exists(LAUNCH) and all(
            os.path.getmtime(f) <= os.path.getmtime(LAUNCH) for f in srcs):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "writeLaunch"], cwd=HARNESS, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        raise SystemExit(f"build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f}s")


def box_state():
    def read(path):
        try:
            with open(path) as fh:
                return fh.read()
        except OSError:
            return ""
    psi = {}
    for line in read("/proc/pressure/cpu").splitlines():
        kind, *fields = line.split()
        psi[kind] = {k: float(v) for k, v in (f.split("=") for f in fields)
                     if k.startswith("avg")}
    load = read("/proc/loadavg").split()
    return {"load1": float(load[0]) if load else None, "cpu_psi": psi,
            "time": time.time()}


def source_identity():
    """Git commit when the checkout is a repository, and a digest of the
    engine and harness sources either way."""
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha1()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return {"commit": commit, "source_sha1": h.hexdigest()}


def run_jvm(args, out, deadline):
    with open(LAUNCH) as fh:
        lines = fh.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--out", out])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness JVM exceeded the run limit; see {out}/jvm.log")
    if rc != 0:
        raise SystemExit(f"harness JVM failed (exit {rc}); see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def canon(v):
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def oracle_check(out):
    """Grade each query's cold-pass output against its DuckDB oracle SQL:
    columns (sorted by name) and their type categories, row count, and
    every value exactly, rows in order. Queries without oracle SQL must
    return rows. Returns {query: None if correct else reason}."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    def tcat(t):
        for name, test in (("int", pt.is_integer), ("decimal", pt.is_decimal),
                           ("float", pt.is_floating), ("timestamp", pt.is_timestamp),
                           ("date", pt.is_date), ("bool", pt.is_boolean),
                           ("string", pt.is_string), ("string", pt.is_large_string)):
            if test(t):
                return name
        return str(t)

    def rows(tab):
        cols = sorted(tab.column_names)
        tab = tab.select(cols)
        return cols, [tuple(canon(x) for x in r.values()) for r in tab.to_pylist()]

    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    verdict = {}
    for d in sorted(glob.glob(os.path.join(out, "verify", "*"))):
        q = os.path.basename(d)
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        spark = pa.concat_tables([pq.read_table(f) for f in files]) if files else None
        if spark is None:
            verdict[q] = "no output"
            continue
        if q not in oracle:
            verdict[q] = None if spark.num_rows > 0 else "no rows"
            continue
        try:
            duck = con.execute(oracle[q]).fetch_arrow_table()
        except Exception as e:  # an oracle that cannot run grades nothing
            verdict[q] = f"oracle error: {e}"
            continue
        scols, srows = rows(spark)
        dcols, drows = rows(duck)
        stypes = [tcat(spark.schema.field(c).type) for c in scols]
        dtypes = [tcat(duck.schema.field(c).type) for c in dcols]
        if scols != dcols or stypes != dtypes:
            verdict[q] = f"schema {list(zip(scols, stypes))} != {list(zip(dcols, dtypes))}"
        elif len(srows) != len(drows):
            verdict[q] = f"rows {len(srows)} != {len(drows)}"
        else:
            bad = sum(1 for a, b in zip(srows, drows) for x, y in zip(a, b)
                      if x != y and not (isinstance(x, float) and isinstance(y, float)
                                         and math.isnan(x) and math.isnan(y)))
            verdict[q] = f"{bad} values differ" if bad else None
    return verdict


def grade(rec, out):
    """(attempted, failed, problems) for one run's record."""
    problems = []
    ops = rec["ops"]
    if args.workload == "daemon-loop":
        checks = ("admit_ok", "stratify_ok", "pulse_ok", "replay_ok")
        failed = 0
        for o in ops:
            bad = [c for c in checks if not o.get(c, False)]
            if o.get("error") or bad:
                failed += 1
                problems.append(f"{o['name']}: {o.get('error') or ', '.join(bad)}")
        return len(ops), failed, problems
    verdict = oracle_check(out)
    wrong = {q for q, v in verdict.items() if v}
    problems += [f"{q}: {verdict[q]}" for q in sorted(wrong)]
    missing = {o["name"] for o in ops} - set(verdict)
    problems += [f"{q}: not graded" for q in sorted(missing)]
    failed = 0
    for o in ops:
        if o.get("error") or o["name"] in wrong or o["name"] in missing:
            failed += 1
            if o.get("error"):
                problems.append(f"{o['name']} pass {o['pass']}: {o['error']}")
    return len(ops), failed, problems


def end_to_end(rec):
    walls = [p["wall_s"] for p in rec["passes"]]
    return {
        "setup_s": benchlib.median(rec["setup_s"]),
        "cold_pass_s": walls[0],
        "warm_pass_s": benchlib.median(walls[rec["first_warm_pass"]:]),
    }


def latencies(rec):
    """Per-operation latency summaries of the warm passes (sample count,
    median, and each tail percentile with ten samples beyond it)."""
    warm = [o for o in rec["ops"]
            if o["pass"] >= rec["first_warm_pass"] and not o.get("error")]
    if args.workload != "daemon-loop":
        return {"query_s": benchlib.latency_summary(
            [o["build_s"] + o["exec_s"] for o in warm])}
    rounds = [r["latency_s"] for r in rec["rounds"]]
    window = rec["window"]["end"] - rec["window"]["start"]
    return {"plan_turnaround_s": benchlib.latency_summary(
                [o["turnaround_s"] for o in warm]),
            "status_latency_s": benchlib.latency_summary(rounds),
            "plans_per_s": len(rec["ops"]) / (window / 1e3)}


def traced(rec, out, e2e):
    """Per-layer metrics, spans file, layer table and tracing overhead."""
    with open(os.path.join(out, "spans.jsonl")) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    for s in spans:
        s["start"] = float(s["start"])
        s["end"] = float(s["end"])
    metrics = benchlib.layer_metrics(spans, rec)
    table = benchlib.layer_table(spans)
    with open(os.path.join(out, "layers.tsv"), "w") as fh:
        fh.write("kind\tmodule\tcount\ttotal_s\tself_s\n")
        for (kind, mod), (n, tot, slf) in sorted(table.items()):
            fh.write(f"{kind}\t{mod}\t{n}\t{tot:.4f}\t{slf:.4f}\n")
    untraced = []
    for path in glob.glob(os.path.join(OUT, args.workload, "*-trace-0", "record.json")):
        with open(path) as fh:
            untraced.append(json.load(fh)["end_to_end"])
    overhead = None
    if untraced:
        overhead = {"untraced_runs": len(untraced)}
        for k in e2e:
            base = benchlib.median([u[k] for u in untraced if k in u])
            overhead[k] = {"traced": e2e[k], "untraced_median": base,
                           "delta": e2e[k] - base}
    log(f"tracing overhead (traced - median of untraced runs): {json.dumps(overhead)}")
    log(f"spans: {out}/spans.jsonl  layer table: {out}/layers.tsv")
    return metrics, overhead


def main():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the engine sources (build.sbt, src/main/scala) are not beside perfbench/; "
            "run from a full checkout")
        return 2
    start = time.time()
    build()
    deadline = time.time() + RUN_LIMIT_S
    out = os.path.join(OUT, args.workload, f"seed-{args.seed}-trace-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    box = {"start": box_state(), "nproc": os.cpu_count(), **source_identity()}
    if args.workload == "daemon-loop":
        daemon_gen.generate(args.seed, DAEMON_PASSES, os.path.join(out, "daemon"))
    rec = run_jvm(args, out, deadline)
    box["end"] = box_state()
    box["versions"] = rec["versions"]
    attempted, failed, problems = grade(rec, out)
    for p in problems:
        log(f"INCORRECT {p}")
    e2e = end_to_end(rec)
    if args.trace:
        metrics, overhead = traced(rec, out, e2e)
        units = dict(benchlib.per_layer_units())
    else:
        metrics, overhead = e2e, None
        units = dict(END_TO_END)
    info = {"passes": len(rec["passes"]),
            "warm_passes": len(rec["passes"]) - rec["first_warm_pass"],
            "setup_samples_s": rec["setup_s"], "jvm_to_ready_s": rec["jvm_to_ready_s"],
            "peak_rss_mb": rec["peak_rss_bytes"] / benchlib.MB,
            **latencies(rec), "wall_s": time.time() - start}
    with open(os.path.join(out, "record.json"), "w") as fh:
        json.dump({"box": box, "info": info, "end_to_end": e2e, "metrics": metrics,
                   "tracing_overhead": overhead, "problems": problems}, fh, indent=1)
    for d in ("tmp", "spark-local", "checkpoints", "warehouse"):
        shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    print("box: " + json.dumps({**box, "info": info}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    sys.exit(main())
