"""Pure helpers of the benchmark: statistics, span trees and the
per-layer metrics computed from a traced run's spans."""
import math
import statistics

MODULES = ["relational", "plans", "queue", "rounds", "llm.Dedup",
           "llm.Similarity", "llm.TextOps", "llm.Corpus", "llm.Pipeline",
           "llm.Multimodal"]
MODULE_METRICS = [("build_s", "s"), ("cold_build_s", "s"), ("exec_s", "s"),
                  ("jobs", "count"), ("tasks", "count"),
                  ("core_util", "ratio"), ("shuffle_write_mb", "MB"),
                  ("spill_mb", "MB"), ("exchanges", "count")]
SHARED_METRICS = [
    ("SessionCache.builds", "count"), ("SessionCache.build_s", "s"),
    ("SessionCache.pinned_mb", "MB"), ("Ckpt.sweep_s", "s"),
    ("Ckpt.block_write_mb", "MB"), ("spark.gc_s", "s"),
    ("streaming.Dispatch.admit_ms", "ms"), ("streaming.Dispatch.batches", "count"),
    ("rounds.Stratify.stratify_ms", "ms"), ("rounds.Stratify.jobs", "count"),
    ("streaming.Lifecycle.batch_ms", "ms"), ("streaming.Lifecycle.state_rows", "count"),
    ("streaming.Lifecycle.state_mem_mb", "MB"),
    ("streaming.Lifecycle.planning_ms", "ms"),
    ("streaming.Lifecycle.commit_ms", "ms"), ("streaming.Streams.pulse_ms", "ms"),
]
MB = 1024.0 * 1024.0


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"{m}.{k}", u) for m in MODULES for k, u in MODULE_METRICS]
    return out + SHARED_METRICS


def percentile(values, p):
    """The p-th percentile (0 < p < 1, linear interpolation), refused
    unless at least ten samples lie beyond it."""
    xs = sorted(values)
    beyond = round(len(xs) * (1.0 - p), 9)
    if beyond < 10:
        raise ValueError(
            f"p{round(p * 100)} of {len(xs)} samples has {beyond:.1f} beyond it; "
            "at least 10 are needed")
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency_summary(values):
    """Sample count, median and every one of p90/p99 that has at least ten
    samples beyond it."""
    out = {"n": len(values)}
    for name, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        try:
            out[name] = percentile(values, p)
        except ValueError:
            break
    return out


def median(values, default=0.0):
    return statistics.median(values) if values else default


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> the span's duration minus the part of its interval its
    child spans cover (children are clipped to the parent)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def assign_parents(spans, orphan_kinds, host_kinds):
    """Give each parentless span of `orphan_kinds` the innermost span of
    `host_kinds` whose interval contains its start (memo-ledger entries
    go under the build span they fall in; jobs from a streaming thread
    under the round they ran in). Returns the spans, updated in place."""
    hosts = sorted((s for s in spans if s["kind"] in host_kinds),
                   key=lambda s: s["end"] - s["start"])
    for s in spans:
        if s["kind"] in orphan_kinds and not s["parent"]:
            for h in hosts:
                if h["start"] <= s["start"] <= h["end"]:
                    s["parent"] = h["id"]
                    break
    return spans


def ancestors(spans_by_id, span):
    """The chain of ancestors of `span`, nearest first."""
    out, p = [], span["parent"]
    while p and p in spans_by_id:
        out.append(spans_by_id[p])
        p = spans_by_id[p]["parent"]
    return out


def layer_table(spans):
    """(kind, module) -> [count, total seconds, self seconds]."""
    st = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault((s["kind"], s["attrs"].get("module", "")), [0, 0.0, 0.0])
        row[0] += 1
        row[1] += (s["end"] - s["start"]) / 1e3
        row[2] += st[s["id"]] / 1e3
    return table


def layer_metrics(spans, record):
    """Every per-layer metric from a traced run's spans and record."""
    spans = assign_parents(spans, {"memo"}, {"build"})
    spans = assign_parents(spans, {"job"}, {"round", "admit", "stratify", "pulse"})
    by_id = {s["id"]: s for s in spans}
    cores = record["cores"]
    n_passes = max(len(record["passes"]), 1)
    first_warm = record["first_warm_pass"]
    warm = max(n_passes - first_warm, 1)

    def pass_of(s):
        for a in [s] + ancestors(by_id, s):
            if a["kind"] == "pass":
                return int(a["name"].split("-")[1])
        return None

    def warm_parent(job):
        """A catalog module's job under a build or exec span of a timed warm pass."""
        parent = by_id.get(job["parent"])
        return (job["attrs"].get("module", "") in busy_ms and parent is not None
                and parent["kind"] in ("build", "exec")
                and (pass_of(parent) or 0) >= first_warm)

    m = {}
    for mod in MODULES:
        for k, _ in MODULE_METRICS:
            m[f"{mod}.{k}"] = 0.0
    busy_ms = {mod: 0.0 for mod in MODULES}
    wall_s = {mod: 0.0 for mod in MODULES}
    for s in spans:
        mod = s["attrs"].get("module", "")
        if mod not in busy_ms or s["kind"] not in ("build", "exec"):
            continue
        dur = (s["end"] - s["start"]) / 1e3
        p = pass_of(s)
        if p == 0 and s["kind"] == "build":
            m[f"{mod}.cold_build_s"] += dur
        if p is None or p < first_warm:
            continue
        m[f"{mod}.{s['kind']}_s"] += dur / warm
        wall_s[mod] += dur
    # SQL executions launched by each warm exec span: their final plans'
    # exchanges are the query's
    exec_sql = {}
    for s in spans:
        if s["kind"] != "job" or not warm_parent(s):
            continue
        mod = s["attrs"].get("module", "")
        m[f"{mod}.jobs"] += 1.0 / warm
        parent = by_id[s["parent"]]
        if parent["kind"] == "exec" and s["attrs"].get("sql_exec", -1) >= 0:
            exec_sql.setdefault(parent["id"], set()).add(s["attrs"]["sql_exec"])
    for eid, ids in exec_sql.items():
        mod = by_id[eid]["attrs"]["module"]
        m[f"{mod}.exchanges"] += sum(
            record["exchanges"].get(str(i), 0) for i in ids) / warm
    for s in spans:
        job = by_id.get(s["parent"])
        if s["kind"] != "stage" or job is None or not warm_parent(job):
            continue
        mod = job["attrs"].get("module", "")
        a = s["attrs"]
        m[f"{mod}.tasks"] += a.get("tasks", 0) / warm
        m[f"{mod}.shuffle_write_mb"] += a.get("shuffle_write_bytes", 0) / MB / warm
        m[f"{mod}.spill_mb"] += a.get("spill_bytes", 0) / MB / warm
        busy_ms[mod] += a.get("run_ms", 0)
    for mod in MODULES:
        if wall_s[mod] > 0:
            m[f"{mod}.core_util"] = busy_ms[mod] / 1e3 / (wall_s[mod] * cores)

    memo = [s for s in spans if s["kind"] == "memo"]
    m["SessionCache.builds"] = float(len(memo))
    m["SessionCache.build_s"] = sum((s["end"] - s["start"]) / 1e3 for s in memo)
    m["SessionCache.pinned_mb"] = record.get("pinned_bytes", 0) / MB
    m["Ckpt.sweep_s"] = sum((s["end"] - s["start"]) / 1e3 for s in spans
                            if s["kind"] == "sweep") / n_passes
    m["Ckpt.block_write_mb"] = record["block_write_bytes"] / MB / n_passes
    m["spark.gc_s"] = record["gc_s"] / n_passes

    ops = [o for o in record["ops"] if "admit_s" in o]
    m["streaming.Dispatch.admit_ms"] = median([o["admit_s"] * 1e3 for o in ops])
    m["streaming.Dispatch.batches"] = (
        sum(o["batches"] for o in ops) / len(ops) if ops else 0.0)
    m["rounds.Stratify.stratify_ms"] = median(
        [o["stratify_s"] * 1e3 for o in ops if "stratify_s" in o])
    m["streaming.Streams.pulse_ms"] = median(
        [o["pulse_s"] * 1e3 for o in ops if "pulse_s" in o])
    strat = [s for s in spans if s["kind"] == "stratify"]
    strat_jobs = sum(1 for s in spans if s["kind"] == "job"
                     and by_id.get(s["parent"], {}).get("kind") == "stratify")
    m["rounds.Stratify.jobs"] = strat_jobs / len(strat) if strat else 0.0
    m["streaming.Lifecycle.batch_ms"] = median(
        [r["latency_s"] * 1e3 for r in record.get("rounds", [])])
    prog = [s["attrs"] for s in spans
            if s["kind"] == "progress" and s["name"] == "lifecycle"
            and s["attrs"]["input_rows"] > 0]
    last = max(prog, key=lambda p: p["batch"], default=None)
    m["streaming.Lifecycle.state_rows"] = float(last["state_rows"]) if last else 0.0
    m["streaming.Lifecycle.state_mem_mb"] = last["state_mem_bytes"] / MB if last else 0.0
    m["streaming.Lifecycle.planning_ms"] = median([p["planning_ms"] for p in prog])
    m["streaming.Lifecycle.commit_ms"] = median([p["commit_ms"] for p in prog])
    return m
