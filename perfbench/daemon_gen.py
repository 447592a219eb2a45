"""Seeded input generator for the daemon-loop workload.

Writes, under one directory:

* queue/pass-<k>/{background,interactive}/<plan>.json -- queued plan
  documents in the engine's queue schema (graft.streaming.Streams.planSchema),
  70 % background and 30 % interactive;
* plans.tsv   pass, plan id, project
* phases.tsv  plan id, phase, round, outcome, tool events
* edges.tsv   plan id, phase, dependency (an earlier phase of the plan)
* events.tsv  plan id, phase, project, tool, file, kind, event time (us)

Every pass holds the same plan shapes (phase count, DAG depth) in a seeded
order, so each pass asks the engine for the same number of stratifier
iterations and lifecycle rounds; the seed varies everything else. A phase
at depth d > 1 depends on one random phase at depth d - 1 and on each
other shallower phase with probability 0.35. A phase emits a start event,
1-20 tool events and a stop event, which fails 10 % of the time. The generator stamps event time itself. Rounds run one after
another and plans one after another on the event-time axis, in the order
the queue admits them (file modification time), so no event arrives
behind the stream's watermark and no phase stalls. `round` is the
length of the longest dependency chain ending at the phase, the answer the
stratifier must reproduce.
"""
import datetime
import json
import os
import random

PROJECTS = ["alpha", "beta", "gamma", "delta", "epsilon"]
TOOLS = ["Read", "Edit", "Write", "Bash", "Grep", "Glob"]
FILE_TOOLS = {"Read", "Edit", "Write"}
PLAN_TYPES = ["feature", "bug", "refactor", "chore", "docs"]
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
ROUND_SPAN_US = 120_000_000  # longer than any phase's events
DEP_PROB = 0.35
FAIL_PROB = 0.10
SHAPES = [(4, 2)]  # (phases, depth) of the plans of every pass


def make_plan(rng, plan_id, n, depth):
    """One plan of n phases whose longest dependency chain has `depth`
    phases: its phases with dependencies, rounds, outcomes and tool
    counts. Pure function of the rng state."""
    levels = sorted(list(range(1, depth + 1)) +
                    [rng.randint(1, depth) for _ in range(n - depth)])
    rounds = {i + 1: lv for i, lv in enumerate(levels)}
    deps = {}
    for i in range(1, n + 1):
        below = [j for j in range(1, i) if rounds[j] == rounds[i] - 1]
        must = [rng.choice(below)] if below else []
        deps[i] = sorted(must + [j for j in range(1, i) if rounds[j] < rounds[i]
                                 and j not in must and rng.random() < DEP_PROB])
    phases = []
    for i in range(1, n + 1):
        phases.append({
            "phase": i, "deps": deps[i], "round": rounds[i],
            "outcome": "failed" if rng.random() < FAIL_PROB else "completed",
            "tools": rng.randint(1, 20),
        })
    return {"id": plan_id, "project": rng.choice(PROJECTS),
            "mode": "interactive" if rng.random() < 0.3 else "background",
            "type": rng.choice(PLAN_TYPES), "phases": phases}


def plan_events(rng, plan, start_us):
    """Tool events of one plan from `start_us`; returns (events, end_us)."""
    events = []
    depth = max(p["round"] for p in plan["phases"])
    for p in plan["phases"]:
        t = start_us + (p["round"] - 1) * ROUND_SPAN_US + rng.randint(0, 999_999)
        events.append((p["phase"], "", "", "start", t))
        for _ in range(p["tools"]):
            t += rng.randint(1_000_000, 3_000_000)
            tool = rng.choice(TOOLS)
            f = f"src/mod{rng.randint(1, 40)}.py" if tool in FILE_TOOLS else ""
            events.append((p["phase"], tool, f, "tool", t))
        t += rng.randint(1_000_000, 3_000_000)
        events.append((p["phase"], "", "", "stop_" + p["outcome"], t))
    return events, start_us + depth * ROUND_SPAN_US


def generate(seed, passes, root):
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    rows = {"plans": [], "phases": [], "edges": [], "events": []}
    clock = EPOCH_US
    for k in range(passes):
        for j, (n, depth) in enumerate(rng.sample(SHAPES, len(SHAPES))):
            plan = make_plan(rng, f"plan-{seed}-{k:03d}-{j}", n, depth)
            pid = plan["id"]
            rows["plans"].append((k, pid, plan["project"]))
            for p in plan["phases"]:
                rows["phases"].append(
                    (pid, p["phase"], p["round"], p["outcome"], p["tools"]))
                rows["edges"].extend((pid, p["phase"], d) for d in p["deps"])
            events, clock = plan_events(rng, plan, clock)
            rows["events"].extend(
                (pid, ph, plan["project"], tool, f, kind, t)
                for ph, tool, f, kind, t in events)
            qdir = os.path.join(root, "queue", f"pass-{k}", plan["mode"])
            os.makedirs(qdir, exist_ok=True)
            created_s = EPOCH_US // 1_000_000 + k * 3600 + j * 60
            created = datetime.datetime.fromtimestamp(created_s, datetime.timezone.utc)
            doc = {
                "id": pid, "title": f"{plan['type']} work {pid}",
                "project": plan["project"],
                "projectPath": f"/work/{plan['project']}",
                "planType": plan["type"], "status": "queued",
                "executionMode": plan["mode"],
                "path": f"plans/{pid}.md",
                "createdAt": created.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "phases": len(plan["phases"]),
                "parallelGroups": max(p["round"] for p in plan["phases"]),
            }
            path = os.path.join(qdir, pid + ".json")
            with open(path, "w") as fh:
                fh.write(json.dumps(doc, sort_keys=True) + "\n")
            # the file source admits the oldest file first: make that the
            # plan whose events come first on the event-time axis
            os.utime(path, (created_s, created_s))
    for name, rs in rows.items():
        with open(os.path.join(root, name + ".tsv"), "w") as fh:
            fh.writelines("\t".join(str(x) for x in r) + "\n" for r in rs)
