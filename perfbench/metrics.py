"""Metrics from the harness's spans: end-to-end ones from the timed passes,
per-layer ones from a traced run's job, stage, plan and stream-batch spans.
README.md defines each metric."""
import json
import math
import statistics
from collections import defaultdict

CORES = 4
WRITES = ("insert", "update", "delete", "merge", "stream")
READS = ("scan", "agg", "point", "travel")
VERBS = WRITES[:4] + ("optimize", "vacuum") + READS
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_s.geomean", "s")]
PER_LAYER = (
    [("operators.build_s", "s"), ("operators.build_jobs", "count"),
     ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
     ("plan.planning_s", "s"),
     ("exec.s", "s"), ("exec.jobs", "count"), ("exec.tasks", "count"),
     ("exec.task_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.core_busy", "ratio"), ("exec.shuffle_write_mb", "MB"),
     ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
     ("exec.input_mb", "MB"), ("exec.failed_tasks", "count"),
     ("driver.only_s", "s")]
    + [(f"sql.{v}_s", "s") for v in VERBS]
    + [("sources.jobs_per_commit", "count"), ("sources.files_per_commit", "count"),
       ("sources.write_amp", "ratio"), ("sources.files_live", "count"),
       ("sources.manifest_kb", "KB"), ("sources.space_amp", "ratio"),
       ("stream.append_s", "s"), ("stream.batch_s", "s"),
       ("stream.lifecycle_s", "s"),
       ("jvm.gc_s", "s"), ("jvm.heap_after_gc_peak_mb", "MB"),
       ("contract.count_s", "s"), ("contract.full_s", "s"),
       ("scale.small_pass_s", "s"), ("scale.fixed_s", "s"),
       ("setup.cold_s", "s"), ("warmup_s", "s"),
       ("trace.pass_s", "s"), ("trace.overhead_s", "s")])


def load_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def dur(s):
    return (s["end_ms"] - s["start_ms"]) / 1e3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile that leaves at least ten samples above it:
    (value, percentile, samples); None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10
    return sorted(xs)[k - 1], round(100.0 * k / n, 1), n


def union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


class Tree:
    def __init__(self, spans):
        self.spans = spans
        self.kids = defaultdict(list)
        for s in spans:
            self.kids[s["parent"]].append(s)

    def below(self, s, kind=None):
        out, todo = [], list(self.kids[s["id"]])
        while todo:
            c = todo.pop()
            if kind is None or c["kind"] == kind:
                out.append(c)
            todo += self.kids[c["id"]]
        return out

    def kind(self, kind):
        return [s for s in self.spans if s["kind"] == kind]


def _op_layers(tree, op):
    """Layer split of one operation: its jobs, their stages, plan phases."""
    jobs = tree.below(op, "job")
    stages = [st for j in jobs for st in tree.below(j, "stage")]
    iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    ex = union_s(iv)
    return {"jobs": jobs, "stages": stages, "exec_s": ex,
            "driver_s": dur(op) - ex, "plans": tree.below(op, "plan"),
            "build": [b for b in tree.kids[op["id"]] if b["kind"] == "build"]}


def compute(workload, spans, verdict, trace, scale_ratio):
    tree = Tree(spans)
    passes = tree.kind("pass")
    ops = [o for p in passes for o in tree.kids[p["id"]] if o["kind"] == "op"]
    op_s = [dur(o) for o in ops]
    setups = tree.kind("setup")
    is_table = workload == "table_sql"

    # correctness: an operation fails if it raised or its output was wrong
    if is_table:
        bad = {seq for seq, p in verdict["problems"].items() if p}
        wrong = [o for o in ops if "error" in o["attrs"] or o["attrs"].get("seq") in bad]
        failed = len(wrong) + (1 if verdict["final"] else 0)
        attempted = len(ops) + 1
        named = sorted({o["name"] for o in wrong}) + (["final_table"] if verdict["final"] else [])
        problems = [p for p in verdict["problems"].values() if p] + \
            ([verdict["final"]] if verdict["final"] else [])
    else:
        # a result the warm-up failed to write is missing from the check
        bad = {q for q, p in verdict["problems"].items() if p} | {
            c["name"].removesuffix(".again") for c in tree.kind("check")
            if "error" in c["attrs"]}
        wrong = [o for o in ops if "error" in o["attrs"] or o["name"] in bad]
        failed, attempted = len(wrong), len(ops)
        named = sorted({o["name"] for o in wrong} | bad)
        problems = [f"{q}: {p}" for q, p in sorted(verdict["problems"].items()) if p]
    correct = failed == 0
    errors = sorted({f'{o["name"]}: {o["attrs"]["error"]}'
                     for o in ops + tree.kind("check") if "error" in o["attrs"]})

    by_op = defaultdict(list)
    for o in ops:
        by_op[o["name"]].append(dur(o))
    op_medians = [median(xs) for xs in by_op.values()]
    e2e = {"setup_s": median([s["attrs"]["setup_s"] for s in setups]),
           "pass_s": median([dur(p) for p in passes]),
           # every distinct operation weighs the same, however long it runs
           "op_s.geomean": math.exp(sum(math.log(x) for x in op_medians)
                                    / len(op_medians)) if op_medians else 0.0}
    report = {"workload": workload, "trace": trace, "passes": len(passes),
              "operations": len(ops), "attempted": attempted, "failed": failed,
              "failed_frac": failed / attempted, "failing": named,
              "problems": problems[:20], "errors": errors[:20],
              "end_to_end": dict(e2e),
              "setup_each_s": [s["attrs"]["setup_s"] for s in setups]}
    t = tail(op_s)
    report["end_to_end"]["op_s.p50"] = median(op_s)
    report["end_to_end"]["op_s.tail"] = t
    if is_table:
        for group, verbs in (("commit_s", WRITES), ("read_s", READS)):
            xs = [dur(o) for o in ops if o["name"] in verbs]
            report["end_to_end"][f"{group}.p50"] = median(xs)
            report["end_to_end"][f"{group}.tail"] = tail(xs)
        lay = verdict["layout"]
        report["end_to_end"]["space_amp"] = lay["table_bytes"] / max(1, lay["live_bytes"])
    else:
        report["end_to_end"]["query_s.p50"] = median(op_s)
        report["end_to_end"]["query_s.tail"] = t
        report["checks"] = verdict["notes"]

    metrics = {}
    if not trace:
        for name, unit in END_TO_END:
            metrics[name] = {"value": e2e[name], "unit": unit}
    else:
        layer = per_layer(workload, tree, passes, ops, verdict, scale_ratio)
        report["per_layer"] = layer["metrics"]
        report["per_operation"] = layer["rows"]
        for name, unit in PER_LAYER:
            metrics[name] = {"value": layer["metrics"][name], "unit": unit}
    return {"result": {"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics},
            "report": report}


def per_layer(workload, tree, passes, ops, verdict, scale_ratio):
    n = max(1, len(passes))
    m = {name: 0.0 for name, _ in PER_LAYER}
    layers = {o["id"]: _op_layers(tree, o) for o in ops}
    for o in ops:
        L = layers[o["id"]]
        if workload != "table_sql":
            m["operators.build_s"] += sum(dur(b) for b in L["build"]) / n
            m["operators.build_jobs"] += sum(len(tree.below(b, "job")) for b in L["build"]) / n
        for p in L["plans"]:
            key = f"plan.{p['name']}_s"
            if key in m:
                m[key] += dur(p) / n
        m["exec.s"] += L["exec_s"] / n
        m["driver.only_s"] += L["driver_s"] / n
        m["exec.jobs"] += len(L["jobs"]) / n
        for st in L["stages"]:
            a = st["attrs"]
            m["exec.tasks"] += a["tasks"] / n
            m["exec.failed_tasks"] += a["failed_tasks"] / n
            m["exec.task_s"] += a["task_ms"] / 1e3 / n
            m["exec.task_cpu_s"] += a["cpu_ms"] / 1e3 / n
            m["exec.gc_s"] += a["gc_ms"] / 1e3 / n
            m["exec.shuffle_write_mb"] += a["shuffle_write_b"] / 1048576 / n
            m["exec.shuffle_read_mb"] += a["shuffle_read_b"] / 1048576 / n
            m["exec.spill_mb"] += a["spill_b"] / 1048576 / n
            m["exec.input_mb"] += a["input_b"] / 1048576 / n
    wall = sum(dur(p) for p in passes)
    m["exec.core_busy"] = m["exec.task_s"] * n / (wall * CORES) if wall else 0.0
    m["jvm.gc_s"] = sum(p["attrs"].get("gc_ms", 0) for p in passes) / 1e3 / n
    m["jvm.heap_after_gc_peak_mb"] = max(
        [p["attrs"].get("heap_after_gc_mb", 0.0) for p in passes] or [0.0])
    m["trace.pass_s"] = median([dur(p) for p in passes])
    untraced, retraced = tree.kind("pass_untraced"), tree.kind("pass_retraced")
    if untraced and retraced:
        m["trace.overhead_s"] = dur(retraced[0]) - dur(untraced[0])
    setups = tree.kind("setup")
    if setups:
        m["setup.cold_s"] = min(setups, key=lambda s: s["start_ms"])["attrs"]["setup_s"]
    m["warmup_s"] = sum(dur(w) for w in tree.kind("warmup"))

    rows = defaultdict(lambda: defaultdict(list))
    for o in ops:
        L = layers[o["id"]]
        r = rows[o["name"]]
        r["full_s"].append(dur(o))
        r["build_s"].append(sum(dur(b) for b in L["build"]))
        r["plan_s"].append(sum(dur(p) for p in L["plans"]))
        r["exec_s"].append(L["exec_s"])
        r["driver_only_s"].append(L["driver_s"])
        r["jobs"].append(len(L["jobs"]))
        r["tasks"].append(sum(st["attrs"]["tasks"] for st in L["stages"]))
        r["task_s"].append(sum(st["attrs"]["task_ms"] for st in L["stages"]) / 1e3)
        r["shuffle_write_mb"].append(
            sum(st["attrs"]["shuffle_write_b"] for st in L["stages"]) / 1048576)
    table = {name: {k: median(v) for k, v in r.items()} for name, r in rows.items()}

    if workload == "table_sql":
        by_verb = defaultdict(list)
        for o in ops:
            by_verb[o["name"]].append(dur(o))
        for f in tree.kind("finish"):
            for o in tree.kids[f["id"]]:
                if o["kind"] == "op":
                    by_verb[o["name"]].append(dur(o))
        for v in VERBS:
            m[f"sql.{v}_s"] = median(by_verb[v])
        writes = [o for o in ops if o["name"] in WRITES]
        m["sources.jobs_per_commit"] = (
            sum(len(layers[o["id"]]["jobs"]) for o in writes) / max(1, len(writes)))
        timed = {o["attrs"].get("seq") for o in writes}
        log = [e for e in verdict["log"] if e.get("seq") in timed]
        m["sources.files_per_commit"] = (
            sum(e["files_added"] for e in log) / max(1, len(log)))
        lay = verdict["layout"]
        row_bytes = lay["live_bytes"] / max(1, verdict["live_rows"])
        changed = sum(verdict["changed"].get(e["seq"], 0) for e in log)
        m["sources.write_amp"] = (sum(e["bytes_added"] for e in log)
                                  / max(1.0, changed * row_bytes))
        m["sources.files_live"] = lay["live_files"]
        m["sources.manifest_kb"] = lay["manifest_bytes"] / 1024
        m["sources.space_amp"] = lay["table_bytes"] / max(1, lay["live_bytes"])
        streams = [o for o in ops if o["name"] == "stream"]
        m["stream.append_s"] = median([dur(o) for o in streams])
        m["stream.batch_s"] = median(
            [dur(b) for o in streams for b in tree.below(o, "batch")])
        m["stream.lifecycle_s"] = m["stream.append_s"] - m["stream.batch_s"]
    else:
        counts = {c["name"]: dur(c) for c in tree.kind("count")}
        small = defaultdict(list)
        for p in tree.kind("pass_small"):
            for o in tree.kids[p["id"]]:
                if o["kind"] == "op":
                    small[o["name"]].append(dur(o))
        m["contract.count_s"] = sum(counts.get(name, 0.0) for name in table)
        m["contract.full_s"] = sum(r["full_s"] for r in table.values())
        for c in tree.kind("contract"):
            for o in tree.kids[c["id"]]:
                if o["kind"] == "op":
                    r = table.setdefault(o["name"], {"traced_once": True})
                    if c["name"] == "small":
                        small[o["name"]].append(dur(o))
                    else:
                        L = _op_layers(tree, o)
                        r.update(full_s=dur(o), exec_s=L["exec_s"],
                                 driver_only_s=L["driver_s"], jobs=len(L["jobs"]))
        for name, r in table.items():
            r["count_s"] = counts.get(name, 0.0)
            r["small_s"] = median(small[name])
        sp = tree.kind("pass_small")
        if sp:
            m["scale.small_pass_s"] = dur(sp[0])
            m["scale.fixed_s"] = m["scale.small_pass_s"] - (
                m["trace.pass_s"] - m["scale.small_pass_s"]) / (scale_ratio - 1)
    return {"metrics": m, "rows": table}


def print_report(workload, r):
    """Human-readable summary (the last stdout line stays the JSON)."""
    print(f"== perfbench {workload}: {r['passes']} passes, "
          f"{r['operations']} operations, trace={int(r['trace'])}")
    print(f"   output check: {'PASS' if not r['failed'] else 'FAIL'}  "
          f"failed_frac {r['failed_frac']:.4f} ({r['failed']}/{r['attempted']})"
          + (f"  failing: {', '.join(r['failing'])}" if r["failing"] else ""))
    for p in r["problems"] + r["errors"]:
        print(f"   ! {p}")
    for name, v in r["end_to_end"].items():
        if v is None:
            print(f"   {name:<22} n/a (fewer than 11 samples)")
        elif isinstance(v, (list, tuple)):
            print(f"   {name:<22} {v[0]:.4f} s  (p{v[1]}, {v[2]} samples)")
        else:
            unit = "ratio" if name == "space_amp" else "s"
            print(f"   {name:<22} {v:.4f} {unit}")
    print(f"   {'failed_frac':<22} {r['failed_frac']:.4f} ratio")
    for name, v in r.get("per_layer", {}).items():
        print(f"   {name:<28} {v:.4f}")
