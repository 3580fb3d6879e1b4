"""Turns the harness's raw record into the benchmark's metrics.

Pure functions over plain data, so the rules (percentiles, span self
time, error counting, layer sums) are unit-tested in test_perfbench.py
without a JVM.
"""
import statistics

MB = float(1 << 20)
TAIL_PERCENTILES = (99, 95, 90, 80, 75)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100)
    return s[int(k) - 1]


def tail(xs, min_above=10):
    """The highest percentile in TAIL_PERCENTILES with at least
    `min_above` samples strictly above it, as (percentile, value); the
    median, as (50, value), when no tail percentile has enough."""
    for p in TAIL_PERCENTILES:
        if xs:
            v = percentile(xs, p)
            if sum(1 for x in xs if x > v) >= min_above:
                return p, v
    return 50, median(xs)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """Span duration minus the time its children cover (clipped to it)."""
    t0, t1 = span
    clipped = [(max(a, t0), min(b, t1)) for a, b in children]
    return (t1 - t0) - union_length([(a, b) for a, b in clipped if b > a])


def op_failed(op, expected_rows):
    """An operation fails when it raised, its own check failed, or (for a
    key) its row count differs from the recorded count or has none. A
    `<key>@<variant>` operation is checked against `<key>`'s count."""
    if not op["ok"]:
        return True
    if op["kind"] == "key":
        want = expected_rows.get(op["name"].split("@")[0])
        return want is None or op["rows"] != want
    return False


def error_rate(ops, expected_rows):
    if not ops:
        return 1.0
    return sum(op_failed(o, expected_rows) for o in ops) / len(ops)


def per_key_median(ops, kind="key"):
    by = {}
    for o in ops:
        if o["kind"] == kind:
            by.setdefault(o["name"], []).append(o["lat_s"])
    return {k: median(v) for k, v in by.items()}


# ---------------------------------------------------------------- tracing

def span_tree(spans, jobs):
    """Jobs become child spans of the innermost span open at their start.
    Returns (nodes by id, children ids by parent id); job nodes get ids
    after the recorded spans and layer 'exec.job'."""
    nodes = {s["id"]: dict(s) for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    nxt = max(nodes, default=-1) + 1
    for j in jobs:
        t0 = j["t0"]
        t1 = j["t1"] if j["t1"] >= 0 else t0
        inner = None
        for s in spans:
            if s["t0"] <= t0 <= s["t1"] and (inner is None or s["t0"] >= inner["t0"]):
                inner = s
        node = dict(j, id=nxt, parent=inner["id"] if inner else -1,
                    name=f"job{j['id']}", layer="exec.job", t0=t0, t1=t1)
        nodes[nxt] = node
        kids.setdefault(node["parent"], []).append(nxt)
        nxt += 1
    return nodes, kids


def descendants(nodes, kids, root):
    out, todo = [], list(kids.get(root, []))
    while todo:
        n = todo.pop()
        out.append(nodes[n])
        todo.extend(kids.get(n, []))
    return out


def jobs_under(nodes, kids, sid):
    return [n for n in descendants(nodes, kids, sid) if n["layer"] == "exec.job"]


def node_self_s(nodes, kids, sid):
    n = nodes[sid]
    return self_time((n["t0"], n["t1"]),
                     [(nodes[c]["t0"], nodes[c]["t1"]) for c in kids.get(sid, [])]) / 1e3


def trace_rows(nodes, kids):
    """Per-operation layer rows for the trace file."""
    rows = []
    for sid, n in nodes.items():
        if n["layer"] not in ("op", "freqstore"):
            continue
        sub = descendants(nodes, kids, sid)
        dur = lambda name: sum(d["t1"] - d["t0"] for d in sub if d["name"] == name) / 1e3
        rule_s = sum(d.get("rule_ms", 0.0) for d in sub if d["name"] == "builder") / 1e3
        js = [d for d in sub if d["layer"] == "exec.job"]
        builder_jobs = sum(len(jobs_under(nodes, kids, d["id"]))
                           for d in sub if d["name"] == "builder")
        rows.append({
            "op": n["name"], "wall_s": (n["t1"] - n["t0"]) / 1e3,
            "self_s": node_self_s(nodes, kids, sid),
            "build_s": dur("builder"), "analyze_s": rule_s,
            "optimize_s": dur("optimize"), "plan_s": dur("plan"),
            "exec_s": dur("execute"), "jobs": len(js),
            "builder_jobs": builder_jobs,
            "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "shuffle_write_mb": sum(j["sw_b"] for j in js) / MB,
        })
    return rows


def layer_metrics(raw, cpus):
    """The per-layer metrics of a traced run (0 where a layer is unused)."""
    tr = raw["traced"]
    nodes, kids = span_tree(tr["spans"], tr["jobs"])
    phase = next(n for n in nodes.values() if n["name"] == "phase")
    p0, p1 = phase["t0"], phase["t1"]
    in_phase = {n["id"] for n in descendants(nodes, kids, phase["id"])}
    # the operation layers sum over the traced phase only, not the probes
    byname = lambda pred: [n for n in nodes.values() if n["layer"] != "exec.job" and pred(n)]
    phase_sum_s = lambda name: sum(n["t1"] - n["t0"] for n in byname(
        lambda n: n["name"] == name and n["id"] in in_phase)) / 1e3
    sum_s = lambda name: sum(n["t1"] - n["t0"] for n in byname(lambda n: n["name"] == name)) / 1e3
    pjobs = [n for n in nodes.values() if n["layer"] == "exec.job" and p0 <= n["t0"] <= p1]
    wall_s = (p1 - p0) / 1e3
    busy = union_length([(max(j["t0"], p0), min(j["t1"], p1)) for j in pjobs
                         if min(j["t1"], p1) > max(j["t0"], p0)]) / 1e3
    task_run_s = sum(j["run_ms"] for j in pjobs) / 1e3
    m = {}
    # jobs launched while building count over every builder call of the
    # traced run, probes included: the gated keys' at-scale forms are where
    # builders run jobs
    builders = byname(lambda n: n["name"] == "builder")
    bjobs = {b["id"]: len(jobs_under(nodes, kids, b["id"])) for b in builders}
    keys_with_jobs = {nodes[b["parent"]]["name"] for b in builders if bjobs[b["id"]] > 0}
    m["builders.build_s"] = phase_sum_s("builder")
    m["builders.jobs"] = sum(bjobs.values())
    m["builders.keys_with_jobs"] = len(keys_with_jobs)
    # Spark analyses a Dataset as it is built: analysis is the Catalyst
    # rule time inside the builder calls (their spans' rule_ms), and is
    # part of builders.build_s too
    m["catalyst.analyze_s"] = sum(n.get("rule_ms", 0.0) for n in byname(
        lambda n: n["name"] == "builder" and n["id"] in in_phase)) / 1e3
    m["catalyst.optimize_s"] = phase_sum_s("optimize")
    m["catalyst.plan_s"] = phase_sum_s("plan")
    m["exec.exec_s"] = phase_sum_s("execute")
    m["exec.jobs"] = len(pjobs)
    m["exec.stages"] = sum(j["stages"] for j in pjobs)
    m["exec.tasks"] = sum(j["tasks"] for j in pjobs)
    m["exec.driver_gap_s"] = wall_s - busy
    m["exec.task_run_s"] = task_run_s
    m["exec.task_cpu_s"] = sum(j["cpu_ns"] for j in pjobs) / 1e9
    m["exec.slot_busy_frac"] = task_run_s / (wall_s * cpus) if wall_s > 0 else 0.0
    for name, key in (("input_mb", "in_b"), ("shuffle_read_mb", "sr_b"),
                      ("shuffle_write_mb", "sw_b"), ("spill_mb", "spill_b"),
                      ("output_mb", "out_b")):
        m[f"exec.{name}"] = sum(j[key] for j in pjobs) / MB

    sweep = byname(lambda n: n["name"] == "sweep")
    sjobs = [j for s in sweep for j in jobs_under(nodes, kids, s["id"])]
    m["sweep.s"] = sum_s("sweep")
    m["sweep.jobs"] = len(sjobs)
    m["sweep.stages"] = sum(j["stages"] for j in sjobs)

    commits = byname(lambda n: n["name"].startswith("commit:"))
    cjobs = [j for c in commits for j in jobs_under(nodes, kids, c["id"])]
    batch_mb = sum(raw.get("batch_bytes", [])) / MB
    m["freqstore.commit_jobs"] = len(cjobs)
    m["freqstore.commit_stages"] = sum(j["stages"] for j in cjobs)
    m["freqstore.commit_write_mb"] = sum(j["out_b"] for j in cjobs) / MB
    m["freqstore.write_amp"] = m["freqstore.commit_write_mb"] / batch_mb if batch_mb else 0.0
    points = [n for n in byname(lambda n: n["name"].startswith("point:"))]
    plan_ms = [sum(d.get("rule_ms", 0.0) if d["name"] == "builder" else d["t1"] - d["t0"]
                   for d in descendants(nodes, kids, p["id"])
                   if d["name"] in ("builder", "optimize", "plan")) for p in points]
    exec_ms = [sum(d["t1"] - d["t0"] for d in descendants(nodes, kids, p["id"])
                   if d["name"] == "execute") for p in points]
    pops = [o for o in tr["ops"] + raw.get("probe_ops", [])
            if o["kind"] == "point" and "files" in o]
    m["freqstore.lookup_plan_ms"] = median(plan_ms)
    m["freqstore.lookup_exec_ms"] = median(exec_ms)
    m["freqstore.lookup_files"] = median([o["files"] for o in pops])
    m["freqstore.lookup_file_frac"] = median(
        [o["files"] / o["live_files"] for o in pops if o["live_files"]])
    compact = byname(lambda n: n["name"] == "compact:compact")
    m["freqstore.compact_s"] = sum_s("compact:compact")
    m["freqstore.compact_rewrite_mb"] = sum(
        j["out_b"] for c in compact for j in jobs_under(nodes, kids, c["id"])) / MB

    for gate in ("multiSweep", "rankSelect"):
        for side in ("small", "at_scale"):
            m[f"gate.{gate}.{side}_s"] = sum_s(f"gate:{gate}:{side}:2")

    ann = raw.get("ann", {})
    m["ann.build_s"] = ann.get("build_s", 0.0)
    m["ann.query_s"] = ann.get("query_s", 0.0)
    m["ann.recall_at_5"] = ann.get("recall_at_5", 0.0)
    m["jvm.gc_s"] = raw.get("gc_s", 0.0)
    untraced = (median(raw["pass_s"]) + median(tr["untraced_after_pass_s"])) / 2
    m["trace.overhead_frac"] = median(tr["pass_s"]) / untraced - 1.0
    return m, trace_rows(nodes, kids)
