#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <surface|store_serve> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (build.py), generates the input tables
(gendata.py), runs the JVM harness (src/graft/perfbench/Harness.scala) for
one workload, checks every output, and prints one `name value unit` line
per metric followed, as the last line, by one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.

Everything the run leaves is under `.bench_build/` in the checkout: the
compiled classes, the generated tables, `results/<run>.json` (all metrics
plus the run's stamp) and, on traced runs, `results/<run>.trace.json`
(per-operation layer rows). Each run gets its own directory under
`.bench_build/runs/`, with the program's `spark.graft.scratchDir`,
`java.io.tmpdir`, `spark.local.dir` and warehouse inside it; the bytes the
program left there are reported as `scratch_left_mb`, then it is deleted.

`--record-expected` re-records `expected_counts.json`, the per-key row
counts the key workloads are checked against.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(HERE, "expected_counts.json")
HARNESS_TIMEOUT_S = 170
# the per-run directories the harness points the program at
PROGRAM_DIRS = ("graft-scratch", "tmp", "spark-local", "warehouse")

# workload -> scale factor of its tables
WORKLOADS = {"surface": "0.001", "store_serve": "0.001"}
# size gate -> (the table whose bytes it reads, its session conf)
GATES = {"multiSweep": ("orders", "spark.graft.multiSweep.minInputBytes"),
         "rankSelect": ("events", "spark.graft.rankSelect.minInputBytes")}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_ms", "ms"),
              ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("builders.build_s", "s"), ("builders.jobs", "count"),
    ("builders.keys_with_jobs", "count"),
    ("catalyst.analyze_s", "s"), ("catalyst.optimize_s", "s"),
    ("catalyst.plan_s", "s"),
    ("exec.exec_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.driver_gap_s", "s"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.slot_busy_frac", "frac"), ("exec.input_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.output_mb", "MB"),
    ("sweep.s", "s"), ("sweep.jobs", "count"), ("sweep.stages", "count"),
    ("freqstore.commit_jobs", "count"), ("freqstore.commit_stages", "count"),
    ("freqstore.commit_write_mb", "MB"), ("freqstore.write_amp", "ratio"),
    ("freqstore.lookup_plan_ms", "ms"), ("freqstore.lookup_exec_ms", "ms"),
    ("freqstore.lookup_files", "count"), ("freqstore.lookup_file_frac", "frac"),
    ("freqstore.compact_s", "s"), ("freqstore.compact_rewrite_mb", "MB"),
    ("ann.build_s", "s"), ("ann.query_s", "s"), ("ann.recall_at_5", "frac"),
    ("gate.multiSweep.small_s", "s"), ("gate.multiSweep.at_scale_s", "s"),
    ("gate.rankSelect.small_s", "s"), ("gate.rankSelect.at_scale_s", "s"),
    ("jvm.gc_s", "s"), ("trace.overhead_frac", "frac"),
]
ANN_RECALL_FLOOR = 0.5

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def xmx_mb():
    return 1536


def dataset(sf):
    """Generate the tables for a scale factor once per checkout."""
    path = os.path.join(BUILD, "data", f"sf{sf}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        import gendata
        log(f"generating tables at sf{sf}")
        shutil.rmtree(path, ignore_errors=True)
        gendata.main(path, sf)
    return path


def stat_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def cpu_ticks():
    """The machine's CPU time counters from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(t0, t1):
    """The share of the machine's CPU time the hypervisor gave to others
    between two `cpu_ticks` readings (the 8th counter is steal)."""
    if not t0 or not t1 or len(t0) < 8 or len(t1) < 8:
        return None
    total = sum(t1) - sum(t0)
    return (t1[7] - t0[7]) / total if total > 0 else None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(classes, workload, seed, seconds, trace, data, run_dir):
    raw_path = os.path.join(run_dir, "raw.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{xmx_mb()}m", f"-Xmx{xmx_mb()}m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-cp", build.classpath(classes),
              "graft.perfbench.Harness", workload, str(seed), str(seconds),
              str(trace), data, run_dir, str(cpus()), raw_path])
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=run_dir)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"harness exited with {code}:\n{tail}")
    with open(raw_path) as f:
        return json.load(f)


def load_expected():
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            return json.load(f)
    return {}


def gate_record(raw, data):
    """Per gated table: its bytes by file stat and by `Tables.inputBytes`,
    and which side of its gate the workload's data falls on. The surface's
    `@at_scale` operations take the other side by pinning the gate to 0."""
    g = raw["gates"]
    out = {}
    for gate, (table, conf) in GATES.items():
        fs = stat_bytes(os.path.join(data, f"{table}.parquet"))
        prog = g[f"{table}_input_bytes"]
        out[table] = {"stat_bytes": fs, "input_bytes": prog, "agree": fs == prog}
        out[gate] = {"table": table, "threshold_bytes": g[conf],
                     "side": "at_scale" if prog >= g[conf] else "small"}
    return out


def summarize(raw, trace, expected):
    ops = raw["ops"] + (raw["traced"]["ops"] + raw["gate_ops"] + raw.get("probe_ops", [])
                        if trace else [])
    keyops = [o for o in raw["ops"] if o["kind"] == "key"]
    attempted = len(ops)
    failed = sum(M.op_failed(o, expected) for o in ops)
    e2e = {
        "setup_s": M.median(raw["setup_s"]),
        "wall_s": M.median(raw["pass_s"]),
        "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0,
        "error_rate": failed / attempted if attempted else 1.0,
    }
    extra_units = {"error_rate": "frac"}
    if keyops:
        per_key = M.per_key_median(keyops)
        lat = list(per_key.values())
        e2e["op_p50_ms"] = M.median(lat) * 1e3
        e2e["key_p50_s"] = M.median(lat)
        e2e["key_samples"] = len(keyops)
        extra_units["key_samples"] = "count"
        p, v = M.tail([o["lat_s"] for o in keyops])
        if p > 50:
            e2e[f"key_p{p}_s"] = v
            extra_units[f"key_p{p}_s"] = "s"
        fams = raw["families"]
        e2e["varda_s"] = sum(t for k, t in per_key.items() if fams.get(k) == "varda")
        extra_units.update({"key_p50_s": "s", "varda_s": "s"})
        e2e["llm_s"] = sum(t for k, t in per_key.items() if fams.get(k) == "llm")
        extra_units["llm_s"] = "s"
    else:
        pts = [o["lat_s"] * 1e3 for o in raw["ops"] if o["kind"] == "point"]
        rng = [o["lat_s"] * 1e3 for o in raw["ops"] if o["kind"] == "range"]
        e2e["op_p50_ms"] = M.median(pts)
        e2e["lookup_p50_ms"] = M.median(pts)
        e2e["lookup_samples"] = len(pts)
        extra_units["lookup_samples"] = "count"
        p, v = M.tail(pts)
        if p > 50:
            e2e[f"lookup_p{p}_ms"] = v
            extra_units[f"lookup_p{p}_ms"] = "ms"
        e2e["range_p50_ms"] = M.median(rng)
        e2e["commit_s"] = sum(o["lat_s"] for o in raw["ops"] if o["kind"] == "commit")
        e2e["store_amp"] = raw["store_bytes"] / sum(raw["batch_bytes"])
        e2e["denom_zero_for_null_rows"] = sum(o.get("denom_zero_for_null", 0)
                                              for o in raw["ops"])
        extra_units["denom_zero_for_null_rows"] = "count"
        extra_units.update({"lookup_p50_ms": "ms", "range_p50_ms": "ms",
                            "commit_s": "s", "store_amp": "ratio"})
    checks = {"ops_ok": failed == 0}
    layers, rows = (None, None)
    if trace:
        layers, rows = M.layer_metrics(raw, cpus())
        checks["sweep_ok"] = raw["sweep_check"]["ok"]
        if "ann" in raw:
            checks["ann_recall_ok"] = raw["ann"]["recall_at_5"] >= ANN_RECALL_FLOOR
    return e2e, extra_units, layers, rows, checks, attempted, failed


def bench(args):
    try:
        classes, digest = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    sf = WORKLOADS[args.workload]
    data = dataset(sf)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load0, ticks0 = os.getloadavg(), cpu_ticks()
    try:
        raw = run_harness(classes, args.workload, args.seed, args.seconds,
                          args.trace, data, run_dir)
    except RuntimeError as e:
        log(str(e))
        return 1
    finally:
        # what the program itself left in its scratch, temp and Spark dirs
        scratch_left = sum(stat_bytes(os.path.join(run_dir, d)) for d in PROGRAM_DIRS
                           if os.path.exists(os.path.join(run_dir, d)))
        shutil.rmtree(run_dir, ignore_errors=True)
    expected = load_expected().get(f"sf{sf}", {})
    e2e, units, layers, rows, checks, attempted, failed = summarize(
        raw, args.trace, expected)
    gates = gate_record(raw, data)
    checks["gate_bytes_agree"] = all(gates[t]["agree"] for t, _ in GATES.values())
    correct = all(checks.values())
    units.update(dict(END_TO_END))
    e2e["scratch_left_mb"] = scratch_left / M.MB
    units["scratch_left_mb"] = "MB"
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "git_commit": git_commit(),
        "source_digest": digest, "nproc": os.cpu_count(),
        "master": raw["env"]["master"], "xmx_mb": xmx_mb(),
        "loadavg_start": list(load0), "loadavg_end": list(os.getloadavg()),
        "cpu_steal_frac": steal_frac(ticks0, cpu_ticks()),
        "jvm_loadavg": [raw["env"]["loadavg_start"], raw["env"]["loadavg_end"]],
        "sf": sf,
        "input_bytes": {t: stat_bytes(os.path.join(data, f"{t}.parquet"))
                        for t in ("region", "nation", "customer", "supplier", "part",
                                  "orders", "lineitem", "events", "documents",
                                  "embeddings")},
        "gates": gates, "setup_reps_s": raw["setup_s"],
        "timed_gc_s": raw["gc_s"], "timed_jit_s": raw["jit_s"],
        "timed_classes_loaded": raw["classes_loaded"],
        "pass_s": raw["pass_s"],
    }
    failures = [dict(o) for o in raw["ops"] if M.op_failed(o, expected)]
    per_op = {f"{kind}:{k}": v for kind in ("key", "commit", "compact")
              for k, v in M.per_key_median(raw["ops"], kind).items()}
    result = {"stamp": stamp, "checks": checks, "correct": correct,
              "attempted": attempted, "failed": failed,
              "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
              "per_op_median_s": per_op, "failures": failures[:20],
              "ops": raw["ops"]}
    if layers is not None:
        result["per_layer"] = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
        result["ann"] = raw.get("ann")
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    base = os.path.join(BUILD, "results", f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(base + ".json", "w") as f:
        json.dump(result, f, indent=1)
    if rows is not None:
        with open(base + ".trace.json", "w") as f:
            json.dump({"stamp": stamp, "ops": rows}, f, indent=1)
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {units[k]}")
    if layers is not None:
        for k, u in PER_LAYER:
            print(f"{k} {layers[k]:.6g} {u}")
    if not correct:
        log(f"checks: {checks}; first failures: {failures[:3]}")
    shown = ({k: {"value": layers[k], "unit": u} for k, u in PER_LAYER} if args.trace
             else {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END})
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0 if correct else 4


def record_expected():
    """Run the surface once, traced so the gate probes run too, and store
    its per-key row counts."""
    classes, _ = build.build()
    sf = WORKLOADS["surface"]
    run_dir = os.path.join(BUILD, "runs", "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw = run_harness(classes, "surface", 0, 0, 1, dataset(sf), run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    counts = {}
    for o in raw["ops"] + raw["gate_ops"]:
        if not o["ok"]:
            raise RuntimeError(f"{o['name']} failed: {o['err']}")
        key = o["name"].split("@")[0]
        if counts.setdefault(key, o["rows"]) != o["rows"]:
            raise RuntimeError(f"{o['name']} disagrees with {key}: {o['rows']} rows")
    with open(EXPECTED, "w") as f:
        json.dump({f"sf{sf}": counts}, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()
    if args.record_expected:
        record_expected()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
