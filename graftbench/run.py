#!/usr/bin/env python3
"""graftbench: runs one workload of the graft benchmark and prints its metrics.

    python3 graftbench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (see build.py), runs the workload in
one JVM with Spark local[N], checks every answer against the seeded model and
prints a report followed, as the last line, by one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they are
the per-layer metrics, taken from the traced cycles of the run.
With --digest it prints the digest of the workload's generated inputs instead.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cdc_merge", "sql_read", "dedup_batch")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit (Spark's JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "cpu_s_per_op": "s",
             "heap_mb": "MB", "cycle_p50_ms": "ms"}
LAYERS = ("table", "catalog", "ext", "spark", "driver")
IO_COUNTS = ("table.log_opens", "table.head_opens", "table.log_probes", "table.log_lists",
             "table.log_writes", "table.data_files_opened")
SPARK_COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_ms",
                "spark.gc_ms", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
                "spark.spill_bytes", "catalog.planning_jobs", "catalog.queries",
                "catalog.scan_nodes", "catalog.analysis_ms", "catalog.optimization_ms",
                "catalog.planning_ms")
PER_LAYER_UNITS = {
    **{n: "count" for n in IO_COUNTS},
    "table.commits": "count", "table.files_read_frac": "ratio",
    "table.bytes_read": "B", "table.bytes_written": "B", "table.call_ms": "ms",
    **{n: ("ms" if n.endswith("_ms") else "B" if n.endswith("_bytes") else "count")
       for n in SPARK_COUNTS},
    "spark.task_cpu_ms": "ms",
    "ext.lsh_ms": "ms", "ext.components_ms": "ms", "ext.candidate_pairs": "count",
    "ext.precision": "ratio",
    "driver.gap_ms": "ms", "driver.non_task_cpu_ms": "ms",
    **{f"self_ms.{layer}": "ms" for layer in LAYERS},
    "trace.overhead_frac": "ratio",
}


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def jvm_cmd(classes, jars, main_args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), *opens, f"-Xmx{JVM_HEAP}", "-Xss4m", "-XX:-UsePerfData",
            # C1 only: a fresh JVM per run reaches steady code after one cycle,
            # and no background C2 compilation lands in the measured window
            "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{jars}/*", "graftbench.Main", *main_args]


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(percentile, value) of the highest percentile with >= 10 samples beyond it."""
    best = None
    for p in (75, 90, 95, 99, 99.9):
        if len(xs) * (100 - p) / 100 >= 10:
            best = (p, statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1])
    return best


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by at least one interval."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(op, spans):
    """Self time per layer of one op: each instant goes to a running Spark
    job, else an open Catalyst phase, else the benchmark call it is inside,
    else the driver."""
    lo, hi = op["start"], op["start"] + op["wall_ms"]
    rank = {"spark": 3, "phase": 2, "call": 1}
    marks = []
    for s in spans:
        if s["layer"] == "op":
            continue
        kind = "spark" if s["layer"] == "spark" else \
            "phase" if s["name"] in ("analysis", "optimization", "planning") else "call"
        a, b = max(s["start"], lo), min(s["end"], hi)
        if b > a:
            marks.append((a, b, rank[kind], s["layer"]))
    cuts = sorted({lo, hi, *(m[0] for m in marks), *(m[1] for m in marks)})
    out = {layer: 0.0 for layer in LAYERS}
    for a, b in zip(cuts, cuts[1:]):
        live = [m for m in marks if m[0] <= a and m[1] >= b]
        layer = max(live, key=lambda m: m[2])[3] if live else "driver"
        out[layer] += b - a
    return out


# ---- metrics ---------------------------------------------------------------

def cycle_walls(ops):
    by = {}
    for o in ops:
        by.setdefault(o["cycle"], 0.0)
        by[o["cycle"]] += o["wall_ms"]
    return [by[c] for c in sorted(by)]


def end_to_end(rec, ops):
    walls = cycle_walls(ops)
    return {
        "setup_s": median(rec["setup_s"]),
        "ops_per_s": len(ops) / (sum(walls) / 1000.0),
        "cpu_s_per_op": sum(o["cpu_ms"] for o in ops) / 1000.0 / len(ops),
        "heap_mb": rec["heap_mb"],
        # a typical cycle: each op kind's own median, summed over the kinds
        "cycle_p50_ms": sum(median([o["wall_ms"] for o in ops if o["kind"] == k])
                            for k in rec["kinds"]),
    }


def per_op(ops, spans_by_op):
    """Per-layer values averaged over `ops` (all traced)."""
    n = len(ops)
    if n == 0:
        return {name: 0.0 for name in PER_LAYER_UNITS}

    def mean(f):
        return sum(f(o) for o in ops) / n

    m = {name: mean(lambda o, k=name: o["io"][k]) for name in IO_COUNTS}
    m["table.bytes_read"] = mean(lambda o: o["io"]["table.bytes_read"])
    m["table.bytes_written"] = mean(lambda o: o["io"]["table.bytes_written"])
    m["table.commits"] = mean(lambda o: o["commits"])
    live = sum(o["live_data_files"] for o in ops)
    m["table.files_read_frac"] = \
        sum(o["io"]["table.data_files_opened"] for o in ops) / live if live else 0.0
    m["table.call_ms"] = mean(lambda o: sum(v for k, v in o["calls"].items()
                                            if k.startswith("GraftTable.")))
    for name in SPARK_COUNTS:
        m[name] = mean(lambda o, k=name: o["trace"][k])
    m["spark.task_cpu_ms"] = mean(lambda o: o["trace"]["spark.task_cpu_ns"] / 1e6)
    m["ext.lsh_ms"] = mean(lambda o: o["calls"].get("TextOps.dedupMinhashLsh", 0.0))
    m["ext.components_ms"] = mean(lambda o: o["calls"].get("TextOps.connectedComponents", 0.0))
    m["ext.candidate_pairs"] = mean(lambda o: o["notes"].get("ext.candidate_pairs", 0.0))
    m["ext.precision"] = mean(lambda o: o["notes"].get("ext.precision", 0.0))
    m["driver.gap_ms"] = mean(lambda o: o["wall_ms"] - covered(
        [(s["start"], s["end"]) for s in spans_by_op.get(o["id"], []) if s["layer"] == "spark"],
        o["start"], o["start"] + o["wall_ms"]))
    m["driver.non_task_cpu_ms"] = mean(
        lambda o: o["cpu_ms"] - o["trace"]["spark.task_cpu_ns"] / 1e6)
    selfs = [self_times(o, spans_by_op.get(o["id"], [])) for o in ops]
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = sum(s[layer] for s in selfs) / n
    return m


def summarize(rec):
    ops = rec["ops"]
    measured = [o for o in ops if not o["warm"]]
    failed = [o for o in ops if not o["ok"]]
    checks = [(c["name"], c["ok"], c["detail"]) for c in rec["checks"]]

    # steadiness guards: every cycle ends in one shape, and each op kind is
    # always measured at one position in the cycle and one table state
    shapes = {json.dumps(s["shape"], sort_keys=True) for s in rec["shapes"]}
    checks.append(("every cycle ends in the same table shape", len(shapes) == 1,
                   "; ".join(sorted(shapes))))
    states = {}
    for o in measured:
        states.setdefault(o["kind"], set()).add((o["pos"], o["start_shape"]))
    mixed = sorted(k for k, v in states.items() if len(v) != 1)
    checks.append(("each op kind measured at one position and table state", not mixed,
                   "mixed: " + ", ".join(mixed) if mixed else f"{len(states)} kinds"))
    correct = not failed and all(ok for _, ok, _ in checks)

    spans_by_op = {}
    for s in rec["spans"]:
        spans_by_op.setdefault(s["op"], []).append(s)
    untraced = [o for o in measured if not o["traced"]]
    traced = [o for o in measured if o["traced"]]
    e2e = end_to_end(rec, untraced)
    layer = None
    if rec["trace"]:
        layer = per_op(traced, spans_by_op)
        t, u = median(cycle_walls(traced)), median(cycle_walls(untraced))
        layer["trace.overhead_frac"] = t / u - 1.0 if u else 0.0
    return dict(correct=correct, attempted=len(ops), failed=len(failed), checks=checks,
                e2e=e2e, layer=layer, measured=measured, traced=traced,
                spans_by_op=spans_by_op, failures=failed)


# ---- report ----------------------------------------------------------------

def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(rec, s, steal):
    out = []
    env = rec["env"]
    out.append(f"graftbench {rec['workload']}  seed={rec['seed']}  trace={int(rec['trace'])}")
    out.append(f"env: nproc={env['nproc']} master={env['spark_master']} "
               f"max_heap_mb={env['max_heap_mb']:.0f} java={env['java']} spark={env['spark']} "
               f"scala={env['scala']} steal_s={fmt(steal[0])} softirq_s={fmt(steal[1])}")
    out.append(f"inputs: sha256={rec['digest']} (all generated before the first timed op)")
    out.append(f"cycles: {rec['warm_cycles']} warm + {rec['measured_cycles']} measured, "
               f"closed loop, 1 client; ops attempted={s['attempted']} failed={s['failed']}")
    out.append("setup reps (s): " + ", ".join(f"{x:.3f}" for x in rec["setup_s"]))
    population = [o for o in s["measured"] if not o["traced"]]
    if population:
        out.append("end-to-end (untraced cycles):")
        for k, v in s["e2e"].items():
            out.append(f"  {k:<16} {fmt(v):>12} {E2E_UNITS[k]}")
        for kind in rec["kinds"]:
            xs = [o["wall_ms"] for o in population if o["kind"] == kind]
            t = tail(xs)
            ts = f"p{t[0]:g}={t[1]:.1f} ms" if t else "no percentile has 10 samples beyond it"
            out.append(f"  {kind + '_p50_ms':<16} {fmt(median(xs)):>12} ms  (n={len(xs)}; {ts})")
        for e in rec["extras"]:
            out.append(f"  {e['name']:<16} {fmt(e['value']):>12} {e['unit']}")
    if s["layer"] is not None:
        out.append(f"per-layer, per op ({len(s['traced'])} traced ops):")
        for k, v in s["layer"].items():
            out.append(f"  {k:<28} {fmt(v):>14} {PER_LAYER_UNITS[k]}")
        out.append("per-layer by op kind:")
        for kind in rec["kinds"]:
            ops = [o for o in s["traced"] if o["kind"] == kind]
            if ops:
                m = per_op(ops, s["spans_by_op"])
                out.append(f"  [{kind}] " + " ".join(
                    f"{k}={fmt(v)}" for k, v in m.items() if v))
        out.append("tracing overhead: trace.overhead_frac = traced / untraced cycle p50 - 1")
    out.append("checks:")
    for name, ok, detail in s["checks"]:
        out.append(f"  [{'ok' if ok else 'FAIL'}] {name}: {detail}")
    for o in s["failures"][:10]:
        out.append(f"  [FAIL] op {o['id']} {o['kind']} cycle {o['cycle']}: {o['error']}")
    return out


def steal_softirq(rec):
    a, b = rec["proc_stat"]["start"], rec["proc_stat"]["end"]
    if len(a) < 8 or len(b) < 8:
        return (0.0, 0.0)
    hz = os.sysconf("SC_CLK_TCK")
    return ((b[7] - a[7]) / hz, (b[6] - a[6]) / hz)


def main():
    ap = argparse.ArgumentParser(description="Run one graftbench workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--digest", action="store_true",
                    help="print the digest of the generated inputs and exit")
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    out_dir = build.build_dir()
    run_dir = out_dir / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "data"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    main_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    if a.digest:
        res = subprocess.run(jvm_cmd(classes, jars, main_args + ["--digest"], tmp),
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                             timeout=RUN_TIMEOUT_S)
        shutil.rmtree(run_dir, ignore_errors=True)
        if res.returncode != 0:
            fail("digest run failed")
        print(res.stdout.strip().splitlines()[-1])
        return

    result = run_dir / "result.json"
    log = run_dir / "jvm.log"
    main_args += ["--trace", str(a.trace), "--root", str(data), "--out", str(result)]
    t0 = time.time()
    with open(log, "w") as lf:
        try:
            res = subprocess.run(jvm_cmd(classes, jars, main_args, tmp), stdout=lf,
                                 stderr=subprocess.STDOUT, timeout=RUN_TIMEOUT_S)
            code = res.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not result.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"run failed ({code}) after {time.time() - t0:.0f} s; log in {log}")

    rec = json.loads(result.read_text())
    s = summarize(rec)
    for line in report(rec, s, steal_softirq(rec)):
        print(line)
    metrics = s["layer"] if a.trace else s["e2e"]
    units = PER_LAYER_UNITS if a.trace else E2E_UNITS
    print(json.dumps({
        "correct": s["correct"], "attempted": s["attempted"], "failed": s["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
