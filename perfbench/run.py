#!/usr/bin/env python3
"""graft benchmark: one closed-loop client drives the engine's contract
entries and GREATEST functions through a named workload.

    python3 perfbench/run.py --workload contract --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the engine from the
checkout's sources together with the harness (perfbench/build.sbt) and, for
og10, builds its corpus with tools/scale_up.py. The last line of stdout is
one JSON object: correct, attempted, failed and the metrics (end-to-end with
--trace 0, per-layer with --trace 1). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("contract", "volume")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# Timed passes a run makes at least, whatever --seconds says. op_tail_s is
# read from exactly these passes, so its sample count and percentile are
# the same in every run of a workload.
MIN_PASSES = {"contract": 3, "volume": 4}
# Timed passes of a traced run at least: untraced and traced alternate, so
# the traced passes 1 and 3 are compared with the untraced passes 2 and 4
# for the tracing overhead (pass 0 still carries JIT warm-up).
TRACE_PASSES = 5
# Ops whose samples stay out of the end-to-end metrics: the bimodal
# greatest_ref over 64 columns, which only traced runs make (Main.TracedOnly
# says why). Its answer is still checked, and its time is reported per
# layer (greatest.op_ns_per_row.greatest_ref_64).
E2E_EXCLUDED = {"greatest_ref_64"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last successful build."""
    stamp = os.path.join(work, "build.stamp")
    digest = sources_digest(root)
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    log = os.path.join(work, "build.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(),
               SBT_OPTS=os.environ.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=out,
                                stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                                env=env).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}", 3)
    if rc != 0:
        die(f"build failed (sbt exit {rc}), see {log}", 3)
    # the GREATEST tables and their answers come from the harness code
    shutil.rmtree(os.path.join(work, "greatest_volume"), ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def og10_corpus(root, work):
    """Ten organic copies of the committed sf0.01 tables, made by the
    repository's own tools/scale_up.py (deterministic; built once)."""
    dst = os.path.join(work, "og10")
    if os.path.exists(os.path.join(dst, ".complete")):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    rc = subprocess.run([sys.executable, os.path.join(root, "tools/scale_up.py"),
                         os.path.join(HERE, "data/sf0.01"), tmp, "10", "--organic"],
                        stdout=sys.stderr, timeout=300).returncode
    if rc != 0:
        die(f"og10 corpus generation failed (exit {rc})", 3)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, dst)
    return dst


def spark_home():
    """The Spark installation whose jars the engine compiles and runs
    against: SPARK_HOME, else the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("Spark not found: set SPARK_HOME", 3)
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def cpu_times():
    """The machine's aggregate CPU counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() readings: the host contention that makes runs noisy."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def run_jvm(classes, work, workload, seed, seconds, trace, data, gv, raw, spans):
    cp = os.pathsep.join([classes, os.path.join(spark_home(), "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--min-passes", str(max(MIN_PASSES[workload], TRACE_PASSES) if trace else MIN_PASSES[workload]),
              "--data", data, "--gv", gv,
              "--out", raw, "--spans", spans])
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"))
    log = os.path.join(work, f"{workload}-{seed}-{int(trace)}.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # also on SIGTERM (on_term): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if rc is None:
            die(f"run exceeded {JVM_TIMEOUT_S}s, see {log}", 4)
    if rc != 0 or not os.path.exists(raw):
        die(f"benchmark JVM failed (exit {rc}), see {log}", 4)
    with open(raw) as fh:
        return json.load(fh)


def expected_for(workload, raw):
    """Stored fingerprints of the contract entries, plus the ones the run
    computed itself with the independent GREATEST evaluator."""
    with open(os.path.join(HERE, "expected", f"{workload}.json")) as fh:
        expected = json.load(fh)
    expected.update(raw["checks"])
    return expected


def end_to_end(raw, acc, tail_acc, untraced):
    pass_s = stats.typical_pass(acc["by_op"])
    if pass_s is None:  # an op never succeeded; `correct` is already false
        pass_s = stats.median([p["s"] for p in untraced])
    tail, pct, n = stats.tail(tail_acc["latencies"])
    metrics = {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "op_p50_s": (stats.p50(acc["latencies"]), "s"),
        "op_tail_s": (tail, "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "rows_per_s": (stats.rows_per_s(acc["by_op"], op_rows(raw),
                                        [o for o in raw["greatest_ops"] if o not in E2E_EXCLUDED]), "1/s"),
    }
    info = {"op_tail_percentile": pct, "op_samples": n, "passes": len(untraced),
            "pass_wall_s": [p["s"] for p in untraced],
            "warmup_s": raw["warmup_s"], "e2e_excluded": sorted(E2E_EXCLUDED),
            "input_gen_s": raw["gen_s"], "checks_s": raw["checks_s"],
            "host_steal_frac": raw["host_steal_frac"]}
    return metrics, info


def op_rows(raw):
    """Result rows of each op, from its successful samples."""
    return {s["op"]: s["rows"] for s in raw["samples"] if s["status"] == "ok"}


PER_PASS_SUMS = [
    "engine.reclaim_s", "entry.build_s", "entry.statements",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.graft_rules_s", "plan.exchanges",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.task_wait_s", "exec.task_failures",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.disk_bytes", "spill.memory_bytes", "ckpt.count", "ckpt.mem_bytes",
    "broadcast.bytes", "scan.input_bytes", "scan.input_rows",
    "write.output_bytes", "write.output_rows", "write.files",
    "codegen.compilations", "codegen.compile_s",
]


def per_layer(raw, traced_passes):
    """Per-layer totals per traced pass, plus derived ratios."""
    n = max(1, len(traced_passes))
    tot = {}
    peak = 0.0
    for op, m in raw["op_layers"].items():
        if op == "unattributed":
            continue
        for k, v in m.items():
            if k == "exec.peak_exec_mem_bytes":
                peak = max(peak, v)
            else:
                tot[k] = tot.get(k, 0.0) + v
    out = {k: tot.get(k, 0.0) / n for k in PER_PASS_SUMS}
    out["engine.session_s"] = raw["session_s"]
    out["engine.prepare_s"] = raw["prepare_s"]
    out["exec.peak_exec_mem_bytes"] = peak
    cores = raw["cores"]
    out["exec.slot_busy_frac"] = (tot.get("exec.task_run_s", 0.0) / (tot["exec.job_s"] * cores)
                                  if tot.get("exec.job_s") else 0.0)
    out["scan.rows_per_output_row"] = (tot.get("scan.input_rows", 0.0) / tot["op.rows_out"]
                                       if tot.get("op.rows_out") else 0.0)
    inv = tot.get("catalyst.graft_rules_invocations", 0.0)
    out["catalyst.graft_rules_effective_ratio"] = (
        tot.get("catalyst.graft_rules_effective", 0.0) / inv if inv else 0.0)
    unattributed = raw["op_layers"].get("unattributed", {})
    return out, {"unattributed_jobs": unattributed.get("exec.jobs", 0.0),
                 "slot_busy_base": f"task_run_s / (job_s x {cores} cores)"}


def greatest_breakdown(samples, greatest_ops):
    """Per GREATEST op: median time / rows; per arity: (op time - scan-only
    control time) / rows. Medians of the timed samples after the first
    pass."""
    med = {}
    for s in samples:
        if s["pass"] > 0 and s["status"] == "ok" and s["op"] in greatest_ops:
            med.setdefault(s["op"], []).append(s["reclaim"] + s["prepare"] + s["build"] + s["action"])
    med = {k: stats.median(v) for k, v in med.items()}
    rows = {s["op"]: s["rows"] for s in samples if s["status"] == "ok"}
    out = {f"greatest.op_ns_per_row.{op}": t / rows[op] * 1e9
           for op, t in med.items() if op != "runner_run"}
    for op, ctl in (("spark_greatest_8", "scan_8"), ("greatest_ref_8", "scan_8"),
                    ("greatest_ref_64", "scan_64"), ("greatest_ref_128", "scan_128")):
        if op in med and ctl in med and rows.get(op):
            out[f"greatest.expr_ns_per_row.{op}"] = (med[op] - med[ctl]) / rows[op] * 1e9
    if "runner_run" in med:
        out["runner.run_s"] = med["runner_run"]
    return out


def on_term(signum, frame):
    """Turn SIGTERM into an exception in the main thread, so that the child
    process being waited for (sbt, scale_up.py or the JVM) is killed and
    reaped on the way out."""
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write this run's warm-up fingerprints as the expected answers")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        die("run from the repository root: src/main/scala/graft not found")
    if a.workload == "volume" and not os.path.isfile(os.path.join(root, "tools/scale_up.py")):
        die("tools/scale_up.py not found")
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classes = build(root, work)
    if a.workload == "contract":
        data = os.path.join(HERE, "data/sf0.01")
    else:
        data = og10_corpus(root, work)
    gv = os.path.join(work, "greatest_volume")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    raw_path = os.path.join(out_dir, f"raw-{tag}.json")
    spans_path = os.path.join(out_dir, f"spans-{tag}.jsonl")
    for p in (raw_path, spans_path):
        if os.path.exists(p):
            os.remove(p)
    cpu0 = cpu_times()
    raw = run_jvm(classes, work, a.workload, a.seed, a.seconds, a.trace, data, gv, raw_path, spans_path)
    raw["host_steal_frac"] = steal_frac(cpu0, cpu_times())

    samples = raw["samples"]
    warm = [s for s in samples if s["pass"] < 0]
    timed = [s for s in samples if s["pass"] >= 0]
    if a.record:
        path = os.path.join(HERE, "expected", f"{a.workload}.json")
        fps = {s["op"]: s["fp"] for s in warm if s["status"] == "ok" and s["op"] not in raw["checks"]}
        with open(path, "w") as fh:
            json.dump(fps, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"recorded {len(fps)} fingerprints to {path}", file=sys.stderr)
    expected = expected_for(a.workload, raw)
    warm_acc = stats.account(warm, expected)
    untimed_fail = warm_acc["failed"]
    untraced_samples = [s for s in timed if not s["traced"]]
    acc = stats.account(untraced_samples, expected)
    e2e_samples = [s for s in untraced_samples if s["op"] not in E2E_EXCLUDED]
    e2e_acc = stats.account(e2e_samples, expected)
    tail_acc = stats.account([s for s in e2e_samples if s["pass"] < MIN_PASSES[a.workload]],
                             expected)
    traced_acc = stats.account([s for s in timed if s["traced"]], expected)
    untraced = [p for p in raw["passes"] if not p["traced"]]
    traced = [p for p in raw["passes"] if p["traced"]]
    correct = untimed_fail == 0 and acc["failed"] == 0 and traced_acc["failed"] == 0
    for s in samples:
        v = stats.verdict(s, expected)
        if v != "ok":
            print(f"FAILED {s['op']} pass {s['pass']}: {v} {s['fp'][:200]}")

    e2e, info = end_to_end(raw, e2e_acc, tail_acc, untraced)
    info["failed_frac"] = acc["failed"] / max(1, acc["attempted"])
    info["failed_by_reason"] = acc["by_reason"]
    for k, (v, unit) in e2e.items():
        print(f"{k} = {v:.6g} {unit}")
    print(f"op_tail_s is p{info['op_tail_percentile']:.1f} of the {info['op_samples']} untraced op samples "
          f"of the first {MIN_PASSES[a.workload]} passes; "
          f"failed_frac = {info['failed_frac']:.4g} ({acc['failed']}/{acc['attempted']})")
    print("info " + json.dumps(info, sort_keys=True))

    if a.trace:
        layers, notes = per_layer(raw, traced)
        layers.update(greatest_breakdown(samples, set(raw["gv_ops"])))
        layers.update(raw["report"])
        tr = stats.median([p["s"] for p in traced])
        # pass 0 still carries JIT warm-up; it is untraced, so leaving it
        # out keeps the overhead from reading low
        un = stats.median([p["s"] for p in untraced if p["pass"] > 0])
        layers["trace.overhead_frac"] = tr / un - 1.0
        spans = stats.adopt_orphans([json.loads(l) for l in open(spans_path)])
        with open(spans_path, "w") as fh:
            for s in spans:
                fh.write(json.dumps(s) + "\n")
        selft = stats.self_times(spans)
        report = {"layers": layers, "self_time_s_per_pass": {k: v / max(1, len(traced)) for k, v in selft.items()},
                  "notes": notes, "traced_pass_s": tr, "untraced_pass_s": un}
        with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"tracing overhead: traced pass {tr:.4f} s vs untraced {un:.4f} s "
              f"({100 * layers['trace.overhead_frac']:+.1f}%)")
        print(f"spans: {spans_path}")
        print("self_time_s_per_pass " + json.dumps(report["self_time_s_per_pass"], sort_keys=True))
        print("layers " + json.dumps(layers, sort_keys=True))
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            names = [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in names}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    attempted = acc["attempted"] + traced_acc["attempted"]
    failed = acc["failed"] + traced_acc["failed"]
    for m in metrics.values():  # no latency sample at all: JSON has no NaN
        if m["value"] != m["value"]:
            m["value"] = None
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
