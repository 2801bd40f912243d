#!/usr/bin/env python3
"""Parent-against-change benchmark evidence in interleaved pairs.

    python3 tools/ab_pairs.py BASE CHANGE --scratch DIR --workload contract,volume --pairs 10
    python3 tools/ab_pairs.py --aa COMMIT --scratch DIR --workload volume --pairs 5

Both commits are unpacked with `git archive` into sibling directories `a`
and `b` under one scratch parent (--scratch), so the two checkouts sit at
paths of the same shape; `--aa` unpacks one commit into both. A checkout
whose `.rev` stamp already names the commit is reused, build included.

Each checkout makes one untimed priming run per workload (it builds the
engine and harness, writes the og10 corpus and the GREATEST tables, and
warms the page cache). Then `python3 perfbench/run.py` runs in N pairs per
workload, seeds seed0 .. seed0+N-1, the side that goes first alternating
from pair to pair, each run as long as BENCHMARK.json's `run_seconds`.
Every run's metrics go to `<scratch>/runs.jsonl`, which each invocation
starts afresh.

Per end-to-end metric of BENCHMARK.json the table gives both medians and
quartiles, the change's wins out of N pairs, the parent's IQR, whether the
median gap exceeds it, and whether the change stays within the metric's
bound. Quartiles are `statistics.quantiles(xs, n=4)` with its default
(exclusive) method, the spread the benchmark's own gain rule uses. It
reads perfbench/stats.py and BENCHMARK.json and changes neither.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import stats  # noqa: E402

SIDES = ("a", "b")


def quartiles(xs):
    """(q1, median, q3) of `xs`, exclusive method; a single sample is all three."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, stats.median(xs), q3


def summarize(runs, metrics):
    """One row per end-to-end metric from paired runs.

    `runs`: dicts with keys workload, pair, side ("a" = parent, "b" =
    change), ok and metrics ({name: value}). `metrics`: BENCHMARK.json's
    end_to_end list. Only pairs where both sides produced the metric
    count. Returns {workload: [row, ...]}."""
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        by_pair = {}
        for r in runs:
            if r["workload"] == w and r["ok"]:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r["metrics"]
        rows = []
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            pairs = [(p["a"][name], p["b"][name]) for _, p in sorted(by_pair.items())
                     if "a" in p and "b" in p
                     and p["a"].get(name) is not None and p["b"].get(name) is not None]
            if not pairs:
                rows.append({"metric": name, "n": 0})
                continue
            a = [x for x, _ in pairs]
            b = [y for _, y in pairs]
            qa, qb = quartiles(a), quartiles(b)
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            worse = (qb[1] - qa[1]) if lower else (qa[1] - qb[1])
            rel = worse / qa[1] if qa[1] else 0.0
            iqr = qa[2] - qa[0]
            rows.append({"metric": name, "unit": m["unit"], "n": len(pairs),
                         "a": qa, "b": qb, "wins": wins, "iqr_a": iqr,
                         "gap_gt_iqr": abs(qb[1] - qa[1]) > iqr,
                         "worse_rel": rel, "bound": m["bound"],
                         "within_bound": rel <= m["bound"]})
        out[w] = rows
    return out


def failures(runs):
    """{workload: {side: failed runs}} — runs that exited non-zero or
    reported a wrong answer."""
    out = {}
    for r in runs:
        d = out.setdefault(r["workload"], {s: 0 for s in SIDES})
        if not r["ok"]:
            d[r["side"]] += 1
    return out


def fmt(v):
    return f"{v:.4g}"


def table(summary, fails, labels):
    lines = []
    for w, rows in summary.items():
        f = fails.get(w, {})
        lines.append(f"\n{w}: a = {labels['a']}, b = {labels['b']}; "
                     f"failed runs a {f.get('a', 0)}, b {f.get('b', 0)}")
        lines.append("| metric | a median [q1, q3] | b median [q1, q3] | b better | "
                     "a IQR | gap > a IQR | b worse by | bound | within |")
        lines.append("|---|---|---|---|---|---|---|---|---|")
        for r in rows:
            if r["n"] == 0:
                lines.append(f"| {r['metric']} | – | – | 0/0 | – | – | – | – | – |")
                continue
            a, b = r["a"], r["b"]
            lines.append(
                f"| {r['metric']} ({r['unit']}) | {fmt(a[1])} [{fmt(a[0])}, {fmt(a[2])}] "
                f"| {fmt(b[1])} [{fmt(b[0])}, {fmt(b[2])}] | {r['wins']}/{r['n']} "
                f"| {fmt(r['iqr_a'])} | {'yes' if r['gap_gt_iqr'] else 'no'} "
                f"| {100 * r['worse_rel']:+.1f}% | {100 * r['bound']:.0f}% "
                f"| {'yes' if r['within_bound'] else 'NO'} |")
    return "\n".join(lines)


def unpack(rev, dst):
    """`git archive` of `rev` into `dst`, unless `dst` already holds it."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", rev + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dst, ".rev")
    if os.path.exists(stamp) and open(stamp).read().strip() == sha:
        return sha
    subprocess.run(["rm", "-rf", dst], check=True)
    os.makedirs(dst)
    arch = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dst], stdin=arch.stdout, check=True)
    if arch.wait() != 0:
        sys.exit(f"ab_pairs: git archive {rev} failed")
    with open(stamp, "w") as fh:
        fh.write(sha + "\n")
    return sha


def run_once(checkout, workload, seed, seconds):
    """One `perfbench/run.py` run: (ok, {metric: value})."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = (p.stdout.strip().splitlines() or ["{}"])[-1]
    try:
        res = json.loads(last)
    except ValueError:
        res = {}
    ok = p.returncode == 0 and res.get("correct") is True
    if not ok:
        sys.stderr.write(f"ab_pairs: {checkout} {workload} seed {seed} failed "
                         f"(exit {p.returncode}): {p.stderr.strip()[-300:]}\n")
    return ok, {k: v["value"] for k, v in res.get("metrics", {}).items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("revs", nargs="*", help="BASE CHANGE, or one COMMIT with --aa")
    ap.add_argument("--aa", action="store_true", help="run one commit against itself")
    ap.add_argument("--workload", default="contract,volume")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--scratch", required=True,
                    help="parent directory of the two checkouts and runs.jsonl")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    log = os.path.join(a.scratch, "runs.jsonl")
    if len(a.revs) != (1 if a.aa else 2):
        ap.error("give BASE CHANGE, or --aa COMMIT")
    revs = a.revs * 2 if a.aa else a.revs
    os.makedirs(a.scratch, exist_ok=True)
    dirs = {s: os.path.join(a.scratch, s) for s in SIDES}
    labels = {s: unpack(r, dirs[s])[:7] for s, r in zip(SIDES, revs)}
    workloads = a.workload.split(",")
    open(log, "w").close()
    runs = []
    for w in workloads:
        for s in SIDES:  # priming: build, inputs, page cache; not recorded
            print(f"[ab_pairs] priming {s} ({labels[s]}) {w}", file=sys.stderr)
            run_once(dirs[s], w, 0, seconds)
        for i in range(a.pairs):
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for s in order:
                ok, m = run_once(dirs[s], w, a.seed0 + i, seconds)
                r = {"workload": w, "pair": i, "seed": a.seed0 + i, "side": s,
                     "rev": labels[s], "ok": ok, "metrics": m}
                runs.append(r)
                with open(log, "a") as fh:
                    fh.write(json.dumps(r) + "\n")
                print(f"[ab_pairs] {w} pair {i} {s}: " +
                      " ".join(f"{k}={fmt(v)}" for k, v in m.items() if v is not None),
                      file=sys.stderr)
    print(table(summarize(runs, metrics), failures(runs), labels))


if __name__ == "__main__":
    main()
