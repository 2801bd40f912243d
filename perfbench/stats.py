"""Pure logic of the benchmark: sample accounting, percentiles, answer checks
and the per-layer table. No I/O, so it is unit-tested on its own
(test_stats.py)."""
import math
import statistics

MIN_BEYOND = 10  # the tail is the highest percentile with this many samples above it


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def p50(xs):
    """Harrell-Davis estimate of the median of `xs` (nan if empty): less
    jumpy than the middle order statistic when ops of different cost
    meet there, for the same reason as in `tail`."""
    return harrell_davis(sorted(xs), 0.5) if xs else float("nan")


def tail(xs):
    """The highest percentile of `xs` that has at least MIN_BEYOND samples
    above it, estimated with the Harrell-Davis quantile estimator. Returns
    (value, percentile, sample count). With too few samples for any such
    percentile the maximum is returned as the 100th.

    The percentile is that of the order statistic with MIN_BEYOND samples
    above it, k/n; its value is the Harrell-Davis weighted mean of all the
    order statistics, whose weights concentrate around rank k. A single
    order statistic of a few dozen samples of mixed ops jumps whenever one
    op's sample crosses another's; the weighted mean moves smoothly."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    if n <= MIN_BEYOND:
        return s[-1], 100.0, n
    p = (n - MIN_BEYOND) / n
    return harrell_davis(s, p), 100.0 * p, n


def harrell_davis(s, p):
    """Harrell-Davis estimate of quantile `p` of the sorted samples `s`:
    sum of s[i] weighted by the Beta((n+1)p, (n+1)(1-p)) mass on
    [i/n, (i+1)/n]."""
    n = len(s)
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(a * math.log(x) + b * math.log1p(-x)
                     - (math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b))) / a
    tiny = 1e-300
    f = c = 1.0
    d = 1.0 - (a + b) * x / (a + 1)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    f = d
    for m in range(1, 500):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            f *= c * d
        if abs(c * d - 1.0) < 1e-15:
            break
    return front * f


def verdict(sample, expected):
    """'ok', or why the sample counts as failed: 'error', 'timeout', or
    'wrong' when its fingerprint differs from the expected one. An op with
    no expected fingerprint cannot pass."""
    if sample["status"] != "ok":
        return sample["status"]
    want = expected.get(sample["op"])
    if want is None or sample["fp"] != want:
        return "wrong"
    return "ok"


def account(samples, expected):
    """Split samples into latency samples and failures.

    A failed op (error, timeout or wrong answer) is counted in `failed` and
    never contributes a latency: a fast failure must not read as a fast op.
    Returns dict with attempted, failed, by_reason, latencies and by_op
    (op -> its latencies)."""
    attempted = failed = 0
    by_reason = {}
    latencies = []
    by_op = {}
    for s in samples:
        v = verdict(s, expected)
        attempted += 1
        by_op.setdefault(s["op"], [])
        if v == "ok":
            t = s["reclaim"] + s["prepare"] + s["build"] + s["action"]
            latencies.append(t)
            by_op[s["op"]].append(t)
        else:
            failed += 1
            by_reason[v] = by_reason.get(v, 0) + 1
    return {"attempted": attempted, "failed": failed, "by_reason": by_reason,
            "latencies": latencies, "by_op": by_op}


def typical_pass(by_op):
    """Time of a typical pass: the sum over ops of each op's median latency.
    With few passes per run this is steadier than the median pass wall time,
    which it estimates. None if some op never succeeded, since leaving the
    op out would make the pass look faster."""
    if not by_op or any(not v for v in by_op.values()):
        return None
    return sum(median(v) for v in by_op.values())


def rows_per_s(by_op, rows, ops):
    """GREATEST throughput: the rows the GREATEST ops `ops` return (one per
    evaluation) over the sum of their median latencies. None if one of them
    never succeeded."""
    if any(not by_op.get(op) for op in ops):
        return None
    return sum(rows[op] for op in ops) / sum(median(by_op[op]) for op in ops)


def self_times(spans):
    """Self time per span name: a span's duration minus the part of it that
    its children cover. Spans are dicts with id, parent, name, start_ms,
    end_ms; children's intervals are merged before subtracting."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start_ms"]), min(b, s["end_ms"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        key = s["name"].split(" ")[0]
        out[key] = out.get(key, 0.0) + (s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def adopt_orphans(spans):
    """Give each span recorded by a listener (parent -1) the client span of
    the same op that contains its start: reclaim, prepare, build or action.
    A span that no client span contains is parented to its op span."""
    client = [s for s in spans if s["name"] in ("reclaim", "prepare", "build", "action")]
    by_op = {}
    for s in client:
        by_op.setdefault(s["op"], []).append(s)
    op_span = {s["op"]: s["id"] for s in spans if s["parent"] == 0}
    for s in spans:
        if s["parent"] != -1:
            continue
        s["parent"] = op_span.get(s["op"], 0)
        for c in by_op.get(s["op"], []):
            if c["start_ms"] <= s["start_ms"] <= c["end_ms"]:
                s["parent"] = c["id"]
                break
    return spans
