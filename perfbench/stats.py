"""Pure helpers of the benchmark: percentiles, backlog detection, span
self time and the ingest checks. No I/O; covered by ``perfbench/tests``."""
import math
import re
import statistics

BEYOND = 10


def min_samples(p):
    """Samples needed before the ``p``-th percentile is reported: at least
    ``BEYOND`` samples must lie above it (40 for p75, 100 for p90)."""
    return math.ceil(BEYOND / (1 - p / 100.0) - 1e-9)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-14:
            break
    return h


def beta_cdf(x, a, b):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def percentile(values, p):
    """The ``p``-th percentile (0-100) of ``values``, Harrell-Davis
    estimate: a beta-weighted mean of all order statistics. It estimates
    the same quantile as picking one rank, but does not jump between the
    clusters that a mix of queries with different costs forms, so it
    varies less from run to run."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError(f"no samples for p{p}")
    a, b = p / 100.0 * (n + 1), (1 - p / 100.0) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def median(values):
    """The sample median: the middle value, or the mean of the two middle
    values. Used for small sets, such as a query's executions in a run."""
    if not values:
        raise ValueError("no samples for the median")
    return statistics.median(values)


def tail(values, p):
    """The ``p``-th percentile, refused (``ValueError``) when fewer than
    ``min_samples(p)`` samples support it."""
    if len(values) < min_samples(p):
        raise ValueError(f"{len(values)} samples, {min_samples(p)} needed for p{p}")
    return percentile(values, p)


def typical_pass(samples):
    """Wall time of a typical pass over a query list: the sum over queries
    of each query's median execution time. ``samples`` are
    ``(query, seconds)`` pairs. Less sensitive to one slow pass (a JIT
    compilation, a host hiccup) than the median of a handful of whole
    passes."""
    by_query = {}
    for q, t in samples:
        by_query.setdefault(q, []).append(t)
    return sum(median(ts) for ts in by_query.values())


def due(schedule, t):
    """Telegrams due by ``t`` seconds into an open-loop schedule of phases
    ``(start_s, rate, count)``."""
    return sum(min(count, math.floor((t - start) * rate) + 1)
               for start, rate, count in schedule if t >= start)


def backlog_series(commits, schedule):
    """Backlog after each committed micro-batch: telegrams due by the
    batch's end minus distinct telegrams committed. ``commits`` holds
    ``(seconds since the schedule started, committed so far)``."""
    return [(t, max(0.0, due(schedule, t) - done)) for t, done in commits if t >= 0]


def backlog_growing(series, rate, start_s, end_s, share=0.1):
    """True when the backlog grows between ``start_s`` and ``end_s``: the
    least-squares slope of backlog against time exceeds ``share`` of the
    offered rate. A stream that keeps up has a flat backlog (slope about 0)
    whatever its latency; one that falls behind gains backlog at
    (offered - served) rows/s."""
    pts = [(t, b) for t, b in series if start_s <= t <= end_s]
    if len(pts) < 3:
        return False
    mt = sum(t for t, _ in pts) / len(pts)
    mb = sum(b for _, b in pts) / len(pts)
    var = sum((t - mt) ** 2 for t, _ in pts)
    if var == 0:
        return False
    slope = sum((t - mt) * (b - mb) for t, b in pts) / var
    return slope > share * rate


def max_sustainable_rate(rungs):
    """Highest rate of a ladder climbed in order, ``rungs`` being
    ``(rate, sustained)`` pairs: the rate of the last rung before the first
    one that was not sustained (0 when the first fails)."""
    best = 0.0
    for rate, ok in rungs:
        if not ok:
            break
        best = rate
    return best


def _union_length(intervals):
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
    """Self time of every span: its duration minus the part of it covered
    by the union of its children's intervals (children clipped to the
    parent, overlapping children counted once). Open spans (no end) have
    no duration. Returns ``{id: seconds}``."""
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s.get("parent") in by_id:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s.get("end") is None or s.get("start") is None:
            continue
        st, en = s["start"], s["end"]
        clipped = [(max(st, c["start"]), min(en, c["end"])) for c in kids.get(s["id"], [])
                   if c.get("end") is not None and c.get("start") is not None]
        covered = _union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = max(0.0, (en - st) - covered)
    return out


def self_time_by_kind(spans):
    """Summed self time per span kind."""
    st = self_times(spans)
    acc = {}
    for s in spans:
        if s["id"] in st:
            acc[s["kind"]] = acc.get(s["kind"], 0.0) + st[s["id"]]
    return acc


_LINE = re.compile(r"^pm,kit=(\S+) pm25=([^ ]+) (\d+)$")


def parse_influx(line):
    """``pm,kit=<kit> pm25=<value> <epoch s>`` → ``((kit, ts), value)``,
    or ``None`` for a line of another shape."""
    m = _LINE.match(line.strip())
    if not m:
        return None
    return (m.group(1), int(m.group(3))), float(m.group(2))


def forward_check(expected, received_lines, tol=1e-9):
    """Exactly-once check of the forwarded stream: every expected key must
    arrive exactly once with its value, and nothing else may arrive.
    Returns ``(missing, duplicated, unexpected, wrong_value)`` counts."""
    seen = {}
    unexpected = wrong = 0
    for line in received_lines:
        if not line.strip():
            continue
        parsed = parse_influx(line)
        if parsed is None or parsed[0] not in expected:
            unexpected += 1
            continue
        key, value = parsed
        seen[key] = seen.get(key, 0) + 1
        if abs(value - expected[key]) > tol:
            wrong += 1
    missing = sum(1 for k in expected if k not in seen)
    duplicated = sum(n - 1 for n in seen.values() if n > 1)
    return missing, duplicated, unexpected, wrong


def archive_check(expected, rows, tol=1e-9):
    """The drained archive against the batch recomputation ``expected``
    (``{(kit, ts): pm25}``). ``rows`` are ``(kit, ts, value)`` tuples.
    Returns the number of keys that are missing, duplicated, unexpected
    or hold a wrong value."""
    seen = {}
    bad = 0
    for kit, ts, value in rows:
        key = (kit, int(ts))
        seen[key] = seen.get(key, 0) + 1
        if key not in expected or abs(value - expected[key]) > tol:
            bad += 1
    bad += sum(n - 1 for n in seen.values() if n > 1)
    bad += sum(1 for k in expected if k not in seen)
    return bad

