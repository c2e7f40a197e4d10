"""Statistics shared by run.py, ab.py and the benchmark's tests."""
import numpy as np

# A percentile is only reported when at least this many samples lie beyond it.
TAIL_SAMPLES = 10
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]; NaN for no samples."""
    return float(np.percentile(xs, 100 * q)) if len(xs) else float("nan")


def median(xs):
    return quantile(xs, 0.5)


def mean(xs):
    return sum(xs) / len(xs) if xs else float("nan")


def supported_percentile(n):
    """The highest percentile with at least TAIL_SAMPLES samples beyond it,
    or None when even the median is not supported."""
    for p in PERCENTILES:
        if n * (1000 - round(p * 10)) >= TAIL_SAMPLES * 1000:  # exact, in tenths of a percent
            return p
    return None


def describe(xs, wanted=None):
    """Median plus a tail percentile, with n. The tail is `wanted` when given
    (flagged `supported` or not), else the highest supported percentile."""
    n = len(xs)
    top = supported_percentile(n)
    p = wanted if wanted is not None else top
    return {
        "n": n,
        "p50": median(xs),
        "tail_pct": p,
        "tail": quantile(xs, p / 100.0) if p is not None and n else float("nan"),
        "supported_pct": top,
        "tail_supported": p is not None and top is not None and p <= top,
    }


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Self time of each span: its length minus the union of its direct
    children's intervals (clipped to the span). `spans` are dicts with id,
    parent, start and end; returns {id: self seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        kids = clip(children.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two x values."""
    n = len(points)
    if n < 2:
        return 0.0
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


# A step keeps up when its backlog grows by less than this share of its rate.
FLAT_SHARE = 0.25
MIN_BACKLOG_POINTS = 2


def step_sustained(rate, backlog, latencies, budget_s, capacity=None):
    """One ladder step. `backlog` is [(t, rows)] sampled during the step,
    `latencies` the event-to-result latencies of results whose last event
    came due in the step, `capacity` (the top step only) the events per
    second the engine took in from the step's start on. Sustained when the
    p99 latency is within the budget and the step kept up: a capacity of at
    least the rate, or else a flat backlog (its fitted growth under
    FLAT_SHARE of the rate). A step without enough evidence is not
    sustained."""
    if not latencies or quantile(latencies, 0.99) > budget_s:
        return False
    if capacity is not None:
        return capacity >= rate
    return len(backlog) >= MIN_BACKLOG_POINTS and slope(backlog) < FLAT_SHARE * rate


def sustained_rate(steps, budget_s):
    """Highest rate r such that every ladder step at or below r is sustained.
    `steps` are dicts with rate, backlog, latencies and, optionally,
    capacity. Returns 0.0 when the lowest step already falls behind."""
    best = 0.0
    for st in sorted(steps, key=lambda s: s["rate"]):
        if not step_sustained(st["rate"], st["backlog"], st["latencies"], budget_s,
                              st.get("capacity")):
            break
        best = st["rate"]
    return best

