"""The benchmark's arithmetic, kept free of I/O so that test_stats.py can check
it on synthetic inputs: percentiles, interval unions, span self time, driver
gap, open-loop latency and the failure ratio."""
import math
import statistics

# Percentiles a tail may be reported at, lowest first.
LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)
# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def rank(p, n):
    """1-based nearest rank of percentile p among n samples (the epsilon keeps
    p * n that is whole in decimal, like 99.9% of 10000, from rounding up)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if not values:
        return None
    return sorted(values)[rank(p, len(values)) - 1]


def tail_percentile(n):
    """The highest percentile of LADDER that leaves at least MIN_BEYOND of n
    samples beyond its nearest rank, or None when not even the median does."""
    best = None
    for p in LADDER:
        if n - rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def tail(values):
    """(percentile, value) of the highest supported tail, or (None, None)."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, None)


def median(values):
    return statistics.median(values) if values else None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
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
    """Per span id: its duration minus the part of its interval that its
    children cover. Spans are dicts with id, parent, start_ms, end_ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"])
            - union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def layer_self_ms(spans):
    """Self time summed per layer."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] not covered by any Spark job."""
    return (end - start) - union_length(job_intervals, start, end)


def attribute(ops, jobs):
    """Assigns each job to the op whose [start, end] holds the job's start.
    Ops run one at a time, so the interval decides; the job group cannot,
    because broadcast exchanges overwrite it. Returns {op index: [jobs]}."""
    out = {}
    order = sorted(range(len(ops)), key=lambda i: ops[i]["start_ms"])
    for j in jobs:
        for i in order:
            if ops[i]["start_ms"] <= j["start_ms"] <= ops[i]["end_ms"]:
                out.setdefault(i, []).append(j)
                break
    return out


def due_ms(index, rate):
    """Open-loop schedule: event `index` is due index/rate seconds after t0."""
    return index * 1000.0 / rate


def alert_latencies(alerts, last_index, rate, closed_by_s):
    """Latency of each alert whose window the real events close, measured
    from the due time of the last event that contributed to it (the last
    event of the alert's service in [window_start, window_end)) to its
    arrival at the sink, whenever it arrives. Which alerts count is decided
    by event time, not by arrival: an alert counts when its window ends at or
    before closed_by_s, the last real event's watermark, so a slow alert is
    a large sample, never a dropped one. Later windows close only at the
    flush and are not samples. The send time is not used, so a generator
    running late cannot hide a stall.

    alerts: (arrival_ms, id, service, type, window_start, window_end)
    last_index: {(service, epoch_second): last event index in that second}
    Returns (latencies, number of alerts closed only by the flush)."""
    out, flush_only = [], 0
    for arrival, _id, svc, _type, ws, we in alerts:
        if we > closed_by_s:
            flush_only += 1
            continue
        idx = [last_index[(svc, s)] for s in range(ws, we) if (svc, s) in last_index]
        if idx:
            out.append(arrival - due_ms(max(idx), rate))
    return out, flush_only


def lateness(sends, rate):
    """How late the generator sent each event: send time minus due time.
    sends: (first index, count, send ms after t0)."""
    return [ms - due_ms(i, rate) for first, n, ms in sends for i in range(int(first), int(first + n))]


def fail_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0
