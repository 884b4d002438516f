"""The benchmark's arithmetic: percentiles, open-loop latency and lateness,
backlog and ladder rules, failure counting and span self time.

Everything here is a pure function of the raw result the JVM side writes,
so it is unit-tested on its own (see test_stats.py).
"""
import bisect
import math

# Candidate percentiles, highest first; one is reported only when at least
# MIN_BEYOND samples lie beyond it.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10
INF = float("inf")


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not xs:
        raise ValueError("percentile of an empty sample")
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def supported_percentile(n):
    """The highest candidate percentile with at least MIN_BEYOND of `n`
    samples beyond it, or None when even the median is not supported."""
    for p in PERCENTILES:
        if n * (1 - p / 100.0) >= MIN_BEYOND - 1e-9:
            return p
    return None


def summarize(xs):
    """Median plus the highest supported percentile, with the sample count."""
    p = supported_percentile(len(xs))
    return {
        "n": len(xs),
        "p50": percentile(xs, 50) if xs else None,
        "top_percentile": p,
        "top": percentile(xs, p) if p is not None else None,
    }


def request_latencies_ms(phase):
    """Latency of every request of an open-loop phase, from its due time.
    A request that failed, or was still unsent when the phase ended, counts
    as missing every limit (infinite latency)."""
    out = []
    for due, send, done, ok in zip(phase["due_ns"], phase["send_ns"],
                                   phase["done_ns"], phase["ok"]):
        out.append((done - due) / 1e6 if send >= 0 and ok else INF)
    return out


def lateness_ms(phase):
    """How late the generator sent each sent request, in ms."""
    return [(s - d) / 1e6 for d, s in zip(phase["due_ns"], phase["send_ns"]) if s >= 0]


def backlog(phase):
    """Requests due but not yet sent, at each request's due time. A request
    never sent stays in the backlog."""
    sent = sorted(s for s in phase["send_ns"] if s >= 0)
    return [i + 1 - bisect.bisect_right(sent, d) for i, d in enumerate(phase["due_ns"])]


def backlog_growing(phase, conns):
    """True when the phase ended with requests unsent, or when the largest
    backlog over the last quarter of the schedule exceeds both the
    connection count and the largest backlog over the first quarter."""
    if any(s < 0 for s in phase["send_ns"]):
        return True
    b = backlog(phase)
    q = max(1, len(b) // 4)
    return max(b[-q:]) > max(conns, max(b[:q]))


def achieved_rps(phase):
    """Successful responses per second, from the first due time to the last
    response."""
    done = [d for d, s, ok in zip(phase["done_ns"], phase["send_ns"], phase["ok"])
            if s >= 0 and ok]
    if not done:
        return 0.0
    return len(done) / ((max(done) - phase["due_ns"][0]) / 1e9)


def rung_passes(phase, p95_limit_ms, conns):
    """A ladder rung passes when its p95 latency (failures count as
    infinite) meets the limit and its backlog does not grow. The rung must
    be long enough for its p95 (see supported_percentile)."""
    lat = request_latencies_ms(phase)
    p = supported_percentile(len(lat))
    if p is None or p < 95:
        raise ValueError(f"a rung of {len(lat)} requests cannot support its p95")
    return percentile(lat, 95) <= p95_limit_ms and not backlog_growing(phase, conns)


def max_rps(rungs, p95_limit_ms, conns):
    """The achieved rate of the highest rung that passes (rungs are in
    ascending rate order), and the index of that rung. When no rung passes,
    the lowest rung's achieved rate with index -1."""
    best = None
    for i, r in enumerate(rungs):
        if rung_passes(r, p95_limit_ms, conns):
            best = i
    if best is None:
        return achieved_rps(rungs[0]), -1
    return achieved_rps(rungs[best]), best


def count_failures(phases):
    """(attempted, failed) over open-loop phases: a sent request is an
    attempt, and a failure when its response was not a valid result."""
    attempted = failed = 0
    for p in phases:
        for s, ok in zip(p["send_ns"], p["ok"]):
            if s >= 0:
                attempted += 1
                failed += 0 if ok else 1
    return attempted, failed


def self_times(spans):
    """Self time of each span in ns: its duration minus the part of its
    interval covered by its child spans (overlapping children counted
    once). `spans` are dicts with id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        ivs = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"]))
                     for c in children.get(s["id"], []))
        covered = 0
        cur_lo = cur_hi = None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out
