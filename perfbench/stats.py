"""The benchmark's arithmetic: percentiles, span self time, and the
event_stream latency and correctness definitions. Pure functions over plain
Python/numpy data, so tests can pin them on hand-built inputs."""
import numpy as np

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10
# window end times are exact to the microsecond, watermarks to the millisecond
SLACK_US = 1000


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    if len(values) == 0:
        raise ValueError("percentile of no samples")
    v = np.sort(np.asarray(values, dtype=float))
    i = int(np.ceil(p / 100.0 * len(v) - 1e-9)) - 1
    return float(v[min(max(i, 0), len(v) - 1)])


def tail_percentile(n):
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND of `n`
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            return p
    return None


def tail(values):
    """(percentile, value) of the tail: the highest ladder percentile with
    at least ten samples beyond it, or ("max", maximum) with fewer than 20
    samples."""
    p = tail_percentile(len(values))
    if p is None:
        return ("max", float(np.max(values)))
    return (p, percentile(values, p))


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other or stick out of the parent."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def tumbling_expected(user, ts_us, created, size_us):
    """{(user, window start µs): (count, last creation, window end µs)} of
    tumbling windows."""
    start = (np.asarray(ts_us) // size_us) * size_us
    out = {}
    for u, w, c in zip(np.asarray(user).tolist(), start.tolist(), np.asarray(created).tolist()):
        n, last, _ = out.get((u, w), (0, c, 0))
        out[(u, w)] = (n + 1, max(last, c), w + size_us)
    return out


def sessions_expected(user, ts_us, created, gap_us):
    """{(user, session start µs): (count, last creation, session end µs)}: a
    session breaks where the next event of its user comes more than `gap_us`
    after the previous one (Spark merges a session whose start touches the
    previous one's end); it ends `gap_us` after its last event."""
    user, ts_us, created = (np.asarray(x) for x in (user, ts_us, created))
    order = np.lexsort((ts_us, user))
    out = {}
    cur = None
    for i in order.tolist():
        u, t, c = int(user[i]), int(ts_us[i]), int(created[i])
        if cur is None or cur[0] != u or t - cur[3] > gap_us:
            if cur is not None:
                out[(cur[0], cur[1])] = (cur[2], cur[4], cur[3] + gap_us)
            cur = [u, t, 0, t, c]
        cur[2] += 1
        cur[3] = t
        cur[4] = max(cur[4], c)
    if cur is not None:
        out[(cur[0], cur[1])] = (cur[2], cur[4], cur[3] + gap_us)
    return out


def check_windows(expected, emitted, closed_before_us):
    """Compare emitted window rows with the batch recomputation.

    `expected` maps (user, start) → (count, last creation, end µs);
    `emitted` is a list of (user, start, count). Windows that ended at least
    SLACK_US before the final watermark must be emitted exactly once with
    their exact count; windows ending within the slack of it may or may not
    be. Returns (checked, failures: list of str)."""
    failures = []
    seen = {}
    for u, w, n in emitted:
        seen[(u, w)] = seen.get((u, w), 0) + 1
        exp = expected.get((u, w))
        if exp is None:
            failures.append(f"unexpected window {(u, w)} n={n}")
        elif exp[0] != n:
            failures.append(f"window {(u, w)}: n={n} expected {exp[0]}")
        elif exp[2] > closed_before_us + SLACK_US:
            failures.append(f"window {(u, w)} emitted before the watermark passed it")
    failures += [f"window {k} emitted {c} times" for k, c in seen.items() if c > 1]
    for k, (n, _, end) in expected.items():
        if end <= closed_before_us - SLACK_US and k not in seen:
            failures.append(f"window {k} (n={n}) never emitted")
    checked = len(set(seen) | {k for k, v in expected.items()
                               if v[2] <= closed_before_us - SLACK_US})
    return checked, failures


def watermark_complete(final_wm_us, max_ts_us, delay_us):
    """Whether a query's final watermark reached the largest event time it
    was fed minus the watermark delay, so that every window the drain
    should have closed is required to be emitted."""
    return final_wm_us >= max_ts_us - delay_us - SLACK_US


def emission_latencies(expected, emitted_seen):
    """Latency of each emitted row: the time the sink saw it minus the
    creation time of the last event that contributed to it. `emitted_seen`
    is a list of (user, start, seen) in the creation clock's units."""
    return [seen - expected[(u, w)][1] for u, w, seen in emitted_seen
            if (u, w) in expected]


def processing_rate(ticks, progress, query, t0_ms, t1_ms):
    """Events per second a streaming query got through in [t0_ms, t1_ms]
    (epoch ms): its cumulative processed events, a step at each batch
    completion, interpolated linearly between completions and read at both
    ends. Its source rows are the generator's chunks, so a batch's input
    rows count chunks; `ticks` lists (send time, lateness, events) per chunk
    in send order. None unless completions bracket both ends."""
    done, pts = 0, []
    for p in sorted((p for p in progress if p["query"] == query),
                    key=lambda p: p["ts_ms"] + p["trigger_ms"]):
        done += p["input_rows"]
        pts.append((p["ts_ms"] + p["trigger_ms"], sum(n for _, _, n in ticks[:done])))
    if not pts or pts[0][0] > t0_ms or pts[-1][0] < t1_ms or t1_ms <= t0_ms:
        return None
    xs, ys = zip(*pts)
    f0, f1 = np.interp([t0_ms, t1_ms], xs, ys)
    return (f1 - f0) / ((t1_ms - t0_ms) / 1000.0)


def events_processed(ticks, progress, query, until_ms):
    """Events a streaming query finished by `until_ms` (epoch ms)."""
    done = sum(p["input_rows"] for p in progress
               if p["query"] == query and p["ts_ms"] + p["trigger_ms"] <= until_ms)
    return int(sum(n for _, _, n in ticks[:done]))


def median(values):
    return float(np.median(np.asarray(values, dtype=float)))
