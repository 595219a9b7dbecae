"""Pure statistics for the benchmark: medians, quartile spread, the tail
percentile rule, self time of nested spans and ratios with their base.
No I/O; unit-tested in tests/test_stats.py."""
import math
import statistics

# a tail percentile is reported only when at least this many samples lie
# beyond it; otherwise it is one or two samples wearing a percentile's name
MIN_SAMPLES_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartile_spread(values):
    """(q3 - q1) / median, with the quartiles of statistics.quantiles(n=4)."""
    if len(values) < 2:
        raise ValueError("a spread needs at least two samples")
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = median(values)
    if m == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(m)


def samples_needed(p):
    """Samples a run needs before percentile p (0 < p < 1) has
    MIN_SAMPLES_BEYOND samples above it."""
    if not 0 < p < 1:
        raise ValueError("p must lie strictly between 0 and 1")
    return math.ceil(MIN_SAMPLES_BEYOND / (1 - p) - 1e-9)


def tail_percentile(values, p):
    """The p-th percentile (nearest rank), or None when fewer than
    MIN_SAMPLES_BEYOND samples lie beyond it."""
    if len(values) < samples_needed(p):
        return None
    s = sorted(values)
    rank = math.ceil(p * len(s))
    return s[max(rank, 1) - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """{span id: duration minus the time its children cover}. Children may
    overlap each other (the overlap counts once) and are clipped to the
    parent's interval."""
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in by_id.items():
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(sid, [])]
        out[sid] = (s["end"] - s["start"]) - union_length(clipped)
    return out


def unattributed(spans, root_id):
    """Time inside the root span that no child span covers."""
    return self_times(spans)[root_id]


def ratio(num, den):
    """A ratio always travels with its base: {'value', 'num', 'den'}.
    The value is 0 when the base is 0 (nothing to take a share of)."""
    return {"value": (num / den) if den else 0.0, "num": num, "den": den}


def split_step(start_ms, verb_ends, jobs):
    """Split one step that runs several verbs in sequence between them.
    `verb_ends` is [(verb, end_ms)] in run order; a verb spans from the
    previous verb's end (the step's start for the first) to its own. A job
    belongs to the first verb that had not ended when it started; a job
    that started after every end belongs to the last verb. Returns
    {verb: {"wall_s": seconds, "jobs": [job, ...]}} in run order."""
    out, prev = {}, start_ms
    for verb, end in verb_ends:
        out[verb] = {"wall_s": max(0.0, (end - prev) / 1e3), "jobs": []}
        prev = max(prev, end)
    names = [v for v, _ in verb_ends]
    for job in jobs:
        i = next((k for k, (_, end) in enumerate(verb_ends) if job["start_ms"] <= end),
                 len(names) - 1)
        out[names[i]]["jobs"].append(job)
    return out
