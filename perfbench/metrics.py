"""Statistics of the benchmark, kept free of I/O so they can be tested.

Every function here works on plain numbers or on the raw run record the
benchmark JVM writes (times in epoch nanoseconds)."""
import hashlib
import math
import statistics

# Candidate percentiles, lowest first.
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def tail_percentile(n):
    """Highest candidate percentile with at least ten samples beyond it.

    With nearest-rank percentiles the p-th percentile of n samples is the
    k-th smallest, k = ceil(p * n / 100); the samples beyond it are the
    n - k larger ones. Returns None when even the median has fewer than
    ten samples beyond it (n < 20)."""
    best = None
    for p in PERCENTILES:
        if n - math.ceil(p * n / 100) >= 10:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(p * len(s) / 100))
    return s[k - 1]


def median(values):
    return statistics.median(values) if values else None


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given; overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0
    cur_s = cur_e = None
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
    """Self time of every span: its duration minus the part of its
    interval that its children cover (overlapping children count once).
    `spans` are dicts with id, parent, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        covered = union_length(kids, s["start_ns"], s["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - covered
    return out


def canon(v):
    """One result cell as text: floats by repr, NaN spelled out."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def canonical_table(columns, rows):
    """Columns sorted by name, every row reordered to match and rendered
    cell by cell, then the rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], body


def digest(columns, rows):
    """Order-insensitive fingerprint of a result table."""
    cols, body = canonical_table(columns, rows)
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for row in body:
        h.update(b"\x00" + "\x1f".join(row).encode())
    return h.hexdigest()


def generator_lateness_ms(drops):
    """How late the open-loop generator released each drop: the time it
    moved the drop minus the time the drop was due, in ms (early moves,
    which cannot happen with a sleeping generator, count as 0)."""
    return [max(0, d["moved_ns"] - d["due_ns"]) / 1e6 for d in drops]


def batch_end_ns(progress):
    """End of a micro-batch from its progress report: trigger start plus
    the trigger's execution time (both in ms)."""
    return (progress["trigger_start_ms"]
            + progress["duration_ms"].get("triggerExecution", 0)) * 1000000


def paced_timings(drops, progress, landed):
    """For every paced drop that landed: latency from the time it was due
    to the end of the micro-batch that committed it, queue wait from due
    to that batch's trigger start (both ms), and the release and commit
    instants (ns). `progress` maps batch id to its progress report,
    `landed` drop number to batch id."""
    out = {"latency_ms": [], "wait_ms": [], "released_ns": [], "committed_ns": []}
    for d in drops:
        p = progress.get(landed.get(d["drop"]))
        if p is None:
            continue
        end = batch_end_ns(p)
        out["latency_ms"].append((end - d["due_ns"]) / 1e6)
        out["wait_ms"].append((p["trigger_start_ms"] * 1000000 - d["due_ns"]) / 1e6)
        out["released_ns"].append(d["moved_ns"])
        out["committed_ns"].append(end)
    return out


def max_backlog(released_ns, committed_ns):
    """Most drops released but not yet committed at any instant. A drop
    released at the instant another commits is counted after the
    commit."""
    events = [(t, -1) for t in committed_ns] + [(t, 1) for t in released_ns]
    depth = peak = 0
    for _, step in sorted(events):
        depth += step
        peak = max(peak, depth)
    return peak

