"""Pure benchmark math: percentiles, freshness attribution, span self time
and driver gap. No I/O, so `test_metrics.py` can check it on synthetic
inputs."""
import math
import statistics

# Percentiles the tail may be reported at; the highest one with at least
# MIN_BEYOND samples above it is used, so runs with similar sample counts
# report the same percentile.
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values):
    """(percentile used, value) for the highest grid percentile with at
    least MIN_BEYOND samples beyond it; (None, None) if even p50 has fewer."""
    n = len(values)
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p, percentile(values, p)
    return None, None


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def attribute_files(file_names, file_rows, batch_files):
    """Assign each file to the micro-batch that read it and total each
    batch's rows from the actual per-file row counts (files differ in size,
    and the stream's own input-row counter also counts its emptiness probe).

    file_names, file_rows: per file, in arrival order.
    batch_files: {batch_id: [file names]} as the source's log records them.
    Returns (owner, batch_rows): the batch id of each file (None if no
    batch read it) and {batch_id: rows}. Raises ValueError if a file was
    read by two batches or a batch read a file that was never delivered.
    """
    index = {name: i for i, name in enumerate(file_names)}
    owner = [None] * len(file_names)
    batch_rows = {}
    for batch, names in batch_files.items():
        batch_rows[batch] = 0
        for name in names:
            i = index.get(name)
            if i is None:
                raise ValueError(f"batch {batch} read unknown file {name}")
            if owner[i] is not None:
                raise ValueError(f"{name} read by batches {owner[i]} and {batch}")
            owner[i] = batch
            batch_rows[batch] += file_rows[i]
    return owner, batch_rows


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def driver_gap(op_start, op_end, job_intervals):
    """Operation wall minus the part of it covered by at least one job:
    the time the driver spent with no job running (planning, listing,
    catalog calls, waiting)."""
    return (op_end - op_start) - union_length(clip(job_intervals, op_start, op_end))


def self_times(spans):
    """spans: [(id, parent, name, start, end)]. Self time of each span is
    its duration minus the part of its interval its children cover.
    Returns {id: self_time}."""
    children = {}
    for sid, parent, _name, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    out = {}
    for sid, _parent, _name, s, e in spans:
        covered = union_length(clip(children.get(sid, []), s, e))
        out[sid] = (e - s) - covered
    return out


def quartile_spread(values):
    """(q3 - q1) / median, as the benchmark's acceptance rule computes it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
