"""Metric math for the benchmark: pure functions over recorded numbers.

Times are seconds unless a name says otherwise; intervals are
(start, end) pairs on one clock.
"""
import math
import statistics


def median(values):
    return statistics.median(values)


def tail(values, beyond=10):
    """Highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, n). With sorted samples x[0..n-1], the
    sample at rank k has n-1-k samples beyond it, so the highest usable
    rank is n-1-beyond and its percentile is the share of samples at or
    below it. With too few samples for any such rank the maximum is
    returned, as percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    k = n - 1 - beyond
    if k < 0:
        return 100.0, xs[-1], n
    return 100.0 * (k + 1) / n, xs[k], n


def geomean_of_medians(samples_by_unit):
    """Geometric mean over units of each unit's median time, so a small
    unit weighs as much as a large one."""
    meds = [median(v) for v in samples_by_unit.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_length(intervals, lo=None, hi=None):
    """Length of the union of intervals, clipped to [lo, hi] if given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
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


def idle_time(lo, hi, busy):
    """Wall time in [lo, hi] during which no busy interval is running."""
    return (hi - lo) - union_length(busy, lo, hi)


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children cover. `spans` maps id -> (parent, start, end)."""
    children = {}
    for sid, (parent, s, e) in spans.items():
        children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union_length(children.get(sid, []), s, e)
            for sid, (_, s, e) in spans.items()}


def fail_frac(attempted, failed):
    """Failed or wrong-output units over attempted units."""
    return failed / attempted if attempted else 1.0


def steal_share(before, after):
    """Share of the host's CPU time between two (steal, total) tick
    readings that the hypervisor gave to other guests; None without two
    readings."""
    if before is None or after is None or after[1] <= before[1]:
        return None
    return (after[0] - before[0]) / (after[1] - before[1])


END_TO_END_UNITS = {'setup_s': 's', 'pass_s': 's', 'cpu_s': 's', 'live_heap_mb': 'MB'}


def end_to_end(record):
    """End-to-end metrics of an untraced run, plus figures that are
    printed but not gated. Returns (None, {}) when no timed unit
    succeeded: there is then nothing to measure."""
    timed = [p for p in record['passes'] if p['segment'] == 'timed']
    ok = [u for u in record['units'] if u['segment'] == 'timed' and u.get('ok')]
    if not ok:
        return None, {}
    walls = [u['wall_s'] for u in ok]
    by_unit = {}
    for u in ok:
        by_unit.setdefault(u['name'], []).append(u['wall_s'])
    values = {
        'setup_s': record['setup']['launch_to_first_unit_s'],
        'pass_s': median([p['wall_s'] for p in timed]),
        'cpu_s': median([p['cpu_s'] for p in timed]),
        'live_heap_mb': record['live_heap_mb'],
    }
    pct, tail_v, _ = tail(walls)
    info = {'query_geomean_s': geomean_of_medians(by_unit), 'unit_p50_s': median(walls),
            f'unit_p{pct:.0f}_s': tail_v}
    if record['workload'] == 'aria_ycsb':
        info['txn_per_s'] = sum(s[2] for u in ok for s in u['stats']) / sum(walls)
    return values, info
