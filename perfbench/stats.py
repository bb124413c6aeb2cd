"""The benchmark's own arithmetic: percentiles, self time, seeded sampling.

Pure functions only, so that tests/test_stats.py can pin each rule.
"""
import math
import random


def nearest_rank(values, pct):
    """The pct-th percentile by the nearest-rank rule, and how many samples
    lie strictly beyond its rank (n - rank)."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def supported_percentile(values, pct, min_beyond=10):
    """The pct-th percentile, or None unless at least `min_beyond` samples
    lie beyond it: a tail percentile read from fewer samples is noise."""
    if not values:
        return None
    value, beyond = nearest_rank(values, pct)
    return value if beyond >= min_beyond else None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, within):
    """The part of `interval` inside `within` (possibly empty)."""
    s, e = max(interval[0], within[0]), min(interval[1], within[1])
    return (s, max(s, e))


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_length([clip(c, span) for c in children])


def layer_self_times(op, layers):
    """Split one op's wall interval among ordered layers.

    `layers` is a list of (name, intervals), outermost first; each layer
    owns the part of the op its intervals cover that no earlier layer owns,
    and the op itself owns what no layer covers, under the name None. The
    parts partition the op, so they always add up to its wall time.
    """
    out, covered = {}, []
    for name, intervals in layers:
        mine = [clip(i, op) for i in intervals]
        before = union_length(covered)
        covered = covered + mine
        out[name] = out.get(name, 0.0) + union_length(covered) - before
    out[None] = self_time(op, covered)
    return out


def stratified_sample(pool, k, seed):
    """Pick k names from `pool` ({name: seconds}), one from each of k strata
    of near-equal size taken in order of cost, so that a small sample spans
    the pool's cost range instead of landing wherever chance puts it. The
    result is in cost order; the same seed always gives the same sample.
    """
    names = sorted(pool, key=lambda n: (pool[n], n))
    rng = random.Random(seed)
    picked = []
    for j in range(k):
        lo, hi = len(names) * j // k, len(names) * (j + 1) // k
        picked.append(names[lo + int(rng.random() * (hi - lo))])
    return picked


def seeded_order(names, seed):
    """A permutation of `names` fixed by `seed`."""
    out = list(names)
    random.Random(seed).shuffle(out)
    return out


def steal_share(jiffies_a, jiffies_b):
    """Share of CPU time stolen by the hypervisor between two readings of
    the /proc/stat cpu line (user nice system idle iowait irq softirq
    steal); 0 when the readings are missing."""
    if len(jiffies_a) < 8 or len(jiffies_b) < 8:
        return 0.0
    delta = [b - a for a, b in zip(jiffies_a, jiffies_b)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0
