"""Pure statistics and check helpers for the graft benchmark.

Kept free of I/O so that `tests/test_stats.py` can pin them down.
"""
import math
import statistics

# Percentiles the tail metric may use, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (the
    small epsilon keeps 90% of 100 at rank 90 despite float rounding)."""
    return min(n, max(1, math.ceil(p * n / 100.0 - 1e-9)))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. Always returns a measured sample."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[rank(len(values), p) - 1]


def tail_percentile(n, ladder=TAIL_LADDER, beyond=10):
    """The highest percentile of `ladder` with at least `beyond` of the
    `n` samples above its rank, or None when none has."""
    for p in ladder:
        if n and n - rank(n, p) >= beyond:
            return p
    return None


def median(values):
    return statistics.median(values)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def delivery_failures(sent, arrived):
    """Count per-message delivery failures.

    sent: [(id, expected_topic, checksum)]; arrived: [(id, topic,
    checksum, has_correlation_id)]. A message fails once, for the first
    problem found: lost, duplicated, wrong topic, changed payload, or no
    correlation id. Arrivals of ids never sent are counted as `stray`.
    """
    seen = {}
    for a in arrived:
        seen.setdefault(a[0], []).append(a)
    out = {"lost": 0, "duplicated": 0, "wrong_topic": 0, "corrupt": 0,
           "no_correlation_id": 0}
    ids = set()
    for mid, topic, crc in sent:
        ids.add(mid)
        got = seen.get(mid, [])
        if not got:
            out["lost"] += 1
        elif len(got) > 1:
            out["duplicated"] += 1
        elif got[0][1] != topic:
            out["wrong_topic"] += 1
        elif got[0][2] != crc:
            out["corrupt"] += 1
        elif not got[0][3]:
            out["no_correlation_id"] += 1
    out["stray"] = sum(len(v) for k, v in seen.items() if k not in ids)
    out["failed"] = sum(out.values())
    return out


def failed_frac(failed, attempted):
    return failed / attempted if attempted else 1.0
