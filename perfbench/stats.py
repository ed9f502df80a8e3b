"""Percentiles, the record digest and small helpers shared by the harness
and its tests."""
import math
import statistics

import numpy as np

MASK64 = (1 << 64) - 1
# A failed request's latency enters the percentiles as +inf; JSON has no
# infinity, so a percentile that lands on one is reported as this.
FAILED_LATENCY = 1e9


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The sample at rank n-`beyond` (1-based) of the n sorted samples: the
    highest percentile with at least `beyond` samples above it, or the
    lowest sample when there are no more than `beyond`.
    Returns (value, n, percentile)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0.0
    rank = max(n - beyond, 1)
    return xs[rank - 1], n, 100.0 * rank / n


def finite(x):
    return FAILED_LATENCY if math.isinf(x) else x


def fnv1a64(text):
    h = 0xcbf29ce484222325
    for b in text.encode("utf-8"):
        h = ((h ^ b) * 0x100000001b3) & MASK64
    return h


def splitmix64(x):
    """The splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def digest(types, topics, partitions, offsets):
    """Order-insensitive digest of a record set, from parallel sequences of
    each record's (type, topic, partition, offset): the wrapping sum of
    splitmix64 over a 64-bit packing of the four fields."""
    if len(offsets) == 0:
        return 0
    cache = {}
    base = np.fromiter(
        (cache.setdefault((ty, tp), fnv1a64(f"{ty}|{tp}"))
         for ty, tp in zip(types, topics)), dtype=np.uint64, count=len(offsets))
    p = np.asarray(partitions, dtype=np.int64).astype(np.uint64)
    o = np.asarray(offsets, dtype=np.int64).astype(np.uint64)
    x = base ^ (p << np.uint64(48)) ^ (o & np.uint64((1 << 48) - 1))
    with np.errstate(over="ignore"):
        return int(splitmix64(x).sum(dtype=np.uint64))

