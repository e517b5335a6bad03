"""Statistics and result checks of the benchmark (no Spark, no I/O)."""
import math
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(xs, candidates=(99, 95, 90, 75), beyond=10):
    """The highest candidate percentile with at least `beyond` samples
    above it, as (p, value); (None, None) when even the lowest has too
    few."""
    s = sorted(xs)
    for p in candidates:
        k = max(1, math.ceil(p / 100.0 * len(s)))
        if len(s) - k >= beyond:
            return p, s[k - 1]
    return None, None


def quartile_spread(xs):
    """(Q3 - Q1) / median, with Python's default quantile method."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def mix_median(ops):
    """Median latency of each op kind, averaged with the kinds' shares of
    the ops. Equals the median for a single-kind loop; for a mix it does
    not jump between kinds the way the median of the pooled samples does
    when it falls in the gap between two kinds' latencies."""
    by_kind = {}
    for op in ops:
        by_kind.setdefault(op["kind"], []).append(op["ms"])
    return sum(len(ms) * median(ms) for ms in by_kind.values()) / len(ops)


def latency_summary(ms):
    """p50, p90, the supported tail percentile and the sample count."""
    tp, tv = tail_percentile(ms)
    return {"p50": median(ms), "p90": percentile(ms, 90), "tail_p": tp,
            "tail": tv, "n": len(ms)}


def compare_digests(stored, fresh):
    """Names of the ops whose digest differs from the one an earlier run
    of the same seed recorded. Keys are op indices as strings."""
    return ["digest_mismatch:op%s" % k for k in sorted(fresh, key=int)
            if k in stored and stored[k] != fresh[k]]


def count_failures(ops, digest_failures):
    """(attempted, failed, names): every op counts as attempted; an op
    fails on any failed check or a digest mismatch."""
    mismatched = {n.split("op")[-1] for n in digest_failures}
    names, failed = [], 0
    for op in ops:
        bad = list(op["failures"])
        if str(op["i"]) in mismatched:
            bad.append("digest_mismatch")
        if bad:
            failed += 1
            names += ["op%d:%s" % (op["i"], b) for b in bad]
    return len(ops), failed, names
