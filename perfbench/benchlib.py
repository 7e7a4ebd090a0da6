"""The benchmark's own arithmetic: percentiles, scheduled-time latency, ladder marginals
and failure shares. Kept free of I/O so selftest.py can pin every rule."""
import math
import statistics

# Percentiles tried, highest first, for the tail figure of a timing.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile by the nearest-rank rule, with its 1-based rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_values[rank - 1], rank


def tail(values):
    """(percentile, value) for the highest percentile of TAIL_LADDER that has at least
    ten samples beyond it, or (None, None) when even the lowest has fewer."""
    s = sorted(values)
    for p in TAIL_LADDER:
        v, rank = nearest_rank(s, p)
        if len(s) - rank >= MIN_BEYOND:
            return p, v
    return None, None


def summarize(values):
    """Median and tail of a timing sample, with its count."""
    vals = [v for v in values if v is not None and not math.isnan(v)]
    if not vals:
        return {"n": 0, "p50": None, "tail_p": None, "tail": None}
    p, t = tail(vals)
    return {"n": len(vals), "p50": statistics.median(vals), "tail_p": p, "tail": t}


def scheduled_latencies(commit_wave, applied_ms, interval_ms):
    """Commit-to-replica latency of each transaction, measured from the SCHEDULED publish
    time of the wave holding its COMMIT (wave * interval) to the moment its emission was
    written. A stall therefore charges every wave scheduled during it, not only the wave
    that was late. Transactions never applied (applied_ms None/NaN) give None."""
    out = []
    for w, a in zip(commit_wave, applied_ms):
        if a is None or (isinstance(a, float) and math.isnan(a)):
            out.append(None)
        else:
            out.append(a - w * interval_ms)
    return out


def backlog_latencies(batch_end_ms, commits_per_wave):
    """Latency of every transaction of a closed backlog drain: all waves are due when the
    drain starts, and wave w's transactions reach the replica when batch w ends."""
    out = []
    for end, n in zip(batch_end_ms, commits_per_wave):
        out.extend([end] * n)
    return out


def ladder_marginals(cumulative, order, base=None):
    """Marginal seconds of each rung: its cumulative time minus its base rung's (the
    previous rung unless `base` names another). The first rung's marginal is its time."""
    base = base or {}
    out = {}
    for i, rung in enumerate(order):
        prev = base.get(rung, order[i - 1] if i > 0 else None)
        out[rung] = cumulative[rung] - (cumulative[prev] if prev else 0.0)
    return out


def failed_share(failed, attempted):
    """Failed operations over attempted ones; attempted must be positive."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if failed < 0 or failed > attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted


def backlog_flat(latencies_by_wave, slack_ms):
    """True when the later half of the waves is not slower than the earlier half by more
    than `slack_ms` at the median: the queue did not grow over the run."""
    waves = sorted(latencies_by_wave)
    if len(waves) < 2:
        return True
    half = len(waves) // 2

    def med(ws):
        vals = [v for w in ws for v in latencies_by_wave[w]]
        return statistics.median(vals) if vals else 0.0
    return med(waves[half:]) <= med(waves[:half]) + slack_ms

