"""Summary statistics shared by every workload."""

from __future__ import annotations

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, ladder=TAIL_LADDER) -> float | None:
    """The highest percentile of the ladder that has at least
    ``MIN_BEYOND`` samples beyond it, or None when the sample is too
    small for any: n * (100 - p) / 100 >= MIN_BEYOND."""
    for p in ladder:
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:  # 100 - 99.9 is not exact
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Sample count, median, and the tail at the highest percentile the
    rule allows (absent when the sample is too small for any)."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = percentile(values, 50.0)
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(values, tail)
    return out


def tail_entry(prefix: str, summary: dict) -> dict[str, float]:
    """``{prefix}_p<pct>_ms`` for the tail ``summarize`` allowed, if any."""
    if "tail" not in summary:
        return {}
    return {f"{prefix}_p{summary['tail_pct']:g}_ms": summary["tail"]}


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


_SUFFIX_UNITS = (("cpu_ms_per_op", "ms"), ("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                 ("_pct", "%"), ("_rate", "failed/attempted"))


def unit_of(name: str) -> str:
    """A report metric's unit, read off its name's suffix ('' = a count
    or a ratio)."""
    return next((u for suffix, u in _SUFFIX_UNITS if name.endswith(suffix)), "")
