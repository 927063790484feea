"""Order statistics and output digests shared by the workloads."""

from __future__ import annotations

import hashlib
import math
import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """Highest whole percentile p (1..99) with at least ``min_beyond`` of
    ``n`` samples strictly above its rank; ``None`` when no percentile has
    that many (fewer than ``min_beyond + 1`` samples)."""
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)  # nearest-rank position of p
        if n - rank >= min_beyond and rank >= 1:
            return p
    return None


def percentile(values, p: int) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(ordered)))
    return float(ordered[rank - 1])


def fmt_value(v) -> str:
    """15 significant digits for floats (the oracle sweep's tolerance);
    NULL and NaN stay distinct, as they are distinct gap encodings."""
    if v is None:
        return "N"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.15g}"
    return str(v)


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of an iterable of tuples."""
    lines = sorted("|".join(fmt_value(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()
