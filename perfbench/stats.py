"""Pure arithmetic the benchmark reports with: order statistics, span self
time, order-independent table digests and read-amplification ratios.

Nothing here touches Spark, so ``test_stats.py`` checks it in isolation.
"""

from __future__ import annotations

import math
import statistics
from typing import Iterable, NamedTuple

_U64 = 1 << 64


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def tail_percentile(n_samples: int, min_beyond: int = 10) -> float | None:
    """Highest percentile of ``n_samples`` that still has at least
    ``min_beyond`` samples strictly above it, among 50, 90, 95, 99, 99.9.

    ``None`` when not even the median qualifies. A percentile p leaves
    ``n * (1 - p/100)`` samples beyond it, so p99 needs 1,000 samples."""
    best = None
    for tenths in (500, 900, 950, 990, 999):  # integer arithmetic: no float edge
        if n_samples * (1000 - tenths) >= min_beyond * 1000:
            best = tenths / 10
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the sample itself, never interpolated)."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


class Span(NamedTuple):
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in the same list

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children clipped to the parent, overlaps
    between children counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            par = spans[sp.parent]
            s, e = max(sp.start, par.start), min(sp.end, par.end)
            if e > s:
                children.setdefault(sp.parent, []).append((s, e))
    return [
        sp.duration - covered(children.get(i, [])) for i, sp in enumerate(spans)
    ]


def digest(row_hashes: Iterable[int]) -> tuple[int, str]:
    """Order-independent digest of a table: (row count, hex of the sum of
    the rows' signed 64-bit hashes modulo 2^64).

    A sum (unlike xor) keeps duplicate rows: two copies of a row do not
    cancel out."""
    n, total = 0, 0
    for h in row_hashes:
        n += 1
        total = (total + h) % _U64
    return n, f"{total:016x}"


def read_amplification(bytes_read: float, bytes_stored: float) -> float:
    """Bytes read back from a table divided by the table's stored size:
    1.0 means every stored byte was read exactly once."""
    if bytes_stored <= 0:
        raise ValueError("stored size must be positive")
    return bytes_read / bytes_stored


def rows_per_input_row(rows_read: float, input_rows: float) -> float:
    """Rows a source reported reading divided by the rows it holds."""
    if input_rows <= 0:
        raise ValueError("input row count must be positive")
    return rows_read / input_rows


def precision_recall(n_got: int, n_want: int, n_both: int) -> tuple[float, float]:
    """Precision and recall of ``n_got`` emitted facts against ``n_want``
    planted ones, ``n_both`` of which match. An empty side scores 0."""
    p = n_both / n_got if n_got else 0.0
    r = n_both / n_want if n_want else 0.0
    return p, r
