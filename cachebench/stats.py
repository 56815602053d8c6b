"""Pure helpers of the benchmark runner: percentiles, result checksums,
seeded op generators and the span self-time fold. No Spark here, so the
unit tests in ``test_helpers.py`` run without a JVM."""
from __future__ import annotations

import math
from typing import Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

import numpy as np

TAIL_CANDIDATES = (99, 90, 75, 50)
MIN_BEYOND = 10


def percentile(samples: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(samples: Sequence[float]) -> float:
    return percentile(samples, 50)


def tail_percentile(samples: Sequence[float]) -> Optional[Tuple[int, float]]:
    """The highest percentile in TAIL_CANDIDATES with at least MIN_BEYOND
    samples beyond it, as ``(p, value)``; None when even the median has
    fewer than MIN_BEYOND samples above it."""
    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return p, percentile(samples, p)
    return None


def latency_summary(samples: Sequence[float]) -> dict:
    """Median, the tail percentile the sample count supports, and the count."""
    out: dict = {"n": len(samples)}
    if samples:
        out["p50"] = median(samples)
        tail = tail_percentile(samples)
        if tail is not None:
            out[f"p{tail[0]}"] = tail[1]
    return out


# --- result checksums -------------------------------------------------------
#
# A checksum is (rows, exact_hash, float_stats). Every column except the
# top-level float/double ones is rendered as a string and feeds one 64-bit
# hash per row; the row hashes are summed mod 2**64, so the fold ignores row
# order. Top-level floating columns are summed instead (with their NaN/null
# count) and compared with a relative tolerance: an aggregate's last bits
# depend on the order Spark's tasks add partial sums, so hashing them would
# flag correct results.

def frame_checksum(frame, float_cols: Sequence[str]) -> tuple:
    """Checksum of a pandas frame whose non-float columns are strings."""
    import pandas as pd

    exact = frame.drop(columns=list(float_cols))
    row_hash = 0
    if exact.shape[1]:
        # uint64 addition wraps, which is the mod 2**64 fold.
        row_hash = int(pd.util.hash_pandas_object(exact, index=False).to_numpy().sum())
    floats = tuple(
        (float(frame[c].sum()), int(frame[c].isna().sum())) for c in float_cols
    )
    return len(frame), row_hash, floats


def checksums_match(expected: tuple, actual: tuple, rel_tol: float = 1e-9) -> bool:
    rows_e, hash_e, floats_e = expected
    rows_a, hash_a, floats_a = actual
    if rows_e != rows_a or hash_e != hash_a or len(floats_e) != len(floats_a):
        return False
    return all(
        nan_e == nan_a and math.isclose(sum_e, sum_a, rel_tol=rel_tol, abs_tol=1e-9)
        for (sum_e, nan_e), (sum_a, nan_a) in zip(floats_e, floats_a)
    )


# --- seeded op generators ---------------------------------------------------

def zipf_stream(seed: int, n_items: int, s: float = 1.1, block: int = 16) -> Iterator[int]:
    """Endless Zipf(s) draws over ranks 0..n_items-1 (rank 0 most popular),
    stratified: every ``block`` consecutive draws are a seeded shuffle of
    the same multiset, each rank appearing in proportion to 1/(rank+1)**s
    (largest remainders, at least once). A run of a few blocks then sees
    the Zipf mix itself rather than a noisy sample of it."""
    weights = [1.0 / (rank + 1) ** s for rank in range(n_items)]
    shares = [w * block / sum(weights) for w in weights]
    counts = [max(1, math.floor(x)) for x in shares]
    by_remainder = sorted(range(n_items), key=lambda r: shares[r] - counts[r], reverse=True)
    for rank in by_remainder[: max(0, block - sum(counts))]:
        counts[rank] += 1
    pool = [rank for rank, c in enumerate(counts) for _ in range(c)]
    rng = np.random.default_rng(seed)
    while True:
        yield from (pool[i] for i in rng.permutation(len(pool)))


def fresh_variants(seed: int, n_days: int) -> Iterator[int]:
    """Distinct window start offsets (in days), in seeded order: every
    variant of the rollup is new to the cache."""
    yield from (int(d) for d in np.random.default_rng(seed).permutation(n_days))


# --- spans ------------------------------------------------------------------
#
# A span is (span_id, name, start, end, parent_id, op_id); start/end in
# seconds. The layer of a span is the first dotted part of its name, except
# for the two-part module "plans.fingerprint":
# "plans.fingerprint.canonical_plan" -> "plans.fingerprint",
# "spark.q1_pricing_summary.exec" -> "spark".

def layer_of(name: str) -> str:
    if name.startswith("plans.fingerprint."):
        return "plans.fingerprint"
    return name.split(".", 1)[0]


def covered(interval: Tuple[float, float], parts: Iterable[Tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[tuple]) -> Dict[int, float]:
    """Each span's duration minus the part of it its children cover.
    Children may overlap (calls from worker threads), so coverage is the
    union of their intervals, not their sum."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for _sid, _name, start, end, parent, _op in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    return {
        sid: (end - start) - covered((start, end), children.get(sid, ()))
        for sid, _name, start, end, _parent, _op in spans
    }


def self_time_by_layer(spans: Sequence[tuple]) -> Dict[str, float]:
    """Total self time per layer."""
    selfs = self_times(spans)
    out: Dict[str, float] = {}
    for sid, name, *_rest in spans:
        layer = layer_of(name)
        out[layer] = out.get(layer, 0.0) + selfs[sid]
    return out
