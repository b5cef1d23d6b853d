"""Pure helpers: the percentile rule and the rank-equivalence rule.

No Spark import here, so the helpers' tests run in milliseconds.
"""

from __future__ import annotations

import math

# A reported tail percentile must have at least this many samples beyond it.
MIN_BEYOND = 10


def tail_percentile(n: int, want: float = 90.0) -> float | None:
    """The highest percentile, capped at ``want``, that leaves at least
    MIN_BEYOND of ``n`` samples beyond it; None when not even the median
    qualifies (fewer than 2 * MIN_BEYOND samples)."""
    if n < 2 * MIN_BEYOND:
        return None
    return min(want, math.floor(100.0 * (1.0 - MIN_BEYOND / n)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def _u64(doc_id: int) -> int:
    return doc_id & 0xFFFFFFFFFFFFFFFF


def rank_order(items):
    """Sort (doc_id, score) pairs by the engine's contract: score desc, then
    doc id asc in unsigned 64-bit order."""
    return sorted(items, key=lambda t: (-t[1], _u64(t[0])))


def rank_mismatch(got, exp, rel: float = 1e-9, score_rel: float = 1e-5
                  ) -> str | None:
    """None when ``got`` is rank-identical to ``exp``, else a description.

    Positions must hold the same doc, except that two docs whose expected
    scores agree to ``rel`` may swap (engines sum per-term float32 scores in
    different orders, so exact near-ties can land either way). A doc at its
    expected position must also carry its expected score to ``score_rel``
    (float32 per-term scores summed in float64)."""
    if len(got) != len(exp):
        return f"{len(got)} results, expected {len(exp)}"
    for pos, ((gd, gs), (ed, es)) in enumerate(zip(got, exp)):
        tol = max(1.0, abs(es))
        if gd != ed:
            if abs(gs - es) > rel * tol:
                return f"rank {pos}: doc {gd} ({gs!r}), expected {ed} ({es!r})"
        elif abs(gs - es) > score_rel * tol:
            return f"rank {pos}: doc {gd} scored {gs!r}, expected {es!r}"
    return None
