"""Correctness gate: engine answers against the pure-pandas oracle.

Runs after the timed window, on answers the timed calls already
collected. Answers are compared on ``(conv_id, turn_idx, score)``.
Engines order ties by docint, and a sharded store numbers docints
differently from the oracle, so a row is accepted when the oracle
ranks the same document at the same score anywhere in its top
``k + TIE_SLACK``, and the score column must match position by
position.
"""

from __future__ import annotations

import math

TIE_SLACK = 64


def _rows(rows) -> list[tuple[str, int, float]]:
    return [(r["conv_id"], int(r["turn_idx"]), float(r["score"])) for r in rows]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def matches_oracle(rows, oracle, query: str, k: int, strategy: str = "bm25") -> bool:
    got = _rows(rows)
    want_df = oracle.search(query, k=k + TIE_SLACK, strategy=strategy)
    want = list(
        zip(want_df["conv_id"], want_df["turn_idx"].astype(int), want_df["score"])
    )
    if len(got) != min(k, len(want)):
        return False
    if not all(_close(g[2], w[2]) for g, w in zip(got, want)):
        return False
    by_doc = {(c, t): s for c, t, s in want}
    return all(
        (c, t) in by_doc and _close(by_doc[(c, t)], s) for c, t, s in got
    )


def same_answer(a, b) -> bool:
    """Rank-identical: same documents, same order, same scores."""
    ra, rb = _rows(a), _rows(b)
    return len(ra) == len(rb) and all(
        x[0] == y[0] and x[1] == y[1] and _close(x[2], y[2]) for x, y in zip(ra, rb)
    )
