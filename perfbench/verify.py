"""Correctness side of the benchmark: the op verifier and the result
comparisons it runs.

``Verifier`` counts attempted ops and failed ones; an op fails when it
raises or when its result is wrong, and is counted once however many of
its checks fail. The failure list names each failed op and why, so a
non-zero error rate is always explained in the run's output.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np


class Verifier:
    def __init__(self):
        self.attempted: set[str] = set()
        self.failed: dict[str, str] = {}

    def attempt(self, op: str, fn):
        """Run ``fn`` as op ``op``. ``fn`` returns None (nothing to check),
        True/False, or raises; returns what ``fn`` returned, or None when
        it raised."""
        self.attempted.add(op)
        try:
            out = fn()
        except Exception as e:  # any raise is a failed op
            self.fail(op, f"{type(e).__name__}: {str(e)[:200]}")
            return None
        if out is False:
            self.fail(op, "wrong result")
        return out

    def fail(self, op: str, reason: str) -> None:
        self.attempted.add(op)
        self.failed.setdefault(op, reason)

    @property
    def n_attempted(self) -> int:
        return len(self.attempted)

    @property
    def n_failed(self) -> int:
        return len(self.failed)


# -- frame comparison -------------------------------------------------------------
# The canonical form of tests/oracle.py (row count, schema and
# order-insensitive values), plus numpy scalars and arrays, which
# toPandas returns. Kept here so the benchmark does not import the test
# tree, whose package name its own tests/ directory shadows.

def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (bool, int)):
        return str(v)
    if isinstance(v, datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, np.generic):
        return canon_cell(v.item())
    return str(v)


def frame_tokens(cols: list[str], rows) -> list[tuple]:
    """Columns in name order, cells canonicalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def frames_equal(got, want) -> bool:
    """Row count, column names and order-insensitive exact values."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    return frame_tokens(
        list(got.columns), got.itertuples(index=False, name=None)
    ) == frame_tokens(
        list(want.columns), want.itertuples(index=False, name=None)
    )


# -- top-k checks -------------------------------------------------------------

def exact_topk(vecs: np.ndarray, query_ids: list[int], k: int) -> dict:
    """Brute-force cosine top-k (self excluded) for each query id, as
    {query_id: (neighbor ids, similarities rounded to 6)}. Row i of
    ``vecs`` is vector id i."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        sims = np.round(unit @ unit[q], 6)
        sims[q] = -np.inf
        order = np.lexsort((np.arange(len(sims)), -sims))[:k]
        out[q] = (order.tolist(), sims[order].tolist())
    return out


def _groups(df, qcol: str, ncol: str) -> dict:
    g: dict[int, list[int]] = {}
    for q, n in zip(df[qcol].tolist(), df[ncol].tolist()):
        g.setdefault(int(q), []).append(int(n))
    return g


def topk_matches(df, exact: dict, tol: float = 1e-5) -> bool:
    """``cosine_topk`` output against the brute force: per query the
    same number of rows and the same similarity profile (ties may pick
    different ids)."""
    sims: dict[int, list[float]] = {}
    for q, s in zip(df["query_id"].tolist(), df["cosine_sim"].tolist()):
        sims.setdefault(int(q), []).append(float(s))
    if set(sims) != set(exact):
        return False
    for q, (_, want) in exact.items():
        got = sorted(sims[q], reverse=True)
        if len(got) != len(want):
            return False
        if any(abs(a - b) > tol for a, b in zip(got, want)):
            return False
    return True


def topk_shape(df, query_ids: list[int], k: int) -> bool:
    """An approximate lane's output: only asked-for queries, at most k
    distinct neighbours each, never the query itself."""
    g = _groups(df, "query_id", "neighbor_id")
    if not set(g) <= set(query_ids):
        return False
    return all(
        len(ns) <= k and len(set(ns)) == len(ns) and q not in ns
        for q, ns in g.items()
    )


def recall_at_k(df, exact: dict, k: int) -> float:
    """Mean over queries of |approx ∩ exact| / k."""
    g = _groups(df, "query_id", "neighbor_id")
    return float(np.mean([
        len(set(g.get(q, [])) & set(ids[:k])) / k
        for q, (ids, _) in exact.items()
    ]))
