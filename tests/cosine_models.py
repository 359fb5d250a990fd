"""Pure-Python reference models of the embedding similarity operators
(operators/similarity.py).

Each model replays the JVM cosine expression op for op:
``round(dot(l, r) / (norm(l) * norm(r)), 6)`` with index-ordered IEEE
double folds (Python floats ARE IEEE doubles, so the folds below are
bit-identical to Spark's ``aggregate`` over ``zip_with``), Spark's
round(double, 6) (HALF_UP on the shortest repr) and SQL NULL
semantics.  A zero-norm pair's cosine is undefined.  Rows whose
vectors are stored as ``array<float>`` must pass through
:func:`f32_rows` first: the engine sees the float32-rounded values.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def jvm_round6(x: float) -> float:
    """Spark's round(double, 6): HALF_UP on the shortest repr."""
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def f32_rows(rows) -> list[tuple]:
    """(id, vec, *rest) rows with ``vec`` float32-rounded."""
    return [(r[0], [float(np.float32(x)) for x in r[1]], *r[2:]) for r in rows]


def _fold(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def raw_cosine(a, b) -> float | None:
    """Unrounded dot/(nrm_a·nrm_b); None when a norm is zero."""
    den = math.sqrt(_fold(a, a)) * math.sqrt(_fold(b, b))
    return None if den == 0.0 else _fold(a, b) / den


def neardup_pairs(rows, threshold: float) -> list[tuple]:
    """cosine_self_join_neardup over (id, vec, bucket) rows: equi-join
    on the bucket (NULL joins nothing), a < b, rounded cosine ≥
    threshold.  Returns sorted (a, b, cosine)."""
    out = []
    for ia, va, ba in rows:
        for ib, vb, bb in rows:
            if ba is None or ba != bb or not ia < ib:
                continue
            c = raw_cosine(va, vb)
            if c is not None and jvm_round6(c) >= threshold:
                out.append((ia, ib, jvm_round6(c)))
    return sorted(out)


def semdedup_one_cluster(rows, threshold: float) -> set:
    """Survivor ids of semdedup's in-cluster screen over (id, vec) rows
    of ONE cluster: a row drops iff a lower id reaches the threshold."""
    ordered = sorted(rows)
    keep = set()
    for i, (ri, vi) in enumerate(ordered):
        if not any(
            (c := raw_cosine(vj, vi)) is not None
            and jvm_round6(c) >= threshold
            for _, vj in ordered[:i]
        ):
            keep.add(ri)
    return keep


def decontaminate(train_rows, eval_rows, threshold: float) -> list[tuple]:
    """semantic_decontaminate over (id, vec) rows: per train row the
    argmax eval on the unrounded cosine (zero-norm pairs score the
    sentinel -2.0), ties to the lowest eval id.  An empty eval set
    yields no rows.  Returns sorted (id, nearest_eval_id, max_cosine,
    contaminated)."""
    if not eval_rows:
        return []
    out = []
    for tid, tv in train_rows:
        best, best_eid = -math.inf, None
        for eid, ev in sorted(eval_rows):
            c = raw_cosine(tv, ev)
            c = -2.0 if c is None else c
            if c > best:
                best, best_eid = c, eid
        r6 = jvm_round6(best)
        out.append((tid, best_eid, r6, r6 >= threshold))
    return sorted(out)


def hard_negatives(pool_rows, anchor_rows, k: int) -> list[tuple]:
    """hard_negatives over (id, vec, label) rows: per anchor the k
    pool rows by (raw desc, id asc) with a different id and a
    different non-NULL label, zero-norm pairs dropped.  Returns sorted
    (anchor_id, rank, id, label, cosine)."""
    out = []
    for aid, av, albl in anchor_rows:
        if albl is None:
            continue
        cands = []
        for pid, pv, plbl in pool_rows:
            if plbl is None or plbl == albl or pid == aid:
                continue
            c = raw_cosine(pv, av)
            if c is not None:
                cands.append((-c, pid, plbl))
        cands.sort()
        for rank, (neg, pid, plbl) in enumerate(cands[:k], start=1):
            out.append((aid, rank, pid, plbl, jvm_round6(-neg)))
    return sorted(out)
