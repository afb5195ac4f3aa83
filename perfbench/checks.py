"""Output checks against the pure-Python oracle (``fusion_spark.oracle``) or
an exact path. They run outside the timed regions. A check never raises for a
wrong answer: it returns False, the caller counts the ops it covers as failed,
and the run goes on."""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

from fusion_spark import oracle


def same_ranking(
    got: list[tuple[int, float]], exp: list[tuple[int, float]], k: int, tol: float
) -> bool:
    """``got`` (a top-``k`` list) equals the head of ``exp`` (the full
    expected ranking): ``min(k, len(exp))`` entries, scores within ``tol``
    (relative above 1, absolute below), and the same doc order, except that
    docs whose expected scores lie within ``tol`` of each other may come in
    either order (two summation orders may round a near-tie either way)."""
    if len(got) != min(k, len(exp)):
        return False
    k = len(got)

    def close(a: float, b: float) -> bool:
        return abs(a - b) <= tol * max(1.0, abs(b))

    for (_, gs), (_, es) in zip(got, exp):
        if not close(gs, es):
            return False
    if [d for d, _ in got] == [d for d, _ in exp[:k]]:
        return True
    # walk runs of near-equal expected scores; a run may straddle the cut,
    # so the got docs in it must be a subset of the whole expected run
    i = 0
    while i < k:
        j = i
        while j + 1 < len(exp) and close(exp[j + 1][1], exp[i][1]):
            j += 1
        want = {d for d, _ in exp[i : j + 1]}
        have = {d for d, _ in got[i : min(j + 1, k)]}
        if not have <= want:
            return False
        i = j + 1
    return True


class Bm25Oracle:
    """``OracleIndex`` ranked over the docs that share a term with the query,
    the candidate set ``scoring.search`` scores without ``zero_tail``."""

    def __init__(self, corpus: dict[int, str]):
        self.index = oracle.OracleIndex(corpus)

    def search(self, query: str, k1: float, b: float) -> list[tuple[int, float]]:
        oi = self.index
        cands = set()
        for t in set(oi.tokenizer(query)):
            cands.update(oi.tf.get(t, {}))
        rows = [(d, oi.score_one(query, d, k1, b)) for d in cands]
        rows.sort(key=lambda x: (-x[1], x[0]))
        return rows


def ranked_by_qid(rows, score_col: str = "score", id_col: str = "doc_id") -> dict[int, list[tuple[int, float]]]:
    """Collected (qid, id, score, rank) rows -> {qid: [(id, score)] by rank}."""
    by = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        by[r["qid"]].append((r[id_col], r[score_col]))
    return dict(by)


def cosine_ranking(docs: np.ndarray, qvec: np.ndarray) -> list[tuple[int, float]]:
    """Exact cosine of one query against every doc row, (cosine DESC, id ASC)."""
    d = docs.astype(np.float64)
    q = qvec.astype(np.float64)
    cos = (d @ q) / (np.linalg.norm(d, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [(int(i), float(cos[i])) for i in order]


def metrics_match(row: dict, gt: list[int], preds: list[int], tol: float = 1e-9) -> bool:
    """One ``metrics_per_query`` row against ``oracle.compute_all_metrics`` on
    that query alone (the mean over one query is its value)."""
    exp = oracle.compute_all_metrics([gt], [preds])
    for name, value in exp.items():
        got = row.get(name)
        if got is None or not math.isclose(got, value, rel_tol=tol, abs_tol=tol):
            return False
    return True
