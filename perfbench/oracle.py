"""Independent output checks, written without the engine's code.

ANN results are graded against a NumPy brute-force top-k. Dedup verdicts
are checked with exact 3-word-shingle Jaccard (the shingling of the
engine's ``dedup._SHINGLES``: distinct space-separated word triples).
"""

from __future__ import annotations

import numpy as np

JACCARD_MIN = 0.8      # MinHash admission threshold
# rounding slack: the engine rounds distances and Jaccard to 6 dp
EPS = 1e-5


# ---------------------------------------------------------------- ANN


def brute_force_topk(corpus: np.ndarray, queries: np.ndarray,
                     k: int) -> tuple[np.ndarray, np.ndarray]:
    """(ids (Q, k), L2 distances (Q, k)), nearest first, ties by id."""
    x = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    d2 = (q * q).sum(1)[:, None] + (x * x).sum(1)[None, :] - 2.0 * q @ x.T
    np.maximum(d2, 0.0, out=d2)
    part = np.argpartition(d2, k, axis=1)[:, :k + 1]
    ids = np.empty((len(q), k), dtype=np.int64)
    for i in range(len(q)):
        cand = part[i]
        order = np.lexsort((cand, d2[i, cand]))[:k]
        ids[i] = cand[order]
    return ids, np.sqrt(np.take_along_axis(d2, ids, 1))


def grade_ann(rows: list[tuple[int, int, float]], corpus: np.ndarray,
              queries: np.ndarray, truth: np.ndarray,
              k: int) -> tuple[float, list[str]]:
    """Recall@k of ``(query_id, vec_id, dist)`` rows against ``truth``,
    and the list of problems that make the batch incorrect: a query
    without exactly k distinct in-range ids, or a reported distance that
    is not the true distance of the returned id."""
    problems: list[str] = []
    got: dict[int, list[tuple[int, float]]] = {}
    for qid, vid, dist in rows:
        got.setdefault(int(qid), []).append((int(vid), float(dist)))
    hits = 0
    for qi in range(len(queries)):
        res = got.get(qi, [])
        ids = [v for v, _ in res]
        if len(ids) != k or len(set(ids)) != k:
            problems.append(f"query {qi}: {len(ids)} results, "
                            f"{len(set(ids))} distinct")
        if any(v < 0 or v >= len(corpus) for v in ids):
            problems.append(f"query {qi}: id out of range")
            continue
        if res:
            vids = np.array(ids)
            true_d = np.sqrt(((corpus[vids].astype(np.float64)
                               - queries[qi].astype(np.float64)) ** 2)
                             .sum(1))
            if np.abs(true_d - np.array([d for _, d in res])).max() > EPS:
                problems.append(f"query {qi}: wrong distance")
        hits += len(set(ids) & set(truth[qi].tolist()))
    extra = set(got) - set(range(len(queries)))
    if extra:
        problems.append(f"{len(extra)} unknown query ids")
    return hits / (len(queries) * k), problems


# ---------------------------------------------------------------- docs


def shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def check_minhash_verdicts(rows, batch_ids, texts: dict[int, str],
                           substrate: set[int]) -> list[str]:
    """Rows ``(doc_id, admitted, matched_old)``: one per batch doc, and
    every rejection names a substrate doc at Jaccard >= 0.8."""
    problems = []
    seen = [int(r[0]) for r in rows]
    if sorted(seen) != sorted(int(i) for i in batch_ids):
        problems.append("verdicts do not cover the batch exactly once")
    for doc_id, admitted, old in rows:
        if admitted:
            continue
        if old is None or int(old) not in substrate:
            problems.append(f"doc {doc_id}: matched {old}, not in substrate")
            continue
        j = jaccard(texts[int(doc_id)], texts[int(old)])
        if j < JACCARD_MIN - EPS:
            problems.append(f"doc {doc_id}: rejected at jaccard {j:.3f}")
    return problems
