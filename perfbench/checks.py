"""Output checks against the repo's single-process NumPy oracles, the
quality arithmetic, and the oracle cache.

Crawl results are checked against `tests/oracle.run_oracle` at the same
`DedupConfig`: the cluster partition must match exactly.  ANN results are
checked against `sources/refdata.ground_truth_numpy`: every query answered
with k distinct neighbours, ranks 1..k in (distance, id) order, each
distance equal to the true l2 distance, and recall@k above a floor.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from tests.oracle import cluster_pairs, dup_pair_recall, run_oracle

# recall@10 of ann_rehash measured 0.94-0.97 over seeds 1-10; the floor
# catches a broken candidate rule, not seed-to-seed variation
ANN_RECALL_FLOOR = 0.75
ANN_DIST_RTOL = 1e-6


class CheckFailed(Exception):
    """A result that differs from the oracle."""


# -- quality arithmetic ---------------------------------------------------

def canonical_partition(clusters: dict[int, int]) -> dict[int, int]:
    """doc -> smallest doc id of its cluster, whatever the cluster labels."""
    low: dict[int, int] = {}
    for d, c in clusters.items():
        low[c] = min(low.get(c, d), d)
    return {d: low[c] for d, c in clusters.items()}


def pair_quality(found: dict[int, int], truth: dict[int, int]) -> dict[str, float]:
    """Intra-cluster pair recall and precision; 1.0 over an empty set, as
    `tests/oracle.dup_pair_recall` defines it."""
    f, t = cluster_pairs(found), cluster_pairs(truth)
    return {
        "dup_pair_recall": dup_pair_recall(f, t),
        "dup_pair_precision": dup_pair_recall(t, f),
    }


def recall_at_k(found: dict[int, list[int]], truth_ids: np.ndarray) -> float:
    k = truth_ids.shape[1]
    hits = sum(
        len(set(found.get(q, [])) & set(truth_ids[q].tolist()))
        for q in range(len(truth_ids))
    )
    return hits / (k * len(truth_ids))


def overall_ratio(found_dist: dict[int, list[float]], truth_keys: np.ndarray) -> float:
    """Mean over queries of the mean i-th returned / i-th true distance —
    the reference's overall ratio (methods/ann.h)."""
    per_q = []
    for q, true in enumerate(truth_keys.astype(np.float64)):
        got = sorted(found_dist[q])
        per_q.append(
            np.mean([g / t if t > 0 else 1.0 for g, t in zip(got, true)])
        )
    return float(np.mean(per_q))


# -- checks ---------------------------------------------------------------

def check_clusters(found: dict[int, int], truth: dict[int, int]) -> dict[str, float]:
    if set(found) != set(truth):
        raise CheckFailed(
            f"doc sets differ: {len(set(found) - set(truth))} extra, "
            f"{len(set(truth) - set(found))} missing"
        )
    cf, ct = canonical_partition(found), canonical_partition(truth)
    moved = [d for d in ct if cf[d] != ct[d]]
    if moved:
        raise CheckFailed(f"{len(moved)} docs in a different cluster, e.g. {moved[:3]}")
    return pair_quality(found, truth)


def check_topk(
    rows: list[tuple[int, int, float, int]],
    data: np.ndarray,
    queries: np.ndarray,
    truth: np.ndarray,
) -> dict[str, float]:
    """rows = (qid, neighbor_id, score, rank)."""
    k = truth.shape[1]
    by_q: dict[int, list[tuple[int, int, float]]] = {}
    for q, nid, score, rank in rows:
        by_q.setdefault(q, []).append((rank, nid, score))
    if set(by_q) != set(range(len(queries))):
        raise CheckFailed(f"{len(queries) - len(by_q)} queries unanswered")
    ids: dict[int, list[int]] = {}
    dists: dict[int, list[float]] = {}
    for q, hits in by_q.items():
        hits.sort()
        if [r for r, _, _ in hits] != list(range(1, k + 1)):
            raise CheckFailed(f"query {q}: ranks {[r for r, _, _ in hits]}")
        nids = [n for _, n, _ in hits]
        if len(set(nids)) != k:
            raise CheckFailed(f"query {q}: repeated neighbours {nids}")
        got = np.array([s for _, _, s in hits])
        true = np.sqrt(
            ((data[nids].astype(np.float64) - queries[q].astype(np.float64)) ** 2).sum(1)
        )
        if not np.allclose(got, true, rtol=ANN_DIST_RTOL, atol=0.0):
            raise CheckFailed(f"query {q}: distances {got} != {true}")
        if any(
            (got[i], nids[i]) > (got[i + 1], nids[i + 1]) for i in range(k - 1)
        ):
            raise CheckFailed(f"query {q}: not in (distance, id) order")
        ids[q], dists[q] = nids, got.tolist()
    rec = recall_at_k(ids, truth["id"])
    if rec < ANN_RECALL_FLOOR:
        raise CheckFailed(f"recall@{k} {rec:.3f} below {ANN_RECALL_FLOOR}")
    return {"recall_at_10": rec, "overall_ratio": overall_ratio(dists, truth["key"])}


# -- deliberate corruption (self-test) --------------------------------------

def corrupt_clusters(clusters: dict[int, int]) -> dict[int, int]:
    """Move one doc into another cluster."""
    out = dict(clusters)
    labels = sorted(set(clusters.values()))
    if len(labels) < 2:
        raise ValueError("need two clusters to move a doc between")
    d = min(clusters)
    out[d] = labels[1] if clusters[d] == labels[0] else labels[0]
    return out


def corrupt_topk(rows: list[tuple[int, int, float, int]]) -> list[tuple]:
    """Drop one neighbour."""
    return sorted(rows)[1:]


# -- oracle cache -----------------------------------------------------------

def input_digest(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        else:
            for item in p:
                h.update(b"\0" if item is None else str(item).encode() + b"\1")
    return h.hexdigest()[:16]


def cached_crawl_truth(path: str, urls, texts, cfg) -> dict[int, int]:
    if os.path.exists(path):
        with np.load(path) as z:
            return dict(zip(z["doc"].tolist(), z["cluster"].tolist()))
    clusters = run_oracle(urls, texts, cfg).clusters
    _save(path, doc=np.array(list(clusters), np.int64),
          cluster=np.array(list(clusters.values()), np.int64))
    return clusters


def cached_ann_truth(path: str, data: np.ndarray, queries: np.ndarray, k: int):
    from qalsh_spark.sources.refdata import ground_truth_numpy

    if os.path.exists(path):
        with np.load(path) as z:
            return z["truth"]
    truth = ground_truth_numpy(data, queries, k=k, p=2.0)
    _save(path, truth=truth)
    return truth


def _save(path: str, **arrays) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp.npz"
    np.savez(tmp, **arrays)
    os.replace(tmp, path)
