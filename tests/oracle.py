"""Single-process NumPy/pandas oracle for the dedup pipeline.

Plays the role of the reference's `-alg 0` exact ground truth
(/root/reference/methods/ann.h:17-48, README.md:55 "run ground truth first"):
a small, obviously-correct implementation of the SAME logical pipeline —
same kernels module, same banding, same per-lane acceptance rules, same
bucket cap/star discipline — against which the Spark engine must achieve
dup-pair recall >= 0.99 (BASELINE.json).  Because qalsh_spark.kernels is
shared verbatim, any Spark/oracle divergence is a genuine engine bug, never
hash drift.
"""

from __future__ import annotations

import collections
from dataclasses import dataclass, field

import numpy as np

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig
from qalsh_spark.functions.signatures import extract_text_bytes


class UnionFind:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x, p = p, self.parent[p]
        return p

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra


@dataclass
class OracleResult:
    doc_ids: np.ndarray
    signatures: dict[int, dict]
    pairs: set[tuple[int, int, str]] = field(default_factory=set)
    edges: set[tuple[int, int]] = field(default_factory=set)
    clusters: dict[int, int] = field(default_factory=dict)  # doc_id -> cluster_id


def run_oracle(
    urls: list[str],
    texts: list[str],
    cfg: DedupConfig | None = None,
    htmls: list[bytes] | None = None,
    enable_suffix: bool = True,
    enable_simhash: bool = True,
) -> OracleResult:
    cfg = cfg or DedupConfig()
    a, b = K.minhash_params(cfg.num_perm, cfg.minhash_seed)
    n = len(urls)
    if htmls is not None:
        texts = [extract_text_bytes(h) for h in htmls]

    # Shared id space with the engine: doc_id = md5(url) prefix as int64.
    ids = [K.doc_id_from_url(u) for u in urls]
    assert len(set(ids)) == n, "doc_id collision in oracle input"
    texts = [t or "" for t in texts]
    by_id = dict(zip(ids, texts))

    # --- exact-group pre-pass (plans/pipeline.py parity) ----------------
    # Byte-identical texts collapse to one representative (min doc_id);
    # members wire to the representative with pre-verified edges, and only
    # representatives enter the LSH lanes.
    groups: dict[str, list[int]] = collections.defaultdict(list)
    for d, t in zip(ids, texts):
        groups[t].append(d)
    exact_edges: set[tuple[int, int]] = set()
    rep_ids: list[int] = []
    for t, members in groups.items():
        rep = min(members)
        rep_ids.append(rep)
        for m in members:
            if m != rep:
                exact_edges.add((rep, m))

    # --- sign (representatives only) ------------------------------------
    sigs: dict[int, dict] = {}
    for d in rep_ids:
        sigs[d] = K.sign_document(
            by_id[d],
            a,
            b,
            cfg.shingle_k,
            cfg.bands,
            cfg.rows,
            cfg.simhash_blocks,
            cfg.simhash_key_blocks,
        )

    # --- bucket (minhash + simhash lanes) ------------------------------
    buckets: dict[str, dict[tuple, list[int]]] = {
        "minhash": collections.defaultdict(list),
        "simhash": collections.defaultdict(list),
    }
    for d in rep_ids:
        for band_id, key in enumerate(sigs[d]["band_keys"]):
            buckets["minhash"][(band_id, int(key))].append(d)
        if enable_simhash:
            for band_id, key in enumerate(sigs[d]["simhash_keys"]):
                buckets["simhash"][(band_id, int(key))].append(d)

    # --- pairs with the cap/star rule (operators/pairs.py parity) ------
    pairs: set[tuple[int, int, str]] = set()
    for lane, lane_buckets in buckets.items():
        pairs |= {
            (x, y, lane) for x, y in pairs_with_cap(lane_buckets, cfg.bucket_cap)
        }

    # --- suffix lane (operators/banding.LANE_SUFFIX parity) -------------
    # Bucket key = k1 hash of the lcp_min bytes after each content-defined
    # anchor; edge acceptance later requires the full (k1, k2) tuple to
    # match (128-bit test, kernels.suffix_key_pairs_for_text).
    suffix_tuples: dict[int, set[tuple[int, int]]] = {}
    if enable_suffix:
        sbuckets: dict[int, list[int]] = collections.defaultdict(list)
        for d in rep_ids:
            k1s, k2s = K.suffix_key_pairs_for_text(
                by_id[d], cfg.suffix_window, cfg.suffix_gap, cfg.lcp_min
            )
            suffix_tuples[d] = set(zip(k1s.tolist(), k2s.tolist()))
            for k in k1s:
                sbuckets[int(k)].append(d)
        from qalsh_spark.operators.banding import SUFFIX_BUCKET_CAP

        pairs |= {
            (x, y, "suffix") for x, y in pairs_with_cap(sbuckets, SUFFIX_BUCKET_CAP)
        }

    # --- verify (operators/verify.py per-lane rules) --------------------
    edges: set[tuple[int, int]] = set(exact_edges)
    for x, y, lane in pairs:
        if lane_accepts(
            lane, sigs[x], sigs[y],
            suffix_tuples.get(x, set()), suffix_tuples.get(y, set()), cfg,
        ):
            edges.add((x, y))

    # --- cluster (union-find == exact connected components) -------------
    uf = UnionFind()
    for d in ids:
        uf.find(d)
    for x, y in edges:
        uf.union(x, y)
    clusters = {d: uf.find(d) for d in ids}

    return OracleResult(
        doc_ids=np.array(ids, dtype=np.int64), signatures=sigs, pairs=pairs,
        edges=edges, clusters=clusters,
    )


def pairs_with_cap(buckets: dict, cap: int) -> set[tuple[int, int]]:
    """operators/pairs.py's cap/star rule, single-process: a bucket of at
    most `cap` distinct members emits all its (a < b) pairs; a larger one
    emits a star from its hub (min doc_id) to every other member."""
    out: set[tuple[int, int]] = set()
    for members in buckets.values():
        ms = sorted(set(members))
        if len(ms) <= cap:
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    out.add((ms[x], ms[y]))
        else:
            hub = ms[0]
            for m in ms[1:]:
                out.add((hub, m))
    return out


def hamming64(x: int, y: int) -> int:
    return bin(
        np.uint64(np.int64(x).astype(np.uint64))
        ^ np.uint64(np.int64(y).astype(np.uint64))
    ).count("1")


def lane_accepts(
    lane: str, sx: dict, sy: dict, tx: set, ty: set, cfg: DedupConfig
) -> bool:
    """operators/verify.py's acceptance rule for one candidate pair on
    `lane`, from the two docs' signatures (`sx`, `sy`, as
    kernels.sign_document returns them) and (k1, k2) suffix tuples."""
    if lane == "suffix":
        return bool(tx & ty)
    if lane == "simhash":
        return hamming64(sx["simhash"], sy["simhash"]) <= cfg.hamming_max
    jac = K.jaccard_sorted(
        sx["shingles"].view(np.uint64), sy["shingles"].view(np.uint64)
    )
    return jac >= cfg.jaccard_threshold


def cluster_pairs(clusters: dict[int, int]) -> set[tuple[int, int]]:
    """All intra-cluster doc pairs — the recall unit of BASELINE.json
    ('dup-pair recall >= 0.99 vs reference clusters')."""
    groups: dict[int, list[int]] = collections.defaultdict(list)
    for d, c in clusters.items():
        groups[c].append(d)
    out: set[tuple[int, int]] = set()
    for mem in groups.values():
        mem.sort()
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                out.add((mem[i], mem[j]))
    return out


def dup_pair_recall(
    found: set[tuple[int, int]], truth: set[tuple[int, int]]
) -> float:
    if not truth:
        return 1.0
    return len(found & truth) / len(truth)
