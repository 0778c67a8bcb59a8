"""Generate golden oracle parquets for the non-SQL-expressible driver rows
(minhash_signatures / simhash_hamming_pairs / substring_pairs /
minhash_dedup_clusters / embedding_near_dup).

The reference persists its exact ground truth as binary artifacts
(write_ground_truth, /root/reference/methods/util.cc:63-78) and every later
run is judged against the file; this script is the same move for the
signature lanes: a SINGLE-PROCESS NumPy computation (qalsh_spark.kernels —
no Spark anywhere) over each testdata corpus, frozen into
golden/<name>.parquet with a `corpus_fp` column = md5 of the corpus texts in
doc_id order.  The DuckDB oracle SQL selects the rows whose corpus_fp
matches the live `documents` view, so one static SQL string serves every sf
directory, and a corpus the goldens don't know yields 0 rows (a loud
mismatch, never a silent pass).

Run: python scripts/make_golden.py   (rewrites golden/*.parquet)
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from qalsh_spark import kernels as K  # noqa: E402
from qalsh_spark.config import DedupConfig  # noqa: E402
from tests.oracle import pairs_with_cap, run_oracle  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
GOLDEN = os.path.join(REPO, "golden")

FP_DELIM = "\x01"


def corpus_fp(texts_in_doc_id_order: list[str]) -> str:
    return hashlib.md5(FP_DELIM.join(texts_in_doc_id_order).encode()).hexdigest()


def load_docs(sf_dir: str):
    """documents.parquet -> (orig_ids, texts) sorted by doc_id — mirrors
    sources.catalog.adapt_documents + the engine's md5-of-url doc_id mint."""
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
    order = np.argsort(t["doc_id"].to_numpy(), kind="stable")
    orig = t["doc_id"].to_numpy()[order]
    texts = np.asarray(t["text"].to_pylist(), dtype=object)[order]
    return orig, [x or "" for x in texts]


def embeddings_fp(sf_dir: str) -> tuple[str, np.ndarray, np.ndarray]:
    """(fingerprint, vec_ids, float32 matrix) for the embeddings table.

    The fingerprint is md5 over `vec_id|<csv of elements>` rows joined by
    chr(1) in vec_id order; DuckDB's `array_to_string(embedding, ',')` and
    numpy's float32 repr both emit shortest-round-trip decimals, so the SQL
    twin `md5(string_agg(vec_id || '|' || array_to_string(embedding, ','),
    chr(1) ORDER BY vec_id))` is byte-identical (verified at every sf)."""
    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = t["vec_id"].to_numpy()
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    emb = np.stack(
        [
            np.asarray(v, dtype=np.float32)
            for v in np.asarray(t["embedding"].to_pylist(), dtype=object)[order]
        ]
    )
    parts = [
        f"{int(i)}|" + ",".join(repr(np.float32(x)) for x in v)
        for i, v in zip(ids, emb)
    ]
    return hashlib.md5(FP_DELIM.join(parts).encode()).hexdigest(), ids, emb


def _spark_round(x: float, scale: int = 4) -> float:
    """Replicates Spark's F.round on a double: BigDecimal.valueOf(d) uses
    Double.toString's shortest round-trip repr (== Python repr), then
    setScale(scale, HALF_UP)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal(1).scaleb(-scale), rounding=decimal.ROUND_HALF_UP
        )
    )


def _dot_spark(a32: np.ndarray, b32: np.ndarray) -> float:
    """Replicates operators/ann._dot over array<float> columns bit-for-bit:
    zip_with's x*y multiplies in FLOAT (float32 rounding per product), then
    the aggregate fold accumulates left-to-right into a DOUBLE."""
    acc = 0.0
    for p in a32 * b32:  # float32 elementwise products
        acc += float(p)
    return acc


def build_neardup(sf_dir: str, threshold=0.4, m=24, bands=8, seed=6, cap=64) -> pa.Table:
    """Golden for q_embedding_near_dup: same SRP kernel call as the Spark
    UDF (kernels.srp_band_keys_matrix on float64), the same CAPPED bucket
    pairing as operators/pairs.candidate_pairs_from_buckets
    (tests/oracle.pairs_with_cap: buckets over `cap` members emit
    star-to-hub pairs, hub = min id, instead of all C(n,2)), and a bit-exact replication of the JVM cosine verify
    (float32 products + left-to-right double fold + HALF_UP round-4).
    Verified exact-equal to the live Spark output at every sf dir."""
    fp, ids, emb32 = embeddings_fp(sf_dir)
    X = emb32.astype(np.float64)
    planes = K.srp_planes(m, X.shape[1], seed)
    keys = K.srp_band_keys_matrix(X, planes, bands, m // bands)
    buckets: dict[int, list[int]] = {}
    for i, row in enumerate(keys):
        for key in row.tolist():
            buckets.setdefault(key, []).append(int(ids[i]))
    idx = {int(v): i for i, v in enumerate(ids)}
    rows = []
    for a, b in sorted(pairs_with_cap(buckets, cap)):
        va, vb = emb32[idx[a]], emb32[idx[b]]
        num = _dot_spark(va, vb)
        den = np.sqrt(_dot_spark(va, va)) * np.sqrt(_dot_spark(vb, vb))
        cos = num / den
        if cos >= threshold:
            rows.append((a, b, _spark_round(cos, 4)))
    return pa.table(
        {
            "emb_fp": [fp] * len(rows),
            "a": pa.array([r[0] for r in rows], pa.int64()),
            "b": pa.array([r[1] for r in rows], pa.int64()),
            "cos": pa.array([r[2] for r in rows], pa.float64()),
        }
    )


def build_clusters(sf_dir: str, cfg: DedupConfig) -> pa.Table:
    """Golden for the flagship q_minhash_dedup_clusters: the full
    single-process union-find oracle (tests/oracle.run_oracle — the same
    code the pipeline-parity pytest already holds the engine to exactly),
    frozen as (doc_id, cluster_id, cluster_size) keyed by corpus_fp."""
    import collections

    orig, texts = load_docs(sf_dir)
    fp = corpus_fp(list(texts))
    urls = [f"synthetic://doc/{int(o)}" for o in orig]
    res = run_oracle(urls, texts, cfg)
    sizes = collections.Counter(res.clusters.values())
    doc_ids = sorted(res.clusters)
    return pa.table(
        {
            "corpus_fp": [fp] * len(doc_ids),
            "doc_id": pa.array(doc_ids, pa.int64()),
            "cluster_id": pa.array([res.clusters[d] for d in doc_ids], pa.int64()),
            "cluster_size": pa.array(
                [sizes[res.clusters[d]] for d in doc_ids], pa.int64()
            ),
        }
    )


def build(sf_dir: str, cfg: DedupConfig):
    orig, texts = load_docs(sf_dir)
    fp = corpus_fp(list(texts))
    a, b = K.minhash_params(cfg.num_perm, cfg.minhash_seed)
    ids = np.array(
        [K.doc_id_from_url(f"synthetic://doc/{int(o)}") for o in orig], dtype=np.int64
    )

    sig_rows = {"doc_id": [], "n_tokens": [], "shingle_count": [], "simhash": []}
    sim_buckets: dict[int, list[int]] = {}
    suf_buckets: dict[int, list[int]] = {}
    fps: dict[int, int] = {}
    for d, text in zip(ids.tolist(), texts):
        s = K.sign_document(
            text, a, b, cfg.shingle_k, cfg.bands, cfg.rows,
            cfg.simhash_blocks, cfg.simhash_key_blocks,
        )
        sig_rows["doc_id"].append(d)
        sig_rows["n_tokens"].append(s["n_tokens"])
        sig_rows["shingle_count"].append(len(s["shingles"]))
        sig_rows["simhash"].append(s["simhash"])
        fps[d] = s["simhash"]
        for key in s["simhash_keys"].tolist():
            sim_buckets.setdefault(key, []).append(d)
        k1, _k2 = K.suffix_key_pairs_for_text(
            text, cfg.suffix_window, cfg.suffix_gap, cfg.lcp_min
        )
        for key in k1.tolist():
            suf_buckets.setdefault(key, []).append(d)

    # simhash lane: q_simhash_hamming_pairs = cap-64 bucket pairs, hamming<=3
    sim_pairs = []
    for x, y in sorted(pairs_with_cap(sim_buckets, 64)):
        ham = bin((fps[x] & 0xFFFFFFFFFFFFFFFF) ^ (fps[y] & 0xFFFFFFFFFFFFFFFF)).count("1")
        if ham <= cfg.hamming_max:
            sim_pairs.append((x, y, ham))

    # suffix lane: q_substring_pairs = cap-32 bucket pairs (pre-verified by
    # key equality), lane tag 'suffix'
    from qalsh_spark.operators.banding import SUFFIX_BUCKET_CAP

    suf_pairs = sorted(pairs_with_cap(suf_buckets, SUFFIX_BUCKET_CAP))

    n = len(ids)
    return {
        "minhash_signatures": pa.table(
            {
                "corpus_fp": [fp] * n,
                "doc_id": pa.array(sig_rows["doc_id"], pa.int64()),
                "n_tokens": pa.array(sig_rows["n_tokens"], pa.int32()),
                "shingle_count": pa.array(sig_rows["shingle_count"], pa.int32()),
                "simhash": pa.array(sig_rows["simhash"], pa.int64()),
            }
        ),
        "simhash_hamming_pairs": pa.table(
            {
                "corpus_fp": [fp] * len(sim_pairs),
                "a": pa.array([p[0] for p in sim_pairs], pa.int64()),
                "b": pa.array([p[1] for p in sim_pairs], pa.int64()),
                "hamming": pa.array([p[2] for p in sim_pairs], pa.int32()),
            }
        ),
        "substring_pairs": pa.table(
            {
                "corpus_fp": [fp] * len(suf_pairs),
                "a": pa.array([p[0] for p in suf_pairs], pa.int64()),
                "b": pa.array([p[1] for p in suf_pairs], pa.int64()),
                "lane": ["suffix"] * len(suf_pairs),
            }
        ),
    }


# --- approximate-ANN lanes (VERDICT r2 nit 4 continued): the four top-k
# queries are fully deterministic (seeded planes/centroids, (key, id) tie
# ranking), so the same freeze-the-NumPy-oracle move closes their rows-only
# driver gap.  Float discipline mirrors the JVM expressions bit-for-bit:
# the embedding column is cast to array<double> BEFORE every lane
# (queries.py), so products/sums are pure float64 with F.aggregate's
# left-to-right fold — `_fold_rows` below IS that fold, vectorized across
# rows instead of along them.


def _fold_rows(P: np.ndarray) -> np.ndarray:
    """Left-to-right float64 fold per row — bit-identical to operators/
    ann._dot's F.aggregate(acc + v) over array<double> columns."""
    acc = np.zeros(P.shape[0], dtype=np.float64)
    for j in range(P.shape[1]):
        acc = acc + P[:, j]
    return acc


def _cos_spark64(q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """operators/ann.cosine_sim over array<double>: dot/(norm_q*norm_c),
    each dot a left-to-right fold."""
    num = _fold_rows(C * q[None, :])
    sq = np.sqrt(_fold_rows((q * q)[None, :]))[0]
    sc = np.sqrt(_fold_rows(C * C))
    return num / (sq * sc)


def _l2_spark64(q: np.ndarray, C: np.ndarray) -> np.ndarray:
    """operators/ann.lp_dist(p=2) = sqrt(fold((x-y)*(x-y)))."""
    D = C - q[None, :]
    return np.sqrt(_fold_rows(D * D))


def _rank_topk(ids, scores, k, desc):
    """(score desc|asc, id asc) row_number ranking, exactly the Window
    ordering every ANN lane uses."""
    key = (lambda i: (-scores[i], ids[i])) if desc else (
        lambda i: (scores[i], ids[i])
    )
    order = sorted(range(len(ids)), key=key)
    return [(int(ids[i]), float(scores[i]), r + 1) for r, i in enumerate(order[:k])]


def _ann_table(fp: str, rows: list, score_name: str) -> pa.Table:
    return pa.table(
        {
            "emb_fp": [fp] * len(rows),
            "qid": pa.array([r[0] for r in rows], pa.int64()),
            "neighbor_id": pa.array([r[1] for r in rows], pa.int64()),
            score_name: pa.array([r[2] for r in rows], pa.float64()),
            "rank": pa.array([r[3] for r in rows], pa.int32()),
        }
    )


def build_ann_lanes(sf_dir: str) -> dict[str, pa.Table]:
    """Golden tables for q_{lsh,ivf,qalsh_plus,pstable}_ann_topk and
    q_ann_recall_eval — single-process replays of the exact operator
    compositions in operators/ann.py / operators/drusilla.py, sharing the
    same qalsh_spark.kernels calls the Arrow UDFs make (planes, quantized
    keys and cells, Drusilla selection), with the JVM rescoring fold
    replicated by `_fold_rows`.  Query protocol is the queries.py one:
    queries = vec_id < 10, k = 5 (100 for the recall sweep's approx
    input)."""
    from collections import defaultdict

    fp, ids, emb32 = embeddings_fp(sf_dir)
    X = emb32.astype(np.float64)
    n, d = X.shape
    qsel = np.nonzero(ids < 10)[0]

    def topk_rows(cand_idx_per_q, score_fn, k, desc, round_to=3):
        rows = []
        for qi in qsel:
            cidx = cand_idx_per_q[int(ids[qi])]
            if not cidx:
                continue
            cidx = sorted(cidx)
            scores = score_fn(X[qi], X[np.array(cidx)])
            nbr = ids[np.array(cidx)]
            for nid, s, r in _rank_topk(nbr, scores, k, desc):
                rows.append((int(ids[qi]), nid, _spark_round(s, round_to), r))
        return rows

    out: dict[str, pa.Table] = {}

    # --- lsh_ann_topk: SRP m=16 bands=4 seed=6, >=1 shared band, cosine
    planes = K.srp_planes(16, d, 6)
    keys = K.srp_band_keys_matrix(X, planes, 4, 4)
    buckets: dict[int, list[int]] = defaultdict(list)
    for i in range(n):
        for key in keys[i].tolist():
            buckets[key].append(i)
    lsh_cand = {
        int(ids[qi]): set().union(*(buckets[k_] for k_ in keys[qi].tolist()))
        for qi in qsel
    }
    out["lsh_ann_topk"] = _ann_table(
        fp, topk_rows(lsh_cand, _cos_spark64, 5, desc=True), "cos"
    )

    def pstable_rows(w, m, l, max_r=1, c=2.0):
        """operators/ann.pstable_topk (p=2, seed 6) in frozen NumPy form:
        raw floor cells once, arithmetic >> r per round, candidates =
        (j, cell) collision count >= l, exact l2 rescoring, certificate
        kth <= c * radius * 2^r with radius = w / pstable_w(c, 2) — the
        reference's geometric radius growth + stop rule (methods/qalsh.h:
        844-871, 478-479).  The last round emits best-so-far, so
        max_r=1 is the single pass."""
        cells = K.pstable_cells_matrix(
            X, K.pstable_planes(m, d, 2.0, 6), K.pstable_offsets(m, w, 6), w
        )
        radius0 = w / K.pstable_w(c, 2.0)
        pending_rows = [int(qi) for qi in qsel]
        rows: list[tuple] = []
        for rr in range(max_r):
            if not pending_rows:
                break
            shifted = cells >> rr
            cert = c * radius0 * (2.0**rr)
            still = []
            for qi in pending_rows:
                coll = (shifted == shifted[qi][None, :]).sum(axis=1)
                cidx = np.nonzero(coll >= l)[0]
                scored = (
                    _rank_topk(ids[cidx], _l2_spark64(X[qi], X[cidx]), 5, desc=False)
                    if len(cidx)
                    else []
                )
                certified = len(scored) >= 5 and scored[-1][1] <= cert
                if certified or rr == max_r - 1:
                    rows.extend(
                        (int(ids[qi]), nid, _spark_round(s, 3), rk)
                        for nid, s, rk in scored
                    )
                else:
                    still.append(qi)
            pending_rows = still
        return rows

    # --- pstable_ann_topk: Gaussian p=2, w=3.2, m=32, collision count
    # >= 16 (the reference's freq>l rule), one round
    out["pstable_ann_topk"] = _ann_table(fp, pstable_rows(3.2, 32, 16), "l2")

    # --- pstable_auto_ann_topk: the FULLY auto-tuned p-stable lane —
    # (c=2, p=2, radius=1.2) only; w = radius * pstable_w, m from the
    # reference's formula pstable_m(c, p, n) (methods/qalsh.h:228-235),
    # min_collisions = ceil(alpha * m).  Expressions replicate
    # operators/ann.pstable_topk's auto path verbatim (same float
    # round-trips) so the frozen rows are bit-exact.
    c_a, p_a, radius_a = 2.0, 2.0, 1.2
    w_a = float(radius_a) * K.pstable_w(c_a, p_a)
    m_a = K.pstable_m(c_a, p_a, n, w=w_a / radius_a)
    l_a = max(1, int(np.ceil(K.pstable_alpha(p_a, w_a / radius_a, c_a) * m_a)))
    out["pstable_auto_ann_topk"] = _ann_table(fp, pstable_rows(w_a, m_a, l_a), "l2")

    # --- pstable_rehash_ann_topk: the same lane at a deliberately small
    # w0 = 0.8 (1/4 of the single-pass lane's 3.2, so the first rounds
    # under-fill and the loop is actually exercised), max 6 rounds
    out["pstable_rehash_ann_topk"] = _ann_table(
        fp, pstable_rows(0.8, 32, 16, max_r=6), "l2"
    )

    # --- ivf_ann_topk: seeded-sample centroids (first-1024-by-id sample,
    # rng(6) choice), nearest-cell assign, nprobe=4, cosine rescore
    def centroids(n_cells):
        sample = X[: min(n, 1024)]
        rng = np.random.default_rng(6)
        idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
        return sample[idx]

    def cell_assign(M, cents, top):
        c2 = (cents**2).sum(axis=1)
        d2 = -2.0 * (M @ cents.T) + c2[None, :]
        if top == 1:
            return d2.argmin(axis=1)[:, None]
        return np.argsort(d2, axis=1, kind="stable")[:, :top]

    cents16 = centroids(16)
    vcell16 = cell_assign(X, cents16, 1)[:, 0]
    qcell16 = cell_assign(X[qsel], cents16, 4)
    members16: dict[int, list[int]] = defaultdict(list)
    for i, c in enumerate(vcell16.tolist()):
        members16[c].append(i)
    ivf_cand = {
        int(ids[qi]): set().union(
            *(members16[c] for c in qcell16[j].tolist())
        )
        for j, qi in enumerate(qsel)
    }
    out["ivf_ann_topk"] = _ann_table(
        fp, topk_rows(ivf_cand, _cos_spark64, 5, desc=True), "cos"
    )

    # --- qalsh_plus_ann_topk: 8 cells, per-cell Drusilla reps (4x8),
    # top-100 sample votes -> probe 4 cells, cosine rescore
    cents8 = centroids(8)
    vcell8 = cell_assign(X, cents8, 1)[:, 0]
    members8: dict[int, list[int]] = defaultdict(list)
    for i, c in enumerate(vcell8.tolist()):
        members8[c].append(i)
    rep_idx: list[tuple[int, int]] = []  # (cell, row)
    for c in sorted(members8):
        rows_c = np.array(members8[c])  # ascending row index == ascending id
        sel = K.drusilla_select(X[rows_c], 4, 8)
        rep_idx.extend((c, int(rows_c[s])) for s in sel)
    qp_rows = []
    for qi in qsel:
        rrows = np.array([r for _, r in rep_idx])
        rscores = _cos_spark64(X[qi], X[rrows])
        rids = ids[rrows]
        order = sorted(
            range(len(rep_idx)), key=lambda i: (-rscores[i], rids[i])
        )[:100]
        votes: dict[int, int] = defaultdict(int)
        for i in order:
            votes[rep_idx[i][0]] += 1
        probe = sorted(votes, key=lambda c: (-votes[c], c))[:4]
        cand = sorted(set().union(*(members8[c] for c in probe)))
        scores = _cos_spark64(X[qi], X[np.array(cand)])
        for nid, s, r in _rank_topk(ids[np.array(cand)], scores, 5, desc=True):
            qp_rows.append((int(ids[qi]), nid, _spark_round(s, 3), r))
    out["qalsh_plus_ann_topk"] = _ann_table(fp, qp_rows, "cos")

    # --- ann_recall_eval: recall@k + distance ratio of the SRP lane vs
    # exact cosine truth, k sweep {1,2,5,10,20,50,100} (queries.
    # ann_recall_sweep semantics: position-wise ratio over 1-cos, exact-
    # dist-0 positions excluded, avg ignores null ratios)
    topks = [1, 2, 5, 10, 20, 50, 100]
    truth = {}
    for qi in qsel:
        scores = _cos_spark64(X[qi], X)
        truth[int(ids[qi])] = _rank_topk(ids, scores, 100, desc=True)
    appr = {}
    for qi in qsel:
        cidx = sorted(lsh_cand[int(ids[qi])])
        scores = _cos_spark64(X[qi], X[np.array(cidx)])
        appr[int(ids[qi])] = _rank_topk(ids[np.array(cidx)], scores, 100, desc=True)
    sweep_rows = []
    for k in topks:
        recalls, ratios = [], []
        for qi in qsel:
            q = int(ids[qi])
            t_by_id = {nid: r for nid, _s, r in truth[q]}
            a_by_id = {nid: r for nid, _s, r in appr[q]}
            hits = sum(
                1
                for nid, rt in t_by_id.items()
                if rt <= k and a_by_id.get(nid, 10**9) <= k
            )
            recalls.append(hits / k)
            t_by_rank = {r: 1.0 - s for _nid, s, r in truth[q]}
            a_by_rank = {r: 1.0 - s for _nid, s, r in appr[q]}
            rs = [
                a_by_rank[i] / t_by_rank[i]
                for i in range(1, k + 1)
                if i in t_by_rank and i in a_by_rank and t_by_rank[i] > 0
            ]
            if rs:
                ratios.append(sum(rs) / len(rs))
        avg_ratio = (
            _spark_round(sum(ratios) / len(ratios), 4) if ratios else None
        )
        sweep_rows.append(
            (k, len(recalls), _spark_round(sum(recalls) / len(recalls), 4), avg_ratio)
        )
    out["ann_recall_eval"] = pa.table(
        {
            "emb_fp": [fp] * len(sweep_rows),
            "k": pa.array([r[0] for r in sweep_rows], pa.int32()),
            "n_queries": pa.array([r[1] for r in sweep_rows], pa.int64()),
            "avg_recall": pa.array([r[2] for r in sweep_rows], pa.float64()),
            "avg_ratio": pa.array([r[3] for r in sweep_rows], pa.float64()),
        }
    )
    return out


def main() -> None:
    cfg = DedupConfig()
    acc: dict[str, list] = {}
    for sf in SF_DIRS:
        if not os.path.exists(os.path.join(sf, "documents.parquet")):
            print(f"skip {sf} (absent)")
            continue
        tables = build(sf, cfg)
        tables["minhash_dedup_clusters"] = build_clusters(sf, cfg)
        tables["embedding_near_dup"] = build_neardup(sf)
        tables.update(build_ann_lanes(sf))
        for name, t in tables.items():
            acc.setdefault(name, []).append(t)
        print(f"{sf}: " + ", ".join(f"{k}={v.num_rows}" for k, v in tables.items()))
    os.makedirs(GOLDEN, exist_ok=True)
    for name, parts in acc.items():
        out = pa.concat_tables(parts)
        pq.write_table(out, os.path.join(GOLDEN, f"{name}.parquet"))
        print(f"wrote golden/{name}.parquet rows={out.num_rows}")


if __name__ == "__main__":
    main()
