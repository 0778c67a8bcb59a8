"""Approximate / exact nearest-neighbor search over an embedding column —
the direct parity lane with the reference's c-k-ANNS mission
(/root/reference/methods/qalsh.h:25-32, README.md:5-9).

Input contract, every lane: `vectors(vec_id bigint, embedding
array<double>)` and `queries(qid bigint, qvec array<double>)`; extra
columns are ignored.  Output, every lane: `(qid, neighbor_id, score,
rank)`, at most k rows per query.

Shared final step (the reference's one k-NN list and one distance
dispatch, methods/pri_queue.cc:51-80 and util.h:388-464):
  - `resolve_metric` maps "cosine" to None and "l2" / "l1" / a float p to
    the l_p exponent;
  - `rescore` turns candidate pairs `(qid, vec_id)` into scored rows: join
    `vectors`, broadcast-join `queries`, score JVM-side (zip_with /
    aggregate, whole-stage codegen);
  - `rank_topk` keeps the top k per query under (score, neighbor_id)
    ordering — score descending for cosine, ascending for l_p.

Lanes:
  1. `brute_force_topk` — exact top-k under cosine / l2 / the reference's
     full l_p family (p in {0.5, 1, 2}, /root/reference/methods/util.h:280-464),
     the analog of the ground-truth linear scan `-alg 0` / `-alg 5`
     (the reference's methods/ann.h:17-48, 52-103): the scorer over
     `queries.crossJoin(vectors)`, O(n*q) by design.
     `brute_force_topk_blocked` is its scale path (map-side local top-k).
  2. `random_projection_buckets` + `lsh_topk` — the QALSH concept mapping:
     project every vector onto m seeded random hyperplanes (sign bits =
     SRP-LSH, the cosine analog of the p-stable projection at
     methods/qalsh.h:118-120), bucket by per-band sign keys, and only score
     candidates that collide in >= 1 band (the collision-count filter,
     methods/qalsh.h:442-447).
  3. `pstable_topk` — the reference's own hash family for l_p, 0 < p <= 2:
     raw quantized p-stable cells signed once, the collision-count rule,
     and virtual rehashing (methods/qalsh.h:844-871) as one plan: rounds
     nest, so one join at the coarsest grid yields every round's
     collision counts, and each query keeps its first certified round
     (the price: every query is joined at the coarsest grid).  A single
     pass is the one-round case.
  4. `ivf_topk` — IVF-style: seeded-sample centroids, route each vector to
     its nearest centroid, probe the closest `nprobe` cells per query — the
     scale path for 100 TB embedding tables (the analog of QALSH+'s kd-tree
     block ranking, methods/qalsh_plus.h:230-250, 568-598).

Scale discipline:
  - SRP / p-stable signing and IVF cell assignment are Arrow-batched
    pandas UDFs doing one NumPy matmul per batch (same discipline as the
    document signing stage).  The plane/centroid matrices live in the UDF
    closure — they are NEVER baked into the plan as literals, and the
    vector dimension is read from the data at execution time (no
    driver-side `.first()` probe, no blocking job during plan
    construction).
  - Cell assignment is per-row math against a broadcast-by-closure matrix:
    ZERO shuffle of the big side (the previous window-over-crossJoin design
    shuffled and sorted n x n_cells rows).
  - The query side is small by protocol and always broadcast explicitly,
    so the big side is never shuffled for candidate discovery.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from qalsh_spark import kernels as K

# bound on the driver-collected query side of brute_force_topk_blocked
MAX_QUERIES = 100_000
# rows collected on the driver to draw IVF / QALSH+ centroids from
CENTROID_SAMPLE = 1024


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_sim(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def l2_sqr(a, b):
    """Exact squared L2 — the vectorized stand-in for the reference's
    unrolled early-exit kernel (/root/reference/methods/util.h:211-276)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l1_dist(a, b):
    """Exact L1 (/root/reference/methods/util.h:280-330) — JVM zip_with."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def lp_dist(a, b, p: float):
    """General l_p distance for 0 < p <= 2 — the reference's calc_lp_dist
    dispatch (/root/reference/methods/util.h:388-464: l_0.5 at 334-384,
    l_1 at 280-330, l_2 at 211-276, generic pow elsewhere)."""
    if p == 2.0:
        return F.sqrt(l2_sqr(a, b))
    if p == 1.0:
        return l1_dist(a, b)
    acc = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.pow(F.abs(x - y), F.lit(p))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.pow(acc, F.lit(1.0 / p))


def resolve_metric(metric: str | float) -> float | None:
    """"cosine" -> None (similarity); "l2" / "l1" / a float p -> the l_p
    exponent p (distance)."""
    if metric == "cosine":
        return None
    return float({"l2": 2.0, "l1": 1.0}.get(metric, metric))


def _score(pairs: DataFrame, p: float | None, *carry: str) -> DataFrame:
    """Rows carrying (qid, vec_id, qvec, embedding) -> (qid, neighbor_id,
    score, *carry): cosine similarity when p is None, else l_p distance."""
    if p is None:
        score = cosine_sim(F.col("qvec"), F.col("embedding"))
    else:
        score = lp_dist(F.col("qvec"), F.col("embedding"), p)
    return pairs.select(
        "qid", F.col("vec_id").alias("neighbor_id"), score.alias("score"), *carry
    )


def rescore(
    cand: DataFrame, vectors: DataFrame, queries: DataFrame, p: float | None
) -> DataFrame:
    """Candidate pairs cand(qid, vec_id, ...) -> exactly scored (qid,
    neighbor_id, score, ...): join the vectors, broadcast-join the (small
    by protocol) queries, score JVM-side.  Other columns of `cand` ride
    along."""
    joined = cand.join(vectors.select("vec_id", "embedding"), on="vec_id").join(
        F.broadcast(queries.select("qid", "qvec")), on="qid"
    )
    return _score(joined, p, *(c for c in cand.columns if c not in ("qid", "vec_id")))


def rank_topk(
    scored: DataFrame, k: int, p: float | None, by: tuple = ("qid",)
) -> DataFrame:
    """(qid, neighbor_id, score) -> the top k per query (per `by` key)
    with a `rank` column, ordered (score, neighbor_id): score descending
    for cosine (p None), ascending for l_p — the reference's (dist, id)
    ordering (the reference's methods/pri_queue.cc:51-80)."""
    by_score = F.desc("score") if p is None else F.asc("score")
    w = Window.partitionBy(*by).orderBy(by_score, F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str | float = "cosine",
) -> DataFrame:
    """Exact top-k per query: every (query, vector) pair scored.
    `metric`: "cosine" or "l2" / "l1" / a float p for l_p distance."""
    p = resolve_metric(metric)
    return rank_topk(_score(queries.crossJoin(vectors), p), k, p)


def brute_force_topk_blocked(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str | float = 2.0,
    round_f32: bool = False,
) -> DataFrame:
    """Exact top-k per query — the SCALE path for ground-truth generation
    (the reference's linear scan, /root/reference/methods/ann.h:52-103 +
    util.h:465-484 kNN_search), replacing brute_force_topk's q x n crossJoin
    with map-side reduction:

      - the (small-by-protocol, at most MAX_QUERIES rows) query matrix is
        collected once and broadcast BY CLOSURE into an Arrow-batched
        mapInPandas over the vector table — the big side is scanned once,
        never shuffled, never crossJoin-exploded;
      - each batch computes its (batch x qn) distance matrix with one BLAS
        op and emits only its LOCAL top-k per query, so the shuffle carries
        n_batches * qn * k slim rows instead of n * qn;
      - `rank_topk` keeps the global top-k.

    Ordering is (key ASC, id ASC) — ties on the key the reference stores
    (float32 when round_f32=True), insertion order otherwise — matching
    MinK_List semantics (/root/reference/methods/pri_queue.cc:66-79).

    `round_f32=True` rounds every distance to float32 BEFORE ranking,
    reproducing the reference's stored keys bit-exactly for integer-valued
    inputs (sums of squares are exact integers < 2^53 in float64, and the
    final float32 rounding commutes with sqrt — see sources/refdata.py).
    For p=2 the expanded form |x|^2 - 2 x.q + |q|^2 (one BLAS op) picks
    each batch's local top-k, and the direct form sqrt(sum((x - q)^2))
    gives the score of the picked rows; `round_f32` rounds that score.  For
    integer-valued data both forms are exact.  For float data the
    selection can differ from the direct form's only among candidates
    whose distances lie within about sqrt(eps) * (|x| + |q|) of the k-th;
    the expanded form's cancellation never reaches the score, so a zero
    distance reads 0."""
    qpd = queries.select("qid", "qvec").limit(MAX_QUERIES + 1).toPandas()
    if len(qpd) > MAX_QUERIES:
        raise ValueError(
            f"brute_force_topk_blocked: query side exceeds {MAX_QUERIES} rows"
        )
    qids = qpd["qid"].to_numpy().astype(np.int64)
    Q = np.stack(qpd["qvec"].to_numpy()).astype(np.float64)
    p = resolve_metric(metric)
    cosine = p is None
    if cosine:
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def f32(a):
        return a.astype(np.float32).astype(np.float64) if round_f32 else a

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy().astype(np.int64)
            if cosine:
                S = (X / np.linalg.norm(X, axis=1, keepdims=True)) @ Qn.T
                score = f32(S)
                key = -score  # rank descending similarity as ascending key
            elif p == 2.0:
                d2 = (
                    (X * X).sum(axis=1)[:, None]
                    - 2.0 * (X @ Q.T)
                    + (Q * Q).sum(axis=1)[None, :]
                )
                key = f32(np.sqrt(np.maximum(d2, 0.0)))  # selection only
            else:
                score = np.empty((len(X), len(Q)))
                for j in range(len(Q)):
                    ad = np.abs(X - Q[j][None, :])
                    acc = ad.sum(axis=1) if p == 1.0 else (ad**p).sum(axis=1)
                    score[:, j] = acc if p == 1.0 else acc ** (1.0 / p)
                score = key = f32(score)
            kk = min(k, len(X))
            out_q, out_i, out_s = [], [], []
            for j in range(len(Q)):
                top = np.lexsort((ids, key[:, j]))[:kk]
                out_q.append(np.full(kk, qids[j], dtype=np.int64))
                out_i.append(ids[top])
                if p == 2.0:
                    # direct form on the kk picked rows: the expanded form's
                    # cancellation leaves ~sqrt(eps)*|x| at distance 0
                    out_s.append(f32(np.sqrt(((X[top] - Q[j]) ** 2).sum(axis=1))))
                else:
                    out_s.append(score[top, j])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_i),
                    "score": np.concatenate(out_s),
                }
            )

    local = vectors.select("vec_id", "embedding").mapInPandas(
        gen, schema="qid long, neighbor_id long, score double"
    )
    return rank_topk(local, k, p)


def srp_band_keys_udf(m: int, bands: int, rows: int, seed: int = 6):
    """Arrow-batched SRP signing: embedding -> array<long> of per-band sign
    keys.  One `X @ planes.T` BLAS matmul per batch (kernels.
    srp_band_keys_matrix); the plane matrix is generated lazily inside the
    UDF from (seed, d) at first batch, so the vector dimension never has to
    be probed driver-side and no literals enter the plan."""
    assert bands * rows == m, "bands*rows must equal m"
    state: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy()).astype(np.float64)
        d = X.shape[1]
        planes = state.get(d)
        if planes is None:
            planes = state[d] = K.srp_planes(m, d, seed)
        keys = K.srp_band_keys_matrix(X, planes, bands, rows)
        return pd.Series(list(keys))

    return _udf


def random_projection_buckets(
    vectors: DataFrame, m: int = 16, bands: int = 4, seed: int = 6
) -> DataFrame:
    """(vec_id, band_key) bucket rows from SRP sign bands — the
    embedding-space twin of operators/banding.py.  The band index is mixed
    into each key by the kernel, so the bucket join keys on band_key alone
    (slim 16-byte rows)."""
    sig = vectors.select(
        "vec_id",
        srp_band_keys_udf(m, bands, m // bands, seed)(F.col("embedding")).alias("keys"),
    )
    return sig.select("vec_id", F.explode("keys").alias("band_key"))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    bands: int = 4,
    seed: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing >= 1 SRP band with the
    query (collision filter), then exact cosine on the candidates."""
    vb = random_projection_buckets(vectors, m, bands, seed)
    qb = random_projection_buckets(
        queries.select(F.col("qid").alias("vec_id"), F.col("qvec").alias("embedding")),
        m, bands, seed,
    ).withColumnRenamed("vec_id", "qid")
    # the query side is small by protocol: broadcast EXPLICITLY so the
    # big side is never shuffled for discovery at any table size (the
    # auto-threshold depends on size estimates that blow up on UDF
    # projections over a 100 TB scan)
    cand = (
        vb.join(F.broadcast(qb), on="band_key")
        .select("qid", "vec_id")
        .distinct()
    )
    return rank_topk(rescore(cand, vectors, queries, None), k, None)


def pstable_cells_udf(m: int, p: float, w: float, seed: int = 6):
    """Arrow-batched RAW-cell signing: embedding -> array<long> of the m
    unmixed quantized cells floor((a_i . x + b_i) / w), a_i drawn from the
    reference's p-stable family (Gaussian p=2 / Cauchy p=1 / Levy p=0.5,
    the reference's methods/qalsh.h:238-244).  One BLAS matmul per batch;
    the plane matrix is generated lazily from (seed, d) at first batch —
    no plan literals, no driver-side dimension probe.  The cells stay
    arithmetic, so virtual rehashing can double the bucket width r
    times with a plain `shiftright(cell, r)` on the ALREADY-SIGNED data
    — no re-projection, no second scan of the raw vectors (the quantized
    analog of the reference growing its search radius in place over the
    same B+-tree projections, methods/qalsh.h:844-871)."""
    offsets = K.pstable_offsets(m, w, seed)
    state: dict[int, np.ndarray] = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy()).astype(np.float64)
        d = X.shape[1]
        planes = state.get(d)
        if planes is None:
            planes = state[d] = K.pstable_planes(m, d, p, seed)
        cells = K.pstable_cells_matrix(X, planes, offsets, w)
        return pd.Series(list(cells))

    return _udf


def pstable_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    p: float = 2.0,
    w: float | None = None,
    radius: float | None = None,
    c: float = 2.0,
    m: int | None = None,
    min_collisions: int | None = None,
    seed: int = 6,
    max_rounds: int = 1,
    persists: list | None = None,
) -> DataFrame:
    """Approximate l_p top-k via quantized p-stable LSH with the reference's
    COLLISION-COUNT candidate rule: a point is a candidate only when it
    shares the same quantized cell with the query in >= min_collisions of
    the m projections (`freq[id] > l_`, /root/reference/methods/qalsh.h:
    442-447 with l_ = ceil(alpha*m) at :232-235), then exact l_p rescoring
    JVM-side with (dist ASC, id ASC) ranking.  Completes the conceptual
    QALSH mapping for non-cosine metrics: the SRP lane covers angular
    similarity only, while the reference's core is p-stable projection for
    p in (0, 2] (methods/qalsh.h:118-120).  Counting beats >=1-band
    bucketing by an order of magnitude in selectivity on low-contrast data
    (measured on the reference's Mnist: recall .989 at 12% candidates vs
    .94 at 40% for 2-row bands at equal recall budget).

    Bucket width: pass `w` directly (data-scale), or `radius` (target
    near-neighbor distance): w = radius * kernels.pstable_w(c, p), the
    reference's auto-tuned unit-radius width (methods/qalsh.h:197-226)
    scaled to the data.  m=None (default) auto-tunes the projection
    count from (c, p, n) with the reference's own formula
    (kernels.pstable_m, methods/qalsh.h:228-235) at the cost of one
    vectors.count() at plan build; min_collisions defaults to the
    reference's alpha*m with alpha from the collision-probability
    midpoint (kernels.pstable_alpha).

    Virtual rehashing (methods/qalsh.h:844-871, stop rule :478-479) as
    ONE plan over R = max(1, max_rounds) rounds.  Round r uses the cells
    `shiftright(cell, r)` — an exact halving of the grid, bucket width
    w * 2^r — and the rounds nest: a projection that collides at round r
    collides at every later round.  The grid ratio is therefore 2, while
    the reference grows the radius by `c`; `c != 2` with `max_rounds > 1`
    raises ValueError rather than run a schedule it does not implement.
    So:

      - discovery: both sides are signed once (pstable_cells_udf) and
        joined once, query cells broadcast, on `(j, cell >> (R-1))`, the
        coarsest grid; each hit's first collision round is the number of
        finer grids on which its cells still differ;
      - one groupBy(qid, vec_id) (the distributed freq[] counter) yields
        the per-round counts n_r, non-decreasing in r; the candidate's
        entry round is the first r with n_r >= min_collisions, which
        stays FIXED across rounds as the reference's l_ does (the target
        radius doubles WITH the width, so the collision probability at
        the round-r radius under the round-r width is unchanged);
      - each candidate is rescored once (`rescore`) and counted in every
        round from its entry round on; `rank_topk` ranks the top k per
        (qid, round);
      - a query STOPS at its first round whose top-k certifies the
        reference's rule — k rows and a k-th TRUE distance <= c * R_r with
        R_r = radius * 2^r, not merely ">= k candidates seen", which
        accepts k lucky collisions far inside the true k-NN ball (measured
        recall 0.61 vs 0.95+) — or at round R-1, which returns its
        best-so-far.  A query with no candidate at any round returns no
        rows.

    The plan runs no Spark job when built (given `m`), persists nothing
    and embeds no per-query literal.  Its trade-off: every query is
    joined at the coarsest grid, so a query that certifies early still
    pays the collision rows of round R-1.  `max_rounds` 0 and 1 both
    mean the single pass at width `w`.  `persists` is accepted for
    callers that collect caches to release; this lane appends nothing."""
    if c != 2 and max_rounds > 1:
        raise ValueError(
            f"pstable_topk: virtual rehashing doubles the grid each round; c={c} "
            "needs a ratio-c schedule this lane does not implement"
        )
    if w is None:
        if radius is None:
            raise ValueError("pstable_topk: pass w or radius")
        w = float(radius) * K.pstable_w(c, p)
    if m is None:
        # the reference derives m itself from (c, p, beta=CANDIDATES/n,
        # delta=1/e) — methods/qalsh.h:228-235; kernels.pstable_m is that
        # formula under this engine's floor-grid collision model.  The
        # only blocking cost is one count() (parquet-footer metadata for
        # file scans).
        n = vectors.count()
        m = K.pstable_m(c, p, n, w=(w / radius if radius is not None else None))
    if min_collisions is None:
        if radius is not None:
            min_collisions = max(1, int(np.ceil(K.pstable_alpha(p, w / radius, c) * m)))
        else:
            min_collisions = max(1, m // 2)
    if radius is None:
        radius = w / K.pstable_w(c, p)
    last = max(1, max_rounds) - 1

    sign = pstable_cells_udf(m, p, w, seed)
    vcells = vectors.select(
        "vec_id", F.posexplode(sign(F.col("embedding"))).alias("j", "cell")
    ).withColumn("cellr", F.shiftright("cell", last))
    qcells = queries.select(
        "qid", F.posexplode(sign(F.col("qvec"))).alias("j", "qcell")
    ).withColumn("cellr", F.shiftright("qcell", last))
    hits = vcells.join(F.broadcast(qcells), on=["j", "cellr"]).select(
        "qid",
        "vec_id",
        sum(
            ((F.shiftright("cell", r) != F.shiftright("qcell", r)).cast("int")
             for r in range(last)),
            F.lit(0),
        ).alias("first"),
    )
    # entry round = the number of rounds whose count n_r is still short
    entry = sum(
        ((F.count(F.when(F.col("first") <= r, 1)) < min_collisions).cast("int")
         for r in range(last + 1)),
        F.lit(0),
    )
    cand = (
        hits.groupBy("qid", "vec_id")
        .agg(entry.alias("entry"))
        .filter(F.col("entry") <= last)
    )
    scored = rescore(cand, vectors, queries, float(p)).withColumn(
        "r", F.explode(F.sequence("entry", F.lit(last)))
    )
    ranked = rank_topk(scored, k, p, by=("qid", "r"))
    # the reference's certificate (methods/qalsh.h:478-479) per round;
    # c * radius * 2^r, bit-equal to the Python float (powers of two
    # multiply exactly)
    per_round = Window.partitionBy("qid", "r")
    certified = (
        (F.count("*").over(per_round) >= k)
        & (F.max("score").over(per_round)
           <= F.lit(float(c * radius)) * F.pow(F.lit(2.0), F.col("r")))
    )
    return (
        ranked.withColumn("ok", certified | (F.col("r") == last))
        .withColumn(
            "stop", F.min(F.when(F.col("ok"), F.col("r"))).over(Window.partitionBy("qid"))
        )
        .filter(F.col("r") == F.col("stop"))
        .select("qid", "neighbor_id", "score", "rank")
    )


def _cell_assign_udf(cents: np.ndarray, top: int):
    """embedding -> array<int> of the `top` nearest centroid ids, computed
    per Arrow batch with one NumPy matmul against the closure-broadcast
    centroid matrix: ZERO shuffle of the big side, no crossJoin row
    explosion, no window sort.  Ties resolve to the lowest cell id
    (stable argsort), mirroring the (dist, id) ordering everywhere else."""
    c2 = (cents**2).sum(axis=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _udf(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy()).astype(np.float64)
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2; |x|^2 constant per row -> drop
        d2 = -2.0 * (X @ cents.T) + c2[None, :]
        if top == 1:
            idx = d2.argmin(axis=1)[:, None]
        else:
            idx = np.argsort(d2, axis=1, kind="stable")[:, :top]
        return pd.Series(list(idx.astype(np.int32)))

    return _udf


def sample_centroids(vectors: DataFrame, n_cells: int, seed: int = 6) -> np.ndarray:
    """Deterministic seeded-sample centroid matrix (k-means-lite stand-in
    for the reference's kd-tree split planes, methods/qalsh_plus.h:230-250).
    Bounded driver collect: CENTROID_SAMPLE rows regardless of table size."""
    sample = (
        vectors.orderBy(F.col("vec_id"))
        .limit(CENTROID_SAMPLE)
        .select("embedding")
        .collect()
    )
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(n_cells, len(sample)), replace=False)
    return np.array([[float(x) for x in sample[j][0]] for j in idx])


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 6,
) -> DataFrame:
    """IVF: seeded-sample centroids (a deterministic ordered sample, the
    k-means-lite stand-in for QALSH+'s per-block representatives), assign
    each vector to its nearest cell via the closure-broadcast pandas UDF
    (no shuffle), probe the nprobe nearest cells per query, exact-rescore
    the candidate cells only — the reference's block-ranking search
    (/root/reference/methods/qalsh_plus.h:568-598)."""
    cents = sample_centroids(vectors, n_cells, seed)

    vcell = vectors.select(
        "vec_id",
        F.element_at(_cell_assign_udf(cents, 1)(F.col("embedding")), 1).alias("cell"),
    )
    qcell = queries.select(
        "qid",
        F.explode(_cell_assign_udf(cents, nprobe)(F.col("qvec"))).alias("cell"),
    )
    # query side small by protocol -> explicit broadcast (same rationale
    # as lsh_topk: never shuffle the vector table for discovery)
    cand = (
        vcell.join(F.broadcast(qcell), on="cell")
        .select("qid", "vec_id")
        .distinct()
    )
    return rank_topk(rescore(cand, vectors, queries, None), k, None)
