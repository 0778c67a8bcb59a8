"""p-stable l_p approximate lane (VERDICT r2 task 2): quantized Gaussian /
Cauchy / Levy projections with the reference's collision-count candidate
rule.  Kernel parity, the tuning formulas, the plan shape and the
one-round contract run on synthetic `datagen.generate_embeddings` data;
the recall floors run on the reference's own Mnist artifacts when they
are present — against the SHIPPED ground truth for l2, against the
(bit-exact-validated) numpy reproduction elsewhere.
"""

from __future__ import annotations

import os
import re
import uuid

import numpy as np
import pytest

from qalsh_spark import kernels as K
from qalsh_spark.datagen import generate_embeddings
from qalsh_spark.sources.refdata import (
    ground_truth_numpy,
    load_reference_set,
    points_to_pandas,
)

MNIST = "/root/reference/data/Mnist/Mnist"


@pytest.fixture(scope="module")
def mnist():
    if not os.path.exists(MNIST + ".ds"):
        pytest.skip("reference Mnist data not present")
    return load_reference_set(MNIST, p=2.0)


def _embedding_frames(spark, n: int = 1000, nq: int = 3):
    """(vectors, queries) from the planted-cluster generator: n data
    vectors plus nq held-out queries, d = 64, unit-norm."""
    X = generate_embeddings(n + nq, d=64, seed=11).X
    vec = spark.createDataFrame(points_to_pandas(X[:n]))
    q = spark.createDataFrame(points_to_pandas(X[n:], "qid", "qvec"))
    return vec, q


def _exchange_keys(plan: str) -> list[str]:
    """Column names of every hash-partitioning exchange in a plan string."""
    return [
        name
        for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        for name in re.findall(r"(\w+)#\d+", keys)
    ]


def _assert_discovery_broadcast(plan: str) -> None:
    """The query-cell join broadcasts and the big side is never
    hash-exchanged on its cell keys for discovery."""
    assert "BroadcastHashJoin" in plan, plan
    keys = _exchange_keys(plan)
    assert not {"j", "cell", "cellr"} & set(keys), keys


def test_pstable_kernel_deterministic_and_udf_parity(spark):
    """The Arrow UDF must produce byte-identical raw cells to the NumPy
    kernel (same closure-lazy plane generation discipline as SRP)."""
    from qalsh_spark.operators.ann import pstable_cells_udf

    rng = np.random.default_rng(1)
    X = rng.standard_normal((40, 12))
    m, w, p = 8, 2.5, 2.0
    planes = K.pstable_planes(m, 12, p, 6)
    offs = K.pstable_offsets(m, w, 6)
    want = K.pstable_cells_matrix(X, planes, offs, w)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    got = (
        df.select("vec_id", pstable_cells_udf(m, p, w, 6)("embedding").alias("c"))
        .orderBy("vec_id")
        .collect()
    )
    assert np.array_equal(np.array([r["c"] for r in got]), want)
    # determinism across calls
    assert np.array_equal(K.pstable_cells_matrix(X, planes, offs, w), want)


def test_pstable_one_round_contract(spark):
    """Building the plan is plan-only at every round count: with `m`
    given, a 1-, 3- or 6-round call starts no Spark job and persists
    nothing.  max_rounds=0 and 1 are the same single pass, and an empty
    query frame returns zero rows with the result schema at one round
    and at three."""
    from qalsh_spark.operators.ann import pstable_topk

    vec, q = _embedding_frames(spark, n=300, nq=5)
    kw = dict(k=5, p=2.0, w=2.0, m=8, min_collisions=4)
    sc = spark.sparkContext
    group = f"pstable-one-round-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        plans = {}
        for rounds in (1, 3, 6):
            ps: list = []
            plans[rounds] = pstable_topk(vec, q, max_rounds=rounds, persists=ps, **kw)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], rounds
            assert ps == [], rounds
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    one = plans[1]
    rows1 = sorted(tuple(r) for r in one.collect())
    zero = pstable_topk(vec, q, max_rounds=0, **kw)
    rows0 = sorted(tuple(r) for r in zero.collect())
    assert rows1, "premise: the single pass finds candidates"
    assert rows0 == rows1
    for rounds in (1, 3):
        empty = pstable_topk(vec, q.limit(0), max_rounds=rounds, **kw)
        assert empty.schema == one.schema
        assert empty.count() == 0


def test_pstable_rehash_rejects_grid_ratio_other_than_two(spark):
    """Virtual rehashing halves the grid each round, so its radius ratio
    is 2: `c != 2` with more than one round raises instead of running a
    radius schedule that is not the reference's (radius * c per round).
    A single pass has no schedule, so any `c` still builds there."""
    from qalsh_spark.operators.ann import pstable_topk

    vec, q = _embedding_frames(spark, n=50, nq=2)
    kw = dict(k=5, p=2.0, w=2.0, m=8, min_collisions=4)
    for c in (1.5, 3.0):
        with pytest.raises(ValueError, match="doubles the grid"):
            pstable_topk(vec, q, c=c, max_rounds=2, **kw)
        pstable_topk(vec, q, c=c, max_rounds=1, **kw)
    pstable_topk(vec, q, c=2.0, max_rounds=2, **kw)


def test_pstable_alpha_sane():
    for p in (0.5, 1.0, 2.0):
        a = K.pstable_alpha(p, K.pstable_w(2.0, p), 2.0)
        assert 0.0 < a < 1.0
    # near prob must exceed far prob
    t = K.pstable_w(2.0, 2.0)
    assert K.pstable_collision_prob(2.0, t) > K.pstable_collision_prob(2.0, t / 2)


def test_pstable_m_reference_formula():
    """kernels.pstable_m IS the reference's m formula
    (methods/qalsh.h:228-235): m = ceil((sqrt(ln(2/beta)) +
    sqrt(ln(1/delta)))^2 / (2 (p1-p2)^2)), beta = 100/n, delta = 1/e —
    checked against a hand-computed replay and frozen values (the MC
    collision probabilities are seeded, so the result is deterministic)."""
    import math

    n = 60000
    w = K.pstable_w(2.0, 2.0)
    p1 = K.pstable_collision_prob(2.0, w)
    p2 = K.pstable_collision_prob(2.0, w / 2.0)
    beta = 100.0 / n
    want = math.ceil(
        (math.sqrt(math.log(2.0 / beta)) + math.sqrt(math.log(math.e))) ** 2
        / (2.0 * (p1 - p2) ** 2)
    )
    assert K.pstable_m(2.0, 2.0, n) == want == 122
    assert K.pstable_m(2.0, 1.0, n) == 217  # heavier tail -> more projections
    assert K.pstable_m(2.0, 0.5, n) == 355
    # beta = CANDIDATES/n: m grows (logarithmically) with n
    assert (
        K.pstable_m(2.0, 2.0, 20000)
        < K.pstable_m(2.0, 2.0, 60000)
        < K.pstable_m(2.0, 2.0, 10**6)
    )


def test_pstable_auto_m_recall_on_mnist(spark, mnist):
    """End-to-end with EVERYTHING auto-tuned the reference's way — w from
    pstable_w(c, p), m from pstable_m(c, p, n), min_collisions from
    alpha*m — the user supplies only (c, p, radius), exactly the
    reference CLI's contract.  recall@10 on a 20000-point Mnist subset
    vs the numpy l2 truth; floor 0.9."""
    from qalsh_spark.operators.ann import pstable_topk

    data, queries, _, _ = mnist
    sub, nq = data[:20000], 20
    gt = ground_truth_numpy(sub, queries[:nq], k=10, p=2.0)
    radius = float(np.median(gt["key"][:, 9]))
    vec = spark.createDataFrame(points_to_pandas(sub)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries[:nq], "qid", "qvec"))
    approx = pstable_topk(vec, q, k=10, p=2.0, radius=radius).collect()
    got = {}
    for r in approx:
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    hits = sum(
        len(got.get(qi, set()) & set(gt["id"][qi].tolist())) for qi in range(nq)
    )
    recall = hits / (10 * nq)
    assert recall >= 0.9, f"auto-m recall@10 {recall:.3f}"


def _embedding_recall(spark, n: int, seed: int = 11, nq: int = 20, **kw) -> float:
    """recall@10 of pstable_topk(k=10, p=2, **kw) on `generate_embeddings`
    data (n vectors + nq held-out queries, d = 64) vs the numpy l2 truth;
    `radius="median"` passes the median true 10-NN distance."""
    from qalsh_spark.operators.ann import pstable_topk

    X = generate_embeddings(n + nq, d=64, seed=seed).X
    gt = ground_truth_numpy(X[:n], X[n:], k=10, p=2.0)
    if kw.get("radius") == "median":
        kw["radius"] = float(np.median(gt["key"][:, 9]))
    vec = spark.createDataFrame(points_to_pandas(X[:n])).repartition(4)
    q = spark.createDataFrame(points_to_pandas(X[n:], "qid", "qvec"))
    rows = pstable_topk(vec, q, k=10, p=2.0, **kw).collect()
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(i, set()) & set(gt["id"][i].tolist())) for i in range(nq))
    return hits / (10 * nq)


def test_pstable_auto_recall_on_embeddings(spark):
    """The auto-tuned single pass (w, m and min_collisions all derived
    from c=2, p=2 and radius = the median true 10-NN distance) on 2,000
    planted-cluster vectors.  Measured recall@10 over seeds 11-15:
    0.900 / 0.930 / 0.925 / 0.945 / 0.955; this is seed 11, floor 0.85."""
    recall = _embedding_recall(spark, n=2000, radius="median")
    assert recall >= 0.85, f"auto single-pass recall@10 {recall:.3f}"


def test_pstable_rehash_recall_on_embeddings(spark):
    """The benchmark's `ann_rehash` operating point (radius 0.2, auto m,
    max_rounds=3: round 0 certifies almost no query, so the later rounds
    do the work) on 1,500 vectors.  Measured recall@10 over seeds 11-15:
    0.920 / 0.900 / 0.835 / 0.935 / 0.925; this is seed 11, floor 0.80."""
    recall = _embedding_recall(spark, n=1500, radius=0.2, max_rounds=3)
    assert recall >= 0.80, f"rehash recall@10 {recall:.3f}"


def test_pstable_l2_recall_on_mnist_vs_shipped_truth(spark, mnist):
    """recall@10 of the p-stable (Gaussian) lane vs the reference's OWN
    Mnist.gt2.0 over 30 of its shipped queries.  Measured 0.989 at the
    pinned config (m=32, L=16, w = median rank-10 dist * reference w2);
    floor 0.9 leaves noise margin."""
    from qalsh_spark.operators.ann import pstable_topk

    data, queries, truth, _ = mnist
    nq = 30
    w = float(np.median(truth["key"][:, 9])) * K.pstable_w(2.0, 2.0)
    vec = spark.createDataFrame(points_to_pandas(data)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries[:nq], "qid", "qvec"))
    approx = pstable_topk(
        vec, q, k=10, p=2.0, w=w, m=32, min_collisions=16
    ).collect()
    got = {}
    for r in approx:
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    hits = sum(
        len(got.get(qi, set()) & set(truth["id"][qi, :10].tolist()))
        for qi in range(nq)
    )
    recall = hits / (10 * nq)
    assert recall >= 0.9, f"pstable l2 recall@10 {recall:.3f}"


def test_pstable_l1_recall_on_mnist_subset(spark, mnist):
    """recall@10 of the Cauchy (p=1) lane on a 20000-point Mnist subset vs
    the numpy l1 ground truth (the l2 twin of which is bit-exact against
    the shipped file).  Measured 0.907 at m=32, L=14; floor 0.8."""
    from qalsh_spark.operators.ann import pstable_topk

    data, queries, _, _ = mnist
    sub, nq = data[:20000], 30
    gt = ground_truth_numpy(sub, queries[:nq], k=10, p=1.0)
    w = float(np.median(gt["key"][:, 9])) * K.pstable_w(2.0, 1.0)
    vec = spark.createDataFrame(points_to_pandas(sub)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries[:nq], "qid", "qvec"))
    approx = pstable_topk(
        vec, q, k=10, p=1.0, w=w, m=32, min_collisions=14
    ).collect()
    got = {}
    for r in approx:
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    hits = sum(
        len(got.get(qi, set()) & set(gt["id"][qi].tolist())) for qi in range(nq)
    )
    recall = hits / (10 * nq)
    assert recall >= 0.8, f"pstable l1 recall@10 {recall:.3f}"


def test_pstable_plan_broadcasts_query_keys(spark):
    """Discovery must not shuffle the big side: the query-cell join is a
    BroadcastHashJoin and the only wide exchange before rescoring is the
    groupBy(qid, vec_id) collision counter."""
    from qalsh_spark.operators.ann import pstable_topk

    vec, q = _embedding_frames(spark)
    out = pstable_topk(vec, q, k=5, p=2.0, w=2.0, m=8, min_collisions=4)
    _assert_discovery_broadcast(out._jdf.queryExecution().executedPlan().toString())


def test_pstable_lhalf_recall_on_mnist_subset(spark, mnist):
    """Levy (p=0.5) approximate lane on a 20000-point Mnist subset vs the
    numpy l_0.5 ground truth — the fractional-norm path the reference
    ships run scripts for (methods/qalsh.h:25-32 supports 0 < p <= 2, the
    l_0.5 kernel is methods/util.h:334-384, the Levy draw random.cc).
    Measured recall@10 = 0.99 at m=32, min_collisions=11 from the
    reference's alpha rule; floor 0.8 leaves noise margin."""
    from qalsh_spark.operators.ann import pstable_topk

    data, queries, _, _ = mnist
    sub, nq = data[:20000], 30
    gt = ground_truth_numpy(sub, queries[:nq], k=10, p=0.5)
    w = float(np.median(gt["key"][:, 9])) * K.pstable_w(2.0, 0.5)
    mc = max(1, int(np.ceil(K.pstable_alpha(0.5, K.pstable_w(2.0, 0.5)) * 32)))
    vec = spark.createDataFrame(points_to_pandas(sub)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries[:nq], "qid", "qvec"))
    approx = pstable_topk(
        vec, q, k=10, p=0.5, w=w, m=32, min_collisions=mc
    ).collect()
    got = {}
    for r in approx:
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    hits = sum(
        len(got.get(qi, set()) & set(gt["id"][qi].tolist())) for qi in range(nq)
    )
    recall = hits / (10 * nq)
    assert recall >= 0.8, f"pstable l0.5 recall@10 {recall:.3f}"


def test_pstable_p15_recall_on_mnist_subset(spark, mnist):
    """Generic-p evidence (VERDICT r4 missing #4): p = 1.5 exercises the
    code paths no closed form covers — the Chambers–Mallows–Stuck
    p-stable draw (kernels.pstable_planes) and the reference's published
    interpolated width w(1.5) = 3.465 (methods/qalsh.h:221, mirrored in
    kernels.pstable_w) — on a 20000-point Mnist subset vs the numpy
    l_1.5 ground truth, with min_collisions from the alpha rule exactly
    like the reference's general-p branch (new_stable_prob ->
    alpha*m).  Measured recall@10 = 0.87 at m=32, min_collisions=19;
    floor 0.8 leaves noise margin."""
    from qalsh_spark.operators.ann import pstable_topk

    data, queries, _, _ = mnist
    sub, nq, p = data[:20000], 30, 1.5
    gt = ground_truth_numpy(sub, queries[:nq], k=10, p=p)
    w = float(np.median(gt["key"][:, 9])) * K.pstable_w(2.0, p)
    mc = max(1, int(np.ceil(K.pstable_alpha(p, K.pstable_w(2.0, p)) * 32)))
    vec = spark.createDataFrame(points_to_pandas(sub)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries[:nq], "qid", "qvec"))
    approx = pstable_topk(
        vec, q, k=10, p=p, w=w, m=32, min_collisions=mc
    ).collect()
    got = {}
    for r in approx:
        got.setdefault(r["qid"], set()).add(r["neighbor_id"])
    hits = sum(
        len(got.get(qi, set()) & set(gt["id"][qi].tolist())) for qi in range(nq)
    )
    recall = hits / (10 * nq)
    assert recall >= 0.8, f"pstable l1.5 recall@10 {recall:.3f}"


def test_pstable_rehash_fills_underfilled_queries(spark, mnist):
    """Virtual rehashing (reference methods/qalsh.h:844-871): start at a
    deliberately too-small bucket width (w/16) so the single-pass
    collision filter under-fills, then let max_rounds double the width
    per round until every query certifies >= k candidates.  Asserts the
    premise (single pass IS short for at least one query), the contract
    (every query returns exactly k rows), and the recall floor vs the
    numpy l2 truth (bit-exact-validated against the reference's shipped
    Mnist.gt2.0).  Measured: recall@10 = 0.96, 5 rounds to certify all
    20 queries under the kth <= c*R_r rule (vs 0.61 for a naive
    ">= k candidates" stop — see the pstable_topk docstring)."""
    from qalsh_spark.operators.ann import pstable_topk

    data, queries, _, _ = mnist
    sub, nq, k = data[:20000], 20, 10
    gt = ground_truth_numpy(sub, queries[:nq], k=k, p=2.0)
    w0 = float(np.median(gt["key"][:, 9])) * K.pstable_w(2.0, 2.0) / 16.0
    vec = spark.createDataFrame(points_to_pandas(sub)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries[:nq], "qid", "qvec"))
    single = pstable_topk(vec, q, k=k, p=2.0, w=w0, m=32, min_collisions=16)
    short = {r["qid"]: r["count"] for r in single.groupBy("qid").count().collect()}
    assert any(short.get(qi, 0) < k for qi in range(nq)), (
        f"premise broken: w0 single pass already fills every query: {short}"
    )
    filled = pstable_topk(
        vec, q, k=k, p=2.0, w=w0, m=32, min_collisions=16, max_rounds=8
    ).collect()
    per_q: dict[int, set] = {}
    for r in filled:
        per_q.setdefault(r["qid"], set()).add(r["neighbor_id"])
    assert set(per_q) == set(range(nq)), "every query must be answered"
    assert all(len(v) == k for v in per_q.values()), {
        q_: len(v) for q_, v in per_q.items() if len(v) != k
    }
    hits = sum(len(per_q[qi] & set(gt["id"][qi].tolist())) for qi in range(nq))
    recall = hits / (k * nq)
    assert recall >= 0.85, f"rehash recall@10 {recall:.3f}"


def test_pstable_rehash_discovery_broadcasts_query_cells(spark):
    """Virtual rehashing keeps the single-pass plan discipline in its one
    plan: the coarse-grid query cells broadcast (BroadcastHashJoin), the
    big side is never hash-exchanged on its cell keys for discovery,
    nothing is cached between rounds (no InMemoryTableScan) and no qid
    literal is baked into the plan."""
    from qalsh_spark.operators.ann import pstable_topk

    vec, q = _embedding_frames(spark)
    # w well under the 10-NN distance: round 0 certifies no query
    out = pstable_topk(
        vec, q, k=5, p=2.0, w=0.3, m=8, min_collisions=4, max_rounds=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    _assert_discovery_broadcast(plan)
    assert "InMemoryTableScan" not in plan, plan
    assert " IN (" not in plan, plan


def _spark_l2(X: np.ndarray, q: np.ndarray) -> np.ndarray:
    """operators/ann.lp_dist(p=2) in NumPy: sqrt of the left fold of the
    squared differences, in the JVM's summation order."""
    acc = np.zeros(len(X))
    for j in range(X.shape[1]):
        acc = acc + (X[:, j] - q[j]) * (X[:, j] - q[j])
    return np.sqrt(acc)


def test_pstable_round_rule_matches_numpy_replay(spark):
    """The virtual-rehashing stop rule, row for row at full precision,
    against a NumPy replay over the `kernels` cells: round r collides on
    `cell >> r`, a candidate needs >= min_collisions collisions, a query
    stops at the first round whose k-th distance is <= c * radius * 2^r,
    and the last round returns its best so far.  The data is planted so
    that some queries stop in round 0 (tight groups of near-copies), one
    in round 1 and the rest at the cap, some of them under-filled (random
    directions, far from every cluster)."""
    from qalsh_spark.operators.ann import pstable_topk

    k, radius, c, m, l, rounds = 5, 0.15, 2.0, 16, 12, 3
    rng = np.random.default_rng(11)
    E = generate_embeddings(1012, d=64, seed=11).X
    base, held = E[:1000], E[1000:]

    def unit(a):
        return a / np.linalg.norm(a, axis=-1, keepdims=True)

    X = np.vstack([
        base,
        unit(base[:3, None, :] + 0.01 * rng.standard_normal((3, 4, 64))).reshape(-1, 64),
    ])
    Q = np.vstack([
        unit(base[:3] + 0.01 * rng.standard_normal((3, 64))),
        held,
        unit(rng.standard_normal((4, 64))),
    ])

    w = radius * K.pstable_w(c, 2.0)
    planes = K.pstable_planes(m, 64, 2.0, 6)
    offs = K.pstable_offsets(m, w, 6)
    VC = K.pstable_cells_matrix(X, planes, offs, w)
    QC = K.pstable_cells_matrix(Q, planes, offs, w)
    want, stops = [], {}
    for qi in range(len(Q)):
        for r in range(rounds):
            cand = np.flatnonzero(((VC >> r) == (QC[qi] >> r)).sum(axis=1) >= l)
            d = _spark_l2(X[cand], Q[qi])
            top = np.lexsort((cand, d))[:k]
            if r == rounds - 1 or (len(top) == k and d[top[-1]] <= c * radius * 2.0**r):
                stops[qi] = (r, len(top))
                want += [(qi, int(cand[i]), float(d[i]), n + 1) for n, i in enumerate(top)]
                break
    stop_rounds = [r for r, _ in stops.values()]
    assert {0, 1, rounds - 1} <= set(stop_rounds), stop_rounds
    assert any(r == rounds - 1 and 0 < n < k for r, n in stops.values()), stops

    vec = spark.createDataFrame(points_to_pandas(X)).repartition(4)
    q = spark.createDataFrame(points_to_pandas(Q, "qid", "qvec"))
    got = sorted(
        tuple(r)
        for r in pstable_topk(
            vec, q, k=k, p=2.0, radius=radius, c=c, m=m, min_collisions=l,
            max_rounds=rounds,
        ).select("qid", "neighbor_id", "score", "rank").collect()
    )
    want.sort()
    assert [(a, b, d) for a, b, _, d in got] == [(a, b, d) for a, b, _, d in want]
    assert max(abs(g[2] - w_[2]) for g, w_ in zip(got, want)) <= 1e-12


def test_pstable_rehash_10k_queries(spark):
    """Scale smoke for the one-plan rehash: a 10,000-query batch over
    four rounds must complete without embedding qid literals in the plan
    or collecting per-query rows on the driver.  Synthetic data (no
    Mnist needed): 500 gaussian vectors, queries = the vectors cycled
    with small perturbations, so true neighbors exist.  Asserts
    completion, per-query row-count contract (<= k), coverage (>= 99% of
    qids answered at the widest grid), and self-recall on the unperturbed
    prefix (each of the first 500 queries IS a data point, so its
    nearest neighbor at the final width must be itself for nearly all)."""
    import pandas as pd

    from qalsh_spark.operators.ann import pstable_topk

    rng = np.random.default_rng(7)
    n, nq, d, k = 500, 10000, 8, 3
    X = rng.standard_normal((n, d))
    Q = X[np.arange(nq) % n] + 0.01 * rng.standard_normal((nq, d))
    vec = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(X)})
    ).repartition(8)
    q = spark.createDataFrame(
        pd.DataFrame({"qid": np.arange(nq), "qvec": list(Q)})
    ).repartition(8)
    out = pstable_topk(
        vec, q, k=k, p=2.0, w=1.0, m=8, min_collisions=2, max_rounds=4
    )
    rows = out.collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(r["qid"], []).append((r["rank"], r["neighbor_id"]))
    assert len(per_q) >= 0.99 * nq, f"only {len(per_q)}/{nq} queries answered"
    assert all(len(v) <= k for v in per_q.values())
    self_hits = sum(
        1
        for qi in range(n)
        if qi in per_q and min(per_q[qi])[1] == qi
    )
    assert self_hits >= 0.95 * n, f"self-recall {self_hits}/{n}"
