"""Parity against the reference's OWN shipped artifacts (VERDICT r2 task 1).

The reference ships Mnist (60000 x 50 uint8), 100 queries, and the exact
l2 top-100 ground truth its own `-alg 0` run wrote (Mnist.gt2.0,
/root/reference/README.md:15-22).  These tests fail if the engine's l2
top-k disagrees with that file — the strongest external correctness signal
available: nothing here is produced by this repo's own kernels.

Bit-exactness contract (sources/refdata.py docstring): distances are the
float32 keys the reference stored, ranking is (float32 key ASC, id ASC) —
ties resolve on the ROUNDED key exactly as MinK_List::insert does
(/root/reference/methods/pri_queue.cc:66-79).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from qalsh_spark.sources.refdata import (
    MAXK,
    ground_truth_numpy,
    load_reference_set,
    points_to_pandas,
    read_stat,
)

MNIST = "/root/reference/data/Mnist/Mnist"

pytestmark = pytest.mark.skipif(
    not os.path.exists(MNIST + ".ds"), reason="reference Mnist data not present"
)


@pytest.fixture(scope="module")
def mnist():
    return load_reference_set(MNIST, p=2.0)


def test_stat_sidecar(mnist):
    stat = read_stat(MNIST)
    data, queries, truth, _ = mnist
    assert (stat["n"], stat["d"]) == data.shape == (60000, 50)
    assert (stat["qn"], stat["d"]) == queries.shape == (100, 50)
    assert truth is not None and truth.shape == (100, MAXK)


def test_numpy_oracle_reproduces_shipped_ground_truth(mnist):
    """The single-process reproduction must match the shipped .gt2.0 file
    BIT-EXACTLY — both ids (including ties) and float32 keys — for every
    one of the 100 queries."""
    data, queries, truth, _ = mnist
    mine = ground_truth_numpy(data, queries, k=MAXK, p=2.0)
    assert np.array_equal(mine["id"], truth["id"])
    assert np.array_equal(mine["key"], truth["key"])


def test_spark_blocked_topk_matches_shipped_ground_truth(spark, mnist):
    """The distributed engine (blocked brute force: closure-broadcast query
    matrix, map-side local top-k, window global top-k) must reproduce the
    reference's shipped (id, key) lists exactly at k=100 over the full
    60000-point table."""
    from qalsh_spark.operators.ann import brute_force_topk_blocked

    data, queries, truth, _ = mnist
    vec = spark.createDataFrame(points_to_pandas(data)).repartition(8)
    q = spark.createDataFrame(points_to_pandas(queries, "qid", "qvec"))
    res = brute_force_topk_blocked(
        vec, q, k=MAXK, metric=2.0, round_f32=True
    ).collect()
    assert len(res) == 100 * MAXK
    got_ids = np.zeros((100, MAXK), dtype=np.int64)
    got_keys = np.zeros((100, MAXK), dtype=np.float32)
    for r in res:
        got_ids[r["qid"], r["rank"] - 1] = r["neighbor_id"]
        got_keys[r["qid"], r["rank"] - 1] = np.float32(r["score"])
    assert np.array_equal(got_ids, truth["id"].astype(np.int64))
    assert np.array_equal(got_keys, truth["key"])

