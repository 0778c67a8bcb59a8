"""verify_pairs on hand-built pairs, checked against the oracle's per-lane
rules (tests/oracle.lane_accepts), plus a pin on the operator's plan shape:
one join per pair endpoint and a single Arrow crossing, nothing cached.

Signatures come from the shared kernels; simhash fingerprints and suffix
tuples are then overridden per doc so each rule is hit exactly at its
boundary.
"""

from __future__ import annotations

import numpy as np
import pytest

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig
from qalsh_spark.operators.banding import LANE_NAMES
from qalsh_spark.operators.verify import verify_pairs
from tests.oracle import hamming64, lane_accepts

CFG = DedupConfig()
LANE_ID = {v: k for k, v in LANE_NAMES.items()}


def _words(seed: int, n: int = 60) -> list[str]:
    rng = np.random.default_rng(seed)
    return [f"w{x}" for x in rng.integers(0, 100_000, size=n)]


def _docs() -> dict[int, dict]:
    base = _words(1)
    edited, edited_elsewhere = list(base), list(base)
    edited[30] = edited_elsewhere[10] = "edited"
    texts = {
        1: base,
        2: edited,  # one word off doc 1: 3-shingle Jaccard ~0.9
        3: _words(3),
        4: _words(4),
        5: _words(5),
        6: _words(6),
        7: _words(7),
        8: _words(8),
        9: _words(9),
        10: edited_elsewhere,
    }
    a, b = K.minhash_params(CFG.num_perm, CFG.minhash_seed)
    docs = {}
    for d, words in texts.items():
        text = " ".join(words)
        sig = K.sign_document(
            text, a, b, CFG.shingle_k, CFG.bands, CFG.rows,
            CFG.simhash_blocks, CFG.simhash_key_blocks,
        )
        sig.update(text=text, sfx={(d, d)})
        docs[d] = sig
    # doc 10 is as close to doc 1 as doc 2 is, but its minhash agrees with
    # doc 1's at no position: the estimate fails the JVM prefilter
    docs[10]["minhash"] = docs[1]["minhash"] + 1
    hm = CFG.hamming_max
    docs[1]["simhash"] = docs[2]["simhash"] = 12345
    docs[4]["simhash"] = 0
    docs[5]["simhash"] = (1 << hm) - 1  # hamming(4, 5) == hamming_max
    docs[6]["simhash"] = (1 << (hm + 1)) - 1  # hamming(4, 6) == hamming_max + 1
    docs[7]["sfx"] = {(111, 222), (7, 7)}
    docs[8]["sfx"] = {(111, 222), (8, 8)}  # shares a full (k1, k2) tuple
    docs[9]["sfx"] = {(111, 333), (9, 9)}  # same k1 as doc 7, other k2
    return docs


PREFILTERED = (1, 10, "minhash")
PAIRS = [
    (1, 2, "minhash"),
    (1, 2, "simhash"),  # same (a, b) from a second lane: folds into one edge
    (1, 3, "minhash"),  # unrelated texts: fails the JVM prefilter
    (4, 5, "simhash"),
    (4, 6, "simhash"),
    (7, 8, "suffix"),
    (7, 9, "suffix"),
]


@pytest.fixture(scope="module")
def inputs(spark):
    docs = _docs()
    sigs = spark.createDataFrame(
        [
            (
                d, s["minhash"].tolist(), s["simhash"],
                [k1 for k1, _ in sorted(s["sfx"])],
                [k2 for _, k2 in sorted(s["sfx"])],
            )
            for d, s in docs.items()
        ],
        "doc_id long, minhash array<int>, simhash long, "
        "suffix_keys array<long>, suffix_checks array<long>",
    )
    texts = spark.createDataFrame(
        [(d, s["text"]) for d, s in docs.items()], "doc_id long, text string"
    )
    return docs, sigs, texts


def _pairs_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b, LANE_ID[lane]) for a, b, lane in pairs],
        "a long, b long, lane_id tinyint",
    )


def test_edges_follow_oracle_lane_rules(spark, inputs):
    docs, sigs, texts = inputs
    out = verify_pairs(_pairs_df(spark, PAIRS + [PREFILTERED]), sigs, CFG, texts)
    got = {(r["a"], r["b"]): r for r in out.collect()}

    expected: dict[tuple[int, int], list[str]] = {}
    for a, b, lane in PAIRS:
        da, db = docs[a], docs[b]
        if lane_accepts(lane, da, db, da["sfx"], db["sfx"], CFG):
            expected.setdefault((a, b), []).append(lane)
    assert set(got) == set(expected) == {(1, 2), (4, 5), (7, 8)}
    for ab, lanes in expected.items():
        assert got[ab]["lanes"] == sorted(lanes)
        assert got[ab]["hamming"] == hamming64(docs[ab[0]]["simhash"], docs[ab[1]]["simhash"])

    # the minhash edge carries the exact score; a pair whose minhash
    # estimate misses the prefilter is never scored and reports 0.0
    exact = K.jaccard_sorted(
        docs[1]["shingles"].view(np.uint64), docs[2]["shingles"].view(np.uint64)
    )
    assert exact >= CFG.jaccard_threshold
    assert got[(1, 2)]["jaccard"] == exact
    assert got[(1, 2)]["lanes"] == ["minhash", "simhash"]
    assert got[(4, 5)]["jaccard"] == 0.0
    assert got[(4, 5)]["hamming"] == CFG.hamming_max

    # the prefilter is the one rule the oracle does not model: it drops a
    # pair the exact rule would accept when the minhash estimate disagrees
    d1, d10 = docs[1], docs[10]
    assert lane_accepts("minhash", d1, d10, set(), set(), CFG)
    assert (1, 10) not in got


def test_empty_pairs_give_empty_edges(spark, inputs):
    _docs_, sigs, texts = inputs
    assert verify_pairs(_pairs_df(spark, []), sigs, CFG, texts).count() == 0


def test_plan_has_one_arrow_crossing_and_no_cache(spark, inputs):
    _docs_, sigs, texts = inputs
    out = verify_pairs(_pairs_df(spark, PAIRS), sigs, CFG, texts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
