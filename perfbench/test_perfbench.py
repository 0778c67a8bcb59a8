"""Toy-scale tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_pair_quality_arithmetic():
    truth = {1: 1, 2: 1, 3: 1, 4: 4}           # pairs 12 13 23
    found = {1: 1, 2: 1, 3: 3, 4: 3}           # pairs 12 34
    q = checks.pair_quality(found, truth)
    assert q["dup_pair_recall"] == pytest.approx(1 / 3)
    assert q["dup_pair_precision"] == pytest.approx(1 / 2)
    # no pairs anywhere: vacuously perfect, as tests/oracle defines it
    assert checks.pair_quality({1: 1, 2: 2}, {1: 1, 2: 2}) == {
        "dup_pair_recall": 1.0, "dup_pair_precision": 1.0,
    }


def test_partition_check_ignores_labels_but_not_membership():
    truth = {10: 10, 11: 10, 12: 12}
    assert checks.check_clusters({10: 7, 11: 7, 12: 9}, truth)["dup_pair_recall"] == 1.0
    with pytest.raises(checks.CheckFailed):
        checks.check_clusters({10: 10, 11: 11, 12: 12}, truth)
    with pytest.raises(checks.CheckFailed):
        checks.check_clusters({10: 10, 11: 10}, truth)


def test_recall_and_ratio_arithmetic():
    truth_ids = np.array([[0, 1], [2, 3]])
    assert checks.recall_at_k({0: [0, 5], 1: [3, 2]}, truth_ids) == pytest.approx(0.75)
    keys = np.array([[1.0, 2.0], [2.0, 4.0]], dtype=np.float32)
    # query 0: (1/1 + 3/2) / 2 = 1.25; query 1: exact = 1.0
    assert checks.overall_ratio({0: [3.0, 1.0], 1: [2.0, 4.0]}, keys) == pytest.approx(1.125)


def _toy_ann(seed=0, n=60, q=3, k=4):
    from qalsh_spark.sources.refdata import ground_truth_numpy

    rng = np.random.default_rng(seed)
    data = rng.standard_normal((n, 5)).astype(np.float32)
    queries = rng.standard_normal((q, 5)).astype(np.float32)
    truth = ground_truth_numpy(data, queries, k=k, p=2.0)
    rows = []
    for qi, ids in enumerate(truth["id"]):
        d = np.sqrt(((data[ids].astype(np.float64) - queries[qi]) ** 2).sum(1))
        for r, (dist, i) in enumerate(sorted(zip(d.tolist(), ids.tolist()))):
            rows.append((qi, int(i), dist, r + 1))
    return rows, data, queries, truth


def test_corrupted_results_fail_the_checks():
    truth = {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    checks.check_clusters(truth, truth)
    with pytest.raises(checks.CheckFailed):
        checks.check_clusters(checks.corrupt_clusters(truth), truth)

    rows, data, queries, gt = _toy_ann()
    q = checks.check_topk(rows, data, queries, gt)
    assert q["recall_at_10"] == 1.0 and q["overall_ratio"] == pytest.approx(1.0)
    with pytest.raises(checks.CheckFailed):
        checks.check_topk(checks.corrupt_topk(rows), data, queries, gt)
    wrong = [(a, b, s * 1.01 if (a, r) == (0, 1) else s, r) for a, b, s, r in rows]
    with pytest.raises(checks.CheckFailed):
        checks.check_topk(wrong, data, queries, gt)


def _fingerprint(inp) -> str:
    if isinstance(inp, workloads.AnnInput):
        return checks.input_digest(inp.data, inp.queries)
    return checks.input_digest(inp.urls, inp.texts, inp.htmls)


@pytest.mark.parametrize("name", sorted(workloads.GENERATORS))
def test_generators_are_deterministic_per_seed(name):
    gen = workloads.GENERATORS[name]
    a, b, c = gen(3), gen(3), gen(4)
    assert _fingerprint(a) == _fingerprint(b)
    assert _fingerprint(a) != _fingerprint(c)


def test_dupheavy_shape():
    inp = workloads.crawl_dupheavy(1)
    n = (
        workloads.CHAIN_FAMILIES * workloads.CHAIN_LEN
        + workloads.BOILER_FAMILIES * workloads.BOILER_SIZE
        + workloads.DUPHEAVY_UNIQUES
    )
    assert len(inp.urls) == len(set(inp.urls)) == n
    assert sum(t is None for t in inp.texts) == -(-n // workloads.HTML_ONLY_EVERY)
    # every page extracts back to the text it was rendered from, so the
    # html-only rows carry their text through extraction
    from qalsh_spark.functions.signatures import extract_text_bytes

    assert all(
        extract_text_bytes(h) == t for t, h in zip(inp.texts, inp.htmls) if t is not None
    )
    assert all(inp.oracle_texts())


def test_crawl_truth_cache_round_trip(tmp_path):
    from qalsh_spark.config import DedupConfig

    urls = [f"https://t.example/{i}" for i in range(6)]
    texts = ["alpha beta gamma delta"] * 2 + [f"doc {i} words here now" for i in range(4)]
    path = str(tmp_path / "truth.npz")
    first = checks.cached_crawl_truth(path, urls, texts, DedupConfig())
    assert os.path.exists(path)
    assert checks.cached_crawl_truth(path, urls, texts, DedupConfig()) == first
    assert len(set(first.values())) == 5
