"""End-to-end parity: Spark pipeline vs NumPy oracle on the synthetic corpus.

This is the repo's equivalent of the reference's ratio/recall evaluation
against `-alg 0` exact ground truth (/root/reference/methods/util.cc:81-105):
dup-pair recall >= 0.99 at identical shingle/signature config (BASELINE.json),
plus exact edge-set parity expectations.
"""

from __future__ import annotations

import numpy as np
import pytest

from qalsh_spark.config import DedupConfig
from qalsh_spark.datagen import cached_corpus, generate_corpus
from qalsh_spark.functions.signatures import extract_text_bytes
from qalsh_spark.plans.pipeline import DedupPipeline, run_dedup
from tests.oracle import cluster_pairs, dup_pair_recall, run_oracle

N_DOCS = 400


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_DOCS)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_oracle(corpus.urls, corpus.text)


@pytest.fixture(scope="module")
def spark_result(spark, corpus):
    path = cached_corpus(N_DOCS)
    docs = spark.read.parquet(f"{path}/documents.parquet")
    res = DedupPipeline(DedupConfig()).run(docs)
    clusters = {
        r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()
    }
    edges = {(r["a"], r["b"]) for r in res.edges.collect()}
    return clusters, edges


def test_edge_parity(spark_result, oracle_result):
    _, spark_edges = spark_result
    o_edges = oracle_result.edges
    missing = o_edges - spark_edges
    extra = spark_edges - o_edges
    # shared kernels -> expect exact agreement
    assert not missing, f"{len(missing)} oracle edges missing, e.g. {list(missing)[:3]}"
    assert not extra, f"{len(extra)} unexpected spark edges, e.g. {list(extra)[:3]}"


def test_dup_pair_recall_ge_099(spark_result, oracle_result):
    clusters, _ = spark_result
    found = cluster_pairs(clusters)
    truth = cluster_pairs(oracle_result.clusters)
    recall = dup_pair_recall(found, truth)
    precision = dup_pair_recall(truth, found)  # symmetric measure
    assert recall >= 0.99, f"recall {recall:.4f}"
    assert precision >= 0.99, f"precision {precision:.4f}"


def test_cluster_ids_match(spark_result, oracle_result):
    """cluster_id = min(doc_id) of component in both implementations."""
    clusters, _ = spark_result
    assert clusters == oracle_result.clusters


def test_gold_exact_dups_always_clustered(spark_result, corpus):
    """Property: byte-identical texts must land in one cluster (recall=1 for
    exact dups at any config)."""
    from qalsh_spark import kernels as K

    clusters, _ = spark_result
    by_text: dict[str, list[int]] = {}
    for u, t in zip(corpus.urls, corpus.text):
        by_text.setdefault(t, []).append(K.doc_id_from_url(u))
    for ids in by_text.values():
        if len(ids) > 1:
            assert len({clusters[d] for d in ids}) == 1


_BAD_UTF8 = b"<p>caf\xe9 menu with soup, bread and a glass of house wine</p>"
_BAD_UTF8_2 = b"<p>\xff\xfe ticket desk opens at nine; trains leave hourly</p>"
_CRAWL_ROWS = [
    (None, None),
    (None, None),
    (None, _BAD_UTF8),
    (None, _BAD_UTF8),
    (None, _BAD_UTF8_2),
    (None, _BAD_UTF8_2),
    (extract_text_bytes(_BAD_UTF8), None),
]


def _ten_megabyte_rows() -> list[tuple[str, None]]:
    """A 10 MB page (~1.5M shingles), a near-dup of it with one word in
    ~10,000 replaced, and four small pages."""
    rng = np.random.default_rng(3)
    vocab = np.array([f"w{i}" for i in range(50_000)])
    words = vocab[rng.integers(0, len(vocab), size=1_700_000)].tolist()
    big = " ".join(words)[:10_000_000]
    for i in rng.choice(len(words) - 1, size=len(words) // 10_000, replace=False):
        words[i] = "edited"
    near = " ".join(words)[:10_000_000]
    small = [" ".join(vocab[rng.integers(0, len(vocab), size=300)]) for _ in range(4)]
    return [(t, None) for t in [big, near, *small]]


@pytest.mark.parametrize(
    "make_rows,n_clusters",
    [
        (lambda: [], 0),
        (lambda: [("the same page body, recrawled verbatim", None)] * 300, 1),
        (lambda: _CRAWL_ROWS, 3),
        (_ten_megabyte_rows, 5),  # built when the case runs: ~190 MB of str
    ],
    ids=["empty", "300-identical", "null-and-invalid-utf8", "10mb-page"],
)
def test_edge_corpus_clusters_match_oracle(spark, make_rows, n_clusters):
    """Edge inputs a real crawl produces, through run_dedup against the
    oracle over `text if text is not None else extract_text_bytes(html)`:
    - an empty corpus gives zero cluster rows;
    - 300 byte-identical docs give ONE cluster (one exact group: a star of
      exact edges, whose first round lowers no label);
    - the two rows with null text and null html form one exact group of
      "", and the "replace" decode of invalid UTF-8 html puts the text row
      that equals it in the html rows' exact group;
    - a 10 MB page and its near-dup form one cluster, each small page its
      own: signing takes MinHash over bounded shingle blocks, so the page
      needs no (n_shingles x num_perm) matrix."""
    rows = make_rows()
    urls = [f"https://dup.example/{i}" for i in range(len(rows))]
    docs = spark.createDataFrame(
        [(u, t, h) for u, (t, h) in zip(urls, rows)],
        "url string, text string, html binary",
    )
    res = run_dedup(spark, docs, DedupConfig())
    got = {r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()}
    texts = [t if t is not None else extract_text_bytes(h) for t, h in rows]
    assert got == run_oracle(urls, texts).clusters
    assert len(set(got.values())) == n_clusters
    res.release()
