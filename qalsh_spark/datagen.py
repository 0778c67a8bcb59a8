"""Deterministic synthetic web corpus matching BASELINE.json `input_hint`:
documents(url string, warc_ts timestamp, html binary, text string, lang string).

Plays the role of the reference's bundled Mnist dataset + txt2bin converter
(/root/reference/data/Mnist/*, data/txt2bin.cc:40-50): an in-repo,
fixed-seed corpus with *known planted duplicate structure* so every lane of
the engine has ground truth at generation time (FIXTURES.md §1).

Duplicate classes (fractions per FIXTURES.md):
  unique ~60% | exact ~10% | near-minhash ~15% | near-simhash ~5%
  | substring ~5% | boilerplate-skew ~5%

Pure NumPy + PyArrow — no Spark dependency, so the oracle and the engine both
consume the same parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_TS = np.datetime64("2024-01-01T00:00:00", "s")
_YEAR_S = 31_536_000

_LANG_BANDS = [(80, "en"), (87, "de"), (93, "fr"), (97, "es"), (100, "zh")]

_BOILERPLATE = [
    "cookie policy accept all cookies privacy settings terms of service contact "
    "about careers press sitemap newsletter subscribe follow us on social media",
    "home news sports business technology entertainment lifestyle opinion weather "
    "local national world login register search menu trending latest breaking",
    "copyright all rights reserved powered by content management system advertise "
    "with us editorial standards corrections feedback help center accessibility",
]


def _vocab(rng: np.random.Generator, size: int = 10_000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 11, size=size)
    words = ["".join(letters[rng.integers(0, 26, size=n)]) for n in lens]
    return np.array(words, dtype=object)


def _zipf_probs(size: int) -> np.ndarray:
    ranks = np.arange(1, size + 1, dtype=np.float64)
    p = 1.0 / ranks**1.1
    return p / p.sum()


@dataclass
class Corpus:
    urls: list[str]
    warc_ts: np.ndarray          # datetime64[s]
    html: list[bytes]
    text: list[str]
    lang: list[str]
    gold_cluster: np.ndarray     # planted cluster id (== own index for uniques)
    gold_class: list[str]        # duplicate class per doc


def _render_html(text: str, boiler_idx: int, title: str) -> bytes:
    """Wrap body paragraphs in a boilerplate template. Extraction recovers the
    <p> blocks byte-identically (the `input_hint` per-url contract)."""
    words = text.split(" ")
    paras = [" ".join(words[i : i + 40]) for i in range(0, len(words), 40)]
    body = "".join(f"<p>{p}</p>" for p in paras)
    nav = _BOILERPLATE[boiler_idx % len(_BOILERPLATE)]
    page = (
        f"<html><head><title>{title}</title></head>"
        f"<body><nav>{nav}</nav>{body}<footer>{nav}</footer></body></html>"
    )
    return page.encode("utf-8")


def generate_corpus(n_docs: int, seed: int = 42, index_offset: int = 0) -> Corpus:
    """`index_offset` shifts urls/timestamps/langs/gold ids so independent
    chunks (write_corpus_parallel) occupy disjoint global index ranges."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng)
    probs = _zipf_probs(len(vocab))

    def fresh_body(lo: int = 50, hi: int = 2000) -> str:
        ln = int(np.clip(rng.lognormal(5.5, 0.9), lo, hi))
        return " ".join(rng.choice(vocab, size=ln, p=probs))

    texts: list[str] = []
    gold: np.ndarray = np.arange(n_docs, dtype=np.int64)
    klass: list[str] = []
    boiler: list[int] = []

    # Draw probabilities are per-DRAW; cluster branches emit `size` docs, so
    # weight = doc_fraction / E[cluster size] to land the FIXTURES.md doc
    # fractions: unique .60, exact .10 (E=3.5), minhash .15 (E=3),
    # simhash .05 (E=2), substring .05, boilerplate .05.
    _T_UNIQUE, _T_EXACT, _T_MINHASH, _T_SIMHASH, _T_SUBSTR = (
        0.7466, 0.7821, 0.8444, 0.8755, 0.9378,
    )
    i = 0
    while i < n_docs:
        u = rng.random()
        if u < _T_UNIQUE or i < 5:  # unique (force a few uniques up front as prototypes)
            texts.append(fresh_body())
            klass.append("unique")
            boiler.append(int(rng.integers(0, 3)))
            i += 1
        elif u < _T_EXACT:  # exact-dup cluster, size 2-5
            size = min(int(rng.integers(2, 6)), n_docs - i)
            body = fresh_body()
            bi = int(rng.integers(0, 3))
            for _ in range(size):
                texts.append(body)
                gold[i] = i - (_)
                klass.append("exact")
                boiler.append(bi)
                i += 1
        elif u < _T_MINHASH:  # minhash near-dup cluster, size 2-4
            size = min(int(rng.integers(2, 5)), n_docs - i)
            proto = fresh_body(200, 2000).split(" ")
            base = i
            for j in range(size):
                w = list(proto)
                if j > 0:
                    n_mut = max(1, int(len(w) * rng.uniform(0.01, 0.10)))
                    idx = rng.choice(len(w), size=n_mut, replace=False)
                    for t in idx:
                        if rng.random() < 0.7:
                            w[t] = str(rng.choice(vocab))
                        else:
                            w[t] = ""
                    w = [x for x in w if x]
                texts.append(" ".join(w))
                gold[i] = base
                klass.append("near_minhash")
                boiler.append(int(rng.integers(0, 3)))
                i += 1
        elif u < _T_SIMHASH:  # simhash near-dup: small localized edit
            size = min(2, n_docs - i)
            proto = fresh_body(300, 2000).split(" ")
            base = i
            for j in range(size):
                w = list(proto)
                if j > 0:
                    start = int(rng.integers(0, max(1, len(w) - 10)))
                    for t in range(start, min(start + 5, len(w))):
                        w[t] = str(rng.choice(vocab))
                texts.append(" ".join(w))
                gold[i] = base
                klass.append("near_simhash")
                boiler.append(int(rng.integers(0, 3)))
                i += 1
        elif u < _T_SUBSTR and texts:  # substring dup: splice >=200-char run from a donor
            donor_i = int(rng.integers(0, len(texts)))
            donor = texts[donor_i]
            if len(donor) < 260:
                continue
            start = int(rng.integers(0, len(donor) - 250))
            run = donor[start : start + int(rng.integers(220, min(600, len(donor) - start)))]
            pre, post = fresh_body(50, 400), fresh_body(50, 400)
            texts.append(f"{pre} {run} {post}")
            gold[i] = donor_i
            klass.append("substring")
            boiler.append(int(rng.integers(0, 3)))
            i += 1
        else:  # boilerplate-heavy skew: near-empty bodies, hot LSH buckets
            bi = int(rng.integers(0, 3))
            extra = " ".join(rng.choice(vocab, size=int(rng.integers(0, 6))))
            texts.append((_BOILERPLATE[bi] + " " + extra).strip())
            klass.append("boilerplate")
            boiler.append(bi)
            i += 1

    texts = texts[:n_docs]
    klass = klass[:n_docs]
    boiler = boiler[:n_docs]

    idx = np.arange(n_docs) + index_offset
    gold = gold + index_offset
    urls = [
        f"https://site{int(i % 1000):04d}.example/{klass[j]}/{int(i):06d}"
        for j, i in enumerate(idx)
    ]
    warc_ts = _BASE_TS + ((idx * 1337) % _YEAR_S).astype("timedelta64[s]")
    langs = []
    for i in idx:
        m = int(i) % 100
        for bound, code in _LANG_BANDS:
            if m < bound:
                langs.append(code)
                break
    html = [
        _render_html(texts[j], boiler[j], f"doc {int(i):06d}")
        for j, i in enumerate(idx)
    ]
    return Corpus(urls, warc_ts, html, texts, langs, gold, klass)


def corpus_to_table(c: Corpus) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(c.urls, pa.string()),
            "warc_ts": pa.array(c.warc_ts.astype("datetime64[us]"), pa.timestamp("us")),
            "html": pa.array(c.html, pa.binary()),
            "text": pa.array(c.text, pa.string()),
            "lang": pa.array(c.lang, pa.string()),
        }
    )


def write_corpus(path: str, n_docs: int, seed: int = 42) -> Corpus:
    """Generate + write documents.parquet (and gold truth) under `path`."""
    c = generate_corpus(n_docs, seed)
    os.makedirs(path, exist_ok=True)
    # Small row groups matter: Spark parallelizes parquet scans at row-group
    # granularity, so a single-row-group file serializes every downstream
    # stage onto one task no matter how many byte-range splits exist.
    pq.write_table(
        corpus_to_table(c),
        os.path.join(path, "documents.parquet"),
        row_group_size=2048,
    )
    gold = pa.table(
        {
            "url": pa.array(c.urls, pa.string()),
            "gold_cluster": pa.array(c.gold_cluster, pa.int64()),
            "gold_class": pa.array(c.gold_class, pa.string()),
        }
    )
    pq.write_table(gold, os.path.join(path, "gold.parquet"))
    return c


def _write_chunk(args) -> int:
    """Worker: generate one deterministic chunk and write its part files."""
    path, ci, n, seed, offset = args
    c = generate_corpus(n, seed=seed + 1_000_003 * (ci + 1), index_offset=offset)
    pq.write_table(
        corpus_to_table(c),
        os.path.join(path, "documents.parquet", f"part-{ci:05d}.parquet"),
        row_group_size=2048,
    )
    gold = pa.table(
        {
            "url": pa.array(c.urls, pa.string()),
            "gold_cluster": pa.array(c.gold_cluster, pa.int64()),
            "gold_class": pa.array(c.gold_class, pa.string()),
        }
    )
    pq.write_table(gold, os.path.join(path, "gold.parquet", f"part-{ci:05d}.parquet"))
    return n


def write_corpus_parallel(
    path: str,
    n_docs: int,
    seed: int = 42,
    chunk_size: int = 250_000,
    workers: int | None = None,
) -> None:
    """Multi-process corpus generation for bench-scale inputs (a 4M-doc
    corpus takes ~80 min sequentially; ~6 min on 16 workers).  Chunk i is
    generated with its own derived seed and global index offset, so the
    output is DETERMINISTIC and independent of worker count; duplicate
    clusters (incl. substring donors) are intra-chunk by construction.
    `documents.parquet` / `gold.parquet` become directories of part files —
    the layout a real multi-file corpus has anyway (and what gives Spark
    file-level scan parallelism without a repartition)."""
    from concurrent.futures import ProcessPoolExecutor

    os.makedirs(os.path.join(path, "documents.parquet"), exist_ok=True)
    os.makedirs(os.path.join(path, "gold.parquet"), exist_ok=True)
    jobs = []
    off = 0
    ci = 0
    while off < n_docs:
        n = min(chunk_size, n_docs - off)
        jobs.append((path, ci, n, seed, off))
        off += n
        ci += 1
    workers = workers or min(len(jobs), os.cpu_count() or 8)
    with ProcessPoolExecutor(max_workers=workers) as ex:
        total = sum(ex.map(_write_chunk, jobs))
    assert total == n_docs


def cached_corpus_parallel(
    n_docs: int, seed: int = 42, root: str = "/root/repo/.cache",
    chunk_size: int = 250_000,
) -> str:
    """Idempotent chunked corpus materialization (distinct namespace from the
    sequential cached_corpus — chunked content differs by construction)."""
    path = os.path.join(root, f"corpusp_n{n_docs}_s{seed}")
    marker = os.path.join(path, "_COMPLETE")
    if not os.path.exists(marker):
        write_corpus_parallel(path, n_docs, seed, chunk_size)
        open(marker, "w").write("ok")
    return path


@dataclass
class EmbeddingSet:
    vec_ids: np.ndarray          # int64
    X: np.ndarray                # (n, d) float32, unit-L2
    labels: np.ndarray           # int32 cluster label
    gold_near_pairs: list        # [(a, b)] planted near-dup id pairs (a < b)


def generate_embeddings(
    n_vecs: int,
    d: int = 64,
    seed: int = 42,
    n_clusters: int = 16,
    near_frac: float = 0.15,
    cluster_noise: float = 0.1,
    near_eps: float = 0.025,
) -> EmbeddingSet:
    """Deterministic embedding table with PLANTED structure, the
    embedding-lane analog of the documents corpus generator:

      - cluster structure: each vector = unit(center_label + cluster_noise*g)
        — in-cluster cos ~ 1/(1 + cluster_noise^2 * d) (~0.75 at the
        defaults) vs ~0 across clusters, so ANN queries have real nearest
        neighbors and recall is measurable;
      - planted near-dups: `near_frac` of vectors are a copy of an earlier
        vector plus an eps-perturbation, cos ~ 1/sqrt(1 + eps^2 * d)
        (~0.99 at the defaults) — ground truth for embedding_near_dup (a
        dedup operator that has never emitted a pair is not known to work).

    Everything is seeded NumPy; the brute-force NumPy oracle in tests is
    exact on this data."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, d))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = np.zeros(n_vecs, dtype=np.int32)
    X = np.zeros((n_vecs, d), dtype=np.float64)
    gold: list[tuple[int, int]] = []
    for i in range(n_vecs):
        if i > 0 and rng.random() < near_frac:
            src = int(rng.integers(0, i))
            v = X[src] + near_eps * rng.standard_normal(d)
            labels[i] = labels[src]
            gold.append((src, i))
        else:
            lab = int(rng.integers(0, n_clusters))
            labels[i] = lab
            v = centers[lab] + cluster_noise * rng.standard_normal(d)
        X[i] = v / np.linalg.norm(v)
    return EmbeddingSet(
        vec_ids=np.arange(n_vecs, dtype=np.int64),
        X=X.astype(np.float32),
        labels=labels,
        gold_near_pairs=gold,
    )


def cached_corpus(n_docs: int, seed: int = 42, root: str = "/root/repo/.cache") -> str:
    """Idempotent corpus materialization for tests/bench."""
    path = os.path.join(root, f"corpus_n{n_docs}_s{seed}")
    marker = os.path.join(path, "documents.parquet")
    if not os.path.exists(marker):
        write_corpus(path, n_docs, seed)
    return path
