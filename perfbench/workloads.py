"""Deterministic workload generators: the same seed gives the same inputs.

Pure NumPy (plus the engine's own `datagen`), no Spark: the engine only ever
receives the tables these functions return.

  crawl_unique    long unique bodies (datagen class `unique`), text present;
                  signing is the dominant layer, candidate pairs near zero.
  crawl_dupheavy  short docs in near-dup drift chains (each doc a small
                  mutation of the previous one) plus boilerplate families
                  larger than `bucket_cap`; one row in five is html-only.
                  Pairs, verify and connected components dominate.
  ann_rehash      `datagen.generate_embeddings` with a held-out query set
                  for p-stable top-k with virtual rehashing.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from qalsh_spark import datagen

CRAWL_UNIQUE_DOCS = 1200
# drift chains: CHAIN_FAMILIES x CHAIN_LEN docs of CHAIN_WORDS words.  Each
# step replaces one word in every CHAIN_STRIDE, at a random phase: no
# 100-byte run (lcp_min; words are at most 8 bytes with the space) survives
# a step, so the suffix lane links nothing, consecutive docs sit at 3-shingle
# Jaccard ~0.6 and docs two steps apart at ~0.4.  The verified graph of a
# family is then a path, and label propagation needs about CHAIN_LEN rounds.
CHAIN_FAMILIES = 30
CHAIN_LEN = 10
CHAIN_WORDS = 60
CHAIN_STRIDE = 12
# boilerplate families: one shared template plus one word per doc.  The word
# moves few minhash minima, so every minhash band bucket of a family holds
# nearly all of it, above the default bucket_cap (64), and takes star
# pairing.  Its simhash and suffix buckets split by seed, and a split bucket
# under the cap is fully paired (up to ~2,000 pairs); many small families
# average those jumps out, so candidate pairs stay within a few percent
# across seeds (with two large families they varied by 2x).
BOILER_FAMILIES = 6
BOILER_SIZE = 80
BOILER_WORDS = 100
DUPHEAVY_UNIQUES = 100
HTML_ONLY_EVERY = 5  # one row in five arrives with text null, html only

ANN_VECTORS = 5_000
ANN_QUERIES = 50
ANN_DIM = 64
ANN_K = 10
# the 10-NN distance is ~0.76: no query is certified in round 0 (2 x 0.2),
# most are in round 1 and the rest by the cap, so every seed runs three rounds
ANN_RADIUS = 0.2
ANN_MAX_ROUNDS = 3


@dataclass
class CrawlInput:
    urls: list[str]
    texts: list[str | None]  # None = html-only row
    htmls: list[bytes]

    def oracle_texts(self) -> list[str]:
        """Text as the engine sees it after html extraction."""
        from qalsh_spark.functions.signatures import extract_text_bytes

        return [
            t if t is not None else extract_text_bytes(h)
            for t, h in zip(self.texts, self.htmls)
        ]

    def to_table(self):
        import pyarrow as pa

        n = len(self.urls)
        ts = np.datetime64("2024-01-01T00:00:00", "s") + (
            np.arange(n) * 1337
        ).astype("timedelta64[s]")
        return pa.table(
            {
                "url": pa.array(self.urls, pa.string()),
                "warc_ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
                "html": pa.array(self.htmls, pa.binary()),
                "text": pa.array(self.texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
            }
        )


@dataclass
class AnnInput:
    data: np.ndarray     # (n, d) float32
    queries: np.ndarray  # (q, d) float32, held out of `data`


def _html(text: str) -> bytes:
    """Page whose <p> blocks extract back to `text` byte-identically."""
    words = text.split(" ")
    body = "".join(
        f"<p>{' '.join(words[i:i + 40])}</p>" for i in range(0, len(words), 40)
    )
    return f"<html><body><nav>menu</nav>{body}</body></html>".encode()


def crawl_unique(seed: int) -> CrawlInput:
    # ~60% of a FIXTURES mix is class `unique`; over-generate, keep those
    c = datagen.generate_corpus(2 * CRAWL_UNIQUE_DOCS, seed=seed)
    keep = [i for i, k in enumerate(c.gold_class) if k == "unique"]
    keep = keep[:CRAWL_UNIQUE_DOCS]
    if len(keep) < CRAWL_UNIQUE_DOCS:
        raise RuntimeError(f"seed {seed}: only {len(keep)} unique docs")
    return CrawlInput(
        [c.urls[i] for i in keep], [c.text[i] for i in keep], [c.html[i] for i in keep]
    )


def crawl_dupheavy(seed: int) -> CrawlInput:
    rng = np.random.default_rng([seed, 0xD0B])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(rng.choice(letters, size=n)) for n in rng.integers(3, 8, 20_000)],
        dtype=object,
    )
    texts: list[str] = []
    for _ in range(CHAIN_FAMILIES):
        words = rng.choice(vocab, size=CHAIN_WORDS)
        for _ in range(CHAIN_LEN):
            texts.append(" ".join(words))
            words = words.copy()
            at = np.arange(int(rng.integers(CHAIN_STRIDE)), CHAIN_WORDS, CHAIN_STRIDE)
            words[at] = rng.choice(vocab, size=len(at))
    for _ in range(BOILER_FAMILIES):
        template = " ".join(rng.choice(vocab, size=BOILER_WORDS))
        for _ in range(BOILER_SIZE):
            texts.append(template + " " + rng.choice(vocab))
    for _ in range(DUPHEAVY_UNIQUES):
        texts.append(" ".join(rng.choice(vocab, size=CHAIN_WORDS)))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    urls = [f"https://dupheavy{seed}.example/doc/{i:06d}" for i in range(len(texts))]
    htmls = [_html(t) for t in texts]
    kept = [None if i % HTML_ONLY_EVERY == 0 else t for i, t in enumerate(texts)]
    return CrawlInput(urls, kept, htmls)


def ann_rehash(seed: int) -> AnnInput:
    e = datagen.generate_embeddings(ANN_VECTORS + ANN_QUERIES, d=ANN_DIM, seed=seed)
    return AnnInput(e.X[:ANN_VECTORS], e.X[ANN_VECTORS:])


GENERATORS = {
    "crawl_unique": crawl_unique,
    "crawl_dupheavy": crawl_dupheavy,
    "ann_rehash": ann_rehash,
}
