"""Deduplication primitives beyond the MinHash pipeline — the
training-data-pipeline operator set (exact dedup, n-gram Jaccard,
embedding-cosine near-dup), each expressible as pure DataFrame ops so the
DuckDB oracle can cross-check them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from qalsh_spark.functions.text import content_md5
from qalsh_spark.operators.components import _CKPT_LEVEL


def exact_dup_groups(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: normalized-text md5 -> groups with >1 doc.
    Returns (text_key, n_dups, keep_id) — keep_id = min doc id (the survivor).
    Map-side partial agg; one shuffle on the 128-bit key; no skew risk
    (exact-dup groups are small by nature, boilerplate aside — and a hot key
    is still just a count+min, not a materialized group)."""
    keyed = documents.select(
        F.col(id_col), content_md5(F.col("text")).alias("text_key")
    )
    return (
        keyed.groupBy("text_key")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def token_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.4,
    max_token_df: int = 20,
    id_col: str = "doc_id",
    persists: list | None = None,
) -> DataFrame:
    """Unigram-Jaccard near-dup pairs via an inverted-index self-join.

    The join key is the token, but only RARE tokens (document frequency <=
    max_token_df) participate — the standard prefix/df filter that keeps the
    token join from exploding on stopwords (a stopword key would join
    |corpus| x |corpus| rows).  Jaccard is still computed over the FULL
    distinct-token sets, so the df filter only affects which pairs are
    *discovered*, mirroring how banding only affects candidate discovery in
    the MinHash lane.  Result: (a, b, jaccard) with a < b.

    `persists`: optional list collecting the cached token stream (consumed
    by three downstream joins) so the caller can unpersist it once the
    result is materialized — same contract as candidate_pairs_from_buckets.
    """
    toks = documents.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok"),
    ).filter(F.col("tok") != "").persist(_CKPT_LEVEL)
    if persists is not None:
        persists.append(toks)
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    rare = toks.join(
        toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df")),
        on="tok",
    ).filter(F.col("df") <= max_token_df)
    cand = (
        rare.alias("x")
        .join(rare.alias("y"), on="tok")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    # Full shared-token count computed ONLY for the discovered candidate
    # pairs: attach each side's token stream to the pair and count matches.
    # (Counting via an unrestricted toks-self-join would explode on high-df
    # tokens — the token join key must stay df-bounded; here the big joins
    # key on doc id instead.)
    full_shared = (
        cand.join(toks.withColumnRenamed("doc_id", "a"), on="a")
        .join(toks.withColumnRenamed("doc_id", "b"), on=["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        full_shared.join(sizes.withColumnRenamed("doc_id", "a"), on="a")
        .withColumnRenamed("n_tok", "na")
        .join(sizes.withColumnRenamed("doc_id", "b"), on="b")
        .withColumnRenamed("n_tok", "nb")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
    )
    return out


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.98,
    m: int = 16,
    bands: int = 4,
    seed: int = 6,
    bucket_cap: int = 64,
    persists: list | None = None,
) -> DataFrame:
    """embeddings(vec_id, embedding) -> embedding-cosine near-duplicate
    pairs: SRP-LSH bucket join for candidates, exact cosine verify (same
    collide-then-verify shape as the document pipeline). Returns (a, b,
    cos) with a < b, cos >= threshold.
    Signing is the Arrow-batched SRP UDF (planes in the UDF closure — no
    plan literals, no driver-side dimension probe).

    Candidate generation routes through the shared skew-safe pair
    generator (operators/pairs.candidate_pairs_from_buckets), exactly like
    the document lanes: buckets over `bucket_cap` members — the signature
    failure mode of a near-dup job, since near-identical vectors land in
    the SAME SRP bucket in EVERY band — emit star-to-hub pairs (n-1 edges,
    map-side broadcast join) instead of exploding C(n,2) inside one
    aggregation buffer.  Star keeps hot buckets connected for downstream
    clustering at graph diameter 2; pairwise edges dropped by the cap are
    recovered transitively there (the same contract as the minhash lane;
    reference analog: the bounded per-bucket candidate scan,
    /root/reference/methods/qalsh.h:435-468).

    `persists`: optional list collecting the pair generator's cached
    bucket stream for caller-side unpersist (DedupResult.release shape)."""
    from qalsh_spark.operators.ann import cosine_sim, random_projection_buckets
    from qalsh_spark.operators.banding import LANE_EMBED
    from qalsh_spark.operators.pairs import candidate_pairs_from_buckets

    b = random_projection_buckets(embeddings, m, bands, seed)
    buckets = b.select(
        F.col("vec_id").alias("doc_id"),
        F.lit(LANE_EMBED).cast("tinyint").alias("lane_id"),
        "band_key",
    )
    cand, _stats = candidate_pairs_from_buckets(
        buckets, bucket_cap=bucket_cap, persists=persists
    )
    cand = cand.select("a", "b")
    vecs = embeddings.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    return (
        cand.join(vecs.withColumnsRenamed({"id": "a", "v": "va"}), on="a")
        .join(vecs.withColumnsRenamed({"id": "b", "v": "vb"}), on="b")
        .withColumn("cos", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", F.round("cos", 4).alias("cos"))
    )
