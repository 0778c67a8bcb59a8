"""Candidate verification — the analog of QALSH reading the raw point and
computing the exact l_p distance once a candidate's collision count passes
the threshold (/root/reference/methods/qalsh.h:444-446, exact kernels at
methods/util.h:211-464).

One pass, one join per pair endpoint, one Python crossing:

1. One narrow row per document: the signatures table (minhash as position
   tags, simhash, zipped (k1, k2) suffix tuples) joined to the documents
   table for its raw text.  As in the reference's verify-time page fetch
   (methods/util.h:171-193: the raw point is NOT stored in the index; it is
   re-read from the paged store only for candidates), the signatures carry
   no shingle sets — the text is fetched here and shingled only where a
   pair needs an exact score.
2. Each pair joins that row once for `a` and once for `b`.
3. Every JVM-decidable rule runs before any Python: positionwise minhash
   agreement (one array_intersect of position tags) estimates Jaccard and
   discards minhash pairs that cannot plausibly reach the threshold — the
   moral analog of the reference's early-exit distance accumulation
   (methods/util.h:261-262), done batch-wise instead of element-wise; the
   simhash rule is `bit_count(a ^ b)` and the suffix rule a 128-bit tuple
   overlap, both pure JVM SQL.
4. One Arrow-batched UDF scores the survivors: it shingles each text at
   most once per batch (memo on doc_id) and computes the exact Jaccard only
   for rows whose estimate passed the prefilter.

Fewer, larger Python crossings, after *Accelerating Python UDFs in
Vectorized Query Execution* (CIDR 2022).  Nothing here is cached: each
input is read once per endpoint join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from qalsh_spark import kernels as K
from qalsh_spark.config import DedupConfig
from qalsh_spark.operators.banding import LANE_MINHASH, LANE_SIMHASH, LANE_SUFFIX, lane_name_col

# minhash-lane pairs whose signature estimate falls below
# jaccard_threshold - PREFILTER_MARGIN skip the exact Jaccard
PREFILTER_MARGIN = 0.2


def jaccard_pairs_udf(shingle_k: int):
    """(a, b, text_a, text_b, need) -> exact Jaccard of the two texts'
    shingle sets where `need`, else 0.0.

    Shingles with the signing stage's kernels, at most once per doc per
    Arrow batch (memo keyed on doc_id: a hub doc in many pairs is shingled
    once).  The per-row intersect is deliberately a loop: a batch-level
    global lexsort over (pair, value) rows was MEASURED 4-20x SLOWER at
    every representative shingle-set size — np.intersect1d on presorted
    unique arrays is C-speed and the per-row Python overhead is O(1)."""

    def shingles(doc_id, text, memo: dict) -> np.ndarray:
        sh = memo.get(doc_id)
        if sh is None:
            sh = memo[doc_id] = K.shingle_hashes(
                K.hash_tokens(K.tokenize(text or "")), shingle_k
            )
        return sh

    @F.pandas_udf(T.DoubleType())
    def _udf(
        a: pd.Series, b: pd.Series, text_a: pd.Series, text_b: pd.Series,
        need: pd.Series,
    ) -> pd.Series:
        out = np.zeros(len(a), dtype=np.float64)
        memo: dict = {}
        ids_a, ids_b = a.to_numpy(), b.to_numpy()
        for i in np.flatnonzero(need.to_numpy(dtype=bool)):
            out[i] = K.jaccard_sorted(
                shingles(ids_a[i], text_a.iat[i], memo),
                shingles(ids_b[i], text_b.iat[i], memo),
            )
        return pd.Series(out)

    # Nondeterministic only to pin the plan: Catalyst would otherwise push
    # the acceptance filter through the projection and extract the UDF
    # twice (one Arrow crossing for the filter, one for the column).
    return _udf.asNondeterministic()


def _position_tagged(minhash_col):
    """minhash array<int> -> array<long> of (position << 32 | value) tags.
    Positionwise agreement between two signatures then reduces to ONE
    array_intersect size per pair (hash-set built-in) instead of a 128-wide
    interpreted zip_with+aggregate per pair — the tags are computed once per
    DOCUMENT, the intersects once per PAIR."""
    mask = F.lit(4294967295)
    return F.transform(
        minhash_col,
        lambda x, i: F.shiftleft(i.cast("long"), 32).bitwiseOR(
            x.cast("long").bitwiseAND(mask)
        ),
    )


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    documents_with_id: DataFrame,
) -> DataFrame:
    """pairs(a,b,lane_id) x signatures x documents_with_id(doc_id, text) ->
    edges(a, b, jaccard, hamming, lanes) for pairs passing their lane's
    threshold.

    Per-lane acceptance (the oracle mirrors these rules exactly):
      minhash: exact Jaccard >= cfg.jaccard_threshold
      simhash: bit_count(xor) <= cfg.hamming_max (catches localized edits
               that shingle Jaccard under-scores)
      suffix:  bucketed on the 64-bit k1 content hash upstream; accepted
               only if the two docs share a full (k1, k2) tuple — the
               independent check hash makes acceptance a 128-bit equality
               test, so birthday collisions at 10^11-key scale cannot
               merge unrelated clusters.

    `jaccard` is the exact score wherever the minhash estimate passed the
    prefilter (threshold - PREFILTER_MARGIN), else 0.0.
    """
    # zip BEFORE any rename so both join sides carry identical struct field
    # names (required for arrays_overlap equality)
    docs = signatures.select(
        "doc_id",
        _position_tagged(F.col("minhash")).alias("mh"),
        F.col("simhash").alias("fp"),
        F.arrays_zip("suffix_keys", "suffix_checks").alias("sfx"),
    ).join(documents_with_id.select("doc_id", "text"), on="doc_id")

    def side(s: str) -> DataFrame:
        return docs.select(
            *(F.col(c).alias(f"{c}_{s}") for c in ("mh", "fp", "sfx", "text")),
            F.col("doc_id").alias(s),
        )

    j = pairs.join(side("a"), on="a").join(side("b"), on="b")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    mh_est = F.size(F.array_intersect("mh_a", "mh_b")) / F.lit(cfg.num_perm)
    need = mh_est >= F.lit(cfg.jaccard_threshold - PREFILTER_MARGIN)
    lane = F.col("lane_id")
    survivors = j.filter(
        ((lane == LANE_MINHASH) & need)
        | ((lane == LANE_SIMHASH) & (hamming <= cfg.hamming_max))
        | ((lane == LANE_SUFFIX) & F.arrays_overlap("sfx_a", "sfx_b"))
    ).select(
        "a", "b", "lane_id", "text_a", "text_b",
        hamming.alias("hamming"), need.alias("need"),
    )
    scored = survivors.withColumn(
        "jaccard",
        jaccard_pairs_udf(cfg.shingle_k)("a", "b", "text_a", "text_b", "need"),
    )
    edges = scored.filter(
        (lane != LANE_MINHASH) | (F.col("jaccard") >= cfg.jaccard_threshold)
    )
    # One edge per (a,b): keep the strongest evidence, fold lanes.
    return (
        edges.groupBy("a", "b")
        .agg(
            F.max("jaccard").alias("jaccard"),
            F.min("hamming").alias("hamming"),
            F.transform(
                F.array_sort(F.collect_set("lane_id")),
                lambda i: lane_name_col(i),
            ).alias("lanes"),
        )
    )
