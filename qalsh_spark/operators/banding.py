"""Band explosion: signatures -> (doc_id, lane_id, band_key) bucket rows.

This is the distributed reimagination of the reference's m sorted projection
tables (/root/reference/methods/qalsh.h:285-307): instead of m B+-trees probed
per query, all band/bucket memberships are materialized at once and
Catalyst's shuffle groups colliding documents — "all points whose projection
falls in the same query-anchored bucket" (methods/qalsh.h:435-468) becomes
"all docs whose band key is equal".

Bucket rows are deliberately SLIM — (doc_id long, lane_id byte, band_key
long) — because they are the highest-volume shuffle in the engine (~120
rows/doc).  The band index is already mixed INTO each key by the kernels
(minhash: band position, simhash: block-combination id), so a separate
band_id column would be redundant; the lane tag rides as one byte.

posexplode/transform are JVM-side (whole-stage codegen) — no Python here.
"""

from __future__ import annotations

from collections.abc import Collection

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from qalsh_spark import kernels as K

# lane tags (byte-sized) shared by pair generation / verification
LANE_MINHASH = 0
LANE_SIMHASH = 1
# Exact-substring lane ("distributed suffix-array pass").  A true suffix
# array is one giant sorted structure — the reference's closest relative is
# the bulkload-sorted projection table + sibling-linked leaf sweep
# (the reference's methods/qalsh.h:285-307, 622-828: sort once, then walk
# neighbors in order).  The scalable reimagination, all in the one signing
# pass (functions/signatures.py) plus the shared bucket stream:
#   1. per document, sample suffix start positions at CONTENT-DEFINED
#      anchors (rolling hash of the preceding 16 bytes == 0 mod gap,
#      winnowing-style): two documents sharing a verbatim run longer than
#      `lcp_min` plus a few anchor gaps place anchors at the same content
#      offsets inside the run, so they emit comparable suffixes without
#      any global alignment;
#   2. hash the `lcp_min` bytes after each anchor into an int64 bucket key
#      (kernels.suffix_key_pairs_for_text).  LCP >= lcp_min IFF the first
#      lcp_min bytes are equal IFF the keys are equal, so equality bucketing
#      IS the LCP verification and the lane shuffles only (doc_id, key)
#      int64 pairs, never suffix strings;
#   3. generate (doc_a, doc_b) edges per bucket with the generic skew-safe
#      pair operator (operators/pairs.py: bounded JVM all-pairs for small
#      buckets, star-to-hub for hot boilerplate runs) under its own cap.
# No global orderBy, no single-partition window, no unbounded collect: the
# lane is groupBy-shaped, AQE/skew-safe, and shuffles ~16 bytes per sampled
# anchor regardless of document size.
LANE_SUFFIX = 2
SUFFIX_BUCKET_CAP = 32
LANE_EMBED = 3  # SRP buckets over embeddings (operators/dedup.py)
LANE_NAMES = {
    LANE_MINHASH: "minhash",
    LANE_SIMHASH: "simhash",
    LANE_SUFFIX: "suffix",
    LANE_EMBED: "embed",
}


def lane_name_col(lane_id_col):
    """lane_id byte -> human-readable lane name (tiny data only: stats,
    final edges)."""
    expr = F.lit("unknown")
    for lid, name in LANE_NAMES.items():
        expr = F.when(lane_id_col == F.lit(lid), F.lit(name)).otherwise(expr)
    return expr


def _lane(col: str, lane_id: int):
    return F.transform(
        col,
        lambda k: F.struct(
            F.lit(lane_id).cast("tinyint").alias("lane_id"),
            k.alias("band_key"),
        ),
    )


def reband_minhash_udf(bands: int, rows: int):
    """minhash array<int> -> array<long> band keys at a NEW (bands, rows)
    operating point, re-using the stored signature (a PREFIX of bands*rows
    permutations) — the escalation / virtual-rehashing analog
    (/root/reference/methods/qalsh.h:844-871).  Arrow-batched; one
    kernels.band_hashes_matrix call per batch."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(mh: pd.Series) -> pd.Series:
        if len(mh) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(mh.to_numpy()).astype(np.int32)[:, : bands * rows]
        keys = K.band_hashes_matrix(M, bands, rows)
        return pd.Series(list(keys))

    return _udf


# lane name -> (lane tag, signatures column), in bucket-stream order
_LANE_COLUMNS = {
    "minhash": (LANE_MINHASH, "band_keys"),
    "simhash": (LANE_SIMHASH, "simhash_keys"),
    "suffix": (LANE_SUFFIX, "suffix_keys"),
}


def explode_bands(signatures: DataFrame, lanes: Collection[str]) -> DataFrame:
    """Bucket rows (doc_id, lane_id, band_key) for the named `lanes`
    (minhash band keys; simhash block-combination keys, kernels.
    simhash_band_keys — docs at Hamming distance <= blocks-key_blocks
    share >=1 key; suffix anchor keys) in ONE scan of the signatures
    table, always in the order minhash, simhash, suffix.

    A self-union of per-lane selects would defeat Spark's cache/exchange
    reuse (plan canonicalization misses across union branches — measured
    ~50x recompute cost), so the lanes are concatenated per-row into one
    array<struct> and exploded JVM-side."""
    parts = [
        _lane(col, lid) for name, (lid, col) in _LANE_COLUMNS.items() if name in lanes
    ]
    combined = F.concat(*parts) if len(parts) > 1 else parts[0]
    return signatures.select(
        "doc_id", F.explode(combined).alias("band")
    ).select("doc_id", "band.lane_id", "band.band_key")
