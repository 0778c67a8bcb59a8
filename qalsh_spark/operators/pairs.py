"""Skew-safe candidate-pair generation from equality buckets — pure JVM.

The reference turns bucket collisions into candidates via a per-id collision
counter `++freq[id]` with threshold `l` (/root/reference/methods/qalsh.h:442-447).
Here a pair is a candidate when it shares >= 1 band bucket (b x r tuned instead
of l/m — SURVEY.md §2.2 P2); dedup across the bands that both docs share is a
`dropDuplicates`, the distributed `checked[id]` (methods/qalsh.h:443).

Skew design (SURVEY.md §4 "skew handling", north-rule mandate) — SINGLE
exchange, bounded memory at EVERY operator:
  - the bucket stream is hash-exchanged ONCE on (band_key, lane_id) and the
    shuffled copy is persisted at PySpark's serialized MEMORY_AND_DISK level
    (compressed columnar batches in RAM while they fit, evicted to the
    scratch dirs under pressure — never re-inflated on read, see
    components._CKPT_LEVEL).  Every consumer below reads that one
    materialization and, because its grouping keys equal the partitioning
    keys, runs EXCHANGE-FREE: Catalyst's EnsureRequirements sees the
    ClusteredDistribution already satisfied.  (The previous two-pass design
    re-exchanged the full stream for the size pass AND the collect pass, and
    the stats consumer re-ran the size exchange — 3x the shuffle bytes; at
    the 4M-doc scaling corpus that was ~77 GB of zstd scratch and a
    kernel-OOM when it all sat on tmpfs.);
  - pass 1 (over the shuffled copy): a slim (bucket_size, hub=min doc_id)
    row per bucket — in-stage aggregation, fixed-width state, safe for any
    bucket size.  Hot keys (size > cap) are the rare over-cap tail of the
    size distribution and broadcast to every task;
  - pass 2a (small buckets): members of hot buckets are removed by a
    MAP-SIDE broadcast anti-join BEFORE the collect_list aggregate, so the
    aggregation never buffers a hot bucket and every collected array is
    provably <= cap elements.  All C(size,2) pairs then explode from the
    sorted array via nested `transform` — whole-stage-codegen JVM, no
    Python;
  - pass 2b (hot buckets): STAR pairing — every member pairs with the hub
    via the broadcast table, a purely map-side join + projection with NO
    further exchange.  Star keeps the bucket connected for clustering with
    graph diameter 2 at n-1 edges instead of O(n^2); dropped all-pairs
    edges are recovered transitively through verification + clustering
    (hot buckets are near-identical docs by construction);
  - the size pass runs EAGERLY at operator build (localCheckpoint of the
    tiny hot-key table): the two broadcast builds below consume the
    checkpoint instead of racing to re-materialize the upstream (measured:
    concurrent duplicate materialization at 4M docs doubled peak memory and
    OOM-killed the JVM);
  - hot-bucket cardinality and elided pair counts are reported in
    bucket_stats (no-silent-caps rule).

Bucket rows are slim (doc_id, lane_id byte, band_key) and grouping is on
`band_key` ALONE: every key construction mixes its own domain (minhash band
position, simhash combination id, suffix content hash), so cross-lane or
cross-band key collisions are 2^-64 events — a separate (lane, band_id)
grouping key would only fatten the engine's highest-volume shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from qalsh_spark.operators.banding import LANE_NAMES, lane_name_col
from qalsh_spark.operators.components import _CKPT_LEVEL


def _pair_structs(ids_col):
    """All (i < j) pairs from a sorted array<long> of doc ids via nested
    transform — JVM-side combinatorics."""

    def inner(x, i):
        rest = F.slice(ids_col, i + F.lit(2), F.size(ids_col))
        return F.transform(rest, lambda y: F.struct(x.alias("a"), y.alias("b")))

    return F.flatten(F.transform(ids_col, inner))


def _cap_expr(bucket_cap) -> F.Column:
    """Per-lane cap expression.  A lane present in the bucket stream but
    absent from a dict cap falls back to the max configured cap (a NULL here
    would make BOTH the small- and hot-bucket filters false and silently
    drop every bucket of that lane)."""
    if isinstance(bucket_cap, dict):
        name_to_id = {v: k for k, v in LANE_NAMES.items()}
        expr = None
        for lane, c in bucket_cap.items():
            lid = name_to_id[lane] if isinstance(lane, str) else lane
            w = F.when(F.col("lane_id") == F.lit(lid), F.lit(c))
            expr = w if expr is None else F.coalesce(expr, w)
        default = max(bucket_cap.values())
        return F.coalesce(expr, F.lit(default))
    return F.lit(bucket_cap)


def candidate_pairs_from_buckets(
    buckets: DataFrame,
    bucket_cap: int | dict[str, int] = 64,
    persists: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """buckets(doc_id, lane_id, band_key) ->
    (pairs(a, b, lane_id) deduped, bucket_stats).
    a < b always; doc order inside a bucket is ascending doc_id, so the
    pair set is deterministic (oracle parity).

    `bucket_cap` may be a per-lane dict (e.g. {"minhash": 64, "suffix": 32})
    so heterogeneous lanes share ONE pair-generation pass — fewer stages,
    one shuffle schedule, one skew story.

    `persists`: optional list collecting the cached DataFrames this operator
    creates, so the caller can unpersist them once pairs/stats are consumed
    (DedupResult.release()); without it the cache lives until session end.
    """
    cap = _cap_expr(bucket_cap)
    sz = F.col("bucket_size")

    # THE one exchange: hash-partition the slim bucket stream on band_key
    # ALONE — HashPartitioning(band_key) satisfies every consumer's
    # ClusteredDistribution(band_key, lane_id) by the subset rule, hashes
    # one column instead of two, and (load-bearing) stays an ATTRIBUTE
    # even when a caller's lane_id is a plan literal: a foldable lane_id
    # inside the partitioning expressions gets constant-folded into a
    # form the consumers' required distribution no longer matches, and
    # Catalyst silently re-exchanges the whole stream between the partial
    # and final collect aggregates (observed with the embed lane's
    # lit(LANE_EMBED) before this fix — 2x the engine's highest-volume
    # shuffle).  The shuffled copy is kept MEMORY_AND_DISK (compressed
    # columnar batches; blocks the JVM storage pool cannot hold are evicted
    # to the scratch dirs, so the footprint is heap-bounded — never a kernel
    # OOM).  At small inputs the three consumers below re-read pure RAM; at
    # leg/cluster scale eviction degrades gracefully to disk (measured:
    # forcing DISK_ONLY here cost the sf0.1 flagship query ~55% wall by
    # pushing every consumer scan through zstd + the real-disk half of the
    # dual scratch dirs).  Every downstream groupBy/join below clusters on
    # the same keys and therefore runs in-stage on this partitioning — zero
    # further exchanges of the engine's highest-volume stream.
    bucketed = buckets.repartition(F.col("band_key")).persist(_CKPT_LEVEL)
    if persists is not None:
        persists.append(bucketed)

    # Pass 1 — slim (size, hub) row per bucket: in-stage aggregation over
    # the shuffled copy (fixed-width state, safe for ANY bucket size).
    sizes = bucketed.groupBy("band_key", "lane_id").agg(
        F.count("*").alias("bucket_size"),
        F.min("doc_id").alias("hub"),
    )
    # Hot buckets = the over-cap tail of the size distribution — rare by
    # construction (cardinality surfaced in bucket_stats.n_hot_buckets), so
    # the tiny key table broadcasts.  localCheckpoint is EAGER: it runs the
    # one exchange above, populates the serialized MEMORY_AND_DISK cache
    # as a side effect,
    # and hands the two broadcast builds below a materialized table so their
    # concurrent build futures can never race to recompute the upstream.
    hot = F.broadcast(
        sizes.filter(sz > cap)
        .select("band_key", "lane_id", "hub")
        .localCheckpoint(True, _CKPT_LEVEL)
    )

    # Pass 2a — small buckets (2 <= size <= cap): members of hot buckets are
    # removed by a MAP-SIDE broadcast anti-join BEFORE the collect_list
    # aggregate, so (a) the aggregation never buffers a hot bucket and
    # (b) every collected array is provably <= cap elements — a degenerate
    # boilerplate bucket can no longer materialize as one unspillable
    # aggregation buffer (ADVICE r2).  Then JVM all-pairs from the sorted
    # array (pair order a < b, bit-identical to the per-row formulation).
    small_grouped = (
        bucketed.join(hot, on=["band_key", "lane_id"], how="left_anti")
        .groupBy("band_key", "lane_id")
        .agg(F.array_sort(F.collect_list(F.col("doc_id"))).alias("members"))
    )
    pairs_small = (
        small_grouped.filter(F.size("members") >= 2)
        .select("lane_id", F.explode(_pair_structs(F.col("members"))).alias("pair"))
        .select("pair.a", "pair.b", "lane_id")
    )
    # Pass 2b — hot buckets: star to the hub via the broadcast table — a
    # purely map-side join + projection, NO further exchange of the big
    # side.  Row-wise and spillable; a < b holds because hub is the bucket
    # min.
    pairs_star = (
        bucketed.join(hot, on=["band_key", "lane_id"])
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("a"), F.col("doc_id").alias("b"), "lane_id")
    )
    pairs = pairs_small.unionByName(pairs_star).dropDuplicates(["a", "b", "lane_id"])

    # stats: one slim row per bucket, re-aggregated in-stage from the same
    # persisted partitioning — consuming stats costs a cache scan, not a
    # re-run of the bucket exchange.
    per_bucket = sizes.withColumn("cap", cap)
    stats = (
        per_bucket.groupBy("lane_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("bucket_size").alias("max_bucket"),
            F.sum(
                F.when(F.col("bucket_size") > F.col("cap"), 1).otherwise(0)
            ).alias("n_hot_buckets"),
            F.sum(
                F.when(
                    F.col("bucket_size") > F.col("cap"),
                    (
                        F.col("bucket_size").cast("long")
                        * (F.col("bucket_size") - 1)
                    )
                    / 2
                    - (F.col("bucket_size") - 1),
                ).otherwise(0)
            )
            .cast("long")
            .alias("pairs_elided_by_star"),
        )
        .select(
            lane_name_col(F.col("lane_id")).alias("lane"),
            "n_buckets",
            "max_bucket",
            "n_hot_buckets",
            "pairs_elided_by_star",
        )
    )
    return pairs, stats
