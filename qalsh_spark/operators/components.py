"""Connected components over the verified edge list, via iterative DataFrame
self-joins (SURVEY.md §2.3 J5 — absent in the reference, required by the north
rule for clustering).

Algorithm: min-label propagation with an adjacency that is symmetrized once.
Each iteration every vertex takes min(own label, neighbors' labels); a
localCheckpoint truncates the lineage so the plan doesn't grow exponentially.
Convergence is O(graph diameter) iterations; the pair generator's star rule
(operators/pairs.py) keeps hot-bucket components at diameter 2, but a drift
chain (a page recrawled with small edits each time) costs one round per hop.

Shuffle discipline: the adjacency is hash-partitioned by the iteration join
key (dst) ONCE and localCheckpoint'd — checkpoint preserves partitioning
(when AQE is off, the below-10M default), and the labels side is always
partitioned by doc_id as a groupBy/join output, so each iteration costs ONE
exchange (the neighbor-min aggregate) instead of three.  Convergence rides
on that same job: an Observation counts the labels the round lowers while
the eager checkpoint writes them, so a round is one Spark job and no
collect; a round that lowers none is the fixed point.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation

# Storage level for every lineage-truncating checkpoint of a LARGE DataFrame.
# The JVM default for Dataset.localCheckpoint is Scala's MEMORY_AND_DISK,
# which stores DESERIALIZED Java objects: blocks that spill to disk under
# memory pressure are Java-serialized, and every later read re-inflates the
# whole block into the memory store (BlockManager.maybeCacheDiskValuesInMemory)
# — at the 4M-doc scaling leg, 8 concurrent tasks re-inflating spilled
# adjacency blocks OOM-killed a 24g heap.  The SERIALIZED level streams disk
# blocks without re-inflation and its memory-store puts reserve bytes up
# front, degrading to disk reads instead of heap death.
#
# NOTE the naming trap: PySpark's StorageLevel.MEMORY_AND_DISK is the
# SERIALIZED variant (deserialized=False) — it is Scala's
# MEMORY_AND_DISK_SER, NOT Scala's same-named deserialized level.  The
# assert pins that so a PySpark version drift or an "equivalent-looking"
# edit cannot silently reintroduce the deserialized OOM.
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK
assert not _CKPT_LEVEL.deserialized, (
    "_CKPT_LEVEL must be a serialized storage level (see OOM note above)"
)

# Runaway bound on label-propagation rounds.  A component whose diameter
# needs more rounds raises RuntimeError instead of returning split clusters.
MAX_ITER = 50


def _release_checkpoint(df: DataFrame) -> None:
    """Deterministically free a localCheckpoint'd DataFrame's backing RDD.

    DataFrame.unpersist() is a no-op for checkpoints (the data lives in a
    persisted RDD wrapped by a LogicalRDD, not in the SQL cache manager), so
    a superseded checkpoint otherwise lingers until the ContextCleaner's
    weak-reference sweep — an O(iterations) cache bound instead of O(1).
    Unpersisting the LogicalRDD's RDD is safe ONLY once nothing will read
    the frame again: a local checkpoint has no lineage to recompute from.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: worst case we fall back to the ContextCleaner


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(a, b) -> components(doc_id, cluster_id) for every vertex that
    appears in an edge. cluster_id = min doc_id in the component.  Raises
    RuntimeError if labels still change after MAX_ITER propagation rounds."""
    # Symmetrize with ONE scan via explode instead of a self-union: Spark's
    # plan canonicalization fails to reuse cache/exchange across self-union
    # branches (measured 50x slower), and explode halves the input reads at
    # any scale.  No distinct: the edge list is already one row per (a,b)
    # (verify folds lanes; exact/escalation edges are disjoint by
    # construction), so both directions are unique.  Repartitioned by dst
    # ONCE (see "Shuffle discipline" above).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(F.col("dst"))
    )
    sym = sym.localCheckpoint(True, _CKPT_LEVEL)
    # first(src) is the vertex itself, so the initial label already
    # includes it: min over the closed neighbourhood.
    labels = (
        sym.groupBy("src")
        .agg(F.least(F.min("dst"), F.first("src")).alias("label"))
        .withColumnRenamed("src", "doc_id")
        .localCheckpoint(True, _CKPT_LEVEL)
    )

    for _ in range(MAX_ITER):
        # neighbor-min pass: label'(v) = min(label(v), min_{u~v} label(u))
        neigh = (
            sym.join(labels.withColumnRenamed("doc_id", "dst"), on="dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "doc_id")
        )
        lowered = Observation()  # filled by the eager checkpoint's own job
        new_labels = (
            labels.join(neigh, on="doc_id", how="left")
            .observe(
                lowered,
                F.count_if(F.col("nbr_label") < F.col("label")).alias("n"),
            )
            .select("doc_id", F.least("label", "nbr_label").alias("label"))
            .localCheckpoint(True, _CKPT_LEVEL)
        )
        # The superseded labels checkpoint is dead the moment new_labels is
        # materialized (eager ckpt) — release it now so the loop caches at
        # most 2 labels RDDs (prev + new) at any instant, deterministically,
        # instead of O(iterations) frames awaiting the ContextCleaner.
        _release_checkpoint(labels)
        labels = new_labels
        changed = lowered.get["n"]
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ITER} rounds: "
            f"{changed} labels still changed in the last round"
        )
    # sym is not referenced by the returned (checkpointed) labels frame.
    _release_checkpoint(sym)
    return labels.withColumnRenamed("label", "cluster_id")


def clusters_with_representatives(
    components: DataFrame, signatures: DataFrame
) -> DataFrame:
    """Join components back to doc metadata and pick a canonical representative
    per cluster: earliest (warc_ts, url) — FIXTURES.md §3, the reference's
    min_by analog (SURVEY.md §2.4 A4).  Singletons (docs with no dup edge)
    are included with cluster_id = own doc_id."""
    meta = signatures.select("doc_id", "url", "warc_ts")
    labeled = meta.join(components, on="doc_id", how="left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    reps = labeled.groupBy("cluster_id").agg(
        F.min_by("url", F.struct("warc_ts", "url")).alias("representative_url"),
        F.count("*").alias("cluster_size"),
    )
    return labeled.join(reps, on="cluster_id").select(
        "doc_id", "url", "cluster_id", "representative_url", "cluster_size"
    )
