"""QALSH+ two-level search — the reference's kd-tree-partition +
Drusilla-sample + block-vote architecture (/root/reference/methods/
qalsh_plus.h:230-338 index build, 540-598 query-time block ranking),
re-expressed Spark-first:

  index:  IVF cell assignment (the kd-tree-partition analog — a
          closure-broadcast pandas UDF, zero shuffle of the big side)
          -> per-cell DrusillaSelect representatives via
          ``groupBy(cell).applyInPandas`` (each cell's sketch computed
          where its rows live — the distributed twin of the reference
          running drusilla_select per kd-leaf).
  query:  rank cells by VOTES: exact top-``maxk`` of each query against
          the tiny union-of-sketches table (broadcast — n_cells*L*M rows),
          count hits per (query, cell) exactly like get_block_order's
          per-block counters (qalsh_plus.h:568-598), probe the ``nprobe``
          best-voted cells, exact-rescore only their members.

Scale posture: the big vectors table is touched by (1) the no-shuffle cell
assignment and (2) ONE shuffle — groupBy(cell) for sketching; the rep table
and the per-query cell routing are broadcast joins; rescoring shuffles only
the candidate subset (nprobe cells per query).  No crossJoin of the big
side ever happens.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window

from qalsh_spark import kernels as K
from qalsh_spark.operators.ann import (
    _cell_assign_udf,
    _score,
    cosine_sim,
    pstable_cells_udf,
    rank_topk,
    sample_centroids,
)


def assign_cells(vectors: DataFrame, cents: np.ndarray) -> DataFrame:
    """(vec_id, embedding, cell) — nearest-centroid routing, per-Arrow-batch
    matmul against the closure-broadcast centroid matrix (no shuffle)."""
    return vectors.select(
        "vec_id",
        "embedding",
        F.element_at(_cell_assign_udf(cents, 1)(F.col("embedding")), 1).alias("cell"),
    )


def drusilla_representatives(
    vcell: DataFrame, n_proj: int = 4, n_cand: int = 8
) -> DataFrame:
    """Per-cell Drusilla sketch: for each cell keep the <= n_proj*n_cand
    rows that best span the cell's shape (kernels.drusilla_select).  One
    groupBy(cell) shuffle of (id, vector, cell); the sketch itself is NumPy
    inside applyInPandas — the reference's per-leaf drusilla_select
    (methods/qalsh_plus.h:264-338) running where the data lives."""
    schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic input order regardless of shuffle arrival order
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        idx = K.drusilla_select(X, n_proj, n_cand)
        out = pdf.iloc[idx][["cell", "vec_id", "embedding"]]
        return out

    return vcell.groupBy("cell").applyInPandas(fn, schema)


def qalsh_plus_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_proj: int = 4,
    n_cand: int = 8,
    maxk: int = 100,
    seed: int = 6,
    in_cell_w: float | None = None,
    in_cell_m: int = 16,
    in_cell_min_collisions: int | None = None,
    diagnostics: dict | None = None,
) -> DataFrame:
    """Two-level c-k-ANNS: Drusilla block votes pick the cells, exact cosine
    rescoring picks the neighbors.

    ``maxk`` is the sample-level list size that feeds the votes — the
    reference's MAXK=100 (/root/reference/methods/def.h:43-44 feeding
    get_block_order's counters).

    Within-cell filter (``in_cell_w`` set): the reference builds a QALSH
    index INSIDE each kd-block so probed blocks are searched sublinearly
    (methods/qalsh_plus.h:201-207) rather than linearly rescored.  The
    Spark twin: every vector gets ``in_cell_m`` quantized p=2-stable cells
    (one Arrow-batch signing pass, part of the index build exactly like
    the reference's per-block index), and a probed candidate reaches exact
    rescoring only if it agrees with the query in >=
    ``in_cell_min_collisions`` (default m/2) projections — a pure-JVM
    zip_with equality count over two m-length arrays, O(m) per candidate
    vs O(d) for the exact kernel it gates (m=16 vs d=784 on Mnist).  On
    unit-norm embeddings the l2-based filter ranks like cosine.  Default
    off: at n_cells=8-16 with modest cells, linear rescoring is fine; at
    100 TB with huge cells this is the sublinear composition."""
    cents = sample_centroids(vectors, n_cells, seed)
    vcell = assign_cells(vectors, cents)
    reps = drusilla_representatives(vcell, n_proj, n_cand)
    q = queries.select("qid", "qvec")

    # sample-level exact search: queries x (tiny) rep table, broadcast —
    # the lsh_->knn2 over sample_data of qalsh_plus.h:575-576
    wq = Window.partitionBy("qid").orderBy(F.desc("s_score"), F.asc("vec_id"))
    sample_hits = (
        q.crossJoin(F.broadcast(reps))
        .select(
            "qid",
            "cell",
            "vec_id",
            cosine_sim(F.col("qvec"), F.col("embedding")).alias("s_score"),
        )
        .withColumn("s_rank", F.row_number().over(wq))
        .filter(F.col("s_rank") <= maxk)
    )
    # block-vote counters -> top-nprobe cells per query
    # (qalsh_plus.h:583-593)
    wv = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("cell"))
    probe = (
        sample_hits.groupBy("qid", "cell")
        .agg(F.count("*").alias("votes"))
        .withColumn("cell_rank", F.row_number().over(wv))
        .filter(F.col("cell_rank") <= nprobe)
        .select("qid", "cell")
    )
    # probe list is tiny (queries x nprobe): broadcast it onto the cell-
    # partitioned big side, rescore candidates exactly
    cand_cols = ["qid", "vec_id", "embedding"]
    if in_cell_w is not None:
        sign = pstable_cells_udf(in_cell_m, 2.0, in_cell_w, seed)
        vcell = vcell.withColumn("sig", sign(F.col("embedding")))
        # the query signature is computed once, on the broadcast side
        q = q.withColumn("qsig", sign(F.col("qvec")))
        cand_cols.append("sig")
    cand = vcell.join(F.broadcast(probe), on="cell").select(*cand_cols)
    joined = cand.join(F.broadcast(q), on="qid")
    if in_cell_w is not None:
        l = in_cell_min_collisions or max(1, in_cell_m // 2)
        # collision count = JVM elementwise equality over two m-arrays —
        # whole-stage codegen, no explode, no extra exchange
        agree = F.aggregate(
            F.zip_with(F.col("sig"), F.col("qsig"), lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        joined = joined.filter(agree >= F.lit(l))
    scored = _score(joined, None)
    if diagnostics is not None:
        # test/diagnostic hook only (each .count() is an extra action):
        # how many rows reach the exact kernel vs probed-cell membership —
        # the within-cell filter's whole point is the gap between the two.
        diagnostics["n_probed_members"] = vcell.join(
            F.broadcast(probe), on="cell"
        ).count()
        diagnostics["n_rescored"] = scored.count()
    return rank_topk(scored, k, None)
