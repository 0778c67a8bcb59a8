#!/usr/bin/env python
"""spark-submit entry point for similarity search over an embedding table
(packaging parity with jobs/dedup.py: `spark-submit --py-files
dist/qalsh_spark.zip jobs/ann.py ...`).

Runs one ANN lane — exact brute force (windowed or blocked-scan), SRP-LSH,
quantized p-stable LSH (the reference's hash family,
/root/reference/methods/qalsh.h:118-120), IVF, or the two-level
Drusilla-routed QALSH+ analog — over `embeddings(vec_id bigint, embedding
array<float>)`, writes the per-query top-k parquet, and (with --eval)
reports the reference's full evaluation protocol: recall@k AND overall
distance ratio for every k in TOPKs={1,2,5,10,20,50,100}
(/root/reference/methods/ann.h:276-306, util.cc:81-105).

Examples:
  spark-submit --py-files dist/qalsh_spark.zip jobs/ann.py \
      --input /data/sf0.1 --algo qalsh_plus --k 100 --output /data/out/topk
  python jobs/ann.py --input /root/testdata/sf0.01 --algo pstable \
      --metric 2.0 --n-queries 20 --eval --json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALGOS = ("brute", "blocked", "lsh", "pstable", "ivf", "qalsh_plus")


def main() -> None:
    ap = argparse.ArgumentParser(description="qalsh_spark similarity-search job")
    ap.add_argument("--input", required=True,
                    help="dir containing embeddings.parquet (or a .parquet path)")
    ap.add_argument("--algo", choices=ALGOS, default="qalsh_plus")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--metric", default="cosine",
                    help="brute/blocked/pstable only: 'cosine', 'l1', 'l2' or a"
                    " float p in (0,2] for l_p (the reference's range,"
                    " methods/qalsh.h:25-32)")
    ap.add_argument("--radius", type=float, default=1.2,
                    help="pstable only: target near-neighbor l_p distance;"
                    " bucket width w = radius x the reference's auto-tuned"
                    " unit-radius width (methods/qalsh.h:197-226).  1.2 is"
                    " the near-neighbor scale of unit-norm embeddings;"
                    " override for your data's distance scale (or pass --w)")
    ap.add_argument("--w", type=float, default=None,
                    help="pstable only: bucket width directly (overrides --radius)")
    ap.add_argument("--m", type=int, default=None,
                    help="pstable only: projection count; default auto-tunes"
                    " from (c, p, n) with the reference's formula"
                    " (methods/qalsh.h:228-235, kernels.pstable_m)")
    ap.add_argument("--max-rounds", type=int, default=1,
                    help="pstable only: virtual-rehashing rounds (1 = single "
                    "pass); each round doubles the bucket width for queries "
                    "not yet certified by the reference's kth-dist <= c*R "
                    "stop rule")
    ap.add_argument("--n-queries", type=int, default=10,
                    help="first N vectors double as the query set (or use --queries)")
    ap.add_argument("--queries", default=None,
                    help="optional parquet of (vec_id, embedding) to query with")
    ap.add_argument("--eval", action="store_true",
                    help="also compute recall@k + overall ratio vs exact brute"
                    " force over the full TOPKs sweep")
    ap.add_argument("--output", default=None, help="output dir for top-k parquet")
    ap.add_argument("--cpus", default=None, help="local[N] cores")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--json", action="store_true", help="print one JSON metrics line")
    args = ap.parse_args()

    # fail fast, before the Spark session and the full ANN lane run
    if args.eval and args.k < 100:
        raise SystemExit("--eval needs --k >= 100 (the TOPKs sweep tops out at 100)")

    import pyspark.sql.functions as F

    from qalsh_spark.operators.ann import (
        brute_force_topk,
        brute_force_topk_blocked,
        ivf_topk,
        lsh_topk,
        pstable_topk,
        resolve_metric,
    )
    from qalsh_spark.operators.drusilla import qalsh_plus_topk
    from qalsh_spark.queries import ann_recall_sweep
    from qalsh_spark.session import get_spark

    master = f"local[{args.cpus}]" if args.cpus else None
    n_cores = int(args.cpus) if args.cpus else (os.cpu_count() or 8)
    spark = get_spark(
        app_name="qalsh-ann",
        master=master,
        shuffle_partitions=args.shuffle_partitions or max(4 * n_cores, 16),
    )

    path = args.input
    if not path.endswith(".parquet"):
        path = os.path.join(path, "embeddings.parquet")
    emb = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    if args.queries:
        queries = spark.read.parquet(args.queries).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").cast("array<double>").alias("qvec"),
        )
    else:
        # deterministic: the N smallest ids, not an arbitrary head()
        queries = (
            emb.orderBy("vec_id").limit(args.n_queries)
            .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
        )

    metric = args.metric
    if metric not in ("cosine", "l1", "l2"):
        metric = float(metric)
    # pstable is an l_p lane: "cosine" ranks by l2 there
    p = resolve_metric(metric) or 2.0

    t0 = time.time()
    if args.algo == "brute":
        topk = brute_force_topk(emb, F.broadcast(queries), k=args.k, metric=metric)
    elif args.algo == "blocked":
        topk = brute_force_topk_blocked(emb, queries, k=args.k, metric=metric)
    elif args.algo == "lsh":
        topk = lsh_topk(emb, queries, k=args.k)
    elif args.algo == "pstable":
        topk = pstable_topk(
            emb, queries, k=args.k, p=p, w=args.w, radius=args.radius,
            m=args.m, max_rounds=args.max_rounds,
        )
    elif args.algo == "ivf":
        topk = ivf_topk(emb, queries, k=args.k)
    else:
        topk = qalsh_plus_topk(emb, queries, k=args.k)

    if args.output:
        topk.write.mode("overwrite").parquet(args.output)
        n_rows = spark.read.parquet(args.output).count()
    else:
        # serialized level per the engine-wide rule (components._CKPT_LEVEL):
        # the JVM default stores deserialized blocks that re-inflate on read
        from qalsh_spark.operators.components import _CKPT_LEVEL

        topk = topk.localCheckpoint(True, _CKPT_LEVEL)
        n_rows = topk.count()
    wall = time.time() - t0

    metrics: dict = {
        "algo": args.algo,
        "k": args.k,
        "metric": args.metric,
        "n_vectors": emb.count(),
        "n_queries": queries.count(),
        "result_rows": n_rows,
        "wall_sec": round(wall, 3),
        "cores": n_cores,
        "master": spark.sparkContext.master,
    }

    if args.eval:
        # the approximate lanes rank by cosine except pstable (l_p); the
        # sweep's ratio is distance-based and must match the ranking metric.
        # pstable RESOLVES the metric (e.g. 'cosine' -> p=2, an l2 score),
        # so the sweep must use the resolved l_p — evaluating an l2 ranking
        # under 1-cosine would make avg_ratio meaningless (even negative).
        if args.algo == "pstable":
            sweep_metric = p
        elif args.algo in ("brute", "blocked"):
            sweep_metric = metric
        else:
            sweep_metric = "cosine"
        sweep = ann_recall_sweep(emb, queries, topk, metric=sweep_metric)
        metrics["sweep"] = [r.asDict() for r in sweep.orderBy("k").collect()]

    if args.json:
        print(json.dumps(metrics))
    else:
        for kk, v in metrics.items():
            print(f"{kk}: {v}")
    spark.stop()


if __name__ == "__main__":
    main()
