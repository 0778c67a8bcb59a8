"""Same-window ABAB of the flagship dedup query between two checkouts.

Why: the round-5 scaling legs ran at `f4f7093`; commits after launch
(notably the band_key-only bucket-stream partitioning) touch the measured
job.  BENCH/BASELINE.md argues from the plan that HEAD strictly reduces
shuffle volume; this script turns that argument into a measurement by
timing `minhash_dedup_clusters` at sf0.1 in alternating fresh processes
(A=repo HEAD, B=pinned worktree), warm runs discarded, min-of-3 per
process.  Same protocol as BENCH/ab_r4 (min wall, one window, interleaved
so host phase hits both revs equally).

Usage: python scripts/ab_flagship.py <checkout_a> <checkout_b> [rounds]
Runs on local[$SPARK_GRAFT_CPUS] (default: nproc) with max(4 x cores,
16) shuffle partitions and AQE off, as jobs/dedup.py does at this size.
Each leg also reports the md5 of its sorted (doc_id, cluster_id,
cluster_size) rows, so an A/B proves identical output as well.
Prints one JSON line; the caller records it in BENCH/.
"""
import json
import os
import subprocess
import sys

WORKER = r"""
import hashlib, os, time, sys
from pyspark.sql import SparkSession
cores = int(os.environ["AB_CORES"])
spark = (SparkSession.builder.master(f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(max(4 * cores, 16)))
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.driver.memory", os.environ.get("QALSH_DRIVER_MEM", "4g"))
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from qalsh_spark.queries import QUERIES
sf = "/root/testdata/sf0.1"
QUERIES["minhash_dedup_clusters"](spark, sf).count()  # warm: codegen + page cache
QUERIES["minhash_dedup_clusters"](spark, sf).count()
walls = []
for _ in range(3):
    t = time.time()
    out = QUERIES["minhash_dedup_clusters"](spark, sf)
    out.count()
    walls.append(time.time() - t)
rows = sorted(tuple(r) for r in out.select("doc_id", "cluster_id", "cluster_size").collect())
print("WALLS=" + ",".join(f"{w:.3f}" for w in walls))
print("MD5=" + hashlib.md5(repr(rows).encode()).hexdigest())
spark.stop()
"""


def leg(checkout: str, cores: int) -> tuple[list[float], str]:
    out = subprocess.run(
        [sys.executable, "-c", WORKER], cwd=checkout,
        capture_output=True, text=True, timeout=900,
        env={**os.environ, "AB_CORES": str(cores)},
    )
    vals = dict(
        line.split("=", 1) for line in out.stdout.splitlines()
        if line.startswith(("WALLS=", "MD5="))
    )
    if "WALLS" not in vals or "MD5" not in vals:
        raise RuntimeError(f"no WALLS/MD5 from {checkout}: {out.stderr[-500:]}")
    return [float(x) for x in vals["WALLS"].split(",")], vals["MD5"]


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    runs: dict[str, list[float]] = {a: [], b: []}
    md5s: dict[str, set[str]] = {a: set(), b: set()}
    for _ in range(rounds):  # ABAB interleave: host phase hits both revs
        for c in (a, b):
            walls, md5 = leg(c, cores)
            runs[c].extend(walls)
            md5s[c].add(md5)
            print(f"{c}: {runs[c]} md5={md5}", file=sys.stderr, flush=True)
    print(json.dumps({
        "query": "minhash_dedup_clusters", "sf": "sf0.1", "cores": cores,
        "protocol": "ABAB fresh processes, 2 warm + 3 timed each, min wall",
        "legs": {
            c: {"walls": runs[c], "min": min(runs[c]), "md5": sorted(md5s[c])}
            for c in runs
        },
        "same_clusters": md5s[a] == md5s[b] and len(md5s[a]) == 1,
    }))


if __name__ == "__main__":
    main()
