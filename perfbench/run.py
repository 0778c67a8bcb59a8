#!/usr/bin/env python3
"""Benchmark of the qalsh_spark engine through its public entry points
(`plans.pipeline.run_dedup` and `operators.ann.pstable_topk`).

    python3 perfbench/run.py --workload crawl_unique --seed 1 --seconds 10 --trace 0

One invocation = one workload in one closed-loop driver process on
local[<cores>], one job at a time:

  1. host and provenance stamp (context only, never rescales a number);
  2. session start, then SETUP_REPS set-ups (input generation + Parquet
     write + oracle cache load + input scan), each timed;
  3. self-test: a deliberately corrupted result must fail the output check;
  4. one warm-up run, checked and discarded;
  5. timed runs until --seconds have passed (at least one), each checked
     against the NumPy oracle;
  6. with --trace 1, one more run through a scratch StageCatalog with every
     stage under its own Spark job group, read back per group from the
     status store, plus a catalog resume.

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it holds the provenance stamp and per-run details.  Exits 1
when any output check failed, 2 when run outside an engine checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")    # inputs, catalogs, Spark scratch, spans
CACHE = os.path.join(HERE, ".cache")  # oracle results per (workload, seed)

SETUP_REPS = 3
RUN_TIMEOUT_S = 90.0

WORKLOADS = ("crawl_unique", "crawl_dupheavy", "ann_rehash")

# end-to-end metrics (name -> unit); "better"/"bound" live in BENCHMARK.json
END_TO_END = {
    "wall_s": "s",
    "docs_per_hour": "docs/h",
    "queries_per_s": "1/s",
    "setup_s": "s",
    "cpu_s": "s",
    "shuffle_mb": "MB",
    "dup_pair_recall": "ratio",
    "dup_pair_precision": "ratio",
    "recall_at_10": "ratio",
    "overall_ratio": "ratio",
}

STAGES = ("prepared", "signatures", "pairs", "edges", "clusters")
STAGE_FIELDS = {
    "wall_s": "s",
    "task_s": "s",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "rows_out": "count",
    "jobs": "count",
    "stages": "count",
    "tasks_failed": "count",
    "slot_util": "ratio",
}
PER_LAYER = {
    **{f"{s}.{f}": u for s in STAGES for f, u in STAGE_FIELDS.items()},
    "signatures.docs_per_task_s": "1/s",
    "pairs.buckets": "count",
    "pairs.hot_buckets": "count",
    "pairs.max_bucket": "count",
    "pairs.elided_by_star": "count",
    "edges.lsh_edges": "count",
    "edges.exact_edges": "count",
    "edges.accept_ratio": "ratio",
    "edges.accept_base": "count",
    "clusters.n_clusters": "count",
    "clusters.max_size": "count",
    "clusters.cc_rounds": "count",
    "catalog.write_mb": "MB",
    "catalog.resume_s": "s",
    "ann.build_s": "s",
    "ann.build_jobs": "count",
    "ann.exec_s": "s",
    "ann.task_s": "s",
    "ann.cpu_s": "s",
    "ann.shuffle_write_mb": "MB",
    "ann.spill_mb": "MB",
    "ann.jobs": "count",
    "ann.slot_util": "ratio",
    "session.start_s": "s",
    "session.warm_s": "s",
    "run.wall_s": "s",
    "run.spill_mb": "MB",
    "run.task_retry_frac": "ratio",
    "trace.overhead_s": "s",
}


@dataclass
class Run:
    ok: bool
    wall_s: float
    cpu_s: float
    stats: object  # observe.GroupStats
    quality: dict = field(default_factory=dict)


class Bench:
    """One Spark session, its status reader and the run accounting."""

    def __init__(self, workload: str, seed: int, cores: int):
        self.workload, self.seed, self.cores = workload, seed, cores
        self.runs: list[Run] = []

    def start_session(self) -> float:
        from qalsh_spark.session import get_spark
        from observe import StatusReader

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            # jobs/dedup.py's settings: 4 waves per core, AQE off below 10M docs
            shuffle_partitions=max(4 * self.cores, 16),
            extra_conf={
                "spark.sql.adaptive.enabled": "false",
                "spark.driver.memory": "4g",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.status = StatusReader(self.sc)
        return time.perf_counter() - t0

    def set_group(self, name: str) -> None:
        self.sc.setJobGroup(name, name, interruptOnCancel=True)

    def attempt(self, fn, group: str) -> Run:
        """Run `fn` under job group `group`; an exception, a timeout or a
        failed check marks the run failed instead of aborting the set."""
        from observe import tree_cpu_s

        self.set_group(group)
        timer = threading.Timer(RUN_TIMEOUT_S, self.sc.cancelAllJobs)
        timer.start()
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            quality, ok = fn(), True
        except Exception:
            traceback.print_exc()
            quality, ok = {}, False
        finally:
            timer.cancel()
            timer.join()
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        run = Run(ok, wall, cpu, self.status.group(group), quality)
        self.runs.append(run)
        return run

    def stop(self) -> None:
        """Stop Spark, then wait for the JVM and its Python workers to end."""
        from pyspark import SparkContext

        from observe import descendants

        kids = descendants()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
                proc.wait(timeout=60)
        deadline = time.time() + 20
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- workloads ----------------------------------------------------------------

class Crawl:
    def __init__(self, bench: Bench):
        from qalsh_spark.config import DedupConfig

        self.b = bench
        self.cfg = DedupConfig()
        self.input_dir = os.path.join(WORK, f"input-{bench.workload}-s{bench.seed}")

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        import checks
        import workloads

        inp = workloads.GENERATORS[self.b.workload](self.b.seed)
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(
            inp.to_table(), os.path.join(self.input_dir, "documents.parquet"),
            row_group_size=2048,
        )
        texts = inp.oracle_texts()
        digest = checks.input_digest(inp.urls, texts)
        self.truth = checks.cached_crawl_truth(
            os.path.join(CACHE, f"{self.b.workload}-s{self.b.seed}-{digest}.npz"),
            inp.urls, texts, self.cfg,
        )
        self.n = len(inp.urls)
        self.b.spark.read.parquet(self.input_dir).count()

    def selftest(self) -> bool:
        import checks

        checks.check_clusters(self.truth, self.truth)
        try:
            checks.check_clusters(checks.corrupt_clusters(self.truth), self.truth)
        except checks.CheckFailed:
            return True
        return False

    def _dedup(self, checkpoint_root: str | None = None):
        from qalsh_spark.plans.pipeline import run_dedup
        from qalsh_spark.sources.catalog import read_documents

        docs = read_documents(self.b.spark, self.input_dir)
        return run_dedup(
            self.b.spark, docs, self.cfg, checkpoint_root=checkpoint_root,
            rows_hint=self.n,
        )

    @staticmethod
    def _collect(res) -> dict[int, int]:
        return {r[0]: r[1] for r in res.clusters.select("doc_id", "cluster_id").collect()}

    def run(self) -> dict:
        import checks

        res = self._dedup()
        try:
            found = self._collect(res)
        finally:
            res.release()
        return checks.check_clusters(found, self.truth)

    def trace(self, spans, run_id: str) -> dict:
        """One run through a scratch catalog; each stage's write closes its
        span and switches the job group to the next stage, so eager jobs a
        stage runs while its plan is built land in that stage's group."""
        import pyarrow.parquet as pq

        import checks
        from qalsh_spark.sources.catalog import StageCatalog

        b = self.b
        root = os.path.join(WORK, f"catalog-{b.workload}-s{b.seed}")
        shutil.rmtree(root, ignore_errors=True)
        original = StageCatalog.write
        mark = {"t": 0.0}

        def write(cat, df, name, fp, partition_by=None):
            out = original(cat, df, name, fp, partition_by)
            now = time.perf_counter()
            spans.add(name, mark["t"], now, "run", run_id)
            mark["t"] = now
            nxt = STAGES.index(name) + 1 if name in STAGES else len(STAGES)
            b.set_group(STAGES[nxt] if nxt < len(STAGES) else "materialize")
            return out

        b.set_group(STAGES[0])
        t0 = mark["t"] = time.perf_counter()
        with mock.patch.object(StageCatalog, "write", write):
            res = self._dedup(root)
        b.set_group("materialize")
        found = self._collect(res)
        t1 = time.perf_counter()
        spans.add("materialize", mark["t"], t1, "run", run_id)
        run_span = spans.add("run", t0, t1, None, run_id)
        checks.check_clusters(found, self.truth)

        b.set_group("bench.stats")
        lanes = res.bucket_stats.collect()
        res.release()
        write_mb = _du_mb(root)
        b.set_group("catalog.resume")
        t2 = time.perf_counter()
        again = self._dedup(root)
        resumed = self._collect(again)
        resume_s = time.perf_counter() - t2
        again.release()
        checks.check_clusters(resumed, self.truth)

        m: dict[str, float] = {}
        by_stage = {s.name: s for s in spans.items if s.run_id == run_id}
        groups = {}
        for s in STAGES:
            g = groups[s] = b.status.group(s)
            wall = by_stage[s].wall_s
            with open(os.path.join(root, f"{s}.manifest.json")) as f:
                rows = json.load(f)["rows"]
            m.update({
                f"{s}.wall_s": wall, f"{s}.task_s": g.task_s, f"{s}.cpu_s": g.cpu_s,
                f"{s}.gc_s": g.gc_s, f"{s}.shuffle_write_mb": g.shuffle_write_mb,
                f"{s}.shuffle_read_mb": g.shuffle_read_mb, f"{s}.spill_mb": g.spill_mb,
                f"{s}.rows_out": rows, f"{s}.jobs": g.jobs, f"{s}.stages": g.stages,
                f"{s}.tasks_failed": g.tasks_failed,
                f"{s}.slot_util": g.task_s / (wall * b.cores),
            })
        edge_lanes = pq.read_table(os.path.join(root, "edges"), columns=["lanes"])
        exact = sum(1 for l in edge_lanes.column("lanes").to_pylist() if l == ["exact"])
        sizes = Counter(found.values())
        m.update({
            "signatures.docs_per_task_s":
                m["signatures.rows_out"] / max(m["signatures.task_s"], 1e-9),
            "pairs.buckets": sum(r["n_buckets"] for r in lanes),
            "pairs.hot_buckets": sum(r["n_hot_buckets"] for r in lanes),
            "pairs.max_bucket": max((r["max_bucket"] for r in lanes), default=0),
            "pairs.elided_by_star": sum(r["pairs_elided_by_star"] for r in lanes),
            "edges.lsh_edges": edge_lanes.num_rows - exact,
            "edges.exact_edges": exact,
            "edges.accept_base": m["pairs.rows_out"],
            "edges.accept_ratio":
                (edge_lanes.num_rows - exact) / max(m["pairs.rows_out"], 1),
            "clusters.n_clusters": len(sizes),
            "clusters.max_size": max(sizes.values(), default=0),
            # each label-propagation round ends in one label-sum collect;
            # the first collect is the initial sum
            "clusters.cc_rounds": max(groups["clusters"].collect_jobs - 1, 0),
            "catalog.write_mb": write_mb,
            "catalog.resume_s": resume_s,
            "run.wall_s": run_span.wall_s,
        })
        return m


class Ann:
    def __init__(self, bench: Bench):
        self.b = bench
        self.dir = os.path.join(WORK, f"input-{bench.workload}-s{bench.seed}")

    def prepare(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        import checks
        import workloads

        inp = workloads.ann_rehash(self.b.seed)
        os.makedirs(self.dir, exist_ok=True)
        for name, idc, vc, X in (
            ("vectors", "vec_id", "embedding", inp.data),
            ("queries", "qid", "qvec", inp.queries),
        ):
            pq.write_table(
                pa.table({
                    idc: pa.array(np.arange(len(X)), pa.int64()),
                    vc: pa.array(list(X.astype(np.float64)), pa.list_(pa.float64())),
                }),
                os.path.join(self.dir, f"{name}.parquet"), row_group_size=2048,
            )
        digest = checks.input_digest(inp.data, inp.queries)
        self.truth = checks.cached_ann_truth(
            os.path.join(CACHE, f"{self.b.workload}-s{self.b.seed}-{digest}.npz"),
            inp.data, inp.queries, workloads.ANN_K,
        )
        self.data, self.queries = inp.data, inp.queries
        self.b.spark.read.parquet(os.path.join(self.dir, "vectors.parquet")).count()

    def _truth_rows(self) -> list[tuple]:
        import numpy as np

        rows = []
        for q, ids in enumerate(self.truth["id"]):
            d = np.sqrt(((self.data[ids].astype(np.float64) - self.queries[q]) ** 2).sum(1))
            order = sorted(zip(d.tolist(), ids.tolist()))
            rows += [(q, int(i), dist, r + 1) for r, (dist, i) in enumerate(order)]
        return rows

    def selftest(self) -> bool:
        import checks

        rows = self._truth_rows()
        checks.check_topk(rows, self.data, self.queries, self.truth)
        try:
            checks.check_topk(checks.corrupt_topk(rows), self.data, self.queries, self.truth)
        except checks.CheckFailed:
            return True
        return False

    def _topk(self, persists: list):
        import workloads
        from qalsh_spark.operators.ann import pstable_topk

        spark = self.b.spark
        return pstable_topk(
            spark.read.parquet(os.path.join(self.dir, "vectors.parquet")),
            spark.read.parquet(os.path.join(self.dir, "queries.parquet")),
            k=workloads.ANN_K, p=2.0, radius=workloads.ANN_RADIUS, m=None,
            max_rounds=workloads.ANN_MAX_ROUNDS, persists=persists,
        )

    def _finish(self, out, persists: list) -> dict:
        import checks

        try:
            rows = [tuple(r) for r in out.select("qid", "neighbor_id", "score", "rank").collect()]
        finally:
            for df in persists:
                df.unpersist()
        return checks.check_topk(rows, self.data, self.queries, self.truth)

    def run(self) -> dict:
        persists: list = []
        return self._finish(self._topk(persists), persists)

    def trace(self, spans, run_id: str) -> dict:
        b = self.b
        persists: list = []
        b.set_group("ann.build")
        t0 = time.perf_counter()
        out = self._topk(persists)
        t1 = time.perf_counter()
        b.set_group("ann.exec")
        self._finish(out, persists)
        t2 = time.perf_counter()
        run_span = spans.add("run", t0, t2, None, run_id)
        spans.add("ann.build", t0, t1, "run", run_id)
        spans.add("ann.exec", t1, t2, "run", run_id)
        build = b.status.group("ann.build")
        g = build + b.status.group("ann.exec")
        return {
            "ann.build_s": t1 - t0, "ann.build_jobs": build.jobs, "ann.exec_s": t2 - t1,
            "ann.task_s": g.task_s, "ann.cpu_s": g.cpu_s,
            "ann.shuffle_write_mb": g.shuffle_write_mb, "ann.spill_mb": g.spill_mb,
            "ann.jobs": g.jobs, "ann.slot_util": g.task_s / ((t2 - t0) * b.cores),
            "run.wall_s": run_span.wall_s,
        }


# -- host stamp -----------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def _du_mb(root: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    ) / 1e6


def host_stamp(cores: int) -> dict:
    """Where and on what the numbers were taken.  The CPU probe is context
    only: no number is ever rescaled by it."""
    import pyspark
    from bench_scaling import cpu_probe

    rev = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
        rev = r.stdout.strip() or None
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "qalsh_spark")
    for d, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    meminfo = _read("/proc/meminfo") or ""
    return {
        "nproc": cores,
        "cgroup_cpu_max": _read("/sys/fs/cgroup/cpu.max"),
        "cgroup_memory_max": _read("/sys/fs/cgroup/memory.max"),
        "mem_total": meminfo.splitlines()[0] if meminfo else None,
        "git_rev": rev,
        "engine_source_sha256": src.hexdigest()[:16],
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "cpu_probe_units_per_s": cpu_probe(cores, dur=0.5),
    }


# -- main ---------------------------------------------------------------------

def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(bench: Bench, wl, runs: list[Run], setup_s: float) -> dict:
    ok = [r for r in runs if r.ok] or runs
    wall = _median([r.wall_s for r in ok])
    ann = isinstance(wl, Ann)
    rows = len(wl.data) if ann else wl.n
    queries = len(wl.queries) if ann else wl.n
    quality = {"dup_pair_recall": 1.0, "dup_pair_precision": 1.0,
               "recall_at_10": 1.0, "overall_ratio": 1.0}
    for k in quality:
        vals = [r.quality[k] for r in ok if k in r.quality]
        if vals:
            quality[k] = _median(vals)
    return {
        "wall_s": wall,
        "docs_per_hour": _median([rows / r.wall_s * 3600.0 for r in ok]),
        "queries_per_s": _median([queries / r.wall_s for r in ok]),
        "setup_s": setup_s,
        "cpu_s": _median([r.cpu_s for r in ok]),
        "shuffle_mb": _median([r.stats.shuffle_write_mb for r in ok]),
        **quality,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "qalsh_spark", "__init__.py")):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2
    # every file Spark, the JVM and the Python workers write stays in WORK
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["QALSH_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    sys.path[:0] = [ROOT, HERE]
    from observe import Spans

    cores = len(os.sched_getaffinity(0))
    stamp = host_stamp(cores)
    bench = Bench(args.workload, args.seed, cores)
    start_s = bench.start_session()
    try:
        stamp["java"] = bench.spark._jvm.java.lang.System.getProperty("java.version")
        wl = Ann(bench) if args.workload == "ann_rehash" else Crawl(bench)
        prep = []
        for i in range(SETUP_REPS):
            bench.set_group(f"setup-{i}")
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        selftest_ok = wl.selftest()
        warm = bench.attempt(wl.run, "warmup")
        timed: list[Run] = []
        t0 = time.perf_counter()
        while not timed or time.perf_counter() - t0 < args.seconds:
            timed.append(bench.attempt(wl.run, f"run-{len(timed)}"))
        setup_s = start_s + _median(prep) + warm.wall_s

        if args.trace:
            spans = Spans()
            run_id = f"{args.workload}-s{args.seed}-trace"
            traced: dict = {}
            trace_run = bench.attempt(lambda: traced.update(wl.trace(spans, run_id)), "trace")
            ok = [r for r in timed if r.ok] or timed
            tasks = sum(r.stats.tasks for r in ok)
            metrics = {name: 0.0 for name in PER_LAYER}
            metrics.update(traced)
            metrics.update({
                "session.start_s": start_s,
                "session.warm_s": warm.wall_s,
                "run.spill_mb": _median([r.stats.spill_mb for r in ok]),
                "run.task_retry_frac":
                    sum(r.stats.tasks_failed for r in ok) / max(tasks, 1),
                "trace.overhead_s":
                    traced.get("run.wall_s", trace_run.wall_s)
                    - _median([r.wall_s for r in ok]),
            })
            spans.write(os.path.join(WORK, f"spans-{run_id}.jsonl"))
            units = PER_LAYER
        else:
            metrics = end_to_end(bench, wl, timed, setup_s)
            units = END_TO_END
    finally:
        bench.stop()

    attempted = len(bench.runs)
    failed = sum(not r.ok for r in bench.runs)
    correct = failed == 0 and selftest_ok
    print(json.dumps({
        "provenance": stamp,
        "workload": args.workload,
        "seed": args.seed,
        "selftest_ok": selftest_ok,
        "setup_reps_s": prep,
        "runs": [
            {"ok": r.ok, "wall_s": r.wall_s, "cpu_s": r.cpu_s,
             "jobs": r.stats.jobs, "tasks": r.stats.tasks,
             "tasks_failed": r.stats.tasks_failed, "spill_mb": r.stats.spill_mb}
            for r in bench.runs
        ],
    }))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
