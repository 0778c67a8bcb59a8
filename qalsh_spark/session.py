"""SparkSession factory with scale-oriented defaults.

Defaults encode the physical-execution posture from SURVEY.md §4: Arrow on
(every Python crossing is a vectorized batch), partial aggregation and
broadcast joins left to Catalyst.  AQE (runtime re-plan + skew-join
splitting) is on in the session default, but the entry points turn it off
below ~10M input docs (`jobs/dedup.py --aqe auto`, `bench.py`): at that size
its per-exchange re-planning latency outweighs its benefits, and skew is
handled structurally (bucket caps + star pairing).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "qalsh_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("QALSH_SPARK_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("QALSH_SHUFFLE_PARTITIONS", "32"))

    # Make the package importable from the python worker daemon (it preloads
    # numpy/pandas/pyarrow + kernels before forking — see qalsh_spark/daemon.py).
    # The parent of the qalsh_spark package is the repo root when running from
    # a checkout and the --py-files zip path when running from
    # dist/qalsh_spark.zip — both are valid PYTHONPATH entries.  Exporting
    # os.environ covers python-launched drivers (py4j spawns the JVM as a
    # child, which inherits it); spark.executorEnv.PYTHONPATH covers
    # spark-submit, where the JVM is the PARENT of this process and its
    # environment is already fixed — without it the daemon module is only
    # importable when the job is launched from the repo cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    # Shuffle/spill scratch: a real N-executor cluster brings N nodes' worth
    # of local-disk bandwidth, but every "executor thread" of a local[k] run
    # shares this host's ONE disk — making shuffle I/O a core-count-
    # independent floor that misrepresents cluster scaling.  Default the
    # scratch to tmpfs when available, PLUS a real-disk overflow dir: Spark
    # round-robins blocks across local.dir entries, so tmpfs (RAM) holds
    # only ~half the shuffle bytes and a leg-scale run can no longer push
    # heap + scratch past physical RAM (measured: the 4M-doc gate corpus
    # wrote ~99 GB of lz4 scratch; all-tmpfs + a 24 GB local[8] heap got
    # the JVM kernel-OOM-killed).  Override with QALSH_LOCAL_DIR (comma-
    # separated list passes through verbatim).
    local_dir = os.environ.get("QALSH_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/qalsh-spark-scratch,/tmp/qalsh-spark-scratch"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.python.worker.reuse", "true")
        # Every Python worker forks from this daemon: it preloads the heavy
        # imports, freezes that heap so the per-task gc.collect() skips it,
        # and (Python < 3.13) stops each task's importlib.invalidate_caches()
        # from re-parsing unchanged zip archives such as pyspark.zip —
        # together ~0.2 CPU-s per task (qalsh_spark/daemon.py).
        .config("spark.python.daemon.module", "qalsh_spark.daemon")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # The engine's big equi-joins (bucket-size join, pair->signature
        # joins) have a compact build side; shuffled HASH join skips the
        # full sort of the ~120-rows/doc bucket stream that sort-merge
        # would impose.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("QALSH_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd shuffle/spill compression: ~2-3x smaller scratch than the
        # lz4 default on the engine's dominant shuffle payloads (band-key
        # bucket rows, signature arrays) for a modest CPU cost that is
        # per-byte, hence parallelism-neutral.  At 100 TB this is the
        # difference between shuffle fitting on executor local disks or
        # not; here it halves the tmpfs footprint (see local_dir note).
        .config("spark.io.compression.codec", "zstd")
        # Reclaim shuffle files of dereferenced plans DURING long runs, not
        # only at the default 30-min mark: the dedup pipeline drops its
        # reference to each stage's pre-checkpoint plan once the stage is
        # materialized, but the shuffle files back it until a driver GC
        # lets the ContextCleaner notice.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.ui.enabled", os.environ.get("QALSH_SPARK_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Diagnostic: QALSH_EVENTLOG_DIR=<dir> writes the Spark event log there
    # (stage submit/complete timeline) for post-run scheduling-gap analysis.
    evlog = os.environ.get("QALSH_EVENTLOG_DIR")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", evlog)
            .config("spark.eventLog.compress", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
