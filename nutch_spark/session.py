"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 1000-executor / 100 TB target and merely
*also* works on local[N] (N = this machine's cores by default):
- AQE on (runtime coalesce + skew-join splitting),
- Arrow on (all Python crosses the boundary in columnar batches),
- speculation off (politeness: a host's partition must never run twice
  concurrently — reference: fetcher/Fetcher.java:1457),
- UTC session timezone so epoch arithmetic matches the DuckDB oracle,
- Python workers forked from `nutch_spark.pydaemon`, PySpark's daemon with
  a guard that stops each task re-reading the directory of the zip pyspark
  is imported from (~0.25 s per task); the engine's import root is on the
  workers' PYTHONPATH so that daemon starts before any --py-files land,
- a generated-code cache that holds a whole crawl cycle's classes, so the
  next cycle reuses them instead of compiling them again,
- on a local master, one C2 JIT compiler thread instead of the JVM's
  default two on 4 cores, so warm-up compiles take fewer of the cores the
  tasks run on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nutch-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]"
    if shuffle_partitions is None:
        # rule of thumb: ~2x cores locally; on a real cluster this is set to
        # ~2-3x total executor cores (or left to AQE coalesce from a high cap);
        # also the frontier's url bucket count (SnapshotTable.prepare)
        try:
            cores = int(master.split("[")[1].rstrip("]*"))
        except (IndexError, ValueError):
            cores = os.cpu_count() or 1
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.speculation", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # plan the pre-shuffle top-K (Partial WindowGroupLimit) for every
        # rank filter, not only K <= 1000: the generator's topN/partitions and
        # LinkDb's db.max.inlinks (10,000) are above Spark's default
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "2147483647")
        # reliable checkpoints (checkpoints.iter_checkpoint) are deleted once
        # their DataFrame is garbage-collected; read only at context start
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # always scan bucketed tables bucket-aligned: the frontier snapshot
        # is bucketed by url precisely so updatedb's merge never shuffles
        # it; auto mode would drop the bucketed scan in plans where the
        # cache is materialized before the join is visible
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        # report bucket SORT order from bucketed scans (pre-3.0 behavior).
        # Spark disabled this by default because it only applies when every
        # bucket is exactly one file — which the frontier snapshot write
        # gives while the shuffle partitions stay put (merge output is
        # hash-placed on url: one task, one bucket, one file). With it, the
        # updatedb merge's frontier side is Scan -> SortMergeJoin with NO
        # per-cycle re-sort of the 10^10-row table. A cycle resumed under
        # fewer shuffle partitions writes several files per bucket; Spark
        # checks the one-file condition per scan, so the next cycle sorts
        # that side once
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # committer v2: task commits move files into place directly, so the
        # job-commit phase (a SERIAL driver-side rename loop over every task
        # file under v1) is O(1) instead of O(files). The serial fraction of
        # each snapshot commit is what the N->4N scaling criterion punishes;
        # same setting is standard on object-store clusters for commit cost.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # skip _SUCCESS marker + per-job summary metadata files (more serial
        # driver FS round-trips per commit; snapshot pointers are the
        # atomicity mechanism here, not marker files)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .config("spark.sql.parquet.output.committer.class",
                "org.apache.parquet.hadoop.ParquetOutputCommitter")
        # PySpark 4 wraps every DataFrame/Column API call with a call-site
        # capture for error contexts: a Python stack walk plus THREE py4j
        # round-trips (conf.get + PySparkCurrentOrigin.set/clear) PER CALL
        # (pyspark/errors/utils.py:_with_origin). Plan-construction-heavy
        # code (the updatedb when-chain, the index plugin columns) pays
        # seconds per query for it. Off: errors lose the user-code line
        # pointer, nothing else changes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # fork Python workers from the engine's daemon (see pydaemon.py)
        .config("spark.python.daemon.module", "nutch_spark.pydaemon")
        # keep every class a crawl cycle generates: its plans compile ~150
        # (stage iterators, projections, orderings), more than Spark's
        # default cache of 100, so each cycle evicted the last one's and
        # compiled them all again (~15 ms each; PLANS §7.13). Static: read
        # when the session's JVM starts
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if master.startswith("local"):
        # one JVM runs the driver and every task, next to the Python
        # workers: in its first minute the JIT's two C2 threads took
        # 13 CPU-s of a 9 s cycle on 4 cores. One C2 thread warms up
        # more slowly and leaves a core to the tasks. A caller's own
        # defaultJavaOptions or extraJavaOptions take precedence
        builder = builder.config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
    # ad-hoc overrides for experiments/cluster tuning:
    # SPARK_GRAFT_CONF="spark.io.compression.codec=zstd;spark.foo=bar"
    for pair in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # every Python function the session builds takes its worker environment
    # from sc.environment, which already holds any spark.executorEnv.PYTHONPATH
    # set by the caller, spark-submit --conf or spark-defaults
    env = spark.sparkContext.environment
    env["PYTHONPATH"] = _worker_pythonpath(env.get("PYTHONPATH"))
    return spark


def _worker_pythonpath(user: str | None) -> str:
    """`user`'s entries, then the directory or zip this package is imported
    from, which `python -m nutch_spark.pydaemon` needs before the task's
    --py-files are added to the worker's path."""
    entries = [e for e in (user or "").split(os.pathsep) if e]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in entries:
        entries.append(root)
    return os.pathsep.join(entries)
