"""SparkSession factory: local[N] in one JVM, sized to the host.

- ``spark.driver.memory``: 40% of ``MemTotal`` in ``/proc/meminfo``,
  rounded down to whole GiB, at least 1g (6g on a 16 GB machine).  The
  ``SPARK_DRIVER_MEMORY`` environment variable overrides it; it is the
  one deployment setting the session reads.
- cores: the CPUs this process may run on (``os.sched_getaffinity``).

Fixed settings the query plans depend on, each with its reason below:
shuffled-hash joins preferred over sort-merge joins, AQE's minimum
coalesced partition at 64k, a 64m broadcast threshold and a 10k
generated-class cache.

At cluster scale the same settings apply except shuffle partitions /
maxPartitionBytes, which should be sized to executor memory; AQE then
re-coalesces and splits skewed partitions at runtime.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def driver_memory(meminfo: str | None = None) -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else 40% of the host's memory in
    whole GiB (at least ``"1g"``); ``meminfo`` is ``/proc/meminfo`` text."""
    override = os.environ.get("SPARK_DRIVER_MEMORY")
    if override:
        return override
    if meminfo is None:
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    kib = int(re.search(r"^MemTotal:\s*(\d+)\s*kB", meminfo, re.M).group(1))
    return f"{max(1, kib * 2 // 5 // 2**20)}g"


def get_spark(
    app_name: str = "datasketches_server_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        # ~cores in local mode; a 1000-executor cluster would use
        # 2-3x total cores and rely on AQE coalescing.
        shuffle_partitions = max(cores, 8)
    # worker-daemon preload: forked Python workers inherit imported
    # numpy/pandas/pyarrow + the warm signature module via copy-on-write
    # (~1-2 s saved per worker's first task).  The daemon module must be
    # importable at worker LAUNCH, so the package root (a directory or a
    # --py-files zip -- both are valid PYTHONPATH entries) goes on the
    # environment before the JVM starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # tmpfs shuffle dir when available: the sandbox's virtio disk
        # (~580 MB/s, async writeback) adds multi-second jitter per
        # multi-GB shuffle; real clusters have per-executor local disks
        .config("spark.local.dir", "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # catalog tables (write_bucketed) land in tmp, not the repo cwd;
        # per-uid-and-pid path so concurrent runs (a benchmark + pytest,
        # two CI jobs) can't overwrite each other's saveAsTable data
        .config("spark.sql.warehouse.dir", f"/tmp/spark-warehouse-{os.getuid()}-{os.getpid()}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by SHUFFLE BYTES; this engine's hot shuffles are
        # narrow-but-compute-dense rows (gram strings, hash keys feeding
        # windows/joins), so the 1 MB default min-partition-size folds a
        # CPU-bound stage onto ~6 of 32 cores (measured: q111's ranking
        # window ran (5+1)/6 tasks with a straggler tail; 64k keeps it at
        # 32 tasks -- same-session interleaved A/B min wall 9.5 s vs
        # 11.5 s at 1 MB).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffled-hash over sort-merge (guide section 3.1): the verify
        # join's big side is fat per-conv state (shingle arrays); SHJ
        # skips the two big-side sorts.  Same-session interleaved A/B at
        # 100k convs: candidate+verify 8.2/7.2 s SMJ vs 6.9/5.6 s SHJ,
        # identical edge counts.  The AQE local-map threshold bounds the
        # per-partition build (spill-safe fallback stays SMJ).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
        .config("spark.driver.memory", driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches: the signature kernel's per-batch working set
        # must stay cache-resident or concurrent workers thrash shared L3
        # (measured 6x CPU inflation at batch=10000 with 16 workers)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
        # generated-class cache: the 100-entry default evicts the heavy
        # queries' compiled classes while a many-query session (the
        # oracle sweep) churns hundreds of codegen shapes; an evicted
        # class is unloaded and its C2-compiled code is lost, so the next
        # invocation re-runs interpreted (measured: the same warmed query
        # bimodally burns 30-50 vs 300-500 CPU-s).  Cache entries are
        # source-text keyed soft references -- raising the cap costs only
        # metaspace the JVM can still reclaim under pressure.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # up from Spark's 10m so small dims and the touched-bucket probe
        # broadcast instead of shuffling (test_plan_quality checks both)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.python.daemon.module", "datasketches_server_spark.worker_daemon")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
