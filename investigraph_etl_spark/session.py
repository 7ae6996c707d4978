"""SparkSession factory tuned for the CDC engine.

Defaults follow the scale design notes in ``SURVEY.md §4``:
Arrow on (all Python crossings are vectorized), AQE on (runtime
re-planning incl. skew-join splitting), UTC session timezone (so the
DuckDB oracle compares timestamps byte-for-byte), master and shuffle
partitions sized to the cores this process may use (overridable for
cluster runs).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# knobs the engine relies on; anything not listed inherits Spark defaults
_ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # parquet scans: keep splits big enough that sf0.1 doesn't fragment,
    # small enough that a 100 TB table still yields ~1e6 tasks, not 1e8
    "spark.sql.files.maxPartitionBytes": "134217728",
    # measured vs lz4/snappy/uncompressed on the merge write path:
    # within noise on time (≤8%), 24% smaller files — zstd wins at scale
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    # ParallelGC: measured ~1.5× faster than G1 on the merge pipeline
    # (token-array payloads allocate heavily; throughput GC wins)
    "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC",
    # output-commit algorithm 2: task-side renames instead of a serial
    # driver-side rename loop at job commit — measured ~0.5s/commit on
    # the 128-partition delta write (A/B, tools: v1 [8.15, 7.81, 7.60]
    # vs v2 [7.50, 7.08, 7.46] on the 8M bulk merge), pure serial-path
    # saving.  v2's weaker job-commit atomicity (a failed job can leave
    # partial files in the output dir) is already covered one level up:
    # the lake's manifest commit is what makes data files visible, so
    # un-manifested partials are unreadable and vacuum() removes them.
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # list up to 4096 scan paths on the driver instead of in a Spark job
    # (default 32).  The lake's scans pass only files its manifest
    # lists, and a full read passes one per base and delta file, so
    # past 32 paths every read paid a listing job of one task per path.
    # Measured constructing a parquet DataFrame over N local files
    # (4-core host, local[4]): serial 64/256/1024/4096 paths = 75/132/
    # 220/712 ms; listing job 603/1243/4297/13973 ms.  4096 keeps the
    # serial worst case near the fixed cost of the smallest job.  Paths
    # are still existence-checked up front, so a missing file raises
    # as before.  A store that lists slower per path (object stores)
    # can lower it through ``get_spark(extra_conf=)``.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
}


def local_cores(env: Mapping[str, str] = os.environ) -> int:
    """Cores this process may use: ``$SPARK_GRAFT_CPUS`` if set, else
    the size of its CPU affinity mask (not ``os.cpu_count()``, which
    counts the machine's cores, not this container's share)."""
    cpus = env.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def local_heap(meminfo: str = "/proc/meminfo") -> str:
    """A JVM heap size for a single-process benchmark on this host:
    half of ``MemTotal``, at least 1 GiB (e.g. ``"8035m"`` on 16 GB)."""
    with open(meminfo) as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return f"{max(1024, int(line.split()[1]) // 2048)}m"
    raise ValueError(f"MemTotal missing from {meminfo}")


def resolve_master(master: str | None, cores: int) -> tuple[str, int]:
    """``(master, partitions)`` for a session on ``cores`` cores.

    ``None`` → ``local[cores]``; ``local`` → 1; ``local[N]`` and
    ``local[N,F]`` → N; ``local[*]`` and any non-local master → ``cores``.
    """
    if master is None:
        return f"local[{cores}]", cores
    if master == "local":
        return master, 1
    if master.startswith("local["):
        threads = master[len("local["):].split(",")[0].rstrip("]")
        return master, cores if threads == "*" else int(threads)
    return master, cores


def get_spark(
    app_name: str = "investigraph_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[n]`` with ``n`` = :func:`local_cores`.
    ``shuffle_partitions`` (also ``spark.default.parallelism``) defaults
    to the master's thread count (:func:`resolve_master`) — on a real
    cluster pass ~2-3× total executor cores instead.
    """
    master, partitions = resolve_master(master, local_cores())
    if shuffle_partitions is None:
        shuffle_partitions = partitions

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.default.parallelism", str(shuffle_partitions))
    for k, v in _ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
