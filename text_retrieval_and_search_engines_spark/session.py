"""SparkSession factory with the engine's pinned configuration.

Python workers.  Every Python task (``mapInArrow``, ``mapInPandas``, RDD
functions) used to wait ~70 ms before its kernel started, against ~20 ms
for a one-task JVM-only job.  Two causes, each measured by itself with
cProfile on the worker's ``main`` and by per-task timing:

* ~35 ms: ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` on every task, and every cached
  ``zipimporter`` re-reads its archive's whole directory.  Workers import
  pyspark and py4j from ``$SPARK_HOME/python/lib`` zips (pyspark.zip has
  1,328 entries, cached under 12 subpackage paths), and Spark also puts
  the spark-core jar (5,359 entries) on their path, where stdlib ``copy``
  finds an ``org`` namespace package while probing for Jython: ~27k
  directory entries re-read per task;
* ~40 ms: a Nagle x delayed-ACK stall on the loopback TCP socket between
  the JVM and the worker: neither side sets ``TCP_NODELAY``, so the worker
  sits in ``read_int`` / ``pyarrow.ipc.open_stream`` waiting for the JVM's
  small first writes.

Each fix alone barely helps; together they bring a trivial Python task to
the JVM floor (local[4] on 4 cores, one task, p50 of 30, two runs each):

    daemon                                  RDD task   mapInArrow task
    stock pyspark.daemon                    91 ms      100-103 ms
    zip re-reads skipped only               58 ms      68-70 ms
    TCP_NODELAY + TCP_QUICKACK only         91 ms      100-102 ms
    both, jar still re-read                 48 ms      58 ms
    both (pyworker)                         18 ms      27-28 ms
    JVM-only one-task job, for reference    20-26 ms

``pyworker`` is the daemon that does both; ``session_builder`` names it
for every session this repo builds.  Unix domain sockets
(``spark.python.unix.domain.socket.enabled``) remove the stall too, but
pyspark binds its accumulator socket at ``<java.io.tmpdir>/.<uuid>.sock``
and a tmpdir longer than ~64 characters fails session start with
``AF_UNIX path too long``.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession


def session_builder(app_name: str, master: str) -> SparkSession.Builder:
    """Builder carrying the Python-worker settings every session needs."""
    # glibc malloc arena contention in forked pyspark workers inflates CPU
    # time ~16x at 32 workers (measured: tokenize 44 -> 700 CPU-s for
    # identical work). Python workers are single-threaded, so one arena is
    # strictly better. Must be set before the JVM (and thus the pyspark
    # daemon) starts.
    os.environ.setdefault("MALLOC_ARENA_MAX", "1")
    builder = (SparkSession.builder.appName(app_name).master(master)
               .config("spark.python.daemon.module",
                       f"{__package__}.pyworker"))
    if isinstance(__spec__.loader, zipimport.zipimporter):
        # imported from a --py-files archive: workers reach the package per
        # task through SparkFiles, but the daemon starts before any task
        builder = builder.config("spark.executorEnv.PYTHONPATH",
                                 __spec__.loader.archive)
    return builder


def get_spark(app_name: str = "text-retrieval-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Local session tuned for this sandbox; on a real cluster, spark-submit
    conf wins (we only set semantic configs unconditionally)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or max(8, cpus)
    builder = (
        session_builder(app_name, master)
        # semantic pins: UTC for oracle comparison; Arrow for pandas UDFs
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # docmap(docid,url) joins back to the corpus during the build; at
        # <=10^7 docs it MUST broadcast (a sort-merge join re-shuffles the
        # whole corpus text — measured as the tokenize phase's non-scaling
        # wall). At 10^12 docs AQE sees the real size and falls back to SMJ.
        .config("spark.sql.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Every job broadcasts its task binary through 4 MB (default) heap
        # chunks; with the 8g driver heap's 4 MB G1 regions each chunk is a
        # humongous allocation, and once old gen passes G1's occupancy
        # threshold each one forces a young pause ("Concurrent Start (G1
        # Humongous Allocation)"): 61 such pauses vs 4 at 1 MB over 60
        # warm lookups. Pieces under half a region avoid it.
        .config("spark.broadcast.blockSize", "1m")
    )
    return builder.getOrCreate()
