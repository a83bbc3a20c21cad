"""SparkSession factory tuned for the extraction engine.

Local mode here; the same configs are what we'd submit with
``spark-submit --py-files pdf_extraction_spark.zip`` on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .constants import ARROW_MAX_RECORDS_PER_BATCH


def build_session(
    app_name: str = "pdf_extraction_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[$SPARK_GRAFT_CPUS]``, else ``local[*]``.
    Shuffle partitions default to the core count, N for ``local[N]``
    and ``os.cpu_count()`` for ``local[*]`` (not Spark's 200), so
    small-scale runs don't drown in empty tasks; on a real cluster this
    is set to ~2-3x total cores.
    """
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cores) if str(cores).isdigit() else os.cpu_count()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # Spark 4's ICU-backed lower()/upper() stalls badly on large
        # heaps (profiled: 31/32 executor threads pinned in
        # CollationSupport$Lower.execBinaryICU, 30-50s for a 5k-line
        # aggregate; 1-9s with it off).  The engine's case mappings are
        # ASCII-range (Korean has no case; the DuckDB oracle gate
        # verifies equality), so the JVM fast path is semantics-safe.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # local mode: shuffles go through local disk — lz4 costs more
        # CPU than it saves (on a network cluster leave compression on)
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split sizing (guide §6) for stage re-reads and query
        # table scans: cap splits at 16 MB and let Spark's own
        # bytesPerCore floor (totalBytes / defaultParallelism) size them
        # BELOW the cap — small inputs still get ~core-count waves,
        # large ones fewer, larger tasks (measured sweep of 8/12/16/32
        # MB at 8k and 80k docs in OPTIMIZATION_r06.md; an explicit
        # core-count minPartitionNum floor was tried and dropped — it
        # re-fragmented the small committed-stage scans).  The extract
        # stage does not take its parallelism from these splits: it
        # coalesces its payload scan to one layout task per core
        # (operators/extract.py), since each split there would pay a
        # Python-worker round-trip and commit its own pages file.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # Whole-stage-codegen class cache: the default 100 entries is
        # smaller than one pass of this engine's query surface, so a
        # session that alternates queries (the bench suite, a real
        # multi-query deployment) EVICTS every query's generated
        # classes between runs and re-pays janino compilation on every
        # execution — measured as a ~0.5-1.5s per-query tax: the warm
        # 12-query suite sum dropped 16.6 -> 12.5s (-25%) when raised
        # (OPTIMIZATION_r06.md).  5000 compiled classes is a few
        # hundred MB of metaspace at most; same value is appropriate on
        # a cluster driver/executors.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Driver JVM on C1 only.  A cold 2000-doc pipeline pass (4 cores)
        # spent 14.1-19.6 CPU-s in HotSpot's C2 compiler threads, about
        # half the JVM's CPU and twice all executor task threads', on
        # Spark, Parquet, Janino and java.* code that the job ends
        # before it pays back.  C1 only: pipeline_2k op_cpu_s 48.2 ->
        # 26.7 s, queries_sf0.03 op_cpu_s 27.2 -> 21.2 s.  The price:
        # a warm query loop runs C1 code, queries_sf0.03 query_suite_s
        # 10.6 -> 13.7 s (+29%), mostly the spatial and hashing queries
        # (BENCH/JIT_POLICY.md).  Driver only: in local mode the driver
        # JVM is the whole engine, and on a cluster it is the control
        # plane (planning, codegen, scheduling), one-shot code that C2
        # never pays back; executors keep tiered C2.
        # defaultJavaOptions goes in front of a caller's
        # spark.driver.extraJavaOptions, so extra_conf cannot drop it.
        # Under spark-submit pass the same flags with
        # --driver-java-options (or this conf key).  Results do not
        # move: on JDK 17 all floating point is strict (JEP 306).
        # C1 only also shrinks the default code cache from 240 to 48 MB,
        # which a test session's driver filled in 50 s: HotSpot then
        # stops compiling, and the next adapter it cannot place raises
        # VirtualMachineError and kills the JVM.  Keep the tiered size.
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
