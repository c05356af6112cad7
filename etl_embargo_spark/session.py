"""SparkSession construction tuned for both local testing and cluster scale.

The reference runs single-threaded on a 2-vCPU AppEngine instance
(/root/reference/deploy/app.yaml:1-9, sequential loop embargo.go:278-291);
Spark replaces that with distributed scans, so the session config below is
about making Catalyst/AQE do the right thing at 100 TB, not about porting
anything:

* AQE on — runtime coalescing of small shuffle partitions, dynamic
  broadcast-join conversion, and skew-join splitting cover the data-dependent
  decisions the reference hand-codes (build-side hash sets).
* shuffle.partitions sized for the local harness (usable CPUs, or
  ``SPARK_GRAFT_CPUS``); on a real cluster AQE's coalescing makes the
  initial number mostly a ceiling.
* Arrow on — every Pandas UDF / mapInPandas path (tar exploder, ipv6
  normalizer, embedding kernels) moves batches, never rows.
* maxPartitionBytes 128m — parquet scan splits sized so one task's input fits
  comfortably in executor memory at any SF.
* codegen cache of 1024 classes — Spark's default of 100 is smaller than one
  job's working set, so every warm job compiled its code again (see
  ``CODEGEN_CACHE_MAX_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
# default 100).  Guava splits the bound across its 4 segments, so each
# segment evicts past about 25 classes.  One job's working set is larger:
# the first corpus_dedup job compiles 112 distinct classes and the first
# embargo_publish job 65-67.  At the default every later corpus_dedup job
# compiled 55-75 of them again through Janino (embargo_publish 0-21,
# varying between probes), and the JIT then compiled the reloaded classes
# again.  At 1024 warm jobs of both workloads compile 0 classes, and
# metaspace is unchanged (161-167 MB used after three jobs of either
# workload, at either bound).  1024 / 4 segments = 256 per segment, so
# one segment alone holds all 179 classes of both workloads in one
# session.  The conf is static: CodeGenerator reads it once per JVM, so
# only a session built here gets it (``tune_for_session`` cannot set it).
CODEGEN_CACHE_MAX_ENTRIES = 1024


def _int_env(name: str, default: int) -> int:
    try:
        return int(os.environ.get(name, "") or default)
    except ValueError:
        return default


def get_spark(app_name: str = "etl_embargo_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``local[n]`` uses the CPUs this process may run on unless
    ``SPARK_GRAFT_CPUS`` (or ``SPARK_GRAFT_MASTER``) says otherwise: more
    task slots than cores only adds contention."""
    cpus = _int_env("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter injection: when a selective dim side feeds a
        # shuffle join, Spark builds a bloom over the join key and pushes a
        # might_contain() filter into the FACT scan — at 100 TB this is the
        # difference between shuffling the whole fact table and shuffling
        # the ~matching rows.  Local data all broadcasts, so it rarely
        # fires here; tests/test_scale.py::TestRuntimeBloomFilter pins the
        # injection with thresholds lowered.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
    )
    return builder.getOrCreate()


# Sizing targets for recommended_conf (bytes).
_TARGET_SHUFFLE_PARTITION_BYTES = 128 * 1024 * 1024  # post-shuffle task input
_MAX_PARTITION_BYTES = 128 * 1024 * 1024  # scan split size
_MIN_PARTITIONS = 32


def recommended_conf(
    input_bytes: int,
    executors: int = 1,
    cores_per_executor: int = 32,
    shuffle_fraction: float = 0.5,
) -> dict[str, str]:
    """Derive the scale-dependent Spark conf for a job over ``input_bytes``.

    The reasoning (applies unchanged from local[32]/60 MB to a
    1000-executor/100 TB cluster):

    * ``shuffle.partitions`` — size each reduce task's input near 128 MB of
      *shuffled* data (``shuffle_fraction`` of the scan after projection/
      filtering; 0.5 is conservative for these workloads where dims are
      broadcast and facts shuffle at most once).  Floor at total cores so
      every slot works; AQE coalescing trims the excess at runtime, so
      erring high is cheap but erring low serializes the job.
    * ``files.maxPartitionBytes`` stays at 128 MB — scan splits that fit
      whole-stage codegen buffers and executor memory at any SF.
    * At 100 TB / 1000 executors × 8 cores: ~50 TB shuffled / 128 MB ≈ 400k
      partitions — above the 2^31 shuffle-block ceiling per map, which is
      why facts here shuffle at most once and aggregates pre-combine
      map-side (see operators/*).
    """
    total_cores = max(1, executors * cores_per_executor)
    by_bytes = int(input_bytes * shuffle_fraction // _TARGET_SHUFFLE_PARTITION_BYTES)
    partitions = max(_MIN_PARTITIONS, total_cores, by_bytes)
    return {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.files.maxPartitionBytes": str(_MAX_PARTITION_BYTES),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally provided session.

    The driver harness passes its own SparkSession to ``entry``/``queries``;
    only conf that is legal to set post-startup is touched here.  The
    codegen cache bound (``CODEGEN_CACHE_MAX_ENTRIES``) is not: it is a
    static conf that ``CodeGenerator`` reads once per JVM, so a session
    built elsewhere keeps its own.
    """
    rt = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
    for k, v in rt.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - immutable conf on some builds
            pass
    return spark
