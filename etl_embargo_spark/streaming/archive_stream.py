"""ST1 on the real data path: the embargo pipeline as a file-source stream.

The reference's cron contract — "process the archives that arrived for this
date, exactly once, rerunnable" (/root/reference/deploy/deploy.go:61-70,
embargo.go:246-247) — maps to a ``binaryFile`` readStream with
``availableNow`` + checkpoint: new ``.tgz`` objects are discovered per
micro-batch, exploded, classified, and routed to the partitioned sink with
the streaming commit protocol providing the exactly-once rerun semantics
the reference gets from bucket immutability + overwrite.

Scale: discovery is incremental (file-source log, not a full relisting);
each micro-batch is the same shuffle-free broadcast-classify plan as the
batch pipeline; state is just the source log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from etl_embargo_spark.plans.embargo_pipeline import classify_entries
from etl_embargo_spark.sources.tar_source import explode_archives

BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_archive_entries(
    spark: SparkSession, archive_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming DataFrame of tar entries from ``.tgz`` files arriving under
    ``archive_dir`` — the streaming twin of sources.tar_source.read_tar_entries."""
    archives = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", "*.tgz")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(archive_dir)
    )
    return explode_archives(archives)


def run_streaming_embargo(
    spark: SparkSession,
    archive_dir: str,
    whitelist: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    more_than_one_year: bool = False,
) -> StreamingQuery:
    """Drain all currently-available archives through classify → routed
    partitioned sink, exactly once per file across reruns (ST1+ST3)."""
    entries = stream_archive_entries(spark, archive_dir)
    classified = classify_entries(
        entries, whitelist, more_than_one_year=more_than_one_year
    )
    return (
        classified.select(
            "archive", "path", "basename", "local_ip", "size", "visibility"
        )
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .partitionBy("visibility")
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
