"""Rows-only driver queries for the non-SQL-expressible custom operators
(SURVEY S3/S6/F3/K1): exercised against the driver's synthetic tables so the
harness can at least smoke them at every SF; their real oracles are the
reference-golden pytest suite (tests/test_tar_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table, spread_for_cpu
from etl_embargo_spark.functions.ipv6 import normalize_ipv6
from etl_embargo_spark.sources.tar_source import _make_packer, explode_archives


def ipv6_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 detail form — normalize constructed IPv6 strings, including the
    sidestream ``:::`` malformation and garbage inputs → null."""
    li = spread_for_cpu(load_table(spark, sf_dir, "lineitem"), spark)
    raw = F.when(
        F.col("l_linenumber") % 4 == 0,
        F.concat(F.lit("2001:4c08:2003:3f:::"), (F.col("l_orderkey") % 200).cast("string")),
    ).when(
        F.col("l_linenumber") % 4 == 1,
        F.concat(F.lit("2001:db8::"), (F.col("l_orderkey") % 9999).cast("string")),
    ).when(
        F.col("l_linenumber") % 4 == 2,
        F.concat_ws(".",
            (F.col("l_suppkey") % 256).cast("string"),
            (F.col("l_partkey") % 256).cast("string"),
            F.lit("0"), F.lit("1")),
    ).otherwise(F.lit("not-an-ip"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        raw.alias("raw_ip"),
        normalize_ipv6(raw).alias("norm_ip"),
    )


def q_ipv6_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 registered form — checksum rollup of :func:`ipv6_normalized` per
    input family (raw form index): (form, n_rows, raw_sum, norm_sum).
    The pandas-UDF normalization is not ANSI-SQL-expressible, but it IS
    deterministic, so the rollup gets a pinned literal DuckDB oracle and
    the driver a real hash-checked row; the 60k-row detail keeps its
    pytest oracle."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    d = ipv6_normalized(spark, sf_dir)
    return d.groupBy(
        (F.col("l_linenumber") % 4).cast("int").alias("form")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        rows_checksum("l_orderkey", "l_linenumber", "raw_ip").alias("raw_sum"),
        rows_checksum("l_orderkey", "l_linenumber", "norm_ip").alias("norm_sum"),
    )


def tar_roundtrip_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/K1 detail form — pack document rows into .tgz blobs (one archive
    per doc_id bucket), explode them back with the tar-entry source kernel,
    and return the recovered entries.  Verifies the pack/explode machinery
    on driver data without touching the filesystem."""
    # no spread_for_cpu here: the pack kernel runs inside
    # groupBy("bucket").applyInPandas, whose own shuffle fixes parallelism
    # at the 16 bucket groups — a pre-repartition would be a wasted shuffle
    bucket = (F.col("doc_id") % 16).cast("int")
    docs = load_table(spark, sf_dir, "documents").select(
        bucket.alias("bucket"),
        F.format_string("bucket%02d/doc%08d.txt", bucket, F.col("doc_id")).alias("path"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit(0o644).alias("mode"),
        # fixed mtime: deterministic output
        F.timestamp_seconds(F.lit(1489536000)).alias("mtime"),
    )
    pack = _make_packer()

    def _pack_bucket(key, pdf):
        import pandas as _pd

        (b,) = key
        return _pd.DataFrame(
            {"path": [f"mem://bucket{b:02d}.tgz"], "content": [pack(pdf)]}
        )

    archives = docs.groupBy("bucket").applyInPandas(
        _pack_bucket, schema="path string, content binary"
    )
    return explode_archives(archives).select("archive", "path", "basename", "size")


def q_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/K1 registered form — per-archive checksum rollup of
    :func:`tar_roundtrip_entries`: (archive, n_entries, entries_sum).
    Deterministic (fixed mtime, sorted members), so the rollup is pinned
    as a literal DuckDB oracle; the entry-level detail keeps its golden
    content-set pytest."""
    from etl_embargo_spark.operators.aggregates import rows_checksum

    e = tar_roundtrip_entries(spark, sf_dir)
    return e.groupBy("archive").agg(
        F.count(F.lit(1)).alias("n_entries"),
        rows_checksum("path", "basename", "size").alias("entries_sum"),
    )
