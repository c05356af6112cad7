"""K1 — the dual-sink routed write, plus blob emission utilities.

Reference: ``WriteResults`` /root/reference/embargo.go:104-122 — public
buffer → public bucket under the original name, embargo buffer → private
bucket under the ``-e.tgz`` name.  Spark-first this is ONE partitioned write:
``partitionBy("visibility")`` routes both sides in a single pass over the
data (the reference's single-scan/two-output structure, embargo.go:149-201),
and downstream consumers mount ``visibility=public/`` and
``visibility=private/`` as the two "buckets".

Idempotency (SURVEY ST3): dynamic partition overwrite — rerunning a day
replaces exactly that day's partitions, the engine analog of the
delete-then-copy at unembargo.go:115-130.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_routed(
    df: DataFrame,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("visibility",),
) -> None:
    """Single-pass two-way (or N-way) routed write of classified records."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(out_dir)
    )


def write_blobs(df: DataFrame, out_dir: str) -> None:
    """Emit ``(out_name, content)`` rows as raw files under ``out_dir`` —
    the K2/K3 upload analog for repacked archives.  Distributed: each
    executor partition writes its own blobs; ``out_dir`` must be shared
    storage on a cluster (it is a local dir on local[*])."""

    def _write_partition(rows) -> None:
        os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            target = os.path.join(out_dir, row["out_name"])
            os.makedirs(os.path.dirname(target), exist_ok=True)
            tmp = target + ".inprogress"
            with open(tmp, "wb") as f:
                f.write(bytes(row["content"]))
            os.replace(tmp, target)  # atomic per-blob commit

    df.select("out_name", "content").foreachPartition(_write_partition)
