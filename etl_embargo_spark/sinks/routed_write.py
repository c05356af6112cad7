"""K1 — the dual-sink routed write, plus blob emission utilities.

Reference: ``WriteResults`` /root/reference/embargo.go:104-122 — public
buffer → public bucket under the original name, embargo buffer → private
bucket under the ``-e.tgz`` name.  Spark-first this is ONE partitioned write:
``partitionBy("visibility")`` routes both sides in a single pass over the
data (the reference's single-scan/two-output structure, embargo.go:149-201),
and downstream consumers mount ``visibility=public/`` and
``visibility=private/`` as the two "buckets".

Rerun rule (SURVEY ST3), one for both sinks: a write replaces its whole
directory, the engine analog of the delete-then-copy at
unembargo.go:115-130.  Nothing of a previous run survives a rerun, so a
visibility side the rerun does not write (every entry of a day turned
public, or private) cannot keep stale rows or blobs.  A crash leaves an
incomplete directory: the routed dataset then has no ``_SUCCESS`` marker.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame


def write_routed(
    df: DataFrame,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("visibility",),
) -> None:
    """Single-pass two-way (or N-way) routed write of classified records.
    Static overwrite: every partition of a previous write is replaced,
    written or not."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(out_dir)


def local_path(path: str) -> str:
    """The local filesystem path of a blob directory: ``path`` itself, or
    the absolute path of a ``file://`` URI.  Any other scheme raises
    ValueError: the blob sink removes and writes with local file calls,
    which would read ``gs://b/x`` as the relative path ``gs:/b/x``."""
    if re.match(r"[A-Za-z][A-Za-z0-9+.-]*:", path) is None:
        return path
    if path.startswith("file:///"):
        return path.removeprefix("file://")
    raise ValueError(f"blob directory {path!r} is not a local path or file:// URI")


def remove_dir(path: str) -> None:
    """Delete the local directory ``path`` (see :func:`local_path`) and
    everything under it, if it exists.  A file at ``path`` raises
    NotADirectoryError: it is not a sink's output."""
    try:
        shutil.rmtree(local_path(path))
    except FileNotFoundError:
        pass


def write_blobs(df: DataFrame, out_dir: str) -> None:
    """Replace ``out_dir`` with one raw file per ``(out_name, content)``
    row — the K2/K3 upload analog for repacked archives.

    The driver removes ``out_dir`` first; each executor partition then
    writes its own blobs (``out_dir`` must be shared storage on a
    cluster; it is a local dir on local[*]).  A blob is written to a
    per-task-attempt ``.inprogress`` file and published with
    ``os.link``, which never replaces an existing name, so each name is
    published once.  A name that already exists with identical bytes is
    a retried task and passes; different bytes raise ValueError naming
    the blob: two tasks packed parts of one (archive, visibility) group,
    which a repack of an input that splits an archive across partitions
    does.  ``out_dir`` is a local path or ``file://`` URI
    (:func:`local_path`)."""
    out_dir = local_path(out_dir)
    remove_dir(out_dir)

    def _write_partition(rows) -> None:
        from pyspark import TaskContext

        attempt = TaskContext.get().taskAttemptId()
        os.makedirs(out_dir, exist_ok=True)
        for row in rows:
            target = os.path.join(out_dir, row["out_name"])
            os.makedirs(os.path.dirname(target), exist_ok=True)
            data = bytes(row["content"])
            tmp = f"{target}.{attempt}.inprogress"
            with open(tmp, "wb") as f:
                f.write(data)
            try:
                os.link(tmp, target)
            except FileExistsError:
                with open(target, "rb") as f:
                    if f.read() != data:
                        raise ValueError(
                            f"write_blobs: {row['out_name']} was packed twice with "
                            "different bytes; its group is split across tasks"
                        ) from None
            finally:
                os.unlink(tmp)

    df.select("out_name", "content").foreachPartition(_write_partition)
