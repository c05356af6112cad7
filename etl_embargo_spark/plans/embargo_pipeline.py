"""E1/E2/E3 — the reference's three entry points as DataFrame pipelines.

E1 (embargo a day, /root/reference/deploy/deploy.go:23-71 →
embargo.go:248-293): archives → explode entries → classify → routed write
(→ repack).  Each archive is decoded once and nothing is shuffled: the
scan/explode stage, a broadcast ExistenceJoin projection and the write.

E2 (unembargo/publish, unembargo.go:86-140) is composed from the listing
set operations in ``operators/setops`` (``overwrite_merge``,
``sync_missing``, ``compare_listings``).

E3 (whitelist refresh, embargo_check.go:39-81): re-derive + re-broadcast the
dim each batch — deliberately NOT the reference's stale-singleton behavior
(embargo.go:55-57), which only refreshed on instance recycling (SURVEY §3 E3
flags it as a quirk not to replicate).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.functions.filenames import parse_date_int
from etl_embargo_spark.sinks.routed_write import (
    local_path,
    remove_dir,
    write_blobs,
    write_routed,
)
from etl_embargo_spark.sources.tar_source import read_tar_entries, repack_archives


def classify_entries(
    entries: DataFrame,
    whitelist: DataFrame,
    more_than_one_year: bool | Column = False,
) -> DataFrame:
    """P4 over real sidestream records — the exact reference rule
    (/root/reference/embargo.go:174)::

        public ⇔ moreThanOneYear
                ∨ ¬contains(basename, "web100")
                ∨ CheckInWhiteList(basename)

    where CheckInWhiteList = GetLocalIP (F2: between first/last underscore,
    "" when malformed) → IPv6 normalize (F3) → membership in the whitelist
    set (embargo_check.go:105-110).

    The normalized IP is the input's ``local_ip`` column, which
    :func:`~etl_embargo_spark.sources.tar_source.explode_archives` derives
    while it decodes each entry.  Membership is an IN-subquery on the
    broadcast whitelist, which plans as a ``BroadcastHashJoin``
    ExistenceJoin: no aggregate, no shuffle of either side, and duplicate
    whitelist IPs cannot duplicate entries.

    ``more_than_one_year`` is a bool for the whole input, or a boolean
    Column evaluated per row (``embargo_day`` passes the archive-date
    predicate).  A null age term counts as not old: it drops out of the
    OR, so the row is public only by the other two terms.

    Null/malformed IPs ("" → null) never match, so they fall through to
    the whitelist-miss branch exactly as in the reference (SURVEY §7
    risk 3).
    """
    is_public = (
        F.lit(more_than_one_year)  # a Column passes through lit unchanged
        | ~F.col("basename").contains("web100")
        | F.col("local_ip").isin(F.broadcast(whitelist).select("ip"))
    )
    return entries.withColumn(
        "visibility",
        F.when(is_public, F.lit("public")).otherwise(F.lit("private")),
    )


def _check_repack_dir(out_dir: str, repack_dir: str | None) -> None:
    """Refuse a missing or non-local ``repack_dir`` (see
    :func:`~etl_embargo_spark.sinks.routed_write.local_path`), or one that
    equals, contains or lies inside ``out_dir``."""
    if not repack_dir:
        raise ValueError("embargo_day(repack=True) requires repack_dir")
    blobs = os.path.abspath(local_path(repack_dir))
    try:
        out = os.path.abspath(local_path(out_dir))
    except ValueError:
        return  # out_dir is remote storage, which no local directory overlaps
    if os.path.commonpath([out, blobs]) in (out, blobs):
        raise ValueError(
            f"embargo_day: repack_dir {repack_dir!r} overlaps out_dir {out_dir!r}; "
            "each sink replaces its whole directory"
        )


def embargo_day(
    spark: SparkSession,
    archive_glob: str,
    whitelist: DataFrame,
    out_dir: str,
    cutoff_int: int,
    repack: bool = False,
    repack_dir: str | None = None,
) -> DataFrame:
    """E1 — the full embargo pipeline for one day-prefix of archives.

    ``more_than_one_year`` is per-archive in the reference (date parsed from
    the archive name, embargo.go:272-277); here it is a column predicate so
    one job handles any mix of ages.

    Deviation (deliberate): an archive whose name has no parseable date makes
    the reference error out and skip the archive (embargo.go:272-276); here
    ``archive_date_int`` is null, the date term drops out of the OR, and
    eligible records classify **private** — conservative (nothing leaks
    public), and the day still processes.  A name is dated only when its
    first 8 characters are ASCII digits.  Go's ``Atoi`` also accepts a
    signed prefix (``+2017010``, ``-1234567``), and Spark's int cast a
    space-padded one; either reads as older than any cutoff and would
    publish the archive's web100 entries, so here they are undated too
    (:func:`~etl_embargo_spark.functions.filenames.parse_date_int`).

    ``repack=True`` also writes the ``-p.tgz``/``-e.tgz`` archives to
    ``repack_dir``, which must then be given as a local path or
    ``file://`` URI and must neither equal, contain nor lie inside
    ``out_dir``: each sink replaces its whole directory, so either would
    delete the other's output.

    Rerun rule (SURVEY ST3): each call replaces the day.  The routed
    write is a static overwrite of ``out_dir`` and ``repack_dir`` is
    removed before the routed write, so no failure point leaves rows or
    blobs of a previous run, classified under an older whitelist, beside
    the new routed rows.  A crash leaves an incomplete day, never a
    stale one.

    Job shape: the routed write is one scan → explode (which also derives
    ``local_ip``) → broadcast ExistenceJoin classify → partitioned write,
    plus the whitelist broadcast.  With ``repack=True`` the classified
    frame is persisted for the routed write, so the repack reads the cache
    instead of gunzipping every archive again, and packs each archive in
    the partition that holds it (no shuffle).  The cache is released
    before returning, also when a write fails.
    """
    if repack:
        _check_repack_dir(out_dir, repack_dir)
    dated = read_tar_entries(spark, archive_glob).withColumn(
        "archive_date_int", parse_date_int(F.col("archive"))
    )
    classified = classify_entries(
        dated, whitelist, F.col("archive_date_int") < F.lit(cutoff_int)
    )
    routed = classified.select(
        "archive", "path", "basename", "local_ip", "size", "mode",
        "mtime", "content", "visibility",
    )
    if not repack:
        write_routed(routed, out_dir)
        return classified
    remove_dir(repack_dir)
    classified.persist()
    try:
        write_routed(routed, out_dir)
        write_blobs(repack_archives(classified), repack_dir)
    finally:
        classified.unpersist()
    return classified

