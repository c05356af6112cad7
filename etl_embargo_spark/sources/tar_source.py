"""S3 — the archive codec: .tgz objects ⇄ one row per tar entry.

Reference: /root/reference/embargo.go:125-173 — gzip reader → tar reader →
keep regular files → project header fields + whole content.  The reference
buffers the entire archive AND both output archives in RAM
(embargo.go:135-141), bounding archive size by instance memory; here each
executor task streams entries out of one archive's bytes and hands Spark
Arrow batches, so memory is bounded per entry, spill is Tungsten's problem,
and parallelism is per-archive (gzip is unsplittable, but archives are ~MB
and there are many — the right parallel grain at 100 TB).

``spark.read.format("binaryFile")`` provides distributed listing + the bytes;
``mapInPandas`` does the explode.  No driver-side loops anywhere.
The exploder already holds each entry's name in Python, so it also derives
the normalized ``local_ip`` (F2, then F3) there: the classifier needs no
second Arrow pass over the entries.

This module is the package's only tar decoder (:func:`explode_archives`,
over any ``binaryFile``-shaped DataFrame, batch or streaming) and its only
gzip+tar writer (``_make_packer``).  :func:`repack_archives` packs within
the partitions the scan produced, since every entry of an archive comes
from the same ``binaryFile`` row: the repack needs no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.functions.filenames import make_local_ip_parser
from etl_embargo_spark.functions.ipv6 import make_normalizer

ENTRY_SCHEMA = (
    "archive string, path string, basename string, local_ip string, "
    "size long, mode long, mtime timestamp, is_regular boolean, "
    "content binary"
)
QUARANTINE_SCHEMA = ENTRY_SCHEMA + ", error string"

# NOTE on executor-side closures: every function shipped to executors in this
# package is defined NESTED inside its builder so cloudpickle serializes it
# by value.  A module-level function would pickle as a reference to
# ``etl_embargo_spark...`` and fail with ModuleNotFoundError on any worker
# that doesn't have this repo on PYTHONPATH (driver harness running from a
# different cwd, or a cluster where the package isn't shipped).


def _make_exploder(quarantine: bool = False):
    """Build the mapInPandas generator (self-contained for pickling).

    ``quarantine=False`` (default): a corrupt archive raises and fails the
    task — corruption upstream of a boundary you control means a bug, stop
    (the same doctrine as formats.py's FAILFAST readers).
    ``quarantine=True``: entry rows gain an ``error`` column (null for
    good rows); a corrupt archive yields ONE marker row carrying the
    archive name and the decode error instead of killing the batch — at
    100 TB a 1e-8 archive-corruption rate is still daily occurrences, and
    one bad blob must not wedge the day's partition (the reference's
    skip-vs-error variants, embargo.go:279-299).

    ``local_ip`` is F3(F2(basename)), null when the name is malformed or
    the IP does not parse — the same value as the SQL F2
    (``filename_local_ip``) through the F3 pandas UDF."""
    cols = [f.strip().split(" ")[0] for f in ENTRY_SCHEMA.split(",")]
    local_ip = make_local_ip_parser()
    normalize = make_normalizer()

    def _walk(path: str, content: bytes):
        """One ENTRY_SCHEMA-ordered tuple per tar entry, mtime as a
        naive-UTC datetime."""
        import datetime as _dt
        import gzip as _gzip
        import io as _io
        import tarfile as _tarfile

        archive_name = path.rsplit("/", 1)[-1]
        raw = _io.BytesIO(bytes(content))
        # Stream: gzip member → tar entries, entry-at-a-time.
        with _gzip.GzipFile(fileobj=raw) as gz:
            with _tarfile.open(fileobj=gz, mode="r|") as tar:
                for info in tar:
                    is_reg = info.isreg()
                    data = tar.extractfile(info).read() if is_reg else None
                    base = info.name.rsplit("/", 1)[-1]
                    yield (
                        archive_name,
                        info.name,
                        base,
                        normalize(local_ip(base)),
                        info.size,
                        info.mode,
                        _dt.datetime.fromtimestamp(
                            info.mtime, _dt.timezone.utc
                        ).replace(tzinfo=None),
                        is_reg,
                        data,
                    )

    def _explode_archives(batches):
        # One input row per archive (binaryFile schema) → N rows per tar
        # entry; one output batch per archive keeps Arrow batch sizes
        # bounded by one archive's decompressed size.
        import pandas as _pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                if quarantine:
                    try:
                        rows = list(_walk(row["path"], row["content"]))
                    except Exception as exc:
                        name = str(row["path"]).rsplit("/", 1)[-1]
                        yield _pd.DataFrame(
                            [
                                (name,) + (None,) * (len(cols) - 1)
                                + (f"{type(exc).__name__}: {exc}",)
                            ],
                            columns=cols + ["error"],
                        )
                        continue
                    if rows:
                        out = _pd.DataFrame(rows, columns=cols)
                        out["error"] = None
                        yield out
                else:
                    rows = list(_walk(row["path"], row["content"]))
                    if rows:
                        yield _pd.DataFrame(rows, columns=cols)

    return _explode_archives


def explode_archives(archives: DataFrame, on_corrupt: str = "raise") -> DataFrame:
    """One row per regular tar entry of each archive in ``archives``, a
    ``binaryFile``-shaped DataFrame (``path`` + ``content``; batch or
    streaming).  The P2 regular-file filter (embargo.go:158-159) is
    always applied.

    ``on_corrupt='raise'`` (default) fails the job on a bad archive;
    ``'quarantine'`` adds an ``error`` column and turns each corrupt
    archive into one marker row (filter ``error IS NOT NULL`` for the
    dead-letter relation) — see ``_make_exploder``.
    """
    if on_corrupt not in ("raise", "quarantine"):
        raise ValueError(f"on_corrupt must be raise|quarantine, got {on_corrupt!r}")
    quarantine = on_corrupt == "quarantine"
    entries = archives.mapInPandas(
        _make_exploder(quarantine),
        schema=QUARANTINE_SCHEMA if quarantine else ENTRY_SCHEMA,
    )
    keep = F.col("is_regular")
    if quarantine:
        keep = keep | F.col("error").isNotNull()
    return entries.filter(keep)


def read_tar_entries(
    spark: SparkSession, path_glob: str, on_corrupt: str = "raise"
) -> DataFrame:
    """Load every .tgz under ``path_glob`` as a DataFrame of tar entries
    (SURVEY D3: the atomic record).

    ``pathGlobFilter`` keeps the listing pruned at the source (the analog of
    the reference's name filter embargo.go:279-281); see
    :func:`explode_archives` for ``on_corrupt``.
    """
    archives = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.tgz")
        .load(path_glob)
    )
    return explode_archives(archives, on_corrupt)


def _make_packer():
    """Build the gzip+tar writer (nested for by-value pickling): packs a
    pandas frame of entries (``path``, ``content``, ``mode``, ``mtime``)
    into the bytes of one .tgz.  Members are sorted by path (stably, so
    duplicate paths keep their input order) and the gzip mtime is zeroed,
    so reruns are byte-stable (SURVEY ST3)."""

    def _pack(pdf) -> bytes:
        import gzip as _gzip
        import io as _io
        import tarfile as _tarfile

        import pandas as _pd

        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            with _tarfile.open(fileobj=gz, mode="w") as tar:
                for _, r in pdf.sort_values("path", kind="stable").iterrows():
                    info = _tarfile.TarInfo(name=r["path"])
                    data = bytes(r["content"]) if r["content"] is not None else b""
                    info.size = len(data)
                    info.mode = int(r["mode"])
                    info.mtime = int(_pd.Timestamp(r["mtime"]).timestamp())
                    tar.addfile(info, _io.BytesIO(data))
        return buf.getvalue()

    return _pack


def _make_repacker():
    """Build the per-partition repack generator (nested for by-value
    pickling).  It walks runs of rows with the same ``archive`` and packs
    one blob per visibility each time the archive changes, so memory holds
    one archive's entries at a time."""
    pack = _make_packer()

    def _blobs(archive, parts):
        import pandas as _pd

        pdf = _pd.concat(parts, ignore_index=True)
        stem = archive[: -len(".tgz")] if archive.endswith(".tgz") else archive
        return _pd.DataFrame(
            [
                (archive, visibility,
                 stem + ("-e.tgz" if visibility == "private" else "-p.tgz"),
                 pack(group))
                for visibility, group in pdf.groupby("visibility", sort=True)
            ],
            columns=["archive", "visibility", "out_name", "content"],
        )

    def _repack(batches):
        archive, parts, written = None, [], set()

        def flush():
            out = _blobs(archive, parts)
            again = written.intersection(out["out_name"])
            if again:
                # a second run of one group packs a second, partial blob
                # under the same out_name
                raise ValueError(
                    f"repack_archives: entries for {sorted(again)} are not "
                    "contiguous in their partition"
                )
            written.update(out["out_name"])
            return out

        for pdf in batches:
            runs = (pdf["archive"] != pdf["archive"].shift()).cumsum()
            for _, run in pdf.groupby(runs, sort=False):
                name = run["archive"].iat[0]
                if name != archive:
                    if parts:
                        yield flush()
                        parts = []
                    archive = name
                parts.append(run)
        if parts:
            yield flush()

    return _repack


def repack_archives(entries: DataFrame) -> DataFrame:
    """K1 half — regroup classified entries into per-(archive, visibility)
    .tgz blobs, mirroring the reference's two in-memory output archives
    (embargo.go:126-127, tar writers 179-199).

    Returns ``(archive, visibility, out_name, content)`` with the embargoed
    side renamed ``-e.tgz`` (embargo.go:105) and the public side ``-p.tgz``
    (the golden-file convention, embargo_test.go:77,87).

    The pack runs inside each partition, with no shuffle: it needs every
    entry of an (archive, visibility) group in one partition, in one
    contiguous run, which is how :func:`explode_archives` emits an
    archive's entries and how narrow transformations (the broadcast
    classify, a filter, a cache) keep them.  The input must therefore be
    ``explode_archives`` output carried through narrow operations only.

    A split group is caught where it would do harm.  Two runs of one
    group in one partition fail the task here; a group split across
    tasks (a shuffled input, or a scan that cuts one archive's rows
    across partitions, such as a parquet re-read of the routed output
    whose file is larger than ``maxPartitionBytes``) packs one partial
    blob per task under the same ``out_name``, which
    :func:`~etl_embargo_spark.sinks.routed_write.write_blobs` refuses
    because it publishes each name once.
    """
    return entries.select(
        "archive", "visibility", "path", "content", "mode", "mtime"
    ).mapInPandas(
        _make_repacker(),
        schema="archive string, visibility string, out_name string, content binary",
    )
