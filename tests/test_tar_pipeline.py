"""Golden-split parity: the Spark embargo pipeline must reproduce the
reference's crown-jewel test (/root/reference/embargo_test.go:54-90) —
split the testdata archive with the full whitelist and moreThanOneYear=False,
and match the checked-in golden outputs.

Per SURVEY §5, equality is content-set equality (same inner paths + bytes
per side), not byte-identical gzip — compression output is
non-deterministic across implementations and not semantically meaningful.

The golden tests need the reference testdata and skip without it.  The
rest run on a generated seeded day (the ``embargo_inputs`` fixture) and
check against ``perfbench.oracle``'s independent three-term rule.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import shutil
import tarfile

import pytest
from pyspark.sql import functions as F

REF_TESTDATA = "/root/reference/testdata"
INPUT_TGZ = os.path.join(
    REF_TESTDATA, "20170315T000000Z-mlab3-sea03-sidestream-0000.tgz"
)
GOLDEN_PUBLIC = os.path.join(
    REF_TESTDATA, "20170315T000000Z-mlab3-sea03-sidestream-0000-p.tgz"
)
GOLDEN_EMBARGO = os.path.join(
    REF_TESTDATA, "20170315T000000Z-mlab3-sea03-sidestream-0000-e.tgz"
)
WHITELIST_FULL = os.path.join(REF_TESTDATA, "whitelist_full")

needs_ref = pytest.mark.skipif(
    not os.path.exists(INPUT_TGZ), reason="reference testdata not available"
)


def _content_set(tgz_path: str) -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    with gzip.open(tgz_path) as gz, tarfile.open(fileobj=gz, mode="r|") as tar:
        for info in tar:
            if info.isreg():
                out[info.name] = tar.extractfile(info).read()
    return out


@needs_ref
def test_tar_entry_source(spark):
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    entries = read_tar_entries(spark, INPUT_TGZ).collect()
    golden = _content_set(INPUT_TGZ)
    assert len(entries) == len(golden)
    by_path = {r["path"]: r for r in entries}
    assert set(by_path) == set(golden)
    for path, content in golden.items():
        row = by_path[path]
        assert bytes(row["content"]) == content
        assert row["size"] == len(content)
        assert row["basename"] == path.rsplit("/", 1)[-1]


@needs_ref
def test_golden_split(spark):
    """The E1 classifier reproduces the reference's golden split exactly."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries
    from etl_embargo_spark.sources.text_source import read_whitelist

    entries = read_tar_entries(spark, INPUT_TGZ)
    wl = read_whitelist(spark, WHITELIST_FULL)
    classified = classify_entries(entries, wl, more_than_one_year=False)
    rows = classified.select("path", "content", "visibility").collect()

    got_public = {r["path"]: bytes(r["content"]) for r in rows if r["visibility"] == "public"}
    got_private = {r["path"]: bytes(r["content"]) for r in rows if r["visibility"] == "private"}

    assert got_public == _content_set(GOLDEN_PUBLIC)
    assert got_private == _content_set(GOLDEN_EMBARGO)


@needs_ref
def test_golden_split_more_than_one_year(spark):
    """moreThanOneYear=True short-circuits everything to public
    (/root/reference/embargo.go:174 first term)."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries
    from etl_embargo_spark.sources.text_source import read_whitelist

    entries = read_tar_entries(spark, INPUT_TGZ)
    wl = read_whitelist(spark, WHITELIST_FULL)
    classified = classify_entries(entries, wl, more_than_one_year=True)
    assert classified.filter("visibility = 'private'").count() == 0


@needs_ref
def test_repack_roundtrip(spark, tmp_path):
    """Repacked .tgz blobs re-read to the same content sets (K1 parity)."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sinks.routed_write import write_blobs
    from etl_embargo_spark.sources.tar_source import read_tar_entries, repack_archives
    from etl_embargo_spark.sources.text_source import read_whitelist

    entries = read_tar_entries(spark, INPUT_TGZ)
    wl = read_whitelist(spark, WHITELIST_FULL)
    classified = classify_entries(entries, wl, more_than_one_year=False)
    blobs = repack_archives(classified)
    out_dir = str(tmp_path / "blobs")
    write_blobs(blobs, out_dir)

    names = sorted(os.listdir(out_dir))
    assert names == [
        "20170315T000000Z-mlab3-sea03-sidestream-0000-e.tgz",
        "20170315T000000Z-mlab3-sea03-sidestream-0000-p.tgz",
    ]
    assert _content_set(os.path.join(out_dir, names[1])) == _content_set(GOLDEN_PUBLIC)
    assert _content_set(os.path.join(out_dir, names[0])) == _content_set(GOLDEN_EMBARGO)


@needs_ref
def test_whitelist_loader(spark):
    """S4 loader parity with /root/reference/embargo_check_test.go:9-21."""
    from etl_embargo_spark.sources.text_source import read_whitelist

    small = read_whitelist(spark, os.path.join(REF_TESTDATA, "whitelist"))
    ips = {r["ip"] for r in small.collect()}
    assert "213.244.128.170" in ips
    assert len(ips) == 6


@needs_ref
def test_embargo_day_end_to_end(spark, tmp_path):
    """E1 composition: archives → explode → classify → routed partitioned
    write, reading back by visibility partition."""
    from pyspark.sql import functions as F

    from etl_embargo_spark.plans.embargo_pipeline import embargo_day
    from etl_embargo_spark.sources.text_source import read_whitelist

    wl = read_whitelist(spark, WHITELIST_FULL)
    out = str(tmp_path / "routed")
    classified = embargo_day(
        spark,
        INPUT_TGZ,
        wl,
        out,
        cutoff_int=20170101,  # archive is 20170315 => not aged out
    )
    got = spark.read.parquet(out)
    assert got.count() == classified.count()
    # the golden split: both sides non-empty for this archive + whitelist
    sides = {r["visibility"] for r in got.select("visibility").distinct().collect()}
    assert sides == {"public", "private"}
    # per-partition read prunes
    pub = spark.read.parquet(out).filter(F.col("visibility") == "public")
    assert "PartitionFilters" in pub._jdf.queryExecution().executedPlan().toString()




# ---------------------------------------------------------------------------
# generated day (embargo_inputs fixture), checked against perfbench.oracle
# ---------------------------------------------------------------------------


def _oracle_rows(df) -> dict[str, set]:
    """``{visibility: {(archive, path, local_ip, sha256(content))}}``, the
    row form of ``perfbench.oracle.expected_embargo``."""
    out: dict[str, set] = {"public": set(), "private": set()}
    for r in df.select("archive", "path", "local_ip", "content", "visibility").collect():
        sha = hashlib.sha256(bytes(r["content"])).hexdigest()
        out[r["visibility"]].add((r["archive"], r["path"], r["local_ip"], sha))
    return out


def test_generated_entry_source(spark, embargo_inputs):
    """Every regular member of every archive, once, with its header
    fields and exact bytes; non-regular members are dropped."""
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    rows = read_tar_entries(spark, embargo_inputs["archive_glob"]).collect()
    got = {
        (r["archive"], r["path"], r["basename"], r["mode"],
         hashlib.sha256(bytes(r["content"])).hexdigest())
        for r in rows
    }
    want = {
        (e["archive"], e["path"], e["basename"], e["mode"], e["sha"])
        for e in embargo_inputs["entries"]
    }
    assert len(rows) == len(want)
    assert got == want
    assert all(r["is_regular"] and r["size"] == len(r["content"]) for r in rows)


def test_exploder_local_ip_matches_sql_f2_f3(spark, embargo_inputs):
    """The exploder's Python F2+F3 ``local_ip`` equals the SQL F2
    (``filename_local_ip``) through the F3 pandas UDF on every entry of
    the day, malformed names and unparseable IPv6 included."""
    from etl_embargo_spark.functions.filenames import filename_local_ip
    from etl_embargo_spark.functions.ipv6 import normalize_ipv6
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    raw = filename_local_ip(F.col("basename"))
    rows = read_tar_entries(spark, embargo_inputs["archive_glob"]).select(
        "basename", "local_ip", raw.alias("raw"),
        F.when(raw == "", F.lit(None)).otherwise(normalize_ipv6(raw)).alias("sql_ip"),
    ).collect()
    assert len(rows) == embargo_inputs["records"]
    assert [r for r in rows if r["local_ip"] != r["sql_ip"]] == []
    # the day reaches every branch of F2 and F3
    assert any(r["raw"] == "" for r in rows)
    assert any(r["raw"] != "" and r["local_ip"] is None for r in rows)
    assert any(":::" in r["raw"] and r["local_ip"] is not None for r in rows)


def _shuffle_lines(plan: str) -> list[str]:
    """Plan lines naming an exchange other than a broadcast."""
    return [ln for ln in plan.splitlines() if "Exchange" in ln and "BroadcastExchange" not in ln]


def _classified(spark, embargo_inputs):
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    entries = read_tar_entries(spark, embargo_inputs["archive_glob"])
    return classify_entries(entries, spark.read.parquet(embargo_inputs["whitelist_path"]))


def test_classify_plans_broadcast_existence_join(spark, embargo_inputs):
    """Whitelist membership runs as an ExistenceJoin inside a
    BroadcastHashJoin: no aggregate over the whitelist and no shuffle."""
    classified = _classified(spark, embargo_inputs)
    classified.collect()
    plan = classified._jdf.queryExecution().executedPlan().toString()
    assert any("BroadcastHashJoin" in ln and "ExistenceJoin" in ln for ln in plan.splitlines())
    assert _shuffle_lines(plan) == []
    assert "HashAggregate" not in plan


def test_repack_runs_without_shuffle(spark, embargo_inputs):
    """The repack packs inside the scan's partitions: its plan has no
    shuffle exchange."""
    from etl_embargo_spark.sources.tar_source import repack_archives

    blobs = repack_archives(_classified(spark, embargo_inputs))
    assert blobs.count() == len({(a, vis) for vis, side in embargo_inputs["expected_no_date"].items()
                                 for a, *_ in side})
    plan = blobs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert _shuffle_lines(plan) == []


def test_repack_refuses_shuffled_input(spark, embargo_inputs, tmp_path):
    """A shuffled input splits archives across tasks that each pack a
    partial blob under the same ``out_name``; ``write_blobs`` publishes
    each name once and refuses the second, different blob.  A shuffle on
    the broadcast side (a distinct whitelist) keeps every archive where
    the scan put it, so its blobs are the oracle's."""
    from perfbench import oracle

    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sinks.routed_write import write_blobs, write_routed
    from etl_embargo_spark.sources.tar_source import read_tar_entries, repack_archives

    shuffled = _classified(spark, embargo_inputs).repartition(8)
    with pytest.raises(Exception, match="packed twice with different bytes"):
        write_blobs(repack_archives(shuffled), str(tmp_path / "shuffled"))

    entries = read_tar_entries(spark, embargo_inputs["archive_glob"])
    distinct_wl = spark.read.parquet(embargo_inputs["whitelist_path"]).distinct()
    broadcast_shuffle = classify_entries(entries, distinct_wl)
    routed, blobs = str(tmp_path / "routed"), str(tmp_path / "blobs")
    write_routed(broadcast_shuffle, routed)
    write_blobs(repack_archives(broadcast_shuffle), blobs)
    oracle.check_embargo(embargo_inputs["expected_no_date"], routed, blobs)


def test_repack_of_a_split_scan_is_refused(spark, embargo_inputs, tmp_path):
    """A parquet re-read of the routed output, written in small row groups
    and read back in many small splits, cuts archives across partitions
    with no shuffle in the plan; the blob write refuses the partial
    blobs."""
    from etl_embargo_spark.sinks.routed_write import write_blobs
    from etl_embargo_spark.sources.tar_source import repack_archives

    routed = str(tmp_path / "routed")
    (
        _classified(spark, embargo_inputs).write.option("parquet.block.row.count.limit", 4)
        .partitionBy("visibility").parquet(routed)
    )
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        reread = spark.read.parquet(routed)
        split = reread.rdd.mapPartitions(
            lambda rows: [sorted({(r["archive"], r["visibility"]) for r in rows})]
        ).collect()
        groups = [g for part in split for g in part]
        assert len(groups) > len(set(groups)), "no group spans two partitions"
        with pytest.raises(Exception, match="packed twice with different bytes"):
            write_blobs(repack_archives(reread), str(tmp_path / "blobs"))
    finally:
        spark.conf.set(key, old)


def test_repack_groups_within_one_partition(spark):
    """In one partition, an archive may come back for its other
    visibility, but a (archive, visibility) group split in two runs would
    pack two partial blobs under one name, so the task fails."""
    import datetime

    from etl_embargo_spark.sources.tar_source import repack_archives

    def blobs(groups):
        t = datetime.datetime(2017, 3, 15)
        rows = [(a, vis, f"d/{a}{i}", b"x", 0o644, t) for i, (a, vis) in enumerate(groups)]
        df = spark.createDataFrame(
            rows, "archive string, visibility string, path string, content binary, "
            "mode long, mtime timestamp",
        ).coalesce(1)
        return sorted(r["out_name"] for r in repack_archives(df).collect())

    assert blobs([("a.tgz", "public"), ("b.tgz", "public"), ("a.tgz", "private")]) == [
        "a-e.tgz", "a-p.tgz", "b-p.tgz",
    ]
    with pytest.raises(Exception, match="not contiguous"):
        blobs([("a.tgz", "public"), ("b.tgz", "public"), ("a.tgz", "public")])


def test_classify_whitelist_duplicates_and_nulls(spark, embargo_inputs):
    """Duplicate and null whitelist IPs neither duplicate nor publish
    entries."""
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    entries = read_tar_entries(spark, embargo_inputs["archive_glob"])
    wl = spark.read.parquet(embargo_inputs["whitelist_path"]).select("ip")
    noisy = wl.unionByName(wl).unionByName(spark.createDataFrame([(None,)], "ip string"))
    classified = classify_entries(entries, noisy)
    assert classified.count() == embargo_inputs["records"]
    assert _oracle_rows(classified) == embargo_inputs["expected_no_date"]


def test_classify_age_term_bool_and_column(spark, embargo_inputs):
    """``classify_entries`` takes the age term as a bool or as a per-row
    Column; the positional two-argument call means "not old"."""
    from etl_embargo_spark.functions.filenames import parse_date_int
    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    entries = read_tar_entries(spark, embargo_inputs["archive_glob"])
    wl = spark.read.parquet(embargo_inputs["whitelist_path"])

    assert _oracle_rows(classify_entries(entries, wl)) == embargo_inputs["expected_no_date"]
    dated = entries.withColumn("archive_date_int", parse_date_int(F.col("archive")))
    old = F.col("archive_date_int") < F.lit(embargo_inputs["cutoff_int"])
    assert _oracle_rows(classify_entries(dated, wl, old)) == embargo_inputs["expected"]
    everything_old = classify_entries(entries, wl, True)
    assert everything_old.filter("visibility = 'private'").count() == 0


def test_generated_repack_roundtrip(spark, embargo_inputs, tmp_path):
    """Repacked -p/-e archives re-read to the oracle's members, and a
    second repack is byte-identical (sorted members, gzip mtime 0)."""
    from perfbench import oracle

    from etl_embargo_spark.plans.embargo_pipeline import classify_entries
    from etl_embargo_spark.sinks.routed_write import write_blobs, write_routed
    from etl_embargo_spark.sources.tar_source import read_tar_entries, repack_archives

    entries = read_tar_entries(spark, embargo_inputs["archive_glob"])
    wl = spark.read.parquet(embargo_inputs["whitelist_path"])
    classified = classify_entries(entries, wl)
    routed, blobs, again = (str(tmp_path / d) for d in ("routed", "blobs", "again"))
    write_routed(classified, routed)
    write_blobs(repack_archives(classified), blobs)
    oracle.check_embargo(embargo_inputs["expected_no_date"], routed, blobs)

    write_blobs(repack_archives(classified), again)
    names = sorted(os.listdir(blobs))
    assert names == sorted(os.listdir(again))
    for name in names:
        with open(os.path.join(blobs, name), "rb") as a, open(os.path.join(again, name), "rb") as b:
            assert a.read() == b.read(), name


def test_generated_embargo_day_end_to_end(spark, embargo_inputs, tmp_path):
    """E1 with the age term and the repack: routed parquet and re-read
    archives match the oracle; a per-visibility read prunes partitions."""
    from perfbench import oracle

    from etl_embargo_spark.plans.embargo_pipeline import embargo_day

    routed, repacked = str(tmp_path / "routed"), str(tmp_path / "repacked")
    embargo_day(
        spark,
        embargo_inputs["archive_glob"],
        spark.read.parquet(embargo_inputs["whitelist_path"]),
        routed,
        embargo_inputs["cutoff_int"],
        repack=True,
        repack_dir=repacked,
    )
    oracle.check_embargo(embargo_inputs["expected"], routed, repacked)
    pub = spark.read.parquet(routed).filter(F.col("visibility") == "public")
    assert "PartitionFilters" in pub._jdf.queryExecution().executedPlan().toString()


def test_embargo_day_releases_its_cache(spark, embargo_inputs, tmp_path, monkeypatch):
    """``embargo_day(repack=True)`` persists the classified day for its two
    writes and releases it on return, also when the blob write fails;
    ``repack=False`` never persists.  A file where the blob directory
    should be is refused before anything is persisted or written."""
    from etl_embargo_spark.plans import embargo_pipeline
    from etl_embargo_spark.plans.embargo_pipeline import embargo_day

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def cached(df):
        level = df.storageLevel  # read from the session's cache manager
        return level.useMemory or level.useDisk

    wl = spark.read.parquet(embargo_inputs["whitelist_path"])
    frames = []
    real_persist = type(wl).persist

    def spy_persist(self, *args, **kwargs):
        frames.append(self)
        return real_persist(self, *args, **kwargs)

    monkeypatch.setattr(type(wl), "persist", spy_persist)

    def run(name, **kw):
        return embargo_day(
            spark, embargo_inputs["archive_glob"], wl, str(tmp_path / name),
            embargo_inputs["cutoff_int"], **kw,
        )

    before = persisted()
    run("ok", repack=True, repack_dir=str(tmp_path / "ok_blobs"))
    assert len(frames) == 1 and not cached(frames[0])
    assert persisted() == before

    blocker = tmp_path / "blocker"
    blocker.write_text("a file where the blob directory should be")
    with pytest.raises(NotADirectoryError):
        run("blocked", repack=True, repack_dir=str(blocker))
    assert not (tmp_path / "blocked").exists() and len(frames) == 1

    def failing_write_blobs(df, out_dir):
        raise RuntimeError("blob store down")

    monkeypatch.setattr(embargo_pipeline, "write_blobs", failing_write_blobs)
    with pytest.raises(RuntimeError, match="blob store down"):
        run("failed", repack=True, repack_dir=str(tmp_path / "failed_blobs"))
    assert (tmp_path / "failed").exists()  # the routed write ran first
    assert len(frames) == 2 and not cached(frames[1])
    assert persisted() == before

    run("routed_only")
    assert len(frames) == 2
    assert persisted() == before


def test_embargo_day_repack_requires_repack_dir(spark, embargo_inputs, tmp_path):
    """With no ``repack_dir`` the blobs would land in the root of the
    routed parquet dataset and make it unreadable; refuse up front."""
    from etl_embargo_spark.plans.embargo_pipeline import embargo_day

    out = tmp_path / "routed"
    with pytest.raises(ValueError, match="repack_dir"):
        embargo_day(
            spark,
            embargo_inputs["archive_glob"],
            spark.read.parquet(embargo_inputs["whitelist_path"]),
            str(out),
            embargo_inputs["cutoff_int"],
            repack=True,
        )
    assert not out.exists()


# --- reruns: each embargo_day call replaces the day ---------------------

ONE_IP = "10.1.2.3"


def _rerun_day(day, embargo_inputs, write_day, root):
    """``(inputs, whitelist)``: the generated day with its whitelist, or a
    one-archive day of web100 entries that all carry one IP."""
    if day == "generated":
        return embargo_inputs, list(embargo_inputs["whitelist"])
    stamp = "20170301T000000Z"
    inputs = write_day(root, {
        f"{stamp}-mlab1-sea01-sidestream-0000.tgz":
            [f"{stamp}_{ONE_IP}_{i:05d}.web100" for i in range(3)],
    })
    return inputs, [ONE_IP]


def _embargo(spark, inputs, whitelist, routed, blobs):
    from perfbench import oracle

    from etl_embargo_spark.plans.embargo_pipeline import embargo_day

    embargo_day(
        spark, inputs["archive_glob"], spark.createDataFrame([(ip,) for ip in whitelist], "ip string"),
        routed, inputs["cutoff_int"], repack=True, repack_dir=blobs,
    )
    return oracle.expected_embargo({**inputs, "whitelist": whitelist})


@pytest.mark.parametrize("change", ["shrinks", "grows"])
@pytest.mark.parametrize("day", ["one_archive", "generated"])
def test_rerun_replaces_the_day(spark, embargo_inputs, write_day, tmp_path, day, change):
    """A rerun after the whitelist changed leaves exactly the new
    classification in both outputs: no visibility side, row or blob of
    the first run survives, whichever side the rerun no longer writes."""
    from perfbench import oracle

    inputs, full = _rerun_day(day, embargo_inputs, write_day, str(tmp_path / "day"))
    small = full[1::2]
    first, second = (full, small) if change == "shrinks" else (small, full)
    routed, blobs = str(tmp_path / "routed"), str(tmp_path / "blobs")
    want = _embargo(spark, inputs, first, routed, blobs)
    oracle.check_embargo(want, routed, blobs)
    rerun = _embargo(spark, inputs, second, routed, blobs)
    assert rerun != want
    oracle.check_embargo(rerun, routed, blobs)


@pytest.mark.parametrize("day", ["one_archive", "generated"])
def test_crash_between_sinks_leaves_no_stale_blob(
    spark, embargo_inputs, write_day, tmp_path, monkeypatch, day
):
    """A rerun under a shrunk whitelist that dies between the routed write
    and the blob write: no blob of the first run survives, and no routed
    public row is private under the new whitelist."""
    from perfbench import oracle

    from etl_embargo_spark.plans import embargo_pipeline

    inputs, full = _rerun_day(day, embargo_inputs, write_day, str(tmp_path / "day"))
    routed, blobs = str(tmp_path / "routed"), str(tmp_path / "blobs")
    _embargo(spark, inputs, full, routed, blobs)
    assert os.listdir(blobs)

    def crash(df, out_dir):
        raise RuntimeError("crash between the sinks")

    monkeypatch.setattr(embargo_pipeline, "write_blobs", crash)
    with pytest.raises(RuntimeError, match="crash between the sinks"):
        _embargo(spark, inputs, full[1::2], routed, blobs)
    assert not os.path.exists(blobs)
    # the routed write completed, with the new classification only
    want = oracle.expected_embargo({**inputs, "whitelist": full[1::2]})
    assert _oracle_rows(spark.read.parquet(routed)) == want


@pytest.mark.parametrize("where", ["same", "inside", "contains"])
def test_embargo_day_refuses_overlapping_dirs(spark, embargo_inputs, tmp_path, where):
    """Both sinks delete their directory, so a ``repack_dir`` that equals,
    lies inside or contains ``out_dir`` is refused before any job runs.
    A sibling that only shares a name prefix is accepted."""
    from etl_embargo_spark.plans.embargo_pipeline import _check_repack_dir, embargo_day

    out = tmp_path / "day" / "routed"
    blobs = {"same": out, "inside": out / "blobs", "contains": out.parent}[where]
    wl = spark.read.parquet(embargo_inputs["whitelist_path"])
    sc = spark.sparkContext
    sc.setJobGroup("overlapping-dirs", "embargo_day with overlapping sinks")
    try:
        with pytest.raises(ValueError, match="overlaps"):
            embargo_day(
                spark, embargo_inputs["archive_glob"], wl, str(out),
                embargo_inputs["cutoff_int"], repack=True, repack_dir=str(blobs),
            )
        assert list(sc.statusTracker().getJobIdsForGroup("overlapping-dirs")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not (tmp_path / "day").exists()
    _check_repack_dir(str(out), str(out) + "_blobs")
    _check_repack_dir(f"file://{out}", str(out.parent / "blobs"))


def test_file_uri_repack_dir_is_replaced_on_rerun(spark, embargo_inputs, tmp_path):
    """A ``file://`` repack_dir names the same local directory as its
    path: a rerun after the whitelist shrinks replaces the blobs there,
    and no relative ``file:`` directory appears under the cwd of the
    driver or of a Python worker."""
    from perfbench import oracle

    routed, blobs = str(tmp_path / "routed"), str(tmp_path / "blobs")
    full = list(embargo_inputs["whitelist"])
    first = _embargo(spark, embargo_inputs, full, routed, f"file://{blobs}")
    oracle.check_embargo(first, routed, blobs)
    rerun = _embargo(spark, embargo_inputs, full[1::2], routed, f"file://{blobs}")
    assert rerun != first
    oracle.check_embargo(rerun, routed, blobs)
    worker_cwd = spark.sparkContext.parallelize([0], 1).map(lambda _: os.getcwd()).first()
    for cwd in {os.getcwd(), worker_cwd}:
        assert not os.path.exists(os.path.join(cwd, "file:" + blobs))


def test_remote_repack_dir_is_refused(spark, embargo_inputs, tmp_path):
    """The blob sink writes with local file calls, so a repack_dir on
    another scheme is refused before any Spark job runs."""
    sc = spark.sparkContext
    sc.setJobGroup("remote-repack-dir", "embargo_day with a gs:// repack_dir")
    try:
        with pytest.raises(ValueError, match="not a local path"):
            _embargo(
                spark, embargo_inputs, list(embargo_inputs["whitelist"]),
                str(tmp_path / "routed"), "gs://bucket/blobs",
            )
        assert list(sc.statusTracker().getJobIdsForGroup("remote-repack-dir")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not (tmp_path / "routed").exists()


@pytest.mark.parametrize("scheme", ["plain", "file"])
def test_connectors_accept_uri_schemes(spark, embargo_inputs, tmp_path, scheme):
    """The connectors must not be hardwired to bare local paths: the tar
    source and the parquet sink/source take an explicit ``file://`` URI
    (a glob, for the tar source) as well as a plain path.  A real
    ``hdfs://``/``gs://`` endpoint isn't available in tests, so the
    explicit-scheme form is the provable half of the contract."""
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    def u(p):
        return f"file://{p}" if scheme == "file" else str(p)

    glob = os.path.join(embargo_inputs["archive_glob"], "*.tgz")
    entries = read_tar_entries(spark, u(glob)).select("path", "content")
    n = entries.count()
    assert n == embargo_inputs["records"]

    pq = tmp_path / "pq"
    entries.write.parquet(u(pq))
    assert spark.read.parquet(u(pq)).count() == n


def test_corrupt_archive_quarantine_and_raise(spark, embargo_inputs, tmp_path):
    """A truncated .tgz among good archives: on_corrupt='quarantine'
    yields the good archives' entries plus ONE error marker row per bad
    archive; the default raise mode fails the job loudly."""
    from etl_embargo_spark.sources.tar_source import read_tar_entries

    src_dir = embargo_inputs["archive_glob"]
    source = sorted(os.listdir(src_dir))[0]
    d = tmp_path / "mixed"
    d.mkdir()
    shutil.copy(os.path.join(src_dir, source), d / "good.tgz")
    # a truncated gzip stream: valid magic, impossible to decode fully
    with open(os.path.join(src_dir, source), "rb") as f:
        (d / "bad.tgz").write_bytes(f.read()[:100])

    rows = read_tar_entries(spark, str(d), on_corrupt="quarantine").collect()
    bad = [r for r in rows if r["error"] is not None]
    good = [r for r in rows if r["error"] is None]
    assert len(bad) == 1
    assert bad[0]["archive"] == "bad.tgz"
    assert bad[0]["path"] is None
    assert all(r["archive"] == "good.tgz" for r in good)
    # the good archive's entries exactly
    want = {e["path"] for e in embargo_inputs["entries"] if e["archive"] == source}
    assert want and {r["path"] for r in good} == want

    with pytest.raises(Exception):
        read_tar_entries(spark, str(d)).collect()
