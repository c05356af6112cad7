"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The Spark-backed tests run every job's plain and traced forms, its oracle
check and its traced layer calls at a tiny size on ``local[2]``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import pytest

from perfbench import gen, oracle, run

HERE = os.path.dirname(os.path.abspath(__file__))

TINY = {
    "embargo_day": {"n_archives": 4, "entries_per_archive": 12, "max_entry_bytes": 4096},
    "publish_sync": {"n_public": 3000, "n_private": 1500},
    "corpus_dedup": {"n_docs": 300},
}
GENERATORS = {
    "embargo_day": gen.gen_embargo_day,
    "publish_sync": gen.gen_publish_sync,
    "corpus_dedup": gen.gen_corpus,
}


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes(tmp_path, name):
    fn, size = GENERATORS[name], TINY[name]
    fn(str(tmp_path / "a"), 5, **size)
    fn(str(tmp_path / "b"), 5, **size)
    fn(str(tmp_path / "c"), 6, **size)
    assert tree_digest(str(tmp_path / "a")) == tree_digest(str(tmp_path / "b"))
    assert tree_digest(str(tmp_path / "a")) != tree_digest(str(tmp_path / "c"))


def test_embargo_inputs_cover_every_rule_branch(tmp_path):
    inputs = gen.gen_embargo_day(
        str(tmp_path), 3, n_archives=16, entries_per_archive=40, max_entry_bytes=4096
    )
    names = [e["basename"] for e in inputs["entries"]]
    ips = [oracle.local_ip(n) for n in names]
    assert any(":::" in ip for ip in ips)
    assert any(ip == "" for ip in ips)
    assert any(ip and oracle.normalize_ip(ip) is None for ip in ips)
    assert any("web100" not in n for n in names)
    days = {oracle.archive_date(e["archive"]) for e in inputs["entries"]}
    assert None in days and any(d and d < inputs["cutoff_int"] for d in days)
    exp = oracle.expected_embargo(inputs)
    assert exp["public"] and exp["private"]


def test_metric_names_are_valid():
    pattern = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layer = [m["name"] for m in bench["per_layer"]]
    for name in e2e + layer + [w["name"] for w in bench["workloads"]]:
        assert pattern.fullmatch(name), name
    assert e2e == list(run.END_TO_END)
    assert layer == list(run.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(run.SIZES)
    for m in bench["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in bench["per_layer"]:
        assert m["unit"] == run.PER_LAYER[m["name"]]


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_failing_job_is_counted_and_run_continues():
    clock = FakeClock()
    done = []

    def job(i):
        clock.t += 1.0
        if i == 1:
            raise RuntimeError("boom")
        done.append(i)

    def check(i):
        if i == 3:
            raise oracle.CheckFailed("wrong output")

    m = run.measure(job, check, seconds=5.5, min_jobs=3, clock=clock)
    assert m.attempted == 6 and m.failed == 2
    assert done == [0, 2, 3, 4, 5]
    assert m.ok_times == [1.0] * 4 and len(m.durations) == 6


# ---------------------------------------------------------------------------
# Spark-backed: the pipeline agrees with the oracles at a tiny size
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    with pytest.MonkeyPatch.context() as mp:
        for key in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
                    "TMPDIR", "PYSPARK_PYTHON", "PYTHONPATH", "PYSPARK_SUBMIT_ARGS"):
            mp.delenv(key, raising=False)  # restored when the module's tests end
        run.configure_env(work)
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        from etl_embargo_spark.session import get_spark

        session = get_spark("perfbench-test")
        session.sparkContext.setLogLevel("ERROR")
        yield session
        run.stop_spark(session)


@pytest.mark.parametrize("name", sorted(TINY))
def test_oracle_agrees_with_pipeline(spark, tmp_path, name):
    from perfbench.trace import Tracer
    from perfbench.workloads import JOBS

    wl = JOBS[name](TINY[name])
    inputs = wl.generate(str(tmp_path / "in"), 11)
    out = str(tmp_path / "out")
    wl.job(spark, inputs, out)
    wl.check(inputs, out)
    tracer = Tracer(spark.sparkContext)
    wl.traced_job(spark, inputs, str(tmp_path / "traced"), tracer)
    wl.check(inputs, str(tmp_path / "traced"))
    counts = wl.layers(spark, inputs, str(tmp_path / "layers"), tracer)
    assert tracer.spans[0].name == f"plans.{name}" and tracer.spans[0].jobs > 0
    assert all(sp.end >= sp.start for sp in tracer.spans)
    for key in counts:
        assert key in run.PER_LAYER, key
    if name == "embargo_day":
        repacked = os.path.join(out, "repacked")
        os.remove(os.path.join(repacked, sorted(os.listdir(repacked))[0]))
    elif name == "publish_sync":
        shutil.rmtree(os.path.join(out, "sync"))
        spark.range(1).selectExpr("'x' AS key").write.parquet(os.path.join(out, "sync"))
    else:
        shutil.rmtree(os.path.join(out, "kept"))
        spark.range(2).selectExpr("CAST(1 AS BIGINT) AS doc_id").write.parquet(os.path.join(out, "kept"))
    with pytest.raises(oracle.CheckFailed):
        wl.check(inputs, out)
    run.release_blocks(spark)


def test_embargo_publish_runs_both_jobs(spark, tmp_path):
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS["embargo_publish"]({k: TINY[k] for k in ("embargo_day", "publish_sync")})
    inputs = wl.generate(str(tmp_path / "in"), 12)
    assert inputs["records"] == (
        inputs["embargo_day"]["records"] + inputs["publish_sync"]["records"]
    )
    tracer = Tracer(spark.sparkContext)
    wl.traced_job(spark, inputs, str(tmp_path / "out"), tracer)
    wl.check(inputs, str(tmp_path / "out"))
    top, embargo, publish = tracer.spans
    assert top.name == "plans.embargo_publish"
    assert (embargo.name, embargo.parent) == ("plans.embargo_day", 0)
    assert (publish.name, publish.parent) == ("plans.publish_sync", 0)
    assert embargo.jobs > 0 and publish.jobs > 0
    sync = os.path.join(str(tmp_path / "out"), "publish_sync", "sync")
    shutil.rmtree(sync)
    spark.range(1).selectExpr("'x' AS key").write.parquet(sync)
    with pytest.raises(oracle.CheckFailed):
        wl.check(inputs, str(tmp_path / "out"))
    run.release_blocks(spark)


def test_corpus_kept_set_repeats_across_runs(spark, tmp_path):
    from perfbench.workloads import CorpusDedup

    digests = []
    for k in range(2):
        wl = CorpusDedup(TINY["corpus_dedup"])
        inputs = wl.generate(str(tmp_path / f"in{k}"), 4)
        wl.job(spark, inputs, str(tmp_path / f"out{k}"))
        wl.check(inputs, str(tmp_path / f"out{k}"))
        digests.append(wl.kept_digest)
    assert digests[0] == digests[1]
