"""The repository benchmark: one workload, one seed, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload embargo_publish --seed 1 --seconds 15 --trace 0

Workloads (see ``perfbench/workloads.py``): ``embargo_publish`` (the
``embargo_day`` job, then the ``publish_sync`` job) and ``corpus_dedup``.
Each is a closed loop with one caller: the next job starts when the
previous one has finished and been checked.  Every job writes into a fresh output directory and is checked
against ``perfbench/oracle.py``; a job that raises or fails its check is
counted in ``failed`` and the run goes on.

A run sets up once (Spark session, seeded inputs, one untimed warm-up
job), then runs jobs for ``--seconds`` and at least ``MIN_JOBS`` times.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics from a traced run and writes its spans to
``.perfbench_out/``.  The last stdout line is the result::

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

Spark runs on ``local[<usable cpus>]`` with every scratch file under
``.perfbench_work/`` in the current directory, which is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Timed jobs per run, at least.  Set-up (JVM start plus a cold first job)
# is about half of a run's wall time.  Three jobs make ``job_s`` the middle
# one, so one job slowed by the shared host does not move it; the first
# timed jobs still run while the JVM warms up, which the median absorbs.
MIN_JOBS = 3
MAX_ATTEMPTS = 1000

END_TO_END = {
    "job_s": "s",
    "rows_per_s": "1/s",
    "write_bytes_per_input_byte": "B/B",
    "setup_s": "s",
}

# Per-layer metrics of the traced run (``--trace 1``).  A layer a workload
# never calls reports 0 there.
PER_LAYER = {
    # embargo_publish: its embargo_day job
    "sources.read_tar_entries.s": "s",
    "sources.read_tar_entries.entries": "count",
    "sources.read_tar_entries.tasks": "count",
    "functions.filename_local_ip.s": "s",
    "functions.normalize_ipv6.s": "s",
    "functions.normalize_ipv6.null_rows": "count",
    "plans.classify_entries.s": "s",
    "plans.classify_entries.public": "count",
    "plans.classify_entries.private": "count",
    "sources.repack_archives.s": "s",
    "sinks.write_blobs.s": "s",
    "sinks.write_blobs.bytes": "B",
    "plans.embargo_day.jobs": "count",
    "plans.embargo_day.stages": "count",
    "plans.embargo_day.tasks": "count",
    # embargo_publish: its publish_sync job
    "operators.setops.overwrite_merge.s": "s",
    "operators.setops.overwrite_merge.rows_out": "count",
    "operators.setops.sync_missing.s": "s",
    "operators.setops.sync_missing.rows_out": "count",
    "operators.setops.compare_listings.s": "s",
    "operators.setops.compare_listings.rows_out": "count",
    "operators.aggregates.observed_metrics.s": "s",
    "plans.publish_sync.jobs": "count",
    "plans.publish_sync.stages": "count",
    "plans.publish_sync.tasks": "count",
    # corpus_dedup
    "plans.prepare_corpus.s": "s",
    "plans.prepare_corpus.docs_in": "count",
    "plans.prepare_corpus.docs_out": "count",
    "operators.dedup.minhash_candidates.pairs": "count",
    "operators.dedup.minhash_pairs.s": "s",
    "operators.dedup.minhash_pairs.pairs": "count",
    "operators.dedup.candidate_yield": "ratio",
    "operators.dedup.q_dedup_levenshtein.s": "s",
    "operators.dedup.q_dedup_levenshtein.pairs": "count",
    "operators.dedup.dedup_clusters.s": "s",
    "operators.dedup.dedup_clusters.jobs": "count",
    "operators.dedup.dedup_clusters.clusters": "count",
    "plans.corpus_dedup.jobs": "count",
    "plans.corpus_dedup.stages": "count",
    "plans.corpus_dedup.tasks": "count",
    # embargo_publish: both jobs, summed
    "sinks.write_routed.s": "s",
    "sinks.write_routed.bytes": "B",
    "sinks.write_routed.files": "count",
    # every workload
    "session.get_spark.s": "s",
    "setup.generate_s": "s",
    "setup.warmup_s": "s",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
    "run.failed_ratio": "ratio",
    "run.peak_rss_mb": "MB",
}

# Input sizes per workload: a warm job takes 6-9 s on 4 cores.
SIZES = {
    "embargo_publish": {
        "embargo_day": {"n_archives": 24, "entries_per_archive": 32, "max_entry_bytes": 96 * 1024},
        "publish_sync": {"n_public": 200_000, "n_private": 100_000},
    },
    "corpus_dedup": {"n_docs": 5_000},
}


@dataclass
class Measured:
    """Outcome of a closed-loop measurement."""

    durations: list[float] = field(default_factory=list)  # every attempted job
    ok_times: list[float] = field(default_factory=list)  # jobs that passed
    attempted: int = 0
    failed: int = 0

    def add(self, other: "Measured") -> None:
        self.durations += other.durations
        self.ok_times += other.ok_times
        self.attempted += other.attempted
        self.failed += other.failed


def measure(job, check, seconds: float, min_jobs: int,
            clock=time.perf_counter, cleanup=lambda i: None) -> Measured:
    """Run ``job(i)`` then ``check(i)`` back to back until ``seconds`` have
    passed and at least ``min_jobs`` were attempted.  Only ``job`` is
    timed.  An exception from either counts the job as failed."""
    m = Measured()
    start = clock()
    while m.attempted < MAX_ATTEMPTS and (
        m.attempted < min_jobs or clock() - start < seconds
    ):
        i = m.attempted
        m.attempted += 1
        t0 = clock()
        try:
            try:
                job(i)
            finally:
                m.durations.append(clock() - t0)
            check(i)
        except Exception:  # a failed job is counted; the run goes on
            m.failed += 1
            traceback.print_exc(file=sys.stderr)
        else:
            m.ok_times.append(m.durations[-1])
        finally:
            cleanup(i)
    return m


def configure_env(work: str) -> int:
    """Point Spark and Python scratch space into ``work`` and size the
    local master to the CPUs this process may use.  Every other session
    setting (driver memory included) is the package's default."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"
        ),
    })
    for key in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(key, None)
    return cpus


def release_blocks(spark) -> None:
    """Drop cached and checkpointed blocks left by the previous job."""
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    spark.catalog.clearCache()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, then wait until every
    process started under this one (JVM, Python workers) has ended."""
    import subprocess

    from pyspark import SparkContext

    from perfbench.trace import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run: set-ups, then a measured or traced loop."""

    def __init__(self, workload, seed: int, seconds: float, work: str):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.inputs: dict = {}
        self.setup_times: dict[str, float] = {}
        self.result = Measured()
        self.job_times: list[float] = []

    def _out(self, tag) -> str:
        return os.path.join(self.work, f"out-{tag}")

    def _cleanup(self, tag) -> None:
        shutil.rmtree(self._out(tag), ignore_errors=True)
        release_blocks(self.spark)

    def setup(self) -> None:
        """Spark session, seeded inputs, one untimed warm-up job."""
        from etl_embargo_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.inputs = self.wl.generate(os.path.join(self.work, "inputs"), self.seed)
        t2 = time.perf_counter()
        self.result.add(measure(
            lambda _: self.wl.job(self.spark, self.inputs, self._out("warmup")),
            lambda _: self.wl.check(self.inputs, self._out("warmup")),
            seconds=0, min_jobs=1, cleanup=lambda _: self._cleanup("warmup"),
        ))
        t3 = time.perf_counter()
        self.setup_times = {
            "get_spark_s": t1 - t0, "generate_s": t2 - t1,
            "warmup_s": t3 - t2, "total_s": t3 - t0,
        }

    def untraced(self) -> dict:
        from perfbench.trace import dir_bytes

        write_ratio: list[float] = []

        def check(i):
            out = self._out(i)
            self.wl.check(self.inputs, out)
            write_ratio.append(dir_bytes(out) / self.inputs["input_bytes"])

        m = measure(
            lambda i: self.wl.job(self.spark, self.inputs, self._out(i)),
            check, self.seconds, MIN_JOBS, cleanup=self._cleanup,
        )
        self.result.add(m)
        self.job_times = m.durations
        busy = sum(m.durations)
        return {
            "job_s": median(m.ok_times),
            "rows_per_s": self.inputs["records"] * len(m.ok_times) / busy if busy else 0.0,
            "write_bytes_per_input_byte": median(write_ratio),
        }

    def traced(self) -> tuple[dict, "Tracer"]:
        """Per iteration: one untraced job, the same job inside spans with
        Spark counters, then every layer on its own.  A layer's time is
        the median over iterations of its self time summed per iteration."""
        from perfbench.trace import Span, Tracer

        tracer = Tracer(self.spark.sparkContext)
        untraced: list[float] = []
        counts: dict = {}
        job_span = f"plans.{self.wl.name}"

        def iteration(i):
            tracer.job = i
            t0 = time.perf_counter()
            self.wl.job(self.spark, self.inputs, self._out(f"{i}-plain"))
            untraced.append(time.perf_counter() - t0)
            self.wl.check(self.inputs, self._out(f"{i}-plain"))
            self.wl.traced_job(self.spark, self.inputs, self._out(f"{i}-traced"), tracer)
            self.wl.check(self.inputs, self._out(f"{i}-traced"))
            counts.update(self.wl.layers(self.spark, self.inputs, self._out(f"{i}-layers"), tracer))

        def cleanup(i):
            for tag in ("plain", "traced", "layers"):
                shutil.rmtree(self._out(f"{i}-{tag}"), ignore_errors=True)
            release_blocks(self.spark)

        m = measure(iteration, lambda i: None, self.seconds, min_jobs=1, cleanup=cleanup)
        self.result.add(m)
        per_iter: dict[str, dict[int, float]] = {}
        last: dict[str, Span] = {}
        for idx, sp in enumerate(tracer.spans):
            times = per_iter.setdefault(sp.name, {})
            times[sp.job] = times.get(sp.job, 0.0) + tracer.self_seconds(idx)
            last[sp.name] = sp
        layer = {f"{name}.s": median(list(t.values())) for name, t in per_iter.items()}
        for plan in self.wl.plans:
            sp = last.get(f"plans.{plan}")
            if sp is not None:
                layer.update({
                    f"plans.{plan}.jobs": sp.jobs,
                    f"plans.{plan}.stages": sp.stages,
                    f"plans.{plan}.tasks": sp.tasks,
                })
        traced_s = median([sp.seconds for sp in tracer.spans if sp.name == job_span])
        layer.update(counts)
        layer.update({
            "trace.job_s": traced_s,
            "trace.untraced_job_s": median(untraced),
            "trace.overhead_s": traced_s - median(untraced),
        })
        return layer, tracer


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = configure_env(work)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "loadavg_start": os.getloadavg(),
        "size": SIZES[args.workload],
    }
    try:
        from perfbench.trace import RssSampler
        from perfbench.workloads import WORKLOADS

        run = Run(WORKLOADS[args.workload](SIZES[args.workload]), args.seed, args.seconds, work)
        # peak RSS is a traced-run metric; the timed run pays for no sampler
        rss = RssSampler() if args.trace else contextlib.nullcontext()
        with rss:
            try:
                run.setup()
                if args.trace:
                    layer, tracer = run.traced()
                else:
                    e2e = run.untraced()
            finally:
                if run.spark is not None:
                    stop_spark(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    setup = run.setup_times
    context["setup"] = setup
    context["job_times"] = run.job_times
    context["loadavg_end"] = os.getloadavg()
    res = run.result
    if args.trace:
        layer.update({
            "session.get_spark.s": setup["get_spark_s"],
            "setup.generate_s": setup["generate_s"],
            "setup.warmup_s": setup["warmup_s"],
            "run.failed_ratio": res.failed / res.attempted,
            "run.peak_rss_mb": rss.peak / 2**20,
        })
        metrics = {
            name: {"value": layer.get(name, 0), "unit": unit}
            for name, unit in PER_LAYER.items()
        }
        tracer.dump(
            os.path.join(os.getcwd(), ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"),
            context,
        )
    else:
        e2e["setup_s"] = setup["total_s"]
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
