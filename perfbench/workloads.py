"""The benchmark workloads and the jobs they are made of.

Each job generates its inputs from a seed, runs once (the unit a daily
cron would run) over a fresh output directory, checks its files against
``perfbench.oracle``, and has a traced form that calls every layer's
public function on its own.  The benchmark's workloads (:data:`WORKLOADS`)
are ``embargo_publish``, the day's embargo job followed by the publish and
bucket-sync job, and ``corpus_dedup``.

Traced form: each layer function is called on an input materialized
outside its span (``localCheckpoint``) and forced inside its span with a
``noop`` write, so a span's time is that layer's work alone.  Counts
(entries, pairs, rows out) come from the materialized outputs, outside
the spans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table
from etl_embargo_spark.functions.filenames import filename_local_ip, parse_date_int
from etl_embargo_spark.functions.ipv6 import normalize_ipv6
from etl_embargo_spark.operators.aggregates import observed_metrics
from etl_embargo_spark.operators.dedup import (
    dedup_clusters,
    jaccard_verify_on_shingles,
    minhash_candidates,
    minhash_pairs,
    q_dedup_clusters,
    q_dedup_levenshtein,
    shingle_sets,
    signatures_from_shingles,
)
from etl_embargo_spark.operators.setops import (
    compare_listings,
    overwrite_merge,
    sync_missing,
)
from etl_embargo_spark.plans.corpus_pipeline import prepare_corpus
from etl_embargo_spark.plans.embargo_pipeline import classify_entries, embargo_day
from etl_embargo_spark.sinks.routed_write import write_blobs, write_routed
from etl_embargo_spark.sources.tar_source import read_tar_entries, repack_archives

from perfbench import gen, oracle
from perfbench.trace import Tracer, dir_bytes, dir_files


def noop(df: DataFrame) -> None:
    """Force every row and column of ``df`` without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class Job:
    """Base of the single jobs: the traced job is the job inside one
    ``plans.<name>`` span."""

    name = ""

    def __init__(self, size: dict):
        self.size = size  # keyword sizes of the generator, from run.SIZES

    @property
    def plans(self) -> tuple[str, ...]:
        return (self.name,)

    def traced_job(self, spark: SparkSession, inputs: dict, out: str, tr: Tracer) -> None:
        with tr.span(f"plans.{self.name}"):
            self.job(spark, inputs, out)


class EmbargoDay(Job):
    """One day of sidestream archives through ``embargo_day(repack=True)``."""

    name = "embargo_day"

    def generate(self, root: str, seed: int) -> dict:
        inputs = gen.gen_embargo_day(root, seed, **self.size)
        inputs["expected"] = oracle.expected_embargo(inputs)
        return inputs

    def job(self, spark: SparkSession, inputs: dict, out: str) -> None:
        embargo_day(
            spark,
            inputs["archive_glob"],
            spark.read.parquet(inputs["whitelist_path"]),
            os.path.join(out, "routed"),
            inputs["cutoff_int"],
            repack=True,
            repack_dir=os.path.join(out, "repacked"),
        )

    def check(self, inputs: dict, out: str) -> None:
        oracle.check_embargo(
            inputs["expected"], os.path.join(out, "routed"), os.path.join(out, "repacked")
        )

    def layers(self, spark: SparkSession, inputs: dict, out: str, tr: Tracer) -> dict:
        wl = spark.read.parquet(inputs["whitelist_path"])
        with tr.span("sources.read_tar_entries") as sp:
            entries = read_tar_entries(spark, inputs["archive_glob"])
            noop(entries)
        entries = materialize(entries)
        counts = {
            "sources.read_tar_entries.entries": entries.count(),
            "sources.read_tar_entries.tasks": sp.tasks,
        }
        with tr.span("functions.filename_local_ip"):
            raw = entries.select(filename_local_ip(F.col("basename")).alias("raw_ip"))
            noop(raw)
        raw = materialize(raw.select(
            F.when(F.col("raw_ip") == "", F.lit(None)).otherwise(F.col("raw_ip")).alias("raw_ip")
        ))
        with tr.span("functions.normalize_ipv6"):
            ips = raw.select("raw_ip", normalize_ipv6(F.col("raw_ip")).alias("ip"))
            noop(ips)
        counts["functions.normalize_ipv6.null_rows"] = materialize(ips).filter(
            F.col("raw_ip").isNotNull() & F.col("ip").isNull()
        ).count()
        with tr.span("plans.classify_entries"):
            classified = classify_entries(entries, wl)
            noop(classified)
        by_vis = dict(
            materialize(classified).groupBy("visibility").count().collect()
        )
        want = oracle.expected_classify_counts(inputs)
        if by_vis != {k: v for k, v in want.items() if v}:
            raise oracle.CheckFailed(f"classify_entries counts {by_vis}, oracle {want}")
        counts["plans.classify_entries.public"] = by_vis.get("public", 0)
        counts["plans.classify_entries.private"] = by_vis.get("private", 0)

        # the day's classification (age term included) as the sinks' input
        day = materialize(embargo_day(
            spark, inputs["archive_glob"], wl, os.path.join(out, "discard"),
            inputs["cutoff_int"],
        ))
        routed = os.path.join(out, "routed")
        with tr.span("sinks.write_routed"):
            write_routed(day.select(
                "archive", "path", "basename", "local_ip", "size", "mode",
                "mtime", "content", "visibility",
            ), routed)
        with tr.span("sources.repack_archives"):
            packed = repack_archives(day)
            noop(packed)
        packed = materialize(packed)
        blobs = os.path.join(out, "repacked")
        with tr.span("sinks.write_blobs"):
            write_blobs(packed, blobs)
        self.check(inputs, out)
        counts.update({
            "sinks.write_routed.bytes": dir_bytes(routed),
            "sinks.write_routed.files": dir_files(routed),
            "sinks.write_blobs.bytes": dir_bytes(blobs),
        })
        return counts


class PublishSync(Job):
    """Publish aged-out private listing rows and diff the two buckets."""

    name = "publish_sync"

    def generate(self, root: str, seed: int) -> dict:
        inputs = gen.gen_publish_sync(root, seed, **self.size)
        inputs["expected"] = oracle.expected_publish(inputs)
        return inputs

    @staticmethod
    def _listings(spark: SparkSession, inputs: dict):
        pub = spark.read.parquet(inputs["public_path"])
        priv = spark.read.parquet(inputs["private_path"])
        old = F.coalesce(parse_date_int(F.col("key")) < F.lit(inputs["cutoff_int"]), F.lit(False))
        aged = priv.filter(old).withColumn("visibility", F.lit("public"))
        return pub, priv, aged, priv.filter(~old)

    def job(self, spark: SparkSession, inputs: dict, out: str) -> None:
        pub, priv, aged, embargoed = self._listings(spark, inputs)
        payload = ["size", "etag", "visibility"]
        merged = overwrite_merge(pub, aged, "key", payload)
        catalog = observed_metrics(merged.unionByName(embargoed.select("key", *payload)))
        cat_dir = os.path.join(out, "catalog")
        write_routed(catalog, cat_dir)
        published = spark.read.parquet(cat_dir).filter(F.col("visibility") == "public")
        sync_missing(priv.select("key", "size", "etag"), published.select("key"), "key") \
            .write.mode("overwrite").parquet(os.path.join(out, "sync"))
        write_routed(compare_listings(pub, priv, "key"), os.path.join(out, "diff"), ("side",))

    def check(self, inputs: dict, out: str) -> None:
        oracle.check_publish(inputs["expected"], out)

    def layers(self, spark: SparkSession, inputs: dict, out: str, tr: Tracer) -> dict:
        pub, priv, aged, embargoed = self._listings(spark, inputs)
        payload = ["size", "etag", "visibility"]
        pub, priv, aged = (materialize(df) for df in (pub, priv, aged))
        embargoed = materialize(embargoed.select("key", *payload))
        counts = {}
        with tr.span("operators.setops.overwrite_merge"):
            merged = overwrite_merge(pub, aged, "key", payload)
            noop(merged)
        merged = materialize(merged)
        counts["operators.setops.overwrite_merge.rows_out"] = merged.count()
        catalog = materialize(merged.unionByName(embargoed))
        with tr.span("operators.aggregates.observed_metrics"):
            noop(observed_metrics(catalog))
        cat_dir = os.path.join(out, "catalog")
        with tr.span("sinks.write_routed"):
            write_routed(catalog, cat_dir)
        published = materialize(
            spark.read.parquet(cat_dir).filter(F.col("visibility") == "public").select("key")
        )
        with tr.span("operators.setops.sync_missing"):
            sync = sync_missing(priv.select("key", "size", "etag"), published, "key")
            noop(sync)
        sync = materialize(sync)
        counts["operators.setops.sync_missing.rows_out"] = sync.count()
        sync.write.mode("overwrite").parquet(os.path.join(out, "sync"))
        with tr.span("operators.setops.compare_listings"):
            diff = compare_listings(pub, priv, "key")
            noop(diff)
        diff = materialize(diff)
        counts["operators.setops.compare_listings.rows_out"] = diff.count()
        write_routed(diff, os.path.join(out, "diff"), ("side",))
        self.check(inputs, out)
        counts.update({
            "sinks.write_routed.bytes": dir_bytes(cat_dir),
            "sinks.write_routed.files": dir_files(cat_dir),
        })
        return counts


class CorpusDedup(Job):
    """Corpus preparation, MinHash near-dup pairs and cluster dedup."""

    name = "corpus_dedup"

    def __init__(self, size: dict):
        super().__init__(size)
        self.kept_digest: str | None = None

    def generate(self, root: str, seed: int) -> dict:
        return gen.gen_corpus(root, seed, **self.size)

    def job(self, spark: SparkSession, inputs: dict, out: str) -> None:
        sf = inputs["sf_dir"]
        docs = load_table(spark, sf, "documents")
        prepare_corpus(docs).write.parquet(os.path.join(out, "prepared"))
        minhash_pairs(spark, sf).write.parquet(os.path.join(out, "minhash_pairs"))
        clusters = q_dedup_clusters(spark, sf)
        drop = clusters.filter(F.col("doc_id") != F.col("cluster")).select("doc_id")
        docs.join(F.broadcast(drop), "doc_id", "left_anti") \
            .write.parquet(os.path.join(out, "kept"))

    def check(self, inputs: dict, out: str) -> None:
        digest = oracle.check_corpus(inputs, out)
        if self.kept_digest is None:
            self.kept_digest = digest
        elif digest != self.kept_digest:
            raise oracle.CheckFailed("kept corpus differs from the first job's")

    def layers(self, spark: SparkSession, inputs: dict, out: str, tr: Tracer) -> dict:
        sf = inputs["sf_dir"]
        docs = materialize(load_table(spark, sf, "documents"))
        with tr.span("plans.prepare_corpus"):
            prepared = prepare_corpus(docs)
            noop(prepared)
        counts = {
            "plans.prepare_corpus.docs_in": docs.count(),
            "plans.prepare_corpus.docs_out": materialize(prepared).count(),
        }
        # the LSH stage on distinct-text representatives, as minhash_pairs runs it
        reps = docs.groupBy(F.md5("text").alias("h")).agg(
            F.min("doc_id").alias("doc_id"), F.first("text").alias("text")
        )
        sh = materialize(shingle_sets(reps))
        cands = materialize(minhash_candidates(signatures_from_shingles(sh)))
        n_cands = cands.count()
        verified = jaccard_verify_on_shingles(sh, cands, threshold=0.5).count()
        counts["operators.dedup.minhash_candidates.pairs"] = n_cands
        # verified representative pairs per LSH candidate pair
        counts["operators.dedup.candidate_yield"] = verified / n_cands if n_cands else 0.0
        with tr.span("operators.dedup.minhash_pairs"):
            mh = minhash_pairs(spark, sf)
            noop(mh)
        counts["operators.dedup.minhash_pairs.pairs"] = materialize(mh).count()
        with tr.span("operators.dedup.q_dedup_levenshtein"):
            lev = q_dedup_levenshtein(spark, sf)
            noop(lev)
        lev = materialize(lev)
        counts["operators.dedup.q_dedup_levenshtein.pairs"] = lev.count()
        groups = docs.groupBy(F.md5("text")).agg(
            F.min("doc_id").alias("a"), F.collect_set("doc_id").alias("m")
        )
        exact = groups.select("a", F.explode("m").alias("b")).filter(F.col("a") < F.col("b"))
        pairs = materialize(exact.unionByName(
            lev.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        ).distinct())
        with tr.span("operators.dedup.dedup_clusters") as sp:
            clusters = dedup_clusters(pairs, pointer_doubling=True)
            noop(clusters)
        clusters = materialize(clusters)
        counts["operators.dedup.dedup_clusters.jobs"] = sp.jobs
        counts["operators.dedup.dedup_clusters.clusters"] = (
            clusters.select("cluster").distinct().count()
        )
        return counts


class EmbargoPublish:
    """One day of the embargo cron: :class:`EmbargoDay`, then
    :class:`PublishSync` on its own inputs, each into its own
    subdirectory of the output.  ``size`` maps each job's name to its
    sizes.  Layer counts both jobs report (the routed sink's bytes and
    files) are summed."""

    name = "embargo_publish"

    def __init__(self, size: dict):
        self.parts = (EmbargoDay(size["embargo_day"]), PublishSync(size["publish_sync"]))
        self.plans = tuple(p.name for p in self.parts)

    def _each(self, inputs: dict, out: str):
        for part in self.parts:
            yield part, inputs[part.name], os.path.join(out, part.name)

    def generate(self, root: str, seed: int) -> dict:
        inputs = {p.name: p.generate(os.path.join(root, p.name), seed) for p in self.parts}
        for key in ("records", "input_bytes"):
            inputs[key] = sum(inputs[p.name][key] for p in self.parts)
        return inputs

    def job(self, spark: SparkSession, inputs: dict, out: str) -> None:
        for part, part_inputs, part_out in self._each(inputs, out):
            part.job(spark, part_inputs, part_out)

    def traced_job(self, spark: SparkSession, inputs: dict, out: str, tr: Tracer) -> None:
        with tr.span(f"plans.{self.name}"):
            for part, part_inputs, part_out in self._each(inputs, out):
                part.traced_job(spark, part_inputs, part_out, tr)

    def check(self, inputs: dict, out: str) -> None:
        for part, part_inputs, part_out in self._each(inputs, out):
            part.check(part_inputs, part_out)

    def layers(self, spark: SparkSession, inputs: dict, out: str, tr: Tracer) -> dict:
        counts: dict = {}
        for part, part_inputs, part_out in self._each(inputs, out):
            for key, value in part.layers(spark, part_inputs, part_out, tr).items():
                counts[key] = counts.get(key, 0) + value
        return counts


JOBS = {w.name: w for w in (EmbargoDay, PublishSync, CorpusDedup)}
WORKLOADS = {w.name: w for w in (EmbargoPublish, CorpusDedup)}
