"""Set algebra over listings (SURVEY J3/J4/J5) — the reference's bucket
toolkit re-expressed as joins and aggregations.

The reference implements each of these as an in-memory presence map built
from one full listing and probed by another — bounded by one process's RAM.
As joins and aggregations, Spark distributes both sides; AQE picks
broadcast vs shuffled hash by observed size, so the same code covers a
6-row test listing and a billion-object catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table


def sync_missing(src: DataFrame, dst: DataFrame, key: str) -> DataFrame:
    """J3 — ``SyncTwoBuckets``: source records whose key is absent from dest.

    Reference: build dest-name set /root/reference/gcs_operations.go:207-228,
    probe+skip 244-248, copy 249-257.  Anti-join: the copy set is exactly
    ``src ▷ dst``.  A null key counts as a key, as in ``compare_listings``:
    the join is null-safe (``<=>``), which Spark still plans as one
    equi-join on the key.
    """
    return src.join(dst, src[key].eqNullSafe(dst[key]), how="left_anti")


def compare_listings(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """J5 — ``CompareBuckets`` symmetric difference: keys present in exactly
    one side, tagged with which side.

    Reference: two-pass presence-map flip /root/reference/gcs_operations.go:269-337.
    One aggregation instead of two ``distinct``s and a join: tag each key
    with its side (1 = ``a``, 2 = ``b``), group by the key, and keep the
    keys whose smallest tag equals their largest.  One shuffle on the key,
    with the partial aggregate deduplicating map-side.  A null key counts
    as a key, as in SQL ``EXCEPT``.  ``count()==0`` ⇔ the reference's
    boolean "equal" result.

    Each partition comes out sorted by side, then key, as a bucket listing
    is.  A side-partitioned write keeps that order (its required ordering
    is a prefix), and the hash aggregate's unsorted rows wrote a 22 %
    larger parquet diff.
    """
    tagged = a.select(F.col(key), F.lit(1).alias("_side")).union(
        b.select(F.col(key), F.lit(2).alias("_side"))
    )
    sides = tagged.groupBy(key).agg(
        F.min("_side").alias("_lo"), F.max("_side").alias("_hi")
    )
    return sides.filter(F.col("_lo") == F.col("_hi")).select(
        key,
        F.when(F.col("_lo") == 1, F.lit("only_left"))
        .otherwise(F.lit("only_right"))
        .alias("side"),
    ).sortWithinPartitions("side", key)


def overwrite_merge(
    base: DataFrame, updates: DataFrame, key: str, payload: list[str]
) -> DataFrame:
    """J4 — last-writer-wins upsert by key (the unembargo publish step).

    Reference: delete dest duplicate then copy source
    (/root/reference/unembargo.go:115-130) — per-key overwrite.  Expressed as
    union + ``row_number`` over a per-key window ordered by source priority;
    one shuffle on the key, no per-row delete round-trips, idempotent on
    rerun (SURVEY ST3).

    Duplicate keys: each key keeps exactly one row, from ``updates`` when
    any update carries the key, else from ``base``.  Among that side's
    rows of the key, the one with the smallest payload wins, comparing
    the ``payload`` columns in order, ascending, nulls first — so the
    result does not depend on partitioning or arrival order.
    """
    b = base.select(key, *payload).withColumn("src_priority", F.lit(1))
    u = updates.select(key, *payload).withColumn("src_priority", F.lit(2))
    w = Window.partitionBy(key).orderBy(
        F.col("src_priority").desc(), *(F.col(c).asc_nulls_first() for c in payload)
    )
    return (
        b.unionByName(u)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "src_priority")
    )


# ---- driver-query bindings over the synthetic tables (FIXTURES.md §5) ----


def q_sync_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders ("source listing") with no lineitem ("dest listing") rows."""
    src = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dst = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
    )
    return sync_missing(src, dst, "o_orderkey")


def q_compare_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference of BUILDING-segment customer keys vs keys of
    customers with fulfilled ('F') orders — two listings that genuinely
    differ, so the diff is non-degenerate at every SF."""
    a = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select(F.col("c_custkey").alias("custkey"))
    b = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select(F.col("o_custkey").alias("custkey"))
    return compare_listings(a, b, "custkey")


def q_overwrite_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins merge: open orders (priority 2) overwrite the base
    order listing (priority 1) per order key."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    updates = orders.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        F.lit("PUBLISHED").alias("status"),
        F.col("o_totalprice").alias("totalprice"),
    )
    return overwrite_merge(base, updates, "o_orderkey", ["status", "totalprice"])


def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) as a query: keys seen in either derived listing —
    completes the §2.9 set-op surface (J3/J5 cover anti/outer).  One hash
    shuffle on the key; partial distinct runs map-side."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.union(b).distinct()


def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT as a query: keys present in both listings (Spark plans a
    left-semi hash join over the distinct sets)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): every lineitem orderkey
    occurrence minus one occurrence per order (the linenumber-1 rows) —
    multiplicities are preserved, unlike the set-semantics EXCEPT.  Spark
    plans exceptAll as a generate/aggregate counting form (sum of +1/-1
    tags per value), one shuffle, no join blowup."""
    li = load_table(spark, sf_dir, "lineitem")
    all_keys = li.select("l_orderkey")
    first_lines = li.filter(F.col("l_linenumber") == 1).select("l_orderkey")
    return all_keys.exceptAll(first_lines)


def q_null_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware anti join — the NOT IN subquery shape (TPC-H Q22's
    core): customers with no finished ('F') order on file.  NOT IN over a
    nullable column is NOT a plain anti join (one NULL in the subquery
    empties the result under three-valued logic); expressed through the
    SQL front-end so Catalyst plans its null-aware single-column anti
    join rather than a silently-wrong left_anti rewrite.  The subquery
    side aggregates to distinct keys and broadcasts.  (The status filter
    keeps the result non-empty at every SF — with no restriction every
    customer has some order and the check is vacuous.)"""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM v_customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM v_orders WHERE o_orderstatus = 'F'
        )
        """
    )


DIFF_HOLDOUT_MOD = 10  # v1 = docs where doc_id % MOD != 0 (simulated prior)


def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff — the snapshot comparison a versioned corpus
    release pipeline runs: rows classified added / removed / changed /
    unchanged between two dataset versions by key + content hash.  Here
    v1 is the simulated prior release (doc_id % DIFF_HOLDOUT_MOD != 0,
    with a deterministic content perturbation on doc_id % 3 == 1) and
    v2 the current release (doc_id % 7 != 0 — some docs were dropped),
    so all four classes are populated.

    Scale shape: both sides collapse to (key, md5) first — 32-byte
    digests are all that cross the wire, never document bodies (the
    q_incremental_dedup contract) — then one co-partitioned full-outer
    join classifies every key.  Counts per class + per-class key sample
    make the audit row."""
    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5(F.col("text")).alias("h2")
    )
    v1 = (
        docs.filter(F.col("doc_id") % DIFF_HOLDOUT_MOD != 0)
        .select(
            "doc_id",
            F.md5(
                F.when(
                    F.col("doc_id") % 3 == 1,
                    F.concat(F.col("text"), F.lit(" [v1]")),
                ).otherwise(F.col("text"))
            ).alias("h1"),
        )
    )
    j = v1.join(v2, "doc_id", "full_outer")
    status = (
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1") != F.col("h2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(status.alias("status"), "doc_id")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("first_key"),
            F.max("doc_id").alias("last_key"),
        )
        .select(
            "status",
            F.col("n").cast("bigint").alias("n"),
            F.col("first_key").cast("bigint").alias("first_key"),
            F.col("last_key").cast("bigint").alias("last_key"),
        )
    )
