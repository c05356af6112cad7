"""Aggregations (SURVEY A1-A3) and emptiness/count checks.

The reference's only aggregates are set-dedup (map insertion), counts, and
Prometheus labeled counters.  All map to ``distinct``/``count``/
``groupBy().count()`` — Spark's HashAggregate does the partial/final split
(map-side combine) automatically, so the grouped counts shuffle only one
partial row per (group × partition), not the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — dedup into a key set (/root/reference/embargo_check.go:41,52-56)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — cardinality (/root/reference/embargo_check.go:58)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.count(F.lit(1)).alias("n_rows"))


def q_empty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/K6 — emptiness test before bucket delete
    (/root/reference/gcs_operations.go:142): count under an impossible
    predicate; 0 ⇔ deletable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") < 0).agg(
        F.count(F.lit(1)).alias("n_rows")
    )


def q_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — labeled counters as a grouped count: the batch equivalent of the
    reference's ``CounterVec`` keyed (dataset, status)
    (/root/reference/metrics/metrics.go:19-77)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.col("l_returnflag").alias("dataset"),
            F.col("l_linestatus").alias("status"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def rows_checksum(*cols) -> F.Column:
    """Order-insensitive, partition-layout-independent checksum of a row
    set: SUM of per-row xxhash64 over the ':'-joined column values.

    Scale rationale: the obvious alternative (md5 over an
    ``array_sort(collect_list(...))``) materializes a whole group in one
    task — ruinous for large groups at 100 TB.  A sum of per-row hashes is
    commutative/associative, gets map-side partial aggregation, and the
    decimal accumulator makes it bit-exact regardless of merge order.
    Returned as a string so cross-engine comparison never routes the
    >64-bit total through a float.

    Used by the checksum-rollup form of rows-only queries whose detail
    output is deterministic but not SQL-expressible (LSH candidates, IPv6
    normalization, tar round-trips): the rollup is pinned as a literal
    DuckDB oracle, giving the driver a real hash-checked row while the
    detail form keeps its pytest oracle.

    Null caveat: concat_ws SKIPS null values, so ("a", null, "b") and
    ("a", "b", null) hash identically.  Acceptable here because every
    rollup also pins exact row counts and only q_ipv6_normalize feeds
    nullable columns (its null pattern is itself fixed by the row count
    per form); a checksum needing null-position sensitivity should
    coalesce each column to a type-distinct sentinel first."""
    joined = F.concat_ws(":", *[F.col(c) if isinstance(c, str) else c for c in cols])
    return F.sum(F.xxhash64(joined).cast("decimal(20,0)")).cast("string")


def observed_metrics(
    df: DataFrame, name: str | Observation = "etl_metrics"
) -> DataFrame:
    """Live-counter form of A3: ``df.observe`` attaches the counters to the
    job without a second scan — the Spark-native Prometheus analog.

    ``name`` is either a metric name (the values are read from the query
    execution's observed metrics, or a QueryExecutionListener on a
    cluster) or a ``pyspark.sql.Observation``, which holds the values
    once an action on the returned DataFrame has completed."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("files_total"),
        F.sum(F.when(F.col("visibility") == "public", 1).otherwise(0)).alias(
            "files_public"
        ),
        F.sum(F.when(F.col("visibility") == "private", 1).otherwise(0)).alias(
            "files_private"
        ),
    )


PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of lineitem's numeric measures: row count
    plus null count / distinct count / min / max per column — the
    data-quality sweep a pipeline runs before trusting a new drop.  All
    stats for all columns compute in a single aggregation (one scan, one
    reduce); the exact distincts share the scan via Catalyst's expand,
    with map-side partials bounding the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"distinct_{c}"),
            F.round(F.min(c), 2).alias(f"min_{c}"),
            F.round(F.max(c), 2).alias(f"max_{c}"),
        ]
    return li.agg(*aggs)


# Declarative expectation suite over lineitem: (name, violation predicate
# as a Spark Column factory).  The SQL twins live in the registry entry.
EXPECT_SHIP_LO = "1995-01-01"
EXPECT_SHIP_HI = "2002-12-31"


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the Deequ/Great-
    Expectations surface): completeness, domain, range, calendar-window
    and primary-key-uniqueness checks over lineitem, evaluated together
    and emitted as one row per check with its violation count and
    pass/fail verdict.

    Scale shape: every row-level check is a conditional aggregate in
    ONE fact scan/reduce (map-side combined); the uniqueness check
    shares the same aggregation via count vs count_distinct of the key
    (Catalyst expands the distinct into the same scan).  The wide
    1-row result unpivots to the check-sized relation with a stack
    projection — no second pass, no per-check jobs."""
    li = load_table(spark, sf_dir, "lineitem")
    ship_ok = F.col("l_shipdate").cast("date").between(
        EXPECT_SHIP_LO, EXPECT_SHIP_HI
    )
    checks: dict[str, F.Column] = {
        "orderkey_not_null": F.col("l_orderkey").isNull(),
        "quantity_in_1_50": ~F.col("l_quantity").between(1, 50),
        "discount_in_0_01": ~F.col("l_discount").between(0.0, 0.1),
        "extendedprice_positive": F.col("l_extendedprice") <= 0,
        "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R"),
        "shipdate_in_window": ~ship_ok,
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, viol in checks.items():
        aggs.append(F.sum(viol.cast("bigint")).alias(f"v_{name}"))
    aggs.append(
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("v_pk_unique")
    )
    wide = li.agg(*aggs)
    names = list(checks) + ["pk_unique"]
    stack = ", ".join(f"'{n}', v_{n}" for n in names)
    return wide.selectExpr(
        "n_rows",
        f"stack({len(names)}, {stack}) AS (check_name, n_violations)",
    ).select(
        "check_name",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_violations").cast("bigint").alias("n_violations"),
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    )


# ---------------------------------------------------------------------------
# Cross-table freshness audit
# ---------------------------------------------------------------------------


def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-freshness SLO audit: per fact table, the row count, the
    most recent event date (yyyymmdd int), and the distinct-day span —
    the staleness dashboard a daily-cadence pipeline (the reference's
    cron contract, /root/reference/deploy/cron.yaml:2-5) alarms on.

    Scale shape: three independent full-scan aggregates (map-side
    combined to one row each) unioned at the end — each scan reads ONLY
    its date column (column pruning does the work; see ReadSchema in
    PLANS.md).  All outputs are exact integers."""
    def _audit(df: DataFrame, name: str, day_int) -> DataFrame:
        return df.select(day_int.alias("d")).groupBy().agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.max("d").alias("last_day"),
            F.countDistinct("d").alias("n_days"),
        ).select("table_name", "n_rows", "last_day", "n_days")

    def _dint(c):
        return (
            F.year(c) * 10000 + F.month(c) * 100 + F.dayofmonth(c)
        ).cast("int")

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    return (
        _audit(orders, "orders", _dint(F.col("o_orderdate")))
        .unionAll(_audit(li, "lineitem", _dint(F.col("l_shipdate"))))
        .unionAll(_audit(ev, "events", _dint(F.col("ts"))))
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (ANALYZE-style optimizer statistics)
# ---------------------------------------------------------------------------

EQUIDEPTH_BUCKETS = 8


def q_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics: an 8-bucket equi-depth histogram
    of l_extendedprice (plus per-bucket ndv) — the selectivity input a
    cost-based optimizer keeps per column, and the complement of
    q_histogram's equi-WIDTH bins (equi-depth puts equal row mass, not
    equal value range, in each bucket — robust to skew).

    Scale shape: values collapse to the per-value count relation first
    (map-side combined); bucket assignment is exact integer arithmetic
    floor(cum_before·K / total) over ONE cumulative window on that
    collapsed relation; the per-bucket rollup is a second tiny shuffle.
    At 100 TB the same plan runs on a sampled or pre-binned value
    relation — the bucketing stays integer-exact either way.

    Engine determinism: bucket boundaries come from integer cumulative
    counts — no percentile interpolation, no floats anywhere except the
    pass-through price bounds."""
    li = load_table(spark, sf_dir, "lineitem")
    per_val = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    wprev = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    assigned = per_val.select(
        "v",
        "cnt",
        F.floor(
            F.coalesce(F.sum("cnt").over(wprev), F.lit(0))
            * EQUIDEPTH_BUCKETS
            / F.sum("cnt").over(wall)
        )
        .cast("int")
        .alias("bucket"),
    )
    return assigned.groupBy("bucket").agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("ndv"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Order-insensitive table checksum (migration fingerprint)
# ---------------------------------------------------------------------------


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint per table: Σ of each row's
    32-bit md5 prefix (exact decimal sum) over engine-stable column
    renderings — the cheap "does the copy equal the source" check a
    migration (the reference's sync/compare jobs, J3/J5) runs without
    sorting either side.  Equal checksums + equal counts ⇒ near-certain
    content equality; any single-row difference flips the sum.

    Scale shape: a pure projection (hash per row, no shuffle to
    compute) feeding one map-side-combined global sum per table —
    commutative, so partitioning and row order are irrelevant by
    construction.

    Engine determinism: only integer/string columns join the hashed
    rendering (float formatting differs across engines); the 32-bit
    prefix keeps every addend exactly representable and the decimal(38)
    sum is associative.  The final checksum is CAST to DOUBLE on both
    sides: DuckDB fetchdf renders DECIMAL(38,0) as float64 while Spark
    toPandas yields Decimal objects, so a decimal output hash-mismatches
    even when numerically equal (driver r5 failure); the sum stays
    below 2^53 through sf1 so the double rendering is exact."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")

    def _sum32(df: DataFrame, name: str, key: F.Column) -> DataFrame:
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast(
            "decimal(38,0)"
        )
        return df.groupBy().agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h).cast("double").alias("checksum"),
        ).select("table_name", "n_rows", "checksum")

    cust_key = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_name"),
        F.col("c_nationkey").cast("string"),
        F.col("c_mktsegment"),
    )
    orders_key = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    )
    return _sum32(cust, "customer", cust_key).unionAll(
        _sum32(orders, "orders", orders_key)
    )
