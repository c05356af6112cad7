"""The embargo classifier — the reference's core business rule (SURVEY P3/P4,
J1/J2, F5).

Reference rule, /root/reference/embargo.go:174::

    if moreThanOneYear || !strings.Contains(basename, "web100")
                       || embargoCheck.CheckInWhiteList(basename) {
        → public
    } else {
        → embargoed
    }

i.e. public ⇔ (archive date before the one-year cutoff) ∨ (not an
embargo-eligible record category) ∨ (source IP in the whitelist).  The
whitelist probe is a build-side hash set in the reference
(/root/reference/embargo_check.go:39-60 build, 105-110 probe) — exactly a
broadcast hash join, which is how it is expressed here: the dim side is
``broadcast()``-hinted, so at 100 TB the fact scan never shuffles.  The
flagship query reuses the pipeline's one implementation of the rule,
``plans.embargo_pipeline.classify_entries`` (a broadcast ExistenceJoin flag
+ ``when()`` projection, one stage end-to-end).

Mapping onto the driver's synthetic tables (FIXTURES.md §5): ``lineitem`` is
the per-record fact (the tar entries), ``l_shipdate`` the record date,
``l_returnflag = 'R'`` the embargo-eligible category (the ``web100`` suffix
analog), and the whitelist is the supplier-key subset with
``s_nationkey < WHITELIST_NATION_CUTOFF``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_embargo_spark.catalog import load_table
from etl_embargo_spark.functions.filenames import date_as_int
from etl_embargo_spark.plans.embargo_pipeline import classify_entries

# Deterministic stand-ins for "now - 1 year" (embargo.go:313) and the
# whitelist membership rule, fixed so the DuckDB oracle is reproducible.
DEFAULT_CUTOFF_INT = 19970101
WHITELIST_NATION_CUTOFF = 13
EMBARGO_CATEGORY = "R"  # l_returnflag analog of the "web100" suffix term


def whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 — the allowlist dim: distinct supplier keys from allowed nations.

    The reference builds this as ``map[string]struct{}`` from 3,473 IPs
    (/root/reference/embargo_check.go:19-21); at any scale a few thousand
    keys is broadcast territory.
    """
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sup.filter(F.col("s_nationkey") < WHITELIST_NATION_CUTOFF)
        .select(F.col("s_suppkey").alias("wl_key"))
        .distinct()
    )


def split_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query ``q_split_partition`` — the three-term rule of
    :func:`~etl_embargo_spark.plans.embargo_pipeline.classify_entries` over
    the fact table (SURVEY §7 phase 0).

    The adapter maps ``lineitem`` onto the entry shape the rule reads: the
    embargo-eligible category becomes a ``web100`` basename, the supplier
    key the entry's ``local_ip`` and the whitelist's ``ip``, and the age
    term is ``date_int < DEFAULT_CUTOFF_INT``.  A null ``l_returnflag``
    stays null through ``basename``, so the category term is null exactly
    as ``l_returnflag <> 'R'`` is.
    """
    date_int = date_as_int("l_shipdate")
    entries = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        date_int.alias("date_int"),
        F.when(F.col("l_returnflag") == F.lit(EMBARGO_CATEGORY), F.lit("web100"))
        .otherwise(F.col("l_returnflag"))
        .alias("basename"),
        F.col("l_suppkey").cast("string").alias("local_ip"),
    )
    wl = whitelist(spark, sf_dir).select(F.col("wl_key").cast("string").alias("ip"))
    return classify_entries(
        entries, wl, F.col("date_int") < F.lit(DEFAULT_CUTOFF_INT)
    ).select("l_orderkey", "l_linenumber", "date_int", "visibility")


def whitelist_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 ``q_whitelist_semi`` — fact rows whose key IS in the allowlist.

    Reference probe: ``CheckInWhiteList`` /root/reference/embargo_check.go:105-110.
    Broadcast left-semi join: map-side filter, zero shuffle of the fact.
    """
    fact = load_table(spark, sf_dir, "lineitem")
    wl = whitelist(spark, sf_dir)
    return fact.join(
        F.broadcast(wl), fact["l_suppkey"] == wl["wl_key"], "left_semi"
    ).select("l_orderkey", "l_linenumber", "l_suppkey")


def embargo_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 ``q_embargo_anti`` — fact rows whose key is NOT in the allowlist
    (the embargoed set, /root/reference/embargo.go:187-200 else-branch).
    Broadcast left-anti join."""
    fact = load_table(spark, sf_dir, "lineitem")
    wl = whitelist(spark, sf_dir)
    return fact.join(
        F.broadcast(wl), fact["l_suppkey"] == wl["wl_key"], "left_anti"
    ).select("l_orderkey", "l_linenumber", "l_suppkey")
