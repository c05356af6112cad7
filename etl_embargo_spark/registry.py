"""Query registry: every implemented operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable plus, where SQL-expressible, the
equivalent DuckDB oracle SQL.

Contract (driver): column names must match between the Spark result and the
oracle result — the driver sorts columns by name and value-hashes, so every
computed column is explicitly aliased on BOTH sides.  Queries whose semantics
are not ANSI-SQL-expressible (Pandas-UDF sources, LSH, streaming) register
``None`` as the oracle and get the weaker rows-only check; each of those has
a pytest oracle instead (tests/).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_embargo_spark.operators import (
    aggregates,
    clustering,
    graph,
    analytics,
    archive_queries,
    dedup,
    embargo,
    listings,
    multimodal,
    sampling,
    setops,
    sketches,
    similarity,
    skew,
    temporal,
    text,
)
from etl_embargo_spark.operators import geo, layout, recsys
from etl_embargo_spark.plans import corpus_pipeline
from etl_embargo_spark.streaming import daily

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (query_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    if name in _REGISTRY:
        raise ValueError(f"duplicate query name {name}")
    _REGISTRY[name] = (fn, oracle)


# Driver-window rotation — STANDING POLICY from round 9 on (VERDICT r8
# #2): the driver's per-round correctness artifact covers only the
# FIRST 50 entries of queries(), and after round 8 the rotation is
# complete (252/252 driver-checked).  Each round's window is GENERATED
# by `python tools/attest.py --window 50`: never-checked and drifted
# queries first (they MUST ride — tests/test_attestations.py), then
# everything else oldest-attestation-first so no query's driver row
# rots beyond ~5 rounds.  tests/test_attestations.py asserts this list
# equals the tool's output; regenerate it after any builder/oracle
# edit.  Round 13 start: no never-checked / no drift (the r12 window
# landed 50/50 green and the snapshot→refresh boundary was closed at
# round start), so the whole window is the oldest-attestation drain —
# the r7-era block (q_embed_quantize … q_zipf_fit) plus the first of
# the r8 block.  This round's own builder edits re-front as drift;
# regenerate before round end.
DRIVER_WINDOW_FIRST = [
    "q_corpus_dedup",
    "q_dbscan",
    "q_dedup_clusters",
    "q_dedup_levenshtein",
    "q_dedup_minhash",
    "q_dedup_simhash",
    "q_filename_parse",
    "q_hits",
    "q_incremental_dedup_near",
    "q_kcore",
    "q_label_propagation",
    "q_media_dedup",
    "q_media_features",
    "q_media_framesample",
    "q_minhash_pairs",
    "q_overwrite_merge",
    "q_pagerank",
    "q_simhash_pairs",
    "q_split_partition",
    "q_tar_roundtrip",
    "q_textrank",
    "q_embed_quantize",
    "q_embedding_pairs",
    "q_excess_shippers",
    "q_feature_hash",
    "q_hll_merge",
    "q_idle_customers",
    "q_important_parts",
    "q_incremental_dedup",
    "q_inverted_index",
    "q_jaccard_users",
    "q_kmeans",
    "q_large_orders",
    "q_local_volume",
    "q_logreg",
    "q_market_share",
    "q_markov_attribution",
    "q_media_storage",
    "q_min_cost_supplier",
    "q_mutual_info",
    "q_nation_trade",
    "q_ndcg",
    "q_order_count_dist",
    "q_pack_contexts",
    "q_part_supplier_count",
    "q_perplexity",
    "q_priority_count",
    "q_psi",
    "q_rank_surface",
    "q_rare_collapse",
]

# Changed after the current window was already full: drifted queries may
# ride here when the 50 slots are taken; the NEXT round's window swap
# MUST front this queue first, then empty it.  Empty since round 9 —
# the window generator fronts drift automatically.
DRIVER_QUEUE_NEXT: list[str] = []


def queries() -> dict[str, QueryFn]:
    front = {
        name: _REGISTRY[name][0]
        for name in DRIVER_WINDOW_FIRST
        if name in _REGISTRY
    }
    return {
        **front,
        **{
            name: fn
            for name, (fn, _) in _REGISTRY.items()
            if name not in front
        },
    }


def _sql_literal(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr round-trips doubles exactly — but ONLY through a parser
        # that reads the literal as a double.  DuckDB types a plain
        # decimal-point literal as DECIMAL first and casts after, which
        # double-rounds 17-digit values (found by the hypothesis
        # round-trip property: 36028797019.657524 came back 1 ulp off).
        # E-notation is typed DOUBLE directly, so force an exponent.
        # Non-finite floats have no SQL literal form ('infe0' would be
        # invalid SQL) — pins should never contain them, so fail loudly
        # at pin-generation time rather than at oracle-parse time.
        if not math.isfinite(v):
            raise ValueError(
                f"non-finite float {v!r} cannot be pinned as a SQL literal"
            )
        r = repr(v)
        if "e" not in r and "E" not in r:
            r += "e0"
        return f"CAST({r} AS DOUBLE)"
    from decimal import Decimal

    if isinstance(v, Decimal):
        # unquoted + explicit CAST: str() would render a VARCHAR literal
        # and fail the driver's type compare.  Width from the value's own
        # digits (exponent gives the scale for integral-exponent decimals).
        t = v.as_tuple()
        scale = max(-t.exponent, 0)
        # positive exponents widen the integer part: Decimal('1E+2') has one
        # digit but needs precision 3 — derive precision from the adjusted
        # exponent, not the digit count alone (ADVICE r3)
        digits = len(t.digits) + max(t.exponent, 0)
        precision = max(digits, scale + 1)
        return f"CAST({v} AS DECIMAL({min(precision, 38)},{scale}))"
    if isinstance(v, (bytes, bytearray)):
        # pins never carry raw bytes today; fail loudly rather than
        # silently quoting a str(bytes) repr
        raise TypeError("binary pin values are not supported — decode or "
                        "hash the column before pinning")
    s = str(v).replace("'", "''")
    return f"'{s}'"


DRIVER_SF_GUARD_COUNT = 60000  # lineitem rows at sf0.01, the driver gate SF


def pinned_oracle(name: str) -> str | None:
    """Literal DuckDB oracle for a deterministic rows-only query: its own
    output pinned as a VALUES relation (regenerated by
    tools/pin_oracles.py), guarded by the primary input table's row count
    so one SQL string is correct at every generated scale factor.  Returns
    None (→ rows-only check) when pins have not been generated yet.

    Pins are validated against the live queries at sf0.001 and sf0.01 on
    every pytest run (tests/test_oracle_parity.py), so a semantic change
    that forgets to re-run the generator fails CI, not the driver gate."""
    try:
        from etl_embargo_spark.pins import PINS
    except ImportError:
        return None
    p = PINS.get(name)
    if p is None:
        return None
    if DRIVER_SF_GUARD_COUNT not in p["by_count"]:
        # the driver's correctness gate runs at sf0.01: a pin set missing
        # that count would make the oracle return 0 rows there — refuse
        # and fall back to the rows-only check instead
        return None
    # double-quoted identifiers: pinned queries may emit column names that
    # are SQL reserved words (q_bpe_train's left/right merge sides)
    cols = ", ".join(f'"{c}"' for c in p["columns"])
    rows = [
        "(" + ", ".join([str(c)] + [_sql_literal(v) for v in r]) + ")"
        for c, rws in p["by_count"].items()
        for r in rws
    ]
    if not rows:
        return None
    values = ",\n        ".join(rows)
    return (
        f"SELECT {cols}\n"
        f"    FROM (VALUES {values}) AS t(_pc, {cols})\n"
        f"    WHERE _pc = (SELECT count(*) FROM {p['guard_table']})"
    )


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None
    }


# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect) mirroring the Spark-side constants.
# ---------------------------------------------------------------------------

_WL = (
    f"SELECT s_suppkey FROM supplier WHERE s_nationkey < "
    f"{embargo.WHITELIST_NATION_CUTOFF}"
)
_DATE_INT = "(year({c})*10000 + month({c})*100 + day({c}))"

# Archive-name construction shared by the listing queries (must mirror
# listings._archive_names exactly).
_ARCHIVE_NAMES = """
SELECT o_orderkey,
       'sidestream/' || substr(d8, 1, 4) || '/' || substr(d8, 5, 2) || '/'
           || substr(d8, 7, 2) AS prefix,
       d8 || 'T000000Z-mlab1-site' || CAST(o_custkey % 10 AS VARCHAR)
          || '-sidestream-'
          || lpad(CAST(o_orderkey % 10000 AS VARCHAR), 4, '0')
          || '.tgz' AS name
FROM (SELECT *, strftime(o_orderdate, '%Y%m%d') AS d8 FROM orders)
"""

# ---------------------------------------------------------------------------
# Flagship + embargo family
# ---------------------------------------------------------------------------

register(
    "q_split_partition",
    embargo.split_partition,
    f"""
    SELECT l_orderkey,
           l_linenumber,
           CAST({_DATE_INT.format(c='l_shipdate')} AS INT) AS date_int,
           CASE WHEN {_DATE_INT.format(c='l_shipdate')} < {embargo.DEFAULT_CUTOFF_INT}
                  OR l_returnflag <> '{embargo.EMBARGO_CATEGORY}'
                  OR l_suppkey IN ({_WL})
                THEN 'public' ELSE 'private' END AS visibility
    FROM lineitem
    """,
)

register(
    "q_whitelist_semi",
    embargo.whitelist_semi,
    f"""
    SELECT l_orderkey, l_linenumber, l_suppkey
    FROM lineitem
    WHERE l_suppkey IN ({_WL})
    """,
)

register(
    "q_embargo_anti",
    embargo.embargo_anti,
    f"""
    SELECT l_orderkey, l_linenumber, l_suppkey
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM supplier s
        WHERE s.s_nationkey < {embargo.WHITELIST_NATION_CUTOFF}
          AND s.s_suppkey = l.l_suppkey
    )
    """,
)

# SQL front-end twin of the flagship: the same classifier expressed through
# spark.sql over registered views — proves the full surface is reachable
# from SQL (identical Catalyst plan either way).
_SPARK_SQL_SPLIT = f"""
    SELECT l_orderkey,
           l_linenumber,
           CAST(year(l_shipdate)*10000 + month(l_shipdate)*100
                + day(l_shipdate) AS INT) AS date_int,
           CASE WHEN year(l_shipdate)*10000 + month(l_shipdate)*100
                     + day(l_shipdate) < {embargo.DEFAULT_CUTOFF_INT}
                  OR l_returnflag <> '{embargo.EMBARGO_CATEGORY}'
                  OR l_suppkey IN (SELECT s_suppkey FROM supplier
                                   WHERE s_nationkey < {embargo.WHITELIST_NATION_CUTOFF})
                THEN 'public' ELSE 'private' END AS visibility
    FROM lineitem
"""


def _q_sql_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship embargo classifier expressed through spark.sql views."""
    # register only the views the statement reads (register_views would
    # load and schema-check all ten tables per call)
    from etl_embargo_spark.catalog import load_table

    for t in ("lineitem", "supplier"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SPARK_SQL_SPLIT)


register(
    "q_sql_split",
    _q_sql_split,
    f"""
    SELECT l_orderkey,
           l_linenumber,
           CAST({_DATE_INT.format(c='l_shipdate')} AS INT) AS date_int,
           CASE WHEN {_DATE_INT.format(c='l_shipdate')} < {embargo.DEFAULT_CUTOFF_INT}
                  OR l_returnflag <> '{embargo.EMBARGO_CATEGORY}'
                  OR l_suppkey IN ({_WL})
                THEN 'public' ELSE 'private' END AS visibility
    FROM lineitem
    """,
)

# ---------------------------------------------------------------------------
# Set algebra (J3/J4/J5)
# ---------------------------------------------------------------------------

register(
    "q_sync_anti",
    setops.q_sync_anti,
    """
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
    )
    """,
)

register(
    "q_compare_full_outer",
    setops.q_compare_full_outer,
    """
    WITH a AS (SELECT DISTINCT c_custkey AS custkey FROM customer
               WHERE c_mktsegment = 'BUILDING'),
         b AS (SELECT DISTINCT o_custkey AS custkey FROM orders
               WHERE o_orderstatus = 'F')
    SELECT COALESCE(a.custkey, b.custkey) AS custkey,
           CASE WHEN b.custkey IS NULL THEN 'only_left'
                ELSE 'only_right' END AS side
    FROM a FULL OUTER JOIN b ON a.custkey = b.custkey
    WHERE a.custkey IS NULL OR b.custkey IS NULL
    """,
)

register(
    "q_overwrite_merge",
    setops.q_overwrite_merge,
    """
    WITH unioned AS (
        SELECT o_orderkey, o_orderstatus AS status,
               o_totalprice AS totalprice, 1 AS src_priority
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'PUBLISHED', o_totalprice, 2
        FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderkey, status, totalprice FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY src_priority DESC
        ) AS rn FROM unioned
    ) WHERE rn = 1
    """,
)

# ---------------------------------------------------------------------------
# Aggregations (A1-A3) + checks
# ---------------------------------------------------------------------------

register(
    "q_distinct",
    aggregates.q_distinct,
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)

register(
    "q_count",
    aggregates.q_count,
    "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
)

register(
    "q_empty_check",
    aggregates.q_empty_check,
    "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem WHERE l_quantity < 0",
)

register(
    "q_metrics_rollup",
    aggregates.q_metrics_rollup,
    """
    SELECT l_returnflag AS dataset, l_linestatus AS status,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)

# ---------------------------------------------------------------------------
# Listing scans / filters (S1/S2, P1/P3/P7)
# ---------------------------------------------------------------------------

register(
    "q_prefix_scan",
    listings.q_prefix_scan,
    f"""
    SELECT o_orderkey, prefix, name FROM ({_ARCHIVE_NAMES})
    WHERE prefix LIKE 'sidestream/1995/03%'
    """,
)

register(
    "q_suffix_filter",
    listings.q_suffix_filter,
    f"""
    SELECT o_orderkey, name FROM ({_ARCHIVE_NAMES})
    WHERE name LIKE '%tgz%' AND name LIKE '%sidestream%'
      AND name LIKE '%site7%'
    """,
)

register(
    "q_date_cutoff",
    listings.q_date_cutoff,
    f"""
    SELECT o_orderkey,
           CAST({_DATE_INT.format(c='o_orderdate')} AS INT) AS date_int
    FROM orders
    WHERE {_DATE_INT.format(c='o_orderdate')} < 19960101
    """,
)

register(
    "q_range_check",
    listings.q_range_check,
    f"""
    SELECT o_orderkey,
           CAST({_DATE_INT.format(c='o_orderdate')} AS INT) AS date_int
    FROM orders
    WHERE {_DATE_INT.format(c='o_orderdate')} > 19960000
      AND {_DATE_INT.format(c='o_orderdate')} <= 19990000
    """,
)

register(
    "q_limit",
    listings.q_limit,
    "SELECT o_orderkey, o_orderdate FROM orders ORDER BY o_orderkey LIMIT 100",
)

# ---------------------------------------------------------------------------
# Scalar-function surface (F1-F9)
# ---------------------------------------------------------------------------

register(
    "q_filename_parse",
    listings.q_filename_parse,
    """
    WITH named AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_orderkey % 3 = 0
                    THEN d8 || 'T00:00:00Z_ALL0.web100'
                    ELSE d8 || 'T00:00:00Z_' || ip || '_'
                         || CAST(l_linenumber AS VARCHAR) || '.web100'
               END AS name
        FROM (
            SELECT *,
                   strftime(l_shipdate, '%Y%m%d') AS d8,
                   CAST(l_suppkey % 256 AS VARCHAR) || '.'
                     || CAST(l_partkey % 256 AS VARCHAR) || '.'
                     || CAST(l_orderkey % 256 AS VARCHAR) || '.'
                     || CAST(l_linenumber % 256 AS VARCHAR) AS ip
            FROM lineitem
        )
    )
    SELECT l_orderkey, l_linenumber, name,
           substr(name, 1, 8) AS date8,
           regexp_extract(name, '(?s)^[^_]*_(.*)_[^_]*$', 1) AS local_ip
    FROM named
    """,
)

register(
    "q_basename",
    listings.q_basename,
    f"""
    SELECT o_orderkey,
           prefix || '/' || name AS path,
           regexp_extract(prefix || '/' || name, '([^/]+)$', 1) AS base
    FROM ({_ARCHIVE_NAMES})
    """,
)

register(
    "q_date_as_int",
    listings.q_date_as_int,
    f"""
    SELECT o_orderkey,
           CAST({_DATE_INT.format(c='o_orderdate')} AS INT) AS date_int,
           CAST(substr(strftime(o_orderdate, '%Y%m%d'), 1, 8) AS INT)
               AS parsed_int
    FROM orders
    """,
)

register(
    "q_rename_rewrite",
    listings.q_rename_rewrite,
    f"""
    SELECT o_orderkey, name,
           regexp_replace(name, '\\.tgz$', '-e.tgz') AS embargo_name
    FROM ({_ARCHIVE_NAMES})
    """,
)

register(
    "q_date_add_year",
    listings.q_date_add_year,
    f"""
    SELECT o_orderkey,
           CAST({_DATE_INT.format(c='o_orderdate')} AS INT) AS order_int,
           CAST({_DATE_INT.format(c='(o_orderdate - INTERVAL 1 YEAR)')} AS INT)
               AS cutoff_int
    FROM orders
    """,
)

register(
    "q_json_sites",
    listings.q_json_sites,
    """
    WITH sites AS (
        SELECT CASE WHEN s_suppkey % 3 = 0
                    THEN 'mlab' || CAST(s_suppkey % 4 AS VARCHAR)
                         || '.samknows.site' || CAST(s_nationkey AS VARCHAR)
                         || '.example.org'
                    ELSE 'mlab' || CAST(s_suppkey % 4 AS VARCHAR)
                         || '.site' || CAST(s_nationkey AS VARCHAR)
                         || '.example.org'
               END AS hostname,
               '10.' || CAST(s_suppkey % 256 AS VARCHAR) || '.'
                   || CAST(s_nationkey % 256 AS VARCHAR) || '.1' AS ipv4,
               CASE WHEN s_suppkey % 2 = 0 THEN ''
                    ELSE '2001:db8::' || CAST(s_suppkey AS VARCHAR)
               END AS ipv6
        FROM supplier
    )
    SELECT DISTINCT ip FROM (
        SELECT unnest([ipv4, ipv6]) AS ip
        FROM sites WHERE hostname NOT LIKE '%samknows%'
    ) WHERE ip <> ''
    """,
)

# ---------------------------------------------------------------------------
# Custom-operator smoke queries (rows-only: pytest holds the real oracles,
# tests/test_tar_pipeline.py & tests/test_functions.py)
# ---------------------------------------------------------------------------

register("q_ipv6_normalize", archive_queries.q_ipv6_normalize, pinned_oracle("q_ipv6_normalize"))
register("q_tar_roundtrip", archive_queries.q_tar_roundtrip, pinned_oracle("q_tar_roundtrip"))

# ---------------------------------------------------------------------------
# Generalized aggregation (beyond-reference, built-in Spark surface):
# TPC-H Q1-style pricing summary — the headline shuffle/agg benchmark query.
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: the headline shuffle-agg benchmark."""
    from pyspark.sql import functions as F

    from etl_embargo_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "q_pricing_summary",
    _q_pricing_summary,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)

# ---------------------------------------------------------------------------
# Analytic surface (window ranking, rollup, sketches — §2.9 gap coverage)
# ---------------------------------------------------------------------------

register(
    "q_topk_per_group",
    analytics.q_topk_per_group,
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
)

register(
    "q_rollup",
    analytics.q_rollup,
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)

register(
    "q_lag_lead",
    analytics.q_lag_lead,
    """
    SELECT o_custkey, o_orderkey,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS order_int,
           lag(CAST(strftime(o_orderdate, '%Y%m%d') AS INT)) OVER w
               AS prev_order_int,
           CAST(date_diff('day',
               lag(o_orderdate) OVER w, o_orderdate) AS INT)
               AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)

# Sketch estimates are engine-specific — rows-only; pytest bounds the error
# (tests/test_analytics.py).
register("q_approx_distinct", analytics.q_approx_distinct, pinned_oracle("q_approx_distinct"))
register("q_approx_quantiles", analytics.q_approx_quantiles, pinned_oracle("q_approx_quantiles"))

register(
    "q_join_revenue",
    analytics.q_join_revenue,
    """
    SELECT l_orderkey,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS orderdate_int,
           o_orderpriority,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)

register(
    "q_cube",
    analytics.q_cube,
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)

register(
    "q_union_distinct",
    setops.q_union_distinct,
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)

register(
    "q_intersect",
    setops.q_intersect,
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)

# ---------------------------------------------------------------------------
# Temporal joins (as-of, range — custom compositions, DuckDB oracles)
# ---------------------------------------------------------------------------

_PURCHASES = """
    SELECT user_id, ts, round(max(value), 2) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, ts
"""

register(
    "q_asof_join",
    temporal.q_asof_join,
    f"""
    WITH purchases AS ({_PURCHASES})
    SELECT e.event_id, e.user_id, e.ts,
           p.ts AS asof_ts, p.purchase_value AS asof_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events) e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)

register(
    "q_range_join",
    temporal.q_range_join,
    f"""
    WITH purchases AS ({_PURCHASES}),
    w AS (
        SELECT user_id, ts AS win_start, ts + INTERVAL 1 HOUR AS win_end
        FROM purchases
    )
    SELECT e.event_id, e.user_id, e.ts, w.win_start, w.win_end
    FROM events e JOIN w ON e.user_id = w.user_id
     AND e.ts >= w.win_start AND e.ts <= w.win_end
    """,
)

# ---------------------------------------------------------------------------
# Dedup suite (north-star extension)
# ---------------------------------------------------------------------------

register(
    "q_dedup_exact",
    dedup.q_dedup_exact,
    """
    SELECT md5(text) AS text_hash,
           min(doc_id) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY md5(text)
    """,
)

register("q_dedup_minhash", dedup.q_dedup_minhash, pinned_oracle("q_dedup_minhash"))
register("q_dedup_simhash", dedup.q_dedup_simhash, pinned_oracle("q_dedup_simhash"))
register("q_dedup_embedding", dedup.q_dedup_embedding, pinned_oracle("q_dedup_embedding"))
register("q_dedup_clusters", dedup.q_dedup_clusters, pinned_oracle("q_dedup_clusters"))

register(
    "q_dedup_ngram_jaccard",
    dedup.q_dedup_ngram_jaccard,
    """
    WITH sh AS (
        SELECT doc_id, lang, source,
               list_distinct(
                   CASE WHEN len(toks) >= 3
                        THEN list_transform(
                            range(0, len(toks) - 2),
                            i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
                        ELSE [list_aggregate(toks, 'string_agg', ' ')]
                   END
               ) AS sh
        FROM (
            SELECT doc_id, lang, source,
                   string_split_regex(trim(lower(text)), '\\s+') AS toks
            FROM documents
        )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(
               len(list_intersect(a.sh, b.sh))::DOUBLE
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
               6
           ) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.2
    """,
)

# ---------------------------------------------------------------------------
# Similarity search (north-star extension)
# ---------------------------------------------------------------------------

register(
    "q_topk_similarity",
    similarity.q_topk_similarity,
    """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    flat AS (
        SELECT e.vec_id,
               unnest(e.embedding)::DOUBLE AS a,
               unnest(q.qe)::DOUBLE AS b
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id,
           round(sum(a * b) / (sqrt(sum(a * a)) * sqrt(sum(b * b))), 6)
               AS cosine
    FROM flat
    GROUP BY vec_id
    ORDER BY cosine DESC, vec_id
    LIMIT 10
    """,
)

register("q_ann_ivf", similarity.q_ann_ivf, pinned_oracle("q_ann_ivf"))
register("q_knn_join", similarity.q_knn_join, pinned_oracle("q_knn_join"))

# ---------------------------------------------------------------------------
# Text analysis (north-star extension)
# ---------------------------------------------------------------------------

register(
    "q_text_tokens",
    text.q_text_tokens,
    r"""
    SELECT doc_id,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS n_units
    FROM documents WHERE n_chars > 0
    """,
)

register(
    "q_text_quality",
    text.q_text_quality,
    r"""
    WITH t AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id,
           length(text) AS n_chars_m,
           len(toks) AS n_tokens,
           round(length(text)::DOUBLE / len(toks), 6) AS mean_token_len,
           round((length(text) - length(
               regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')
           ))::DOUBLE / length(text), 6) AS punct_ratio,
           round(len(list_filter(toks, x -> list_contains(
               ['the','and','of','to','a','in','is','that'], x
           )))::DOUBLE / len(toks), 6) AS stopword_ratio
    FROM t
    """,
)

register(
    "q_lang_id",
    text.q_lang_id,
    r"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents WHERE n_chars > 0
    ),
    s AS (
        SELECT doc_id,
               len(list_filter(toks, x -> list_contains(
                   ['the','and','of','to','a','in','is','that'], x))) AS score_en,
               len(list_filter(toks, x -> list_contains(
                   ['der','die','und','das','ist','ein','nicht','mit'], x))) AS score_de,
               len(list_filter(toks, x -> list_contains(
                   ['el','la','de','que','y','en','un','es'], x))) AS score_es,
               len(list_filter(toks, x -> list_contains(
                   ['le','la','et','les','des','un','est','que'], x))) AS score_fr
        FROM t
    )
    SELECT doc_id, score_en, score_de, score_es, score_fr,
           CASE WHEN greatest(score_en, score_de, score_es, score_fr) = 0
                THEN 'und'
                WHEN score_en = greatest(score_en, score_de, score_es, score_fr)
                THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_es, score_fr)
                THEN 'de'
                WHEN score_es = greatest(score_en, score_de, score_es, score_fr)
                THEN 'es'
                ELSE 'fr'
           END AS pred_lang
    FROM s
    """,
)

register("q_doc_fingerprint", text.q_doc_fingerprint, pinned_oracle("q_doc_fingerprint"))

# End-to-end corpus-prep composition (quality gate → lang gate → exact
# dedup) — the plans/ showcase, fully SQL-expressible.
_CORPUS_PREP_SQL = r"""
    WITH featured AS (
        SELECT doc_id, lang, source, text,
               len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens,
               (length(text) - length(
                   regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')
               ))::DOUBLE / length(text) AS punct_ratio,
               len(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   x -> list_contains(
                       ['the','and','of','to','a','in','is','that'], x)
               )) AS stopword_hits
        FROM documents WHERE n_chars > 0
    ),
    gated AS (
        SELECT * FROM featured
        WHERE n_tokens >= 10 AND punct_ratio <= 0.10 AND stopword_hits >= 2
    )
    SELECT min(doc_id) AS doc_id,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source,
           arg_min(n_tokens, doc_id) AS n_tokens
    FROM gated GROUP BY md5(text)
"""

register("q_corpus_prep", corpus_pipeline.q_corpus_prep, _CORPUS_PREP_SQL)

register("q_corpus_dedup", corpus_pipeline.q_corpus_dedup, pinned_oracle("q_corpus_dedup"))

register(
    "q_corpus_split",
    corpus_pipeline.q_corpus_split,
    f"""
    WITH corpus AS ({_CORPUS_PREP_SQL}),
    b AS (
        SELECT *,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   % 100 AS bucket
        FROM corpus
    )
    SELECT CASE WHEN bucket < {sampling.TRAIN_UPTO} THEN 'train'
                WHEN bucket < {sampling.VAL_UPTO} THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY 1
    """,
)

register(
    "q_user_features",
    analytics.q_user_features,
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
           round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2)
               AS purchase_total,
           min(ts) AS first_seen,
           max(ts) AS last_seen
    FROM events GROUP BY user_id
    """,
)

# ---------------------------------------------------------------------------
# Analytic surface, continued: distribution ranks, frames, pivot, histogram,
# exact percentiles, anomaly scan, JSON extraction
# ---------------------------------------------------------------------------

register(
    "q_ntile",
    analytics.q_ntile,
    """
    SELECT o_custkey, o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)

register(
    "q_moving_avg",
    analytics.q_moving_avg,
    """
    SELECT o_custkey, o_orderkey,
           round(o_totalprice, 2) AS totalprice,
           round(avg(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ), 4) AS moving_avg3
    FROM orders
    """,
)

register(
    "q_pivot",
    analytics.q_pivot,
    """
    SELECT o_orderpriority,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
           CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS n_o,
           CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)

register(
    "q_histogram",
    analytics.q_histogram,
    f"""
    SELECT CAST(least(floor((l_extendedprice - {analytics.HIST_LO})
                            / {analytics.HIST_WIDTH}),
                      {analytics.HIST_BINS - 1}) AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(l_extendedprice), 2) AS bucket_min,
           round(max(l_extendedprice), 2) AS bucket_max
    FROM lineitem GROUP BY 1
    """,
)

register(
    "q_percentiles",
    analytics.q_percentiles,
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)

register(
    "q_zscore_outliers",
    analytics.q_zscore_outliers,
    f"""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY 1
    )
    SELECT event_id, e.event_type,
           round(value, 2) AS value_r,
           round((value - mu) / sigma, 4) AS zscore
    FROM events e JOIN stats USING (event_type)
    WHERE abs(round((value - mu) / sigma, 4)) >= {analytics.ZSCORE_CUT}
    """,
)

register(
    "q_json_extract",
    analytics.q_json_extract,
    """
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
    """,
)

register(
    "q_salted_join",
    skew.q_salted_join,
    """
    SELECT l_orderkey, l_linenumber, l_suppkey, s_nationkey
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    """,
)

register(
    "q_grouping_sets",
    analytics.q_grouping_sets,
    """
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
)

register(
    "q_funnel",
    temporal.q_funnel,
    """
    WITH views AS (
        SELECT user_id, ts AS view_ts, ts + INTERVAL 1 HOUR AS view_end
        FROM events WHERE event_type = 'view'
    ),
    purchases AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_conversions,
           min(p.ts) AS first_conversion_ts
    FROM purchases p JOIN views v
      ON p.user_id = v.user_id
     AND p.ts >= v.view_ts AND p.ts <= v.view_end
    GROUP BY p.user_id
    """,
)

register(
    "q_text_normalize",
    text.q_text_normalize,
    r"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(text), '[.,!?;:''"()\[\]{}-]', '', 'g'),
               '\s+', ' ', 'g')) AS norm_text,
           length(trim(regexp_replace(
               regexp_replace(lower(text), '[.,!?;:''"()\[\]{}-]', '', 'g'),
               '\s+', ' ', 'g'))) AS n_chars_norm,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[.,!?;:''"()\[\]{}-]', '', 'g'),
               '\s+', ' ', 'g'))) AS norm_hash
    FROM documents WHERE n_chars > 0
    """,
)

# ---------------------------------------------------------------------------
# Deterministic sampling / splitting (north-star extension)
# ---------------------------------------------------------------------------

_HASH_BUCKET = """CAST(('0x' || substr(md5(
    CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
), 1, 8))::UBIGINT % 100 AS INT)"""

register(
    "q_hash_sample",
    sampling.q_hash_sample,
    f"""
    SELECT l_orderkey, l_linenumber,
           {_HASH_BUCKET} AS sample_bucket
    FROM lineitem
    WHERE {_HASH_BUCKET} < {sampling.SAMPLE_BUCKETS}
    """,
)

register(
    "q_train_test_split",
    sampling.q_train_test_split,
    f"""
    WITH b AS (SELECT {_HASH_BUCKET} AS bucket FROM lineitem)
    SELECT CASE WHEN bucket < {sampling.TRAIN_UPTO} THEN 'train'
                WHEN bucket < {sampling.VAL_UPTO} THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM b GROUP BY 1
    """,
)

register(
    "q_stratified_sample",
    sampling.q_stratified_sample,
    """
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5('strat-' || CAST(doc_id AS VARCHAR)),
                1, 8))::UBIGINT % 100 AS INT)
          < CASE WHEN lang = 'en' THEN 50 ELSE 25 END
    """,
)

# ---------------------------------------------------------------------------
# Text analysis, continued: vocabulary + TF-IDF
# ---------------------------------------------------------------------------

register(
    "q_vocab",
    text.q_vocab,
    r"""
    SELECT token, CAST(count(*) AS BIGINT) AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          FROM documents WHERE n_chars > 0)
    GROUP BY token
    ORDER BY df DESC, tf DESC, token
    LIMIT 100
    """,
)

register(
    "q_tfidf",
    text.q_tfidf,
    r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents WHERE n_chars > 0
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents WHERE n_chars > 0),
    scored AS (
        SELECT tf.doc_id, tf.token,
               CAST(tf.tf AS BIGINT) AS tf, CAST(dfreq.df AS BIGINT) AS df,
               round(tf.tf * (ln((n.n + 1)::DOUBLE / (dfreq.df + 1)) + 1.0), 6)
                   AS tfidf
        FROM tf JOIN dfreq USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, tfidf, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token
        ) AS rank FROM scored
    ) WHERE rank <= 3
    """,
)

# ---------------------------------------------------------------------------
# Dedup, continued: edit-distance near-dup (blocked)
# ---------------------------------------------------------------------------

# the length predicate is implied by the metric (lev ≤ k ⇒ |Δlen| ≤ k);
# spelling it in the join condition just keeps the oracle's pair count low
register(
    "q_dedup_levenshtein",
    dedup.q_dedup_levenshtein,
    f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS lev
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.source = b.source
     AND abs(length(a.text) - length(b.text)) <= {dedup.LEV_MAX}
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= {dedup.LEV_MAX}
    """,
)

# ---------------------------------------------------------------------------
# Multimodal plumbing (rows-only; stubbed decoder)
# ---------------------------------------------------------------------------

register("q_media_features", multimodal.q_media_features, pinned_oracle("q_media_features"))
register("q_media_framesample", multimodal.q_media_framesample, pinned_oracle("q_media_framesample"))

# ---------------------------------------------------------------------------
# Event-time windowing (streaming surface, batch-checkable)
# ---------------------------------------------------------------------------


def _q_events_window(spark, sf_dir):
    """Tumbling 1-hour event-time window counts over the events table."""
    from etl_embargo_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    return daily.windowed_event_counts(events, window="1 hour")


register(
    "q_events_window",
    _q_events_window,
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)


def _q_sessionize(spark, sf_dir):
    """Gap-based (30 min) session windows per user over the events table."""
    from etl_embargo_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    return daily.sessionize(events, gap="30 minutes")


register(
    "q_sessionize",
    _q_sessionize,
    """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT *,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS sess_id
        FROM o
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)

# ---------------------------------------------------------------------------
# Analytic surface, round-1 extension batch 2: full window-function frames,
# bivariate stats, incremental re-aggregation, exact heavy hitters
# ---------------------------------------------------------------------------

register(
    "q_first_last",
    analytics.q_first_last,
    """
    SELECT o_custkey, o_orderkey,
           round(first_value(o_totalprice) OVER w, 2) AS first_price,
           round(last_value(o_totalprice) OVER w, 2) AS last_price,
           round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)

register(
    "q_range_frame",
    analytics.q_range_frame,
    f"""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate)
                AS INT) AS day_num,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                                  o_orderdate)
               RANGE BETWEEN {analytics.RANGE_FRAME_DAYS} PRECEDING
                         AND CURRENT ROW
           ), 2) AS trailing30
    FROM orders
    """,
)

register(
    "q_corr_stats",
    analytics.q_corr_stats,
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2)
               AS covar_qty_price,
           round(stddev_samp(l_quantity), 4) AS stddev_qty,
           round(stddev_samp(l_extendedprice), 4) AS stddev_price
    FROM lineitem GROUP BY l_returnflag
    """,
)

register(
    "q_incremental_agg",
    analytics.q_incremental_agg,
    """
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS day, l_returnflag,
               sum(l_quantity) AS pq, count(*) AS pn,
               sum(l_extendedprice) AS pp
        FROM lineitem GROUP BY 1, 2
    )
    SELECT CAST(year(day)*100 + month(day) AS INT) AS month_int,
           l_returnflag,
           round(sum(pq), 2) AS sum_qty,
           CAST(sum(pn) AS BIGINT) AS n_rows,
           round(sum(pp), 2) AS sum_price,
           round(sum(pq) / sum(pn), 6) AS avg_qty
    FROM daily GROUP BY 1, 2
    """,
)

register(
    "q_heavy_hitters",
    analytics.q_heavy_hitters,
    f"""
    WITH c AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY 1
    ),
    m AS (SELECT sum(n) AS tot, count(*) AS k FROM c)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           round(n / (tot::DOUBLE / k), 4) AS lift
    FROM c, m
    WHERE n >= {analytics.HH_LIFT} * (tot::DOUBLE / k)
    """,
)

# ---------------------------------------------------------------------------
# Temporal, continued: SCD-2 change-log history
# ---------------------------------------------------------------------------

register(
    "q_scd2",
    temporal.q_scd2,
    """
    SELECT user_id, event_id,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS INT) AS version,
           (lead(ts) OVER w IS NULL) AS is_current,
           round(value, 2) AS purchase_value
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)

# ---------------------------------------------------------------------------
# Text analysis, continued: token entropy + n-gram counts
# ---------------------------------------------------------------------------

register(
    "q_token_entropy",
    text.q_token_entropy,
    r"""
    WITH tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                         AS token
              FROM documents WHERE n_chars > 0)
        GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_unique,
           round(log2(sum(tf)) - sum(tf * log2(tf)) / sum(tf), 4)
               AS entropy_bits
    FROM tf GROUP BY doc_id
    """,
)

register(
    "q_ngram_counts",
    text.q_ngram_counts,
    rf"""
    WITH toks AS (
        SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE n_chars > 0
    )
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM (
        SELECT unnest(list_transform(
            range(0, len(t) - 1), i -> t[i+1] || ' ' || t[i+2]
        )) AS bigram
        FROM toks WHERE len(t) >= 2
    )
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {text.NGRAM_TOP}
    """,
)

register(
    "q_pii_scrub",
    text.q_pii_scrub,
    rf"""
    WITH with_pii AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com tel 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS pii_text
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{text.EMAIL_RE}'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{text.PHONE_RE}'))
                AS INT) AS n_phones,
           md5(regexp_replace(
               regexp_replace(pii_text, '{text.EMAIL_RE}', '<EMAIL>', 'g'),
               '{text.PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_hash
    FROM with_pii
    """,
)

_PROFILE_STATS = ",\n".join(
    f"""           CAST(count(CASE WHEN {c} IS NULL THEN 1 END) AS BIGINT)
               AS nulls_{c},
           CAST(count(DISTINCT {c}) AS BIGINT) AS distinct_{c},
           round(min({c}), 2) AS min_{c},
           round(max({c}), 2) AS max_{c}"""
    for c in aggregates.PROFILE_COLS
)

register(
    "q_data_profile",
    aggregates.q_data_profile,
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
{_PROFILE_STATS}
    FROM lineitem
    """,
)

register(
    "q_copurchase",
    analytics.q_copurchase,
    f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(count(*) AS BIGINT) AS n
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n DESC, part_a, part_b
    LIMIT {analytics.COPURCHASE_TOP}
    """,
)

register(
    "q_retention",
    analytics.q_retention,
    """
    WITH cohort AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cw
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    )
    SELECT CAST(year(cw)*10000 + month(cw)*100 + day(cw) AS INT)
               AS cohort_week,
           CAST(date_diff('day', cw, w) / 7 AS INT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM activity JOIN cohort USING (user_id)
    WHERE w >= cw
    GROUP BY 1, 2
    """,
)


def _q_sliding_window(spark, sf_dir):
    """Hopping (1 hour / 30 min slide) event-time window counts: every
    event lands in exactly two overlapping windows.  The same F.window
    expression runs unchanged under readStream with a watermark — this is
    the batch-checkable face of the sliding-window streaming surface."""
    from pyspark.sql import functions as F

    from etl_embargo_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


register(
    "q_sliding_window",
    _q_sliding_window,
    """
    WITH g AS (
        SELECT event_type,
               make_timestamp(
                   (epoch_us(ts) // 1800000000) * 1800000000
               ) AS flo
        FROM events
    )
    SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM (
        SELECT event_type,
               unnest([flo, flo - INTERVAL 30 MINUTE]) AS window_start
        FROM g
    )
    GROUP BY 1, 2
    """,
)

register(
    "q_anomaly_mad",
    analytics.q_anomaly_mad,
    f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    mad AS (
        SELECT e.event_type, any_value(m.med) AS med,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
        HAVING quantile_cont(abs(e.value - m.med), 0.5) > 0
    )
    SELECT event_id, e.event_type,
           round(value, 2) AS value_r,
           round(abs(value - med) / ({analytics.MAD_CONSISTENCY} * mad), 4)
               AS mod_z
    FROM events e JOIN mad USING (event_type)
    WHERE round(abs(value - med) / ({analytics.MAD_CONSISTENCY} * mad), 4)
          >= {analytics.MAD_CUT}
    """,
)

register(
    "q_rfm",
    analytics.q_rfm,
    """
    WITH anchor AS (SELECT max(ts) AS a FROM events),
    per_user AS (
        SELECT user_id, max(ts) AS last_ts,
               CAST(count(*) AS BIGINT) AS frequency,
               round(sum(value), 2) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    rfm AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(last_ts AS DATE),
                              CAST(a AS DATE)) AS INT) AS recency_days,
               frequency, monetary
        FROM per_user, anchor
    ),
    fences AS (
        SELECT quantile_cont(recency_days, [0.25, 0.5, 0.75]) AS rf,
               quantile_cont(frequency, [0.25, 0.5, 0.75]) AS ff,
               quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mf
        FROM rfm
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(1 + (recency_days > rf[1])::INT + (recency_days > rf[2])::INT
                  + (recency_days > rf[3])::INT AS INT) AS r_quartile,
           CAST(1 + (frequency > ff[1])::INT + (frequency > ff[2])::INT
                  + (frequency > ff[3])::INT AS INT) AS f_quartile,
           CAST(1 + (monetary > mf[1])::INT + (monetary > mf[2])::INT
                  + (monetary > mf[3])::INT AS INT) AS m_quartile
    FROM rfm, fences
    """,
)

register(
    "q_except_all",
    setops.q_except_all,
    """
    SELECT l_orderkey FROM lineitem
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1
    """,
)


def _q_scalar_subquery(spark, sf_dir):
    """Orders priced above 1.5x the average order — a scalar subquery in
    the SQL front-end; Catalyst plans the aggregate once as a broadcast
    scalar (ReusedSubquery), not per-row."""
    from etl_embargo_spark.catalog import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
        """
    )


register(
    "q_scalar_subquery",
    _q_scalar_subquery,
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
    """,
)

register(
    "q_vector_norms",
    similarity.q_vector_norms,
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS n_dims,
           round(sqrt(list_sum(
               list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)
           )), 6) AS l2_norm,
           round(list_sum(
               list_transform(embedding, x -> x::DOUBLE)
           ), 6) AS comp_sum
    FROM embeddings
    """,
)

register(
    "q_corpus_mix",
    sampling.q_corpus_mix,
    f"""
    WITH c AS (
        SELECT source, count(*) AS n_docs,
               CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 4 + 1 AS w
        FROM documents GROUP BY 1
    ),
    t AS (SELECT sum(n_docs) AS n, sum(w) AS sumw FROM c),
    r AS (
        SELECT source, n_docs,
               least(1.0, (n * {sampling.MIX_BUDGET_FRAC} * w)
                          / (sumw * n_docs)) AS rate
        FROM c, t
    )
    SELECT source,
           CAST(any_value(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                              % {sampling.MIX_BUCKETS}
                         < rate * {sampling.MIX_BUCKETS}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(any_value(rate), 6) AS keep_rate
    FROM documents JOIN r USING (source)
    GROUP BY source
    """,
)

register("q_pagerank", graph.q_pagerank, pinned_oracle("q_pagerank"))

# ---------------------------------------------------------------------------
# Round-1 extension batch 3: reshape (unpivot), conditional aggregates,
# deterministic mode, ordered string_agg, running count-distinct,
# date-spine gap fill, null-aware anti join
# ---------------------------------------------------------------------------

_UNPIVOT_ARMS = "\n    UNION ALL\n".join(
    f"""    SELECT l_orderkey, l_linenumber, '{m}' AS measure,
           round({m}, 2) AS value FROM lineitem"""
    for m in analytics.UNPIVOT_MEASURES
)

register(
    "q_unpivot",
    analytics.q_unpivot,
    f"""
{_UNPIVOT_ARMS}
    """,
)

register(
    "q_conditional_agg",
    analytics.q_conditional_agg,
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (l_discount > 0.05) AS BIGINT)
               AS n_discounted,
           round(sum(l_extendedprice) FILTER (l_discount > 0.05), 2)
               AS disc_revenue,
           CAST(count(*) FILTER (l_tax > 0.0) AS BIGINT) AS n_taxed,
           CAST(count(*) FILTER (l_quantity >= 30) AS BIGINT) AS n_bulk,
           round(avg(l_extendedprice) FILTER (l_quantity >= 30), 2)
               AS bulk_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)

register(
    "q_mode",
    analytics.q_mode,
    """
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_type AS top_event, n
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY n DESC, event_type
        ) AS rn FROM c
    )
    WHERE rn = 1
    """,
)

register(
    "q_string_agg",
    analytics.q_string_agg,
    """
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           string_agg(CAST(o_orderkey AS VARCHAR), ','
                      ORDER BY o_orderkey) AS order_keys
    FROM orders GROUP BY o_custkey
    """,
)

register(
    "q_window_distinct",
    analytics.q_window_distinct,
    """
    WITH f AS (
        SELECT user_id, event_id, ts,
               CASE WHEN row_number() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS is_first
        FROM events
    )
    SELECT user_id, event_id,
           CAST(sum(is_first) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS INT) AS n_types_seen
    FROM f
    """,
)

register(
    "q_date_spine",
    analytics.q_date_spine,
    """
    WITH b AS (
        SELECT min(CAST(o_orderdate AS DATE)) AS lo,
               max(CAST(o_orderdate AS DATE)) AS hi
        FROM orders
    ),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM b
    ),
    counts AS (
        SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_raw
        FROM orders GROUP BY 1, 2
    ),
    prios AS (SELECT DISTINCT o_orderpriority FROM orders),
    filled AS (
        SELECT s.day, p.o_orderpriority, c.n_raw
        FROM spine s CROSS JOIN prios p
        LEFT JOIN counts c
          ON c.day = s.day AND c.o_orderpriority = p.o_orderpriority
    )
    SELECT CAST(year(day)*10000 + month(day)*100 + day(day) AS INT)
               AS day_int,
           o_orderpriority,
           n_raw,
           CAST(coalesce(n_raw, 0) AS BIGINT) AS n_zero,
           last_value(n_raw IGNORE NULLS) OVER (
               PARTITION BY o_orderpriority ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS n_locf
    FROM filled
    """,
)

register(
    "q_null_anti",
    setops.q_null_anti,
    """
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)

# ---------------------------------------------------------------------------
# Training-pipeline text ops: context-window chunking, eval decontamination
# ---------------------------------------------------------------------------

register(
    "q_doc_chunk",
    text.q_doc_chunk,
    rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    c AS (
        SELECT doc_id, len(t) AS doc_tokens, t,
               unnest(range(0, len(t), {text.CHUNK_STRIDE})) AS start
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST(start // {text.CHUNK_STRIDE} AS INT) AS chunk_idx,
           CAST(doc_tokens AS INT) AS doc_tokens,
           CAST(len(list_slice(t, start + 1,
                               least(start + {text.CHUNK_TOKENS}, doc_tokens)))
                AS INT) AS chunk_tokens,
           md5(array_to_string(
               list_slice(t, start + 1,
                          least(start + {text.CHUNK_TOKENS}, doc_tokens)),
               ' ')) AS chunk_md5
    FROM c
    """,
)

register(
    "q_decontaminate",
    text.q_decontaminate,
    rf"""
    WITH toks AS (
        SELECT doc_id, doc_id % {text.DECON_EVAL_MOD} = 0 AS is_eval,
               string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    grams AS (
        SELECT DISTINCT doc_id, is_eval, g FROM (
            SELECT doc_id, is_eval,
                   unnest(list_transform(
                       range(0, len(t) - {text.DECON_NGRAM} + 1),
                       i -> array_to_string(
                           list_slice(t, i + 1, i + {text.DECON_NGRAM}), ' ')
                   )) AS g
            FROM toks WHERE len(t) >= {text.DECON_NGRAM}
        )
    ),
    ev AS (SELECT DISTINCT g FROM grams WHERE is_eval),
    train AS (SELECT doc_id, g FROM grams WHERE NOT is_eval),
    totals AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM train GROUP BY 1
    ),
    hits AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
        FROM train WHERE g IN (SELECT g FROM ev) GROUP BY 1
    )
    SELECT t.doc_id, t.n_grams,
           coalesce(h.n_hit, 0) AS n_hit,
           coalesce(h.n_hit, 0) > 0 AS contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """,
)

register(
    "q_percent_of_total",
    analytics.q_percent_of_total,
    """
    WITH g AS (
        SELECT l_returnflag, l_linestatus,
               sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus,
           round(rev, 2) AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY l_returnflag), 6)
               AS share_of_flag,
           round(rev / sum(rev) OVER (), 6) AS share_of_total
    FROM g
    """,
)

# ---------------------------------------------------------------------------
# Interval algebra, islands, sequence mining (events table)
# ---------------------------------------------------------------------------

register(
    "q_concurrency",
    analytics.q_concurrency,
    """
    WITH pts AS (
        SELECT event_type, ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT event_type,
               ts + to_seconds(CAST(floor(value * 60) AS BIGINT)),
               -1
        FROM events
    ),
    run AS (
        SELECT event_type,
               sum(delta) OVER (
                   PARTITION BY event_type ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS open_now
        FROM pts
    )
    SELECT event_type, CAST(max(open_now) AS INT) AS max_concurrent
    FROM run GROUP BY 1
    """,
)

register(
    "q_streaks",
    analytics.q_streaks,
    """
    WITH days AS (
        SELECT DISTINCT user_id,
               (ts::DATE - DATE '2024-01-01') AS day
        FROM events
    ),
    grp AS (
        SELECT user_id,
               day - row_number() OVER (
                   PARTITION BY user_id ORDER BY day) AS g
        FROM days
    ),
    st AS (SELECT user_id, g, count(*) AS len FROM grp GROUP BY 1, 2)
    SELECT user_id,
           CAST(sum(len) AS INT) AS active_days,
           CAST(count(*) AS INT) AS n_streaks,
           CAST(max(len) AS INT) AS max_streak
    FROM st GROUP BY 1
    """,
)

register(
    "q_transitions",
    analytics.q_transitions,
    """
    WITH seq AS (
        SELECT event_type AS src_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS dst_type
        FROM events
    ),
    c AS (
        SELECT src_type, dst_type, count(*) AS n
        FROM seq WHERE dst_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT src_type, dst_type, CAST(n AS BIGINT) AS n,
           round(n / sum(n) OVER (PARTITION BY src_type), 4) AS p
    FROM c
    """,
)

register(
    "q_event_paths",
    analytics.q_event_paths,
    f"""
    WITH seq AS (
        SELECT event_type AS step1,
               lead(event_type, 1) OVER w AS step2,
               lead(event_type, 2) OVER w AS step3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE step3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, step1, step2, step3
    LIMIT {analytics.PATH_TOPK}
    """,
)

register(
    "q_new_vs_returning",
    analytics.q_new_vs_returning,
    """
    WITH daily AS (
        SELECT DISTINCT user_id,
               CAST(year(ts) * 10000 + month(ts) * 100 + day(ts) AS INT)
                   AS day
        FROM events
    ),
    fs AS (SELECT user_id, min(day) AS first_day FROM daily GROUP BY 1)
    SELECT day,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS INT)
               AS new_users,
           CAST(sum(CASE WHEN day > first_day THEN 1 ELSE 0 END) AS INT)
               AS returning_users
    FROM daily JOIN fs USING (user_id)
    GROUP BY 1
    """,
)

register(
    "q_group_sample",
    sampling.q_group_sample,
    f"""
    WITH ranked AS (
        SELECT source, doc_id,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INT) AS rk
        FROM documents
    )
    SELECT source, doc_id, rk FROM ranked
    WHERE rk <= {sampling.GROUP_SAMPLE_K}
    """,
)

register(
    "q_item_cosine",
    analytics.q_item_cosine,
    f"""
    WITH ip AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    deg AS (SELECT p, count(*) AS n FROM ip GROUP BY 1),
    pairs AS (
        SELECT a.p AS part_a, b.p AS part_b, count(*) AS n_ab
        FROM ip a JOIN ip b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
           round(n_ab / sqrt(da.n * db.n), 6) AS cosine
    FROM pairs
    JOIN deg da ON pairs.part_a = da.p
    JOIN deg db ON pairs.part_b = db.p
    ORDER BY cosine DESC, part_a, part_b
    LIMIT {analytics.ITEM_COSINE_TOP}
    """,
)

register(
    "q_mom_growth",
    analytics.q_mom_growth,
    """
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT)
                   AS month,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           lag(revenue) OVER w AS prev_revenue,
           round((revenue - lag(revenue) OVER w)
                 / lag(revenue) OVER w * 100, 4) AS growth_pct
    FROM monthly
    WINDOW w AS (ORDER BY month)
    """,
)

register(
    "q_rolling_dau",
    analytics.q_rolling_dau,
    f"""
    WITH days AS (
        SELECT DISTINCT user_id,
               (ts::DATE - DATE '2024-01-01') AS day
        FROM events
    ),
    dau AS (SELECT day, CAST(count(*) AS INT) AS dau FROM days GROUP BY 1),
    expl AS (
        SELECT user_id, day + t.x AS day
        FROM days
        CROSS JOIN generate_series(0, {analytics.ROLLING_WINDOW_DAYS - 1})
            AS t(x)
    ),
    wau AS (
        SELECT day, CAST(count(DISTINCT user_id) AS INT) AS wau
        FROM expl GROUP BY 1
    )
    SELECT day, dau, wau FROM dau JOIN wau USING (day)
    """,
)

register(
    "q_local_volume",
    analytics.q_local_volume,
    f"""
    SELECT n_name,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = '{analytics.LOCAL_VOLUME_REGION}'
      AND c_nationkey = s_nationkey
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate <  DATE '1997-01-01'
    GROUP BY n_name
    """,
)

register(
    "q_returned_items",
    analytics.q_returned_items,
    f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                   AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate <  DATE '1996-04-01'
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, n_name, revenue
    FROM per_cust
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    ORDER BY revenue DESC, c_custkey
    LIMIT {analytics.RETURNED_TOP}
    """,
)

register(
    "q_large_orders",
    analytics.q_large_orders,
    f"""
    WITH big AS (
        SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(l_quantity) > {analytics.LARGE_ORDER_QTY}
    )
    SELECT c_custkey, c_name, o_orderkey,
           CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS orderdate_int,
           round(o_totalprice, 2) AS totalprice,
           sum_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)

# rows-only: DataSketches HLL binaries are not ANSI-SQL; the merge-vs-direct
# identity is asserted in tests/test_analytics.py::TestHllMerge.
register("q_hll_merge", analytics.q_hll_merge, pinned_oracle("q_hll_merge"))

register(
    "q_pack_contexts",
    text.q_pack_contexts,
    rf"""
    WITH t AS (
        SELECT doc_id,
               CAST(doc_id % {text.PACK_SHARDS} AS INT) AS shard,
               CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                    AS INT) AS n_tokens
        FROM documents WHERE n_chars > 0
    ),
    s AS (
        SELECT doc_id, shard, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS start_offset
        FROM t
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           CAST(floor(start_offset / {text.PACK_BUDGET}) AS INT)
               AS window_id,
           CAST(floor((start_offset + n_tokens - 1) / {text.PACK_BUDGET})
                - floor(start_offset / {text.PACK_BUDGET}) + 1 AS INT)
               AS windows_spanned
    FROM s
    """,
)

register(
    "q_debounce",
    temporal.q_debounce,
    f"""
    WITH o AS (
        SELECT event_id, user_id, event_type, value,
               date_diff('microsecond', lag(ts) OVER w, ts) AS gap_us,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, event_type, value, gap_us
    FROM o
    WHERE prev_type IS NULL
       OR prev_type <> event_type
       OR gap_us >= {temporal.DEBOUNCE_SECONDS} * 1000000
    """,
)

register(
    "q_pareto",
    analytics.q_pareto,
    """
    WITH o AS (
        SELECT o_orderkey,
               CAST(strftime(o_orderdate, '%Y%m%d') AS INT) AS date_int,
               o_totalprice AS price
        FROM orders
    )
    SELECT o_orderkey, date_int, price
    FROM o
    WHERE NOT EXISTS (
        SELECT 1 FROM o x
        WHERE x.date_int > o.date_int AND x.price > o.price
    )
    """,
)

register(
    "q_corpus_pack",
    corpus_pipeline.q_corpus_pack,
    f"""
    WITH corpus AS ({_CORPUS_PREP_SQL}),
    per_shard AS (
        SELECT CAST(doc_id % {text.PACK_SHARDS} AS INT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM corpus GROUP BY 1
    )
    SELECT shard, n_docs, total_tokens,
           CAST(floor((total_tokens + {text.PACK_BUDGET} - 1)
                      / {text.PACK_BUDGET}) AS BIGINT) AS n_windows,
           round(total_tokens / (floor((total_tokens + {text.PACK_BUDGET} - 1)
                 / {text.PACK_BUDGET}) * {text.PACK_BUDGET}), 6) AS fill_ratio
    FROM per_shard
    """,
)

register(
    "q_small_quantity",
    analytics.q_small_quantity,
    f"""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = '{analytics.SMALL_QTY_BRAND}'
      AND l_quantity < (
          SELECT {analytics.SMALL_QTY_FRACTION} * avg(l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)

register(
    "q_blame_supplier",
    analytics.q_blame_supplier,
    f"""
    WITH per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN l_returnflag = 'R'
                                   THEN l_suppkey END) AS n_ret,
               min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
                   AS blamed
        FROM lineitem GROUP BY l_orderkey
    ),
    counts AS (
        SELECT blamed, CAST(count(*) AS BIGINT) AS numwait
        FROM per_order WHERE n_supp > 1 AND n_ret = 1
        GROUP BY blamed
    )
    SELECT s_suppkey, s_name, numwait
    FROM counts JOIN supplier ON blamed = s_suppkey
    ORDER BY numwait DESC, s_suppkey
    LIMIT {analytics.BLAME_TOP}
    """,
)

register(
    "q_top_supplier",
    analytics.q_top_supplier,
    f"""
    WITH revenue AS (
        SELECT l_suppkey,
               round(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18,4))), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{analytics.TOP_SUPPLIER_FROM} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{analytics.TOP_SUPPLIER_TO} 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)

register(
    "q_market_share",
    analytics.q_market_share,
    f"""
    SELECT year(o_orderdate) AS o_year,
           round(CAST(sum(CASE WHEN sn.n_name = '{analytics.MARKET_NATION}'
                          THEN CAST(l_extendedprice * (1 - l_discount)
                                    AS DECIMAL(18,4))
                          ELSE CAST(0 AS DECIMAL(18,4)) END)
                / sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS total_revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region   ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = '{analytics.MARKET_REGION}'
    GROUP BY 1
    """,
)

register(
    "q_priority_count",
    analytics.q_priority_count,
    f"""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '{analytics.ORDER_PRIORITY_FROM}'
      AND o_orderdate <  DATE '{analytics.ORDER_PRIORITY_TO}'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    """,
)

register(
    "q_bpe_pairs",
    text.q_bpe_pairs,
    rf"""
    WITH words AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents WHERE n_chars > 0
    ),
    wc AS (
        SELECT w, count(*) AS cnt FROM words
        WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)),
                      i -> substr(w, CAST(i AS INT), 2))) AS pair,
               cnt
        FROM wc
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {text.BPE_TOP}
    """,
)

register(
    "q_attribution",
    analytics.q_attribution,
    """
    WITH tagged AS (
        SELECT event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS channel
        FROM events
    )
    SELECT coalesce(channel, '(direct)') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS credited_value
    FROM tagged WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)

register(
    "q_skew_profile",
    skew.q_skew_profile,
    """
    WITH p AS (
        SELECT 'l_suppkey' AS join_key, CAST(count(*) AS BIGINT) AS n_keys,
               min(n) AS min_n, round(quantile_cont(n, 0.5), 4) AS p50,
               round(quantile_cont(n, 0.99), 4) AS p99, max(n) AS max_n,
               round(avg(n), 4) AS avg_n
        FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_suppkey)
        UNION ALL
        SELECT 'l_orderkey', CAST(count(*) AS BIGINT),
               min(n), round(quantile_cont(n, 0.5), 4),
               round(quantile_cont(n, 0.99), 4), max(n), round(avg(n), 4)
        FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey)
        UNION ALL
        SELECT 'l_partkey', CAST(count(*) AS BIGINT),
               min(n), round(quantile_cont(n, 0.5), 4),
               round(quantile_cont(n, 0.99), 4), max(n), round(avg(n), 4)
        FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_partkey)
    )
    SELECT * FROM p
    """,
)

register(
    "q_ri_audit",
    skew.q_ri_audit,
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST(count(*) AS BIGINT) AS n_orphans
    FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', CAST(count(*) AS BIGINT)
    FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
    UNION ALL
    SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT)
    FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
)

register(
    "q_incremental_dedup",
    dedup.q_incremental_dedup,
    """
    WITH hashed AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS h,
               doc_id % 2 = 0 AS is_standing
        FROM documents WHERE n_chars > 0
    ),
    standing AS (SELECT DISTINCT h FROM hashed WHERE is_standing),
    fresh AS (SELECT * FROM hashed WHERE NOT is_standing)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_new_docs,
           CAST(count(DISTINCT h) AS BIGINT) AS n_new_hashes
    FROM fresh
    WHERE NOT EXISTS (SELECT 1 FROM standing s WHERE s.h = fresh.h)
    GROUP BY source
    """,
)

register(
    "q_incremental_dedup_near",
    dedup.q_incremental_dedup_near,
    pinned_oracle("q_incremental_dedup_near"),
)

register(
    "q_time_rollup",
    analytics.q_time_rollup,
    """
    SELECT coalesce(year(o_orderdate), -1) AS yr,
           coalesce(quarter(o_orderdate), -1) AS qtr,
           coalesce(month(o_orderdate), -1) AS mth,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS revenue,
           CAST(grouping(year(o_orderdate)) AS INT) AS g_yr,
           CAST(grouping(quarter(o_orderdate)) AS INT) AS g_qtr,
           CAST(grouping(month(o_orderdate)) AS INT) AS g_mth
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate),
                     month(o_orderdate))
    """,
)

register(
    "q_basket_lift",
    analytics.q_basket_lift,
    f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {analytics.LIFT_MIN_PAIR}
    ),
    pc AS (SELECT l_partkey, count(*) AS n_p FROM items GROUP BY 1),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem)
    SELECT part_a, part_b, n_ab,
           round(n_ab * CAST(n_orders AS DOUBLE) / (ca.n_p * cb.n_p), 6)
               AS lift
    FROM pairs
    JOIN pc ca ON pairs.part_a = ca.l_partkey
    JOIN pc cb ON pairs.part_b = cb.l_partkey
    CROSS JOIN tot
    ORDER BY lift DESC, part_a, part_b
    LIMIT {analytics.LIFT_TOP}
    """,
)

register(
    "q_revenue_deciles",
    analytics.q_revenue_deciles,
    """
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY o_custkey
    ),
    tiled AS (
        SELECT o_custkey, spend,
               ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile,
               sum(spend) OVER () AS total
        FROM per_cust
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(spend), 2) AS DOUBLE) AS revenue,
           round(CAST(sum(spend) / max(total) AS DOUBLE), 6) AS share
    FROM tiled GROUP BY decile
    """,
)

register(
    "q_mutual_info",
    analytics.q_mutual_info,
    """
    WITH joint AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
        FROM documents WHERE n_chars > 0 GROUP BY lang, source
    ),
    ml AS (SELECT lang, sum(n_xy) AS n_x FROM joint GROUP BY lang),
    ms AS (SELECT source, sum(n_xy) AS n_y FROM joint GROUP BY source),
    tot AS (SELECT sum(n_xy) AS n FROM joint)
    SELECT lang, source, n_xy,
           round(CAST(n_xy AS DOUBLE) / n, 6) AS p_xy,
           round(CAST(n_xy AS DOUBLE) * n / (n_x * n_y), 6) AS lift,
           round((CAST(n_xy AS DOUBLE) / n)
                 * log2(CAST(n_xy AS DOUBLE) * n / (n_x * n_y)), 6)
               AS mi_term
    FROM joint
    JOIN ml USING (lang)
    JOIN ms USING (source)
    CROSS JOIN tot
    """,
)

register(
    "q_label_encode",
    text.q_label_encode,
    """
    WITH lc AS (
        SELECT lang AS value, count(*) AS n FROM documents
        WHERE n_chars > 0 GROUP BY lang
    ),
    sc AS (
        SELECT source AS value, count(*) AS n FROM documents
        WHERE n_chars > 0 GROUP BY source
    )
    SELECT 'lang' AS "column", value,
           CAST(row_number() OVER (ORDER BY n DESC, value) - 1 AS INT)
               AS code,
           CAST(n AS BIGINT) AS n
    FROM lc
    UNION ALL
    SELECT 'source', value,
           CAST(row_number() OVER (ORDER BY n DESC, value) - 1 AS INT),
           CAST(n AS BIGINT)
    FROM sc
    """,
)

register(
    "q_class_weights",
    text.q_class_weights,
    """
    WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_c FROM documents
        WHERE n_chars > 0 GROUP BY lang
    )
    SELECT lang, n_c,
           round(CAST(sum(n_c) OVER () AS DOUBLE)
                 / (count(*) OVER () * n_c), 6) AS weight
    FROM counts
    """,
)

register(
    "q_perplexity",
    text.q_perplexity,
    rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents WHERE n_chars > 0
    ),
    vocab AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    probs AS (
        SELECT tok,
               CAST(-log2(CAST(n AS DOUBLE) / sum(n) OVER ())
                    AS DECIMAL(18,{text.PPL_BITS_DECIMALS})) AS bits
        FROM vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(pow(2.0, CAST(sum(bits) AS DOUBLE) / count(*)), 4)
               AS perplexity
    FROM toks JOIN probs USING (tok)
    GROUP BY doc_id
    """,
)

register(
    "q_dp_counts",
    analytics.q_dp_counts,
    f"""
    WITH counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
        FROM events GROUP BY event_type
    ),
    noised AS (
        SELECT event_type, true_count,
               ((('0x' || substr(md5('{analytics.DP_SEED}:' || event_type),
                             1, 8))::UBIGINT % 1000000007) + 1)
                   / 1000000009.0 - 0.5 AS t
        FROM counts
    )
    SELECT event_type, true_count,
           round(true_count
                 + (-{1.0 / analytics.DP_EPSILON} * sign(t)
                    * ln(1 - 2 * abs(t))), 4) AS dp_count
    FROM noised
    """,
)

register(
    "q_funnel_steps",
    temporal.q_funnel_steps,
    """
    WITH a1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'signup' THEN ts END)
                   OVER (PARTITION BY user_id) AS t1
        FROM events
    ),
    a2 AS (
        SELECT user_id, ts, event_type, t1,
               min(CASE WHEN event_type = 'click' AND ts > t1
                   THEN ts END) OVER (PARTITION BY user_id) AS t2
        FROM a1
    ),
    anchored2 AS (
        SELECT user_id, t1, t2,
               min(CASE WHEN event_type = 'purchase' AND ts > t2
                   THEN ts END)
                   OVER (PARTITION BY user_id) AS t3
        FROM a2
    ),
    per_user AS (
        SELECT user_id,
               bool_or(t1 IS NOT NULL) AS r1,
               bool_or(t2 IS NOT NULL) AS r2,
               bool_or(t3 IS NOT NULL) AS r3
        FROM anchored2 GROUP BY user_id
    )
    SELECT CAST(sum(CASE WHEN r1 THEN 1 END) AS BIGINT) AS n_signup,
           CAST(sum(CASE WHEN r1 AND r2 THEN 1 END) AS BIGINT)
               AS n_clicked_after,
           CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 END) AS BIGINT)
               AS n_purchased_after,
           round(CAST(sum(CASE WHEN r1 AND r2 THEN 1 END) AS DOUBLE)
                 / sum(CASE WHEN r1 THEN 1 END), 6) AS conv_1_2,
           round(CAST(sum(CASE WHEN r1 AND r2 AND r3 THEN 1 END) AS DOUBLE)
                 / sum(CASE WHEN r1 AND r2 THEN 1 END), 6) AS conv_2_3
    FROM per_user
    """,
)

register(
    "q_zipf_fit",
    text.q_zipf_fit,
    rf"""
    WITH vocab AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents WHERE n_chars > 0
    ),
    counts AS (SELECT tok, count(*) AS n FROM vocab GROUP BY tok),
    head AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        FROM counts
        QUALIFY rank <= {text.ZIPF_TOP}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round(regr_slope(log2(n), log2(rank)), 4) AS slope,
           round(regr_intercept(log2(n), log2(rank)), 4) AS intercept,
           round(regr_r2(log2(n), log2(rank)), 4) AS r2
    FROM head
    """,
)

register(
    "q_growth_accounting",
    analytics.q_growth_accounting,
    """
    WITH um AS (
        SELECT DISTINCT user_id,
               CAST((ts::DATE - DATE '2024-01-01') // 7 AS INT) AS wk
        FROM events
    ),
    tagged AS (
        SELECT wk,
               wk = min(wk) OVER (PARTITION BY user_id) AS is_new,
               lag(wk) OVER (PARTITION BY user_id ORDER BY wk) = wk - 1
                   AS is_retained
        FROM um
    ),
    weekly AS (
        SELECT wk,
               CAST(count(*) AS BIGINT) AS wau,
               CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
               CAST(sum(CASE WHEN coalesce(is_retained, false)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
        FROM tagged GROUP BY wk
    )
    SELECT wk, wau, n_new, n_retained,
           wau - n_new - n_retained AS n_resurrected,
           lag(wau) OVER (ORDER BY wk) - n_retained AS n_churned
    FROM weekly
    """,
)

# ---------------------------------------------------------------------------
# TPC-H shape batch 2 (round 2)
# ---------------------------------------------------------------------------

register(
    "q_order_count_dist",
    analytics.q_order_count_dist,
    """
    WITH per_cust AS (
        SELECT o_custkey, count(*) AS c_count FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(c_count, 0) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    GROUP BY coalesce(c_count, 0)
    """,
)

register(
    "q_important_parts",
    analytics.q_important_parts,
    f"""
    WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))) AS value_exact
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey,
           CAST(round(value_exact, 2) AS DOUBLE) AS part_value
    FROM per_part
    WHERE value_exact * (SELECT count(*) FROM per_part)
          * {analytics.IMPORTANT_PART_RATIO[1]}
          > (SELECT sum(value_exact) FROM per_part)
          * {analytics.IMPORTANT_PART_RATIO[0]}
    """,
)

register(
    "q_part_supplier_count",
    analytics.q_part_supplier_count,
    """
    WITH pairs AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p_brand,
           CAST(floor(p_size / 10) AS INT) AS size_band,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, CAST(floor(p_size / 10) AS INT)
    """,
)

register(
    "q_idle_customers",
    analytics.q_idle_customers,
    f"""
    WITH thresh AS (
        SELECT sum(CAST(c_acctbal * 100 AS DECIMAL(18,0))) AS sum_cents,
               count(*) AS n_pos
        FROM customer WHERE c_acctbal > 0
    ),
    recent AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '{analytics.IDLE_SINCE} 00:00:00'
    )
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS totacctbal
    FROM customer, thresh
    WHERE CAST(c_acctbal * 100 AS DECIMAL(18,0)) * n_pos > sum_cents
      AND c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY c_nationkey
    """,
)

register(
    "q_nation_trade",
    analytics.q_nation_trade,
    f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region ON sn.n_regionkey = r_regionkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE r_name = '{analytics.TRADE_REGION}'
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, year(l_shipdate)
    """,
)

register(
    "q_disjunctive_join",
    analytics.q_disjunctive_join,
    """
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 11 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 21 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    GROUP BY p_brand
    """,
)

register(
    "q_excess_shippers",
    analytics.q_excess_shippers,
    f"""
    WITH heavy AS (
        SELECT DISTINCT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red %'
          AND l_shipdate >= TIMESTAMP '{analytics.EXCESS_YEAR[0]} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{analytics.EXCESS_YEAR[1]} 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > {analytics.EXCESS_QTY}
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)

register(
    "q_min_cost_supplier",
    analytics.q_min_cost_supplier,
    """
    WITH costs AS (
        SELECT l_partkey, l_suppkey,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))) AS cost_exact
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY cost_exact ASC, l_suppkey ASC) AS rn
        FROM costs
    )
    SELECT l_partkey,
           l_suppkey AS best_suppkey,
           CAST(round(cost_exact, 2) AS DOUBLE) AS best_cost
    FROM ranked WHERE rn = 1
    """,
)

register("q_kmeans", clustering.q_kmeans, pinned_oracle("q_kmeans"))
register("q_semdedup", clustering.q_semdedup, pinned_oracle("q_semdedup"))

register(
    "q_triangles",
    graph.q_triangles,
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair_inst AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
        SELECT a, b FROM pair_inst GROUP BY a, b
        HAVING count(*) >= {graph.TRIANGLE_MIN_SUPPORT}
    ),
    deg AS (
        SELECT node, count(*) AS d
        FROM (SELECT a AS node FROM edges
              UNION ALL SELECT b AS node FROM edges)
        GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                    THEN a ELSE b END AS u,
               CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                    THEN b ELSE a END AS v,
               CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                    THEN db.d ELSE da.d END AS dv
        FROM edges JOIN deg da ON da.node = a JOIN deg db ON db.node = b
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.u = e2.u
         AND ((e1.dv < e2.dv) OR (e1.dv = e2.dv AND e1.v < e2.v))
        JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    stats AS (
        SELECT CAST(sum(d) / 2 AS BIGINT) AS n_edges,
               CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
        FROM deg
    )
    SELECT n_edges, n_wedges, n_triangles,
           round(3.0 * n_triangles / n_wedges, 6) AS clustering_coeff
    FROM stats, tri
    """,
)

register(
    "q_repetition_filter",
    text.q_repetition_filter,
    rf"""
    WITH uni AS (
        SELECT doc_id, tok, count(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS tok
            FROM documents WHERE n_chars > 0)
        GROUP BY doc_id, tok
    ),
    udoc AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_tokens,
               max(cnt) AS top_cnt,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_uni
        FROM uni GROUP BY doc_id
    ),
    arr AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    bi AS (
        SELECT doc_id, bg, count(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)),
                          i -> t[i] || ' ' || t[i+1])) AS bg
            FROM arr WHERE len(t) >= 2)
        GROUP BY doc_id, bg
    ),
    bdoc AS (
        SELECT doc_id, sum(cnt) AS n_bi,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_bi
        FROM bi GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           round(top_cnt * 1.0 / n_tokens, 6) AS top_unigram_frac,
           round(dup_uni * 1.0 / n_tokens, 6) AS dup_unigram_frac,
           round(dup_bi * 1.0 / n_bi, 6) AS dup_bigram_frac,
           (top_cnt * {text.REP_TOP_UNIGRAM_DEN} <= n_tokens
            AND dup_bi * {text.REP_DUP_BIGRAM_DEN} <= n_bi) AS keep
    FROM udoc JOIN bdoc USING (doc_id)
    """,
)

register(
    "q_inverted_index",
    text.q_inverted_index,
    r"""
    WITH td AS (
        SELECT token, doc_id, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(string_split_regex(trim(lower(text)), '\s+'))
                         AS token
              FROM documents WHERE n_chars > 0)
        GROUP BY token, doc_id
    )
    SELECT token,
           CAST(sum(c) AS BIGINT) AS cf,
           CAST(count(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings
    FROM td GROUP BY token
    """,
)

register(
    "q_feature_hash",
    text.q_feature_hash,
    rf"""
    SELECT doc_id,
           CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT
                % {text.FEATURE_HASH_DIM} AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
          FROM documents WHERE n_chars > 0)
    GROUP BY doc_id, bucket
    """,
)

register(
    "q_embed_quantize",
    similarity.q_embed_quantize,
    f"""
    WITH flat AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    stats AS (
        SELECT dim, min(x) AS dmin, max(x) AS dmax,
               (max(x) - min(x)) / {similarity.QUANT_LEVELS} AS scale
        FROM flat GROUP BY dim
    )
    SELECT dim,
           round(dmin, 6) AS dmin_r,
           round(dmax, 6) AS dmax_r,
           CAST(round(avg(CAST(abs(x - (dmin + floor((x - dmin) / scale + 0.5)
                                        * scale)) AS DECIMAL(18,12))), 9)
                AS DOUBLE) AS mean_abs_err
    FROM flat JOIN stats USING (dim)
    GROUP BY dim, dmin, dmax
    """,
)

register("q_bpe_train", text.q_bpe_train, pinned_oracle("q_bpe_train"))

register("q_cms_topk", sketches.q_cms_topk, pinned_oracle("q_cms_topk"))

register(
    "q_ks_test",
    analytics.q_ks_test,
    f"""
    WITH vc AS (
        SELECT c_acctbal,
               sum(CASE WHEN c_mktsegment = '{analytics.KS_SEGMENTS[0]}'
                        THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN c_mktsegment = '{analytics.KS_SEGMENTS[1]}'
                        THEN 1 ELSE 0 END) AS c2
        FROM customer
        WHERE c_mktsegment IN ('{analytics.KS_SEGMENTS[0]}',
                               '{analytics.KS_SEGMENTS[1]}')
        GROUP BY c_acctbal
    ),
    cum AS (
        SELECT sum(c1) OVER (ORDER BY c_acctbal) AS f1,
               sum(c2) OVER (ORDER BY c_acctbal) AS f2,
               sum(c1) OVER () AS n1,
               sum(c2) OVER () AS n2
        FROM vc
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(max(abs(f1 * n2 - f2 * n1)) * 1.0 / (n1 * n2), 6)
               AS ks_stat
    FROM cum GROUP BY n1, n2
    """,
)

register(
    "q_ab_test",
    analytics.q_ab_test,
    f"""
    WITH per_user AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type =
                                  '{analytics.AB_SUCCESS[0]}'
                             THEN 1 ELSE 0 END)
                       > sum(CASE WHEN event_type =
                                  '{analytics.AB_SUCCESS[1]}'
                             THEN 1 ELSE 0 END)
                    THEN 1 ELSE 0 END AS converted
        FROM events GROUP BY user_id
    ),
    per_var AS (
        SELECT CAST(user_id % 2 AS INT) AS variant,
               count(*) AS n, sum(converted) AS conv
        FROM per_user GROUP BY 1
    ),
    wide AS (
        SELECT CAST(sum(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN variant = 0 THEN conv END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN variant = 1 THEN conv END) AS BIGINT) AS c1
        FROM per_var
    )
    SELECT n0, c0, n1, c1,
           round(c0 * 1.0 / n0, 6) AS rate0,
           round(c1 * 1.0 / n1, 6) AS rate1,
           round((c1 * 1.0 / n1 - c0 * 1.0 / n0)
                 / sqrt((c0 + c1) * 1.0 / (n0 + n1)
                        * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
    FROM wide
    """,
)

register(
    "q_revenue_forecast",
    analytics.q_revenue_forecast,
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice * l_discount
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{analytics.FORECAST_YEAR[0]} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{analytics.FORECAST_YEAR[1]} 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

register(
    "q_product_profit",
    analytics.q_product_profit,
    f"""
    SELECT n_name,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))
                          - CAST(p_retailprice * l_quantity
                                 * {analytics.PROFIT_COST_FRAC[0]}
                                 / {analytics.PROFIT_COST_FRAC[1]}
                                 AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%{analytics.PROFIT_PART_WORD}%'
    GROUP BY n_name, year(o_orderdate)
    """,
)

register(
    "q_promo_share",
    analytics.q_promo_share,
    f"""
    WITH sliced AS (
        SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                   AS rev,
               p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '{analytics.PROMO_MONTH[0]} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{analytics.PROMO_MONTH[1]} 00:00:00'
    )
    SELECT CAST(round(sum(CASE WHEN p_type = 'PROMO' THEN rev
                               ELSE CAST(0 AS DECIMAL(18,4)) END), 2)
                AS DOUBLE) AS promo_revenue,
           CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue,
           round(100 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                                     ELSE CAST(0 AS DECIMAL(18,4)) END)
                            AS DOUBLE)
                 / CAST(sum(rev) AS DOUBLE), 6) AS promo_pct
    FROM sliced
    """,
)

register(
    "q_benford",
    analytics.q_benford,
    """
    WITH per AS (
        SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    ),
    staged AS (SELECT digit, n, sum(n) OVER () AS total FROM per)
    SELECT digit, n,
           round(n / total, 6) AS share,
           round(log10(1 + 1.0 / digit), 6) AS benford,
           round((n - total * log10(1 + 1.0 / digit))
                 * (n - total * log10(1 + 1.0 / digit))
                 / (total * log10(1 + 1.0 / digit)), 6) AS chi2_term
    FROM staged
    """,
)

register(
    "q_autocorr",
    analytics.q_autocorr,
    """
    WITH daily AS (
        SELECT o_orderdate::DATE AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT rev AS x, lag(rev) OVER (ORDER BY day) AS y FROM daily
    ),
    mom AS (
        SELECT count(*) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
        FROM pairs WHERE y IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS lag1_corr
    FROM mom
    """,
)

register(
    "q_cusum",
    analytics.q_cusum,
    """
    WITH daily AS (
        SELECT event_type,
               CAST(ts::DATE - DATE '2024-01-01' AS INT) AS day,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    staged AS (
        SELECT event_type, day,
               CAST(count(*) OVER (PARTITION BY event_type)
                    * sum(c) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW)
                    - row_number() OVER (PARTITION BY event_type
                                         ORDER BY day)
                    * sum(c) OVER (PARTITION BY event_type)
                    AS BIGINT) AS scaled_dev,
               CAST(count(*) OVER (PARTITION BY event_type) AS INT)
                   AS n_days,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
                   AS total
        FROM daily
    ),
    picked AS (
        SELECT event_type, day AS change_day, scaled_dev, n_days, total,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY abs(scaled_dev) DESC, day)
                   AS rk
        FROM staged
    )
    SELECT event_type, change_day, scaled_dev, n_days, total
    FROM picked WHERE rk = 1
    """,
)

register(
    "q_winsorize",
    analytics.q_winsorize,
    f"""
    WITH ranked AS (
        SELECT c_mktsegment, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
    ),
    bounds AS (
        SELECT c_mktsegment,
               max(CASE WHEN rn = ((n-1)*{analytics.WINSOR_LO}
                                   - ((n-1)*{analytics.WINSOR_LO}) % 100)
                                  / 100 + 1
                        THEN c_acctbal END) AS p_lo,
               max(CASE WHEN rn = ((n-1)*{analytics.WINSOR_HI}
                                   - ((n-1)*{analytics.WINSOR_HI}) % 100)
                                  / 100 + 1
                        THEN c_acctbal END) AS p_hi
        FROM ranked GROUP BY 1
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           max(p_lo) AS p_lo,
           max(p_hi) AS p_hi,
           CAST(sum(CASE WHEN c_acctbal < p_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_lo,
           CAST(sum(CASE WHEN c_acctbal > p_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_hi,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS mean_raw,
           round(CAST(sum(CAST(greatest(p_lo, least(p_hi, c_acctbal))
                               AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 4) AS mean_winsor
    FROM customer c JOIN bounds b USING (c_mktsegment)
    GROUP BY 1
    """,
)

register(
    "q_ols",
    analytics.q_ols,
    """
    WITH mom AS (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sx1,
               CAST(sum(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE) AS sx2,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8))) AS DOUBLE)
                   AS sy,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,8)))
                    AS DOUBLE) AS s11,
               CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(28,8)))
                    AS DOUBLE) AS s12,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(28,8)))
                    AS DOUBLE) AS s22,
               CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8)))
                    AS DOUBLE) AS s1y,
               CAST(sum(CAST(l_discount * l_extendedprice AS DECIMAL(28,8)))
                    AS DOUBLE) AS s2y,
               CAST(sum(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(28,8))) AS DOUBLE) AS syy
        FROM lineitem GROUP BY 1
    ),
    solved AS (
        SELECT l_returnflag, n, sy, s1y, s2y, syy,
               (sy * (s11 * s22 - s12 * s12)
                - sx1 * (s1y * s22 - s12 * s2y)
                + sx2 * (s1y * s12 - s11 * s2y))
               / (n * (s11 * s22 - s12 * s12)
                  - sx1 * (sx1 * s22 - s12 * sx2)
                  + sx2 * (sx1 * s12 - s11 * sx2)) AS b0,
               (n * (s1y * s22 - s12 * s2y)
                - sy * (sx1 * s22 - s12 * sx2)
                + sx2 * (sx1 * s2y - s1y * sx2))
               / (n * (s11 * s22 - s12 * s12)
                  - sx1 * (sx1 * s22 - s12 * sx2)
                  + sx2 * (sx1 * s12 - s11 * sx2)) AS b1,
               (n * (s11 * s2y - s1y * s12)
                - sx1 * (sx1 * s2y - s1y * sx2)
                + sy * (sx1 * s12 - s11 * sx2))
               / (n * (s11 * s22 - s12 * s12)
                  - sx1 * (sx1 * s22 - s12 * sx2)
                  + sx2 * (sx1 * s12 - s11 * sx2)) AS b2
        FROM mom
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(b0, 6) AS b_intercept,
           round(b1, 6) AS b_quantity,
           round(b2, 6) AS b_discount,
           round(1 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
                     / (syy - sy * sy / n), 6) AS r2
    FROM solved
    """,
)

register(
    "q_survival",
    analytics.q_survival,
    f"""
    WITH pu AS (
        SELECT user_id,
               min(CAST(ts::DATE - DATE '2024-01-01' AS INT)) AS first_day,
               max(CAST(ts::DATE - DATE '2024-01-01' AS INT)) AS last_day,
               min(CASE WHEN event_type = '{analytics.SURVIVAL_EVENT}'
                        THEN CAST(ts::DATE - DATE '2024-01-01' AS INT)
                   END) AS conv_day
        FROM events GROUP BY 1
    ),
    fl AS (
        SELECT coalesce(conv_day - first_day,
                        last_day - first_day) AS t,
               CASE WHEN conv_day IS NULL THEN 1 ELSE 0 END AS censored
        FROM pu
    ),
    per_t AS (
        SELECT t, CAST(sum(1 - censored) AS BIGINT) AS d,
               count(*) AS leaving
        FROM fl GROUP BY 1
    ),
    ar AS (
        SELECT t, d,
               CAST(sum(leaving) OVER () - coalesce(
                   sum(leaving) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                      PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM per_t
    )
    SELECT t, d, n_risk,
           round(d / n_risk, 6) AS hazard,
           round(sum(d / n_risk) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                                       PRECEDING AND CURRENT ROW), 6)
               AS cum_hazard
    FROM ar WHERE d > 0
    """,
)

register(
    "q_pmi",
    text.q_pmi,
    rf"""
    WITH toks AS (
        SELECT string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    uni AS (
        SELECT token, CAST(count(*) AS BIGINT) AS n_tok
        FROM (SELECT unnest(t) AS token FROM toks) GROUP BY 1
    ),
    uni_t AS (SELECT token, n_tok, sum(n_tok) OVER () AS n_uni FROM uni),
    bi AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
        FROM (
            SELECT unnest(list_transform(range(0, len(t) - 1),
                                         i -> t[i+1])) AS w1,
                   unnest(list_transform(range(0, len(t) - 1),
                                         i -> t[i+2])) AS w2
            FROM toks WHERE len(t) >= 2
        )
        GROUP BY 1, 2
    ),
    bi_t AS (
        SELECT w1, w2, n_xy, sum(n_xy) OVER () AS n_bi FROM bi
    )
    SELECT w1, w2, n_xy,
           a.n_tok AS n_x, b.n_tok AS n_y,
           round(log2((n_xy / n_bi)
                      / ((a.n_tok / a.n_uni) * (b.n_tok / a.n_uni))), 6)
               AS pmi
    FROM bi_t JOIN uni_t a ON bi_t.w1 = a.token
              JOIN uni_t b ON bi_t.w2 = b.token
    WHERE n_xy >= {text.PMI_MIN_COUNT}
    """,
)

register(
    "q_weighted_sample",
    sampling.q_weighted_sample,
    f"""
    WITH staged AS (
        SELECT doc_id, source, n_chars,
               CAST(sum(n_chars) OVER (PARTITION BY source
                                       ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                                doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS cum_hi,
               CAST(sum(n_chars) OVER (PARTITION BY source) AS BIGINT)
                   AS w_total
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars,
           CAST(floor(cum_hi * {sampling.WEIGHTED_K} / w_total) AS INT)
               AS bucket
    FROM staged
    WHERE floor(cum_hi * {sampling.WEIGHTED_K} / w_total)
          > floor((cum_hi - n_chars) * {sampling.WEIGHTED_K} / w_total)
    """,
)

register(
    "q_ewma",
    analytics.q_ewma,
    f"""
    WITH daily AS (
        SELECT event_type,
               CAST(ts::DATE - DATE '2024-01-01' AS INT) AS day,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    staged AS (
        SELECT event_type, day, c,
               (pow({analytics.EWMA_DECAY}, day)
                * sum(c * pow(1.0 / {analytics.EWMA_DECAY}, day))
                      OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
               / (pow({analytics.EWMA_DECAY}, day)
                  * sum(pow(1.0 / {analytics.EWMA_DECAY}, day))
                        OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)) AS ewma
        FROM daily
    ),
    lagged AS (
        SELECT event_type, day, c, ewma,
               lag(ewma) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev
        FROM staged
    )
    SELECT event_type, day, CAST(c AS BIGINT) AS c,
           round(ewma, 6) AS ewma,
           round(c / prev, 6) AS vs_smoothed,
           CAST(c / prev >= {analytics.EWMA_SPIKE} AS INT) AS spike
    FROM lagged WHERE prev IS NOT NULL
    """,
)

register(
    "q_rare_collapse",
    text.q_rare_collapse,
    f"""
    WITH cells AS (
        SELECT lang, source, count(*) AS n_cell
        FROM documents WHERE n_chars > 0 GROUP BY 1, 2
    ),
    recoded AS (
        SELECT lang,
               CASE WHEN n_cell >= {text.RARE_MIN_COUNT} THEN source
                    ELSE '__other__' END AS source_code,
               n_cell
        FROM cells
    )
    SELECT lang, source_code,
           CAST(sum(n_cell) AS BIGINT) AS n,
           CAST(count(*) AS INT) AS n_merged_cells
    FROM recoded GROUP BY 1, 2
    """,
)

register(
    "q_kmv_overlap",
    sketches.q_kmv_overlap,
    f"""
    WITH ud AS (
        SELECT user_id,
               CAST(ts::DATE - DATE '2024-01-01' AS INT) AS day,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
        FROM events GROUP BY 1, 2
    ),
    keyed AS (
        SELECT CAST(CAST('0x' || substr(
                   md5(CAST(user_id AS VARCHAR) || '-'
                       || CAST(day AS VARCHAR)), 1, 15) AS UBIGINT)
                    AS BIGINT) AS h,
               p, c
        FROM ud
    ),
    topa AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rk
            FROM keyed WHERE p = 1
        ) WHERE rk <= {sketches.KMV_K}
    ),
    topb AS (
        SELECT h FROM (
            SELECT h, row_number() OVER (ORDER BY h) AS rk
            FROM keyed WHERE c = 1
        ) WHERE rk <= {sketches.KMV_K}
    ),
    ska AS (SELECT count(*) AS n_a, max(h) AS kth_a FROM topa),
    skb AS (SELECT count(*) AS n_b, max(h) AS kth_b FROM topb),
    merged AS (
        SELECT h, max(in_a) AS in_a, max(in_b) AS in_b
        FROM (
            SELECT h, 1 AS in_a, 0 AS in_b FROM topa
            UNION ALL
            SELECT h, 0 AS in_a, 1 AS in_b FROM topb
        ) GROUP BY h
    ),
    topu AS (
        SELECT h, in_a, in_b FROM (
            SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rk
            FROM merged
        ) WHERE rk <= {sketches.KMV_K}
    ),
    sku AS (
        SELECT count(*) AS n_u, max(h) AS kth_u,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both
        FROM topu
    ),
    exact AS (
        SELECT CAST(sum(p) AS BIGINT) AS exact_a,
               CAST(sum(c) AS BIGINT) AS exact_b,
               CAST(sum(p * c) AS BIGINT) AS exact_both
        FROM keyed
    )
    SELECT {sketches.KMV_K} AS k,
           round(CASE WHEN n_a < {sketches.KMV_K} THEN CAST(n_a AS DOUBLE)
                      ELSE ({sketches.KMV_K} - 1) * {float(2**sketches.KMV_BITS)!r}
                           / kth_a END, 4) AS est_a,
           round(CASE WHEN n_b < {sketches.KMV_K} THEN CAST(n_b AS DOUBLE)
                      ELSE ({sketches.KMV_K} - 1) * {float(2**sketches.KMV_BITS)!r}
                           / kth_b END, 4) AS est_b,
           round(CASE WHEN n_u < {sketches.KMV_K} THEN CAST(n_u AS DOUBLE)
                      ELSE ({sketches.KMV_K} - 1) * {float(2**sketches.KMV_BITS)!r}
                           / kth_u END, 4) AS est_union,
           round(n_both / least(n_u, {sketches.KMV_K}), 6) AS est_jaccard,
           round((n_both / least(n_u, {sketches.KMV_K}))
                 * CASE WHEN n_u < {sketches.KMV_K} THEN CAST(n_u AS DOUBLE)
                        ELSE ({sketches.KMV_K} - 1) * {float(2**sketches.KMV_BITS)!r}
                             / kth_u END, 4) AS est_intersection,
           exact_a, exact_b, exact_both
    FROM ska, skb, sku, exact
    """,
)

register(
    "q_bm25",
    text.q_bm25,
    f"""
    WITH docs AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM docs),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM lens
    ),
    tf AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM docs)
        WHERE token IN {text.BM25_TERMS!r}
        GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY 1),
    scored AS (
        SELECT doc_id,
               ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf
               * {text.BM25_K1 + 1!r}
               / (tf + {text.BM25_K1!r}
                       * ({1 - text.BM25_B!r}
                          + {text.BM25_B!r} * dl / (total_dl * 1.0 / n_docs)))
                   AS s
        FROM tf JOIN dfreq USING (token) JOIN lens USING (doc_id), stats
    )
    SELECT doc_id, CAST(count(*) AS INT) AS n_terms_hit,
           round(sum(s), 6) AS bm25
    FROM scored GROUP BY 1
    """,
)

# md5 over a BINARY payload prefix (PPM/WAV headers + pixels/samples) is
# not reconstructable in SQL — pinned oracle (tools/pin_oracles.py)
register("q_media_dedup", multimodal.q_media_dedup, pinned_oracle("q_media_dedup"))

register(
    "q_itemsets3",
    analytics.q_itemsets3,
    f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    t AS (
        SELECT a.p AS pa, b.p AS pb, c.p AS pc
        FROM li a
        JOIN li b ON a.o = b.o AND a.p < b.p
        JOIN li c ON b.o = c.o AND b.p < c.p
    )
    SELECT pa, pb, pc, CAST(count(*) AS BIGINT) AS support
    FROM t GROUP BY 1, 2, 3
    ORDER BY support DESC, pa, pb, pc
    LIMIT {analytics.ITEMSETS3_TOP}
    """,
)

register(
    "q_gini",
    analytics.q_gini,
    """
    WITH per_cust AS (
        SELECT o_custkey,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT spend,
               CAST(row_number() OVER (ORDER BY spend, o_custkey)
                    AS BIGINT) AS rk
        FROM per_cust
    ),
    agg AS (
        SELECT count(*) AS n, sum(spend) AS total,
               sum(rk * spend) AS rank_weighted
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(round(total, 2) AS DOUBLE) AS total_spend,
           round(2 * CAST(rank_weighted AS DOUBLE)
                 / (n * CAST(total AS DOUBLE)) - (n + 1) / n, 6) AS gini
    FROM agg
    """,
)

register(
    "q_dataset_card",
    text.q_dataset_card,
    f"""
    WITH docs AS (
        SELECT doc_id, text, lang, n_chars,
               string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    langs AS (SELECT lang, count(*) AS n_l FROM docs GROUP BY 1),
    probed AS (
        SELECT lang, n_l, sum(n_l) OVER () AS n_docs,
               n_l / sum(n_l) OVER () AS p
        FROM langs
    ),
    lang_stats AS (
        SELECT n_docs, n_langs, lang AS top_lang,
               round(n_l / n_docs, 6) AS top_lang_share,
               round(ent, 6) AS lang_entropy
        FROM (
            SELECT lang, n_l, n_docs,
                   row_number() OVER (ORDER BY n_l DESC, lang) AS rk,
                   CAST(count(*) OVER () AS INT) AS n_langs,
                   sum(-p * log2(p)) OVER () AS ent
            FROM probed
        ) WHERE rk = 1
    ),
    lens AS (
        SELECT round(CAST(sum(n_chars) AS DOUBLE) / count(*), 4)
                   AS mean_chars,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(sum(len(t)) AS BIGINT) AS total_tokens
        FROM docs
    ),
    dups AS (
        SELECT CAST(sum(CASE WHEN n_sig >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS dup_sig_groups,
               CAST(sum(CASE WHEN n_sig >= 2 THEN n_sig - 1 ELSE 0 END)
                    AS BIGINT) AS dup_sig_docs
        FROM (
            SELECT md5(substr(text, 1, {text.CARD_PREFIX_BYTES})) AS sig,
                   count(*) AS n_sig
            FROM docs GROUP BY 1
        )
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs, n_langs, top_lang,
           top_lang_share, lang_entropy, mean_chars, min_chars,
           max_chars, total_tokens, dup_sig_groups, dup_sig_docs
    FROM lang_stats, lens, dups
    """,
)

register(
    "q_seasonality",
    analytics.q_seasonality,
    """
    WITH cells AS (
        SELECT event_type, dayofweek(ts::DATE) + 1 AS dow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(dow AS INT) AS dow, n,
           round(n / sum(n) OVER (PARTITION BY event_type), 6) AS share,
           round(n / sum(n) OVER (PARTITION BY event_type) - 1.0 / 7, 6)
               AS vs_uniform
    FROM cells
    """,
)

register(
    "q_vocab_coverage",
    text.q_vocab_coverage,
    rf"""
    WITH vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
                       AS token
            FROM documents WHERE n_chars > 0
        ) GROUP BY 1
    ),
    ranked AS (
        SELECT row_number() OVER (ORDER BY tf DESC, token) AS rk,
               CAST(sum(tf) OVER (ORDER BY tf DESC, token
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum_tf,
               CAST(sum(tf) OVER () AS BIGINT) AS total_tf,
               CAST(count(*) OVER () AS INT) AS n_types
        FROM vocab
    )
    SELECT CAST(rk AS INT) AS vocab_size, cum_tf, total_tf, n_types,
           round(cum_tf * 1.0 / total_tf, 6) AS coverage
    FROM ranked WHERE rk IN {text.VOCAB_COVERAGE_SIZES!r}
    """,
)

register("q_pca", clustering.q_pca, pinned_oracle("q_pca"))

register(
    "q_bollinger",
    analytics.q_bollinger,
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate::DATE - DATE '1995-01-01' AS INT) AS day,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ),
    staged AS (
        SELECT day, rev,
               avg(rev) OVER w AS ma,
               stddev_samp(rev) OVER w AS sd,
               count(*) OVER w AS n_win
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN
                     {analytics.BOLLINGER_WINDOW - 1} PRECEDING
                     AND CURRENT ROW)
    )
    SELECT day, round(rev, 2) AS rev, round(ma, 4) AS ma,
           round(ma + {analytics.BOLLINGER_SIGMA!r} * sd, 4) AS upper,
           round(ma - {analytics.BOLLINGER_SIGMA!r} * sd, 4) AS lower,
           CAST(rev > ma + {analytics.BOLLINGER_SIGMA!r} * sd
                OR rev < ma - {analytics.BOLLINGER_SIGMA!r} * sd
                AS INT) AS breakout
    FROM staged WHERE n_win = {analytics.BOLLINGER_WINDOW}
    """,
)

register("q_whitening", clustering.q_whitening, pinned_oracle("q_whitening"))

register(
    "q_auc",
    analytics.q_auc,
    f"""
    WITH vc AS (
        SELECT value,
               sum(CASE WHEN event_type = '{analytics.AUC_POSITIVE}'
                        THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN event_type <> '{analytics.AUC_POSITIVE}'
                        THEN 1 ELSE 0 END) AS neg
        FROM events GROUP BY value
    ),
    cum AS (
        SELECT pos, neg,
               coalesce(sum(neg) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS neg_below,
               sum(pos) OVER () AS n_pos,
               sum(neg) OVER () AS n_neg
        FROM vc
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           round(sum(pos * (2 * neg_below + neg))
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM cum GROUP BY n_pos, n_neg
    """,
)

register(
    "q_theilsen",
    analytics.q_theilsen,
    f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '{analytics.THEILSEN_YEAR}-01-01',
                         CAST(o_orderdate AS DATE)) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders WHERE year(o_orderdate) = {analytics.THEILSEN_YEAR}
        GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(b.rev - a.rev AS DOUBLE) / (b.day - a.day) AS slope
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    ranked AS (
        SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
               count(*) OVER () AS n
        FROM pairs
    ),
    sm AS (
        SELECT n, avg(slope) AS slope_med FROM ranked
        WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
        GROUP BY n
    ),
    resid AS (
        SELECT n, slope_med,
               CAST(rev AS DOUBLE) - slope_med * day AS resid
        FROM daily CROSS JOIN sm
    ),
    rr AS (
        SELECT n, slope_med, resid,
               row_number() OVER (ORDER BY resid) AS rn,
               count(*) OVER () AS nd
        FROM resid
    )
    SELECT CAST(n AS BIGINT) AS n_pairs, CAST(nd AS BIGINT) AS n_days,
           round(any_value(slope_med), 6) AS slope_med,
           round(avg(resid), 6) AS intercept_med
    FROM rr WHERE rn = floor((nd + 1) / 2) OR rn = floor(nd / 2) + 1
    GROUP BY n, nd
    """,
)

register(
    "q_jaccard_users",
    analytics.q_jaccard_users,
    """
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n_ut
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT user_id, sum(n_ut) AS tot FROM c GROUP BY 1),
    aud AS (
        SELECT c.user_id, c.event_type
        FROM c JOIN t USING (user_id) WHERE c.n_ut * 5 > t.tot
    ),
    inter AS (
        SELECT x.event_type AS type_a, y.event_type AS type_b,
               count(*) AS n_inter
        FROM aud x JOIN aud y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2
    ),
    m AS (SELECT event_type, count(*) AS m FROM aud GROUP BY 1)
    SELECT type_a, type_b,
           CAST(ma.m AS BIGINT) AS n_a,
           CAST(mb.m AS BIGINT) AS n_b,
           CAST(n_inter AS BIGINT) AS n_inter,
           round(n_inter * 1.0 / (ma.m + mb.m - n_inter), 6) AS jaccard
    FROM inter
    JOIN m ma ON ma.event_type = type_a
    JOIN m mb ON mb.event_type = type_b
    """,
)

register(
    "q_naive_bayes",
    text.q_naive_bayes,
    r"""
    WITH docs AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents WHERE n_chars > 0
    ),
    dt AS (SELECT doc_id, lang, unnest(toks) AS token FROM docs),
    dtc AS (
        SELECT doc_id, lang AS lang_true, token, count(*) AS n_dt
        FROM dt GROUP BY 1, 2, 3
    ),
    ltc AS (SELECT lang, token, count(*) AS c FROM dt GROUP BY 1, 2),
    totl AS (SELECT lang, count(*) AS tot FROM dt GROUP BY 1),
    v AS (SELECT count(DISTINCT token) AS v FROM dt),
    nl AS (SELECT lang, count(*) AS n_l FROM docs GROUP BY 1),
    n AS (SELECT count(*) AS n FROM docs),
    ll AS (
        SELECT lang, token,
               CAST(round(ln((c + 1.0) / (tot + v)), 6)
                    AS DECIMAL(18,6)) AS ll
        FROM ltc JOIN totl USING (lang) CROSS JOIN v
    ),
    ll0 AS (
        SELECT lang,
               CAST(round(ln(1.0 / (tot + v)), 6)
                    AS DECIMAL(18,6)) AS ll0
        FROM totl CROSS JOIN v
    ),
    pri AS (
        SELECT lang,
               CAST(round(ln(n_l * 1.0 / n), 6)
                    AS DECIMAL(18,6)) AS prior
        FROM nl CROSS JOIN n
    ),
    terms AS (
        SELECT dtc.doc_id, dtc.lang_true, cand.lang AS cand,
               sum(n_dt * coalesce(ll.ll, ll0.ll0)) AS s
        FROM dtc
        CROSS JOIN (SELECT lang FROM nl) cand
        LEFT JOIN ll ON ll.lang = cand.lang AND ll.token = dtc.token
        JOIN ll0 ON ll0.lang = cand.lang
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT doc_id, lang_true, cand, s + prior AS score
        FROM terms JOIN pri ON pri.lang = cand
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score DESC, cand ASC) AS rn
        FROM scored
    )
    SELECT doc_id, lang_true, cand AS pred_lang,
           CAST(score * 1000000 AS BIGINT) AS score_micro,
           CAST(cand = lang_true AS INT) AS correct
    FROM ranked WHERE rn = 1
    """,
)

_LANG_ID_PRED = r"""
        SELECT doc_id,
               CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_de, s_es, s_fr) THEN 'en'
                    WHEN s_de = greatest(s_en, s_de, s_es, s_fr) THEN 'de'
                    WHEN s_es = greatest(s_en, s_de, s_es, s_fr) THEN 'es'
                    ELSE 'fr'
               END AS pred_lang
        FROM (
            SELECT doc_id,
                   len(list_filter(toks, x -> list_contains(
                       ['the','and','of','to','a','in','is','that'], x)))
                       AS s_en,
                   len(list_filter(toks, x -> list_contains(
                       ['der','die','und','das','ist','ein','nicht','mit'],
                       x))) AS s_de,
                   len(list_filter(toks, x -> list_contains(
                       ['el','la','de','que','y','en','un','es'], x)))
                       AS s_es,
                   len(list_filter(toks, x -> list_contains(
                       ['le','la','et','les','des','un','est','que'], x)))
                       AS s_fr
            FROM (SELECT doc_id,
                         string_split_regex(trim(lower(text)), '\s+')
                             AS toks
                  FROM documents WHERE n_chars > 0)
        )
"""

register(
    "q_confusion",
    text.q_confusion,
    rf"""
    WITH pred AS ({_LANG_ID_PRED}),
    j AS (
        SELECT d.lang AS lang_true, p.pred_lang
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        WHERE d.n_chars > 0
    ),
    per_true AS (
        SELECT lang_true, count(*) AS n_true,
               sum(CASE WHEN pred_lang = lang_true THEN 1 ELSE 0 END)
                   AS tp
        FROM j GROUP BY 1
    ),
    per_pred AS (
        SELECT pred_lang AS lang_true, count(*) AS n_pred
        FROM j GROUP BY 1
    )
    SELECT t.lang_true,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
           CAST(tp AS BIGINT) AS tp,
           round(CASE WHEN n_pred IS NOT NULL
                      THEN tp * 1.0 / n_pred END, 6) AS precision,
           round(tp * 1.0 / n_true, 6) AS recall,
           round(CASE WHEN tp = 0 THEN 0.0
                      ELSE 2.0 * tp / (coalesce(n_pred, 0) + n_true)
                 END, 6) AS f1
    FROM per_true t LEFT JOIN per_pred p USING (lang_true)
    """,
)

register(
    "q_seasonal_decompose",
    analytics.q_seasonal_decompose,
    f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '{analytics.SEASONAL_EPOCH}',
                         CAST(o_orderdate AS DATE)) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    trended AS (
        SELECT day, day % 7 AS dow, CAST(rev AS DOUBLE) AS rev_d,
               CAST(sum(rev) OVER w AS DOUBLE) / 7.0 AS trend,
               count(*) OVER w AS n_win
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT day, dow, rev_d, trend,
               CAST(round(rev_d - trend, 6) AS DECIMAL(18,6)) AS det_q
        FROM trended WHERE n_win = 7
    ),
    staged AS (
        SELECT day, dow, rev_d, trend,
               CAST(round(CAST(sum(det_q) OVER (PARTITION BY dow)
                               AS DOUBLE)
                          / count(*) OVER (PARTITION BY dow), 6)
                    AS DECIMAL(18,6)) AS smean,
               count(*) OVER (PARTITION BY dow) AS cnt
        FROM det
    ),
    staged2 AS (
        SELECT *, CAST(round(CAST(smean AS DOUBLE) / cnt, 9)
                       AS DECIMAL(18,9)) AS smean_div
        FROM staged
    ),
    fin AS (
        SELECT day, dow, rev_d, trend,
               CAST(smean AS DOUBLE)
                   - CAST(sum(smean_div) OVER () AS DOUBLE) / 7.0
                   AS seasonal
        FROM staged2
    )
    SELECT day, CAST(dow AS INT) AS dow,
           round(rev_d, 2) AS rev,
           round(trend, 4) AS trend,
           round(seasonal, 4) AS seasonal,
           round((rev_d - trend) - seasonal, 4) AS residual
    FROM fin
    """,
)

_POISSON_LADDER = " ".join(
    f"WHEN u < {c!r} THEN {k}"
    for k, c in enumerate(analytics.POISSON1_CDF)
)

register(
    "q_bootstrap_ci",
    analytics.q_bootstrap_ci,
    f"""
    WITH blocks AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS x_cents,
               t.blk AS blk,
               md5(CAST(o_orderkey AS VARCHAR) || ':'
                   || CAST(t.blk AS VARCHAR)) AS h
        FROM orders
        CROSS JOIN range(0, {analytics.BOOTSTRAP_B // 4}) t(blk)
    ),
    uu AS (
        SELECT blk * 4 + s.i + 1 AS rep, x_cents,
               ('0x' || substr(h, CAST(1 + 8 * s.i AS INT), 8))::UBIGINT
                   / 4294967296.0 AS u
        FROM blocks CROSS JOIN range(0, 4) s(i)
    ),
    weighted AS (
        SELECT rep, x_cents,
               CASE {_POISSON_LADDER}
                    ELSE {len(analytics.POISSON1_CDF)} END AS w
        FROM uu
    ),
    means AS (
        SELECT rep,
               CAST(sum(x_cents * w) AS DOUBLE) / 100.0 / sum(w) AS mean_r
        FROM weighted GROUP BY rep
    ),
    ranked AS (
        SELECT mean_r, row_number() OVER (ORDER BY mean_r) AS rn
        FROM means
    ),
    ci AS (
        SELECT min(mean_r) AS ci_lo, max(mean_r) AS ci_hi
        FROM ranked
        WHERE rn IN ({int(0.025 * (analytics.BOOTSTRAP_B - 1)) + 1},
                     {int(0.975 * (analytics.BOOTSTRAP_B - 1)) + 1})
    ),
    point AS (
        SELECT count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS mean_hat
        FROM orders
    )
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST({analytics.BOOTSTRAP_B} AS INT) AS b,
           round(mean_hat, 4) AS mean_hat,
           round(ci_lo, 4) AS ci_lo,
           round(ci_hi, 4) AS ci_hi
    FROM point CROSS JOIN ci
    """,
)

register("q_logreg", clustering.q_logreg, pinned_oracle("q_logreg"))

register(
    "q_expectations",
    aggregates.q_expectations,
    f"""
    WITH w AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                   AS v_orderkey_not_null,
               sum(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                        THEN 1 ELSE 0 END) AS v_quantity_in_1_50,
               sum(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
                        THEN 1 ELSE 0 END) AS v_discount_in_0_01,
               sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                   AS v_extendedprice_positive,
               sum(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                        THEN 1 ELSE 0 END) AS v_returnflag_domain,
               sum(CASE WHEN NOT (CAST(l_shipdate AS DATE) BETWEEN
                        DATE '{aggregates.EXPECT_SHIP_LO}'
                        AND DATE '{aggregates.EXPECT_SHIP_HI}')
                        THEN 1 ELSE 0 END) AS v_shipdate_in_window,
               count(*) - count(DISTINCT (l_orderkey, l_linenumber))
                   AS v_pk_unique
        FROM lineitem
    ),
    tall AS (
        SELECT n_rows, 'orderkey_not_null' AS check_name,
               v_orderkey_not_null AS n_violations FROM w
        UNION ALL SELECT n_rows, 'quantity_in_1_50',
               v_quantity_in_1_50 FROM w
        UNION ALL SELECT n_rows, 'discount_in_0_01',
               v_discount_in_0_01 FROM w
        UNION ALL SELECT n_rows, 'extendedprice_positive',
               v_extendedprice_positive FROM w
        UNION ALL SELECT n_rows, 'returnflag_domain',
               v_returnflag_domain FROM w
        UNION ALL SELECT n_rows, 'shipdate_in_window',
               v_shipdate_in_window FROM w
        UNION ALL SELECT n_rows, 'pk_unique', v_pk_unique FROM w
    )
    SELECT check_name,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_violations = 0 AS INT) AS passed
    FROM tall
    """,
)

_RIDGE_GRID = ", ".join(repr(v) for v in analytics.RIDGE_LAMBDAS)

register(
    "q_ridge_path",
    analytics.q_ridge_path,
    f"""
    WITH mom AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE)
                   AS sx1,
               CAST(sum(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE)
                   AS sx2,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,8)))
                    AS DOUBLE) AS sy,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,8)))
                    AS DOUBLE) AS s11,
               CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(28,8)))
                    AS DOUBLE) AS s12,
               CAST(sum(CAST(l_discount * l_discount AS DECIMAL(28,8)))
                    AS DOUBLE) AS s22,
               CAST(sum(CAST(l_quantity * l_extendedprice
                             AS DECIMAL(28,8))) AS DOUBLE) AS s1y,
               CAST(sum(CAST(l_discount * l_extendedprice
                             AS DECIMAL(28,8))) AS DOUBLE) AS s2y,
               CAST(sum(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(28,8))) AS DOUBLE) AS syy
        FROM lineitem
    ),
    path AS (
        SELECT mom.*, t.lam_rel
        FROM mom CROSS JOIN (
            SELECT unnest([{_RIDGE_GRID}]) AS lam_rel) t
    ),
    algebra AS (
        SELECT lam_rel, n, sx1, sx2, sy,
               lam_rel * n AS lam,
               s11 - sx1 * sx1 / n AS c11,
               s12 - sx1 * sx2 / n AS c12,
               s22 - sx2 * sx2 / n AS c22,
               s1y - sx1 * sy / n AS c1y,
               s2y - sx2 * sy / n AS c2y,
               syy - sy * sy / n AS cyy
        FROM path
    ),
    solved AS (
        SELECT *,
               (c1y * (c22 + lam) - c12 * c2y)
                   / ((c11 + lam) * (c22 + lam) - c12 * c12) AS b1,
               ((c11 + lam) * c2y - c12 * c1y)
                   / ((c11 + lam) * (c22 + lam) - c12 * c12) AS b2
        FROM algebra
    )
    SELECT lam_rel AS lambda_per_row,
           CAST(n AS BIGINT) AS n_rows,
           round((sy - b1 * sx1 - b2 * sx2) / n, 6) AS b_intercept,
           round(b1, 6) AS b_quantity,
           round(b2, 6) AS b_discount,
           round(1.0 - (cyy - 2.0 * (b1 * c1y + b2 * c2y)
                        + b1 * b1 * c11 + 2.0 * (b1 * b2 * c12)
                        + b2 * b2 * c22) / cyy, 6) AS r2
    FROM solved
    """,
)

register(
    "q_psi",
    analytics.q_psi,
    f"""
    WITH cells AS (
        SELECT CAST(least(floor(value / {analytics.PSI_BIN_WIDTH!r}),
                          {analytics.PSI_BINS - 1}) AS INT) AS bin,
               sum(CASE WHEN ts < TIMESTAMP '{analytics.PSI_SPLIT}'
                        THEN 1 ELSE 0 END) AS c1,
               sum(CASE WHEN ts >= TIMESTAMP '{analytics.PSI_SPLIT}'
                        THEN 1 ELSE 0 END) AS c2
        FROM events GROUP BY 1
    ),
    staged AS (
        SELECT bin, c1, c2,
               (c1 + 1.0) / (sum(c1) OVER ()
                             + {float(analytics.PSI_BINS)!r}) AS p1,
               (c2 + 1.0) / (sum(c2) OVER ()
                             + {float(analytics.PSI_BINS)!r}) AS p2
        FROM cells
    ),
    quant AS (
        SELECT *, CAST(round((p2 - p1) * ln(p2 / p1), 9)
                       AS DECIMAL(18,9)) AS term_q
        FROM staged
    )
    SELECT bin,
           CAST(c1 AS BIGINT) AS c1,
           CAST(c2 AS BIGINT) AS c2,
           round(p1, 6) AS p1,
           round(p2, 6) AS p2,
           round(CAST(term_q AS DOUBLE), 9) AS psi_term,
           round(CAST(sum(term_q) OVER () AS DOUBLE), 6) AS psi_total
    FROM quant
    """,
)

register(
    "q_cohort_ltv",
    analytics.q_cohort_ltv,
    f"""
    WITH base AS (
        SELECT user_id,
               date_diff('day', DATE '{analytics.LTV_EPOCH}',
                         CAST(ts AS DATE)) AS day,
               event_type,
               CAST(value AS DECIMAL(18,2)) AS val,
               min(date_diff('day', DATE '{analytics.LTV_EPOCH}',
                             CAST(ts AS DATE)))
                   OVER (PARTITION BY user_id) AS first_day
        FROM events
    ),
    per_uca AS (
        SELECT user_id,
               CAST(floor(first_day / 7) AS BIGINT) AS cohort_week,
               CAST(floor((day - first_day) / 7) AS BIGINT) AS age_week,
               sum(CASE WHEN event_type = '{analytics.LTV_EVENT}'
                        THEN val END) AS rev
        FROM base GROUP BY 1, 2, 3
    ),
    cells AS (
        SELECT cohort_week, age_week,
               sum(coalesce(rev, CAST(0 AS DECIMAL(18,2)))) AS rev
        FROM per_uca GROUP BY 1, 2
    ),
    sizes AS (
        SELECT cohort_week, count(DISTINCT user_id) AS n_users
        FROM per_uca GROUP BY 1
    ),
    cum AS (
        SELECT cohort_week, age_week, rev,
               sum(rev) OVER (PARTITION BY cohort_week ORDER BY age_week
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_rev
        FROM cells
    )
    SELECT CAST(cohort_week AS INT) AS cohort_week,
           CAST(age_week AS INT) AS age_week,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(rev AS DOUBLE) AS rev,
           CAST(cum_rev AS DOUBLE) AS cum_rev,
           round(CAST(cum_rev AS DOUBLE) / n_users, 6) AS ltv_per_user
    FROM cum JOIN sizes USING (cohort_week)
    """,
)

_RRF_BM25 = rf"""
        WITH bdocs AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS t
            FROM documents WHERE n_chars > 0
        ),
        blens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM bdocs),
        bstats AS (
            SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM blens
        ),
        btf AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(t) AS token FROM bdocs)
            WHERE token IN {text.BM25_TERMS!r}
            GROUP BY 1, 2
        ),
        bdf AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                FROM btf GROUP BY 1),
        bscored AS (
            SELECT doc_id,
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1) * tf
                   * {text.BM25_K1 + 1!r}
                   / (tf + {text.BM25_K1!r}
                           * ({1 - text.BM25_B!r}
                              + {text.BM25_B!r} * dl
                                / (total_dl * 1.0 / n_docs))) AS s
            FROM btf JOIN bdf USING (token) JOIN blens USING (doc_id),
                 bstats
        ),
        bm25 AS (
            SELECT doc_id, round(sum(s), 6) AS bm25
            FROM bscored GROUP BY 1
        )
"""

register(
    "q_rrf",
    similarity.q_rrf,
    f"""{_RRF_BM25},
    flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                    AS DECIMAL(12,6)) AS qx
        FROM embeddings
    ),
    qv AS (SELECT i, qx AS qv FROM flat
           WHERE vec_id = {similarity.RRF_QUERY_VEC}),
    dots AS (
        SELECT vec_id, sum(qx * qv) AS dot, sum(qx * qx) AS nn
        FROM flat JOIN qv USING (i) GROUP BY vec_id
    ),
    qq AS (SELECT sum(qv * qv) AS qq FROM qv),
    cosr AS (
        SELECT vec_id,
               CAST(dot AS DOUBLE)
                   / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(qq AS DOUBLE)))
                   AS cos
        FROM dots CROSS JOIN qq
    ),
    rb AS (
        SELECT vec_id, cos,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_b
        FROM cosr
    ),
    ra AS (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_a
        FROM bm25
    ),
    fused AS (
        SELECT rb.vec_id AS doc_id,
               CAST(rank_b AS BIGINT) AS rank_b,
               CAST(rank_a AS BIGINT) AS rank_a,
               round(cos, 6) AS cosine,
               bm25,
               round(1.0 / ({similarity.RRF_K} + rank_b)
                     + coalesce(1.0 / ({similarity.RRF_K} + rank_a),
                                0.0), 9) AS rrf
        FROM rb LEFT JOIN ra ON ra.doc_id = rb.vec_id
    )
    SELECT * FROM fused
    ORDER BY rrf DESC, doc_id LIMIT {similarity.RRF_TOP}
    """,
)

register(
    "q_ndcg",
    similarity.q_ndcg,
    f"""
    WITH flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE), 6)
                    AS DECIMAL(12,6)) AS qx
        FROM embeddings
    ),
    qv AS (SELECT i, qx AS qv FROM flat
           WHERE vec_id = {similarity.RRF_QUERY_VEC}),
    dots AS (
        SELECT vec_id, sum(qx * qv) AS dot, sum(qx * qx) AS nn
        FROM flat JOIN qv USING (i) GROUP BY vec_id
    ),
    qq AS (SELECT sum(qv * qv) AS qq FROM qv),
    cosr AS (
        SELECT vec_id,
               CAST(dot AS DOUBLE)
                   / (sqrt(CAST(nn AS DOUBLE)) * sqrt(CAST(qq AS DOUBLE)))
                   AS cos
        FROM dots CROSS JOIN qq
        WHERE vec_id <> {similarity.RRF_QUERY_VEC}
    ),
    qlab AS (SELECT label AS q_label FROM embeddings
             WHERE vec_id = {similarity.RRF_QUERY_VEC}),
    scored AS (
        SELECT c.vec_id, c.cos,
               CAST(e.label = q_label AS INT) AS rel
        FROM cosr c JOIN embeddings e ON e.vec_id = c.vec_id
        CROSS JOIN qlab
    ),
    ranked AS (
        SELECT rel,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS rk,
               row_number() OVER (ORDER BY rel DESC, cos DESC, vec_id)
                   AS ideal_rk
        FROM scored
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(rel) AS BIGINT) AS n_rel,
           CAST(sum(CASE WHEN rk <= {similarity.NDCG_AT}
                    THEN CAST(round(rel / log2(rk + 1), 9)
                              AS DECIMAL(18,9))
                    ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)
               AS dcg,
           CAST(sum(CASE WHEN ideal_rk <= {similarity.NDCG_AT}
                    THEN CAST(round(rel / log2(ideal_rk + 1), 9)
                              AS DECIMAL(18,9))
                    ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)
               AS idcg,
           round(CAST(sum(CASE WHEN rk <= {similarity.NDCG_AT}
                          THEN CAST(round(rel / log2(rk + 1), 9)
                                    AS DECIMAL(18,9))
                          ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)
                 / CAST(sum(CASE WHEN ideal_rk <= {similarity.NDCG_AT}
                            THEN CAST(round(rel / log2(ideal_rk + 1), 9)
                                      AS DECIMAL(18,9))
                            ELSE CAST(0 AS DECIMAL(18,9)) END)
                        AS DOUBLE), 6) AS ndcg
    FROM ranked
    """,
)

register(
    "q_target_encode",
    analytics.q_target_encode,
    f"""
    WITH cells AS (
        SELECT p_brand,
               CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
                    || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8))
                    ::UBIGINT % {analytics.TARGET_FOLDS} AS INT) AS fold,
               count(*) AS n,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1, 2
    )
    SELECT p_brand,
           fold,
           CAST(n AS BIGINT) AS n,
           round(CAST(sum(s) OVER (PARTITION BY p_brand) - s AS DOUBLE)
                 / (sum(n) OVER (PARTITION BY p_brand) - n), 6)
               AS oof_mean,
           round(CAST(sum(s) OVER (PARTITION BY p_brand) AS DOUBLE)
                 / sum(n) OVER (PARTITION BY p_brand), 6) AS brand_mean
    FROM cells
    """,
)

register(
    "q_woe_iv",
    analytics.q_woe_iv,
    """
    WITH cells AS (
        SELECT l_discount,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS bad,
               sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END)
                   AS good
        FROM lineitem GROUP BY 1
    ),
    staged AS (
        SELECT l_discount, bad, good,
               bad * 1.0 / sum(bad) OVER () AS bad_share,
               good * 1.0 / sum(good) OVER () AS good_share
        FROM cells
    ),
    quant AS (
        SELECT *,
               CAST(round((bad_share - good_share)
                          * ln(bad_share / good_share), 9)
                    AS DECIMAL(18,9)) AS iv_term
        FROM staged
    )
    SELECT l_discount,
           CAST(bad AS BIGINT) AS bad,
           CAST(good AS BIGINT) AS good,
           round(bad_share, 6) AS bad_share,
           round(good_share, 6) AS good_share,
           round(ln(bad_share / good_share), 6) AS woe,
           CAST(iv_term AS DOUBLE) AS iv_term,
           round(CAST(sum(iv_term) OVER () AS DOUBLE), 6) AS iv_total
    FROM quant
    """,
)

register(
    "q_anomaly_seasonal",
    analytics.q_anomaly_seasonal,
    f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '{analytics.SEASONAL_EPOCH}',
                         CAST(o_orderdate AS DATE)) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    trended AS (
        SELECT day, day % 7 AS dow, CAST(rev AS DOUBLE) AS rev_d,
               CAST(sum(rev) OVER w AS DOUBLE) / 7.0 AS trend,
               count(*) OVER w AS n_win
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
        SELECT day, dow, rev_d, trend,
               CAST(round(rev_d - trend, 6) AS DECIMAL(18,6)) AS det_q
        FROM trended WHERE n_win = 7
    ),
    staged AS (
        SELECT day, dow, rev_d, trend,
               CAST(round(CAST(sum(det_q) OVER (PARTITION BY dow)
                               AS DOUBLE)
                          / count(*) OVER (PARTITION BY dow), 6)
                    AS DECIMAL(18,6)) AS smean,
               count(*) OVER (PARTITION BY dow) AS cnt
        FROM det
    ),
    staged2 AS (
        SELECT *, CAST(round(CAST(smean AS DOUBLE) / cnt, 9)
                       AS DECIMAL(18,9)) AS smean_div
        FROM staged
    ),
    fin AS (
        SELECT day, rev_d,
               (rev_d - trend)
                   - (CAST(smean AS DOUBLE)
                      - CAST(sum(smean_div) OVER () AS DOUBLE) / 7.0)
                   AS resid
        FROM staged2
    ),
    ranked AS (
        SELECT abs(resid) AS aresid,
               row_number() OVER (ORDER BY abs(resid)) AS rn,
               count(*) OVER () AS n
        FROM fin
    ),
    mad AS (
        SELECT avg(aresid) AS mad FROM ranked
        WHERE rn = floor((n + 1) / 2) OR rn = floor(n / 2) + 1
    )
    SELECT day,
           round(rev_d, 2) AS rev,
           round(resid, 4) AS resid,
           round({analytics.MAD_CONSISTENCY!r} * mad, 4)
               AS robust_sigma,
           CAST(abs(resid) > {analytics.ANOM_SEASONAL_K!r}
                * ({analytics.MAD_CONSISTENCY!r} * mad) AS INT)
               AS is_anomaly
    FROM fin CROSS JOIN mad
    """,
)

from etl_embargo_spark.plans import feature_pipeline  # noqa: E402

_FT_TYPES = analytics.FEATURE_EVENT_TYPES
_FT_COUNTS = ",\n               ".join(
    f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS n_{t}"
    for t in _FT_TYPES
)
_FT_GREATEST = ", ".join(f"n_{t}" for t in _FT_TYPES)
_FT_FAV = " ".join(
    f"WHEN n_{t} = g THEN '{t}'" for t in _FT_TYPES
)

register(
    "q_feature_table",
    feature_pipeline.q_feature_table,
    f"""
    WITH pu AS (
        SELECT user_id, count(*) AS n_events,
               {_FT_COUNTS},
               sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(18,2)) END)
                   AS purchase_total,
               min(date_diff('day', DATE '{feature_pipeline.FEATURE_EPOCH}',
                             CAST(ts AS DATE))) AS first_day,
               max(date_diff('day', DATE '{feature_pipeline.FEATURE_EPOCH}',
                             CAST(ts AS DATE))) AS last_day
        FROM events GROUP BY 1
    ),
    feat AS (
        SELECT *,
               CASE {_FT_FAV} END AS favorite_type,
               CAST(n_purchase > n_error AS INT) AS label,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::UBIGINT % {sampling.N_BUCKETS} AS BIGINT) AS bucket,
               CAST(('0x' || substr(md5('fold:'
                    || CAST(user_id AS VARCHAR)), 1, 8))
                    ::UBIGINT % {feature_pipeline.FEATURE_FOLDS} AS BIGINT)
                   AS fold
        FROM (SELECT *, greatest({_FT_GREATEST}) AS g FROM pu)
    ),
    cells AS (
        SELECT favorite_type, fold, sum(label) AS s, count(*) AS n
        FROM feat GROUP BY 1, 2
    ),
    enc AS (
        SELECT favorite_type, fold,
               CASE WHEN (sum(n) OVER w - n) > 0
                    THEN (sum(s) OVER w - s) * 1.0
                         / (sum(n) OVER w - n)
                    ELSE sum(s) OVER w * 1.0 / sum(n) OVER w
               END AS te_raw
        FROM cells
        WINDOW w AS (PARTITION BY favorite_type)
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           {", ".join(f"CAST(n_{t} AS BIGINT) AS n_{t}" for t in _FT_TYPES)},
           CAST(coalesce(purchase_total, 0) AS DOUBLE)
               AS purchase_total,
           CAST(first_day AS INT) AS first_day,
           CAST(last_day - first_day AS INT) AS days_span,
           favorite_type,
           label,
           CASE WHEN bucket < {sampling.TRAIN_UPTO} THEN 'train'
                WHEN bucket < {sampling.VAL_UPTO} THEN 'val'
                ELSE 'test' END AS split,
           CAST(fold AS INT) AS fold,
           round(te_raw, 6) AS te_favorite
    FROM feat JOIN enc USING (favorite_type, fold)
    """,
)

register(
    "q_snaive_forecast",
    analytics.q_snaive_forecast,
    f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '{analytics.SEASONAL_EPOCH}',
                         CAST(o_orderdate AS DATE)) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    ),
    staged AS (
        SELECT day, rev,
               lag(rev, {analytics.SNAIVE_SEASON})
                   OVER (ORDER BY day) AS yhat,
               max(day) OVER () AS max_day
        FROM daily
    ),
    flagged AS (
        SELECT day, rev, yhat,
               CAST(day > max_day - {analytics.SNAIVE_HOLDOUT} AS INT)
                   AS is_holdout,
               abs(rev - yhat) AS ae
        FROM staged WHERE yhat IS NOT NULL
    ),
    scored AS (
        SELECT day, is_holdout, rev, yhat, ae,
               sum(CASE WHEN is_holdout = 0 THEN ae END) OVER ()
                   AS train_ae_sum,
               sum(CASE WHEN is_holdout = 0 THEN 1 ELSE 0 END) OVER ()
                   AS train_n
        FROM flagged
    )
    SELECT day,
           CAST(rev AS DOUBLE) AS rev,
           CAST(yhat AS DOUBLE) AS yhat,
           CAST(ae AS DOUBLE) AS ae,
           round(CAST(train_ae_sum AS DOUBLE) / train_n, 4)
               AS train_mae,
           round(CAST(ae AS DOUBLE)
                 / (CAST(train_ae_sum AS DOUBLE) / train_n), 6)
               AS mase
    FROM scored WHERE is_holdout = 1
    """,
)

register("q_markov_attribution", graph.q_markov_attribution, pinned_oracle("q_markov_attribution"))

register(
    "q_uplift",
    analytics.q_uplift,
    """
    WITH per_ut AS (
        SELECT user_id, event_type, count(*) AS n_ut
        FROM events GROUP BY 1, 2
    ),
    per_user AS (
        SELECT user_id,
               event_type AS segment,
               CAST(user_id % 2 AS INT) AS variant,
               CAST(n_purchase > n_error AS BIGINT) AS converted
        FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY n_ut DESC, event_type ASC) AS rk,
                   sum(CASE WHEN event_type = 'purchase' THEN n_ut
                            ELSE 0 END)
                       OVER (PARTITION BY user_id) AS n_purchase,
                   sum(CASE WHEN event_type = 'error' THEN n_ut
                            ELSE 0 END)
                       OVER (PARTITION BY user_id) AS n_error
            FROM per_ut
        ) WHERE rk = 1
    ),
    cells AS (
        SELECT segment, variant, count(*) AS n, sum(converted) AS conv
        FROM per_user GROUP BY 1, 2
    ),
    wide AS (
        SELECT segment, n, conv,
               sum(CASE WHEN variant = 0 THEN n END)
                   OVER (PARTITION BY segment) AS n0,
               sum(CASE WHEN variant = 0 THEN conv END)
                   OVER (PARTITION BY segment) AS c0,
               variant
        FROM cells
    )
    SELECT segment,
           CAST(n0 AS BIGINT) AS n_control,
           CAST(c0 AS BIGINT) AS conv_control,
           CAST(n AS BIGINT) AS n_treat,
           CAST(conv AS BIGINT) AS conv_treat,
           round(c0 * 1.0 / n0, 6) AS rate_control,
           round(conv * 1.0 / n, 6) AS rate_treat,
           round(conv * 1.0 / n - c0 * 1.0 / n0, 6) AS uplift,
           CASE WHEN sqrt((conv * 1.0 / n) * (1.0 - conv * 1.0 / n) / n
                          + (c0 * 1.0 / n0) * (1.0 - c0 * 1.0 / n0) / n0)
                     > 0
                THEN round((conv * 1.0 / n - c0 * 1.0 / n0)
                     / sqrt((conv * 1.0 / n) * (1.0 - conv * 1.0 / n) / n
                            + (c0 * 1.0 / n0) * (1.0 - c0 * 1.0 / n0)
                              / n0), 6)
           END AS z
    FROM wide WHERE variant = 1 AND n0 IS NOT NULL
    """,
)

register("q_textrank", graph.q_textrank, pinned_oracle("q_textrank"))

register("q_calibration", clustering.q_calibration, pinned_oracle("q_calibration"))

register("q_stem", text.q_stem, pinned_oracle("q_stem"))

_LATERAL_TOPK_SQL = """
    SELECT n.n_name,
           t.c_name,
           CAST(round(t.c_acctbal * 100) AS BIGINT) AS acctbal_cents
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
"""


def _q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end LATERAL correlated subquery: per-nation top-2
    customers by balance.  Catalyst decorrelates the lateral into a
    broadcast join + per-group limit — the plan a hand-written window
    query would get, which is the point: the engine accepts the
    SQL-standard spelling without a physical penalty."""
    from etl_embargo_spark.catalog import load_table

    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL)


register("q_lateral_topk", _q_lateral_topk, _LATERAL_TOPK_SQL)

register(
    "q_dataset_diff",
    setops.q_dataset_diff,
    f"""
    WITH v2 AS (
        SELECT doc_id, md5(text) AS h2 FROM documents
        WHERE doc_id % 7 <> 0
    ),
    v1 AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 3 = 1 THEN text || ' [v1]'
                        ELSE text END) AS h1
        FROM documents WHERE doc_id % {setops.DIFF_HOLDOUT_MOD} <> 0
    ),
    j AS (
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN h1 IS NULL THEN 'added'
                    WHEN h2 IS NULL THEN 'removed'
                    WHEN h1 <> h2 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL OUTER JOIN v2 USING (doc_id)
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(doc_id) AS BIGINT) AS first_key,
           CAST(max(doc_id) AS BIGINT) AS last_key
    FROM j GROUP BY 1
    """,
)

_MDE_GRID_SQL = ", ".join(repr(m) for m in analytics.MDE_GRID)

register(
    "q_sample_size",
    analytics.q_sample_size,
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type = 'error'
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS converted
        FROM events GROUP BY 1
    ),
    base AS (
        SELECT count(*) AS n_obs, sum(converted) AS conv_obs
        FROM per_user WHERE user_id % 2 = 0
    ),
    grid AS (
        SELECT base.*, t.mde
        FROM base CROSS JOIN (
            SELECT unnest([{{_g}}]) AS mde) t
    ),
    calc AS (
        SELECT mde, n_obs,
               conv_obs * 1.0 / n_obs AS p1,
               conv_obs * 1.0 / n_obs + mde AS p2
        FROM grid
    )
    SELECT mde,
           CAST(n_obs AS BIGINT) AS n_obs,
           round(p1, 6) AS p_base,
           round(p2, 6) AS p_target,
           CAST(ceil(
               ({analytics.Z_ALPHA_2!r}
                * sqrt(2.0 * ((p1 + p2) / 2.0)
                       * (1.0 - (p1 + p2) / 2.0))
                + {analytics.Z_BETA!r}
                  * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
               * ({analytics.Z_ALPHA_2!r}
                  * sqrt(2.0 * ((p1 + p2) / 2.0)
                         * (1.0 - (p1 + p2) / 2.0))
                  + {analytics.Z_BETA!r}
                    * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
               / (mde * mde)) AS BIGINT) AS n_per_arm
    FROM calc
    """.replace("{_g}", _MDE_GRID_SQL),
)

register("q_als", recsys.q_als, pinned_oracle("q_als"))

register(
    "q_spatial_join",
    geo.q_spatial_join,
    f"""
    WITH pts AS (
        SELECT c_custkey AS cust_id,
               ('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)),
                    1, 8))::UBIGINT / 4294967296.0
                   * {geo.GEO_SPAN!r} + {geo.GEO_LAT_BASE!r} AS lat,
               ('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)),
                    1, 8))::UBIGINT / 4294967296.0
                   * {geo.GEO_SPAN!r} + {geo.GEO_LON_BASE!r} AS lon
        FROM customer
    )
    SELECT a.cust_id AS cust_a, b.cust_id AS cust_b,
           round(sqrt((a.lat - b.lat) * (a.lat - b.lat)
                      + (a.lon - b.lon) * (a.lon - b.lon)), 6)
               AS dist_deg
    FROM pts a JOIN pts b ON a.cust_id < b.cust_id
    WHERE (a.lat - b.lat) * (a.lat - b.lat)
          + (a.lon - b.lon) * (a.lon - b.lon)
          <= CAST({geo.GEO_RADIUS_DEG * geo.GEO_RADIUS_DEG!r} AS DOUBLE)
    """,
)

register(
    "q_stump",
    analytics.q_stump,
    f"""
    WITH stacked AS (
        SELECT 'l_quantity' AS feature, l_quantity AS val,
               CAST(l_returnflag = {analytics.STUMP_LABEL_FLAG!r} AS BIGINT)
                   AS y
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', l_discount,
               CAST(l_returnflag = {analytics.STUMP_LABEL_FLAG!r} AS BIGINT)
        FROM lineitem
    ),
    per_val AS (
        SELECT feature, val, count(*) AS n, sum(y) AS pos
        FROM stacked GROUP BY 1, 2
    ),
    cum AS (
        SELECT feature, val,
               sum(n) OVER (PARTITION BY feature ORDER BY val
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
               sum(pos) OVER (PARTITION BY feature ORDER BY val
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posl,
               sum(n) OVER (PARTITION BY feature) AS nt,
               sum(pos) OVER (PARTITION BY feature) AS post
        FROM per_val
    ),
    scored AS (
        SELECT feature, val, nl, nt - nl AS nr, nt, post,
               CAST((posl * posl + (nl - posl) * (nl - posl)) * (nt - nl)
                    + ((post - posl) * (post - posl)
                       + ((nt - nl) - (post - posl))
                         * ((nt - nl) - (post - posl))) * nl
                    AS DOUBLE) / (nl * (nt - nl)) AS purity
        FROM cum WHERE nl < nt
    )
    SELECT feature,
           round(val, 2) AS threshold,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           round(purity, 6) AS purity,
           round(purity / nt
                 - CAST(post * post + (nt - post) * (nt - post) AS DOUBLE)
                   / (nt * nt), 9) AS gain
    FROM (SELECT *, row_number() OVER (
              PARTITION BY feature ORDER BY purity DESC, val) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)

register(
    "q_chi2",
    analytics.q_chi2,
    """
    WITH stacked AS (
        SELECT 'segment' AS feature, c_mktsegment AS fval,
               CAST(c_acctbal > 0 AS INT) AS y
        FROM customer
        UNION ALL
        SELECT 'nation_band', CAST(c_nationkey % 5 AS VARCHAR),
               CAST(c_acctbal > 0 AS INT)
        FROM customer
    ),
    cells AS (
        SELECT feature, fval, y, count(*) AS obs
        FROM stacked GROUP BY 1, 2, 3
    ),
    terms AS (
        SELECT feature, fval, y,
               sum(obs) OVER (PARTITION BY feature) AS n,
               CAST(round(
                   CAST(obs * obs AS DOUBLE)
                   / (sum(obs) OVER (PARTITION BY feature, fval)
                      * sum(obs) OVER (PARTITION BY feature, y)), 12)
                   AS DECIMAL(38,12)) AS term
        FROM cells
    )
    SELECT feature,
           CAST(any_value(n) AS BIGINT) AS n,
           CAST((count(DISTINCT fval) - 1) * (count(DISTINCT y) - 1)
                AS BIGINT) AS dof,
           round(CAST(sum(term) * any_value(n) - any_value(n) AS DOUBLE), 6)
               AS chi2
    FROM terms GROUP BY feature
    """,
)

register("q_hierarchy_rollup", analytics.q_hierarchy_rollup,
         analytics._HIERARCHY_SQL)

register(
    "q_readability",
    text.q_readability,
    """
    WITH scored AS (
        SELECT lang,
               CAST(round(206.835
                   - 1.015 * (CAST(greatest(len(regexp_extract_all(
                         lower(text), '[a-z]+')), 1) AS DOUBLE)
                       / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
                   - 84.6 * (CAST(len(regexp_extract_all(
                         lower(text), '[aeiouy]+')) AS DOUBLE)
                       / greatest(len(regexp_extract_all(
                             lower(text), '[a-z]+')), 1)), 6)
                   AS DECIMAL(18,6)) AS score_d,
               CAST(round(CAST(greatest(len(regexp_extract_all(
                         lower(text), '[a-z]+')), 1) AS DOUBLE)
                   / greatest(len(regexp_extract_all(text, '[.!?]+')), 1), 6)
                   AS DECIMAL(18,6)) AS wps_d,
               CAST(round(CAST(len(regexp_extract_all(
                         lower(text), '[aeiouy]+')) AS DOUBLE)
                   / greatest(len(regexp_extract_all(
                         lower(text), '[a-z]+')), 1), 6)
                   AS DECIMAL(18,6)) AS spw_d
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(score_d) AS DOUBLE) / count(*), 6) AS avg_flesch,
           round(CAST(sum(wps_d) AS DOUBLE) / count(*), 6)
               AS avg_words_per_sentence,
           round(CAST(sum(spw_d) AS DOUBLE) / count(*), 6)
               AS avg_syllables_per_word
    FROM scored GROUP BY lang
    """,
)

register(
    "q_record_linkage",
    dedup.q_record_linkage,
    f"""
    WITH dirty AS (
        SELECT c_custkey + {dedup.LINK_ID_OFFSET} AS d_id,
               CASE WHEN c_custkey % {dedup.LINK_NAME_TYPO_MOD} = 1
                    THEN substr(c_name, 1, length(c_name) - 1) || 'X'
                    ELSE c_name END AS d_name,
               CASE WHEN c_custkey % {dedup.LINK_BAL_DRIFT_MOD} = 2
                    THEN c_acctbal + 0.75 ELSE c_acctbal END AS d_bal,
               c_nationkey AS d_nation, c_mktsegment AS d_segment
        FROM customer
        WHERE c_custkey % {dedup.LINK_DIRTY_DROP_MOD} <> 2
    ),
    pairs AS (
        SELECT m.c_custkey AS master_key, d.d_id,
               levenshtein(m.c_name, d.d_name) AS name_lev,
               (CASE WHEN levenshtein(m.c_name, d.d_name) <= 1
                     THEN {dedup.LINK_W_NAME!r}
                     ELSE {dedup.LINK_W_NAME_MISS!r} END
                + CASE WHEN abs(m.c_acctbal - d.d_bal) <= 1.0
                       THEN {dedup.LINK_W_BAL!r}
                       ELSE {dedup.LINK_W_BAL_MISS!r} END) AS score
        FROM customer m JOIN dirty d
          ON m.c_nationkey = d.d_nation AND m.c_mktsegment = d.d_segment
    )
    SELECT master_key, d_id, CAST(name_lev AS INT) AS name_lev, score
    FROM pairs WHERE score >= {dedup.LINK_THRESHOLD!r}
    """,
)

register(
    "q_interarrival",
    temporal.q_interarrival,
    """
    WITH gaps AS (
        SELECT event_type,
               date_diff('microsecond', lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id), ts) AS gap_us
        FROM events
    ),
    g AS (SELECT event_type, gap_us FROM gaps WHERE gap_us IS NOT NULL),
    stats AS (
        SELECT event_type, count(*) AS n_gaps, sum(gap_us) AS sum_us
        FROM g GROUP BY 1
    ),
    ranked AS (
        SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nd
        FROM g
    ),
    med AS (
        SELECT event_type, sum(gap_us) AS med_sum, count(*) AS med_n
        FROM ranked
        WHERE rn = CAST(floor((nd + 1) / 2.0) AS BIGINT)
           OR rn = CAST(floor(nd / 2.0) AS BIGINT) + 1
        GROUP BY 1
    )
    SELECT s.event_type,
           CAST(s.n_gaps AS BIGINT) AS n_gaps,
           round(s.sum_us / (s.n_gaps * 1000000.0), 6) AS avg_gap_s,
           round(m.med_sum / (m.med_n * 1000000.0), 6) AS median_gap_s
    FROM stats s JOIN med m USING (event_type)
    """,
)

register(
    "q_rolling_beta",
    analytics.q_rolling_beta,
    f"""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               year(o_orderdate) * 10000 + month(o_orderdate) * 100
                   + day(o_orderdate) AS d,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1, 2
    ),
    with_mkt AS (
        SELECT priority, d,
               CAST(rev AS DECIMAL(19,0)) AS y,
               CAST(sum(rev) OVER (PARTITION BY d) AS DECIMAL(19,0)) AS x
        FROM daily
    ),
    sums AS (
        SELECT priority, d,
               row_number() OVER (PARTITION BY priority ORDER BY d) AS rn,
               count(*) OVER wt AS n,
               sum(x) OVER wt AS sx,
               sum(y) OVER wt AS sy,
               sum(x * y) OVER wt AS sxy,
               sum(x * x) OVER wt AS sxx
        FROM with_mkt
        WINDOW wt AS (PARTITION BY priority ORDER BY d
                      ROWS BETWEEN {analytics.BETA_WINDOW - 1} PRECEDING
                      AND CURRENT ROW)
    )
    SELECT priority, d,
           CAST(n AS BIGINT) AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS beta
    FROM sums WHERE rn >= {analytics.BETA_WINDOW}
    """,
)

register(
    "q_rank_surface",
    analytics.q_rank_surface,
    """
    SELECT c_nationkey AS nation,
           c_custkey AS cust,
           c_acctbal AS bal,
           round(percent_rank() OVER w, 9) AS pct_rank,
           round(cume_dist() OVER w, 9) AS cume,
           nth_value(c_acctbal, 2) OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS runner_up
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)

register(
    "q_interp",
    analytics.q_interp,
    f"""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               year(o_orderdate) * 10000 + month(o_orderdate) * 100
                   + day(o_orderdate) AS d,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1, 2
    ),
    idx AS (
        SELECT priority, d, rev,
               row_number() OVER (PARTITION BY priority ORDER BY d) AS i
        FROM daily
    ),
    marked AS (
        SELECT priority, d, i,
               (i % {analytics.INTERP_KNOWN_MOD} = 0) AS observed,
               CASE WHEN i % {analytics.INTERP_KNOWN_MOD} = 0
                    THEN rev END AS y_obs
        FROM idx
    ),
    braced AS (
        SELECT priority, d, i, observed, y_obs,
               last_value(y_obs IGNORE NULLS) OVER wb AS y0,
               last_value(CASE WHEN y_obs IS NOT NULL THEN i END
                          IGNORE NULLS) OVER wb AS i0,
               first_value(y_obs IGNORE NULLS) OVER wf AS y1,
               first_value(CASE WHEN y_obs IS NOT NULL THEN i END
                           IGNORE NULLS) OVER wf AS i1
        FROM marked
        WINDOW wb AS (PARTITION BY priority ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY priority ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT priority, d, observed,
           round(CASE WHEN observed THEN CAST(y_obs AS DOUBLE)
                      ELSE y0 + CAST((y1 - y0) * (i - i0) AS DOUBLE)
                               / (i1 - i0)
                 END / 100.0, 6) AS revenue
    FROM braced
    WHERE y0 IS NOT NULL AND y1 IS NOT NULL
    """,
)

register(
    "q_weighted_median",
    analytics.q_weighted_median,
    """
    WITH per_price AS (
        SELECT l_returnflag AS flag, l_extendedprice AS price,
               sum(CAST(l_quantity AS BIGINT)) AS w
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT flag, price,
               sum(w) OVER (PARTITION BY flag ORDER BY price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumw,
               sum(w) OVER (PARTITION BY flag) AS totw
        FROM per_price
    ),
    crossing AS (
        SELECT flag, price, totw,
               row_number() OVER (PARTITION BY flag ORDER BY price) AS rn
        FROM cum WHERE 2 * cumw >= totw
    )
    SELECT flag, price AS weighted_median_price,
           CAST(totw AS BIGINT) AS total_qty
    FROM crossing WHERE rn = 1
    """,
)

_SPRT_INC_CONV = __import__("math").log(analytics.SPRT_P1 / analytics.SPRT_P0)
_SPRT_INC_FAIL = __import__("math").log(
    (1 - analytics.SPRT_P1) / (1 - analytics.SPRT_P0)
)

register(
    "q_sprt",
    analytics.q_sprt,
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type = 'error'
                               THEN 1 ELSE 0 END) AS INT) AS converted
        FROM events GROUP BY 1
    ),
    walk AS (
        SELECT CAST(user_id % 2 AS INT) AS variant, user_id, converted,
               CAST(CASE WHEN converted = 1
                         THEN {round(_SPRT_INC_CONV, 9)!r}
                         ELSE {round(_SPRT_INC_FAIL, 9)!r} END
                    AS DECIMAL(18,9)) AS inc
        FROM per_user
    ),
    llr AS (
        SELECT variant, user_id,
               sum(inc) OVER (PARTITION BY variant ORDER BY user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr,
               row_number() OVER (PARTITION BY variant ORDER BY user_id)
                   AS n
        FROM walk
    ),
    flagged AS (
        SELECT variant, n, llr,
               CASE WHEN llr >= {analytics.SPRT_A!r} THEN 'accept_h1'
                    WHEN llr <= {analytics.SPRT_B!r} THEN 'accept_h0'
               END AS decision
        FROM llr
    )
    SELECT variant,
           CAST(max(n) AS BIGINT) AS n_users,
           CAST(max(llr) AS DOUBLE) AS max_llr,
           CAST(min(llr) AS DOUBLE) AS min_llr,
           CAST(sum(CASE WHEN decision IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_beyond_bounds,
           CAST(min(CASE WHEN decision IS NOT NULL THEN n END) AS BIGINT)
               AS first_crossing_n,
           nullif(split_part(min(CASE WHEN decision IS NOT NULL
                THEN lpad(CAST(n AS VARCHAR), 12, '0') || ':' || decision
                END), ':', 2), '') AS first_decision
    FROM flagged GROUP BY variant
    """,
)

register(
    "q_anova",
    analytics.q_anova,
    """
    WITH per_g AS (
        SELECT c_mktsegment,
               count(*) AS n_g,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s_g,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)
                   * CAST(round(c_acctbal * 100) AS BIGINT)) AS q_g
        FROM customer GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS k,
               sum(n_g) AS n,
               sum(s_g) AS s,
               sum(q_g) AS q,
               sum(CAST(round(CAST(s_g AS DOUBLE) * s_g / n_g, 6)
                        AS DECIMAL(28,6))) AS t
        FROM per_g
    ),
    staged AS (
        SELECT k, n,
               t - CAST(round(CAST(s AS DOUBLE) * s / n, 6)
                        AS DECIMAL(28,6)) AS ssb_c2,
               CAST(q AS DECIMAL(28,6)) - t AS ssw_c2
        FROM tot
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n,
           round(CAST(ssb_c2 AS DOUBLE) / 10000.0, 4) AS ssb,
           round(CAST(ssw_c2 AS DOUBLE) / 10000.0, 4) AS ssw,
           round((CAST(ssb_c2 AS DOUBLE) / (k - 1))
                 / (CAST(ssw_c2 AS DOUBLE) / (n - k)), 9) AS f_stat
    FROM staged
    """,
)

register(
    "q_mannwhitney",
    analytics.q_mannwhitney,
    f"""
    WITH vc AS (
        SELECT c_acctbal,
               sum(CAST(c_mktsegment = {analytics.MW_SEGMENTS[0]!r}
                        AS BIGINT)) AS c1,
               sum(CAST(c_mktsegment = {analytics.MW_SEGMENTS[1]!r}
                        AS BIGINT)) AS c2
        FROM customer
        WHERE c_mktsegment IN ({analytics.MW_SEGMENTS[0]!r},
                               {analytics.MW_SEGMENTS[1]!r})
        GROUP BY 1
    ),
    ranked AS (
        SELECT c1, c2,
               coalesce(sum(c1 + c2) OVER (ORDER BY c_acctbal
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (c1 + c2 + 1) / 2.0 AS midrank
        FROM vc
    ),
    agg AS (
        SELECT sum(c1) AS n1, sum(c2) AS n2,
               sum(c1 * midrank) AS r1
        FROM ranked
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           r1 AS rank_sum_1,
           r1 - n1 * (n1 + 1) / 2.0 AS u1,
           round(((r1 - n1 * (n1 + 1) / 2.0) - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 * (n1 + n2 + 1) / 12.0), 9) AS z_score
    FROM agg
    """,
)

register(
    "q_kappa",
    text.q_kappa,
    rf"""
    WITH pred AS ({_LANG_ID_PRED}),
    j AS (
        SELECT d.lang AS lang_true, p.pred_lang
        FROM documents d JOIN pred p ON d.doc_id = p.doc_id
        WHERE d.n_chars > 0
    ),
    base AS (
        SELECT count(*) AS n,
               sum(CAST(pred_lang = lang_true AS BIGINT)) AS agree
        FROM j
    ),
    per_true AS (
        SELECT lang_true AS cls, count(*) AS n_true FROM j GROUP BY 1
    ),
    per_pred AS (
        SELECT pred_lang AS cls, count(*) AS n_pred FROM j GROUP BY 1
    ),
    pe_num AS (
        SELECT sum(coalesce(n_true, 0) * coalesce(n_pred, 0)) AS pe_num
        FROM per_true FULL OUTER JOIN per_pred USING (cls)
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(agree AS BIGINT) AS agree,
           round(CAST(agree AS DOUBLE) / n, 9) AS po,
           round(CAST(pe_num AS DOUBLE) / (n * n), 9) AS pe,
           round((CAST(agree AS DOUBLE) / n
                  - CAST(pe_num AS DOUBLE) / (n * n))
                 / (1 - CAST(pe_num AS DOUBLE) / (n * n)), 9) AS kappa
    FROM base CROSS JOIN pe_num
    """,
)

register(
    "q_did",
    analytics.q_did,
    f"""
    WITH panel AS (
        SELECT (user_id % 2 = 1) AS treated,
               (ts >= TIMESTAMP {analytics.DID_CUTOVER!r}) AS post,
               user_id, count(*) AS purchases
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2, 3
    ),
    cells AS (
        SELECT treated, post, count(*) AS n_users, sum(purchases) AS total
        FROM panel GROUP BY 1, 2
    ),
    wide AS (
        SELECT
            sum(CASE WHEN treated AND post THEN n_users END) AS nu_t_post,
            sum(CASE WHEN treated AND post THEN total END) AS to_t_post,
            sum(CASE WHEN treated AND NOT post THEN n_users END)
                AS nu_t_pre,
            sum(CASE WHEN treated AND NOT post THEN total END) AS to_t_pre,
            sum(CASE WHEN NOT treated AND post THEN n_users END)
                AS nu_c_post,
            sum(CASE WHEN NOT treated AND post THEN total END) AS to_c_post,
            sum(CASE WHEN NOT treated AND NOT post THEN n_users END)
                AS nu_c_pre,
            sum(CASE WHEN NOT treated AND NOT post THEN total END)
                AS to_c_pre
        FROM cells
    )
    SELECT CAST(nu_t_post AS BIGINT) AS n_treated_post,
           CAST(nu_c_post AS BIGINT) AS n_control_post,
           round(CAST(to_t_pre AS DOUBLE) / nu_t_pre, 9) AS treated_pre,
           round(CAST(to_t_post AS DOUBLE) / nu_t_post, 9) AS treated_post,
           round(CAST(to_c_pre AS DOUBLE) / nu_c_pre, 9) AS control_pre,
           round(CAST(to_c_post AS DOUBLE) / nu_c_post, 9) AS control_post,
           round((CAST(to_t_post AS DOUBLE) / nu_t_post
                  - CAST(to_t_pre AS DOUBLE) / nu_t_pre)
                 - (CAST(to_c_post AS DOUBLE) / nu_c_post
                    - CAST(to_c_pre AS DOUBLE) / nu_c_pre), 9)
               AS did_estimate
    FROM wide
    """,
)

register(
    "q_cv_folds",
    sampling.q_cv_folds,
    f"""
    WITH orders_f AS (
        SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
                     1, 8))::UBIGINT % {sampling.CV_FOLDS} AS INT) AS fold,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y
        FROM orders
    ),
    per_fold AS (
        SELECT fold, count(*) AS n_f, sum(y) AS s_f
        FROM orders_f GROUP BY 1
    ),
    totals AS (SELECT count(*) AS n, sum(y) AS s FROM orders_f),
    models AS (
        SELECT fold, n_f,
               CAST(s - s_f AS DOUBLE) / (n - n_f) AS yhat
        FROM per_fold CROSS JOIN totals
    ),
    scored AS (
        SELECT o.fold, m.n_f, m.yhat,
               CAST(round(abs(o.y - m.yhat), 4) AS DECIMAL(28,4)) AS err
        FROM orders_f o JOIN models m USING (fold)
    )
    SELECT fold,
           CAST(any_value(n_f) AS BIGINT) AS n_rows,
           round(any_value(yhat) / 100.0, 6) AS model_mean,
           round(CAST(sum(err) AS DOUBLE) / any_value(n_f) / 100.0, 6)
               AS mae
    FROM scored GROUP BY fold
    """,
)

register(
    "q_hash_ring",
    sampling.q_hash_ring,
    f"""
    WITH ring AS (
        SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                     1, 8))::UBIGINT % {sampling.RING_NODES} AS INT) AS node
        FROM customer
    ),
    per_node AS (SELECT node, count(*) AS n_keys FROM ring GROUP BY 1)
    SELECT node,
           CAST(n_keys AS BIGINT) AS n_keys,
           round(CAST(n_keys AS DOUBLE) / sum(n_keys) OVER (), 9) AS share,
           round(CAST(n_keys * {sampling.RING_NODES} AS DOUBLE)
                 / sum(n_keys) OVER (), 9) AS imbalance
    FROM per_node
    """,
)

register(
    "q_freshness",
    aggregates.q_freshness,
    """
    SELECT 'orders' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(year(o_orderdate) * 10000 + month(o_orderdate) * 100
                    + day(o_orderdate)) AS INT) AS last_day,
           CAST(count(DISTINCT year(o_orderdate) * 10000
                    + month(o_orderdate) * 100 + day(o_orderdate))
                AS BIGINT) AS n_days
    FROM orders
    UNION ALL
    SELECT 'lineitem',
           CAST(count(*) AS BIGINT),
           CAST(max(year(l_shipdate) * 10000 + month(l_shipdate) * 100
                    + day(l_shipdate)) AS INT),
           CAST(count(DISTINCT year(l_shipdate) * 10000
                    + month(l_shipdate) * 100 + day(l_shipdate)) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events',
           CAST(count(*) AS BIGINT),
           CAST(max(year(ts) * 10000 + month(ts) * 100 + day(ts)) AS INT),
           CAST(count(DISTINCT year(ts) * 10000 + month(ts) * 100
                    + day(ts)) AS BIGINT)
    FROM events
    """,
)

register(
    "q_runs_test",
    analytics.q_runs_test,
    """
    WITH daily AS (
        SELECT year(o_orderdate) * 10000 + month(o_orderdate) * 100
                   + day(o_orderdate) AS d,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
    ),
    signs AS (
        SELECT d,
               CAST(rev > lag(rev) OVER (ORDER BY d) AS INT) AS up,
               lag(rev) OVER (ORDER BY d) IS NOT NULL AS has_prev
        FROM daily
    ),
    runs AS (
        SELECT up,
               CAST(up <> coalesce(lag(up) OVER (ORDER BY d), -1)
                    AS BIGINT) AS new_run
        FROM signs WHERE has_prev
    ),
    agg AS (
        SELECT sum(new_run) AS r, sum(up) AS n1, sum(1 - up) AS n2
        FROM runs
    )
    SELECT CAST(r AS BIGINT) AS n_runs,
           CAST(n1 AS BIGINT) AS n_up,
           CAST(n2 AS BIGINT) AS n_down,
           round(2.0 * n1 * n2 / (n1 + n2) + 1, 6) AS expected_runs,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt((2.0 * n1 * n2) * (2.0 * n1 * n2 - (n1 + n2))
                        / ((n1 + n2) * (n1 + n2) * ((n1 + n2) - 1))), 9)
               AS z_score
    FROM agg
    """,
)

register(
    "q_equidepth",
    aggregates.q_equidepth,
    f"""
    WITH per_val AS (
        SELECT l_extendedprice AS v, count(*) AS cnt
        FROM lineitem GROUP BY 1
    ),
    assigned AS (
        SELECT v, cnt,
               CAST(floor(coalesce(sum(cnt) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)
                   * {aggregates.EQUIDEPTH_BUCKETS}
                   / sum(cnt) OVER ()) AS INT) AS bucket
        FROM per_val
    )
    SELECT bucket,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS ndv,
           min(v) AS lo,
           max(v) AS hi
    FROM assigned GROUP BY bucket
    """,
)

register(
    "q_table_checksum",
    aggregates.q_table_checksum,
    """
    SELECT 'customer' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(('0x' || substr(md5(
                   CAST(c_custkey AS VARCHAR) || '|' || c_name || '|'
                   || CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment),
                   1, 8))::UBIGINT) AS DECIMAL(38,0)) AS DOUBLE) AS checksum
    FROM customer
    UNION ALL
    SELECT 'orders',
           CAST(count(*) AS BIGINT),
           CAST(CAST(sum(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '|'
                   || CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                   || '|' || o_orderpriority),
                   1, 8))::UBIGINT) AS DECIMAL(38,0)) AS DOUBLE)
    FROM orders
    """,
)

register(
    "q_mann_kendall",
    analytics.q_mann_kendall,
    """
    WITH monthly AS (
        SELECT year(o_orderdate) * 100 + month(o_orderdate) AS m,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
        FROM orders GROUP BY 1
    ),
    s_stat AS (
        SELECT CAST(sum(CAST(sign(CAST(b.rev - a.rev AS DOUBLE))
                             AS BIGINT)) AS BIGINT) AS s,
               count(*) AS n_pairs
        FROM monthly a JOIN monthly b ON a.m < b.m
    ),
    ties AS (
        SELECT count(*) AS n_distinct, sum(t) AS n,
               sum(t * (t - 1) * (2 * t + 5)) AS tie_term
        FROM (SELECT rev, count(*) AS t FROM monthly GROUP BY 1)
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(s AS BIGINT) AS s_stat,
           round(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE)
                 / 18.0, 6) AS var_s,
           round(CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
                          / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term
                                      AS DOUBLE) / 18.0)
                      WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
                          / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term
                                      AS DOUBLE) / 18.0)
                      ELSE 0.0 END, 9) AS z_score
    FROM s_stat CROSS JOIN ties
    """,
)

_BANDS = multimodal.SIZE_BANDS

register(
    "q_media_storage",
    multimodal.q_media_storage,
    f"""
    WITH base AS (
        SELECT doc_id,
               ['image', 'audio', 'video'][(doc_id % 3 + 1)] AS media_type,
               (doc_id % 8 + 1) * 4 AS w,
               (doc_id % 4 + 1) * 4 AS h,
               CASE WHEN text IS NULL OR text = '' THEN 1
                    ELSE octet_length(encode(text)) END AS raw_len
        FROM documents
    ),
    media AS (
        -- payload lengths mirror multimodal.synthetic_media exactly:
        -- image = P6 header + w*h*3 pixels; audio = 44-byte RIFF header +
        -- 2 bytes/sample with n clamped to [16, 2000]; video = raw bytes
        SELECT doc_id AS media_id, media_type,
               CASE media_type
                    WHEN 'image' THEN
                        9 + length(CAST(w AS VARCHAR))
                          + length(CAST(h AS VARCHAR)) + w * h * 3
                    WHEN 'audio' THEN
                        44 + 2 * least(greatest(raw_len, 16), 2000)
                    ELSE raw_len
               END AS nb
        FROM base
    )
    SELECT media_type,
           CASE WHEN nb < {_BANDS[0]} THEN '<{_BANDS[0]}'
                WHEN nb < {_BANDS[1]} THEN '<{_BANDS[1]}'
                WHEN nb < {_BANDS[2]} THEN '<{_BANDS[2]}'
                WHEN nb < {_BANDS[3]} THEN '<{_BANDS[3]}'
                ELSE '>={_BANDS[3]}' END AS size_band,
           CAST(count(*) AS BIGINT) AS n_objects,
           CAST(sum(nb) AS BIGINT) AS total_bytes,
           CAST(max(nb) AS BIGINT) AS max_bytes
    FROM media GROUP BY 1, 2
    """,
)

register(
    "q_join_size",
    skew.q_join_size,
    """
    WITH e1 AS (
        SELECT 'lineitem-orders' AS join_edge,
               CAST(count(*) AS BIGINT) AS n_shared_keys,
               CAST(sum(ca * cb) AS BIGINT) AS est_rows,
               CAST(max(ca * cb) AS BIGINT) AS max_key_rows
        FROM (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem
              GROUP BY 1) a
        JOIN (SELECT o_orderkey AS k, count(*) AS cb FROM orders
              GROUP BY 1) b USING (k)
    ),
    e2 AS (
        SELECT 'lineitem-part',
               CAST(count(*) AS BIGINT),
               CAST(sum(ca * cb) AS BIGINT),
               CAST(max(ca * cb) AS BIGINT)
        FROM (SELECT l_partkey AS k, count(*) AS ca FROM lineitem
              GROUP BY 1) a
        JOIN (SELECT p_partkey AS k, count(*) AS cb FROM part
              GROUP BY 1) b USING (k)
    ),
    e3 AS (
        SELECT 'lineitem-supplier',
               CAST(count(*) AS BIGINT),
               CAST(sum(ca * cb) AS BIGINT),
               CAST(max(ca * cb) AS BIGINT)
        FROM (SELECT l_suppkey AS k, count(*) AS ca FROM lineitem
              GROUP BY 1) a
        JOIN (SELECT s_suppkey AS k, count(*) AS cb FROM supplier
              GROUP BY 1) b USING (k)
    )
    SELECT * FROM e1 UNION ALL SELECT * FROM e2 UNION ALL SELECT * FROM e3
    """,
)

register(
    "q_average_precision",
    analytics.q_average_precision,
    f"""
    WITH vc AS (
        SELECT value,
               sum(CAST(event_type = {analytics.AUC_POSITIVE!r}
                        AS BIGINT)) AS pos,
               count(*) AS tot
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT pos,
               sum(pos) OVER (ORDER BY value DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_pos,
               sum(tot) OVER (ORDER BY value DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tot
        FROM vc
    ),
    terms AS (
        SELECT pos,
               CAST(round(pos * (CAST(cum_pos AS DOUBLE) / cum_tot), 9)
                    AS DECIMAL(28,9)) AS term
        FROM cum
    )
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           round(CAST(sum(term) AS DOUBLE) / sum(pos), 9)
               AS avg_precision
    FROM terms
    """,
)

register(
    "q_wasserstein",
    analytics.q_wasserstein,
    f"""
    WITH vc AS (
        SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v,
               sum(CAST(c_mktsegment = {analytics.W1_SEGMENTS[0]!r}
                        AS BIGINT)) AS c1,
               sum(CAST(c_mktsegment = {analytics.W1_SEGMENTS[1]!r}
                        AS BIGINT)) AS c2
        FROM customer
        WHERE c_mktsegment IN ({analytics.W1_SEGMENTS[0]!r},
                               {analytics.W1_SEGMENTS[1]!r})
        GROUP BY 1
    ),
    staged AS (
        SELECT v,
               sum(c1) OVER wc AS f1,
               sum(c2) OVER wc AS f2,
               sum(c1) OVER () AS n1,
               sum(c2) OVER () AS n2,
               lead(v) OVER (ORDER BY v) - v AS dv
        FROM vc
        WINDOW wc AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           round(CAST(sum(CAST(abs(f1 * n2 - f2 * n1) AS DECIMAL(38,0))
                          * dv) AS DOUBLE)
                 / (n1 * n2) / 100.0, 6) AS w1_dollars
    FROM staged WHERE dv IS NOT NULL
    GROUP BY n1, n2
    """,
)

register(
    "q_hhi",
    analytics.q_hhi,
    """
    WITH rev AS (
        SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) * 10000
                    AS DECIMAL(19,0)) AS s_i
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    )
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(CAST(sum(s_i * s_i) AS DOUBLE)
                 / (CAST(sum(s_i) AS DOUBLE) * CAST(sum(s_i) AS DOUBLE)),
                 9) AS hhi
    FROM rev GROUP BY nation
    """,
)

register(
    "q_cohens_d",
    analytics.q_cohens_d,
    f"""
    WITH g AS (
        SELECT c_mktsegment,
               count(*) AS n,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)
                   * CAST(round(c_acctbal * 100) AS BIGINT)) AS q
        FROM customer
        WHERE c_mktsegment IN ({analytics.MW_SEGMENTS[0]!r},
                               {analytics.MW_SEGMENTS[1]!r})
        GROUP BY 1
    ),
    wide AS (
        SELECT
            sum(CASE WHEN c_mktsegment = {analytics.MW_SEGMENTS[0]!r}
                     THEN n END) AS n1,
            sum(CASE WHEN c_mktsegment = {analytics.MW_SEGMENTS[0]!r}
                     THEN s END) AS s1,
            sum(CASE WHEN c_mktsegment = {analytics.MW_SEGMENTS[0]!r}
                     THEN q END) AS q1,
            sum(CASE WHEN c_mktsegment = {analytics.MW_SEGMENTS[1]!r}
                     THEN n END) AS n2,
            sum(CASE WHEN c_mktsegment = {analytics.MW_SEGMENTS[1]!r}
                     THEN s END) AS s2,
            sum(CASE WHEN c_mktsegment = {analytics.MW_SEGMENTS[1]!r}
                     THEN q END) AS q2
        FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           round(CAST(s1 AS DOUBLE) / n1 / 100.0, 6) AS mean_a,
           round(CAST(s2 AS DOUBLE) / n2 / 100.0, 6) AS mean_b,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(((q1 - CAST(s1 AS DOUBLE) * s1 / n1)
                         + (q2 - CAST(s2 AS DOUBLE) * s2 / n2))
                        / (n1 + n2 - 2)), 9) AS cohens_d
    FROM wide
    """,
)

register(
    "q_simpson",
    analytics.q_simpson,
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END)
                    > sum(CASE WHEN event_type = 'error'
                               THEN 1 ELSE 0 END) AS INT) AS conv
        FROM events GROUP BY 1
    ),
    cells AS (
        SELECT CAST(user_id % {analytics.SIMPSON_STRATA_MOD} AS INT)
                   AS stratum,
               CAST(user_id % 2 AS INT) AS variant,
               count(*) AS n, sum(conv) AS c
        FROM per_user GROUP BY 1, 2
    ),
    wide AS (
        SELECT stratum,
               sum(CASE WHEN variant = 0 THEN n END) AS n0,
               sum(CASE WHEN variant = 0 THEN c END) AS c0,
               sum(CASE WHEN variant = 1 THEN n END) AS n1,
               sum(CASE WHEN variant = 1 THEN c END) AS c1
        FROM cells GROUP BY 1
    ),
    stacked AS (
        SELECT stratum, n0, c0, n1, c1 FROM wide
        UNION ALL
        SELECT -1, sum(n0), sum(c0), sum(n1), sum(c1) FROM wide
    )
    SELECT stratum,
           CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
           CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
           round(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
           round(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
           CAST(sign(CAST(c1 * n0 - c0 * n1 AS DOUBLE)) AS INT)
               AS diff_sign
    FROM stacked
    """,
)

register(
    "q_theil",
    analytics.q_theil,
    """
    WITH spend AS (
        SELECT o.o_custkey AS cust, c.c_nationkey AS nation,
               sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n, sum(x) AS s FROM spend),
    t_total AS (
        SELECT any_value(t2.n) AS n,
               sum(CAST(round((x * t2.n) / CAST(t2.s AS DOUBLE)
                       * ln((x * t2.n) / CAST(t2.s AS DOUBLE)), 9)
                   AS DECIMAL(28,9))) AS sum_t
        FROM spend CROSS JOIN tot t2
    ),
    per_nation AS (
        SELECT nation, count(*) AS n_g, sum(x) AS s_g
        FROM spend GROUP BY 1
    ),
    t_between AS (
        SELECT sum(CAST(round(CAST(s_g AS DOUBLE) / t2.s
                       * ln(CAST(s_g AS DOUBLE) / t2.s * t2.n / n_g), 9)
                   AS DECIMAL(28,9))) AS sum_g
        FROM per_nation CROSS JOIN tot t2
    )
    SELECT CAST(t_total.n AS BIGINT) AS n_customers,
           round(CAST(sum_t AS DOUBLE) / t_total.n, 9) AS theil_total,
           round(CAST(sum_g AS DOUBLE), 9) AS theil_between,
           round(round(CAST(sum_t AS DOUBLE) / t_total.n, 9)
                 - round(CAST(sum_g AS DOUBLE), 9), 9) AS theil_within
    FROM t_total CROSS JOIN t_between
    """,
)

register(
    "q_minhash_pairs",
    dedup.minhash_pairs,
    pinned_oracle("q_minhash_pairs"),
)

register(
    "q_simhash_pairs",
    dedup.simhash_pairs,
    pinned_oracle("q_simhash_pairs"),
)

register(
    "q_embedding_pairs",
    dedup.embedding_pairs,
    pinned_oracle("q_embedding_pairs"),
)

register(
    "q_contrastive_pairs",
    similarity.q_contrastive_pairs,
    pinned_oracle("q_contrastive_pairs"),
)

register(
    "q_substr_dedup",
    text.q_substr_dedup,
    rf"""
    WITH toks AS (
        SELECT doc_id,
               list_slice(string_split_regex(trim(lower(text)), '\s+'),
                          1, {text.SUBSTR_MAX_TOKENS}) AS t
        FROM documents WHERE n_chars > 0
    ),
    ok AS (SELECT * FROM toks WHERE len(t) >= {text.SUBSTR_NGRAM}),
    grams AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(t, i, i + {text.SUBSTR_NGRAM} - 1), ' ')) AS g
        FROM ok, unnest(range(1, len(t) - {text.SUBSTR_NGRAM} + 2)) AS u(i)
    ),
    dup AS (
        SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_windows FROM grams GROUP BY 1),
    hits AS (
        SELECT doc_id, count(*) AS n_dup FROM grams JOIN dup USING (g)
        GROUP BY 1
    )
    SELECT p.doc_id,
           CAST(p.n_windows AS BIGINT) AS n_windows,
           CAST(coalesce(h.n_dup, 0) AS BIGINT) AS n_dup_windows,
           CAST(coalesce(h.n_dup, 0) AS DOUBLE) / p.n_windows AS dup_frac
    FROM per_doc p LEFT JOIN hits h USING (doc_id)
    """,
)


# ---------------------------------------------------------------------------
# Data layout (round 3): Z-order clustering + min/max skipping audit
# ---------------------------------------------------------------------------

def _duck_zkey(bits: int = layout.GRID_BITS) -> str:
    """Morton interleave as DuckDB integer arithmetic (mirrors
    sinks.layout.zorder_key bit for bit: dim d's bit i at position
    i*ndims + d, cols=[gx, gy] ⇒ gx on even lanes)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((gx >> {i}) & 1) << {2 * i})")
        terms.append(f"(((gy >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


register(
    "q_zorder_layout",
    layout.q_zorder_layout,
    f"""
    WITH m AS (
        SELECT max(l_partkey) AS max_p, max(l_suppkey) AS max_s FROM lineitem
    ),
    g AS (
        SELECT (l_partkey * {layout.GRID}) // (max_p + 1) AS gx,
               (l_suppkey * {layout.GRID}) // (max_s + 1) AS gy
        FROM lineitem, m
    ),
    z AS (
        SELECT gx, gy,
               ({_duck_zkey()}) // {layout.CELLS_PER_BLOCK} AS zblock,
               gx * {layout.GRID // layout.CELLS_PER_BLOCK}
                   + gy // {layout.CELLS_PER_BLOCK} AS lblock
        FROM g
    ),
    t AS (
        SELECT 'zorder' AS layout, zblock AS block, gx, gy FROM z
        UNION ALL
        SELECT 'linear' AS layout, lblock AS block, gx, gy FROM z
    ),
    b AS (
        SELECT layout, block,
               min(gx) AS min_gx, max(gx) AS max_gx,
               min(gy) AS min_gy, max(gy) AS max_gy,
               count(*) AS n_rows,
               sum(CASE WHEN gx BETWEEN {layout.BOX_LO} AND {layout.BOX_HI}
                         AND gy BETWEEN {layout.BOX_LO} AND {layout.BOX_HI}
                        THEN 1 ELSE 0 END) AS n_match
        FROM t GROUP BY layout, block
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(CASE WHEN min_gx <= {layout.BOX_HI}
                          AND max_gx >= {layout.BOX_LO}
                          AND min_gy <= {layout.BOX_HI}
                          AND max_gy >= {layout.BOX_LO}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_touched,
           CAST(sum(CASE WHEN min_gx <= {layout.BOX_HI}
                          AND max_gx >= {layout.BOX_LO}
                          AND min_gy <= {layout.BOX_HI}
                          AND max_gy >= {layout.BOX_LO}
                    THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_scanned,
           CAST(sum(n_match) AS BIGINT) AS n_rows_matching
    FROM b GROUP BY layout
    """,
)


register(
    "q_compaction_plan",
    listings.q_compaction_plan,
    f"""
    WITH files AS (
        SELECT a.prefix, a.name, a.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS bytes
        FROM ({_ARCHIVE_NAMES}) a JOIN orders o USING (o_orderkey)
    ),
    planned AS (
        SELECT prefix, name, bytes,
               CAST(coalesce(sum(bytes) OVER (
                       PARTITION BY prefix ORDER BY name, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // {listings.COMPACT_TARGET_BYTES} AS BIGINT)
                   AS bin_id
        FROM files
    )
    SELECT prefix, bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           min(name) AS first_name,
           max(name) AS last_name
    FROM planned GROUP BY prefix, bin_id
    """,
)


register(
    "q_dsir_weights",
    sampling.q_dsir_weights,
    f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(('0x' || substr(md5(tok), 1, 8))::UBIGINT
                    % {sampling.DSIR_BUCKETS} AS BIGINT) AS bucket
        FROM (
            SELECT doc_id, lang,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        )
    ),
    models AS (
        SELECT bucket,
               count(*) AS n_raw,
               sum(CASE WHEN lang = '{sampling.DSIR_TARGET_LANG}'
                        THEN 1 ELSE 0 END) AS n_tgt
        FROM toks GROUP BY bucket
    ),
    totals AS (
        SELECT sum(n_raw) AS tot_raw, sum(n_tgt) AS tot_tgt FROM models
    ),
    weights AS (
        SELECT bucket,
               CAST(round(ln(
                   ((n_tgt + 1) / (tot_tgt + {sampling.DSIR_BUCKETS}))
                   / ((n_raw + 1) / (tot_raw + {sampling.DSIR_BUCKETS}))
               ), 9) AS DECIMAL(12,9)) AS w
        FROM models, totals
    ),
    per_doc AS (
        SELECT doc_id, bucket, count(*) AS n
        FROM toks GROUP BY doc_id, bucket
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(n AS DECIMAL(10,0)) * w) AS DOUBLE) AS log_importance
    FROM per_doc JOIN weights USING (bucket)
    GROUP BY doc_id
    ORDER BY log_importance DESC, doc_id
    LIMIT {sampling.DSIR_TOP_K}
    """,
)

register(
    "q_bigram_lm",
    text.q_bigram_lm,
    rf"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents WHERE n_chars > 0
    ),
    vocab AS (
        SELECT count(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)
    ),
    big AS (
        SELECT doc_id, lang,
               unnest(list_transform(range(0, len(t) - 1),
                                     i -> t[i+1])) AS w1,
               unnest(list_transform(range(0, len(t) - 1),
                                     i -> t[i+2])) AS w2
        FROM toks WHERE len(t) >= 2
    ),
    dbc AS (
        SELECT doc_id, lang, w1, w2, count(*) AS n_d
        FROM big GROUP BY 1, 2, 3, 4
    ),
    cb AS (SELECT w1, w2, count(*) AS n_b FROM big GROUP BY 1, 2),
    cu AS (SELECT w1, count(*) AS n_u FROM big GROUP BY 1),
    ll AS (
        SELECT cb.w1, cb.w2,
               CAST(round(ln((n_b + 1.0) / (n_u + v)),
                          {text.BIGRAM_LL_DECIMALS})
                    AS DECIMAL(18,{text.BIGRAM_LL_DECIMALS})) AS ll
        FROM cb JOIN cu USING (w1), vocab
    )
    SELECT doc_id, lang,
           CAST(sum(n_d) AS BIGINT) AS n_bigrams,
           CAST(-sum(n_d * ll) * 1000000 AS BIGINT) AS nll_micro
    FROM dbc JOIN ll ON dbc.w1 = ll.w1 AND dbc.w2 = ll.w2
    GROUP BY 1, 2
    """,
)

register(
    "q_shapley_attribution",
    analytics.q_shapley_attribution,
    f"""
    WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = '{analytics.SHAPLEY_CONV}'
                        THEN ts END) AS fpts
        FROM events GROUP BY 1
    ),
    ch AS (
        SELECT event_type,
               CAST(row_number() OVER (ORDER BY event_type) - 1
                    AS INT) AS cid
        FROM (SELECT DISTINCT event_type FROM events
              WHERE event_type <> '{analytics.SHAPLEY_CONV}')
    ),
    touched AS (
        SELECT DISTINCT e.user_id, e.event_type
        FROM events e JOIN u USING (user_id)
        WHERE e.event_type <> '{analytics.SHAPLEY_CONV}'
          AND (u.fpts IS NULL OR e.ts < u.fpts)
    ),
    mu AS (
        SELECT user_id, bit_or(1 << cid) AS mask
        FROM touched JOIN ch USING (event_type) GROUP BY 1
    ),
    pu AS (
        SELECT coalesce(mu.mask, 0) AS mask,
               CASE WHEN u.fpts IS NULL THEN 0 ELSE 1 END AS conv
        FROM u LEFT JOIN mu USING (user_id)
    ),
    obs AS (SELECT mask, sum(conv) AS conv FROM pu GROUP BY 1),
    nch AS (SELECT count(*) AS n FROM ch),
    masks AS (SELECT unnest(range(0, 1 << n)) AS s, n FROM nch),
    v AS (
        SELECT s, n, coalesce(sum(conv), 0) AS v
        FROM masks LEFT JOIN obs ON (s & mask) = mask
        GROUP BY 1, 2
    ),
    term AS (
        SELECT ch.event_type, v.s, v.n, v.v, v2.v AS v_with
        FROM ch JOIN v ON ((v.s >> ch.cid) & 1) = 0
        JOIN v v2 ON v2.s = (v.s | (1 << ch.cid))
    ),
    num AS (
        SELECT event_type, max(n) AS n,
               sum(factorial(CAST(bit_count(s) AS INT))
                   * factorial(CAST(n - 1 - bit_count(s) AS INT))
                   * (v_with - v)) AS num
        FROM term GROUP BY 1
    )
    SELECT event_type AS channel,
           CAST(num AS BIGINT) AS num_weighted,
           round(num / factorial(CAST(n AS INT)), 6) AS shapley,
           round(num / nullif(sum(num) OVER (), 0), 6) AS share
    FROM num
    """,
)

register(
    "q_bloom_fpr",
    sketches.q_bloom_fpr,
    f"""
    WITH msel AS (
        SELECT {sketches.BLOOM_BITS_PER_KEY} * count(*) AS m FROM orders
    ),
    keyed AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS kk,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS member
        FROM orders
    ),
    pos AS (
        SELECT kk, member,
               CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || kk),
                                    1, 8))::UBIGINT AS BIGINT) % m AS p
        FROM keyed, (SELECT unnest(range(0, {sketches.BLOOM_K})) AS r),
             msel
    ),
    bits AS (SELECT DISTINCT p FROM pos WHERE member = 1),
    hits AS (
        SELECT kk, member, count(*) AS n_hit
        FROM pos JOIN bits USING (p) GROUP BY 1, 2
    ),
    fp AS (
        SELECT count(*) AS n_fp FROM hits
        WHERE member = 0 AND n_hit = {sketches.BLOOM_K}
    ),
    nb AS (SELECT count(*) AS n_bits_set FROM bits),
    base AS (
        SELECT CAST(sum(member) AS BIGINT) AS n_inserted,
               CAST(sum(1 - member) AS BIGINT) AS n_true_neg
        FROM keyed
    )
    SELECT CAST(m AS BIGINT) AS m, {sketches.BLOOM_K} AS k,
           n_inserted, n_bits_set, n_true_neg, n_fp,
           round(n_fp * 1.0 / n_true_neg, 6) AS fpr,
           round(n_bits_set * 1.0 / m, 6) AS fill_frac
    FROM base, nb, fp, msel
    """,
)

register(
    "q_label_propagation",
    graph.q_label_propagation,
    pinned_oracle("q_label_propagation"),
)

register("q_dbscan", geo.q_dbscan, pinned_oracle("q_dbscan"))

register(
    "q_welch_ttest",
    analytics.q_welch_ttest,
    f"""
    WITH g AS (
        SELECT c_mktsegment,
               count(*) AS n,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS s,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)
                   * CAST(round(c_acctbal * 100) AS BIGINT)) AS q
        FROM customer
        WHERE c_mktsegment IN ({analytics.WELCH_SEGMENTS[0]!r},
                               {analytics.WELCH_SEGMENTS[1]!r})
        GROUP BY 1
    ),
    wide AS (
        SELECT
            sum(CASE WHEN c_mktsegment = {analytics.WELCH_SEGMENTS[0]!r}
                     THEN n END) AS n1,
            sum(CASE WHEN c_mktsegment = {analytics.WELCH_SEGMENTS[0]!r}
                     THEN s END) AS s1,
            sum(CASE WHEN c_mktsegment = {analytics.WELCH_SEGMENTS[0]!r}
                     THEN q END) AS q1,
            sum(CASE WHEN c_mktsegment = {analytics.WELCH_SEGMENTS[1]!r}
                     THEN n END) AS n2,
            sum(CASE WHEN c_mktsegment = {analytics.WELCH_SEGMENTS[1]!r}
                     THEN s END) AS s2,
            sum(CASE WHEN c_mktsegment = {analytics.WELCH_SEGMENTS[1]!r}
                     THEN q END) AS q2
        FROM g
    ),
    se AS (
        SELECT n1, n2, s1, s2,
               ((q1 - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1
                   AS se1,
               ((q2 - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1)) / n2
                   AS se2
        FROM wide
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           round(CAST(s1 AS DOUBLE) / n1 / 100.0, 6) AS mean_a,
           round(CAST(s2 AS DOUBLE) / n2 / 100.0, 6) AS mean_b,
           round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                 / sqrt(se1 + se2), 9) AS t_welch,
           round((se1 + se2) * (se1 + se2)
                 / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 4)
               AS df_welch
    FROM se
    """,
)

register(
    "q_crosscorr",
    analytics.q_crosscorr,
    f"""
    WITH daily AS (
        SELECT CAST(o_orderdate::DATE - DATE '1992-01-01' AS INT) AS day,
               coalesce(sum(CASE WHEN o_orderpriority =
                                 {analytics.XCORR_PRIORITIES[0]!r}
                            THEN CAST(round(o_totalprice * 100) AS BIGINT)
                            END), 0) AS x,
               coalesce(sum(CASE WHEN o_orderpriority =
                                 {analytics.XCORR_PRIORITIES[1]!r}
                            THEN CAST(round(o_totalprice * 100) AS BIGINT)
                            END), 0) AS y
        FROM orders
        WHERE o_orderpriority IN ({analytics.XCORR_PRIORITIES[0]!r},
                                  {analytics.XCORR_PRIORITIES[1]!r})
        GROUP BY 1
    ),
    lagged AS (
        SELECT l.lag, d.x, d2.y AS y2
        FROM daily d,
             (SELECT unnest(range(-{analytics.XCORR_MAX_LAG},
                                  {analytics.XCORR_MAX_LAG} + 1))
                     AS lag) l
        JOIN daily d2 ON d.day + l.lag = d2.day
    ),
    sums AS (
        SELECT lag, count(*) AS n,
               sum(CAST(x AS DECIMAL(19,0))) AS sx,
               sum(CAST(y2 AS DECIMAL(19,0))) AS sy,
               sum(CAST(x AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0)))
                   AS sxy,
               sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
                   AS sxx,
               sum(CAST(y2 AS DECIMAL(19,0)) * CAST(y2 AS DECIMAL(19,0)))
                   AS syy
        FROM lagged GROUP BY 1
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                                        * CAST(sy AS DOUBLE) / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                                               * CAST(sx AS DOUBLE) / n)
                        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                                                 * CAST(sy AS DOUBLE) / n)),
                 6) AS r
    FROM sums
    """,
)

register(
    "q_conformal",
    analytics.q_conformal,
    """
    WITH base AS (
        SELECT o_orderkey % 3 AS split, o_orderpriority AS prio,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    mu AS (
        SELECT prio,
               CAST(round(CAST(sum(CAST(cents AS DECIMAL(28,0)))
                               AS DOUBLE) / count(*)) AS BIGINT)
                   AS mu_cents
        FROM base WHERE split = 0 GROUP BY prio
    ),
    scored AS (
        SELECT b.split, abs(b.cents - m.mu_cents) AS s
        FROM base b JOIN mu m USING (prio) WHERE b.split <> 0
    ),
    sc AS (
        SELECT s, count(*) AS c FROM scored WHERE split = 1 GROUP BY s
    ),
    ranked AS (
        SELECT s,
               sum(c) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(c) OVER () AS n_cal
        FROM sc
    ),
    qhat AS (
        SELECT n_cal, {KR} AS k_rank,
               min(s) AS q_hat
        FROM ranked WHERE cum >= {KR}
        GROUP BY n_cal
    )
    SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(q.k_rank AS BIGINT) AS k_rank,
           CAST(q.q_hat AS BIGINT) AS q_hat,
           CAST(sum(CASE WHEN t.s <= q.q_hat THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           round(sum(CASE WHEN t.s <= q.q_hat THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS coverage
    FROM (SELECT s FROM scored WHERE split = 2) t, qhat q
    GROUP BY q.n_cal, q.k_rank, q.q_hat
    """.format(KR=analytics.CONFORMAL_K_RANK_EXPR.format(div="//")),
)

register("q_kcore", graph.q_kcore, pinned_oracle("q_kcore"))

register("q_hits", graph.q_hits, pinned_oracle("q_hits"))

register("q_isotonic", clustering.q_isotonic, pinned_oracle("q_isotonic"))

register("q_bpe_encode", text.q_bpe_encode, pinned_oracle("q_bpe_encode"))

register(
    "q_mmr_diversify",
    similarity.q_mmr_diversify,
    pinned_oracle("q_mmr_diversify"),
)

register(
    "q_decontaminate_semantic",
    similarity.q_decontaminate_semantic,
    f"""
    WITH flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6)
                    AS BIGINT) AS qx
        FROM embeddings
    ),
    ev AS (SELECT vec_id AS evec_id, i, qx AS ev FROM flat
           WHERE vec_id % {similarity.SEMDECON_EVAL_MOD} = 0
             AND vec_id < {similarity.SEMDECON_EVAL_CAP}),
    ev_norms AS (
        SELECT evec_id, sum(ev * ev) AS ne FROM ev GROUP BY evec_id
    ),
    dots AS (
        SELECT f.vec_id, e.evec_id,
               sum(f.qx * e.ev) AS dot, sum(f.qx * f.qx) AS nn
        FROM flat f JOIN ev e USING (i)
        WHERE f.vec_id % {similarity.SEMDECON_EVAL_MOD} <> 0
           OR f.vec_id >= {similarity.SEMDECON_EVAL_CAP}
        GROUP BY f.vec_id, e.evec_id
    ),
    cosr AS (
        SELECT d.vec_id,
               CAST(d.dot AS DOUBLE)
                   / (sqrt(CAST(d.nn AS DOUBLE))
                      * sqrt(CAST(n.ne AS DOUBLE))) AS c
        FROM dots d JOIN ev_norms n USING (evec_id)
    )
    SELECT vec_id AS doc_id,
           CAST(sum(CASE WHEN c >= {similarity.SEMDECON_TAU} THEN 1
                         ELSE 0 END) AS BIGINT) AS n_eval_hits,
           round(max(c), 6) AS max_cos,
           sum(CASE WHEN c >= {similarity.SEMDECON_TAU} THEN 1
               ELSE 0 END) > 0 AS contaminated
    FROM cosr GROUP BY vec_id
    """,
)

register(
    "q_bpe_fertility",
    text.q_bpe_fertility,
    pinned_oracle("q_bpe_fertility"),
)
