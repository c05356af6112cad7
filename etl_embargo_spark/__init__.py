"""etl_embargo_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of m-lab/etl-embargo, re-expressed Spark-first.

The reference (m-lab/etl-embargo, Go) is a batch ETL pipeline: scan a bucket
prefix, explode .tgz archives into per-file records, classify each record
public/embargoed by a three-term predicate (date cutoff OR non-web100 OR
whitelist membership), route to two sinks, and run set-algebra over bucket
listings (sync = anti-join, compare = full-outer diff, unembargo =
last-writer-wins merge).  Here every one of those operators is a declarative
DataFrame program so Catalyst/Tungsten (pushdown, pruning, broadcast, AQE,
whole-stage codegen) picks the physical strategy — see SURVEY.md §2 for the
operator-by-operator mapping with reference file:line citations.

Layout:
  session     — SparkSession setup sized to the usable CPUs and for scale-out
  catalog     — explicit-schema parquet loaders for the test tables
  functions/  — scalar function layer (filename grammar, dates, ipv6)
  operators/  — embargo classifier, set ops, aggregations, dedup,
                similarity, text analysis, multimodal plumbing
  sources/    — tar-archive exploder, line-text, JSON sources
  sinks/      — routed (partitioned) dual-sink write
  plans/      — end-to-end pipeline compositions (E1-E3)
  streaming/  — Structured Streaming wrappers for the cron cadence
  registry    — the (queries, oracle_sql) registry consumed by
                __spark_entry__.py and tests/test_oracle_parity.py
"""

__version__ = "0.1.0"
