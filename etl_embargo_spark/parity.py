"""Local replica of the driver's DuckDB-oracle correctness check.

For every registered query: run the Spark DataFrame and the oracle SQL on
the same parquet tables, then compare row count, column-name set, and an
order-insensitive canonical form of the values (columns sorted by name,
every value canonicalized to a string, rows sorted).  This mirrors the
driver's check (see the __spark_entry__.py docstring);
tests/test_oracle_parity.py runs it for every registered query.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from etl_embargo_spark.catalog import TABLES

FLOAT_DECIMALS = 9  # canonicalization tolerance for float-valued columns


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with the catalog tables registered as views,
    matching the driver's pre-registered views."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon_value(v: object) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "␀"
    if isinstance(v, _decimal.Decimal):
        # Deliberately DISTINCT from the float renderings below: the
        # driver's value hash distinguishes Spark toPandas Decimal
        # objects from DuckDB fetchdf float64 (q_table_checksum failed
        # the r5 driver run while this replica — which used to collapse
        # Decimal('N') and float(N) to the same int string — passed).
        # A query whose two sides render as Decimal-vs-float must FAIL
        # here too; emit DOUBLE on both sides instead (CLAUDE.md rule).
        if v == 0:
            # Decimal('-0.000') must canonicalize like Decimal('0') —
            # mirror the float branch's integer collapse (ADVICE r6).
            return "dec:0"
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return f"dec:{s}"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.{FLOAT_DECIMALS}e}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    """Columns sorted by name, values canonicalized, rows sorted."""
    cols = sorted(df.columns)
    out = [
        tuple(_canon_value(row[c]) for c in cols)
        for _, row in df[cols].iterrows()
    ]
    return sorted(out)


@dataclass
class ParityReport:
    name: str
    spark_rows: int
    oracle_rows: int
    schema_match: bool
    values_match: bool
    mismatches: list[str] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return (
            self.spark_rows == self.oracle_rows
            and self.schema_match
            and self.values_match
        )


def compare(
    name: str,
    spark_pdf: pd.DataFrame,
    oracle_pdf: pd.DataFrame,
    max_mismatches: int = 5,
) -> ParityReport:
    schema_match = sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    report = ParityReport(
        name=name,
        spark_rows=len(spark_pdf),
        oracle_rows=len(oracle_pdf),
        schema_match=schema_match,
        values_match=False,
    )
    if not schema_match:
        report.mismatches.append(
            f"columns spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}"
        )
        return report
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    report.values_match = s_rows == o_rows
    if not report.values_match:
        s_set, o_set = set(s_rows), set(o_rows)
        for r in list(s_set - o_set)[:max_mismatches]:
            report.mismatches.append(f"spark-only: {r}")
        for r in list(o_set - s_set)[:max_mismatches]:
            report.mismatches.append(f"oracle-only: {r}")
    return report
