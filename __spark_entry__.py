"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).  ``tests/test_oracle_parity.py`` runs the
same comparison (``etl_embargo_spark/parity.py``) for every registered
query on every test run.

All real logic lives in the ``etl_embargo_spark`` package; this module just
re-exports the registry (etl_embargo_spark/registry.py).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from etl_embargo_spark import registry  # noqa: E402
from etl_embargo_spark.session import tune_for_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The embargo classifier (SURVEY P4 + J1 + F5): every fact row tagged
    public/private via date-cutoff OR category OR broadcast-whitelist
    membership — the core of /root/reference/embargo.go:174.
    """
    tune_for_session(spark)
    return registry.queries()["q_split_partition"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each SQL-expressible query in ``queries()``."""
    return registry.oracle_sql()
