"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship query (rule-scored documents → tier ladder → top-k)
               on /root/testdata/sf0.001.
queries()    — operator registry from osmgraft.contract and the contract_*
               modules imported below, in registration order.
oracle_sql() — DuckDB-equivalent SQL for every oracle-expressible query;
               hash/sample-based ops are registered rows-only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osmgraft import contract as _contract  # noqa: E402
from osmgraft import contract_text as _contract_text  # noqa: E402,F401  (registers entries)
from osmgraft import contract_media as _contract_media  # noqa: E402,F401  (registers entries)
from osmgraft import contract_cells as _contract_cells  # noqa: E402,F401  (registers entries)
from osmgraft import contract_tracks as _contract_tracks  # noqa: E402,F401  (registers entries)
from osmgraft import contract_corpus as _contract_corpus  # noqa: E402,F401  (registers entries)
from osmgraft import contract_web as _contract_web  # noqa: E402,F401  (registers entries)
from osmgraft import contract_select as _contract_select  # noqa: E402,F401  (registers entries)
from osmgraft import contract_mining as _contract_mining  # noqa: E402,F401  (registers entries)
from osmgraft import contract_raster as _contract_raster  # noqa: E402,F401  (registers entries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _contract.QUERIES["scored_documents"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_contract.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle for each oracle-expressible query."""
    return dict(_contract.ORACLES)
