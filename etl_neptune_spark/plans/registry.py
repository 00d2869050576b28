"""Certified-query registry.

Every operator from SURVEY.md §2 is certified by a named query: a
PySpark DataFrame program in ``QUERIES[name]`` plus (where the
semantics are SQL-expressible) a DuckDB-equivalent ANSI-SQL string in
``ORACLE[name]``. The driver runs both at sf=0.01 and compares
row-count + schema + order-insensitive value hash.

Plan modules call ``register(name, fn, sql)`` at import time.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# The source tree's ``spark-warehouse/``: plans that write their own
# tables (materialized views, stores, stream checkpoints) put them here.
WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


def scratch_dir(kind: str, sf_dir: str) -> str:
    """``spark-warehouse/<kind>_<tag>``, emptied: one plan's private
    directory per fixture (``tag`` is the fixture directory's name), so
    every run starts from nothing its previous run left behind."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    root = os.path.join(WAREHOUSE, f"{kind}_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    return root


def register(name: str, fn: QueryFn, sql: str | None = None) -> None:
    """Register a certified query and (optionally) its DuckDB oracle.

    Duplicate names are an error: plan modules import in a fixed order,
    so a name collision would silently SHADOW the earlier query (later
    module wins) and the registry count would drift from the number of
    register() calls — exactly how round 5's q_decontaminate briefly
    vanished. Module re-imports are safe (importlib caches the module,
    so register runs once per name)."""
    if name in QUERIES:
        raise ValueError(
            f"duplicate query registration: {name!r} — pick a distinct q-id"
        )
    QUERIES[name] = fn
    if sql is not None:
        ORACLE[name] = sql
