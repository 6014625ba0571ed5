"""Query registry: the engine's declared query surface.

Every operator the engine claims (SURVEY.md §2 + the training-data
extension ops) is declared here as a :class:`QuerySpec`: a Spark
callable ``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible,
an equivalent ANSI-SQL oracle string for DuckDB.  The driver (and our
own ``tests/test_parity.py``) runs both sides and compares row count,
schema, and order-insensitive values — so every computed column is
aliased identically on both sides.

Float determinism: aggregate sums are computed over ``decimal`` casts
(exact arithmetic, identical in Spark and DuckDB) and cast back to
``double`` at the end; averages are exact-sum / count in double.  This
makes value-hash comparisons bit-stable across engines.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str
    bench: bool = False  # include in bench.py headline set


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    description: str = "",
    bench: bool = False,
):
    """Register a query implementation under ``name``.

    Raises ``ValueError`` if ``name`` is already registered: a second
    definition would silently replace the first.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = QuerySpec(name, fn, oracle, description, bench)
        return fn

    return deco


# ---- shared expression helpers (exact decimal aggregation) ----

DEC = "decimal(18,2)"


def dec(col: str):
    """Exact 2-decimal view of a stored double column."""
    return F.col(col).cast(DEC)


def dsum(expr, alias: str):
    """Exact decimal sum, surfaced as double (bit-stable across engines)."""
    return F.sum(expr).cast("double").alias(alias)


def davg(expr, alias: str):
    """Exact-sum / count average in double (bit-stable across engines)."""
    return (F.sum(expr).cast("double") / F.count(F.lit(1)).cast("double")).alias(alias)


def epoch_us(col):
    """Microseconds since epoch for a TIMESTAMP_NTZ column.

    The corpus stores ``events.ts`` as naive microsecond timestamps,
    which Spark reads as TIMESTAMP_NTZ; ``unix_micros`` only accepts
    TIMESTAMP (LTZ).  Wall-clock diff from the NTZ epoch is timezone-free
    and bit-identical to DuckDB's ``epoch_us(ts)`` on naive timestamps.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.timestamp_diff(
        "MICROSECOND", F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"), c
    )


@functools.cache
def _scratch_root() -> str:
    root = tempfile.mkdtemp(prefix="clickbom_spark-")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def scratch_path(*parts: str) -> str:
    """Path under this process's scratch root for query-side writes.

    The root is a private directory under ``tempfile.gettempdir()``,
    created on first use and removed when the process exits, so
    concurrent runs never share a path.
    """
    return os.path.join(_scratch_root(), *parts)


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    from clickbom_spark.session import read_table

    return [read_table(spark, sf_dir, n) for n in names]


# Import modules for their registration side effects.  Callers walk the
# registry in insertion order, so this list fixes the query order.
from clickbom_spark.queries import formats  # noqa: E402,F401
from clickbom_spark.queries import olap_ops  # noqa: E402,F401
from clickbom_spark.queries import sql_surface  # noqa: E402,F401
from clickbom_spark.queries import llm_ops  # noqa: E402,F401
from clickbom_spark.queries import relational2  # noqa: E402,F401
from clickbom_spark.queries import relational3  # noqa: E402,F401
from clickbom_spark.queries import scale_ops  # noqa: E402,F401
from clickbom_spark.queries import multimodal  # noqa: E402,F401
from clickbom_spark.queries import event_windows  # noqa: E402,F401
from clickbom_spark.queries import dedup  # noqa: E402,F401
from clickbom_spark.queries import similarity  # noqa: E402,F401
from clickbom_spark.queries import text  # noqa: E402,F401
from clickbom_spark.queries import sbom_mapped  # noqa: E402,F401
from clickbom_spark.queries import analytics  # noqa: E402,F401
from clickbom_spark.queries import relational  # noqa: E402,F401
from clickbom_spark.queries import curation  # noqa: E402,F401
from clickbom_spark.queries import engine_ops  # noqa: E402,F401
from clickbom_spark.queries import order_stats  # noqa: E402,F401
from clickbom_spark.queries import dialect_r12  # noqa: E402,F401
from clickbom_spark.queries import staged  # noqa: E402,F401
from clickbom_spark.queries import staged_r7  # noqa: E402,F401
from clickbom_spark.queries import staged_r8  # noqa: E402,F401
from clickbom_spark.queries import staged_r9  # noqa: E402,F401
from clickbom_spark.queries import staged_r10  # noqa: E402,F401
from clickbom_spark.queries import staged_r11  # noqa: E402,F401
from clickbom_spark.queries import staged_r12  # noqa: E402,F401
from clickbom_spark.queries import staged_r13  # noqa: E402,F401
from clickbom_spark.queries import staged_r14  # noqa: E402,F401
