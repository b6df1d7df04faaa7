"""Registry plumbing + numeric-determinism helpers.

Why the decimal trick: Spark sums doubles in partition order, DuckDB in
its own order — reassociation changes the last ULPs, which breaks
value-hash comparison. Casting each addend to DECIMAL(18,x) makes the
sum EXACT (order-independent) in both engines; casting the exact sum to
double and rounding then yields bit-identical results on both sides.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from market_pulse_data_pipeline_spark.sources.tables import load_table


@dataclass
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records a rows-only check
    bench: bool = False  # include in bench.py headline set
    doc: str = ""


QUERY_REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None,
    bench: bool = False,
    doc: str = "",
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERY_REGISTRY[name] = QueryDef(name, fn, oracle, bench, doc)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Per-process scratch root for queries that write files: an oracle
# f-string and its Spark function share the path within one process,
# while concurrent harness processes get distinct roots. Content is
# fully deterministic; only the location varies. Removed at exit.
SCRATCH_ROOT = os.path.join(tempfile.gettempdir(), f"mp_scratch_{os.getpid()}")
atexit.register(shutil.rmtree, SCRATCH_ROOT, ignore_errors=True)


def scratch(name: str) -> str:
    """An emptied ``SCRATCH_ROOT/name`` path (names are unique across
    the query modules)."""
    path = os.path.join(SCRATCH_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def exact_sum(col: Column, scale: int = 6) -> Column:
    """Order-independent SUM of a double column via exact decimal addition.

    Pick ``scale`` ≥ the exact decimal digit count of the expression (a
    product of two 2-decimal inputs has ≤4, with one more factor ≤6):
    the cast then recovers the mathematically exact value on both
    engines, so no rounding tie can ever arise.
    """
    return F.sum(col.cast(f"decimal(20,{scale})")).cast("double")


def round_sum(col: Column, scale: int = 6, digits: int = 2) -> Column:
    """ROUND applied to the exact decimal sum (half-away-from-zero in both
    engines), THEN cast to double — rounding after the double cast would
    reintroduce representation-boundary divergence."""
    return F.round(F.sum(col.cast(f"decimal(20,{scale})")), digits).cast("double")


def round_div(numer: Column, denom: Column, digits: int = 4) -> Column:
    """Deterministically rounded quotient of two identically-computed
    operands.

    The quotient itself is bit-identical across engines (same IEEE
    division), but rounding it as a DOUBLE is not: when the divisor is a
    power of two the quotient is EXACT with a terminating decimal
    expansion, landing precisely on rounding ties — where Spark
    (BigDecimal half-up) and DuckDB (x*10^d float path) disagree.
    Routing through DECIMAL(28, digits+4) first makes the tie a decimal
    tie, which both engines round half-away-from-zero identically.
    """
    q = (numer / denom).cast(f"decimal(28,{digits + 4})")
    return F.round(q, digits).cast("double")


def sql_round_div(numer: str, denom: str, digits: int = 4) -> str:
    return (
        f"CAST(ROUND(CAST(({numer}) / ({denom}) AS DECIMAL(28,{digits + 4})), "
        f"{digits}) AS DOUBLE)"
    )


def round_avg(col: Column, scale: int = 6, digits: int = 4) -> Column:
    """AVG as exact-sum / count, rounded via the decimal-quotient route."""
    return round_div(exact_sum(col, scale), F.count(F.lit(1)), digits)


def sql_exact_sum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(20,{scale}))) AS DOUBLE)"


def sql_round_sum(expr: str, scale: int = 6, digits: int = 2) -> str:
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(20,{scale}))), {digits}) "
        f"AS DOUBLE)"
    )


def sql_round_avg(expr: str, scale: int = 6, digits: int = 4) -> str:
    return sql_round_div(sql_exact_sum(expr, scale), "COUNT(*)", digits)
