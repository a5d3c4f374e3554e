"""Operator registry — single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers itself here with a name, a
(spark, sf_dir) -> DataFrame callable, and (usually) a DuckDB oracle SQL
string. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin reads
of this registry, so an operator is "declared" exactly when its module
registers it — no drift between code and contract.

Design rule (SURVEY.md §0.2): every float aggregate is rounded the same
way on both sides (helpers in functions/numeric.py), every computed
column is aliased identically in Spark and SQL, and timestamps are
emitted as strings/dates — the driver's order-insensitive value-hash
then compares bit-identical values.
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Modules that register operators on import. Order follows SURVEY.md §7
# build phases; importing the package wires the whole inventory.
_OPERATOR_MODULES = [
    "logdb_spark.operators.scans",
    "logdb_spark.operators.filters",
    "logdb_spark.operators.joins",
    "logdb_spark.operators.aggs",
    "logdb_spark.operators.windows",
    "logdb_spark.operators.sorts",
    "logdb_spark.operators.setops",
    "logdb_spark.operators.scalars",
    "logdb_spark.operators.logops",
    "logdb_spark.operators.llm",
    "logdb_spark.operators.multimodal",
    "logdb_spark.operators.sampling",
    "logdb_spark.operators.layout",
    "logdb_spark.operators.tableformat",
    "logdb_spark.operators.analytics",
    "logdb_spark.operators.udfs",
    "logdb_spark.streaming.batch_equiv",
]


@dataclass(frozen=True)
class Operator:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → driver's rows-only check
    section: str  # SURVEY.md §2 subsection, for reporting


_REGISTRY: dict[str, Operator] = {}
_LOADED = False


def _enumeration_order(ops: dict[str, Operator]) -> list[str]:
    phase = {m: i for i, m in enumerate(_OPERATOR_MODULES)}
    # Stable sort: module build-phase order, registration order within
    # a module. Keying on the module keeps the order the same when a
    # module is imported before the registry loads (LogDB imports the
    # kernels it shares).
    return sorted(ops, key=lambda n: phase[ops[n].fn.__module__])


# Persisted intermediates tracked for deferred release. An operator
# that persist()s cannot unpersist before returning — its lazy result
# still reads the cached relation — so the earliest safe point is when
# the NEXT operator is invoked (the consumer's action has run by then
# in every harness: driver, diffcheck, bench, tests). register() wraps
# every operator to release here first, bounding live cache to one
# operator's worth across a full-registry session (ADVICE r1).
_TRACKED_CACHES: list[DataFrame] = []


def track_persist(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """persist() with deferred unpersist at the next operator call.

    ``eager=True`` additionally materializes the cache NOW with one
    count() job (r13, guide §2.4/§5): when the cached relation's first
    consumers are CONCURRENT query stages (both sides of a self-join,
    the branches of a union — AQE submits them in parallel), each stage
    finds the cache cold and recomputes the full upstream, duplicating
    the exact work the persist exists to save (profiled: two identical
    signature-aggregation jobs in dedup_simhash / the minhash family).
    A single up-front materialization costs one job and every
    concurrent consumer then reads cached blocks. Only worth it when
    the cached plan is expensive relative to ~100 ms of job overhead —
    call sites opt in per measurement."""
    df = df.persist()
    _TRACKED_CACHES.append(df)
    if eager:
        df.count()  # populates ALL columns of the cached plan's batches
    return df


def release_tracked_caches() -> None:
    while _TRACKED_CACHES:
        try:
            _TRACKED_CACHES.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def register(
    name: str, *, oracle: str | None, section: str
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as operator ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate operator name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked_caches()
            return fn(spark, sf_dir)

        _REGISTRY[name] = Operator(
            name=name, fn=wrapped, oracle=oracle, section=section
        )
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)


def all_operators() -> dict[str, Operator]:
    _load()
    return {n: _REGISTRY[n] for n in _enumeration_order(_REGISTRY)}


def all_queries() -> dict[str, QueryFn]:
    ops = all_operators()
    return {name: op.fn for name, op in ops.items()}


def all_oracle_sql() -> dict[str, str]:
    ops = all_operators()
    return {name: op.oracle for name, op in ops.items() if op.oracle is not None}
