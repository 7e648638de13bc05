"""Named-query registry — the single source of truth the driver consumes.

Every implemented operator from SURVEY.md §3 registers here as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) the ANSI/DuckDB oracle SQL the driver hash-compares against.

Conventions (FIXTURES.md "oracle-parity gotchas"):
- every computed column is aliased identically in Spark and SQL;
- aggregate doubles are ``round()``-ed (sum order differs between engines);
- rank/size/int-sum columns are cast so both engines emit BIGINT;
- every LIMIT query carries a unique tie-break key in its ORDER BY.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = ()
    # include in bench.py's headline set; bench.TWINS may time a changed
    # copy of the row in its scale phase
    bench: bool = False
    # True for deliberately-quadratic correctness oracles of an approximate
    # scale path (e.g. exact all-pairs cosine backing the LSH ANN query).
    # These refuse to run above a row-count guard unless explicitly
    # overridden — they exist to validate, not to be the production path.
    oracle_twin: bool = False
    # Human-readable note for queries whose oracle comparison is expected
    # to diverge by design (e.g. an ANN path graded against an exact-truth
    # oracle under a CI-asserted recall floor). drive_contract.py copies it
    # into the correctness artifact so a reader can tell the documented
    # case from a regression without SURVEY archaeology (VERDICT r7 task 4).
    by_design: str | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    *,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
    oracle_twin: bool = False,
    by_design: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            tags=tags,
            bench=bench,
            oracle_twin=oracle_twin,
            by_design=by_design,
        )
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle}


def bench_queries() -> dict[str, QuerySpec]:
    return {name: spec for name, spec in REGISTRY.items() if spec.bench}
