"""Query registry backing the driver contract.

Each entry couples a PySpark query callable ``(spark, sf_dir) -> DataFrame``
with (optionally) the equivalent DuckDB ANSI-SQL oracle string. Column names
MUST match between the two — the driver sorts columns by name before
hashing values.

The registry also owns every query's membership: each registration
declares its ``families`` (the fuzz families that attack it, and
``bench`` when ``bench.py`` times it), and ``family(key)`` is the only
member list the bench and the fuzz tests read.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# One key per reader: each fuzz family in tests/test_round6b_fuzz.py, and
# ``bench`` for bench.py's headline loop.
FAMILIES = frozenset(
    {"text", "events", "tpch", "embeddings", "streaming", "nulljoin",
     "multibyte", "bench"}
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    # Membership, declared at the registration site: a subset of
    # FAMILIES; ``()`` = no fuzz family applies and the bench skips it.
    families: tuple[str, ...]
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, *, oracle: str | None = None, families: tuple[str, ...]
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with its oracle and its
    ``families`` (required; unknown keys raise ``ValueError``)."""
    unknown = set(families) - FAMILIES
    if unknown:
        raise ValueError(
            f"{name}: unknown families {sorted(unknown)} (known: {sorted(FAMILIES)})"
        )

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            families=tuple(families),
            doc=fn.__doc__ or "",
        )
        return fn

    return deco


def family(key: str) -> list[str]:
    """Sorted names of the queries that declared ``key``."""
    if key not in FAMILIES:
        raise ValueError(f"unknown family {key!r}")
    return sorted(n for n, spec in _REGISTRY.items() if key in spec.families)


def all_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in sorted(_REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in sorted(_REGISTRY.items())
        if spec.oracle is not None
    }


def get(name: str) -> QuerySpec:
    return _REGISTRY[name]
