"""The entry registry: one declaration per entry, name + builder + oracle.

A family module declares an entry by decorating its builder::

    @register("q6_forecast_revenue", oracle=lambda: f"SELECT ... {frag}")
    def _q6(spark, sf): ...

The oracle is DuckDB SQL over the same lake tables: a string, a
zero-argument callable that builds it (so no oracle SQL is built until
``oracle_sql()`` asks), or ``None`` for a rows-only entry.

Oracles CAST every integer SUM AS BIGINT: DuckDB's SUM(int) result type
is HUGEINT, which surfaces as decimal128/float64 through the
Arrow/pandas fetch path the driver hashes, not as Spark's LongType.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Entry:
    name: str
    build: Builder
    oracle: str | Callable[[], str] | None

    def oracle_sql(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str | Callable[[], str] | None = None):
    """Register the decorated builder as entry ``name``."""

    def add(build: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"entry {name!r} is registered twice")
        REGISTRY[name] = Entry(name, build, oracle)
        return build

    return add
