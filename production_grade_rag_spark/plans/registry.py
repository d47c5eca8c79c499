"""The catalog registry: ``register`` puts each entry's builder and
oracle into ``CATALOG``.  A leaf module, so a domain module imports it
without loading the whole catalog; plans/catalog.py imports every
domain module and orders ``CATALOG`` by its manifest.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sources import load_table


@dataclass(frozen=True)
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    # None -> rows-only check (non-SQL op).  A zero-arg CALLABLE is a
    # LAZY oracle, resolved at oracle_sql() time: entries whose oracle
    # text is assembled from OTHER entries' oracles must not read
    # CATALOG at registration time — the other entry's module may not
    # have been imported yet, so an eager cross-entry read KeyErrors.
    oracle: str | Callable[[], str] | None = None
    headline: bool = False         # include in bench.py

    def oracle_text(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    if name in CATALOG:
        raise ValueError(f"catalog entry {name!r} is already registered")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = QuerySpec(build=fn, oracle=oracle, headline=headline)
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)
