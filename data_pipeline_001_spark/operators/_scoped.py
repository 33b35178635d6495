"""Bounded-intermediate materialization with a query-scoped release.

An operator whose plan references one intermediate from several
branches (per-doc signature tables, gram tables, oriented edge lists)
persists it so the branches share one computation. The operators
return lazy frames, so no operator can unpersist after "its" action:
the action belongs to the caller. Left to the session, those persists
accumulate in the CacheManager (a 308-query sweep measured up to 3.5x
slower late queries from cache pressure alone).

The caller therefore owns the release. Inside ``cache_scope()``, which
``plans.queries.run`` opens around construct + execute, every
``bounded_intermediate`` is registered with the scope and unpersisted
when the scope exits. Outside a scope it is a plain persist that the
caller unpersists (or the session ends).
"""

from __future__ import annotations

import contextvars
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_SCOPE: contextvars.ContextVar[list[DataFrame] | None] = contextvars.ContextVar(
    "bounded_intermediates", default=None
)


def bounded_intermediate(df: DataFrame) -> DataFrame:
    """Materialize-once semantics for an intermediate that several plan
    branches reference: a MEMORY_AND_DISK persist (a large corpus
    spills rather than OOMs), released by the enclosing
    ``cache_scope()`` if there is one."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    held = _SCOPE.get()
    if held is not None:
        held.append(df)
    return df


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, on exit, every ``bounded_intermediate`` made inside
    the block. Scopes nest; each releases only its own."""
    held: list[DataFrame] = []
    token = _SCOPE.set(held)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for df in held:
            df.unpersist()
