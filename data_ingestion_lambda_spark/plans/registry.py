"""Central query registry.

Every capability claimed in SURVEY.md §2 registers here as a ``QuerySpec``:
a Spark builder ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent ANSI SQL a DuckDB oracle can run over the same parquet.

The driver consumes this through ``__spark_entry__.py``; the local harness
(``tools/check_oracle.py``) runs the same comparison pre-flight.

Determinism contract for oracle-checked specs:
- identical column NAMES in both engines (alias everything computed);
- no floating-point reassociation: money aggregates go through
  ``decimal`` (exact in both engines) and are cast back to double at the
  end; see ``plans/decimals.py``;
- no unstable tie-breaks: every top-k orders by a unique key suffix.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


# ---------------------------------------------------------------------------
# Cache pinning (VERDICT r11 #3). Several lanes persist() a shared
# intermediate (BM25's term-frequency table, the dedup lanes' signature
# frames) that is CORPUS-SIZED — correct for the one plan, but a
# long-running session that builds many lanes (the oracle sweep, a
# notebook) would accumulate un-released corpus-sized caches. Every such
# persist goes through pin(), which records the pinned frame so a harness
# can release the whole set between lanes with release_pinned(); bounded
# (aggregate/domain-sized) persists may stay plain .persist() but must be
# justified in tests/test_plan_shapes_r12.py's CACHE_ALLOWLIST — the gate
# walks every registered lane's plan and refuses un-allowlisted
# InMemoryRelations, the unpartitioned-window allowlist idiom applied to
# cache pins.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame, storage_level=None) -> DataFrame:
    """persist() + record for harness release. Default storage level is
    Spark's (MEMORY_AND_DISK, deserialized) so lane steady-state timing
    is unchanged; pass a pyspark StorageLevel to override (e.g.
    DISK_ONLY for a cache that must never compete for executor memory)."""
    df.persist(storage_level) if storage_level is not None else df.persist()
    _PINNED.append(df)
    return df


def release_pinned(blocking: bool = False) -> int:
    """Unpersist every pin()-recorded frame (Spark's CacheManager drops
    the canonical-plan entry, so identical future plans recompute).
    Returns the number released. Safe to call with actions in flight —
    an unpersisted cache falls back to recompute, never wrong results."""
    n = len(_PINNED)
    for df in _PINNED:
        try:
            df.unpersist(blocking)
        except Exception:
            pass  # session already stopped — nothing to release
    _PINNED.clear()
    return n


@contextmanager
def pin_scope():
    """Unpersist, on exit, every frame pin()ned inside the block; frames
    pinned before it stay pinned. For per-call work in a long-lived
    process (a stream's micro-batch body), whose pins would otherwise
    accumulate for the life of the session — release_pinned() there
    would also drop pins the caller still relies on."""
    mark = len(_PINNED)
    try:
        yield
    finally:
        for df in _PINNED[mark:]:
            df.unpersist()
        del _PINNED[mark:]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Decorator: register a query builder under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle,
            description=description or (fn.__doc__ or "").strip(),
            tags=tags,
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    return dict(REGISTRY)
