"""Session fixtures: one memo for everything a Spark session builds once
and reuses — shared query inputs, trained centroids and codebooks,
persisted indexes, value-keyed frames and UDFs.

Entries belong to the live ``SparkSession`` that built them (Shark's
managed cache: a cached dataset is an owned table, not a side effect of
the operator that built it). Two rules hold for every entry:

- **A memo is never keyed on a schema-only plan.** :func:`plan_key`
  keys on the canonicalized analyzed plan, which normalizes expression
  ids, so the same logical input rebuilt on a later run hits. But a
  ``LocalRelation``, ``LogicalRDD`` or ``ExistingRDD`` leaf
  canonicalizes to its schema alone, without its rows: two different
  ``createDataFrame`` inputs of the same shape would share one key, and
  the second would get the first one's result. ``plan_key`` refuses such
  plans; inputs like these are memoized by value instead.
- **A value-keyed entry comes back as the same object.** Spark's
  CacheManager compares a LocalRelation's array cells by reference and
  a pandas UDF by its serialized command, so two ``createDataFrame``
  calls with equal data, or two equal UDFs built apart, never
  plan-match. A persisted frame built over them re-hits its cache on a
  later run only when the very same frame or UDF object is reused.

An entry lives as long as its session: the first miss after a session
stops drops that session's entries. A long test run or a long-lived
process creates many sessions, and an entry keyed on a dead one pins the
session object (its persisted storage already died with it).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable, TypeVar

T = TypeVar("T")

_SCHEMA_ONLY_LEAVES = ("LocalRelation", "LogicalRDD", "ExistingRDD")


@dataclass
class _Entry:
    value: Any
    build_ms: float
    hits: int = 0


# session -> {key: entry}. Not a WeakKeyDictionary: the values (frames,
# UDFs bound to broadcasts) hold their session alive, so only the
# stopped-session sweep ends an entry's life.
_registry: dict[Any, dict[tuple, _Entry]] = {}


def memo(spark, key: tuple, build: Callable[[], T]) -> T:
    """``build()``'s value for ``key`` in ``spark``'s session: built on
    the first call, the same object on every later one. ``key[0]`` is
    the entry's tag in :func:`census`. A key holding ``None`` (a
    :func:`plan_key` refusal) is never stored: ``build`` runs every
    call."""
    if any(part is None for part in key):
        return build()
    entry = _registry.get(spark, {}).get(key)
    if entry is not None:
        entry.hits += 1
        return entry.value
    _evict_stopped_sessions()
    t0 = time.perf_counter()
    value = build()
    _registry.setdefault(spark, {})[key] = _Entry(value, (time.perf_counter() - t0) * 1e3)
    return value


def plan_key(df) -> str | None:
    """``df``'s canonicalized analyzed plan, to key a memo on; ``None``
    when the plan has a schema-only leaf or cannot be canonicalized."""
    try:
        plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    except Exception:  # noqa: BLE001 — a memo is an optimization only
        return None
    if any(leaf in plan for leaf in _SCHEMA_ONLY_LEAVES):
        return None
    return plan


def census() -> list[dict]:
    """One record per entry of a live session: its tag, build ms (for a
    lazy frame, the plan build only) and hit count."""
    _evict_stopped_sessions()
    return [
        {"tag": key[0], "build_ms": e.build_ms, "hits": e.hits}
        for entries in _registry.values()
        for key, e in entries.items()
    ]


def _evict_stopped_sessions() -> None:
    for session in [s for s in _registry if _stopped(s)]:
        del _registry[session]


def _stopped(session) -> bool:
    try:
        return session.sparkContext._jsc is None
    except Exception:  # noqa: BLE001 — any probe failure = dead
        return True
