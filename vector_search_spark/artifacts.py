"""Session-shared corpus artifacts: one store, one builder list.

Corpus-level artifacts (shingle/MinHash/LSH tables, the near-dup graph, the
ANN indexes, the suffix pyramid, the BPE/LM/phrase tables) are built once
per (session, sf_dir) and reused across queries — the session-scoped reuse
of "Incremental Based Framework for Efficient Top-K Similarity Search in
Interactive Data Analysis Sessions" (EDBT 2020).  The parquet under sf_dir
is assumed immutable for the session.  Each builder materializes its own
value (persist + count, or eager localCheckpoint); the store adds no job.

Registration order is build order: a dependency is defined (and imported)
before its consumers.  Dependencies are not declared — inside `build_all`,
a builder that calls a skipped artifact is skipped too.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

BUILDERS: dict[str, Callable[[SparkSession, str], Any]] = {}
_STORE: dict[tuple[str, str], tuple[SparkSession, Any]] = {}  # (name, sf_dir) -> (owner, value)
_skipped: set[str] = set()


class _Skipped(Exception):
    pass


def _unpersist(value: Any) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # old session already stopped — nothing to release
    elif isinstance(value, (tuple, list, dict)):
        for v in value.values() if isinstance(value, dict) else value:
            _unpersist(v)


def cached(spark: SparkSession, name: str, sf_dir: str, build: Callable[[], Any]) -> Any:
    """The stored value for (name, sf_dir) if ``spark`` owns it; otherwise
    unpersist every DataFrame of the stale value and store ``build()``."""
    hit = _STORE.get((name, sf_dir))
    if hit is not None and hit[0] is spark:
        return hit[1]
    if hit is not None:
        _unpersist(hit[1])
    value = build()
    _STORE[(name, sf_dir)] = (spark, value)
    return value


def persisted(df: DataFrame) -> DataFrame:
    """Materialize ``df`` in the block cache: persist + one count job."""
    df = df.persist()
    df.count()
    return df


def artifact(fn: Callable[[SparkSession, str], Any]):
    """Register ``fn`` as the session-shared artifact ``fn.__name__``."""
    name = fn.__name__

    @functools.wraps(fn)
    def get(spark: SparkSession, sf_dir: str):
        if name in _skipped:
            raise _Skipped(name)
        return cached(spark, name, sf_dir, lambda: fn(spark, sf_dir))

    BUILDERS[name] = get
    return get


def build_all(spark: SparkSession, sf_dir: str, skip: Iterable[str] = ()) -> dict[str, float]:
    """Build every artifact in registration order, except those in ``skip``
    and those that call a skipped one; returns {name: seconds}."""
    from . import registry  # noqa: F401  (imports every builder module)

    _skipped.update(skip)
    times: dict[str, float] = {}
    try:
        for name, get in BUILDERS.items():
            t0 = time.perf_counter()
            try:
                get(spark, sf_dir)
            except _Skipped:
                _skipped.add(name)
                continue
            times[name] = round(time.perf_counter() - t0, 3)
    finally:
        _skipped.clear()
    return times
