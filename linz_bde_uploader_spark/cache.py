"""The engine's one way to persist and release a relation.

Every persist in the package goes through ``persist``, which records
the relation in one registry. The lifetime rule:

- a table load's persists live until its dataset's ``release_caches()``
  in ``BdeUploader.apply_updates`` (which runs on every exit path);
- a harness that re-runs queries in one session calls
  ``release_caches()`` between runs;
- a function that frees its own persist early calls ``release`` in its
  ``finally``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist(df: DataFrame,
            level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
            ) -> DataFrame:
    """Persist ``df`` at ``level`` (Spark's ``DataFrame.persist``
    default, the level ``.cache()`` uses) and register it."""
    df = df.persist(level)
    _PERSISTED.append(df)
    return df


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped; nothing to release


def release(*dfs: DataFrame | None) -> None:
    """Unpersist each given relation now and drop it from the
    registry; ``None`` entries are skipped (a persist that never
    happened)."""
    for df in dfs:
        if df is None:
            continue
        _unpersist(df)
        try:
            _PERSISTED.remove(df)
        except ValueError:
            pass  # already released by release_caches()


def release_caches() -> None:
    """Unpersist every relation still registered."""
    while _PERSISTED:
        _unpersist(_PERSISTED.pop())
