"""Process-wide registry of persisted intermediate frames.

Operators persist intermediates that feed multiple consumers inside one
returned plan (candidate-pair gates, bottom-k posting tables). Those persists
are correct per query but accumulate in a long-lived session that runs many
queries (round-3 verdict: cache leaks in the jaccard/containment helpers —
this generalizes the fix to the operator layer). Every internal persist goes
through :func:`persist_tracked`; harnesses that run query after query call
:func:`release_all` between them.

Contract: release only AFTER the query's action has executed. Re-executing a
returned DataFrame after release recomputes (correct, just unaccelerated).
Unpersist is non-blocking — freeing is bookkeeping, never on the critical
path. This registry is the one persist-lifetime mechanism: operators, the
batch pipeline and the streaming micro-batch and compaction all persist
through it, and each unit of work ends with :func:`release_all` (the
pipeline's ``run()``, a stream's ``process_batch`` and ``compact``, the
entry harness between queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_REGISTRY: list[DataFrame] = []


def persist_tracked(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for a later :func:`release_all`."""
    df = df.persist(level)
    _REGISTRY.append(df)
    return df


def release_all() -> None:
    """Unpersist every tracked frame (non-blocking). Idempotent."""
    while _REGISTRY:
        try:
            _REGISTRY.pop().unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
