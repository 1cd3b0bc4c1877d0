"""The engine's two cache primitives: per-family generation slots and
the per-(application, dataset) memo.

**Generation slots.** The rule (pinned in tests/test_cache_isolation.py):
a driver may build several query frames before collecting any, so a
persist cache shared across families lets one family's build unpersist
another's still-unexecuted frame. Each family owns a ``GenerationSlot``
— evict your own previous generation at build start, adopt the frames
your returned plan rides, never touch another slot. ``GenerationSlot``
subclasses ``list`` so call sites that ``append`` into a generation
(e.g. ``dedup._lsh_pair_frame``'s ``gen`` parameter) work unchanged.

**The memo.** Everything built once per application and dataset goes
through one ``AppMemo``:

- The key is ``(applicationId, name, os.path.abspath(sf_dir))``, so a
  relative and an absolute path to one dataset share one entry.
- Eviction is dead-application only: a miss drops the keys of other
  applications (their blocks died with their context). An entry for
  another dataset of the live application lives for the whole
  application, so alternating datasets never rebuilds.
- ``PLANS`` holds unexecuted BUILT frames. It saves the py4j plan
  construction of build-bound queries (gopher_repetition_flags: 1.8 s
  build vs 0.7 s exec at sf0.1); every action still re-executes the
  plan, and a memoized streaming frame starts a fresh query per run.
- ``ARTIFACTS`` holds materialized artifacts (trained indexes, stored
  label tables, models). A ``build`` must materialize before it
  returns — ``persist()`` + ``count()``, or ``localCheckpoint()`` — or a
  later slot eviction of the frames its lineage roots in forces a
  silent rebuild on the next consumer action. Use ``localCheckpoint``
  when the artifact's plan overlaps frames a slot has cached: Spark's
  CacheManager dedupes equal plans, so a persisted artifact would be
  dropped by that slot's eviction. Checkpointing also truncates
  lineage, so consumer plans root at an RDD scan and stay linear.
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession


class GenerationSlot(list):
    """A list of persisted frames forming ONE cache generation."""

    def evict(self) -> None:
        """Best-effort unpersist of the previous generation (frames may
        belong to a stopped session)."""
        while self:
            try:
                self.pop().unpersist()
            except Exception:
                pass

    def adopt(self, df: DataFrame) -> DataFrame:
        """Track a persisted frame in this generation; returns it."""
        self.append(df)
        return df


class AppMemo(dict):
    """Values built once per (application, name, dataset)."""

    def get_or_build(
        self,
        spark: SparkSession,
        name: str,
        sf_dir: str,
        build: Callable[[], Any],
    ) -> Any:
        app_id = spark.sparkContext.applicationId
        key = (app_id, name, os.path.abspath(sf_dir))
        if key not in self:
            for old in [k for k in self if k[0] != app_id]:
                del self[old]
            self[key] = build()
        return self[key]


PLANS = AppMemo()
ARTIFACTS = AppMemo()
