"""One owner for what a query body materializes or reconfigures.

The rule: **intermediates are scoped, and the result owns its
checkpoints.**

* An intermediate is a relation the body reads more than once but the
  returned DataFrame does not read. The body materializes it through
  the :class:`Scope` handle (``persisted`` or ``checkpointed``), and
  it overrides ``spark.conf`` through ``set_conf``. On exit from the
  ``with`` block every one of them is released or restored, whether
  the body returned or raised.
* Anything the returned DataFrame reads is a plain ``localCheckpoint``
  that the scope does not track. It belongs to the result, and Spark's
  ContextCleaner frees its blocks once the result is garbage. A later
  call on the same session therefore never invalidates an earlier
  result, and no CacheManager ``persist``/``cache`` outlives a call.

Modules under ``operators/`` never call ``persist``/``cache`` or set
the session conf themselves; ``tests/test_scope.py`` walks them to
keep it that way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


class Scope:
    """``with Scope(spark) as scope:`` — the body's materializations
    and conf overrides live exactly as long as the block."""

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._undo: list = []

    def __enter__(self) -> "Scope":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        # newest first, so a key overridden twice ends at its first prior
        errors = []
        for undo in reversed(self._undo):
            try:
                undo()
            except Exception as e:  # noqa: BLE001 - every undo must run
                errors.append(e)
        self._undo.clear()
        if errors:
            # the body's error, if any, stays the one raised
            primary = exc if exc is not None else errors.pop(0)
            for e in errors:
                primary.add_note(f"scope release also failed: {e!r}")
            if exc is None:
                raise primary
        return False

    def persisted(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
    ) -> DataFrame:
        """``df.persist(level)``, unpersisted on exit."""
        out = df.persist(level)
        self._undo.append(lambda: out.unpersist(False))
        return out

    def checkpointed(
        self, df: DataFrame, level: StorageLevel | None = None
    ) -> DataFrame:
        """Eager ``df.localCheckpoint`` — materialized now, lineage
        truncated — whose blocks are freed on exit. ``unpersist`` on
        the DataFrame only reaches CacheManager entries; checkpoint
        blocks belong to the RDD under the flat LogicalRDD plan."""
        out = df.localCheckpoint(eager=True, storageLevel=level)
        rdd = out._jdf.queryExecution().analyzed().rdd()
        self._undo.append(lambda: rdd.unpersist(False))
        return out

    def set_conf(self, key: str, value: str) -> None:
        """``spark.conf.set(key, value)``, restored on exit (unset if
        the key had no session value before)."""
        conf = self._spark.conf
        prior = conf.get(key, None)
        self._undo.append(
            lambda: conf.unset(key) if prior is None else conf.set(key, prior)
        )
        conf.set(key, value)
