"""Memory-only store — the reference's ``onlyMemoryMode`` (T6).

The reference can pin everything in the head segment and never freeze it
(tsdb.go:30,83-87; memory_segment.go:64-66).  The Spark analogue keeps the
canonical relation as one checkpointed in-memory DataFrame: each append
unions the canonicalized batch and ``localCheckpoint``s eagerly, which both
materializes the data in executor memory and truncates lineage so repeated
appends don't grow the plan.  The superseded checkpoint is released on
every swap, so exactly one materialized copy lives in executor storage.

The same :class:`~.segment_store.SampleStore` contract as the disk store
(payload as class data, declared schema with ``seg`` INT, one expiry
rule, ``segment_ids``/``max_ts``, and the fileless ``fsck``/``vacuum``
with ``root`` None), so TSDB works over either and ``MemoryHistStore`` /
``MemoryExemplarStore`` only change the payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import DEFAULT_SEGMENT_DURATION
from ..session import checkpoint, release
from .segment_store import SampleStore, write_rollup_and_verify


class MemoryStore(SampleStore):
    def __init__(
        self,
        spark: SparkSession,
        segment_duration: int = DEFAULT_SEGMENT_DURATION,
    ) -> None:
        self.spark = spark
        self.segment_duration = segment_duration
        self._df: DataFrame | None = None
        self._held: list[int] = []

    # ---------------------------------------------------------------- write
    def append(
        self,
        rows: DataFrame,
        dedup_points: bool = False,
        dedup_against_store: bool = False,
    ) -> None:
        """Same duplicate-policy surface as ``SegmentStore.append``
        (multiset default / within-batch last-write-wins /
        first-write-wins vs the stored head)."""
        # seg INT, as the disk store's partition directories read back
        batch = self._canonical(rows, dedup_points).withColumn(
            "seg", F.col("seg").cast("int"))
        if dedup_against_store and self._df is not None:
            batch = batch.join(
                self._df.select("seg", "series_key", "ts"),
                ["seg", "series_key", "ts"],
                "left_anti",
            )
        self._swap(batch if self._df is None else self._df.unionByName(batch))

    def _swap(self, plan: DataFrame) -> None:
        """Checkpoint ``plan`` as the new relation and release the
        superseded checkpoint's executor memory."""
        self._df, fresh = checkpoint(plan)
        release(self.spark, self._held)
        self._held = fresh

    # ----------------------------------------------------------------- read
    def relation(self) -> DataFrame:
        if self._df is not None:
            return self._df
        return self.spark.createDataFrame([], self.schema)

    def segment_ids(self) -> list[int]:
        """Sorted ids of the segments the held relation spans: one distinct
        collect, run by the rare callers (expiry, rule recovery) instead
        of a job per ``append``."""
        if self._df is None:
            return []
        return sorted(r.seg for r in self._df.select("seg").distinct().collect())

    # ------------------------------------------------------------ retention
    def remove_expired(self, now_ts: int, retention: int) -> list[int]:
        expired = self._expired_segments(now_ts, retention)
        if expired:
            self._swap(self._df.filter(~F.col("seg").isin(expired)))
        return expired

    # ----------------------------------------------------------- lifecycle
    def downsample_expired(self, now_ts: int, retention: int, step: int,
                           dest_root: str) -> list[int]:
        """Tiered retention, memory-mode form: same contract as
        ``SegmentStore.downsample_expired`` (mergeable rollup written to
        ``dest_root`` BEFORE the expired segments leave the head; purge
        gated on the Σn coverage invariant), so ``TSDB.downsample_expire``
        works over either store."""
        expired = self._expired_segments(now_ts, retention)
        if not expired:
            return []
        rel = self._df.filter(F.col("seg").isin(expired))
        write_rollup_and_verify(self.spark, rel, expired, step, dest_root)
        self._swap(self._df.filter(~F.col("seg").isin(expired)))
        return expired

    def delete_series(self, matchers: list, metric: str | None = None) -> int:
        """Targeted series deletion, memory-mode form — same matcher
        language and return contract as ``SegmentStore.delete_series``;
        the "rewrite" is simply the next checkpointed head."""
        pred = self._deletion_predicate(matchers, metric)
        if self._df is None:
            return 0
        n_before = self._df.count()
        self._swap(self._df.filter(~pred))
        return int(n_before - self._df.count())

    # ---------------------------------------------------------------- close
    def close(self) -> None:
        """Release the in-memory relation (executor storage memory)."""
        release(self.spark, self._held)
        self._held = []
        self._df = None

    # ----------------------------------------------------------- compaction
    def compact(self, min_files_per_segment: int | None = None) -> list[int]:
        """No-op: memory rows have no file layout to restore, so no segment
        is compacted."""
        return []
