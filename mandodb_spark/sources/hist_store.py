"""Segment store for NATIVE-HISTOGRAM samples.

Same layout discipline as the float-sample ``SegmentStore`` (seg-partitioned
sorted parquet, so time predicates prune partitions and series scans skip
row groups), but the value column is the ``hist`` struct of
``functions.native_hist`` — sparse exponential buckets as
``MAP<INT,DOUBLE>`` columns, which parquet stores as repeated key/value
groups (dictionary + delta encodings apply to the int keys).

The reference engine has no histogram sample type at all (tsdb.go:158-163
stores float64 only); this store is part of the engine's native-histogram
superset.  It deliberately reuses the float store's conventions rather
than its code: the schemas differ, the row-budget knob doesn't apply
to the much-smaller histogram relations, and keeping it lean keeps the write path one repartition + one sorted write.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..model import (
    DEFAULT_SEGMENT_DURATION,
    as_nullable,
    clean_labels,
    fold_metric_name,
    seg_bucket,
    series_key,
)
from ..functions.native_hist import HIST_ROW_SCHEMA
from .segment_store import segment_ids


def canonicalize_payload(df: DataFrame, payload: tuple,
                        segment_duration: int = DEFAULT_SEGMENT_DURATION) -> DataFrame:
    """Write-path canonicalization for SIBLING-store samples: fold
    ``__name__``, clean labels, stamp ``series_key`` and ``seg`` —
    identical label discipline to ``model.canonicalize``, with the given
    payload columns in place of ``value`` (``("hist",)`` for histogram
    samples, ``("value", "exemplar")`` for exemplars)."""
    labels = fold_metric_name(
        F.col("metric"), clean_labels(F.coalesce(F.col("labels"), F.create_map()))
    )
    return (
        df.withColumn("labels", labels)
        .withColumn("series_key", series_key(F.col("labels")))
        .withColumn("seg", seg_bucket(F.col("ts"), segment_duration))
        .select("labels", "ts", *payload, "series_key", "seg")
    )


class HistStore:
    """Disk store: ``<root>`` holds seg-partitioned parquet of
    ``(labels, ts, hist, series_key)``.  The seg-partitioned sibling-store
    machinery (sorted zstd layout, store-dedup, retention, targeted
    deletion) is payload-agnostic — ``PAYLOAD``/``ROW_SCHEMA`` class
    attributes let siblings with other sample types (ExemplarStore)
    inherit it wholesale."""

    PAYLOAD: tuple = ("hist",)
    ROW_SCHEMA = HIST_ROW_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        segment_duration: int = DEFAULT_SEGMENT_DURATION,
        codec: str = "zstd",
    ) -> None:
        self.spark = spark
        self.root = str(root)
        self.segment_duration = segment_duration
        self.codec = codec

    @property
    def schema(self) -> StructType:
        """The store as every read sees it: the written projection
        ``(labels, ts, *PAYLOAD, series_key, seg)``, every field nullable
        as Parquet reads back, ``seg`` INT as partition inference types
        it.  Declared, so :meth:`relation` opens no footer."""
        row = {f.name: f for f in self.ROW_SCHEMA.fields}
        return as_nullable(StructType(
            [row[c] for c in ("labels", "ts", *self.PAYLOAD)]
            + [StructField("series_key", LongType()), StructField("seg", IntegerType())]
        ))

    # ---------------------------------------------------------------- write
    def append(self, rows: DataFrame,
               dedup_against_store: bool = False) -> None:
        """One file per touched segment per batch: repartition on seg,
        sort within partitions by (series_key, ts) for row-group skipping.

        ``dedup_against_store=True`` drops batch samples whose
        ``(series, ts)`` the store already holds (first-write-wins across
        batches — the idempotency contract streaming rule maintainers
        rely on under at-least-once retries); the check scan is statically
        pruned to the batch's touched segments, same as the float store."""
        batch = canonicalize_payload(rows, self.PAYLOAD, self.segment_duration)
        if dedup_against_store and Path(self.root).exists():
            segs = [r["seg"] for r in batch.select("seg").distinct().collect()]
            existing = (
                self.relation()
                .filter(F.col("seg").isin(segs))
                .select("seg", "series_key", "ts")
            )
            batch = batch.join(existing, ["seg", "series_key", "ts"], "left_anti")
        n = max(self.spark.sparkContext.defaultParallelism, 1)
        (
            batch.repartition(n, F.col("seg"))
            .sortWithinPartitions("series_key", "ts")
            .write.option("compression", self.codec)
            .partitionBy("seg")
            .mode("append")
            .parquet(self.root)
        )

    def segment_ids(self) -> list[int]:
        """Sorted segment ids from the partition directory listing —
        metadata-only discovery, same contract as
        ``SegmentStore.segment_ids`` (newest-first iteration is the
        restart-recovery probe primitive)."""
        return segment_ids(self.root)

    def insert_pylist(self, rows: list[tuple]) -> None:
        """Test convenience: list of (metric, labels, ts, <payload...>)."""
        self.append(self.spark.createDataFrame(rows, self.ROW_SCHEMA))

    # ----------------------------------------------------------------- read
    def relation(self) -> DataFrame:
        """The store with its declared :attr:`schema`, same contract as
        ``SegmentStore.relation`` (files listed per call, no job; a store
        never written is the empty relation of the same schema)."""
        if Path(self.root).exists():
            return self.spark.read.schema(self.schema).parquet(self.root)
        return self.spark.createDataFrame([], self.schema)

    # ------------------------------------------------------------ retention
    def remove_expired(self, now_ts: int, retention: int) -> list[int]:
        """Partition-directory retention, same contract as
        ``SegmentStore.remove_expired`` (a segment expires when its max
        possible ts predates now - retention)."""
        cutoff = now_ts - retention
        dropped: list[int] = []
        root = Path(self.root)
        if not root.exists():
            return dropped
        for p in sorted(root.glob("seg=*")):
            seg = int(p.name.split("=", 1)[1])
            if (seg + 1) * self.segment_duration - 1 < cutoff:
                shutil.rmtree(p)
                dropped.append(seg)
        return dropped

    # ----------------------------------------------------------- maintenance
    def delete_series(self, matchers: list, metric: str | None = None) -> int:
        """Targeted series deletion, same contract as
        ``SegmentStore.delete_series``: AND matcher semantics, rewrite
        only the touched ``seg=`` partitions via dynamic overwrite, lazy
        reads severed (localCheckpoint) from the files being replaced.
        Returns points removed."""
        from ..matchers import add_metric_name, matchers_predicate

        lms = add_metric_name(metric, list(matchers))
        if not lms:
            raise ValueError("delete_series: need at least one matcher")
        rel = self.relation()
        pred = matchers_predicate(F.col("labels"), lms)
        touched = [r["seg"] for r in
                   rel.filter(pred).select("seg").distinct().collect()]
        if not touched:
            return 0
        sub = rel.filter(F.col("seg").isin(touched))
        n_before = sub.count()
        keep = sub.filter(~pred).localCheckpoint(eager=True)
        (
            keep.repartition(F.col("seg"))
            .sortWithinPartitions("series_key", "ts")
            .write.option("compression", self.codec)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seg").mode("overwrite").parquet(self.root)
        )
        return n_before - keep.count()


class MemoryHistStore:
    """Memory-only variant (the histogram analogue of ``MemoryStore``):
    union + eager localCheckpoint per append, lineage stays flat.
    Payload-agnostic like ``HistStore`` (same class attributes)."""

    PAYLOAD: tuple = ("hist",)
    ROW_SCHEMA = HIST_ROW_SCHEMA

    def __init__(self, spark: SparkSession,
                 segment_duration: int = DEFAULT_SEGMENT_DURATION) -> None:
        self.spark = spark
        self.segment_duration = segment_duration
        self._df: DataFrame | None = None

    def append(self, rows: DataFrame,
               dedup_against_store: bool = False) -> None:
        batch = canonicalize_payload(rows, self.PAYLOAD, self.segment_duration)
        if dedup_against_store and self._df is not None:
            batch = batch.join(
                self._df.select("seg", "series_key", "ts"),
                ["seg", "series_key", "ts"], "left_anti")
        merged = batch if self._df is None else self._df.unionByName(batch)
        self._df = merged.localCheckpoint(eager=True)

    def insert_pylist(self, rows: list[tuple]) -> None:
        self.append(self.spark.createDataFrame(rows, self.ROW_SCHEMA))

    def relation(self) -> DataFrame:
        if self._df is None:
            return canonicalize_payload(
                self.spark.createDataFrame([], self.ROW_SCHEMA), self.PAYLOAD,
                self.segment_duration)
        return self._df

    def remove_expired(self, now_ts: int, retention: int) -> list[int]:
        if self._df is None:
            return []
        dropped = [
            r["seg"]
            for r in self._df.select("seg").distinct().collect()
            if (r["seg"] + 1) * self.segment_duration - 1 < now_ts - retention
        ]
        if dropped:
            self._df = self._df.filter(~F.col("seg").isin(dropped)).localCheckpoint(
                eager=True
            )
        return sorted(dropped)

    def close(self) -> None:
        """Release the in-memory relation (T6 close parity): dropping the
        reference lets the ContextCleaner reclaim the localCheckpoint
        RDDs once unreferenced."""
        self._df = None

    def delete_series(self, matchers: list, metric: str | None = None) -> int:
        """In-memory form of targeted deletion: one filter + checkpoint."""
        from ..matchers import add_metric_name, matchers_predicate

        lms = add_metric_name(metric, list(matchers))
        if not lms:
            raise ValueError("delete_series: need at least one matcher")
        if self._df is None:
            return 0
        pred = matchers_predicate(F.col("labels"), lms)
        n_before = self._df.count()
        self._df = self._df.filter(~pred).localCheckpoint(eager=True)
        return n_before - self._df.count()


