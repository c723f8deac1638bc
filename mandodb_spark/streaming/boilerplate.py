"""Incremental cross-batch boilerplate dictionary for line-level dedup.

``operators.dedup.line_dedup`` finds boilerplate WITHIN one batch; a
streaming ingest sees each site's pages spread across many micro-batches,
so the "occurs in >= N distinct documents" evidence accumulates over
time.  This module maintains that evidence as a persistent count table —
the same incremental-rollup pattern as the histogram / cardinality
continuous aggregates:

- the dim is Parquet partitioned by ``kp = pmod(xxhash64(line_key), P)``;
- each update aggregates the batch to per-key distinct-doc counts, reads
  ONLY the touched ``kp`` partitions back, merges, and rewrites exactly
  those partitions via per-write dynamic partition overwrite — O(batch +
  touched partitions), never the whole dictionary;
- ``strip`` drops known-boilerplate lines from any batch through a plain
  anti-join (``operators.dedup.strip_lines``), so the apply path never
  scans history.

Contract: each document contributes ONCE (the standard ingest-once
pipeline shape); re-feeding a document inflates its lines' counts (the
dim stores counts, not doc sets — by design, fixed-width state).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .maintainer import Maintainer


class BoilerplateDict(Maintainer):
    skip_empty = True

    def __init__(self, spark: SparkSession, root: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_partitions: int = 64, min_dup_docs: int = 2,
                 sep: str = "\n") -> None:
        super().__init__()
        self.spark = spark
        self.root = str(root)
        self.id_col = id_col
        self.text_col = text_col
        self.n_partitions = n_partitions
        self.min_dup_docs = min_dup_docs
        self.sep = sep

    def _batch_counts(self, batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
        import re as _re

        lines = batch.select(
            F.col(id_col).alias("__doc"),
            F.explode(F.split(F.col(text_col), _re.escape(self.sep), -1)).alias("line"),
        )
        return (
            lines.select(F.md5(F.trim("line")).alias("line_key"), "__doc")
            .distinct()
            .groupBy("line_key")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn(
                "kp", F.pmod(F.xxhash64("line_key"), F.lit(self.n_partitions))
            )
        )

    def update(self, batch: DataFrame, id_col: str, text_col: str) -> None:
        """Fold a batch into the dictionary: per-key distinct-doc counts
        merged into the touched ``kp`` partitions only."""
        new = self._batch_counts(batch, id_col, text_col)
        if Path(self.root).exists():
            touched = [r.kp for r in new.select("kp").distinct().collect()]
            old = self.spark.read.parquet(self.root).filter(F.col("kp").isin(touched))
            new = (
                new.unionByName(old)
                .groupBy("line_key", "kp")
                .agg(F.sum("n_docs").alias("n_docs"))
            )
            (
                new.repartition(F.col("kp"))
                .write.option("compression", "zstd")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("kp")
                .mode("overwrite")
                .parquet(self.root)
            )
        else:
            (
                new.repartition(F.col("kp"))
                .write.option("compression", "zstd")
                .partitionBy("kp")
                .mode("overwrite")
                .parquet(self.root)
            )

    def boilerplate_keys(self) -> DataFrame:
        """Keys currently over the distinct-document threshold."""
        if not Path(self.root).exists():
            return self.spark.createDataFrame([], "line_key string")
        return (
            self.spark.read.parquet(self.root)
            .filter(F.col("n_docs") >= self.min_dup_docs)
            .select("line_key")
        )

    def strip(self, batch: DataFrame, id_col: str, text_col: str) -> DataFrame:
        """Drop every currently-known boilerplate line from ``batch``
        (anti-join apply path — history is never scanned)."""
        from ..operators.dedup import strip_lines

        return strip_lines(batch, id_col, text_col, self.boilerplate_keys(),
                           sep=self.sep)

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        """foreachBatch hook: fold the micro-batch into the dictionary."""
        self.update(batch_df, self.id_col, self.text_col)
        return {}
