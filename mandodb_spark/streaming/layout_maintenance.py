"""Streaming layout-maintenance loop for Z-ordered Parquet directories.

Micro-batch appends land as plain unordered files (O(batch) — cheap, correct, but
they erode the Z-order clustering that makes footer-stats pruning work),
and a measured quality trigger decides when to pay for a rewrite.  The
trigger is :func:`~mandodb_spark.sources.layout.files_overlapping` over a
REPRESENTATIVE probe box — the exact file-skipping arithmetic a reader's
scan performs, so "layout degraded" is measured in the unit that matters
(fraction of files a typical query must open), not guessed from file
counts.  The rewrite is :func:`~mandodb_spark.sources.layout.relayout`
(staged write + atomic exchange — readers re-reading the path always see
a complete tree).

This is the plain-Spark form of a lakehouse auto-OPTIMIZE policy; at
100 TB the same loop runs per partition, and the probe measurement stays
O(files) footer metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.layout import files_overlapping, relayout
from .maintainer import Maintainer


class LayoutMaintainer(Maintainer):
    """foreachBatch sink: append → (measure pruning quality) → (relayout).

    ``cols``/``n_files``: the Z-order spec handed to ``relayout``.
    ``probe_box``: ``{col: (lo, hi)}`` — a representative query's range
    predicate; quality = fraction of files whose footer stats overlap it.
    ``max_hit_frac``: relayout trigger (e.g. 0.5 — when a typical query
    must open more than half the files, clustering has eroded).
    ``check_every``: measure every N batches (O(files) footer reads).
    Each report counts the batch's ``relayouts``.
    """

    def __init__(
        self,
        spark,
        path: str,
        cols: list[str],
        n_files: int,
        probe_box: dict[str, tuple],
        max_hit_frac: float = 0.5,
        check_every: int = 1,
        codec: str = "zstd",
    ) -> None:
        if not (0.0 < max_hit_frac <= 1.0):
            raise ValueError(f"max_hit_frac must be in (0, 1], got {max_hit_frac}")
        super().__init__()
        self.spark = spark
        self.path = path
        self.cols = list(cols)
        self.n_files = n_files
        self.probe_box = dict(probe_box)
        self.max_hit_frac = max_hit_frac
        self.check_every = max(1, check_every)
        self.codec = codec

    def hit_fraction(self) -> float:
        """Current pruning quality: probed-files / total-files (1.0 when
        the directory does not exist yet — nothing to prune)."""
        from pathlib import Path

        if not Path(self.path).exists():
            return 1.0
        hit, total = files_overlapping(self.path, self.probe_box)
        return hit / total if total else 1.0

    def _on_batch(self, batch: DataFrame, batch_id: int) -> dict[str, int]:
        batch.write.mode("append").option("compression", self.codec).parquet(
            self.path
        )
        if not self._every(self.check_every) or self.hit_fraction() <= self.max_hit_frac:
            return {}
        relayout(self.spark, self.path, self.cols, self.n_files, codec=self.codec)
        return {"relayouts": 1}
