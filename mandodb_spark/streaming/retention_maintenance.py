"""Streaming retention loop: periodic downsample-then-expire under
foreachBatch — the automation that keeps a continuously-ingesting TSDB's
raw footprint bounded WITHOUT losing pre-horizon history.

Composes the tiered-retention primitives the way a production deployment
schedules them: on a batch cadence, (1) roll expired raw segments
into the mergeable purge tier and drop them
(:meth:`SegmentStore.downsample_expired` — purge is coverage-gated, so a
failed rollup write can never lose raw data), then (2) apply the rollup
store's own, longer retention with the plain partition delete.  Every
decision is a directory listing; the expensive work (one rollup write
over the expired partitions) happens only on the rounds where something
actually expired.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame

from .maintainer import Maintainer


class RetentionMaintainer(Maintainer):
    """foreachBatch hook: tiered retention on a batch cadence.

    ``db``: the TSDB to maintain.  ``step``: rollup resolution (seconds).
    ``rollup_dest``: purge-tier path.  ``every``: run the check every N
    batches.  ``rollup_retention``: optional second-tier retention in
    seconds (None = keep the rollup forever).  ``now_fn``: injectable
    clock for tests.  Every batch ticks the cadence, empty or not; each
    report counts the batch's ``runs`` and the segments it dropped
    (``dropped_raw``, ``dropped_rollup``).  ``maintain()`` runs one pass
    now and returns the same counts, outside any batch report.
    """

    def __init__(self, db, step: int, rollup_dest: str, every: int = 1,
                 rollup_retention: int | None = None,
                 now_fn=time.time) -> None:
        super().__init__()
        self.db = db
        self.step = step
        self.rollup_dest = rollup_dest
        self.every = max(1, every)
        self.rollup_retention = rollup_retention
        self.now_fn = now_fn

    def maintain(self) -> dict[str, int]:
        now = int(self.now_fn())
        counts = {"runs": 1, "dropped_raw": len(
            self.db.downsample_expire(self.step, self.rollup_dest, now_ts=now))}
        if self.rollup_retention is not None:
            from ..sources.segment_store import SegmentStore

            tier = SegmentStore(self.db.spark, self.rollup_dest,
                                self.db.segment_duration)
            counts["dropped_rollup"] = len(
                tier.remove_expired(now, self.rollup_retention))
        return counts

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        return self.maintain() if self._every(self.every) else {}
