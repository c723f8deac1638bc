"""The one skeleton every foreachBatch sink in ``streaming/`` shares.

A sink subclasses :class:`Maintainer` and writes only ``_on_batch``:

- ``start(stream, checkpoint, trigger_seconds=None)`` attaches the
  instance's ``process_batch`` to a stream — a processingTime trigger
  every ``trigger_seconds``, else availableNow (drain what exists, then
  stop);
- ``process_batch(batch_df, batch_id)`` is the foreachBatch hook, or the
  call to chain one sink after another.  It times the batch, runs
  ``_on_batch`` and appends a :class:`BatchReport` to ``reports``;
- ``_on_batch`` returns the batch's action counts (``{"compactions": 1}``),
  which also fold into ``totals``.

Every counted batch adds ``batches: 1`` to its report and to ``totals``,
and ``totals["batches"]`` is the clock that ``_every`` reads for each
sink's cadence.  A sink with ``skip_empty`` set passes over an empty
batch (one ``isEmpty`` job): its report has no counts and the clock does
not move.  ``reports`` keeps the last :data:`REPORTS_KEPT` batches, so a
long-lived stream holds bounded state; ``totals`` is a fixed set of keys.
This is the maintainers' own per-trigger progress, next to the
``StreamingQueryProgress`` Spark reports for the query.
"""

from __future__ import annotations

import time
from collections import Counter, deque
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

#: How many batch reports a maintainer keeps (the oldest go first).
REPORTS_KEPT = 256


class BatchReport(NamedTuple):
    batch_id: int
    seconds: float
    counts: dict[str, int]


class Maintainer:
    #: Pass over an empty micro-batch without counting it.
    skip_empty = False

    def __init__(self) -> None:
        self.reports: deque[BatchReport] = deque(maxlen=REPORTS_KEPT)
        self.totals: Counter[str] = Counter()

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        raise NotImplementedError

    def _every(self, n: int | None) -> bool:
        """True on every ``n``-th counted batch (never when ``n`` is unset)."""
        return bool(n) and self.totals["batches"] % n == 0

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        began = time.perf_counter()
        counts: dict[str, int] = {}
        if not (self.skip_empty and batch_df.isEmpty()):
            self.totals["batches"] += 1
            counts = self._on_batch(batch_df, batch_id)
            self.totals.update(counts)
            counts = {"batches": 1, **counts}
        self.reports.append(BatchReport(batch_id, time.perf_counter() - began, counts))

    def start(self, stream: DataFrame, checkpoint: str,
              trigger_seconds: int | None = None) -> StreamingQuery:
        """Run this sink over ``stream`` and return the started query."""
        writer = (stream.writeStream.foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint))
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()
