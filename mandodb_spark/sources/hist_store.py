"""Segment store for NATIVE-HISTOGRAM samples.

The float-sample store with another payload: the value column is the
``hist`` struct of ``functions.native_hist`` — sparse exponential buckets
as ``MAP<INT,DOUBLE>`` columns, which parquet stores as repeated key/value
groups (dictionary + delta encodings apply to the int keys).  Append,
store dedup, the declared-schema read, segment listing, retention,
targeted deletion and compaction are ``SegmentStore``'s (``MemoryStore``'s
in memory mode), so the two sample types cannot drift apart.

The reference engine has no histogram sample type at all (tsdb.go:158-163
stores float64 only), but stores every sample through one segment
machinery; this store is part of the engine's native-histogram superset
and keeps that single machinery.  The float-only write options
(``dedup_points``, ``downsample_expired``) are not used on it.
"""

from __future__ import annotations

from ..functions.native_hist import HIST_ROW_SCHEMA
from .memory_store import MemoryStore
from .segment_store import SegmentStore


class HistStore(SegmentStore):
    """Disk store: ``<root>`` holds seg-partitioned parquet of
    ``(labels, ts, hist, series_key)``."""

    PAYLOAD = ("hist",)
    ROW_SCHEMA = HIST_ROW_SCHEMA


class MemoryHistStore(MemoryStore):
    """Memory-only variant (``only_memory`` parity)."""

    PAYLOAD = ("hist",)
    ROW_SCHEMA = HIST_ROW_SCHEMA
