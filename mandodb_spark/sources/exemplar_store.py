"""Segment store for EXEMPLARS — sampled raw observations (value +
timestamp + their own small label set, e.g. ``trace_id``) attached to a
series, the Prometheus ``/api/v1/query_exemplars`` data source.

The reference engine has no exemplar concept (tsdb.go stores float
samples only); this is part of the engine's Prometheus-surface superset.
The store is the float-sample store with a two-column payload — the
exemplar's float ``value`` and its ``exemplar`` label map — so
seg-partitioned sorted zstd parquet, store-dedup for at-least-once
replays, retention and targeted deletion are ``SegmentStore``'s.

Scale shape: identical to every other store — seg-partition pruning on
the time range, pushable series matchers, and the per-series grouping is
one hash aggregate over the (already tiny, sampled-at-source) exemplar
relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .hist_store import HistStore, MemoryHistStore

#: Ingest row shape: the series' identity (metric + labels) plus the
#: exemplar's own payload — ``value``, unix-seconds ``ts``, and the
#: exemplar label map (trace/span ids; Prometheus caps these at 64
#: UTF-8 chars of combined length, enforced at the edge, not here).
EXEMPLAR_ROW_SCHEMA = StructType(
    [
        StructField("metric", StringType()),
        StructField("labels", MapType(StringType(), StringType())),
        StructField("ts", LongType()),
        StructField("value", DoubleType()),
        StructField("exemplar", MapType(StringType(), StringType())),
    ]
)


class ExemplarStore(HistStore):
    """Disk store: ``<root>`` holds seg-partitioned parquet of
    ``(labels, ts, value, exemplar, series_key)``."""

    PAYLOAD = ("value", "exemplar")
    ROW_SCHEMA = EXEMPLAR_ROW_SCHEMA


class MemoryExemplarStore(MemoryHistStore):
    """Memory-only variant (``WithOnlyMemoryMode`` parity)."""

    PAYLOAD = ("value", "exemplar")
    ROW_SCHEMA = EXEMPLAR_ROW_SCHEMA


def group_exemplars(rel: DataFrame) -> DataFrame:
    """Shape matcher-filtered exemplar rows as one row per SERIES with its
    ts-sorted exemplar list — the ``/api/v1/query_exemplars`` data layout
    (seriesLabels + exemplars[]).  One hash aggregate; the sort is
    per-group over an already-sampled list, never corpus-wide."""
    ex = F.struct(
        F.col("ts"),
        F.col("value"),
        F.col("exemplar").alias("labels"),
    )

    # explicit comparator: struct ordering can't see through the exemplar
    # label MAP, so sort on (ts, value) only
    def cmp(a, b):
        return (
            F.when(a["ts"] < b["ts"], -1)
            .when(a["ts"] > b["ts"], 1)
            .when(a["value"] < b["value"], -1)
            .when(a["value"] > b["value"], 1)
            .otherwise(0)
        ).cast("int")

    return (
        rel.groupBy("series_key")
        .agg(
            F.any_value("labels").alias("labels"),
            F.array_sort(F.collect_list(ex), cmp).alias("exemplars"),
        )
        .select("series_key", "labels", "exemplars")
    )


__all__ = [
    "EXEMPLAR_ROW_SCHEMA",
    "ExemplarStore",
    "MemoryExemplarStore",
    "group_exemplars",
]
