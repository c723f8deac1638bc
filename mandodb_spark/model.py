"""Canonical data model of the engine.

The reference (chenjiandongx/mandodb) stores a single logical relation of
samples: ``(metric string, labels []Label, ts int64-seconds, value float64)``
(tsdb.go:144-163), where the metric name is folded into the label set as the
``__name__`` label before storage (memory_segment.go:98-99, label.go:219-228)
and labels are canonically sorted by name (label.go:215-217) after dropping
empty / duplicate names (label.go:189-203).

Here the same relation is one Spark DataFrame with a fixed schema and a
dynamic ``MAP<STRING,STRING>`` labels column — mirroring mandodb's
"NoSchema" labels (README.md:573) exactly.  Series identity
(label.go:234-251: xxhash64 over the sorted label set) becomes
``xxhash64(to_json(array_sort(map_entries(labels))))`` — same construction
(hash of the canonical sorted representation), opaque value: the engine never
compares hash values across systems, only within a single plan.

Scale notes (100 TB posture):
- ``series_key`` is a deterministic column expression, computed JVM-side in
  whole-stage codegen — no UDF, no shuffle of its own.
- ``seg`` (the 2-hour segment bucket, tsdb.go:40) is the partition column for
  the Parquet store, so time-range predicates become partition pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: Metric name label, mirroring the reference's ``metricName`` constant
#: (label.go:14 ``__name__``).
METRIC_NAME_LABEL = "__name__"

#: Segment span in seconds (tsdb.go:40 ``defaultSegmentDuration = 2h``).
DEFAULT_SEGMENT_DURATION = 2 * 60 * 60

#: Retention in seconds (tsdb.go:41 ``defaultRetention = 7d``).
DEFAULT_RETENTION = 7 * 24 * 60 * 60

#: Ingest row schema (tsdb.go:158-163): one sample.
ROW_SCHEMA = StructType(
    [
        StructField("metric", StringType(), False),
        StructField("labels", MapType(StringType(), StringType(), False), True),
        StructField("ts", LongType(), False),
        StructField("value", DoubleType(), True),
    ]
)

#: Point struct used in query results (tsdb.go:144-148).
POINT_STRUCT = StructType(
    [
        StructField("ts", LongType(), False),
        StructField("value", DoubleType(), True),
    ]
)


def as_nullable(t: DataType) -> DataType:
    """``t`` with every field, map value and array element nullable — the
    type Spark reads a Parquet column back as, whatever the writer
    declared.  Declared read schemas are built with it so they equal what
    inference would have returned."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, as_nullable(f.dataType), True) for f in t.fields]
        )
    if isinstance(t, MapType):
        return MapType(as_nullable(t.keyType), as_nullable(t.valueType), True)
    if isinstance(t, ArrayType):
        return ArrayType(as_nullable(t.elementType), True)
    return t


def clean_labels(labels: Column) -> Column:
    """Drop empty-name / empty-value label entries.

    Mirrors ``LabelSet.filter()`` (label.go:189-203).  Duplicate names cannot
    exist in a ``MapType`` so the dedup half is inherent.
    """
    return F.map_filter(labels, lambda k, v: (k != F.lit("")) & (v != F.lit("")))


def fold_metric_name(metric: Column, labels: Column) -> Column:
    """Fold the metric into the label set as ``__name__``.

    Mirrors ``AddMetricName`` (label.go:219-228) as used at ingest
    (memory_segment.go:98).  ``map_concat`` with the metric map last would
    fail on duplicate keys, so filter out any pre-existing ``__name__``
    first — last-write-wins like the reference (which appends then sorts).
    """
    without = F.map_filter(labels, lambda k, _: k != F.lit(METRIC_NAME_LABEL))
    return F.map_concat(without, F.create_map(F.lit(METRIC_NAME_LABEL), metric))


def canonical_labels_json(labels: Column) -> Column:
    """Canonical sorted-entries JSON representation of a label set.

    The single source of truth for series identity, mirroring the sorted
    ``Name:Value`` concatenation hashed in label.go:235-251.  Sorting
    ``map_entries`` output sorts structs field-by-field (key first), giving
    the reference's sort-by-name canonical order (label.go:215-217).
    """
    return F.to_json(F.array_sort(F.map_entries(labels)))


def series_key(labels: Column) -> Column:
    """Opaque 64-bit series identity (label.go:234-251, tsdb.go:165-168).

    Built-in ``xxhash64`` over the canonical JSON — stays in whole-stage
    codegen, no UDF.  Identity is opaque: never compared across systems.
    """
    return F.xxhash64(canonical_labels_json(labels))


def seg_bucket(ts: Column, segment_duration: int = DEFAULT_SEGMENT_DURATION) -> Column:
    """Tumbling segment bucket for a unix-seconds timestamp.

    The partition column replacing mandodb's segment list
    (segment.go:17-29); bucket id = floor(ts / duration).
    """
    return F.floor(ts / F.lit(segment_duration)).cast("long")


def canonicalize(df: DataFrame, segment_duration: int = DEFAULT_SEGMENT_DURATION,
                 payload: tuple = ("value",)) -> DataFrame:
    """Normalize an ingest batch to the storage shape.

    Input columns: ``metric, labels, ts`` plus the ``payload`` columns —
    ``value`` for float samples (ROW_SCHEMA), ``hist`` for native
    histograms, ``value, exemplar`` for exemplars.  Output is ``labels,
    ts, *payload, series_key, seg`` with ``__name__`` folded; this is the
    write-path canonicalization of memory_segment.go:91-122 expressed
    declaratively, one label discipline for every sample type.
    """
    labels = fold_metric_name(F.col("metric"), clean_labels(F.coalesce(F.col("labels"), F.create_map())))
    return (
        df.withColumn("labels", labels)
        .withColumn("series_key", series_key(F.col("labels")))
        .withColumn("seg", seg_bucket(F.col("ts"), segment_duration))
        .select("labels", "ts", *payload, "series_key", "seg")
    )
