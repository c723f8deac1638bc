"""Mergeable value-histogram rollup: percentile continuous aggregates.

The reference stores raw points only — every quantile query re-reads and
sorts samples (tsdb.go:295-321 merges points, the caller aggregates).  At
100 TB that is the classic "p95 over last month" wall: the raw relation is
petabyte-scale but the QUESTION only needs per-series value distributions.
The standard fix (TimescaleDB percentile continuous aggregates, Prometheus
classic histograms, M3/Thanos downsampling) is a mergeable sketch rolled
up per time bucket.  Spark exposes no public mergeable quantile-sketch
STATE (``approx_percentile`` cannot persist its summary for later union),
so the rollup here is the Prometheus classic-histogram form — explicit
``le`` bucket COUNTS per (series, segment):

- integer counts ⇒ merging = ``sum`` grouped by (series, le): exactly
  associative, any subset of segments merges bit-identically (no sketch
  merge error), and the DuckDB oracle reproduces every stage exactly;
- per-(series, seg) rows are O(series × buckets) — millions of times
  smaller than points; the rollup table partition-prunes on ``seg`` like
  the point store;
- quantile estimation reuses the PromQL layer's ``histogram_quantile``
  interpolation (functions/promql.py:395 — promql/quantile.go semantics),
  so the materialized path and the PromQL path cannot drift.

Accuracy is bucket-resolution-bounded (the published trade of classic
histograms); pick ``bounds`` on the metric's scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

from ..model import ROW_SCHEMA, as_nullable
from ..sources.segment_store import refresh_aggregate

#: Default bucket ladder (events.value spans 0.01..~500; roughly
#: half-decade geometric steps, Prometheus-style).
DEFAULT_BOUNDS = (0.5, 1.0, 2.5, 5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0)

INF = float("inf")


def bucket_le(value: Column, bounds: tuple[float, ...] = DEFAULT_BOUNDS) -> Column:
    """Upper bound (``le``) of the first bucket holding ``value`` — a
    chained CASE over the (small, literal) ladder; +Inf overflow bucket."""
    expr = F.lit(INF)
    for b in sorted(bounds, reverse=True):
        expr = F.when(value <= F.lit(b), F.lit(b)).otherwise(expr)
    return expr


def bucket_le_sql(value_sql: str, bounds: tuple[float, ...] = DEFAULT_BOUNDS) -> str:
    """DuckDB mirror of :func:`bucket_le`."""
    whens = " ".join(
        f"WHEN {value_sql} <= {b} THEN {b}" for b in sorted(bounds)
    )
    return f"(CASE {whens} ELSE CAST('inf' AS DOUBLE) END)"


def value_histogram(
    rel: DataFrame, bounds: tuple[float, ...] = DEFAULT_BOUNDS
) -> DataFrame:
    """Per-(series, segment) bucket counts — the materializable rollup.

    One shuffle (groupBy series_key × seg × le); emits non-cumulative
    counts so merges stay a plain ``sum``.  Input is the canonical
    relation (labels/ts/value/series_key/seg)."""
    return (
        rel.withColumn("le", bucket_le(F.col("value"), bounds))
        .groupBy("series_key", "seg", "le")
        .agg(F.any_value("labels").alias("labels"), F.count(F.lit(1)).alias("n"))
    )


def histogram_quantile_over(
    hist: DataFrame, q: float, group_cols: list[str]
) -> DataFrame:
    """Quantile per group from (possibly many segments of) bucket counts.

    merge (sum counts per group × le) → running cumulative over le →
    PromQL interpolation.  Cost is O(groups × buckets) regardless of how
    many points the histogram summarizes — the continuous-aggregate
    payoff."""
    from ..functions.promql import histogram_quantile

    merged = hist.groupBy(*group_cols, "le").agg(F.sum("n").alias("__n"))
    w = Window.partitionBy(*group_cols).orderBy("le").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.withColumn("cum", F.sum("__n").over(w).cast("double")).drop("__n")
    return histogram_quantile(cum, q, group_cols)


#: A materialized value histogram as every read sees it (``seg`` INT).
VALUE_HIST_SCHEMA = as_nullable(StructType([
    StructField("series_key", LongType()), StructField("le", DoubleType()),
    ROW_SCHEMA["labels"], StructField("n", LongType()), StructField("seg", IntegerType())]))


def materialize(
    spark,
    rel: DataFrame,
    dest: str,
    bounds: tuple[float, ...] = DEFAULT_BOUNDS,
    incremental: bool = False,
    since_seg: int | None = None,
) -> None:
    """Write the (series, seg, le) bucket rollup seg-partitioned — the
    core of ``TSDB.materialize_value_histogram`` and the streaming
    ingestor's per-batch refresh.  Rows are keyed by ``seg`` itself, so
    no bucket straddles a partition; refresh protocol:
    :func:`sources.segment_store.refresh_aggregate`."""
    refresh_aggregate(rel, dest, lambda r: value_histogram(r, bounds),
                      incremental=incremental, since_seg=since_seg)
