"""The reference's three query operators as pure DataFrame transforms.

Each takes a canonical relation (``labels MAP<STRING,STRING>, ts LONG,
value DOUBLE`` + ``series_key``/``seg``) and returns a DataFrame —
no driver-side state, no collect, no UDFs; every stage is a Catalyst-planned
expression so the same code runs on local[32] or a 1000-executor cluster.

Query lifecycle parity (SURVEY.md §3):
- ``query_range``   ≙ TSDB.QueryRange   (tsdb.go:278-293) — prune → filter →
  partial/final hash-aggregate merge (tsdb.go:295-321).
- ``query_series``  ≙ TSDB.QuerySeries  (tsdb.go:323-336) — distinct label
  sets (tsdb.go:338-350), metadata-only on disk (column-pruned scan here).
- ``query_label_values`` ≙ TSDB.QueryLabelValues (tsdb.go:352-370) — with
  *exact* time filtering, consciously fixing the reference's
  segment-granularity quirk (SURVEY.md §3.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType, StructField,
                               StructType)

from ..matchers import LabelMatcher, add_metric_name, matchers_predicate, regex_predicate
from ..model import DEFAULT_SEGMENT_DURATION, ROW_SCHEMA, as_nullable, series_key
from ..sources.segment_store import refresh_aggregate

#: A materialized label-value dim as every read sees it (declared, so the
#: read opens no footer and runs no job).
LABEL_DIM_SCHEMA = StructType(
    [StructField("name", StringType()), StructField("value", StringType())]
)


def time_predicate(start: int, end: int, segment_duration: int = DEFAULT_SEGMENT_DURATION) -> Column:
    """Inclusive time-range predicate ``start <= ts <= end`` (F1/F9).

    Every canonical relation carries the ``seg`` partition column, so an
    equivalent predicate on ``seg`` is ANDed in and Catalyst's
    ``PruneFileSourcePartitions`` prunes whole segment directories — the
    DataFrame form of ``segmentList.Get`` (segment.go:48-69).  Row-group
    skipping via Parquet ts min/max stats replaces the reference's
    early-exit scan (series.go:48-50).
    """
    return (F.col("seg").between(F.lit(start // segment_duration),
                                 F.lit(end // segment_duration))
            & F.col("ts").between(F.lit(start), F.lit(end)))


def label_values_dim(df: DataFrame) -> DataFrame:
    """The label-value registry as a relation (A4, label.go:40-77).

    ``(name, value)`` distinct pairs — the reference maintains this map
    incrementally per segment (memory_segment.go:93-96); here it *is*
    ``SELECT DISTINCT`` over exploded label entries, and at scale it would
    be materialized incrementally per ingested batch (tiny dimension,
    refreshed in foreachBatch).
    """
    return df.select(F.explode(F.col("labels")).alias("name", "value")).distinct()


def refresh_label_dim(dest: str, batch: DataFrame) -> None:
    """Incrementally maintain a materialized label-value dimension at
    ``dest``: APPEND ``batch``'s genuinely-new (name, value) pairs — the
    reference maintains exactly this map per ingested segment
    (memory_segment.go:93-96); at 100 TB a full-store DISTINCT per lookup
    is the difference between milliseconds and a cluster job.

    ``batch`` is any canonical-relation slice (must carry ``labels``).
    Shape (VERDICT r5 §What's-wrong fix): the refresh scans ONLY the batch
    — its distinct pairs are anti-joined against the existing dim with the
    dim BROADCAST (tiny by design: it exists to keep label cardinality
    enumerable), and only the new pairs are appended as one small file.
    The previous union-the-whole-dim + ``coalesce(1)`` rewrite serialized
    O(dim) work through one task per refresh — precisely wrong under a
    cardinality explosion, the scenario the dim exists to diagnose.
    Append is also crash-safe without a swap: Spark's commit protocol
    exposes files only at job commit, so a failed refresh leaves the
    previous dim intact and visible throughout.  Readers may see a
    duplicate pair only if two concurrent refreshes race the same new
    value — consumers (regex-via-dim) are set-semantics and unaffected;
    a periodic compact can fold the files.
    """
    from pathlib import Path

    spark = batch.sparkSession
    new = label_values_dim(batch)
    if Path(dest).exists():
        old = spark.read.schema(LABEL_DIM_SCHEMA).parquet(dest)
        new = new.join(F.broadcast(old), ["name", "value"], "left_anti")
        # steady state is "no new labels": skip the write entirely rather
        # than appending an empty part file per micro-batch (isEmpty is a
        # limit-1 probe of the tiny anti-join — cheaper than file churn)
        if not new.isEmpty():
            new.write.mode("append").parquet(dest)
    else:
        new.coalesce(1).write.mode("overwrite").parquet(dest)


#: Columns of a rollup row (shared by the materialized tier and the
#: on-the-fly raw aggregation, so the two sides of a tiered read union).
ROLLUP_COLS = ("series_key", "labels", "bucket_ts", "n", "avg_value",
               "min_value", "max_value", "sum_value", "last_value")


def rollup_aggregate(rel: DataFrame, step: int) -> DataFrame:
    """Per-series ``step``-second bucket aggregate of a canonical relation
    — one hash aggregation keyed (series_key, bucket); ``last_value`` =
    max_by(value, ts).  The shared math of :func:`materialize_rollup` and
    the raw side of :func:`tiered_range` (they must stay identical or a
    tiered read changes semantics at the cutover)."""
    bucket = (F.floor(F.col("ts") / step) * step).cast("long")
    return rel.groupBy(F.col("series_key"), bucket.alias("bucket_ts")).agg(
        F.any_value("labels").alias("labels"),
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum("value").alias("sum_value"),
        F.max_by("value", "ts").alias("last_value"),
    )


def tiered_range(raw_rel: DataFrame, rollup: DataFrame,
                 start: int, end: int, step: int,
                 cutover_ts: int) -> DataFrame:
    """Retention-ladder read (the M3/Thanos tiered story): buckets below
    the cutover come from the materialized rollup tier, buckets at/after
    it are aggregated from raw points on the fly — one DataFrame spanning
    both, so raw segments older than the cutover can be retention-purged
    once the tier covers them without any query losing history.

    ``cutover_ts`` is aligned DOWN to a ``step`` boundary so no bucket
    ever mixes sources; selection is by bucket: every bucket whose start
    lies in [floor(start/step)·step, end] is returned (tier buckets carry
    full-bucket aggregates by construction).  Both sides are pruned
    before any aggregation — the tier by bucket_ts (and its ``seg``
    partitions upstream), the raw scan by ts — and the union is
    schema-aligned on :data:`ROLLUP_COLS`.
    """
    cut = (cutover_ts // step) * step
    b0 = (start // step) * step
    cols = [F.col(c) for c in ROLLUP_COLS]
    old = rollup.filter(
        (F.col("bucket_ts") >= b0)
        & (F.col("bucket_ts") < cut)
        & (F.col("bucket_ts") <= end)
    ).select(*cols)
    new = (
        rollup_aggregate(
            raw_rel.filter((F.col("ts") >= cut) & (F.col("ts") <= end)), step
        )
        .filter(F.col("bucket_ts") >= b0)
        .select(*cols)
    )
    return old.unionByName(new)


#: A materialized step rollup as every read sees it: the
#: :func:`rollup_aggregate` columns plus the ``seg`` partition column (INT,
#: as partition inference reads it).
ROLLUP_SCHEMA = as_nullable(StructType([
    *(StructField(c, LongType()) for c in ("series_key", "bucket_ts")),
    ROW_SCHEMA["labels"], StructField("n", LongType()),
    *(StructField(f"{c}_value", DoubleType()) for c in ("avg", "min", "max", "sum", "last")),
    StructField("seg", IntegerType())]))


def materialize_rollup(spark, rel: DataFrame, dest: str, step: int = 21600,
                       segment_duration: int = DEFAULT_SEGMENT_DURATION,
                       incremental: bool = False,
                       since_seg: int | None = None) -> None:
    """Materialize the per-series ``step``-second continuous aggregate of a
    canonical relation (:func:`rollup_aggregate`) as a seg-partitioned
    Parquet table — the core of ``TSDB.materialize_rollup`` and the
    streaming ingestor's per-batch refresh.  Bucket b lands in partition
    floor(b / segment_duration); the watermark, backfill and overwrite
    protocol is :func:`sources.segment_store.refresh_aggregate`."""
    def build(r: DataFrame) -> DataFrame:
        return rollup_aggregate(r, step).withColumn(
            "seg", (F.col("bucket_ts") / segment_duration).cast("long"))

    refresh_aggregate(rel, dest, build, step=step,
                      segment_duration=segment_duration,
                      incremental=incremental, since_seg=since_seg,
                      sort_cols=("series_key", "bucket_ts"))


def _filtered(
    df: DataFrame,
    metric: str | None,
    matchers: list[LabelMatcher],
    start: int,
    end: int,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
    regex_via_dim: bool = False,
) -> DataFrame:
    """Shared prune+filter front half of all three query paths.

    ``regex_via_dim=True`` enables the reference's second regex
    optimization (label.go:166-184 via index.go:117-127): evaluate each
    regex over the *distinct value set* of that label, then semi-join the
    matching values back — regex cost becomes O(label cardinality) instead
    of O(rows), a win whenever cardinality ≪ row count (broadcast keeps
    the join shuffle-free).
    """
    lms = add_metric_name(metric, matchers)
    inline = [m for m in lms if not (regex_via_dim and m.is_regex and not m.is_present)]
    out = df.filter(
        time_predicate(start, end, segment_duration)
        & matchers_predicate(F.col("labels"), inline)
    )
    if regex_via_dim:
        for m in lms:
            if not m.is_regex or m.is_present:
                continue
            v = F.col("labels").getItem(m.name)
            dim = (
                df.select(v.alias("__v"))
                .where(F.col("__v").isNotNull())
                .distinct()
                .where(regex_predicate(F.col("__v"), m.value))
            )
            out = out.join(F.broadcast(dim), v == F.col("__v"), "left_semi")
    return out


def query_range_rows(
    df: DataFrame,
    metric: str | None,
    matchers: list[LabelMatcher],
    start: int,
    end: int,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
    regex_via_dim: bool = False,
) -> DataFrame:
    """Flat form of QueryRange: one row per matched point.

    Columns: ``labels, ts, value`` — the pre-merge stream.  Useful when the
    caller wants rows, not per-series arrays (and for oracle comparison).
    """
    return _filtered(df, metric, matchers, start, end, segment_duration, regex_via_dim).select(
        "labels", "ts", "value"
    )


def query_range(
    df: DataFrame,
    metric: str | None,
    matchers: list[LabelMatcher],
    start: int,
    end: int,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
    regex_via_dim: bool = False,
    salt_partitions: int = 1,
) -> DataFrame:
    """QueryRange (tsdb.go:278-293): per-series time-sorted point arrays.

    The groupBy+collect_list+array_sort is exactly the reference's
    two-phase merge (``mergeQueryRangeResult``, tsdb.go:295-321): Spark's
    partial/final HashAggregate produces per-partition partials and a final
    merge, and ``array_sort`` is the per-group ts sort (tsdb.go:313-315).
    Grouping is on ``series_key`` (maps aren't groupable), labels recovered
    via ``any_value`` — valid because series_key determines labels.

    Output: ``labels MAP, points ARRAY<STRUCT<ts,value>>`` ≙ ``MetricRet``
    (tsdb.go:273-276).
    """
    flt = _filtered(df, metric, matchers, start, end, segment_duration, regex_via_dim)
    if "series_key" not in flt.columns:
        flt = flt.withColumn("series_key", series_key(F.col("labels")))
    if salt_partitions > 1:
        # Skew path: a monster series (one key holding a large fraction of
        # rows) would funnel into a single reducer.  Salting splits each
        # series into deterministic sub-groups (pmod(ts, salt)), collects
        # sub-arrays in parallel, then flattens+sorts in a second, much
        # smaller aggregation — the classic two-phase skew mitigation,
        # exact same output.
        partial = (
            flt.withColumn("__salt", F.pmod(F.col("ts"), F.lit(salt_partitions)))
            .groupBy("series_key", "__salt")
            .agg(
                F.any_value(F.col("labels")).alias("labels"),
                F.collect_list(F.struct(F.col("ts"), F.col("value"))).alias("chunk"),
            )
        )
        return (
            partial.groupBy("series_key")
            .agg(
                F.any_value(F.col("labels")).alias("labels"),
                F.array_sort(F.flatten(F.collect_list(F.col("chunk")))).alias("points"),
            )
            .select("labels", "points")
        )
    return (
        flt.groupBy("series_key")
        .agg(
            F.any_value(F.col("labels")).alias("labels"),
            F.array_sort(F.collect_list(F.struct(F.col("ts"), F.col("value")))).alias("points"),
        )
        .select("labels", "points")
    )


def query_series(
    df: DataFrame,
    matchers: list[LabelMatcher],
    start: int,
    end: int,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
) -> DataFrame:
    """QuerySeries (tsdb.go:323-350): distinct matched label sets.

    ``select(labels).distinct()`` — the scan is column-pruned to ``labels``
    (+ partition/ts columns for the filter), the Spark analogue of the
    reference's metadata-only disk path (disk_segment.go:157-166).
    Distinct on a map isn't supported directly, so dedup goes through the
    canonical series_key, mirroring dedup-by-label-hash (tsdb.go:338-350).
    """
    flt = _filtered(df, None, matchers, start, end, segment_duration)
    if "series_key" not in flt.columns:
        flt = flt.withColumn("series_key", series_key(F.col("labels")))
    return flt.groupBy("series_key").agg(F.any_value(F.col("labels")).alias("labels")).select("labels")


def query_label_values(
    df: DataFrame,
    label: str,
    start: int,
    end: int,
    matchers: list[LabelMatcher] | None = None,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
) -> DataFrame:
    """QueryLabelValues (tsdb.go:352-370): sorted distinct values of a label.

    Exact time filtering on every row — strictly more correct than the
    reference's segment-granularity filter (label.go:62-77 via
    SURVEY.md §3.3), as the survey prescribes.  Output column: ``value``.

    The sort runs in one partition after the distinct: the values are
    collected anyway, and a global ``orderBy`` would add a range-sampling
    job and a second exchange to order them.
    """
    flt = _filtered(df, None, matchers or [], start, end, segment_duration)
    v = F.col("labels").getItem(label)
    return (
        flt.select(v.alias("value"))
        .where(F.col("value").isNotNull())
        .distinct()
        .coalesce(1)
        .sortWithinPartitions("value")
    )


def alert_intervals(
    df: DataFrame,
    condition: Column,
    for_duration: int,
    max_gap: int,
    metric: str | None = None,
    matchers: list[LabelMatcher] | None = None,
    start: int = 0,
    end: int = 2**40,  # open-ended sentinel that keeps seg arithmetic in range
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
) -> DataFrame:
    """Prometheus-style alert evaluation with ``for``-duration semantics:
    per series, the maximal runs of consecutive samples satisfying
    ``condition`` (a boolean Column over ``value``/``ts``/``labels``),
    where "consecutive" means inter-sample gap ≤ ``max_gap`` seconds — a
    scrape hole breaks the run, exactly like Prometheus staleness ends a
    pending alert.  A run FIRES once it has persisted ``for_duration``
    seconds (``pending`` until then).

    Classic gaps-and-islands over two per-series windows (lag to mark run
    starts, running sum to number the runs) — state is one window
    partition per series, never global; the scan is pruned/pushed by the
    same matcher+time gate as every TSDB read.

    Output: ``(labels, start_ts, end_ts, n_samples, firing)`` — one row
    per run; ``firing = end_ts - start_ts >= for_duration``.
    """
    from pyspark.sql import Window

    flt = _filtered(df, metric, matchers or [], start, end, segment_duration)
    if "series_key" not in flt.columns:
        flt = flt.withColumn("series_key", series_key(F.col("labels")))
    # runs are computed over ALL samples, not just condition-true ones: a
    # sample that VIOLATES the condition ends the run even when it falls
    # inside max_gap (Prometheus resolves the alert on the first healthy
    # evaluation; a pure gap only breaks the run via staleness)
    w = Window.partitionBy("series_key").orderBy("ts")
    marked = (
        flt.select("series_key", "labels", "ts", condition.alias("__c"))
        .withColumn("__prev_c", F.lag("__c").over(w))
        .withColumn("__prev_ts", F.lag("ts").over(w))
        .withColumn(
            "__new_run",
            (
                F.col("__c")
                & (
                    F.col("__prev_ts").isNull()
                    | ~F.coalesce(F.col("__prev_c"), F.lit(False))
                    | (F.col("ts") - F.col("__prev_ts") > max_gap)
                )
            ).cast("int"),
        )
        .withColumn("__run", F.sum("__new_run").over(w))
    )
    return (
        marked.filter(F.col("__c"))
        .groupBy("series_key", "__run")
        .agg(
            F.any_value("labels").alias("labels"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .select(
            "labels",
            "start_ts",
            "end_ts",
            "n_samples",
            (F.col("end_ts") - F.col("start_ts") >= for_duration).alias("firing"),
        )
    )


def anomaly_scores(
    df: DataFrame,
    lookback: int = 20,
    z_threshold: float = 3.0,
    min_points: int = 5,
    metric: str | None = None,
    matchers: list[LabelMatcher] | None = None,
    start: int = 0,
    end: int = 2**40,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
    tie_breakers: tuple = (),
) -> DataFrame:
    """Statistical anomaly detection per series: each sample's z-score
    against the trailing ``lookback`` samples (mean/stddev over a rows
    window that EXCLUDES the current row, so a spike can't mask itself).
    Complements :func:`alert_intervals` — that is the fixed-threshold
    rule; this flags deviations from each series' own recent behavior,
    the shape drift/spike monitors use when no absolute threshold exists.

    A sample is scored only once its window holds ``min_points`` samples
    and has nonzero spread (a constant baseline yields stddev 0: any
    deviation from it is flagged via the infinite-z convention below as
    ``is_anomaly`` with NULL z).  Per-series window partitions — state
    never global; the scan is pruned by the same matcher+time gate as
    every TSDB read.

    Output: ``(labels, ts, value, baseline_mean, z, is_anomaly)``.

    A pre-set ``series_key`` column is honored (coarser groupings, e.g.
    per-metric baselines); when the grouping makes (series, ts)
    non-unique, pass ``tie_breakers`` (column names or Columns) to keep
    the ROWS frame a total order — an ambiguous order would make the
    trailing window, and thus every z, nondeterministic.
    """
    from pyspark.sql import Window

    flt = _filtered(df, metric, matchers or [], start, end, segment_duration)
    if "series_key" not in flt.columns:
        flt = flt.withColumn("series_key", series_key(F.col("labels")))
    order_cols = [F.col("ts")] + [
        F.col(t) if isinstance(t, str) else t for t in tie_breakers
    ]
    w = (
        Window.partitionBy("series_key")
        .orderBy(*order_cols)
        .rowsBetween(-lookback, -1)
    )
    mean = F.avg("value").over(w)
    sd = F.stddev_samp("value").over(w)
    n = F.count(F.lit(1)).over(w)
    scored = flt.select(
        "labels",
        "ts",
        "value",
        mean.alias("baseline_mean"),
        sd.alias("__sd"),
        n.alias("__n"),
    )
    z = F.when(F.col("__sd") > 0, (F.col("value") - F.col("baseline_mean")) / F.col("__sd"))
    return scored.filter(F.col("__n") >= min_points).select(
        "labels",
        "ts",
        "value",
        "baseline_mean",
        z.alias("z"),
        F.when(
            F.col("__sd") > 0, F.abs(z) > F.lit(float(z_threshold))
        ).otherwise(F.col("value") != F.col("baseline_mean")).alias("is_anomaly"),
    )


def query_range_buckets_tiered(
    raw: DataFrame,
    rollup: DataFrame,
    metric: str | None,
    matchers: list[LabelMatcher],
    start: int,
    end: int,
    step: int,
    segment_duration: int = DEFAULT_SEGMENT_DURATION,
) -> DataFrame:
    """Continuous per-series ``step``-bucket aggregates ACROSS the tiered
    retention horizon: buckets whose raw points were downsampled away
    (:meth:`SegmentStore.downsample_expired`) come from the rollup tier,
    recent buckets aggregate raw points, and a bucket straddling the
    horizon merges BOTH sides correctly — rollup rows are partial
    aggregates (n/sum/min/max are all mergeable), so the plan is
    union → one re-aggregate, never a special case.

    Division of labor vs :func:`tiered_range`: that read serves the RICH
    dashboard schema (:data:`ROLLUP_COLS` — avg/last_value) over
    :func:`materialize_rollup` tiers and therefore must SPLIT at an
    aligned cutover (avg/last are not mergeable); this read serves the
    retention-purge tier written by ``downsample_expired`` and restricts
    itself to the mergeable aggregate set on purpose — that is what lets
    it take label matchers, tolerate seg-split buckets, and merge
    straddling buckets instead of aligning them away.

    Matchers apply identically to both tiers (the rollup carries the full
    labels map); the raw side keeps segment pruning via the shared
    ``_filtered`` front half, the rollup side prunes on its own ``seg``
    partitions.  Semantics are BUCKET-COMPLETE (the only semantics the
    rollup tier can honor — sub-bucket resolution is gone by design):
    every bucket overlapping ``[start, end]`` is returned WHOLE, i.e.
    buckets ``floor(start/step)*step <= bucket_ts <= floor(end/step)*
    step``, with the raw side expanded to the same whole-bucket range so
    both tiers agree on straddling buckets.  Output: ``(series_key,
    labels, bucket_ts, n, sum, min, max)``.
    """
    lms = add_metric_name(metric, matchers)
    b0 = (start // step) * step
    b1 = (end // step) * step
    start, end = b0, b1 + step - 1  # whole-bucket expansion for the raw tier
    bucket = (F.floor(F.col("ts") / step) * step).cast("long").alias("bucket_ts")
    raw_part = (
        _filtered(raw, metric, matchers, start, end, segment_duration)
        .groupBy("series_key", bucket)
        .agg(
            F.any_value(F.col("labels")).alias("labels"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .select("series_key", "labels", "bucket_ts", "n", "sum", "min", "max")
    )
    # a rollup row's seg comes from its POINTS: ts ∈ [bucket_ts,
    # bucket_ts + step), so the admissible seg range for buckets in
    # [b0, b1] is [b0 // duration, (b1 + step - 1) // duration]
    roll_pred = F.col("bucket_ts").between(F.lit(b0), F.lit(b1)) & F.col("seg").between(
        F.lit(b0 // segment_duration),
        F.lit((b1 + step - 1) // segment_duration),
    )
    roll_part = (
        rollup.filter(roll_pred & matchers_predicate(F.col("labels"), lms))
        .select("series_key", "labels", "bucket_ts", "n", "sum", "min", "max")
    )
    return (
        raw_part.unionByName(roll_part)
        .groupBy("series_key", "bucket_ts")
        .agg(
            F.any_value(F.col("labels")).alias("labels"),
            F.sum("n").cast("long").alias("n"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
        .select("series_key", "labels", "bucket_ts", "n", "sum", "min", "max")
    )
