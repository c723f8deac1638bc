"""Structured Streaming ingestion — the reference's write path, Spark-native.

The reference's ingest pipeline (SURVEY.md §3.4) is a channel-backed queue
(tsdb.go:205-216, S1) drained by GOMAXPROCS workers (tsdb.go:218-233, S2)
into a mutable head segment that rotates every 2h (tsdb.go:235-271, S3) and
flushes asynchronously (S4), with an AVL sidecar for out-of-order points
(T2) and no WAL (crash loses the head, README.md:40 / T4).

The Spark shape replaces all of it with one construct:

    readStream → foreachBatch(StreamingIngestor.process_batch) → SegmentStore

- S1/S2 (queue + workers)  → micro-batch trigger + task parallelism.
- S3 (head rotation)       → nothing to rotate: every batch is written
  partitionBy(seg), so a "segment" closes simply by time passing.
- T2 (late data)           → late rows land in their event-time partition
  and reads sort on (series_key, ts); the AVL sidecar and flush-time merge
  (series.go:72-94) have no equivalent because nothing needs merging.
  An optional watermark bounds state when window aggregations are used.
- T3 (30s enqueue timeout) → backpressure is per-trigger admission
  bounding (:func:`bounded_source` wires maxFilesPerTrigger /
  maxOffsetsPerTrigger / maxBytesPerTrigger); ingestion lags rather
  than erroring.
- T4 (async, lossy)        → checkpointing makes delivery at-least-once
  into the store (no batch is lost; a batch replayed after a failure is
  appended again).
- T6 (memory mode)         → format("memory") sink for tests.

Small-files posture: one file per segment per micro-batch (repartition by
seg inside the store's append); SegmentStore.compact() restores the
one-sorted-file-per-segment invariant periodically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import histogram, sketch, tsdb_ops
from ..sources.segment_store import SegmentStore
from .maintainer import Maintainer


def bounded_source(
    spark: SparkSession,
    fmt: str,
    path: str | None = None,
    schema=None,
    max_files_per_trigger: int | None = None,
    max_offsets_per_trigger: int | None = None,
    max_bytes_per_trigger: str | None = None,
    **options: str,
) -> DataFrame:
    """readStream with per-trigger admission bounds — the T3 backpressure
    knob (tsdb.go:205-216,42: the reference bounds ingest with a fixed-
    capacity channel and a 30s enqueue timeout; Spark's equivalent is
    bounding what each micro-batch ADMITS, so a hot source lags instead of
    producing unbounded batches that blow executor memory).

    - ``max_files_per_trigger``  → file sources (parquet/json/csv/text)
    - ``max_offsets_per_trigger`` → Kafka
    - ``max_bytes_per_trigger``  → file sources, e.g. "512m" (Spark 4)

    The bounds hold under ``Trigger.AvailableNow`` too: a backlog drains in
    several bounded batches rather than one giant one (asserted by
    test_bounded_source_drains_in_multiple_batches).
    """
    reader = spark.readStream.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path) if path is not None else reader.load()


class StreamingIngestor(Maintainer):
    """foreachBatch sink writing the canonical relation into a SegmentStore.

    ``label_dim_dest``: optional path of a materialized label-value dim
    (A4) maintained incrementally per micro-batch — O(batch + dim) per
    refresh instead of a full-store DISTINCT per lookup (the reference
    updates its label registry per ingested segment the same way,
    memory_segment.go:93-96).

    Continuous aggregates refreshed after each batch lands (the
    hypertable loop: ingest advances the raw table, the refresh rewrites
    only the open partitions, so per-batch cost is O(open segments), not
    O(store)): ``rollup_dest``/``rollup_step`` the step rollup,
    ``hist_dest``/``hist_bounds`` the le-bucket value histogram
    (operators/histogram.py), ``card_dest`` the HLL series cardinality and
    ``quantile_dest``/``quantile_alpha`` the DDSketch value quantiles
    (operators/sketch.py).  One ``min(ts)`` probe per batch gives the
    lowest segment a late row touched; each aggregate refreshes from it
    or its watermark, whichever is lower, and builds in full when its
    ``dest`` holds no partition yet
    (:func:`sources.segment_store.refresh_aggregate`), so it always
    equals a full build over the store.

    ``nh_dest``/``nh_step``/``nh_schema``: continuous NATIVE-HISTOGRAM
    maintenance — each micro-batch's raw values are observed into one
    PARTIAL histogram sample per (series, ``nh_step``-aligned window)
    and appended to the seg-partitioned HistStore at ``nh_dest``.
    Histogram addition is associative, so a window split across batches
    simply holds several partials; ``native_hist.hist_merge_partials``
    reconstructs the full-window histogram (stripping the bookkeeping
    label below).  foreachBatch is at-least-once, and a blind append-only
    sink would double-count a replayed batch's partials — so each partial
    carries a reserved ``__batch__`` label (making its series identity
    batch-unique) and the append runs ``dedup_against_store=True``: a
    replay re-derives byte-identical (series, ts) partials and the
    store-side anti-join drops them, restoring exactly-once.  Still
    O(batch) work per batch — the dedup scan is statically pruned to the
    batch's touched segments; no read-modify-write of previously-written
    windows.
    """

    skip_empty = True

    def __init__(self, store: SegmentStore, label_dim_dest: str | None = None,
                 rollup_dest: str | None = None, rollup_step: int = 21600,
                 hist_dest: str | None = None,
                 hist_bounds: tuple[float, ...] | None = None,
                 card_dest: str | None = None,
                 quantile_dest: str | None = None,
                 quantile_alpha: float = 0.01,
                 nh_dest: str | None = None,
                 nh_step: int = 3600,
                 nh_schema: int | None = None) -> None:
        super().__init__()
        self.store = store
        self.label_dim_dest = label_dim_dest
        self.rollup_dest = rollup_dest
        self.rollup_step = rollup_step
        self.hist_dest = hist_dest
        self.hist_bounds = hist_bounds
        self.card_dest = card_dest
        self.quantile_dest = quantile_dest
        self.quantile_alpha = quantile_alpha
        self.nh_dest = nh_dest
        self.nh_step = nh_step
        self.nh_schema = nh_schema

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        """One micro-batch → one transactional Parquet append (S4).

        foreachBatch may redeliver a batch after recovery, and the append
        does not look at ``batch_id``: a redelivered batch is appended
        again, so delivery to the store is at-least-once.
        """
        self.store.append(batch_df)
        if self.label_dim_dest:
            from ..model import canonicalize

            tsdb_ops.refresh_label_dim(
                self.label_dim_dest, canonicalize(batch_df, self.store.segment_duration)
            )
        dur = self.store.segment_duration
        aggregates = [
            (dest, materialize, kwargs) for dest, materialize, kwargs in (
                (self.rollup_dest, tsdb_ops.materialize_rollup,
                 {"step": self.rollup_step, "segment_duration": dur}),
                (self.hist_dest, histogram.materialize,
                 {"bounds": self.hist_bounds or histogram.DEFAULT_BOUNDS}),
                (self.card_dest, sketch.cardinality_materialize, {}),
                (self.quantile_dest, sketch.quantile_materialize,
                 {"alpha": self.quantile_alpha}),
            ) if dest
        ]
        if aggregates:
            from pyspark.sql import functions as F

            # Late rows may land BELOW an aggregate's watermark; the batch
            # knows its own minimum event time, so every refresh starts no
            # later than that row's segment (each aggregate aligns it)
            min_ts = batch_df.agg(F.min("ts")).first()[0]
            since = None if min_ts is None else min_ts // dur
            rel = self.store.relation()
            for dest, materialize, kwargs in aggregates:
                materialize(self.store.spark, rel, dest, incremental=True,
                            since_seg=since, **kwargs)
        if self.nh_dest:
            from pyspark.sql import functions as F

            from ..functions import native_hist as nh
            from ..sources.hist_store import HistStore

            step = self.nh_step
            windowed = batch_df.withColumn(
                "ts", (F.floor(F.col("ts") / step) * step).cast("long")
            )
            kwargs = {} if self.nh_schema is None else {"schema": self.nh_schema}
            partials = nh.observe_histograms(windowed, **kwargs).select(
                F.col("labels").getItem("__name__").alias("metric"),
                F.map_concat(
                    # strip BATCH_LABEL too: it is reserved, and with
                    # Spark's default mapKeyDedupPolicy=EXCEPTION a
                    # pre-existing key would raise DUPLICATE_MAP_KEY at
                    # runtime and kill the streaming query
                    F.map_filter(
                        F.col("labels"),
                        lambda k, _: (k != F.lit("__name__"))
                        & (k != F.lit(nh.BATCH_LABEL))),
                    F.create_map(F.lit(nh.BATCH_LABEL),
                                 F.lit(str(int(batch_id)))),
                ).alias("labels"),
                "ts",
                "hist",
            )
            HistStore(self.store.spark, self.nh_dest,
                      self.store.segment_duration).append(
                partials, dedup_against_store=True)
        return {}


def dedup_stream(rows: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once sample dedup for at-least-once upstreams.

    The reference's TSZ append silently drops per-series duplicate
    timestamps (series.go:24-27) — its only dedup, bounded to the open
    head.  The streaming-native equivalent: drop duplicate
    (series_key-identity, ts) samples within a watermark window via
    ``dropDuplicatesWithinWatermark`` — state is bounded by the watermark
    (O(series × samples-per-window)), not by stream length, so it holds on
    an unbounded 100 TB/day feed.

    Apply BEFORE the ingest sink: ``ingestor.start(dedup_stream(rows), …)``.
    Input: ROW_SCHEMA rows (metric, labels, ts, value).
    """
    from pyspark.sql import functions as F

    from ..model import clean_labels, fold_metric_name, series_key

    # Key exactly like canonicalize(): NULL labels must coalesce to an empty
    # map BEFORE hashing — map_concat(NULL, …) is NULL and xxhash64(NULL)
    # collapses every null-labeled metric onto one constant key, silently
    # dropping samples from different metrics at the same timestamp.
    keyed = rows.withColumn(
        "__sk",
        series_key(
            fold_metric_name(
                F.col("metric"), clean_labels(F.coalesce(F.col("labels"), F.create_map()))
            )
        ),
    ).withColumn("__ev", F.timestamp_seconds(F.col("ts")))
    return (
        keyed.withWatermark("__ev", watermark)
        .dropDuplicatesWithinWatermark(["__sk", "__ev"])
        .drop("__sk", "__ev")
    )


class ExemplarSinkMaintainer(Maintainer):
    """foreachBatch sink for EXEMPLARS: idempotent append into the TSDB's
    exemplar sibling store — the streaming leg of the exemplar scrape
    path (``sources/exemplar_store.py``; read side
    ``TSDB.query_exemplars`` / ``to_api_exemplars``).

    ``derive`` (optional) maps each micro-batch to
    ``EXEMPLAR_ROW_SCHEMA`` rows — e.g. the exemplar suffix decode of a
    scrape payload (``exemplars_from_openmetrics``) or the prompb wire
    decode (``prompb.timeseries_from_prompb`` →
    ``exemplars_from_remote_write``); with ``derive=None`` the batch must
    already be exemplar rows.  At-least-once replays dedup against the
    store on (series, ts) — the same first-write-wins contract as the nh
    partial sink — and retention rides ``TSDB.remove_expires``, which
    purges the exemplar sibling under the raw cutoff."""

    def __init__(self, db, derive=None) -> None:
        super().__init__()
        self.db = db
        self.derive = derive

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        rows = self.derive(batch_df) if self.derive is not None else batch_df
        self.db.insert_exemplars(rows, dedup_against_store=True)
        return {}


class WireIngressMaintainer(Maintainer):
    """foreachBatch sink exercising the FULL remote-write wire loop per
    micro-batch: canonical rows → prompb ``WriteRequest`` payload BYTES
    (executor-side encode, ``prompb.prompb_from_timeseries``) → wire
    decode (``prompb.timeseries_from_prompb``) → canonical rows →
    idempotent store append.  This is the scrape-gateway round trip a
    remote-write receiver performs, run continuously under Structured
    Streaming — the landed store can then serve the SAME data back as
    bytes via ``TSDB.remote_read`` / ``remote_read_chunked``, closing
    the bytes-in/bytes-out loop (r11 verdict #8).

    At-least-once replays are absorbed by ``dedup_against_store=True``
    (first-write-wins on ``(series, ts)``, scan pruned to the batch's
    touched segments), the same exactly-once discipline as the nh
    partial and exemplar sinks.  Everything except HTTP framing runs
    executor-side: both wire codecs are Arrow-batched ``mapInPandas``
    seams, so per-batch cost is O(batch) with no driver decode."""

    def __init__(self, db, series_per_request: int = 500) -> None:
        super().__init__()
        self.db = db
        self.series_per_request = series_per_request

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        from pyspark.sql import functions as F

        from ..model import fold_metric_name
        from ..sources import prompb
        from ..sources.loaders import rows_from_remote_write, to_remote_write

        wire = prompb.prompb_from_timeseries(
            to_remote_write(batch_df.select(
                fold_metric_name(F.col("metric"), F.col("labels"))
                .alias("labels"),
                "ts", "value")),
            series_per_request=self.series_per_request)
        decoded = rows_from_remote_write(prompb.timeseries_from_prompb(wire))
        self.db.insert_rows(decoded, dedup_against_store=True)
        return {}
