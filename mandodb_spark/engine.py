"""TSDB facade — the reference's public API surface, Spark-native.

Mirrors the four public entry points of the reference
(tsdb.go:205 InsertRows, :278 QueryRange, :323 QuerySeries,
:352 QueryLabelValues) plus retention (tsdb.go:384-406) over a
``SegmentStore``.  All queries are lazy DataFrames; nothing collects on the
driver.  Semantic deltas vs the reference, all deliberate (SURVEY.md §3-§4):

- Durability: the reference loses the in-memory head on crash
  (README.md:40); here every accepted batch is durably committed Parquet.
- Visibility: the reference's insert is async via a channel (tsdb.go:205-233,
  T4); ``insert_rows`` here is synchronous-on-commit.  Streaming ingestion
  (mandodb_spark.streaming) restores the async shape with *stronger*
  exactly-once semantics via checkpointing.
- Label-values time filtering is exact, not segment-granular (§3.3 quirk).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .matchers import LabelMatcher
from .model import DEFAULT_RETENTION, DEFAULT_SEGMENT_DURATION, ROW_SCHEMA
from .operators import tsdb_ops
from .sources.exemplar_store import (
    EXEMPLAR_ROW_SCHEMA,
    ExemplarStore,
    MemoryExemplarStore,
    group_exemplars,
)
from .sources.hist_store import HistStore, MemoryHistStore
from .sources.segment_store import TIER_SCHEMA, SegmentStore

#: The sample stores beside the float store, by kind: the directory
#: suffix on the float store's root, then the disk and memory classes.
_SIBLINGS = {
    "hist": ("__hist", HistStore, MemoryHistStore),
    "exemplar": ("__exemplars", ExemplarStore, MemoryExemplarStore),
}


class TSDB:
    """Spark-native equivalent of ``mandodb.OpenTSDB`` (tsdb.go:465-496)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str | None,
        segment_duration: int = DEFAULT_SEGMENT_DURATION,
        retention: int = DEFAULT_RETENTION,
        codec: str = "zstd",
        only_memory: bool = False,
        max_rows_per_segment: int | None = None,
    ) -> None:
        """``only_memory=True`` (or ``path=None``) mirrors the reference's
        onlyMemoryMode (tsdb.go:30, T6): nothing touches disk.  Otherwise
        the data lives in one :class:`SegmentStore` at ``path``
        (seg-partitioned, sorted zstd Parquet).

        ``max_rows_per_segment`` is the reference's
        ``WithMaxRowsPerSegment`` option (tsdb.go:99-105): a hot segment
        whose batch exceeds the budget fans out across extra files so no
        single write task owns the whole hot partition (disk store only —
        the memory store holds rows, not files)."""
        self.spark = spark
        if only_memory or path is None:
            from .sources.memory_store import MemoryStore

            self.store: SegmentStore | "MemoryStore" = MemoryStore(spark, segment_duration)
        else:
            self.store = SegmentStore(
                spark, path, segment_duration, codec,
                max_rows_per_segment=max_rows_per_segment,
            )
        self.segment_duration = segment_duration
        self.retention = retention
        self._siblings: dict = {}  # kind -> sibling store, made on first use
        self._hist_metric_cache: set[str] | None = None

    # ---------------------------------------------------------------- write
    def insert_rows(
        self,
        rows: DataFrame | list[tuple],
        dedup_points: bool = False,
        dedup_against_store: bool = False,
    ) -> None:
        """InsertRows (tsdb.go:205-216): append a batch of samples.

        Accepts a DataFrame with ROW_SCHEMA columns or a python list of
        ``(metric, labels_dict, ts, value)`` tuples (test convenience).

        Duplicate policy (reference series.go:24-27 / tsdb.go:91-97; see
        ``SegmentStore.append``): default keeps every row (the documented
        multiset upgrade); ``dedup_points=True`` collapses within-batch
        re-sends last-write-wins; ``dedup_against_store=True`` also drops
        ``(series, ts)`` pairs the store already holds.
        """
        if not isinstance(rows, DataFrame):
            rows = self.spark.createDataFrame(rows, ROW_SCHEMA)
        self.store.append(
            rows, dedup_points=dedup_points, dedup_against_store=dedup_against_store
        )

    # ---------------------------------------------------------------- reads
    def query_range(
        self, metric: str, matchers: list[LabelMatcher], start: int, end: int,
        regex_via_dim: bool = False,
    ) -> DataFrame:
        """QueryRange (tsdb.go:278-293) → (labels, points[]) per series."""
        return tsdb_ops.query_range(
            self.store.relation(), metric, matchers, start, end, self.segment_duration,
            regex_via_dim,
        )

    def query_range_rows(
        self, metric: str, matchers: list[LabelMatcher], start: int, end: int,
        regex_via_dim: bool = False,
    ) -> DataFrame:
        """Flat QueryRange: (labels, ts, value) rows."""
        return tsdb_ops.query_range_rows(
            self.store.relation(), metric, matchers, start, end, self.segment_duration,
            regex_via_dim,
        )

    def query_series(self, matchers: list[LabelMatcher], start: int, end: int) -> DataFrame:
        """QuerySeries (tsdb.go:323-336) → distinct label sets."""
        return tsdb_ops.query_series(
            self.store.relation(), matchers, start, end, self.segment_duration
        )

    def query_label_values(
        self, label: str, start: int, end: int, matchers: list[LabelMatcher] | None = None
    ) -> DataFrame:
        """QueryLabelValues (tsdb.go:352-370) → sorted distinct values."""
        return tsdb_ops.query_label_values(
            self.store.relation(), label, start, end, matchers, self.segment_duration
        )

    def label_dim(self) -> DataFrame:
        """The label-value registry (A4, label.go:40-77) as a relation."""
        return tsdb_ops.label_values_dim(self.store.relation())

    def refresh_label_dim(self, dest: str, batch: DataFrame | None = None) -> None:
        """Maintain a materialized label-value dim at ``dest`` (A4,
        incremental form).  With ``batch`` (e.g. from foreachBatch) the
        refresh is O(batch + dim); without, it bootstraps/rebuilds from the
        whole store."""
        from .model import canonicalize

        if batch is None:
            src = self.store.relation()
        else:
            src = canonicalize(batch, self.segment_duration)
        tsdb_ops.refresh_label_dim(dest, src)

    def label_dim_relation(self, dest: str) -> DataFrame:
        """Read back a materialized label dim (declared schema, no job)."""
        return self.spark.read.schema(tsdb_ops.LABEL_DIM_SCHEMA).parquet(dest)

    # ------------------------------------------------------------ SQL surface
    def create_views(self, prefix: str = "tsdb") -> None:
        """Register the store as SQL temp views: ``<prefix>_samples`` (the
        canonical relation) and ``<prefix>_labels`` (the A4 dimension) —
        the open ``spark.sql`` surface the reference never had.
        """
        rel = self.store.relation()
        rel.createOrReplaceTempView(f"{prefix}_samples")
        tsdb_ops.label_values_dim(rel).createOrReplaceTempView(f"{prefix}_labels")
        hist = self._pruned_hist_rel(0, 2 ** 60)
        if hist is not None:
            # native-histogram relation, when one exists — the hist struct
            # opens to SQL via dot paths (hist.count, hist.pos[idx], ...)
            hist.createOrReplaceTempView(f"{prefix}_histograms")

    # --------------------------------------------------------- PromQL layer
    def _selected(self, metric: str | None, matchers: list[LabelMatcher] | None,
                  start: int, end: int) -> DataFrame:
        """Matcher-filtered (labels, ts, value) rows for the function layer."""
        return tsdb_ops.query_range_rows(
            self.store.relation(), metric, matchers or [], start, end, self.segment_duration
        )

    def rate(self, metric: str, matchers: list[LabelMatcher] | None,
             start: int, end: int) -> DataFrame:
        """PromQL-style ``rate()`` over the selected range vector."""
        from .functions import promql

        return promql.rate(self._selected(metric, matchers, start, end), start, end)

    def increase(self, metric: str, matchers: list[LabelMatcher] | None,
                 start: int, end: int) -> DataFrame:
        from .functions import promql

        return promql.increase(self._selected(metric, matchers, start, end), start, end)

    def instant(self, metric: str, matchers: list[LabelMatcher] | None,
                at_ts: int, lookback: int = 300) -> DataFrame:
        from .functions import promql

        return promql.instant(
            self._selected(metric, matchers, at_ts - lookback, at_ts), at_ts, lookback
        )

    def federate(self, metric: str | None,
                 matchers: list[LabelMatcher] | None,
                 at_ts: int, lookback: int = 300) -> DataFrame:
        """Prometheus ``/federate``-shaped export: the matcher-selected
        INSTANT vector (newest sample per series within the lookback,
        the sample's own timestamp preserved) rendered as OpenMetrics
        text lines — the shape a downstream Prometheus scrapes from a
        federation endpoint.  One column ``line``; feed to
        ``df.write.text`` or an HTTP handler.  Engine dialect:
        seconds timestamps, canonical sorted labels (so federated
        output round-trips through ``rows_from_openmetrics``)."""
        from .sources.loaders import to_openmetrics

        vec = self.instant(metric, matchers, at_ts, lookback)
        return to_openmetrics(vec.select("labels", "ts", "value"))

    def remote_read(self, payload: bytes,
                    sample_limit: int = 50_000_000) -> bytes:
        """Prometheus REMOTE-READ endpoint body: snappy ``ReadRequest``
        bytes in, snappy ``ReadResponse`` bytes out (the non-streamed
        SAMPLES response) — a Prometheus configured with ``remote_read``
        pointed at this method uses the engine as a storage backend, the
        binary dual of :meth:`federate`'s text export.

        The request decode is driver-side by nature (a request is a
        handful of matchers); each query runs the normal seg-pruned,
        matcher-filtered scan (all four matcher types — ``=``, ``!=``,
        ``=~``, ``!~`` — with Prometheus's empty-value/absent-label
        semantics) and the per-series sample grouping is ONE hash
        aggregate (``loaders.to_remote_write``).  The response collect is
        bounded by ``sample_limit`` (the shape of Prometheus's own
        ``remote_read_sample_limit``, same 5e7 default): per-series
        sample counts ride the SAME grouped aggregate (``size(samples)``
        — no separate count scan; round-11 verdict #5), and a query
        selecting more samples fails with ``ValueError`` before anything
        is encoded — one scan, no partial response.  Series order is
        canonical (sorted label lists), samples ts-ascending, timestamps
        milliseconds on the wire."""
        from pyspark.sql import functions as F

        from .functions.promql_parser import _matcher_filter
        from .operators.tsdb_ops import time_predicate
        from .sources import prompb
        from .sources.loaders import to_remote_write

        results = []
        for q in prompb.decode_read_request(prompb.snappy_decompress(payload)):
            # engine samples are whole seconds: s is inside [start_ms,
            # end_ms] iff ceil(start_ms/1000) <= s <= floor(end_ms/1000)
            start = -(-q["start_ms"] // 1000)
            end = q["end_ms"] // 1000
            rel = self.store.relation().filter(
                time_predicate(start, end, self.segment_duration))
            filt = _matcher_filter(rel, None, q["matchers"])
            grouped = to_remote_write(filt.select("labels", "ts", "value"))
            rows = grouped.withColumn("_n", F.size("samples")).collect()
            self._check_sample_limit(sum(r["_n"] for r in rows), sample_limit)
            series = sorted(
                (
                    {
                        "labels": [{"name": l["name"], "value": l["value"]}
                                   for l in r["labels"]],
                        "samples": [{"timestamp": s["timestamp"],
                                     "value": s["value"]}
                                    for s in r["samples"]],
                    }
                    for r in rows
                ),
                key=lambda t: [(l["name"], l["value"]) for l in t["labels"]],
            )
            results.append(series)
        return prompb.encode_read_response(results)

    @staticmethod
    def _check_sample_limit(n: int, sample_limit: int) -> None:
        if sample_limit is not None and n > sample_limit:
            raise ValueError(
                f"remote read query selects {n} samples, over the "
                f"sample_limit of {sample_limit} — narrow the matchers "
                "or time range (Prometheus remote_read_sample_limit "
                "semantics)")

    def remote_read_chunked(self, payload: bytes,
                            samples_per_chunk: int = 120,
                            sample_limit: int = 50_000_000) -> bytes:
        """The STREAMED remote-read response
        (``STREAMED_XOR_CHUNKS``): same snappy ``ReadRequest`` in, a
        concatenation of framed ``ChunkedReadResponse`` messages out —
        one frame per query, series carrying Gorilla XOR chunks
        (``sources/xor_chunk.py``; the reference's TSZ-family codec
        re-expressed at the wire).  Chunk ENCODING runs executor-side
        (``prompb.xor_chunks_from_timeseries``, Arrow-batched per
        series); the driver only assembles frames, so the collect moves
        compressed chunk bytes, not raw samples — strictly less driver
        traffic than :meth:`remote_read` for the same selection."""
        from .functions.promql_parser import _matcher_filter
        from .operators.tsdb_ops import time_predicate
        from .sources import prompb
        from .sources.loaders import to_remote_write

        frames = []
        for qi, q in enumerate(
                prompb.decode_read_request(prompb.snappy_decompress(payload))):
            start = -(-q["start_ms"] // 1000)
            end = q["end_ms"] // 1000
            rel = self.store.relation().filter(
                time_predicate(start, end, self.segment_duration))
            filt = _matcher_filter(rel, None, q["matchers"])
            grouped = prompb.xor_chunks_from_timeseries(
                to_remote_write(filt.select("labels", "ts", "value")),
                samples_per_chunk=samples_per_chunk,
                with_sample_count=True)
            rows = grouped.collect()
            self._check_sample_limit(
                sum(r["n_samples"] for r in rows), sample_limit)
            series = sorted(
                (
                    {
                        "labels": [{"name": l["name"], "value": l["value"]}
                                   for l in r["labels"]],
                        "chunks": [{"min_time_ms": c["min_time_ms"],
                                    "max_time_ms": c["max_time_ms"],
                                    "data": bytes(c["data"])}
                                   for c in r["chunks"]],
                    }
                    for r in rows
                ),
                key=lambda t: [(l["name"], l["value"]) for l in t["labels"]],
            )
            frames.append(
                prompb.encode_chunked_read_response(series, query_index=qi))
        return b"".join(frames)

    def over_time(self, fn: str, metric: str, matchers: list[LabelMatcher] | None,
                  start: int, end: int, step: int) -> DataFrame:
        """``<fn>_over_time`` (any ``promql._OVER_TIME`` fn) on tumbling
        ``step`` windows [ws, ws + step − 1], ws = start, start + step, …
        ≤ end, the last one clipped at ``end``: one row per (series,
        window) — ``grid_over_time`` on the window-equals-step grid."""
        from .functions import promql

        return promql.over_time(self._selected(metric, matchers, start, end), fn, start, end, step)

    def binop(self, lhs: DataFrame, rhs: DataFrame, op: str, **kwargs) -> DataFrame:
        """PromQL vector-matching binary op between two instant/range
        vectors (e.g. from :meth:`instant`/:meth:`rate`):
        ``db.binop(a, b, "/", on=["job"], group="left")``.  See
        :func:`functions.promql.binop`; ``and/or/unless`` route to
        :func:`functions.promql.set_binop`."""
        from .functions import promql

        if op in ("and", "or", "unless"):
            return promql.set_binop(lhs, rhs, op, **kwargs)
        return promql.binop(lhs, rhs, op, **kwargs)

    def subquery_over_time(self, fn: str, metric: str,
                           matchers: list[LabelMatcher] | None,
                           start: int, end: int, window: int, step: int) -> DataFrame:
        """PromQL subquery ``<fn>_over_time(rate(metric[window])[start..end:step])``
        — e.g. per-series peak 1h rate over a week.  The inner rate is
        ``grid_rate`` over the step-aligned windows [k·step, k·step +
        window) up to ``end``, so a window/step fan-out over
        ``promql.GRID_FANOUT_CAP`` raises, as the text subquery does."""
        from .functions import promql

        return promql.subquery_over_time(
            self._selected(metric, matchers, start // step * step, end),
            fn, start, end, window, step)

    def promql(self, query: str, at_ts: int, lookback: int = 300) -> DataFrame:
        """Evaluate a PromQL TEXT query as an instant query at ``at_ts``
        over the store — the reference's users keep their Prometheus
        queries verbatim.  The expression's conservative time window
        (every selector's range/offset/lookback reach) becomes a
        ``time_predicate`` on the scan, so segment-partition pruning and
        Parquet row-group skipping apply before evaluation exactly as for
        ``query_range`` (tsdb.go:278-293)."""
        from .functions import promql_parser

        ast, rel, hist_rel = self._promql_scope(query, at_ts, at_ts, lookback)
        return promql_parser.eval_instant(
            rel, ast, at_ts, lookback, hist_rel=hist_rel,
            hist_metrics=self._hist_metric_names())

    def _promql_scope(self, query: str, start: int, end: int,
                      lookback: int):
        """Parse ``query`` and prune both stores to what it can touch on
        the eval grid [start, end]: (ast, float relation, histogram
        relation or None).  Window bounds are monotone in the eval time,
        so the scan covers [time_window(start).lo, time_window(end).hi]
        (never below ``end``) — for an instant query start = end."""
        from .functions import promql_parser

        ast = promql_parser.parse(query)
        lo, _ = promql_parser.time_window(ast, start, lookback)
        hi = max(int(end), promql_parser.time_window(ast, end, lookback)[1])
        pruned = self.store.relation().filter(
            tsdb_ops.time_predicate(lo, hi, self.segment_duration))
        return ast, pruned, self._pruned_hist_rel(lo, hi)

    def _hist_metric_names(self) -> "set[str] | None":
        """Cached metric-name set of the histogram store — the selector
        routing table the PromQL front-end consults.  One bounded distinct
        per CACHE MISS (first query after a histogram write), not per
        query: without the cache, every float-only dashboard query over a
        TSDB that ever recorded one histogram rule would pay a parquet
        scan + collect.  Invalidated by insert_histograms /
        delete_hist_series."""
        store = self.hist_store_if_exists()
        if store is None:
            return None
        cached = self._hist_metric_cache
        if cached is None:
            from .model import METRIC_NAME_LABEL

            cached = {
                r["__m"]
                for r in store.relation().select(
                    F.col("labels").getItem(METRIC_NAME_LABEL).alias("__m")
                ).distinct().collect()
                if r["__m"] is not None
            }
            self._hist_metric_cache = cached
        return cached

    def _pruned_hist_rel(self, lo: int, hi: int) -> "DataFrame | None":
        """The native-histogram relation, seg-pruned to the query window —
        or None when this TSDB has never written histogram samples (the
        common case pays nothing: a directory existence check)."""
        store = self.hist_store_if_exists()
        if store is None:
            return None
        return store.relation().filter(
            tsdb_ops.time_predicate(lo, hi, self.segment_duration))

    def promql_range(self, query: str, start: int, end: int, step: int,
                     lookback: int = 300) -> DataFrame:
        """PromQL RANGE query (the dashboard surface): ``query`` evaluated
        at every t = start + k·step, via the grid primitives
        (functions/promql.py grid_instant/grid_over_time/grid_rate —
        explode-to-covering-points, one hash agg, no per-step loop).
        Scan pruning covers [start − expression reach, end]."""
        from .functions import promql_parser

        ast, rel, hist_rel = self._promql_scope(query, start, end, lookback)
        return promql_parser.eval_range(
            rel, ast, start, end, step, lookback, hist_rel=hist_rel,
            hist_metrics=self._hist_metric_names())

    def promql_range_tiered(self, query: str, start: int, end: int,
                            step: int, rollup_dest: str, rollup_step: int,
                            cutover_ts: int) -> DataFrame:
        """Long-range dashboard query over the retention ladder: a
        ``<fn>_over_time(sel[w])`` range query (optionally wrapped in one
        aggregation, e.g. ``sum by (j) (sum_over_time(m[1d]))``) served
        from the materialized rollup tier below ``cutover_ts`` plus the
        raw tail — see ``promql.grid_over_time_tiered`` for the
        bucket-alignment exactness contract.  Raw history older than the
        cutover can be retention-purged without this query losing it."""
        from .functions import promql as P
        from .functions import promql_parser as pp

        ast = pp.parse(query)
        agg_node = None
        node = ast
        if node[0] == "agg":
            agg_node, node = node, node[5]
        ok = (node[0] == "call" and node[1] in pp._OVER_TIME_FNS
              and len(node[2]) == 1 and node[2][0][0] == "selector"
              and node[2][0][3] is not None)
        if not ok:
            raise pp.PromqlError(
                "promql_range_tiered supports <fn>_over_time(sel[w]), "
                "optionally inside one aggregation")
        fn = pp._OVER_TIME_FNS[node[1]]
        _, name, matchers, w, off, at_s = node[2][0]
        if off or at_s is not None:
            raise pp.PromqlError(
                "offset/@ are not supported on the tiered path")
        raw = pp._matcher_filter(self.store.relation(), name, matchers)
        rollup = None
        import os

        if os.path.exists(rollup_dest):
            rollup = pp._matcher_filter(self.rollup_relation(rollup_dest), name, matchers)
        vec = P.grid_over_time_tiered(
            raw, rollup, fn, start, end, w, step, rollup_step, cutover_ts
        ).select("labels", "ts",
                 F.col("value").cast("double").alias("value"))
        if agg_node is None:
            return vec
        ctx = pp._RCtx(self.store.relation(), start, end, step, 300)
        _k, out = pp._agg_vector(agg_node[1], agg_node[2], agg_node[3],
                                 agg_node[4], vec, ctx)
        return out.select("labels", "ts",
                          F.col("value").cast("double").alias("value"))

    def promql_alerts(self, query: str, for_duration: int, start: int,
                      end: int, step: int, lookback: int = 300) -> DataFrame:
        """Prometheus ALERTING rule (``expr`` + ``for:``) over the store:
        activation runs of the text expression on the eval grid, FIRING
        after ``for_duration`` of continuous activity — see
        ``promql_parser.alert_runs``.  The grid is :meth:`promql_range`'s,
        so native-histogram selectors resolve as they do there.
        Sample-level dual:
        :meth:`alert_intervals`."""
        from .functions import promql_parser

        return promql_parser.alert_runs(
            self.promql_range(query, start, end, step, lookback),
            for_duration, step)

    def promql_record(self, rule_name: str, query: str, start: int,
                      end: int, step: int, lookback: int = 300,
                      dedup_against_store: bool = False) -> None:
        """Prometheus RECORDING rule: evaluate ``query`` on the grid and
        persist the result as new series named ``rule_name`` (result
        labels kept, any inherited ``__name__`` replaced) — downstream
        queries then read the precomputed series through every normal
        entry point.  The write is one ``insert_rows`` batch;
        ``dedup_against_store=True`` makes re-recording an overlapping
        grid idempotent (first-write-wins on (series, t) — what the
        streaming ``RecordingRuleMaintainer`` relies on under
        at-least-once foreachBatch retries)."""
        out = self.promql_range(query, start, end, step, lookback)
        from .model import METRIC_NAME_LABEL

        stripped = F.map_filter(
            F.col("labels"), lambda k, _: k != F.lit(METRIC_NAME_LABEL))
        if "hist" in out.columns:
            # native-histogram recording rule (Prometheus supports
            # histogram-valued rule results): persist into the sibling
            # hist store under the rule name, honoring the same
            # first-write-wins idempotency knob the float path has.
            self.insert_histograms(
                out.select(
                    F.lit(rule_name).alias("metric"),
                    stripped.alias("labels"),
                    F.col("ts").cast("long").alias("ts"),
                    "hist",
                ),
                dedup_against_store=dedup_against_store,
            )
            return
        rows = out.select(
            F.lit(rule_name).alias("metric"),
            stripped.alias("labels"),
            F.col("ts").cast("long").alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
        self.insert_rows(rows, dedup_against_store=dedup_against_store)

    # ----------------------------------------------------------- maintenance
    def remove_expires(self, now_ts: int | None = None) -> list[int]:
        """Retention purge (tsdb.go:384-406); returns dropped segment ids.
        The native-histogram and exemplar sibling stores are purged under
        the same cutoff (their segments share the id space) — including
        stores written by a PREVIOUS process (see :meth:`_stores`)."""
        now = int(time.time()) if now_ts is None else now_ts
        dropped = [store.remove_expired(now, self.retention) for store in self._stores()]
        return dropped[0]  # the float store's

    def hist_store_if_exists(self):
        """The native-histogram sibling store IFF one holds data — the
        lazily-created handle when present, else a disk probe for
        ``<root>__hist`` (a store written by a previous process).  Returns
        None when this TSDB has never written histograms, so the float
        hot paths pay only a directory existence check."""
        return self._sibling("hist", create=False)

    def _sibling(self, kind: str, create: bool = True):
        """The ``kind`` sibling store (see :data:`_SIBLINGS`): the handle
        made on first use, ``<root><suffix>`` on disk or the memory
        variant under ``only_memory``.  With ``create=False`` a store no
        process has written yet is None instead.  Single source of the
        sibling-path convention (retention, snapshots, the PromQL
        routing, streaming rule recovery)."""
        from pathlib import Path

        store = self._siblings.get(kind)
        if store is None:
            root = self.store.root
            if not create and (root is None or not Path(root + _SIBLINGS[kind][0]).exists()):
                return None
            store = self._siblings[kind] = self._sibling_handle(kind)
        return store

    def _sibling_handle(self, kind: str):
        """A new handle on the ``kind`` sibling store, written or not."""
        suffix, disk, memory = _SIBLINGS[kind]
        if self.store.root is None:
            return memory(self.spark, self.segment_duration)
        return disk(self.spark, self.store.root + suffix, self.segment_duration)

    def _stores(self) -> list:
        """The float store, then every sibling store — its handle when
        made, else a new one, so a maintenance pass also reaches a sibling
        a previous process wrote, and its crashed-swap leftovers."""
        return [self.store, *(self._siblings.get(kind) or self._sibling_handle(kind)
                              for kind in _SIBLINGS)]

    def downsample_expire(self, step: int, dest_root: str,
                          now_ts: int | None = None) -> list[int]:
        """Tiered retention with a SAFETY COUPLING: materialize expired
        raw segments into a ``step``-resolution mergeable rollup at
        ``dest_root``, verify coverage (Σn == raw rows), and only then
        purge (see :meth:`SegmentStore.downsample_expired`).

        Relationship to the dashboard tier: :meth:`materialize_rollup` +
        :meth:`query_range_tiered` serve rich (avg/last) continuous
        aggregates and leave purging to :meth:`remove_expires` — nothing
        stops a purge outrunning the rollup there.  This path is the
        retention-coupled one: raw data cannot be dropped unless the
        rollup provably covers it; its read side is
        :meth:`query_range_buckets_tiered`."""
        return self.store.downsample_expired(
            int(time.time()) if now_ts is None else now_ts,
            self.retention, step, dest_root,
        )

    def query_range_buckets_tiered(self, metric: str | None,
                                   matchers: list[LabelMatcher] | None,
                                   start: int, end: int, step: int,
                                   rollup_root: str):
        """Per-series step buckets across BOTH retention tiers: recent
        buckets aggregate raw points, pre-horizon buckets come from the
        :meth:`downsample_expire` rollup store, straddling buckets merge
        (see :func:`tsdb_ops.query_range_buckets_tiered`)."""
        from pathlib import Path as _P

        rollup = (
            self.spark.read.schema(TIER_SCHEMA).parquet(rollup_root)
            if _P(rollup_root).exists()
            else self.spark.createDataFrame([], TIER_SCHEMA)
        )
        return tsdb_ops.query_range_buckets_tiered(
            self.store.relation(), rollup, metric, matchers or [],
            start, end, step, self.segment_duration,
        )

    def delete_series(self, matchers: list[LabelMatcher],
                      metric: str | None = None) -> int:
        """GDPR-style targeted deletion: rewrite only the touched segment
        partitions without the matching series' points (see
        :meth:`SegmentStore.delete_series`).  Returns points removed."""
        return self.store.delete_series(matchers, metric)

    def compact(self, min_files_per_segment: int | None = None) -> list[int]:
        """Maintenance compaction (the Compact the reference lacks).

        ``min_files_per_segment=N`` = selective size-tiered mode: only
        segments fragmented into >= N files are rewritten (see
        :meth:`SegmentStore.compact`); a memory store has no files and
        compacts nothing.  Returns compacted segment ids."""
        return self.store.compact(min_files_per_segment)

    def alert_intervals(self, condition, for_duration: int, max_gap: int,
                        metric: str | None = None,
                        matchers: list[LabelMatcher] | None = None,
                        start: int = 0, end: int = 2**40) -> DataFrame:
        """Prometheus-style alert evaluation over the store (see
        ``operators.tsdb_ops.alert_intervals``; continuous dual:
        ``streaming.stateful.streaming_alert_state``)."""
        from .operators.tsdb_ops import alert_intervals as _ai

        return _ai(self.store.relation(), condition, for_duration, max_gap,
                   metric=metric, matchers=matchers, start=start, end=end,
                   segment_duration=self.segment_duration)

    def seasonal_decompose(self, metric: str | None, matchers: list[LabelMatcher] | None,
                           start: int, end: int, step: int, period: int,
                           trend_buckets: int = 3) -> DataFrame:
        """Additive trend/seasonal/resid decomposition per series over the
        matcher+time-pruned range (``operators.temporal.seasonal_decompose``
        keyed by the series identity; labels re-attached per series)."""
        from .operators.temporal import seasonal_decompose as _sd

        return self._per_series(
            metric, matchers, start, end,
            lambda rows: _sd(rows, ["series_key"], "ts", "value", step, period,
                             trend_buckets),
        )

    def cusum(self, metric: str | None, matchers: list[LabelMatcher] | None,
              start: int, end: int, step: int = 60,
              slack_sigmas: float = 0.5, threshold_sigmas: float = 4.0,
              target: float | None = None, sigma: float | None = None) -> DataFrame:
        """Two-sided CUSUM change-point scan per series
        (``operators.temporal.cusum_changepoints``).  Samples are
        pre-bucketed to ``step`` (mean) so the per-series order is total —
        the operator's uniqueness contract."""
        from .operators.temporal import cusum_changepoints

        def run(rows: DataFrame) -> DataFrame:
            bucketed = (
                rows.groupBy(
                    "series_key",
                    (F.floor(F.col("ts") / step) * step).cast("long").alias("bts"),
                )
                .agg(F.avg("value").alias("bv"))
            )
            return cusum_changepoints(
                bucketed, ["series_key"], "bts", "bv",
                slack_sigmas=slack_sigmas, threshold_sigmas=threshold_sigmas,
                target=target, sigma=sigma,
            )

        return self._per_series(metric, matchers, start, end, run)

    def lttb(self, metric: str | None, matchers: list[LabelMatcher] | None,
             start: int, end: int, bucket_width: int) -> DataFrame:
        """Shape-preserving visual downsample per series over the
        matcher+time-pruned range (``operators.temporal.lttb_downsample``
        keyed by series identity) — the "render 30 days of a metric as
        ~N points without flattening the spikes" read path a dashboard
        issues; labels re-attached per series."""
        from .operators.temporal import lttb_downsample

        return self._per_series(
            metric, matchers, start, end,
            lambda rows: lttb_downsample(rows, ["series_key"], "ts", "value",
                                         bucket_width),
        )

    def _per_series(self, metric, matchers, start, end, fn) -> DataFrame:
        """Run a (series_key, ts, value)-keyed operator over the pruned
        range and re-attach the series labels."""
        from .model import series_key as _sk

        rows = self._selected(metric, matchers, start, end)
        rows = rows.withColumn("series_key", _sk(F.col("labels")))
        dim = rows.groupBy("series_key").agg(F.first("labels").alias("labels"))
        out = fn(rows)
        return out.join(dim, "series_key").select(
            "labels", *[c for c in out.columns if c != "series_key"]
        )

    def snapshot(self, dest: str) -> int:
        """Instant hardlink snapshot of the on-disk store (see
        ``sources.segment_store.snapshot``) and of each written sibling
        store, ``<root><suffix>`` to ``<dest><suffix>``; memory-only
        stores have nothing to snapshot.  Returns the linked file count."""
        from pathlib import Path

        from .sources.segment_store import snapshot as _snap

        root = self.store.root
        if root is None:
            raise ValueError("memory-only TSDB has no on-disk store to snapshot")
        n = _snap(root, dest)
        for suffix, *_ in _SIBLINGS.values():
            if Path(root + suffix).exists():
                n += _snap(root + suffix, dest + suffix)
        return n

    def restore(self, snapshot_root: str) -> int:
        """Atomically restore the store and its siblings from a
        :meth:`snapshot` (per root: staging hardlink tree + swap — see
        ``sources.segment_store.restore``).  A sibling the snapshot lacks
        is removed, so the TSDB reads as it did at snapshot time.
        Invalidates cached relations so subsequent queries read the
        restored data.  Returns the restored file count."""
        import shutil
        from pathlib import Path

        from .sources.segment_store import restore as _restore

        root = self.store.root
        if root is None:
            raise ValueError("memory-only TSDB has no on-disk store to restore")
        n = _restore(snapshot_root, root)
        for suffix, *_ in _SIBLINGS.values():
            if Path(snapshot_root + suffix).exists():
                n += _restore(snapshot_root + suffix, root + suffix)
            else:
                shutil.rmtree(root + suffix, ignore_errors=True)
        self._hist_metric_cache = None
        self.spark.catalog.clearCache()
        self.spark.catalog.refreshByPath(root)
        return n

    def fsck(self) -> dict:
        """Storage integrity report (the reference's loadFiles startup
        validation, tsdb.go:408-463, on demand) over the float store and
        its siblings: corrupt footers, footer schemas that differ from the
        store's declared one, leftover swap dirs, ts-stats-vs-segment-
        bounds violations (see :meth:`SegmentStore.fsck`).  Each list
        covers every store, and ``ok`` holds only if it holds for each.
        Footer-only, O(files).  Memory-only stores have no files —
        trivially ok."""
        reports = [store.fsck() for store in self._stores()]
        merged = {key: [x for r in reports for x in r[key]]
                  for key in ("segments", "corrupt", "schema_mismatch", "orphans")}
        return {**merged, "ok": all(r["ok"] for r in reports)}

    def vacuum(self, dry_run: bool = True) -> dict:
        """Reclaim the recovery-garbage trees fsck flags as orphans, for
        the float store and its siblings (see :meth:`SegmentStore.vacuum`)
        — corrupt files are never auto-deleted.  Memory-only stores:
        nothing to do."""
        reports = [store.vacuum(dry_run) for store in self._stores()]
        return {"removed": [p for r in reports for p in r["removed"]],
                "freed_bytes": sum(r["freed_bytes"] for r in reports),
                "dry_run": dry_run}

    def materialize_rollup(self, dest: str, step: int = 21600,
                           incremental: bool = False,
                           since_seg: int | None = None) -> None:
        """Hypertable-style continuous aggregate: materialize the per-series
        ``step``-second rollup (count/avg/min/max/sum + last point) as a
        Parquet table partitioned by segment bucket.

        The rollup is itself time-partitioned, so dashboard queries over
        months hit the (tiny) rollup with full partition pruning instead of
        raw samples — the standard TSDB downsampling story the reference
        lacks.

        ``incremental=True`` is the maintenance form: rewrite only the
        ``seg=`` partitions from the high-watermark on (dynamic partition
        overwrite) — at 100 TB the difference between a refresh that reads
        hours and one that rewrites months.  ``since_seg`` lowers the
        start after a late backfill into older segments; it is floored to
        the containing ``step`` bucket, so a late row in any segment of a
        bucket rebuilds that whole bucket.  ``step`` and the segment
        duration must be divide-compatible for a refresh.  Protocol:
        :func:`sources.segment_store.refresh_aggregate`.

        The core lives in :func:`operators.tsdb_ops.materialize_rollup`
        so the streaming ingestor can run the same refresh per
        micro-batch (``StreamingIngestor(rollup_dest=…)``).
        """
        from .operators.tsdb_ops import materialize_rollup as _mat

        _mat(
            self.spark,
            self.store.relation(),
            dest,
            step=step,
            segment_duration=self.segment_duration,
            incremental=incremental,
            since_seg=since_seg,
        )

    def rollup_relation(self, dest: str) -> DataFrame:
        """Read back a materialized rollup (partition-pruned on seg)."""
        return self.spark.read.schema(tsdb_ops.ROLLUP_SCHEMA).parquet(dest)

    def query_range_tiered(
        self,
        dest: str,
        metric: str | None,
        matchers: list[LabelMatcher] | None,
        start: int,
        end: int,
        step: int = 21600,
        cutover_ts: int | None = None,
    ) -> DataFrame:
        """Retention-ladder range query: per-series ``step``-bucket
        aggregates where buckets before ``cutover_ts`` come from the
        materialized rollup at ``dest`` and buckets at/after it are
        computed from raw points — the M3/Thanos tiered read that lets
        ``remove_expires`` purge raw segments the tier already covers
        without queries losing history.  ``cutover_ts`` defaults to the
        retention boundary (now − retention aligned to ``step``); both
        sides get metric/matcher filtering and partition pruning before
        any aggregation (operators/tsdb_ops.py::tiered_range).  For the
        purge-gated tier written by :meth:`downsample_expire`, read
        through :meth:`query_range_buckets_tiered` instead (mergeable
        schema, straddling buckets allowed)."""
        from time import time as _now

        from .matchers import add_metric_name, matchers_predicate
        from .operators import tsdb_ops

        if cutover_ts is None:
            cutover_ts = int(_now()) - self.retention
        cut = (cutover_ts // step) * step
        lms = add_metric_name(metric, matchers or [])
        lo = (start // step) * step // self.segment_duration
        hi = min(cut - 1, end) // self.segment_duration
        rollup = self.rollup_relation(dest).filter(
            F.col("seg").between(lo, hi)
            & matchers_predicate(F.col("labels"), lms)
        )
        raw = tsdb_ops._filtered(
            self.store.relation(), metric, matchers or [],
            max(cut, start), end, self.segment_duration,
        )
        return tsdb_ops.tiered_range(raw, rollup, start, end, step, cut)

    def materialize_value_histogram(
        self,
        dest: str,
        bounds: tuple[float, ...] | None = None,
        incremental: bool = False,
        since_seg: int | None = None,
    ) -> None:
        """Percentile continuous aggregate: materialize per-(series, seg)
        ``le``-bucket counts (operators/histogram.py) as a Parquet table
        partitioned by ``seg``.  Quantile queries over arbitrary ranges
        then merge O(series × buckets) integer counts with full partition
        pruning instead of re-reading raw samples — the TimescaleDB
        percentile-aggregate / Prometheus classic-histogram design the
        reference lacks.  Merging bucket counts is exactly associative,
        so any refresh cadence composes.

        ``incremental=True`` / ``since_seg`` refresh from the watermark
        (:func:`sources.segment_store.refresh_aggregate`); rows are keyed
        by ``seg`` itself, so no bucket straddles a partition.
        The core lives in :func:`operators.histogram.materialize` so the
        streaming ingestor can run the same refresh per micro-batch
        (``StreamingIngestor(hist_dest=…)``)."""
        from .operators.histogram import DEFAULT_BOUNDS, materialize

        materialize(
            self.spark,
            self.store.relation(),
            dest,
            bounds=bounds or DEFAULT_BOUNDS,
            incremental=incremental,
            since_seg=since_seg,
        )

    def materialize_series_cardinality(
        self, dest: str, incremental: bool = False,
        since_seg: int | None = None,
    ) -> None:
        """Cardinality continuous aggregate: per-segment DataSketches HLL
        sketches of the series identity (operators/sketch.py), Parquet
        partitioned by ``seg``.  "How many active series in [t0, t1]?" —
        the TSDB health metric behind every cardinality-explosion alert —
        then UNIONS O(segments) sketch rows under full partition pruning
        instead of a distinct over raw points.  Sketch union is
        associative and lossless w.r.t. the sketch state, so any refresh
        cadence composes (refresh protocol:
        :func:`sources.segment_store.refresh_aggregate`)."""
        from .operators.sketch import cardinality_materialize

        cardinality_materialize(
            self.spark, self.store.relation(), dest,
            incremental=incremental, since_seg=since_seg,
        )

    def query_series_cardinality(self, dest: str, start: int, end: int) -> DataFrame:
        """Approximate distinct-series count for [start, end] from the
        materialized sketch table — seg predicates prune partitions, the
        union touches only in-range sketches."""
        from .operators.sketch import cardinality_estimate

        lo, hi = start // self.segment_duration, end // self.segment_duration
        return cardinality_estimate(self.spark, dest, lo, hi)

    def materialize_value_quantile(
        self, dest: str, alpha: float = 0.01,
        incremental: bool = False, since_seg: int | None = None,
    ) -> None:
        """Quantile continuous aggregate: per-segment DDSketch log-bucket
        counts of the point values (operators/sketch.py::dds_build),
        Parquet partitioned by ``seg``.  Unlike the value histogram's
        fixed ``le`` bounds, the sketch guarantees a RELATIVE error alpha
        on every quantile regardless of the value range — p50 and p999
        from the same structure — and buckets merge by count addition, so
        any refresh cadence composes (refresh protocol:
        :func:`sources.segment_store.refresh_aggregate`)."""
        from .operators.sketch import quantile_materialize

        quantile_materialize(
            self.spark, self.store.relation(), dest, alpha=alpha,
            incremental=incremental, since_seg=since_seg,
        )

    def query_quantile_sketch(
        self, dest: str, qs: list[float], start: int, end: int,
        alpha: float = 0.01,
    ) -> DataFrame:
        """Quantile estimates for [start, end] from the materialized
        DDSketch table — seg predicates prune partitions, the merge
        touches only in-range bucket rows, never raw points."""
        from .operators.sketch import quantile_estimate

        lo, hi = start // self.segment_duration, end // self.segment_duration
        return quantile_estimate(self.spark, dest, lo, hi, qs, alpha)

    def query_quantile_histogram(
        self, dest: str, q: float, start: int, end: int
    ) -> DataFrame:
        """Per-series quantile estimate for [start, end] from a
        materialized value histogram — seg predicates prune rollup
        partitions before any bucket is read."""
        from .operators.histogram import VALUE_HIST_SCHEMA, histogram_quantile_over

        lo, hi = start // self.segment_duration, end // self.segment_duration
        hist = self.spark.read.schema(VALUE_HIST_SCHEMA).parquet(dest).filter(
            F.col("seg").between(lo, hi))
        labels = hist.groupBy("series_key").agg(
            F.any_value("labels").alias("labels")
        )
        out = histogram_quantile_over(hist, q, ["series_key"])
        return out.join(labels, "series_key").select("series_key", "labels", "value")

    # ------------------------------------------------------ native histograms
    @property
    def hist_store(self):
        """Lazy sibling store for NATIVE-HISTOGRAM samples (the engine's
        superset over the reference's float-only sample type,
        tsdb.go:158-163): ``<path>__hist`` on disk, or the in-memory
        variant under ``only_memory`` — the float store with a ``hist``
        payload."""
        return self._sibling("hist")

    def insert_histograms(self, rows: "DataFrame | list[tuple]",
                          dedup_against_store: bool = False) -> None:
        """Append native-histogram samples: a DataFrame with
        ``native_hist.HIST_ROW_SCHEMA`` columns (metric, labels, ts, hist)
        or the tuple-list test convenience.  To ingest RAW observations,
        build samples first with ``native_hist.observe_histograms`` (+
        ``accumulate_histograms`` for counter semantics).
        ``dedup_against_store=True`` = first-write-wins on (series, ts)
        across batches (touched-segment-pruned check, as insert_rows)."""
        if not isinstance(rows, DataFrame):
            from .functions.native_hist import HIST_ROW_SCHEMA

            rows = self.spark.createDataFrame(rows, HIST_ROW_SCHEMA)
        self.hist_store.append(rows, dedup_against_store=dedup_against_store)
        self._hist_metric_cache = None

    def query_hist_rows(
        self, metric: str | None, matchers: list[LabelMatcher] | None,
        start: int, end: int,
    ) -> DataFrame:
        """Matcher-filtered histogram samples — the same prune+filter front
        half as every float query path (tsdb_ops._filtered is value-column
        agnostic, so seg pruning / pushable matchers apply unchanged)."""
        return tsdb_ops._filtered(
            self.hist_store.relation(), metric, matchers or [], start, end,
            self.segment_duration,
        ).select("labels", "ts", "hist", "series_key")

    def _hist_vector(self, metric, matchers, at_ts, lookback, rate_window):
        """Instant histogram vector at ``at_ts`` — either the newest sample
        per series (lookback selection) or, with ``rate_window``, the
        per-series ``rate(h[rate_window])`` histogram stamped at at_ts."""
        from .functions import native_hist as nh

        if rate_window:
            # (at_ts - w, at_ts] on integer seconds — same boundary as the
            # PromQL text path's range selectors
            start = at_ts - rate_window + 1
            rel = self.query_hist_rows(metric, matchers, start, at_ts)
            return nh.hist_rate(rel, start, at_ts).withColumn(
                "ts", F.lit(at_ts).cast("long")
            )
        rel = self.query_hist_rows(metric, matchers, at_ts - lookback, at_ts)
        return nh.hist_instant(rel, at_ts, lookback)

    def histogram_quantile_native(
        self, q: float, metric: str | None, matchers: list[LabelMatcher] | None,
        at_ts: int, lookback: int = 300, rate_window: int | None = None,
    ) -> DataFrame:
        """``histogram_quantile(q, h)`` — or the canonical
        ``histogram_quantile(q, rate(h[w]))`` with ``rate_window=w`` —
        over the native-histogram store (exponential in-bucket
        interpolation, functions/native_hist.py)."""
        from .functions import native_hist as nh

        vec = self._hist_vector(metric, matchers, at_ts, lookback, rate_window)
        return nh.hist_quantile(vec, q).select("labels", "value")

    def histogram_fraction_native(
        self, lo: float, hi: float, metric: str | None,
        matchers: list[LabelMatcher] | None, at_ts: int,
        lookback: int = 300, rate_window: int | None = None,
    ) -> DataFrame:
        """``histogram_fraction(lo, hi, h)`` over the native store."""
        from .functions import native_hist as nh

        vec = self._hist_vector(metric, matchers, at_ts, lookback, rate_window)
        return nh.hist_fraction(vec, lo, hi).select("labels", "value")

    def histogram_scalar_native(
        self, which: str, metric: str | None,
        matchers: list[LabelMatcher] | None, at_ts: int, lookback: int = 300,
    ) -> DataFrame:
        """``histogram_count/sum/avg/stddev/stdvar`` instant vectors."""
        from .functions import native_hist as nh

        vec = self._hist_vector(metric, matchers, at_ts, lookback, None)
        return nh.hist_scalar(vec, which).select("labels", "value")

    def hist_rate(self, metric: str | None, matchers: list[LabelMatcher] | None,
                  start: int, end: int) -> DataFrame:
        """Histogram-valued ``rate(h[range])`` (counter semantics with
        reset detection) — compose with ``native_hist.hist_quantile``."""
        from .functions import native_hist as nh

        return nh.hist_rate(self.query_hist_rows(metric, matchers, start, end),
                            start, end)

    def hist_increase(self, metric: str | None,
                      matchers: list[LabelMatcher] | None,
                      start: int, end: int) -> DataFrame:
        from .functions import native_hist as nh

        return nh.hist_increase(
            self.query_hist_rows(metric, matchers, start, end), start, end
        )

    def hist_sum_by(self, by: list[str], metric: str | None,
                    matchers: list[LabelMatcher] | None,
                    start: int, end: int) -> DataFrame:
        """``sum by (labels) (h)`` across series per timestamp."""
        from .functions import native_hist as nh

        return nh.hist_sum_by(
            self.query_hist_rows(metric, matchers, start, end), by
        )

    # ------------------------------------------------------------- exemplars
    @property
    def exemplar_store(self):
        """Lazy sibling store for EXEMPLARS (``<path>__exemplars`` on
        disk, memory variant under ``only_memory``) — sampled raw
        observations with their own label set (trace ids), the
        ``/api/v1/query_exemplars`` data source.  The float store with a
        ``(value, exemplar)`` payload."""
        return self._sibling("exemplar")

    def exemplar_store_if_exists(self):
        """The exemplar sibling store IFF one holds data (same probe
        protocol as :meth:`hist_store_if_exists`)."""
        return self._sibling("exemplar", create=False)

    def insert_exemplars(self, rows: "DataFrame | list[tuple]",
                         dedup_against_store: bool = False) -> None:
        """Append exemplar rows (``EXEMPLAR_ROW_SCHEMA``: metric, labels,
        ts, value, exemplar-label map) beside the series' samples."""
        if not isinstance(rows, DataFrame):
            rows = self.spark.createDataFrame(rows, EXEMPLAR_ROW_SCHEMA)
        self.exemplar_store.append(
            rows, dedup_against_store=dedup_against_store)

    def query_exemplars(
        self, metric: str | None, matchers: list[LabelMatcher] | None,
        start: int, end: int,
    ) -> DataFrame:
        """Matcher-filtered exemplars grouped per series with ts-sorted
        exemplar lists — the ``/api/v1/query_exemplars`` data layout
        (render with ``promql_parser.to_api_exemplars``).  Same
        prune+filter front half as every other query path."""
        rel = tsdb_ops._filtered(
            self.exemplar_store.relation(), metric, matchers or [],
            start, end, self.segment_duration,
        )
        return group_exemplars(rel)

    def materialize_nh_rollup(self, dest: str, step: int = 21600,
                              incremental: bool = False,
                              since_seg: int | None = None) -> None:
        """Downsampled native-histogram continuous aggregate at ``dest``
        — LOSSLESS for quantiles/fractions over step-aligned ranges
        (bucket merge is exact), so raw histogram windows the tier covers
        are purgeable without losing percentile history.  ``step`` and the
        segment duration must be divide-compatible for a refresh
        (:func:`sources.segment_store.refresh_aggregate`)."""
        from .functions.native_hist import materialize_hist_rollup

        materialize_hist_rollup(
            self.spark, self.hist_store.relation(), dest, step=step,
            segment_duration=self.segment_duration,
            incremental=incremental, since_seg=since_seg,
        )

    def nh_rollup_relation(self, dest: str) -> DataFrame:
        """Read back a materialized histogram rollup (seg-pruned scans)."""
        from .functions.native_hist import HIST_ROLLUP_SCHEMA

        return self.spark.read.schema(HIST_ROLLUP_SCHEMA).parquet(dest)

    def delete_hist_series(self, matchers: list[LabelMatcher],
                           metric: str | None = None) -> int:
        """Targeted deletion on the native-histogram store (same GDPR
        lifecycle contract as :meth:`delete_series`)."""
        self._hist_metric_cache = None
        return self.hist_store.delete_series(matchers, metric)

    # ----------------------------------------------------------------- close
    def close(self) -> None:
        """TSDB.Close() parity (tsdb.go:372-382).

        The reference must flush its mutable head segment and stop its
        worker goroutines; here every batch write is synchronous-on-commit
        and streaming ingestion recovers from checkpoints, so the only
        held resource is the memory store's cached relation (T6) —
        released if present.  Disk-backed stores hold nothing between
        calls; the method exists so reference code ports 1:1.
        """
        for store in (self.store, *self._siblings.values()):
            store.close()
