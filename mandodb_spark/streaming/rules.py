"""Streaming PromQL rule evaluation: the continuous dual of
``TSDB.promql_record`` / ``TSDB.promql_alerts`` — Prometheus evaluates
rule groups on a wall-clock interval; here the micro-batch cadence is the
clock, and EVENT time (the ingested data's own high-water mark) decides
which grid points are ready, so replays and backfills evaluate exactly
the same points a live run did.

``RecordingRuleMaintainer``: after each ingest batch, evaluate the rule
query at every step-aligned grid point in (last evaluated, batch event
max] and append the result as ``rule_name`` series.  Incremental — each
grid point is evaluated once; idempotent under foreachBatch's
at-least-once retries because the append runs first-write-wins against
the store ((series, t) pairs already recorded are dropped, the same
contract as ``insert_rows(dedup_against_store=True)``).  On restart the
high-water mark is recovered from the recorded series' own max timestamp
— the store IS the state, no sidecar files.

Late-data caveat (documented, not hidden): a grid point is evaluated
when the event high-water mark passes it; samples arriving later than
that do not retroactively update the recorded value — rerun
``TSDB.promql_record(..., dedup_against_store=False)`` after a
``delete_series`` on the affected range for corrections, exactly as one
re-runs a Prometheus backfill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .maintainer import Maintainer


class _EventGridRule(Maintainer):
    """The event-time clock both rule maintainers share.  Every batch
    ticks the cadence; on every ``every``-th one the step-aligned grid
    points in (``hwm``, batch max ts − ``delay``] are handed to
    ``_evaluate(first, last)`` once, and ``hwm`` (the last evaluated
    point, recovered from the store on the first run) advances to
    ``last``.  A cold start evaluates only the newest point.  Each
    report counts the batch's ``runs`` and grid ``points``."""

    def __init__(self, db, query: str, step: int, lookback: int, delay: int,
                 every: int) -> None:
        super().__init__()
        self.db = db
        self.query = query
        self.step = int(step)
        self.lookback = int(lookback)
        self.delay = int(delay)
        self.every = max(1, every)
        self.hwm: int | None = None  # last evaluated grid point

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        if not self._every(self.every) or "ts" not in batch_df.columns:
            return {}
        event_max = batch_df.agg(F.max("ts")).collect()[0][0]
        if event_max is None:
            return {}
        last = (int(event_max) - self.delay) // self.step * self.step
        if self.hwm is None:
            self.hwm = self._recover_hwm()
        first = last if self.hwm is None else (self.hwm // self.step + 1) * self.step
        if last < first:
            return {}
        self._evaluate(first, last)
        self.hwm = last
        return {"runs": 1, "points": (last - first) // self.step + 1}


class RecordingRuleMaintainer(_EventGridRule):
    """foreachBatch hook: continuous recording-rule evaluation.

    ``db``: TSDB holding both the inputs and the recorded output.
    ``rule_name``: the new series' metric name (colons allowed, the
    Prometheus recording-rule convention).  ``query``: PromQL text.
    ``step``: grid resolution in seconds (eval points are step-aligned,
    as Prometheus aligns to the epoch).  ``delay``: evaluate a point only
    once the event high-water mark is ``delay`` seconds past it (the
    rule-evaluation analogue of a watermark).
    """

    def __init__(self, db, rule_name: str, query: str, step: int,
                 lookback: int = 300, delay: int = 0, every: int = 1) -> None:
        super().__init__(db, query, step, lookback, delay, every)
        self.rule_name = rule_name

    def _recover_hwm(self) -> int | None:
        """The recorded series' own max timestamp — restart recovery
        without sidecar state (the store IS the state): ``max_ts``'s
        newest-first segment probes, so a restart typically reads ONE
        segment.  A HISTOGRAM-valued rule records into the sibling hist
        store, which is probed too when one exists; exactly one of the
        two holds the rule's rows."""
        from ..model import METRIC_NAME_LABEL

        pred = F.col("labels").getItem(METRIC_NAME_LABEL) == self.rule_name
        stores = [s for s in (self.db.store, self.db.hist_store_if_exists())
                  if s is not None]
        found = [m for m in (s.max_ts(pred) for s in stores) if m is not None]
        return max(found) if found else None

    def _evaluate(self, first: int, last: int) -> None:
        self.db.promql_record(self.rule_name, self.query, first, last,
                              self.step, self.lookback,
                              dedup_against_store=True)


class AlertRuleMaintainer(_EventGridRule):
    """foreachBatch hook: continuous ALERTING-rule evaluation — the
    streaming dual of ``TSDB.promql_alerts``, recording Prometheus's own
    synthetic series so every normal query path sees alert state:

    - ``ALERTS{<expr labels>, alertname, alertstate="pending"|"firing"}``
      value 1.0 at every eval point where the expression returns a sample
      for the series;
    - ``ALERTS_FOR_STATE{<expr labels>, alertname}`` value = the run's
      ``active_since`` timestamp — exactly the series Prometheus persists
      for ``for``-duration restart recovery.

    Each batch evaluates only its new grid points; the previous eval
    point's ``ALERTS_FOR_STATE`` row (one partition-pruned point read)
    seeds runs that straddle the batch boundary, so a series active
    across N batches fires exactly when a one-shot ``promql_alerts`` over
    the same grid would.  Writes are first-write-wins against the store,
    making at-least-once retries idempotent; restart recovery = max
    ``ALERTS_FOR_STATE`` timestamp (newest-first segment probes).
    A series' ``pending``→``firing`` transition happens at the first grid
    point with ``t − active_since ≥ for_duration`` (``for=0`` fires
    immediately, as Prometheus).
    """

    def __init__(self, db, alert_name: str, query: str, step: int,
                 for_duration: int = 0, lookback: int = 300,
                 delay: int = 0, every: int = 1) -> None:
        super().__init__(db, query, step, lookback, delay, every)
        self.alert_name = alert_name
        self.for_duration = int(for_duration)

    def _ident(self, labels_col):
        """Alert series identity: expression labels minus __name__ (and
        any stale alertname/alertstate), plus this rule's alertname."""
        from ..model import METRIC_NAME_LABEL

        drop = (METRIC_NAME_LABEL, "alertname", "alertstate")
        base = F.map_filter(
            labels_col,
            lambda k, _: ~k.isin(*[F.lit(d) for d in drop]))
        return F.map_concat(
            base, F.create_map(F.lit("alertname"), F.lit(self.alert_name)))

    def _recover_hwm(self) -> int | None:
        """Max recorded ``ALERTS_FOR_STATE{alertname=...}`` timestamp, by
        the store's newest-first segment probes (``max_ts``)."""
        from ..model import METRIC_NAME_LABEL

        return self.db.store.max_ts(
            (F.col("labels").getItem(METRIC_NAME_LABEL) == "ALERTS_FOR_STATE")
            & (F.col("labels").getItem("alertname") == self.alert_name))

    def _carried(self, at_ts: int) -> DataFrame:
        """ALERTS_FOR_STATE rows at exactly the previous eval point —
        (identity key, active_since) for runs that may continue into this
        batch.  One point read, segment-pruned."""
        from ..functions import promql
        from ..model import METRIC_NAME_LABEL
        from ..operators import tsdb_ops

        pruned = self.db.store.relation().filter(
            tsdb_ops.time_predicate(at_ts, at_ts, self.db.segment_duration))
        rows = pruned.filter(
            (F.col("ts") == int(at_ts))
            & (F.col("labels").getItem(METRIC_NAME_LABEL) == "ALERTS_FOR_STATE")
            & (F.col("labels").getItem("alertname") == self.alert_name))
        return rows.select(
            promql.canonical_labels_json(self._ident(F.col("labels")))
            .alias("__k"),
            F.col("value").cast("long").alias("__carried"),
        ).groupBy("__k").agg(F.min("__carried").alias("__carried"))

    def _evaluate(self, first: int, last: int) -> None:
        from pyspark.sql.window import Window as W

        from ..functions import promql
        from ..functions.promql_parser import mark_runs

        vec = self.db.promql_range(self.query, first, last, self.step,
                                   self.lookback)
        act = vec.select(self._ident(F.col("labels")).alias("__lbl"),
                         F.col("ts").cast("long").alias("ts"))
        act = act.withColumn(
            "__k", promql.canonical_labels_json(F.col("__lbl")))
        runs = mark_runs(act, self.step)
        rw = W.partitionBy("__k", "__run")
        runs = runs.withColumn("__rstart", F.min("ts").over(rw))
        carried = self._carried(first - self.step)
        seeded = runs.join(carried, "__k", "left").withColumn(
            "__since",
            F.when((F.col("__rstart") == int(first))
                   & F.col("__carried").isNotNull(), F.col("__carried"))
            .otherwise(F.col("__rstart")))
        state = F.when(
            F.col("ts") - F.col("__since") >= self.for_duration,
            F.lit("firing")).otherwise(F.lit("pending"))
        alerts = seeded.select(
            F.lit("ALERTS").alias("metric"),
            F.map_concat(
                F.col("__lbl"),
                F.create_map(F.lit("alertstate"), state)).alias("labels"),
            F.col("ts"),
            F.lit(1.0).alias("value"))
        for_state = seeded.select(
            F.lit("ALERTS_FOR_STATE").alias("metric"),
            F.col("__lbl").alias("labels"),
            F.col("ts"),
            F.col("__since").cast("double").alias("value"))
        self.db.insert_rows(alerts.unionByName(for_state),
                            dedup_against_store=True)
