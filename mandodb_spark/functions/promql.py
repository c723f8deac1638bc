"""PromQL-style query functions over the canonical TSDB relation.

The reference stores Prometheus-shaped data but has no query functions at
all (README.md:38: no query engine of its own; SURVEY.md §2.7).  A user
switching from the reference + an external PromQL layer needs these; they
are the natural "complete engine" surface for the data model, and every one
is a pure DataFrame transform:

- range-vector functions: ``rate``, ``increase``, ``delta``, ``irate``,
  ``idelta``, ``changes``, ``deriv``, ``predict_linear`` and
  ``holt_winters`` over one [start, end] window — each is its range-query
  grid primitive (``grid_rate``, ``grid_deriv``, ``grid_holt_winters``)
  evaluated on the one-point grid {end}, so one body serves both;
- ``*_over_time`` aggregations (``over_time``, ``quantile_over_time``,
  ``mad_over_time``, ``absent_over_time``) per series per tumbling
  ``step`` window, and the subquery rate ``rate_sliding`` — each is its
  grid primitive on the grid whose eval points close the windows
  (window = step for the tumbling forms);
- instant-vector selection: ``instant`` (latest sample per series at t);
- label aggregation: ``sum_by`` / ``avg_by`` etc. — regroup series by a
  label subset (PromQL's ``sum by (labels) (...)``).

All shuffles are keyed on series_key (or the by-labels subset) — the same
partitioning the store writes, so co-location is preserved where possible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..model import METRIC_NAME_LABEL, canonical_labels_json, series_key


def _ensure_series_key(rel: DataFrame) -> DataFrame:
    if "series_key" not in rel.columns:
        rel = rel.withColumn("series_key", series_key(F.col("labels")))
    return rel


def instant(rel: DataFrame, at_ts: int, lookback: int = 300) -> DataFrame:
    """Instant vector at ``at_ts``: the newest sample per series within the
    PromQL-style lookback window (default 5m)."""
    rel = _ensure_series_key(rel)
    w = Window.partitionBy("series_key").orderBy(F.col("ts").desc())
    return (
        rel.filter(F.col("ts").between(at_ts - lookback, at_ts))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("series_key", "labels", "ts", "value")
    )


def delta(rel: DataFrame, start: int, end: int) -> DataFrame:
    """Gauge delta over the range: last - first per series."""
    return grid_rate(rel, end, end, end - start + 1, 1, "delta").drop("ts")


def increase(rel: DataFrame, start: int, end: int) -> DataFrame:
    """Counter increase over the range: sum of positive per-sample deltas
    (counter resets clamp to the new value, mirroring PromQL's reset
    handling without extrapolation)."""
    return grid_rate(rel, end, end, end - start + 1, 1, "increase").drop("ts")


def rate(rel: DataFrame, start: int, end: int) -> DataFrame:
    """Counter rate: increase / observed time span (per series)."""
    return grid_rate(rel, end, end, end - start + 1, 1, "rate").drop("ts")


_OVER_TIME = {
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": lambda c: F.count(c).cast("double"),
    # PromQL stddev/stdvar are population (promql/functions.go funcStddevOverTime)
    "stddev": F.stddev_pop,
    "stdvar": F.var_pop,
    # newest sample in the window (ties on ts resolved by max value — the
    # dedup invariant upstream makes ts unique per series anyway)
    "last": lambda c: F.max_by(c, F.col("ts")),
    # present_over_time: 1.0 for every window holding >= 1 sample (the
    # group exists iff a sample does, so the aggregate is a constant)
    "present": lambda c: F.min(F.lit(1.0)),
    # group aggregator (promql/engine.go aggregation parser.GROUP): 1.0
    # per output group regardless of inputs
    "group": lambda c: F.min(F.lit(1.0)),
    # ts_of_{max,min,last}_over_time (Prometheus 3.1,
    # promql/functions.go funcTsOfMaxOverTime): the TIMESTAMP of the
    # extreme sample; Prometheus scans forward updating on >= / <=, so
    # ties resolve to the LATEST timestamp — struct ordering (value, ts)
    # under max_by reproduces that exactly (negated value for min)
    "ts_of_max": lambda c: F.max_by(
        F.col("ts"), F.struct(c, F.col("ts"))).cast("double"),
    "ts_of_min": lambda c: F.max_by(
        F.col("ts"), F.struct((-c).alias("v"), F.col("ts"))).cast("double"),
    "ts_of_last": lambda c: F.max(F.col("ts")).cast("double"),
}


def _window_starts(grid: DataFrame, window: int) -> DataFrame:
    """A grid result re-keyed by window start: the eval point t closes
    the window [t − window + 1, t]."""
    return grid.select("series_key", "labels",
                       (F.col("ts") - (window - 1)).alias("window_start"),
                       "value")


def _tumbling(grid, rel: DataFrame, start: int, end: int, step: int,
              *args, **kwargs) -> DataFrame:
    """``grid(rel, *args, t0, t1, window, step, **kwargs)`` on the
    tumbling windows [ws, ws + step − 1], ws = start, start + step, … ≤
    end: window = step on the grid t = ws + step − 1, the relation
    clipped at ``end`` (a partial last window).  Each sample serves one
    eval point, so the cover is a filter and a computed column
    (:func:`_cover`)."""
    out = grid(rel.filter(F.col("ts") <= F.lit(end)), *args,
               start + step - 1, end + step - 1, step, step, **kwargs)
    return _window_starts(out, step)


def over_time(rel: DataFrame, fn: str, start: int, end: int, step: int) -> DataFrame:
    """``<fn>_over_time`` evaluated on tumbling ``step`` windows across
    [start, end]: one row per (series, window) — :func:`grid_over_time`
    on the window-equals-step grid (:func:`_tumbling`).

    Output: series_key, labels, window_start, value.
    """
    return _tumbling(grid_over_time, rel, start, end, step, fn)


def mad_over_time(rel: DataFrame, start: int, end: int, step: int) -> DataFrame:
    """``mad_over_time`` (Prometheus 3.x, promql/functions.go
    funcMadOverTime): median absolute deviation —
    ``median(|x_i − median(x)|)`` per (series, window), both medians with
    the linear-interpolation quantile Prometheus uses (== Spark
    ``percentile`` == DuckDB ``quantile_cont``, the pinned cross-engine
    triple) — :func:`grid_mad` on tumbling ``step`` windows.
    """
    return _tumbling(grid_mad, rel, start, end, step)


def absent_over_time(rel: DataFrame, start: int, end: int, step: int,
                     labels: dict[str, str] | None = None) -> DataFrame:
    """``absent_over_time(selector[range])`` on the tumbling ``step``
    grid: one {labels: 1.0} row for every window in [start, end] that
    holds NO sample of the (already matcher-filtered) relation —
    dashboards' "was this thing silent during the outage" primitive.

    The full window grid is a generated sequence (O(windows) rows, no
    data scan) anti-joined against the windows the tumbling ``count``
    reports — the shape the text ``absent_over_time`` lowers to.
    ``labels`` (typically the equality matchers, as in PromQL's absent())
    decorate the output rows.
    """
    # absence looks across series: one key for every sample, so the
    # count groups by window alone (no per-row series hash)
    one = rel.withColumn("series_key", F.lit(0).cast("long"))
    present = over_time(one, "count", start, end, step).select("window_start")
    grid = rel.sparkSession.range(1).select(
        F.explode(F.sequence(F.lit(start), F.lit(end), F.lit(step))).alias("window_start"))
    lab = labels or {"absent": "true"}
    lab_col = F.create_map(*[x for k, v in sorted(lab.items())
                             for x in (F.lit(k), F.lit(v))])
    return (
        grid.join(present, "window_start", "left_anti")
        .select(lab_col.alias("labels"), "window_start", F.lit(1.0).alias("value"))
    )


def quantile_over_time(rel: DataFrame, q: float, start: int, end: int,
                       step: int) -> DataFrame:
    """``quantile_over_time(q, ...)`` on tumbling ``step`` windows: the
    exact interpolated ``percentile`` of each window's samples —
    :func:`grid_over_time` on the window-equals-step grid."""
    return _tumbling(grid_over_time, rel, start, end, step, "quantile", q=q)


def resets(rel: DataFrame, start: int, end: int) -> DataFrame:
    """PromQL ``resets``: number of counter resets (value drops) per series
    over the range."""
    rel = _ensure_series_key(rel).filter(F.col("ts").between(start, end))
    w = Window.partitionBy("series_key").orderBy("ts")
    stepped = rel.withColumn("__prev", F.lag("value").over(w))
    return (
        stepped.groupBy("series_key")
        .agg(
            F.any_value("labels").alias("labels"),
            F.sum(
                F.when(F.col("__prev").isNotNull() & (F.col("value") < F.col("__prev")), 1).otherwise(0)
            ).alias("value"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter(F.col("__n") >= 2)
        .select("series_key", "labels", F.col("value").cast("long").alias("value"))
    )


def deriv(rel: DataFrame, start: int, end: int) -> DataFrame:
    """PromQL ``deriv``: per-second derivative of a gauge via simple linear
    regression over the range (exactly PromQL's definition)."""
    return grid_deriv(rel, end, end, end - start + 1, 1).drop("ts")


def predict_linear(rel: DataFrame, start: int, end: int, horizon: int) -> DataFrame:
    """PromQL ``predict_linear``: extrapolate each series ``horizon``
    seconds past ``end`` on the least-squares line over the range."""
    return grid_deriv(rel, end, end, end - start + 1, 1,
                      horizon=horizon).drop("ts")


def irate(rel: DataFrame, start: int, end: int) -> DataFrame:
    """PromQL ``irate``: instantaneous rate from the LAST TWO samples per
    series (counter-reset aware)."""
    return grid_rate(rel, end, end, end - start + 1, 1, "irate").drop("ts")


def idelta(rel: DataFrame, start: int, end: int) -> DataFrame:
    """PromQL ``idelta``: difference of the last two samples per series
    (gauge semantics — no reset handling)."""
    return grid_rate(rel, end, end, end - start + 1, 1, "idelta").drop("ts")


def changes(rel: DataFrame, start: int, end: int) -> DataFrame:
    """PromQL ``changes``: number of times the value changed between
    consecutive samples per series over the range.

    A single-sample series yields 0 (not an empty result) — Prometheus'
    ``funcChanges`` counts transitions and a one-sample window simply has
    none (promql/functions.go), so no minimum-sample filter here."""
    out = grid_rate(rel, end, end, end - start + 1, 1, "changes")
    return out.select("series_key", "labels",
                      F.col("value").cast("long").alias("value"))


def rate_sliding(rel: DataFrame, start: int, end: int, window: int, step: int) -> DataFrame:
    """Counter rate evaluated on SLIDING windows of ``window`` seconds every
    ``step`` seconds — the engine of a PromQL subquery ``rate(x[w])[r:s]``.

    Windows are step-aligned, [ws, ws + window) for ws = k·step from
    ``(start // step)·step`` up to ``end``, the relation clipped at
    ``end`` — PromQL's instant grid shifted to window starts, documented
    rather than hidden.  This is :func:`grid_rate` on the grid
    t = ws + window − 1, so it shares that primitive's
    :data:`GRID_FANOUT_CAP`.  Output: series_key, labels, window_start,
    value — feed any ``_OVER_TIME`` aggregate for the outer
    ``<fn>_over_time(...[r:s])`` (see :func:`subquery_over_time`).
    """
    first = start // step * step
    out = grid_rate(rel.filter(F.col("ts") <= F.lit(end)), first + window - 1,
                    end + window - 1, window, step, "rate")
    return _window_starts(out, window)


# ---------------------------------------------------------------------------
# RANGE-query grid evaluation (Prometheus query_range): evaluation points
# t = start + k·step for k = 0..⌊(end−start)/step⌋; at each t an instant
# selector sees the newest sample with ts ∈ [t−lookback, t] and a range
# function the samples with ts ∈ [t−window+1, t].  All three primitives
# share one Spark-first shape: explode each sample to the eval points it
# can serve (bounded fan-out = reach/step + 1, the duplication
# F.window(slide) performs), then one hash aggregation per (series, t) —
# no per-step driver loop, no window over the whole series.


#: Hard cap on the grid primitives' explode fan-out (reach/step + 1 —
#: the duplication factor per covering sample).  ``rate(x[30d])`` at a
#: 30s step would duplicate every sample 86 400×; nothing about corpus
#: size saves that shape, so it fails fast instead (SCALE.md "degenerate
#: shape").  The parser auto-routes capped sum/count/avg ``_over_time``
#: shapes to :func:`grid_over_time_sliding` (no fan-out factor at all);
#: everything else gets an error naming the alternatives.  Configurable:
#: dashboards that truly need a bigger ratio set this module attribute.
GRID_FANOUT_CAP = 500

#: over_time fns with an invertible running-sum sliding lowering
_SLIDING = {"sum", "count", "avg"}


def _fanout(reach_incl: int, start: int, end: int, step: int) -> int:
    """Eval points one sample can serve: ``reach/step + 1``, but never
    more than the grid holds — a short range (or the one-point grid of an
    instant query) bounds the explode whatever the window."""
    return min(reach_incl // step + 1, (end - start) // step + 1)


def _check_fanout(reach_incl: int, start: int, end: int, step: int,
                  what: str) -> None:
    f = _fanout(reach_incl, start, end, step)
    if f > GRID_FANOUT_CAP:
        raise ValueError(
            f"{what}: window/step fan-out {f} exceeds GRID_FANOUT_CAP="
            f"{GRID_FANOUT_CAP} — each covering sample would be exploded "
            f"{f}x. Widen the step, or use grid_over_time_sliding / "
            f"TSDB.promql_range_tiered (mergeable bucket partials) for "
            f"sum/count/avg over_time shapes.")


def _cover(rel: DataFrame, reach_incl: int, start: int, end: int,
           step: int, anchor: Column | None = None) -> DataFrame:
    """The rows of ``rel`` that serve an eval point t = start+k·step
    within [start, end] — ts ≤ t ≤ anchor + reach_incl, ``anchor``
    defaulting to ``ts`` — one per such point, in column ``__t``.  A
    cover whose fan-out is 1 — the one-point grid of an instant query, or
    a reach shorter than the step (the tumbling windows, a selector or
    range function stepped past its lookback or window) — is one filter
    and one computed column, the first eval point at or after ts (a
    literal on a one-point grid): no per-row sequence and no explode."""
    anchor = F.col("ts") if anchor is None else anchor
    if _fanout(reach_incl, start, end, step) == 1:
        last = start + (end - start) // step * step
        keep = (F.col("ts") <= F.lit(last)) & (anchor >= F.lit(start - reach_incl))
        if last == start:
            return rel.filter(keep).withColumn("__t", F.lit(start).cast("long"))
        t = (F.lit(start)
             + F.ceil((F.col("ts") - F.lit(start)) / F.lit(step)) * step).cast("long")
        return rel.filter(keep & (t <= anchor + F.lit(reach_incl))).withColumn("__t", t)
    rel = rel.filter((F.col("ts") <= F.lit(end))
                     & (anchor >= F.lit(start - reach_incl)))
    k_lo = F.ceil((F.col("ts") - F.lit(start)) / F.lit(step)).cast("long")
    k_hi = F.floor((anchor + F.lit(reach_incl) - F.lit(start)) / F.lit(step)).cast("long")
    k_lo = F.greatest(k_lo, F.lit(0).cast("long"))
    k_hi = F.least(k_hi, F.lit((end - start) // step).cast("long"))
    seq = F.when(
        k_lo <= k_hi,
        F.transform(F.sequence(k_lo, k_hi), lambda k: (F.lit(start) + k * step).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    return rel.withColumn("__t", F.explode(seq))


def grid_instant(rel: DataFrame, start: int, end: int, step: int,
                 lookback: int = 300) -> DataFrame:
    """Instant vector at EVERY eval point of the grid: newest sample per
    series within the lookback window of each t.  Output (series_key,
    labels, ts=eval point, value).  A top-1 row_number per (series, t),
    which Spark plans as a group limit on both sides of the exchange —
    the labels map rides along without the sort-based aggregate a map
    column forces on a groupBy."""
    _check_fanout(lookback, start, end, step, "grid_instant")
    covered = _cover(_ensure_series_key(rel), lookback, start, end, step)
    w = Window.partitionBy("series_key", "__t").orderBy(F.col("ts").desc())
    return (
        covered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("series_key", "labels", F.col("__t").alias("ts"), "value")
    )


def grid_over_time(rel: DataFrame, fn: str, start: int, end: int,
                   window: int, step: int, q: float | None = None) -> DataFrame:
    """``<fn>_over_time(sel[window])`` at every grid eval point (sliding;
    :func:`over_time` is its tumbling form, window = step).  ``q`` feeds
    quantile_over_time's interpolated percentile."""
    _check_fanout(window - 1, start, end, step, f"grid_over_time({fn})")
    covered = _cover(_ensure_series_key(rel), window - 1, start, end, step)
    agg = (F.expr(f"percentile(value, {float(q)}d)") if fn == "quantile"
           else _OVER_TIME[fn](F.col("value")))
    return (
        covered.groupBy("series_key", "__t")
        .agg(F.any_value("labels").alias("labels"), agg.alias("value"))
        .select("series_key", "labels", F.col("__t").alias("ts"), "value")
    )


def _step_inc() -> Column:
    """Reset-aware increase of one lagged step: 0 on a window's first
    sample, the new value verbatim after a counter reset."""
    v, prev = F.col("value"), F.col("__prev")
    return F.when(prev.isNull(), F.lit(0.0)).when(v >= prev, v - prev).otherwise(v)


def _transitions(differs: Column) -> Column:
    return F.sum(F.when(F.col("__prev").isNotNull() & differs, 1).otherwise(0))


#: grid_rate's modes: the aggregates each reads over a window's lagged
#: rows, ``__v`` its value.  Built per call, so a query constructs only
#: its own mode's expressions.  ``__n`` marks a mode that needs two
#: samples; ``__span`` marks rate, which keeps a window with a positive
#: observed span (two samples at least) and divides after that filter.
_RATE_MODES = {
    "rate": lambda: {"__v": F.sum(_step_inc()),
                     "__span": F.max("ts") - F.min("ts")},
    "increase": lambda: {"__v": F.sum(_step_inc()), "__n": F.count(F.lit(1))},
    "delta": lambda: {"__v": F.max_by("value", "ts") - F.min_by("value", "ts"),
                      "__n": F.count(F.lit(1))},
    "irate": lambda: {"__v": F.max_by(_step_inc() / (F.col("ts") - F.col("__prev_ts")),
                                      "ts"),
                      "__n": F.count(F.lit(1))},
    "idelta": lambda: {"__v": F.max_by(F.col("value") - F.col("__prev"), "ts"),
                       "__n": F.count(F.lit(1))},
    "changes": lambda: {"__v": _transitions(F.col("value") != F.col("__prev"))},
    "resets": lambda: {"__v": _transitions(F.col("value") < F.col("__prev"))},
}


def grid_rate(rel: DataFrame, start: int, end: int, window: int, step: int,
              mode: str = "rate") -> DataFrame:
    """rate / increase / delta / irate / idelta / changes / resets over
    ``[window]`` at every grid eval point — one lag pass per (series, t),
    then the aggregates ``mode`` reads.  rate/increase/irate are
    reset-aware (this engine's observed-span rate, §3 delta); delta/idelta
    are gauge differences; changes/resets count transitions (a
    single-sample window yields 0, as funcChanges does).  Modes needing
    two samples filter ``n ≥ 2``; rate additionally needs a positive
    observed span.  The single-window functions (:func:`rate`,
    :func:`changes`, ...) are this on the one-point grid {end}."""
    if mode not in _RATE_MODES:
        raise ValueError(f"grid_rate mode {mode!r}")
    _check_fanout(window - 1, start, end, step, f"grid_rate({mode})")
    covered = _cover(_ensure_series_key(rel), window - 1, start, end, step)
    w = Window.partitionBy("series_key", "__t").orderBy("ts")
    stepped = covered.withColumns({"__prev": F.lag("value").over(w),
                                   "__prev_ts": F.lag("ts").over(w)})
    aggs = _RATE_MODES[mode]()
    grouped = stepped.groupBy("series_key", "__t").agg(
        F.any_value("labels").alias("labels"),
        *(c.alias(name) for name, c in aggs.items()))
    value = F.col("__v")
    if "__n" in aggs:
        grouped = grouped.filter(F.col("__n") >= 2)
    if "__span" in aggs:
        grouped = grouped.filter(F.col("__span") > 0)
        value = value / F.col("__span")
    return grouped.select(
        "series_key", "labels", F.col("__t").alias("ts"),
        value.cast("double").alias("value"))


def grid_mad(rel: DataFrame, start: int, end: int, window: int,
             step: int) -> DataFrame:
    """``mad_over_time(sel[window])`` at every grid eval point: median
    absolute deviation per (series, t) — :func:`mad_over_time` is its
    tumbling form.  Two bounded aggregations over the same cover
    (median, then median of |x − med| after an equi-join on
    (series, t)); groups are window-sized, so the exact
    ``percentile`` is the right tool here (unlike the cross-series
    quantile aggregators)."""
    _check_fanout(window - 1, start, end, step, "grid_mad")
    covered = _cover(_ensure_series_key(rel), window - 1, start, end, step)
    med = covered.groupBy("series_key", "__t").agg(
        F.expr("percentile(value, 0.5d)").alias("__med"))
    joined = covered.join(med, ["series_key", "__t"])
    return (
        joined.groupBy("series_key", "__t")
        .agg(F.any_value("labels").alias("labels"),
             F.expr("percentile(abs(value - __med), 0.5d)").alias("value"))
        .select("series_key", "labels", F.col("__t").alias("ts"), "value")
    )


def grid_over_time_sliding(rel: DataFrame, fn: str, start: int, end: int,
                           window: int, step: int) -> DataFrame:
    """``sum/count/avg_over_time(sel[window])`` on the grid WITHOUT the
    reach/step explode — the window ≫ step lowering the fan-out guard
    routes to when ``window/step`` exceeds :data:`GRID_FANOUT_CAP`.

    Decomposition (requires ``window % step == 0``): samples bucket into
    step-wide half-open buckets ``(t_{k-1}, t_k]`` whose right edges ARE
    the eval points, so each eval window is exactly the last
    ``window/step`` whole buckets.  Per series: (1) one hash aggregate →
    per-bucket partial (sum, count); (2) a DENSE bucket spine
    (``sequence`` explode, grid-sized — K + window/step rows per series,
    independent of sample count); (3) one running-frame window pass
    (unbounded-preceding sum — Spark evaluates it incrementally, O(rows))
    gives cumulative sums, and ``lag(cum, window/step)`` differences them
    into window aggregates.  Total per-series cost O(samples + grid),
    with NO duplication factor — vs the explode path's
    O(samples × window/step).

    Caveats vs :func:`grid_over_time` (why it's the >cap path, not the
    default): sums arrive by cumulative differencing, so results are
    float-associativity-equal, not bit-equal, to a direct per-window sum;
    and a NaN sample poisons the running sum for all LATER windows of
    that series (the explode path recovers once the NaN exits the
    window).  min/max/last are not invertible and stay on the explode or
    rollup-tier (:func:`grid_over_time_tiered`) paths.
    """
    if fn not in _SLIDING:
        raise ValueError(
            f"{fn}_over_time has no invertible sliding lowering "
            f"(supported: {sorted(_SLIDING)}); use grid_over_time or the "
            f"rollup tier (grid_over_time_tiered)")
    if window % step:
        raise ValueError(
            "window must be a multiple of step for the sliding lowering")
    nb = window // step             # whole buckets per window
    n_evals = (int(end) - int(start)) // int(step)  # eval ks: 0..n_evals
    rel = _ensure_series_key(rel).filter(
        F.col("ts").between(start - window + 1, end))
    bucket_k = F.ceil((F.col("ts") - F.lit(start)) / F.lit(step)).cast("long")
    parts = (
        rel.withColumn("__k", bucket_k)
        .groupBy("series_key", "__k")
        .agg(F.any_value("labels").alias("labels"),
             F.sum("value").alias("__s"),
             F.count(F.lit(1)).alias("__c"))
    )
    series = parts.groupBy("series_key").agg(
        F.any_value("labels").alias("labels"))
    dense = series.withColumn(
        "__k",
        F.explode(F.sequence(F.lit(1 - nb).cast("long"),
                             F.lit(n_evals).cast("long"))))
    joined = dense.join(parts.select("series_key", "__k", "__s", "__c"),
                        ["series_key", "__k"], "left")
    w = Window.partitionBy("series_key").orderBy("__k")
    run = (
        joined
        .withColumn("__cs", F.sum(F.coalesce(F.col("__s"), F.lit(0.0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__cc", F.sum(F.coalesce(F.col("__c"), F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    stepped = (
        run.withColumn("__ws", F.col("__cs") - F.lag("__cs", nb, 0.0).over(w))
        .withColumn("__wc", F.col("__cc") - F.lag("__cc", nb, 0).over(w))
        .filter((F.col("__k") >= 0) & (F.col("__wc") > 0))
    )
    value = {"sum": F.col("__ws"),
             "count": F.col("__wc").cast("double"),
             "avg": F.col("__ws") / F.col("__wc")}[fn]
    return stepped.select(
        "series_key", "labels",
        (F.lit(int(start)) + F.col("__k") * int(step)).cast("long").alias("ts"),
        value.cast("double").alias("value"))


#: over_time functions whose per-bucket rollup aggregates merge losslessly
_MERGEABLE = {"sum", "count", "min", "max", "avg", "last"}


def grid_over_time_tiered(
    raw_rel: DataFrame,
    rollup_rel: DataFrame | None,
    fn: str,
    start: int,
    end: int,
    window: int,
    step: int,
    rollup_step: int,
    cutover_ts: int,
) -> DataFrame:
    """``<fn>_over_time(sel[window])`` on the grid, served from the
    retention ladder: buckets before ``cutover_ts`` come from the
    materialized rollup tier (:func:`rollup_aggregate` schema), the raw
    tail is bucket-aggregated on the fly with the SAME math, and the grid
    aggregation merges per-bucket partials (sum of sums, min of mins,
    sum-of-sums/sum-of-counts for avg, max_by for last) — so a dashboard
    over a year reads the tiny tier plus the recent raw segments, and raw
    history older than the cutover can be purged without the query
    losing it.

    Exactness contract: grid points and the window must be bucket-aligned
    (``t ≡ rollup_step − 1 (mod rollup_step)``, ``window`` and ``step``
    multiples of ``rollup_step``).  Under that alignment each sliding
    window is a union of whole buckets and the result is BIT-EQUAL to
    evaluating :func:`grid_over_time` over the raw samples (pinned by
    test) — no downsampling approximation, just mergeable partials.
    """
    if fn not in _MERGEABLE:
        raise ValueError(
            f"{fn}_over_time is not losslessly mergeable from rollups "
            f"(supported: {sorted(_MERGEABLE)})")
    rs = int(rollup_step)
    if window % rs or step % rs:
        raise ValueError("window and step must be multiples of rollup_step")
    if start % rs != rs - 1 or end % rs != rs - 1:
        raise ValueError(
            "grid points must be bucket-aligned: t % rollup_step == "
            "rollup_step - 1 (the last instant each bucket covers)")
    if cutover_ts % rs:
        # an unaligned cutover would split one bucket across both sides
        # and double-count it at the merge
        raise ValueError("cutover_ts must be a multiple of rollup_step")
    from ..operators.tsdb_ops import rollup_aggregate

    lo = start - window + 1
    raw_part = rollup_aggregate(
        raw_rel.filter(F.col("ts").between(max(lo, cutover_ts), end)), rs)
    parts = raw_part
    if rollup_rel is not None:
        tier_part = rollup_rel.filter(
            (F.col("bucket_ts") < cutover_ts)
            & (F.col("bucket_ts").between(lo - rs + 1, end))
        ).select("series_key", "bucket_ts", "labels", "n", "avg_value",
                 "min_value", "max_value", "sum_value", "last_value")
        parts = raw_part.unionByName(tier_part)
    # pseudo-sample stamp = the bucket's last covered instant, so the
    # [t-w+1, t] window membership test selects exactly the w/rs buckets
    # whose raw span is the window
    pseudo = parts.withColumn(
        "ts", (F.col("bucket_ts") + F.lit(rs - 1)).cast("long"))
    covered = _cover(pseudo, window - 1, start, end, step)
    aggs = {
        "sum": F.sum("sum_value"),
        "count": F.sum("n"),
        "min": F.min("min_value"),
        "max": F.max("max_value"),
        "avg": F.sum("sum_value") / F.sum("n"),
        "last": F.max_by(F.col("last_value"), F.col("ts")),
    }
    return (
        covered.groupBy("series_key", "__t")
        .agg(F.any_value("labels").alias("labels"),
             aggs[fn].cast("double").alias("value"))
        .select("series_key", "labels", F.col("__t").alias("ts"), "value")
    )


def subquery_over_time(rel: DataFrame, fn: str, start: int, end: int,
                       window: int, step: int) -> DataFrame:
    """PromQL subquery ``<fn>_over_time(rate(x[window])[start..end:step])``:
    the sliding-window rate series re-aggregated per series by ``fn``
    (max/min/avg/...) — e.g. "peak 1h request rate over the last week".
    The inner rate is :func:`rate_sliding` (:func:`grid_rate`, so a
    window/step fan-out over :data:`GRID_FANOUT_CAP` raises, as the text
    subquery does); then a tiny per-series regroup."""
    inner = rate_sliding(rel, start, end, window, step)
    agg = _OVER_TIME[fn]
    return (
        inner.groupBy("series_key")
        .agg(F.any_value("labels").alias("labels"), agg(F.col("value")).alias("value"))
        .select("series_key", "labels", "value")
    )


def count_values(vector: DataFrame, label: str = "value") -> DataFrame:
    """PromQL ``count_values("label", vector)``: number of series carrying
    each distinct value in an instant vector.  Output labels contain only
    the value label (stringified, as PromQL does)."""
    return (
        vector.groupBy(F.col("value").cast("string").alias(label))
        .agg(F.count(F.lit(1)).alias("n_series"))
        .select(
            F.map_from_arrays(F.array(F.lit(label)), F.array(F.col(label))).alias("labels"),
            F.col("n_series").cast("long"),
        )
    )


def histogram_quantile(buckets: DataFrame, q: float, group_cols: list[str]) -> DataFrame:
    """PromQL ``histogram_quantile(q, ...)`` over cumulative ``le`` buckets.

    Input: one row per (group, le) with the CUMULATIVE count ``cum`` (le =
    +Inf row carries the total, as Prometheus requires).  Exactly PromQL's
    interpolation (promql/quantile.go): find the lowest bucket whose
    cumulative count reaches q·total, then interpolate linearly inside it
    from the previous bucket's upper bound (0 below the first bucket); if
    the target lands in the +Inf bucket, return the highest finite ``le``.

    Two window passes over le-sorted buckets per group (lag + running max) —
    bucket counts per group are tiny by construction (one row per le), so
    the shuffle is on the group key and every stage is codegen'd; no UDF.
    """
    w = Window.partitionBy(*group_cols).orderBy("le")
    wg = Window.partitionBy(*group_cols)
    b = (
        buckets.withColumn("__prev_le", F.lag("le").over(w))
        .withColumn("__prev_cum", F.coalesce(F.lag("cum").over(w), F.lit(0.0)))
        .withColumn("__total", F.max("cum").over(wg))
        .withColumn("__max_finite_le", F.max(F.when(~F.isnan("le") & (F.col("le") != F.lit(float("inf"))), F.col("le"))).over(wg))
    )
    target = F.lit(q) * F.col("__total")
    hit = (
        b.filter(F.col("cum") >= target)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    lower = F.coalesce(F.col("__prev_le"), F.lit(0.0))
    frac = (target - F.col("__prev_cum")) / (F.col("cum") - F.col("__prev_cum"))
    interp = lower + (F.col("le") - lower) * frac
    value = F.when(F.col("le") == F.lit(float("inf")), F.col("__max_finite_le")).otherwise(interp)
    return hit.select(*group_cols, value.alias("value"))


def histogram_quantile_vector(vector: DataFrame, q: float,
                              extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """PromQL ``histogram_quantile(q, vector)`` over an instant vector of
    ``_bucket`` series: the ``le`` LABEL carries each bucket's upper bound
    (``"+Inf"`` included), series group = every other label.  Lowers onto
    :func:`histogram_quantile` with the canonical-JSON of the remaining
    labels as the group key, then joins the representative label map back
    on that key — two small shuffles on (group, le)-sized data (one row
    per bucket), never on raw samples.  ``extra_keys`` (e.g. ``("ts",)``
    for range-query grids) join the group key."""
    le = F.col("labels").getItem("le")
    le_num = (
        F.when(le.isin("+Inf", "Inf", "inf"), F.lit(float("inf")))
        .otherwise(le.cast("double"))
    )
    rest = F.map_filter(F.col("labels"), lambda k, _: k != F.lit("le"))
    keys = ["__gk", *extra_keys]
    b = vector.select(
        canonical_labels_json(rest).alias("__gk"),
        rest.alias("__rest"),
        *extra_keys,
        le_num.alias("le"),
        F.col("value").cast("double").alias("cum"),
    ).filter(F.col("le").isNotNull())
    reps = b.groupBy(*keys).agg(F.any_value("__rest").alias("labels"))
    hq = histogram_quantile(b.select(*keys, "le", "cum"), q, keys)
    return hq.join(reps, keys).select("labels", *extra_keys, "value")


def offset_range(rel: DataFrame, start: int, end: int, offset: int) -> DataFrame:
    """PromQL ``offset`` modifier: evaluate over [start-offset, end-offset]
    and re-stamp timestamps forward so downstream functions see the
    requested range.  A pure predicate + projection — the shifted range
    still prunes partitions/row groups at the scan."""
    shifted = rel.filter(F.col("ts").between(start - offset, end - offset))
    return shifted.withColumn("ts", (F.col("ts") + F.lit(offset)).cast("long"))


def absent(vector: DataFrame, spark=None) -> DataFrame:
    """PromQL ``absent``: a single {value: 1.0} sample iff the instant
    vector is empty, else no rows.  Expressed as an anti-join-free global
    aggregate: count the vector, keep the row only when the count is 0 —
    one tiny all-to-one stage, no driver-side branching."""
    counted = vector.agg(F.count(F.lit(1)).alias("__n"))
    return counted.filter(F.col("__n") == 0).select(
        F.create_map(F.lit("absent"), F.lit("true")).alias("labels"),
        F.lit(1.0).alias("value"),
    )


def scalar_map(vector: DataFrame, fn: str) -> DataFrame:
    """PromQL scalar math on an instant vector's values: abs, ceil, floor,
    exp, ln, log2, log10, sqrt, sgn — all JVM-side column functions."""
    fns = {
        "abs": F.abs,
        "ceil": F.ceil,
        "floor": F.floor,
        "exp": F.exp,
        "ln": F.log,
        "log2": F.log2,
        "log10": F.log10,
        "sqrt": F.sqrt,
        "sgn": F.signum,
        # trigonometric family (PromQL 2.31, promql/functions.go) — all
        # JVM column functions, same codegen path
        "sin": F.sin, "cos": F.cos, "tan": F.tan,
        "asin": F.asin, "acos": F.acos, "atan": F.atan,
        "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
        "asinh": F.asinh, "acosh": F.acosh, "atanh": F.atanh,
        "deg": F.degrees, "rad": F.radians,
    }
    return vector.withColumn("value", fns[fn](F.col("value")).cast("double"))


def clamp(vector: DataFrame, lo: float | None = None, hi: float | None = None) -> DataFrame:
    """PromQL ``clamp`` / ``clamp_min`` / ``clamp_max`` on an instant
    vector's value column."""
    v = F.col("value")
    if lo is not None:
        v = F.greatest(v, F.lit(float(lo)))
    if hi is not None:
        v = F.least(v, F.lit(float(hi)))
    return vector.withColumn("value", v)


def label_replace(vector: DataFrame, dst: str, replacement: str, src: str, regex: str) -> DataFrame:
    """PromQL ``label_replace``: if ``regex`` (fully anchored, as PromQL
    anchors it) matches label ``src``, set label ``dst`` to ``replacement``
    with ``$1``-style backreferences substituted; otherwise leave the label
    set unchanged.  Pure map expressions — no shuffle."""
    src_val = F.coalesce(F.col("labels").getItem(src), F.lit(""))
    anchored = f"^(?:{regex})$"
    matched = src_val.rlike(anchored)
    new_val = F.regexp_replace(src_val, anchored, replacement)
    updated = F.map_concat(
        F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst)),
        F.create_map(F.lit(dst), new_val),
    )
    return vector.withColumn("labels", F.when(matched, updated).otherwise(F.col("labels")))


def label_join(vector: DataFrame, dst: str, sep: str, srcs: list[str]) -> DataFrame:
    """PromQL ``label_join``: set ``dst`` to the ``sep``-joined values of
    the source labels (missing labels join as empty strings)."""
    joined = F.concat_ws(
        sep, *[F.coalesce(F.col("labels").getItem(s), F.lit("")) for s in srcs]
    )
    return vector.withColumn(
        "labels",
        F.map_concat(
            F.map_filter(F.col("labels"), lambda k, _: k != F.lit(dst)),
            F.create_map(F.lit(dst), joined),
        ),
    )


def topk(vector: DataFrame, k: int, largest: bool = True) -> DataFrame:
    """PromQL ``topk(k, vector)`` / ``bottomk``: the k series with the
    largest (smallest) values from an instant vector.  Ties break on
    series_key so the selection is deterministic; plans as a per-partition
    partial top-k (TakeOrderedAndProject) — no full sort, no shuffle of
    the losers."""
    order = [F.col("value").desc() if largest else F.col("value").asc(), F.col("series_key")]
    return vector.orderBy(*order).limit(k)


#: Arithmetic vector binary operators (promql/engine.go VectorBinop).
_ARITH_OPS = {
    "+": lambda l, r: l + r,
    "-": lambda l, r: l - r,
    "*": lambda l, r: l * r,
    "/": lambda l, r: l / r,
    "%": lambda l, r: l % r,
    "^": lambda l, r: F.pow(l, r),
    # PromQL 2.31 binary operator (same precedence tier as */%);
    # arithmetic semantics: drops __name__, supports on/ignoring/group_*
    "atan2": lambda l, r: F.atan2(l, r),
}

#: Comparison operators — filter semantics without ``bool``, 1.0/0.0 with.
_CMP_OPS = {
    "==": lambda l, r: l == r,
    "!=": lambda l, r: l != r,
    ">": lambda l, r: l > r,
    "<": lambda l, r: l < r,
    ">=": lambda l, r: l >= r,
    "<=": lambda l, r: l <= r,
}


def match_labels(labels: Column, on: list[str] | None = None, ignoring: list[str] | None = None) -> Column:
    """The label subset two vectors are matched on (PromQL vector matching,
    promql/engine.go ``signatureFunc``): with ``on``, exactly those labels;
    otherwise every label except ``ignoring`` and ``__name__``."""
    if on is not None and ignoring is not None:
        raise ValueError("vector matching takes on() or ignoring(), not both")
    if on is not None:
        keep = F.array(*[F.lit(k) for k in on])
        return F.map_filter(labels, lambda k, _: F.array_contains(keep, k))
    drop = F.array(*[F.lit(k) for k in (list(ignoring or []) + [METRIC_NAME_LABEL])])
    return F.map_filter(labels, lambda k, _: ~F.array_contains(drop, k))


def _unique_side(vector: DataFrame, key: Column, what: str) -> DataFrame:
    """Collapse one side of a vector match to one row per match key,
    raising (lazily, executor-side) if the key is not unique — PromQL's
    "found duplicate series for the match group" error."""
    agg = vector.groupBy(key.alias("__mk")).agg(
        F.any_value("labels").alias("labels"),
        F.any_value("value").alias("value"),
        F.count(F.lit(1)).alias("__dup"),
    )
    guard = F.assert_true(
        F.col("__dup") == 1, F.lit(f"promql binop: duplicate series in the {what} match group")
    )
    # assert_true yields NULL when it passes; folding it into the value
    # column keeps the check alive through column pruning.
    return agg.select(
        "__mk", "labels", F.when(guard.isNull(), F.col("value")).alias("value")
    )


def binop(
    lhs: DataFrame,
    rhs: DataFrame,
    op: str,
    on: list[str] | None = None,
    ignoring: list[str] | None = None,
    group: str | None = None,
    include: list[str] | None = None,
    bool_mode: bool = False,
) -> DataFrame:
    """PromQL vector-to-vector binary operation with label matching
    (``lhs <op> on(...)/ignoring(...) [group_left/group_right] rhs``),
    mirroring promql/engine.go ``VectorBinop``.

    - ``group=None``: one-to-one.  Both sides must be unique per match key
      (duplicates raise, as Prometheus errors).  Result labels are the
      matched label subset.
    - ``group='left'`` / ``'right'``: many-to-one.  The "one" side must be
      unique per key; the "many" side keeps all its labels minus
      ``__name__``, plus any ``include`` labels copied from the "one" side
      (PromQL's ``group_left(extra)``).
    - Arithmetic ops produce ``lhs.value <op> rhs.value``.  Comparison ops
      filter unless ``bool_mode``, which yields 1.0/0.0 and keeps every
      matched row.

    Comparison-filter semantics follow promql/engine.go exactly
    (``vectorElemBinop`` + ``resultMetric``, pinned by
    test_promql.py::test_cmp_filter_*): the surviving VALUE is always the
    ORIGINAL lhs operand — under ``group_right`` that is the "one" side,
    even though the output LABELS come from the "many" side — and
    ``__name__`` is dropped only for ops where Prometheus drops it
    (arithmetic, or comparisons with ``bool``); a plain filter comparison
    keeps the metric name, since the sample value passes through
    unchanged.

    Scale shape: one equi-join on the match-key string.  The "one" side is
    pre-collapsed by a hash aggregate (tiny after grouping — AQE broadcasts
    it); the many side shuffles once on the key.  No cross joins, no UDFs —
    everything codegen'd.
    """
    if op in _ARITH_OPS:
        combine, is_cmp = _ARITH_OPS[op], False
    elif op in _CMP_OPS:
        combine, is_cmp = _CMP_OPS[op], True
    else:
        raise ValueError(f"unsupported binary operator: {op!r}")
    if group not in (None, "left", "right"):
        raise ValueError("group must be None, 'left' or 'right'")

    lkey = canonical_labels_json(match_labels(F.col("labels"), on, ignoring))
    # Prometheus drops __name__ for arithmetic and bool-mode comparisons
    # only (shouldDropMetricName); a filter comparison keeps it.
    keep_name = is_cmp and not bool_mode

    if group is None:
        left = _unique_side(
            lhs.select(F.col("labels"), F.col("value")), lkey, "left"
        ).withColumnsRenamed({"labels": "__llabels", "value": "__lv"})
        right = _unique_side(
            rhs.select(F.col("labels"), F.col("value")), lkey, "right"
        ).withColumnsRenamed({"labels": "__rlabels", "value": "__rv"})
        joined = left.join(right, "__mk")
        if on is not None or not keep_name:
            # on(): Keep(on-labels) — __name__ survives only if listed.
            out_labels = match_labels(F.col("__llabels"), on, ignoring)
        else:
            # ignoring() + filter comparison: Del(ignored) only.
            drop = F.array(*[F.lit(k) for k in (ignoring or [])])
            out_labels = F.map_filter(
                F.col("__llabels"), lambda k, _: ~F.array_contains(drop, k)
            )
    else:
        many, one = (lhs, rhs) if group == "left" else (rhs, lhs)
        many = many.select(
            lkey.alias("__mk"), F.col("labels").alias("__mlabels"), F.col("value").alias("__mv")
        )
        one = _unique_side(
            one.select(F.col("labels"), F.col("value")), lkey, "one"
        ).withColumnsRenamed({"labels": "__olabels", "value": "__ov"})
        joined = many.join(one, "__mk")
        lv = F.col("__mv") if group == "left" else F.col("__ov")
        rv = F.col("__ov") if group == "left" else F.col("__mv")
        joined = joined.withColumn("__lv", lv).withColumn("__rv", rv)
        out_labels = (
            F.col("__mlabels")
            if keep_name
            else F.map_filter(F.col("__mlabels"), lambda k, _: k != F.lit(METRIC_NAME_LABEL))
        )
        if include:
            keep = F.array(*[F.lit(k) for k in include])
            extra = F.map_filter(F.col("__olabels"), lambda k, _: F.array_contains(keep, k))
            out_labels = F.map_concat(
                F.map_filter(out_labels, lambda k, _: ~F.array_contains(keep, k)), extra
            )

    if is_cmp:
        cond = combine(F.col("__lv"), F.col("__rv"))
        if bool_mode:
            value = F.when(cond, F.lit(1.0)).otherwise(F.lit(0.0))
        else:
            joined = joined.filter(cond)
            # vectorElemBinop returns the ORIGINAL lhs operand — under
            # group_right that is the "one" side's value, not the many
            # side's (the pre-round-5 code kept __mv — ADVICE r4).
            value = F.col("__lv")
    else:
        value = combine(F.col("__lv"), F.col("__rv"))

    out = joined.select(out_labels.alias("labels"), value.cast("double").alias("value"))
    return out.withColumn("series_key", series_key(F.col("labels")))


def set_binop(
    lhs: DataFrame,
    rhs: DataFrame,
    op: str,
    on: list[str] | None = None,
    ignoring: list[str] | None = None,
) -> DataFrame:
    """PromQL logical/set binary operators between instant vectors
    (promql/engine.go ``VectorAnd/VectorOr/VectorUnless``):

    - ``and``: lhs samples whose match key exists on the rhs (semi-join);
    - ``unless``: lhs samples whose match key does NOT exist (anti-join);
    - ``or``: all lhs samples plus rhs samples whose key has no lhs match
      (anti-join + union).

    Unlike arithmetic :func:`binop`, set ops keep the surviving side's
    ORIGINAL labels and values untouched, and no side needs key
    uniqueness.  Scale shape: one semi/anti hash join on the match-key —
    both null-safe and broadcastable by AQE when one side is small.
    """
    key = canonical_labels_json(match_labels(F.col("labels"), on, ignoring))
    cols = [c for c in lhs.columns]
    l = lhs.withColumn("__mk", key)
    r = rhs.withColumn("__mk", key)
    if op == "and":
        out = l.join(r.select("__mk"), "__mk", "left_semi")
    elif op == "unless":
        out = l.join(r.select("__mk"), "__mk", "left_anti")
    elif op == "or":
        extra = r.join(l.select("__mk"), "__mk", "left_anti")
        out = l.unionByName(extra.select(*l.columns))
    else:
        raise ValueError(f"unsupported set operator: {op!r}")
    return out.select(*cols)


def agg_by(vector: DataFrame, fn: str, by: list[str]) -> DataFrame:
    """PromQL ``<fn> by (labels) (vector)``: regroup an instant/range vector
    by a label subset.  Output labels contain only the ``by`` labels.
    An empty ``by`` is the bare aggregation (``sum(vector)``): one global
    group, empty label set.
    """
    agg = _OVER_TIME[fn]
    keys = [F.col("labels").getItem(name).alias(name) for name in by]
    if not by:
        # A keyless groupBy always emits one row (NULL for sum/min/max/avg,
        # 0 for count) even over an empty input, but PromQL's
        # sum(nonexistent) is an EMPTY vector.  Carry the group size and
        # drop the empty-input row before it reaches binops/to_api_vector.
        grouped = vector.groupBy().agg(
            agg(F.col("value")).alias("value"),
            F.count(F.lit(1)).alias("__n"))
        empty = F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<string>"))
        return (grouped.filter(F.col("__n") > 0)
                .select(empty.alias("labels"), "value"))
    grouped = vector.groupBy(*keys).agg(agg(F.col("value")).alias("value"))
    new_labels = F.map_from_arrays(
        F.array(*[F.lit(n) for n in by]), F.array(*[F.col(n) for n in by])
    )
    return grouped.select(new_labels.alias("labels"), "value")


def agg_quantile_by(vector: DataFrame, q: float, by: list[str]) -> DataFrame:
    """PromQL ``quantile by (labels) (q, vector)``: the interpolated
    q-quantile of the instant vector's values ACROSS series, per label
    group — Prometheus's cross-series quantile aggregator, with the same
    linear interpolation as :func:`quantile_over_time`.

    Group size here is the SERIES CARDINALITY per retained-label group —
    unbounded at scale (``quantile(0.99, up)`` over 10M series is one
    group), so a per-group exact ``percentile()`` (which buffers every
    group value on one reducer) is the wrong tool.  Routed through
    :func:`~mandodb_spark.operators.sketch.grouped_quantile_cont` — the
    grouped two-phase rank-probe engine, bit-identical to ``percentile``
    but never holding more than ~N_g/32 rows in one sort partition.
    An empty input yields an EMPTY vector (PromQL semantics), including
    for the bare ``quantile(q, v)`` case."""
    from ..operators import sketch

    new_labels = F.map_from_arrays(
        F.array(*[F.lit(n) for n in by]),
        F.array(*[F.col("labels").getItem(n) for n in by]))
    keyed = vector.select(new_labels.alias("__lbl"),
                          F.col("value")).withColumn(
        "__gk", canonical_labels_json(F.col("__lbl")))
    out = sketch.grouped_quantile_cont(
        keyed, ["__gk"], "value", q, carry=("__lbl",))
    return out.select(F.col("__lbl").alias("labels"), "value")


def sort_by_label(vector: DataFrame, by: list[str],
                  desc: bool = False) -> DataFrame:
    """PromQL ``sort_by_label`` / ``sort_by_label_desc`` (Prometheus
    2.49 experimental → stable): order an instant vector by the given
    label values (then series_key for determinism).  Presentation-layer:
    the sort materializes only at the consumer — upstream operators stay
    unordered."""
    cols = [F.col("labels").getItem(n) for n in by]
    order = [c.desc() if desc else c.asc() for c in cols]
    return vector.orderBy(*order, F.col("series_key"))


def info_enrich(vector: DataFrame, info_vec: DataFrame,
                data_labels: list[str] | None = None,
                identifying: tuple[str, ...] = ("instance", "job"),
                join_ts: bool = False) -> DataFrame:
    """PromQL 3.x ``info()``: enrich ``vector``'s samples with DATA labels
    copied from matching info-metric series (``target_info`` by default —
    the caller evaluates and passes the info vector), matched on the
    IDENTIFYING labels (instance, job).

    - ``data_labels``: restrict the copied labels to these names (the
      non-``__name__`` matchers of info()'s selector argument); ``None``
      copies every non-identifying, non-name label.
    - ``join_ts=True``: range mode — both sides carry a ``ts`` grid column
      and the match is per eval point.
    - Samples missing an identifying label pass through unchanged (null
      join keys never match), as in Prometheus.

    Deliberate deltas from promql/info.go: when several info series share
    identifying labels with conflicting data labels, Prometheus fails the
    query; a distributed engine shouldn't row-error, so the lexically
    greatest data-label set wins deterministically.  Likewise a data label
    colliding with an existing label on the sample keeps the SAMPLE's
    value instead of erroring.

    Scale shape: one equi-join on (identifying[, ts]) — the info side is
    first reduced to one row per identifying key (hash agg), typically a
    small dimension Catalyst/AQE can broadcast."""
    idk = [f"__id_{i}" for i in range(len(identifying))]
    keys = idk + (["ts"] if join_ts else [])
    strip = set(identifying) | {METRIC_NAME_LABEL}
    if data_labels is None:
        data_map = F.map_filter(
            F.col("labels"),
            lambda k, _: ~k.isin(*[F.lit(s) for s in strip]))
    else:
        data_map = F.map_filter(
            F.col("labels"),
            lambda k, _: k.isin(*[F.lit(d) for d in data_labels]))
    inf = info_vec.select(
        *[F.col("labels").getItem(n).alias(a)
          for n, a in zip(identifying, idk)],
        *(["ts"] if join_ts else []),
        data_map.alias("__data"),
    )
    for a in idk:
        inf = inf.filter(F.col(a).isNotNull())
    inf = inf.groupBy(*keys).agg(
        F.max_by(
            "__data",
            F.to_json(F.array_sort(F.map_entries(F.col("__data")))),
        ).alias("__data")
    )
    base = vector.withColumns(
        {a: F.col("labels").getItem(n) for n, a in zip(identifying, idk)})
    joined = base.join(inf, keys, "left")
    addable = F.map_filter(
        F.coalesce(F.col("__data"),
                   F.create_map().cast("map<string,string>")),
        lambda k, _: ~F.map_contains_key(F.col("labels"), k))
    return joined.withColumn(
        "labels", F.map_concat(F.col("labels"), addable)
    ).drop("__data", *idk)


#: Calendar functions (promql/functions.go funcDaysInMonth..funcYear):
#: the vector's VALUES are unix timestamps (PromQL defaults them to
#: time()); all fields are UTC, day_of_week is 0=Sunday.
_CALENDAR = {
    "minute": F.minute,
    "hour": F.hour,
    "day_of_week": lambda t: F.dayofweek(t) - 1,  # Spark 1=Sunday
    "day_of_month": F.dayofmonth,
    "day_of_year": F.dayofyear,
    "days_in_month": lambda t: F.dayofmonth(F.last_day(t)),
    "month": F.month,
    "year": F.year,
}


def calendar(vector: DataFrame, fn: str) -> DataFrame:
    """PromQL calendar functions (``minute``/``hour``/``day_of_week``/
    ``day_of_month``/``day_of_year``/``days_in_month``/``month``/
    ``year``) applied to a vector of unix-timestamp values, UTC — pure
    JVM column projection, no shuffle."""
    ts = F.timestamp_seconds(F.col("value").cast("long"))
    return vector.withColumn("value", _CALENDAR[fn](ts).cast("double"))


def holt_winters(rel: DataFrame, start: int, end: int,
                 sf: float, tf: float) -> DataFrame:
    """PromQL ``holt_winters`` / ``double_exponential_smoothing``
    (promql/functions.go funcHoltWinters): per-series smoothed value over
    [start, end] with smoothing factor ``sf`` and trend factor ``tf``."""
    return grid_holt_winters(rel, end, end, end - start + 1, 1,
                             sf, tf).drop("ts")


def _hw_fold(v: Column, sf: float, tf: float) -> Column:
    """The Holt-Winters recurrence as one JVM ``F.aggregate`` fold over a
    ts-sorted value array.  State per series is O(1); the fold mirrors
    the Go loop exactly (trend update uses the PREVIOUS two smoothed
    values; the second raw sample both seeds the trend and is consumed by
    the first iteration)."""
    init = F.struct(
        F.element_at(v, 1).alias("sp"),
        F.element_at(v, 1).alias("s"),
        (F.element_at(v, 2) - F.element_at(v, 1)).alias("b"),
        F.lit(1).alias("i"),
    )

    def step(acc, x):
        b_new = F.when(
            acc["i"] == 1, acc["b"]
        ).otherwise(tf * (acc["s"] - acc["sp"]) + (1 - tf) * acc["b"])
        s_new = sf * x + (1 - sf) * (acc["s"] + b_new)
        return F.struct(
            acc["s"].alias("sp"), s_new.alias("s"),
            b_new.alias("b"), (acc["i"] + 1).alias("i"),
        )

    return F.aggregate(
        F.slice(v, 2, F.size(v) - 1), init, step, lambda acc: acc["s"]
    )


def grid_holt_winters(rel: DataFrame, start: int, end: int, window: int,
                      step: int, sf: float, tf: float) -> DataFrame:
    """``holt_winters(sel[window], sf, tf)`` at every grid eval point:
    the recurrence is sequential per window but windows are independent,
    so the sequential :func:`_hw_fold` runs over per-(series, t) sorted
    value arrays assembled by the covering-points explode — array size
    bounded by samples-per-window, one hash aggregate, no Python."""
    _check_fanout(window - 1, start, end, step, "grid_holt_winters")
    covered = _cover(_ensure_series_key(rel), window - 1, start, end, step)
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "value"))), lambda p: p["value"]
    )
    g = covered.groupBy("series_key", "__t").agg(
        F.any_value("labels").alias("labels"), vals.alias("__vals")
    ).filter(F.size("__vals") >= 2)
    return g.select(
        "series_key", "labels", F.col("__t").alias("ts"),
        _hw_fold(F.col("__vals"), sf, tf).cast("double").alias("value"))


def grid_deriv(rel: DataFrame, start: int, end: int, window: int,
               step: int, horizon: int | None = None) -> DataFrame:
    """``deriv(sel[window])`` — and, with ``horizon``,
    ``predict_linear(sel[window], horizon)`` — at every grid eval point:
    per-(series, t) least-squares slope/intercept (``regr_slope`` /
    ``regr_intercept``, partial-aggregatable) over the window's samples.
    x is window-relative (ts − window start): both engines compute in
    double, and regressing on raw epoch seconds (~1.7e9) loses precision
    to cancellation differently per engine.  The eval point sits at
    x = window − 1 and predict_linear extrapolates to
    x = window − 1 + horizon."""
    _check_fanout(window - 1, start, end, step, "grid_deriv")
    covered = _cover(_ensure_series_key(rel), window - 1, start, end, step)
    x = (F.col("ts") - (F.col("__t") - F.lit(window - 1))).cast("double")
    g = (
        covered.groupBy("series_key", "__t")
        .agg(
            F.any_value("labels").alias("labels"),
            F.regr_slope(F.col("value"), x).alias("__slope"),
            F.regr_intercept(F.col("value"), x).alias("__icept"),
            F.count(F.lit(1)).alias("__n"),
        )
        .filter((F.col("__n") >= 2) & F.col("__slope").isNotNull())
    )
    value = (F.col("__slope") if horizon is None
             else F.col("__icept")
             + F.col("__slope") * F.lit(float(window - 1 + horizon)))
    return g.select("series_key", "labels", F.col("__t").alias("ts"),
                    value.cast("double").alias("value"))
