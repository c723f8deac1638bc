"""Tests for the PromQL-style function layer on hand-built fixtures."""

from __future__ import annotations

import math
import statistics

import pytest
from pyspark.sql import functions as F

from mandodb_spark import ROW_SCHEMA
from mandodb_spark.functions import promql
from mandodb_spark.model import canonicalize

START = 1_700_000_000


@pytest.fixture(scope="module")
def rel(spark):
    rows = [
        # counter series with a reset at t=180 (100 -> 10)
        ("reqs", {"node": "a"}, START, 100.0),
        ("reqs", {"node": "a"}, START + 60, 160.0),
        ("reqs", {"node": "a"}, START + 120, 220.0),
        ("reqs", {"node": "a"}, START + 180, 10.0),
        ("reqs", {"node": "a"}, START + 240, 70.0),
        # second series, monotone
        ("reqs", {"node": "b"}, START, 0.0),
        ("reqs", {"node": "b"}, START + 240, 480.0),
        # gauge
        ("temp", {"node": "a"}, START, 20.0),
        ("temp", {"node": "a"}, START + 120, 26.0),
    ]
    return canonicalize(
        spark.createDataFrame(rows, ROW_SCHEMA)
    )


def _by_node(df):
    return {r.labels["node"]: r.value for r in df.collect() if r.labels["__name__"] == "reqs"}


def test_increase_handles_counter_reset(rel):
    out = _by_node(promql.increase(rel, START, START + 240))
    # a: +60 +60 then reset to 10 (counts as +10) then +60 = 190
    assert out["a"] == pytest.approx(190.0)
    assert out["b"] == pytest.approx(480.0)


def test_rate_is_increase_over_span(rel):
    out = _by_node(promql.rate(rel, START, START + 240))
    assert out["a"] == pytest.approx(190.0 / 240.0)
    assert out["b"] == pytest.approx(480.0 / 240.0)


def test_delta_gauge(rel):
    out = {r.labels["__name__"]: r.value for r in promql.delta(rel, START, START + 240).collect()
           if r.labels["node"] == "a"}
    assert out["temp"] == pytest.approx(6.0)
    assert out["reqs"] == pytest.approx(-30.0)  # last 70 - first 100


def test_instant_latest_within_lookback(rel):
    out = promql.instant(rel, START + 250, lookback=300).collect()
    vals = {(r.labels["__name__"], r.labels["node"]): (r.ts, r.value) for r in out}
    assert vals[("reqs", "a")] == (START + 240, 70.0)
    assert vals[("temp", "a")] == (START + 120, 26.0)
    # nothing within lookback → series absent
    assert promql.instant(rel, START + 10_000, lookback=60).count() == 0


def test_over_time_windows(rel):
    out = promql.over_time(rel, "avg", START, START + 240, step=120)
    rows = [
        (r.window_start, r.value)
        for r in out.collect()
        if r.labels["__name__"] == "reqs" and r.labels["node"] == "a"
    ]
    rows.sort()
    # windows: [START,+120): 100,160 → 130 ; [+120,+240): 220,10 → 115 ; [+240,..): 70
    assert rows == [
        (START, pytest.approx(130.0)),
        (START + 120, pytest.approx(115.0)),
        (START + 240, pytest.approx(70.0)),
    ]


def test_agg_by_label_subset(rel):
    vec = promql.instant(rel.filter(F.col("labels")["__name__"] == "reqs"), START + 240)
    out = promql.agg_by(vec, "sum", ["__name__"]).collect()
    assert len(out) == 1
    assert out[0].labels == {"__name__": "reqs"}
    assert out[0].value == pytest.approx(70.0 + 480.0)


def test_resets_counts_drops(rel):
    out = promql.resets(rel, START, START + 300)
    by_series = {r.labels["node"]: r.value for r in out.collect() if r.labels["__name__"] == "reqs"}
    assert by_series == {"a": 1, "b": 0}  # one reset at t=180 on node a


def test_quantile_over_time_exact_median(rel):
    out = promql.quantile_over_time(rel, 0.5, START, START + 300, 600)
    vals = {
        (r.labels["__name__"], r.labels["node"]): r.value for r in out.collect()
    }
    assert vals[("reqs", "a")] == 100.0  # median of 100,160,220,10,70
    assert vals[("temp", "a")] == 23.0   # interpolated median of 20,26


def test_topk_bottomk_deterministic(rel):
    vec = promql.instant(rel, START + 300, 600)
    top = promql.topk(vec, 1).collect()
    assert top[0].labels["node"] == "b" and top[0].value == 480.0
    bottom = promql.topk(vec, 1, largest=False).collect()
    assert bottom[0].value == 26.0  # temp gauge is the smallest instant


def test_irate_uses_last_two_samples(rel):
    out = _by_node(promql.irate(rel, START, START + 240))
    # a: last two samples 10 -> 70 over 60s = 1.0/s
    assert out["a"] == pytest.approx(1.0)
    # b: 0 -> 480 over 240s
    assert out["b"] == pytest.approx(2.0)


def test_irate_counter_reset_on_last_step(rel):
    # range ending at the reset sample: 220 -> 10 is a reset, irate = 10/60
    out = _by_node(promql.irate(rel, START, START + 180))
    assert out["a"] == pytest.approx(10.0 / 60.0)


def test_idelta_gauge_semantics(rel):
    out = _by_node(promql.idelta(rel, START, START + 240))
    assert out["a"] == pytest.approx(60.0)   # 10 -> 70, no reset clamping
    d = {r.labels["__name__"]: r.value for r in promql.idelta(rel, START, START + 240).collect()
         if r.labels["node"] == "a"}
    assert d["temp"] == pytest.approx(6.0)


def test_changes_counts_value_changes(spark):
    from mandodb_spark import ROW_SCHEMA
    rows = [("m", {"n": "a"}, START + i * 60, v) for i, v in enumerate([1.0, 1.0, 2.0, 2.0, 1.0])]
    rel2 = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    out = promql.changes(rel2, START, START + 600).collect()
    assert len(out) == 1 and out[0].value == 2


def test_count_values_groups_by_value(rel):
    vec = promql.instant(rel, START + 240, lookback=300)
    out = {r.labels["value"]: r.n_series for r in promql.count_values(vec).collect()}
    # instant values: reqs/a=70, reqs/b=480, temp/a=26
    assert out == {"70.0": 1, "480.0": 1, "26.0": 1}


def test_histogram_quantile_interpolation(spark):
    inf = float("inf")
    # one group: buckets le=[1,2,4,inf], cum=[10,30,40,40] (total 40)
    rows = [("m", 1.0, 10.0), ("m", 2.0, 30.0), ("m", 4.0, 40.0), ("m", inf, 40.0)]
    b = spark.createDataFrame(rows, "metric string, le double, cum double")
    # q=0.5 -> target 20, lands in (1,2]: 1 + (2-1)*(20-10)/(30-10) = 1.5
    out = promql.histogram_quantile(b, 0.5, ["metric"]).collect()
    assert out[0].value == pytest.approx(1.5)
    # q=0.25 -> target 10, first bucket exactly: 0 + 1*(10-0)/(10-0) = 1.0
    out = promql.histogram_quantile(b, 0.25, ["metric"]).collect()
    assert out[0].value == pytest.approx(1.0)
    # q=1.0 -> target 40 first reached in bucket le=4 (cum 40 >= 40):
    # 2 + 2*(40-30)/(40-30) = 4.0
    out = promql.histogram_quantile(b, 1.0, ["metric"]).collect()
    assert out[0].value == pytest.approx(4.0)


def test_histogram_quantile_inf_bucket_returns_max_finite(spark):
    inf = float("inf")
    # target falls in the +Inf bucket -> highest finite le
    rows = [("m", 1.0, 10.0), ("m", inf, 100.0)]
    b = spark.createDataFrame(rows, "metric string, le double, cum double")
    out = promql.histogram_quantile(b, 0.9, ["metric"]).collect()
    assert out[0].value == pytest.approx(1.0)


def test_clamp(rel):
    vec = promql.instant(rel, START + 240, lookback=300)
    vals = sorted(r.value for r in promql.clamp(vec, lo=30.0, hi=100.0).collect())
    assert vals == [30.0, 70.0, 100.0]


def test_label_replace_and_join(rel):
    vec = promql.instant(rel, START + 240, lookback=300)
    out = promql.label_replace(vec, "dc", "dc-$1", "node", "(a)")
    labels = {r.labels.get("node"): dict(r.labels) for r in out.collect()}
    assert labels["a"].get("dc") == "dc-a"
    assert "dc" not in labels["b"]  # regex didn't match -> unchanged
    out2 = promql.label_join(vec, "id", "/", ["__name__", "node"])
    ids = sorted({r.labels["id"] for r in out2.collect()})
    assert ids == ["reqs/a", "reqs/b", "temp/a"]


def test_stddev_and_last_over_time(spark):
    rows = [("m", {"n": "a"}, START + i * 60, v) for i, v in enumerate([1.0, 3.0, 5.0])]
    rel2 = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    std = promql.over_time(rel2, "stddev", START, START + 600, 600).collect()
    # population stddev of [1,3,5] = sqrt(8/3)
    assert std[0].value == pytest.approx((8.0 / 3.0) ** 0.5)
    last = promql.over_time(rel2, "last", START, START + 600, 600).collect()
    assert last[0].value == pytest.approx(5.0)


def test_offset_range_shifts_and_restamps(rel):
    # offset 120s: the [START, START+120] window sees samples from
    # [START-120, START] re-stamped forward
    out = promql.offset_range(rel, START + 120, START + 240, offset=120)
    rows = {(r.labels["__name__"], r.labels["node"], r.ts): r.value for r in out.collect()}
    # original sample at START+60 (value 160) surfaces at ts START+180
    assert rows[("reqs", "a", START + 180)] == 160.0
    # nothing beyond the shifted window leaks through
    assert all(START + 120 <= ts <= START + 240 for (_, _, ts) in rows)


def test_absent_semantics(rel):
    empty = promql.instant(rel.filter("value < -1e18"), START + 240, 300)
    out = promql.absent(empty).collect()
    assert len(out) == 1 and out[0].value == 1.0 and out[0].labels == {"absent": "true"}
    present = promql.instant(rel, START + 240, 300)
    assert promql.absent(present).count() == 0


def test_scalar_map_functions(rel):
    vec = promql.instant(rel, START + 240, lookback=300)
    sq = {r.labels.get("node"): r.value
          for r in promql.scalar_map(vec, "sqrt").collect() if r.labels["__name__"] == "reqs"}
    assert sq["b"] == pytest.approx(480.0 ** 0.5)
    sg = {r.labels.get("node"): r.value
          for r in promql.scalar_map(vec, "sgn").collect() if r.labels["__name__"] == "reqs"}
    assert sg == {"a": 1.0, "b": 1.0}


def test_changes_single_sample_is_zero(spark):
    # Prometheus' changes() yields 0 (not empty) for a one-sample series
    rows = [("m", {"n": "solo"}, START, 7.0)]
    rel2 = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    out = promql.changes(rel2, START, START + 600).collect()
    assert len(out) == 1 and out[0].value == 0


@pytest.fixture(scope="module")
def binop_vecs(spark):
    # instant vectors: requests{job,instance} (many) and limits{job} (one)
    reqs = [
        ("requests", {"job": "api", "instance": "i1"}, START, 10.0),
        ("requests", {"job": "api", "instance": "i2"}, START, 30.0),
        ("requests", {"job": "db", "instance": "i3"}, START, 8.0),
    ]
    lims = [
        ("limits", {"job": "api"}, START, 40.0),
        ("limits", {"job": "db"}, START, 16.0),
        ("limits", {"job": "idle"}, START, 99.0),  # unmatched on the one side
    ]
    mk = lambda rows: canonicalize(spark.createDataFrame(rows, ROW_SCHEMA)).select(
        "labels", "value", "series_key"
    )
    return mk(reqs), mk(lims)


def test_binop_one_to_one_on(binop_vecs):
    reqs, lims = binop_vecs
    # collapse requests to one series per job first (one-to-one needs uniqueness)
    per_job = promql.agg_by(reqs, "sum", ["job"])
    out = promql.binop(per_job, lims, "/", on=["job"])
    got = {r.labels["job"]: r.value for r in out.collect()}
    assert got == {"api": pytest.approx(1.0), "db": pytest.approx(0.5)}
    # result labels are exactly the on() subset
    assert all(set(r.labels) == {"job"} for r in out.collect())


def test_binop_one_to_one_ignoring(binop_vecs):
    reqs, lims = binop_vecs
    one_series = reqs.filter(F.col("labels").getItem("instance") == "i1")
    # ignoring(instance): {job} matches on both sides, __name__ always dropped
    out = promql.binop(one_series, lims, "-", ignoring=["instance"])
    got = {r.labels["job"]: r.value for r in out.collect()}
    assert got == {"api": pytest.approx(-30.0)}


def test_binop_group_left_many_to_one(binop_vecs):
    reqs, lims = binop_vecs
    out = promql.binop(reqs, lims, "/", on=["job"], group="left")
    got = {r.labels["instance"]: r.value for r in out.collect()}
    assert got == {
        "i1": pytest.approx(0.25),
        "i2": pytest.approx(0.75),
        "i3": pytest.approx(0.5),
    }
    # many side keeps its labels minus __name__; unmatched "idle" drops out
    assert all(set(r.labels) == {"job", "instance"} for r in out.collect())


def test_binop_group_right_and_include(binop_vecs):
    reqs, lims = binop_vecs
    # group_right: many side is rhs; value order still lhs op rhs
    out = promql.binop(lims, reqs, "/", on=["job"], group="right")
    got = {r.labels["instance"]: r.value for r in out.collect()}
    assert got["i1"] == pytest.approx(4.0)  # limits/requests = 40/10
    # include copies a label from the one side onto the result
    lims2 = lims.withColumn(
        "labels", F.map_concat(F.col("labels"), F.create_map(F.lit("tier"), F.lit("gold")))
    ).withColumn("series_key", F.xxhash64(F.to_json(F.map_entries(F.col("labels")))))
    out2 = promql.binop(reqs, lims2, "/", on=["job"], group="left", include=["tier"])
    assert all(r.labels.get("tier") == "gold" for r in out2.collect())


def test_binop_comparison_filter_and_bool(binop_vecs):
    reqs, lims = binop_vecs
    # requests > on(job) group_left limits/2 : keep series above half their limit
    half = lims.withColumn("value", F.col("value") / 2)
    out = promql.binop(reqs, half, ">", on=["job"], group="left")
    kept = {r.labels["instance"]: r.value for r in out.collect()}
    # i2: 30 > 20 keeps value 30; i1: 10 < 20 dropped; i3: 8 = 8 dropped
    assert kept == {"i2": pytest.approx(30.0)}
    outb = promql.binop(reqs, half, ">", on=["job"], group="left", bool_mode=True)
    got = {r.labels["instance"]: r.value for r in outb.collect()}
    assert got == {"i1": 0.0, "i2": 1.0, "i3": 0.0}


def test_cmp_filter_keeps_metric_name_bool_drops_it(binop_vecs):
    """promql/engine.go shouldDropMetricName: a plain filter comparison
    passes the lhs sample through unchanged INCLUDING __name__; the bool
    modifier (and arithmetic) drops the name (ADVICE r4 pin)."""
    reqs, lims = binop_vecs
    half = lims.withColumn("value", F.col("value") / 2)
    out = promql.binop(reqs, half, ">", on=["job"], group="left")
    assert all(r.labels.get("__name__") == "requests" for r in out.collect())
    outb = promql.binop(reqs, half, ">", on=["job"], group="left", bool_mode=True)
    assert all("__name__" not in r.labels for r in outb.collect())
    arith = promql.binop(reqs, lims, "/", on=["job"], group="left")
    assert all("__name__" not in r.labels for r in arith.collect())


def test_cmp_filter_group_right_keeps_one_side_value(binop_vecs):
    """vectorElemBinop returns the ORIGINAL lhs operand: in
    ``limits < on(job) group_right requests`` the surviving VALUE is the
    lhs (one side, limits) while the LABELS come from the many side
    (requests) — the pre-round-5 code kept the many side's value
    (ADVICE r4 pin)."""
    reqs, lims = binop_vecs
    # limits{api}=40 < requests{i2}=30? no; limits{api}=40 < ... only
    # pairs where lims.value < reqs.value survive, carrying lims.value.
    out = promql.binop(lims, reqs, "<", on=["job"], group="right")
    got = {r.labels["instance"]: r.value for r in out.collect()}
    # api: 40 < 10 (i1) no; 40 < 30 (i2) no. db: 16 < 8 (i3) no.
    assert got == {}
    out2 = promql.binop(lims, reqs, ">", on=["job"], group="right")
    got2 = {r.labels["instance"]: r.value for r in out2.collect()}
    # every pair: one-side limit exceeds the request; value = the LIMIT
    assert got2 == {
        "i1": pytest.approx(40.0),
        "i2": pytest.approx(40.0),
        "i3": pytest.approx(16.0),
    }
    # labels are the many side's, name retained (filter comparison)
    assert all(r.labels.get("__name__") == "requests" for r in out2.collect())


def test_cmp_filter_one_to_one_ignoring_keeps_name(binop_vecs):
    """One-to-one ignoring(): resultMetric only dels the ignored labels
    for a filter comparison — __name__ survives (with on() it is kept
    only if explicitly listed, since Keep() applies)."""
    reqs, lims = binop_vecs
    per_job = promql.agg_by(reqs, "sum", ["job"])  # {job} -> 40, 8
    named = per_job.withColumn(
        "labels",
        F.map_concat(F.col("labels"), F.create_map(F.lit("__name__"), F.lit("reqsum"))),
    )
    out = promql.binop(named, lims, "<", ignoring=["extra"])
    got = {r.labels["job"]: (r.labels.get("__name__"), r.value) for r in out.collect()}
    # reqsum{api}=40 < limits{api}=40? no. reqsum{db}=8 < 16? yes.
    assert got == {"db": ("reqsum", pytest.approx(8.0))}


def test_binop_duplicate_match_group_raises(binop_vecs):
    reqs, lims = binop_vecs
    # one-to-one with duplicate (job) groups on the many side must error,
    # mirroring Prometheus' "found duplicate series" failure
    with pytest.raises(Exception, match="duplicate series"):
        promql.binop(reqs, lims, "/", on=["job"]).collect()


def test_set_binop_and_or_unless(binop_vecs):
    reqs, lims = binop_vecs
    # and: requests series whose job has a limit — all three (api, db)
    out = promql.set_binop(reqs, lims, "and", on=["job"])
    assert {r.labels["instance"] for r in out.collect()} == {"i1", "i2", "i3"}
    # unless: drop series whose job has a limit; none survive
    assert promql.set_binop(reqs, lims, "unless", on=["job"]).count() == 0
    # unless with a trimmed rhs: db series survives
    api_only = lims.filter(F.col("labels").getItem("job") == "api")
    out = promql.set_binop(reqs, api_only, "unless", on=["job"])
    assert {r.labels["instance"] for r in out.collect()} == {"i3"}
    # values/labels pass through untouched
    assert {r.value for r in out.collect()} == {8.0}
    # or: lhs plus rhs-only match groups (the idle limit joins in)
    both = promql.set_binop(reqs, lims, "or", on=["job"])
    got = {(r.labels.get("instance"), r.value) for r in both.collect()}
    assert got == {("i1", 10.0), ("i2", 30.0), ("i3", 8.0), (None, 99.0)}


def test_set_binop_no_uniqueness_requirement(binop_vecs):
    # unlike arithmetic binop, duplicate match groups are fine for set ops
    reqs, lims = binop_vecs
    out = promql.set_binop(reqs, lims, "and", on=["job"])  # reqs has 2 api series
    assert out.count() == 3


def test_rate_sliding_subquery(spark):
    """rate(x[120s]) sampled every 60s, then max_over_time — the PromQL
    subquery composition.  Hand-built counter: +1/s for 2 min, then
    +3/s for 2 min.  Grid points sit at ABSOLUTE multiples of step
    (Prometheus aligns subquery evaluation times the same way), so the
    test base is chosen step-aligned."""
    base = (START // 120) * 120 + 120  # multiple of both step and window
    rows = (
        [("c", {"n": "a"}, base + i * 30, float(i * 30)) for i in range(5)]          # 1/s
        + [("c", {"n": "a"}, base + 120 + i * 30, 120.0 + i * 90.0) for i in range(1, 5)]  # 3/s
    )
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    out = promql.rate_sliding(rel, base, base + 240, window=120, step=60)
    rates = {r.window_start - base: r.value for r in out.collect()}
    # window [120, 240): pure 3/s segment
    assert rates[120] == pytest.approx(3.0)
    # window [0, 120): pure 1/s segment
    assert rates[0] == pytest.approx(1.0)
    # window [60, 180): spans the knee — between the two slopes
    assert 1.0 < rates[60] < 3.0
    # outer max picks the steep window
    peak = promql.subquery_over_time(rel, "max", base, base + 240, 120, 60).collect()
    assert len(peak) == 1 and peak[0].value == pytest.approx(3.0)


def test_holt_winters_matches_reference_recurrence(spark):
    """The JVM array fold reproduces the Prometheus double-exponential
    recurrence (s from the previous TWO smoothed values; second raw sample
    both seeds the trend and is consumed by iteration 1), computed here in
    plain Python."""
    from mandodb_spark.functions.promql import holt_winters

    xs = [3.0, 4.5, 4.0, 6.0, 5.5, 7.25]
    sf_, tf_ = 0.5, 0.3
    sp = s = xs[0]
    b = xs[1] - xs[0]
    for i, x in enumerate(xs[1:], start=1):
        if i > 1:
            b = tf_ * (s - sp) + (1 - tf_) * b
        sp, s = s, sf_ * x + (1 - sf_) * (s + b)
    expected = s

    rows = [({"__name__": "m", "u": "a"}, 100 + i, v) for i, v in enumerate(xs)]
    rel = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double"
    )
    out = holt_winters(rel, 0, 10_000, sf_, tf_).collect()
    assert len(out) == 1
    assert abs(out[0].value - expected) < 1e-12


def test_holt_winters_needs_two_samples(spark):
    from mandodb_spark.functions.promql import holt_winters

    rel = spark.createDataFrame(
        [({"__name__": "m"}, 100, 1.0)], "labels map<string,string>, ts long, value double"
    )
    assert holt_winters(rel, 0, 1000, 0.5, 0.3).count() == 0


def _mk_rel(spark, rows):
    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")


def test_ts_of_extrema_latest_ts_tiebreak(spark):
    """ts_of_max/min_over_time follow Prometheus's forward-scan >= / <=
    update rule: on tied extreme values the LATEST timestamp wins; and
    present_over_time emits 1.0 only for windows holding samples."""
    rows = [({"__name__": "m"}, t, v) for t, v in
            [(10, 5.0), (20, 5.0),      # tied max in window 0 -> ts 20
             (30, 1.0), (40, 1.0),      # tied min in window 0 -> ts 40
             (110, 2.0)]]               # window 1: single sample
    rel = _mk_rel(spark, rows)
    def vals(fn):
        return {r["window_start"]: r["value"] for r in
                promql.over_time(rel, fn, 0, 199, 100).collect()}
    assert vals("ts_of_max") == {0: 20.0, 100: 110.0}
    assert vals("ts_of_min") == {0: 40.0, 100: 110.0}
    assert vals("ts_of_last") == {0: 40.0, 100: 110.0}
    assert vals("present") == {0: 1.0, 100: 1.0}
    assert vals("group") == {0: 1.0, 100: 1.0}


def test_mad_over_time_matches_manual(spark):
    """mad_over_time == median(|x - median(x)|) with linear-interpolation
    medians (hand case: [1, 2, 4, 10] -> med 3, |dev| [2,1,1,7] -> 1.5)."""
    rows = [({"__name__": "m"}, t, v)
            for t, v in zip((0, 10, 20, 30), (1.0, 2.0, 4.0, 10.0))]
    got = promql.mad_over_time(_mk_rel(spark, rows), 0, 99, 100).collect()
    assert len(got) == 1 and got[0]["value"] == 1.5


def test_absent_over_time_grid(spark):
    """absent_over_time emits one row per EMPTY grid window, decorated
    with the caller's matcher labels; full data -> no rows."""
    rows = [({"__name__": "m"}, 10, 1.0), ({"__name__": "m"}, 250, 1.0)]
    rel = _mk_rel(spark, rows)
    got = {r["window_start"]: r["labels"] for r in
           promql.absent_over_time(rel, 0, 399, 100,
                                   labels={"job": "x"}).collect()}
    assert set(got) == {100, 300} and got[100] == {"job": "x"}
    # every window populated -> empty result
    assert promql.absent_over_time(rel, 0, 299, 250).count() == 0


#: the tumbling tests' range: five step windows from 1003, the last one
#: [1403, 1502] clipped at 1455 with samples past it
T_START, T_END, T_STEP = 1003, 1455, 100


def _tumbling_rows():
    """Two hand-built series around [T_START, T_END]: ``a`` every 17 s
    (repeated values, one counter reset at 1257), ``b`` sparse with a
    silent window [1203, 1302] and samples on both edges of T_END."""
    rows, v = [], 0.0
    for ts in range(985, 1521, 17):
        v = 2.0 if ts == 1257 else v + float(ts * 7 % 11)
        rows.append(({"__name__": "m", "s": "a"}, ts, v))
    for ts in (990, 1010, 1011, 1090, 1150, 1310, 1399, 1403, 1454, 1455, 1456):
        rows.append(({"__name__": "m", "s": "b"}, ts, float(ts % 13)))
    return rows


def _windows(rows, starts, end, width):
    """{(series, ws): [(ts, value), ...] ts-sorted} over [ws, ws+width−1],
    samples past ``end`` dropped; empty windows absent."""
    out: dict = {}
    for labels, ts, v in sorted(rows, key=lambda r: r[1]):
        for ws in starts:
            if ws <= ts <= min(ws + width - 1, end):
                out.setdefault((labels["s"], ws), []).append((ts, v))
    return out


def _pct(xs, q):
    """Linear-interpolation percentile (Spark ``percentile``)."""
    xs = sorted(xs)
    r = q * (len(xs) - 1)
    lo, hi = math.floor(r), math.ceil(r)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def _vals(p):
    return [v for _, v in p]


#: plain-Python ``<fn>_over_time`` over one window's ts-sorted samples
_OVER_REF = {
    "avg": lambda p: statistics.fmean(_vals(p)),
    "min": lambda p: min(_vals(p)),
    "max": lambda p: max(_vals(p)),
    "sum": lambda p: sum(_vals(p)),
    "count": len,
    "stddev": lambda p: statistics.pstdev(_vals(p)),
    "stdvar": lambda p: statistics.pvariance(_vals(p)),
    "last": lambda p: p[-1][1],
    "present": lambda p: 1.0,
    "group": lambda p: 1.0,
    # ties resolve to the latest timestamp (Prometheus' >= / <= scan)
    "ts_of_max": lambda p: max(p, key=lambda x: (x[1], x[0]))[0],
    "ts_of_min": lambda p: max(p, key=lambda x: (-x[1], x[0]))[0],
    "ts_of_last": lambda p: p[-1][0],
}

_WINDOW_SCHEMA = ("struct<series_key:bigint,labels:map<string,string>,"
                  "window_start:bigint,value:double>")


def _by_window(df):
    return {(r["labels"]["s"], r["window_start"]): r["value"]
            for r in df.collect()}


def test_tumbling_family_matches_python_reference(spark):
    """over_time (every fn), quantile_over_time, mad_over_time and
    absent_over_time against plain Python over the tumbling windows of
    hand-built rows — start off any round number, samples before start
    and past end, and a partial last window."""
    rows = _tumbling_rows()
    rel = _mk_rel(spark, rows).cache()
    starts = range(T_START, T_END + 1, T_STEP)
    wins = _windows(rows, starts, T_END, T_STEP)
    assert ("b", 1403) in wins and ("b", 1203) not in wins
    assert set(_OVER_REF) == set(promql._OVER_TIME)
    for fn, f in _OVER_REF.items():
        out = promql.over_time(rel, fn, T_START, T_END, T_STEP)
        want = {k: float(f(p)) for k, p in wins.items()}
        assert _by_window(out) == pytest.approx(want, rel=1e-9, abs=1e-9), fn
        assert out.schema.simpleString() == _WINDOW_SCHEMA, fn

    out = promql.quantile_over_time(rel, 0.3, T_START, T_END, T_STEP)
    want = {k: _pct(_vals(p), 0.3) for k, p in wins.items()}
    assert _by_window(out) == pytest.approx(want, rel=1e-9, abs=1e-9)
    assert out.schema.simpleString() == _WINDOW_SCHEMA

    out = promql.mad_over_time(rel, T_START, T_END, T_STEP)
    want = {}
    for k, p in wins.items():
        med = _pct(_vals(p), 0.5)
        want[k] = _pct([abs(v - med) for v in _vals(p)], 0.5)
    assert _by_window(out) == pytest.approx(want, rel=1e-9, abs=1e-9)
    assert out.schema.simpleString() == _WINDOW_SCHEMA

    b_rel = rel.filter(F.col("labels")["s"] == "b")
    got = {r["window_start"]: (r["labels"], r["value"]) for r in
           promql.absent_over_time(b_rel, T_START, T_END, T_STEP,
                                   labels={"s": "b"}).collect()}
    silent = {ws for ws in starts if ("b", ws) not in wins}
    assert silent == {1203}
    assert got == {ws: ({"s": "b"}, 1.0) for ws in silent}
    assert promql.absent_over_time(rel, T_START, T_END, T_STEP).count() == 0


def _ref_rate(p):
    """Observed-span rate of one window: a reset counts the new value."""
    if len(p) < 2 or p[-1][0] == p[0][0]:
        return None
    inc = sum(v - u if v >= u else v for (_, u), (_, v) in zip(p, p[1:]))
    return inc / (p[-1][0] - p[0][0])


@pytest.mark.parametrize("start,window", [(1003, 150), (1063, 40)])
def test_rate_sliding_matches_python_reference(spark, start, window):
    """rate_sliding's step-aligned windows [k·step, k·step + window) from
    (start // step)·step to end against plain Python — windows wider than
    the step, and narrower ones whose first window starts before
    start − window."""
    rows = _tumbling_rows()
    rel = _mk_rel(spark, rows)
    starts = range(start // T_STEP * T_STEP, T_END + 1, T_STEP)
    want = {k: _ref_rate(p) for k, p in
            _windows(rows, starts, T_END, window).items()}
    want = {k: x for k, x in want.items() if x is not None}
    out = promql.rate_sliding(rel, start, T_END, window, T_STEP)
    assert _by_window(out) == pytest.approx(want, rel=1e-9, abs=1e-9)
    assert out.schema.simpleString() == _WINDOW_SCHEMA
    peak = promql.subquery_over_time(rel, "max", start, T_END, window, T_STEP)
    per_series = {s: max(x for (s2, _), x in want.items() if s2 == s)
                  for s, _ in want}
    assert {r["labels"]["s"]: r["value"] for r in peak.collect()} == \
        pytest.approx(per_series, rel=1e-9)


def test_rate_sliding_first_window_whole_when_start_unaligned(spark):
    """window < step with start off the step grid: the first window
    starts at (start // step)·step, before start − window, and still sees
    all its samples.  value = ts², ts 60..129: window [60, 89] rates
    (89² − 60²)/29 = 149, not the [70, 89] rate 159."""
    rel = _mk_rel(spark, [({"__name__": "m"}, ts, float(ts * ts))
                          for ts in range(60, 130)])
    got = {r["window_start"]: r["value"] for r in
           promql.rate_sliding(rel, 100, 130, window=30, step=60).collect()}
    assert got == pytest.approx({60: 149.0, 120: (129 ** 2 - 120 ** 2) / 9})
    grid = promql.grid_rate(rel, 89, 89, 30, 60, "rate").collect()
    assert grid[0]["value"] == pytest.approx(149.0)


def test_fanout_one_cover_is_filter_and_column(spark):
    """A cover whose fan-out is 1 — reach under the step, or a one-point
    grid — plans no Generate (no sequence explode) and serves exactly the
    brute-force eval points, an anchor below ts included; a fan-out-2
    cover still explodes."""
    rows = _tumbling_rows()
    rel = promql._ensure_series_key(_mk_rel(spark, rows)).withColumn(
        "__a", F.col("ts") - 30)

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def pairs(df):
        return sorted((r["ts"], r["__t"]) for r in df.collect())

    def brute(reach, start, end, step, lag=0):
        return sorted((ts, t) for _, ts, _ in rows
                      for t in range(start, end + 1, step)
                      if ts <= t <= ts - lag + reach)

    for reach, start, end, step, anchored in (
            (99, 1102, 1555, 100, False), (40, 1102, 1555, 100, False),
            (40, 1102, 1555, 100, True), (500, 1300, 1350, 100, False)):
        anchor = F.col("__a") if anchored else None
        df = promql._cover(rel, reach, start, end, step, anchor=anchor)
        assert "Generate" not in plan(df), (reach, start, end, anchored)
        assert pairs(df) == brute(reach, start, end, step,
                                  30 if anchored else 0), (reach, anchored)
    wide = promql._cover(rel, 100, 1102, 1555, 100)
    assert "Generate" in plan(wide)
    assert pairs(wide) == brute(100, 1102, 1555, 100)
    for df in (promql.over_time(rel, "max", T_START, T_END, T_STEP),
               promql.quantile_over_time(rel, 0.5, T_START, T_END, T_STEP),
               promql.mad_over_time(rel, T_START, T_END, T_STEP)):
        assert "Generate" not in plan(df)


def test_sort_by_label_and_calendar(spark):
    """sort_by_label orders by label values (desc variant reversed);
    calendar() fields are UTC with day_of_week 0=Sunday (2024-01-07 was
    a Sunday; January has 31 days)."""
    rows = [({"__name__": "m", "u": u}, 1, float(i))
            for i, u in enumerate(["b", "a", "c"])]
    vec = promql.instant(
        promql._ensure_series_key(_mk_rel(spark, rows)), 1, 10)
    asc = [r["labels"]["u"] for r in promql.sort_by_label(vec, ["u"]).collect()]
    desc = [r["labels"]["u"]
            for r in promql.sort_by_label(vec, ["u"], desc=True).collect()]
    assert asc == ["a", "b", "c"] and desc == ["c", "b", "a"]

    sunday = 1704585600  # 2024-01-07T00:00:00Z
    tsvec = vec.limit(1).withColumn("value", F.lit(float(sunday)))
    def cal(fn):
        return promql.calendar(tsvec, fn).collect()[0]["value"]
    assert cal("day_of_week") == 0.0
    assert cal("day_of_month") == 7.0
    assert cal("days_in_month") == 31.0
    assert cal("month") == 1.0 and cal("year") == 2024.0
    assert cal("hour") == 0.0 and cal("minute") == 0.0
    assert cal("day_of_year") == 7.0
