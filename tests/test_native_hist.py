"""Native-histogram function surface (functions/native_hist.py).

Each test cross-checks the distributed implementation against an
independent pure-Python reference over the same observations — the same
strategy the classic-histogram tests use, specialized to the exponential
bucket geometry."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mandodb_spark.functions import native_hist as nh
from mandodb_spark.model import ROW_SCHEMA


def _obs_df(spark, rows):
    """rows: list of (metric, labels, ts, value)."""
    return spark.createDataFrame(rows, ROW_SCHEMA)


def _ref_index(v: float, schema: int) -> int:
    """Reference bucket index: smallest i with v <= 2^(i * 2^-schema)."""
    scale = 2.0 ** schema
    i = math.ceil(math.log2(v) * scale)
    while 2.0 ** ((i - 1) / scale) >= v:
        i -= 1
    while 2.0 ** (i / scale) < v:
        i += 1
    return i


def _ref_hist(values, schema=nh.DEFAULT_SCHEMA, zt=nh.DEFAULT_ZERO_THRESHOLD):
    pos, neg, zero = {}, {}, 0
    for v in values:
        if abs(v) <= zt:
            zero += 1
        elif v > 0:
            i = _ref_index(v, schema)
            pos[i] = pos.get(i, 0) + 1
        else:
            i = _ref_index(-v, schema)
            neg[i] = neg.get(i, 0) + 1
    return {
        "count": float(len(values)),
        "sum": float(sum(values)),
        "zero_count": float(zero),
        "pos": pos,
        "neg": neg,
        "schema": schema,
        "zt": zt,
    }


def _ref_quantile(h, q):
    """Reference quantile: value-ascending walk, exponential interpolation
    (linear in the zero bucket)."""
    scale = 2.0 ** h["schema"]
    buckets = []
    for i, c in sorted(h["neg"].items(), reverse=True):
        lo, hi = -(2.0 ** (i / scale)), -(2.0 ** ((i - 1) / scale))
        buckets.append((lo, hi, c, "exp-neg", i))
    if h["zero_count"] > 0:
        zlo = -h["zt"] if h["neg"] else 0.0
        buckets.append((zlo, h["zt"], h["zero_count"], "lin", 0))
    for i, c in sorted(h["pos"].items()):
        lo, hi = 2.0 ** ((i - 1) / scale), 2.0 ** (i / scale)
        buckets.append((lo, hi, c, "exp-pos", i))
    total = sum(b[2] for b in buckets)
    rank = q * total
    cum = 0.0
    for lo, hi, c, kind, i in buckets:
        if cum + c >= rank:
            frac = min(max((rank - cum) / c, 0.0), 1.0)
            if kind == "lin":
                return lo + (hi - lo) * frac
            if kind == "exp-pos":
                return 2.0 ** ((i - 1 + frac) / scale)
            return -(2.0 ** ((i - frac) / scale))
        cum += c
    return buckets[-1][1]


VALUES = [0.8, 1.1, 1.4, 2.3, 2.9, 3.7, 5.5, 7.3, 11.2, 23.9, -1.7, -4.2, 0.0]


@pytest.fixture(scope="module")
def hist_rel(spark):
    rows = [("lat", {"app": "a"}, 1000, v) for v in VALUES]
    return nh.observe_histograms(_obs_df(spark, rows)).cache()


def test_exp_bucket_index_matches_reference(spark):
    vals = [0.5, 1.0, 1.0905077326652577, 2.0, 3.9, 4.0, 4.0000001, 1e-6, 1e6]
    for schema in (0, 2, 3, 5):
        df = spark.createDataFrame([(v,) for v in vals], "v double").select(
            "v", nh.exp_bucket_index(F.col("v"), F.lit(schema)).alias("idx")
        )
        got = {r["v"]: r["idx"] for r in df.collect()}
        for v in vals:
            assert got[v] == _ref_index(v, schema), (v, schema)


def test_observe_histograms_matches_reference(hist_rel):
    row = hist_rel.collect()
    assert len(row) == 1
    h = row[0]["hist"]
    ref = _ref_hist(VALUES)
    assert h["count"] == ref["count"]
    assert h["sum"] == pytest.approx(ref["sum"])
    assert h["zero_count"] == ref["zero_count"]
    assert dict(h["pos"]) == ref["pos"]
    assert dict(h["neg"]) == ref["neg"]
    assert row[0]["labels"]["__name__"] == "lat"


def test_scalars_count_sum_avg(hist_rel):
    for which, want in (
        ("count", float(len(VALUES))),
        ("sum", sum(VALUES)),
        ("avg", sum(VALUES) / len(VALUES)),
    ):
        got = nh.hist_scalar(hist_rel, which).collect()[0]["value"]
        assert got == pytest.approx(want), which


def test_stddev_matches_geometric_midpoint_reference(hist_rel):
    ref = _ref_hist(VALUES)
    scale = 2.0 ** ref["schema"]
    mean = ref["sum"] / ref["count"]
    var = 0.0
    for sgn, side in ((1, ref["pos"]), (-1, ref["neg"])):
        for i, c in side.items():
            mid = sgn * math.sqrt(2.0 ** (i / scale) * 2.0 ** ((i - 1) / scale))
            var += c * (mid - mean) ** 2
    var += ref["zero_count"] * (0.0 - mean) ** 2
    var /= ref["count"]
    got_var = nh.hist_scalar(hist_rel, "stdvar").collect()[0]["value"]
    got_std = nh.hist_scalar(hist_rel, "stddev").collect()[0]["value"]
    assert got_var == pytest.approx(var)
    assert got_std == pytest.approx(math.sqrt(var))


@pytest.mark.parametrize("q", [0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0])
def test_quantile_matches_reference(hist_rel, q):
    ref = _ref_quantile(_ref_hist(VALUES), q)
    got = nh.hist_quantile(hist_rel, q).collect()
    assert len(got) == 1
    assert got[0]["value"] == pytest.approx(ref), q


def test_quantile_out_of_range(hist_rel):
    assert nh.hist_quantile(hist_rel, -0.5).collect()[0]["value"] == float("-inf")
    assert nh.hist_quantile(hist_rel, 1.5).collect()[0]["value"] == float("inf")


@pytest.mark.parametrize("q", [0.2, 0.5, 0.8])
def test_fraction_quantile_duality(hist_rel, q):
    """histogram_fraction(-Inf, histogram_quantile(q)) == q — the two
    interpolations are inverses by construction."""
    x = nh.hist_quantile(hist_rel, q).collect()[0]["value"]
    frac = nh.hist_fraction(hist_rel, -1e300, x).collect()[0]["value"]
    assert frac == pytest.approx(q, abs=1e-9)


def test_fraction_full_and_empty_ranges(hist_rel):
    full = nh.hist_fraction(hist_rel, -1e300, 1e300).collect()[0]["value"]
    assert full == pytest.approx(1.0)
    none = nh.hist_fraction(hist_rel, 1e6, 1e9).collect()[0]["value"]
    assert none == pytest.approx(0.0)


def test_accumulate_is_running_sum(spark):
    rows = [
        ("m", {}, 100, 1.5),
        ("m", {}, 100, 2.5),
        ("m", {}, 200, 1.5),
        ("m", {}, 300, 6.0),
    ]
    snaps = nh.observe_histograms(_obs_df(spark, rows))
    cum = {r["ts"]: r["hist"] for r in nh.accumulate_histograms(snaps).collect()}
    assert cum[100]["count"] == 2.0
    assert cum[200]["count"] == 3.0
    assert cum[300]["count"] == 4.0
    assert cum[300]["sum"] == pytest.approx(11.5)
    i15 = _ref_index(1.5, nh.DEFAULT_SCHEMA)
    assert dict(cum[200]["pos"])[i15] == 2.0
    assert dict(cum[300]["pos"])[i15] == 2.0  # untouched bucket carries over


def test_increase_and_rate_over_cumulative(spark):
    rows = []
    for ts, vals in ((100, [1.5]), (200, [2.5, 3.5]), (300, [1.5])):
        rows += [("m", {}, ts, v) for v in vals]
    cum = nh.accumulate_histograms(nh.observe_histograms(_obs_df(spark, rows)))
    inc = nh.hist_increase(cum, 0, 1000).collect()
    assert len(inc) == 1
    h = inc[0]["hist"]
    # first sample is the baseline: increase = cum(300) - cum(100) = 3 obs
    assert h["count"] == 3.0
    assert h["sum"] == pytest.approx(2.5 + 3.5 + 1.5)
    rate = nh.hist_rate(cum, 0, 1000).collect()[0]["hist"]
    assert rate["count"] == pytest.approx(3.0 / 200.0)
    assert rate["sum"] == pytest.approx(7.5 / 200.0)
    for k, v in dict(h["pos"]).items():
        assert dict(rate["pos"])[k] == pytest.approx(v / 200.0)


def test_increase_detects_counter_reset(spark):
    """A cumulative drop (count shrinks) is a reset: the new sample counts
    verbatim, mirroring scalar counter semantics."""
    rows = [
        ("m", {}, 100, [2.0, 2.0, 2.0]),  # cum count 3
        ("m", {}, 200, [2.0]),            # RESET: cum count 1 < 3
        ("m", {}, 300, [2.0, 2.0]),       # cum count 3
    ]
    flat = [("m", {}, ts, v) for _, _, ts, vs in rows for v in vs]
    snaps = nh.observe_histograms(_obs_df(spark, flat))
    # hand-build cumulative WITH a reset at 200 (accumulate_histograms is
    # monotone by construction, so stitch two runs)
    run1 = nh.accumulate_histograms(snaps.filter("ts <= 100"))
    run2 = nh.accumulate_histograms(snaps.filter("ts >= 200"))
    cum = run1.unionByName(run2)
    h = nh.hist_increase(cum, 0, 1000).collect()[0]["hist"]
    # steps: 100 baseline 0; 200 reset -> +1; 300 no reset -> +2
    assert h["count"] == 3.0
    i2 = _ref_index(2.0, nh.DEFAULT_SCHEMA)
    assert dict(h["pos"])[i2] == 3.0


def test_delta_is_last_minus_first(spark):
    rows = [
        ("g", {}, 100, [1.5, 1.5]),
        ("g", {}, 200, [1.5]),
    ]
    flat = [("g", {}, ts, v) for _, _, ts, vs in rows for v in vs]
    snaps = nh.observe_histograms(_obs_df(spark, flat))
    h = nh.hist_delta(snaps, 0, 1000).collect()[0]["hist"]
    assert h["count"] == -1.0  # gauge shrank
    i15 = _ref_index(1.5, nh.DEFAULT_SCHEMA)
    assert dict(h["pos"])[i15] == -1.0


def test_sum_by_merges_mixed_schemas(spark):
    """sum by (app) over series at schema 3 and schema 2 downscales to the
    coarser schema: the merged histogram equals observing the pooled
    values directly at schema 2."""
    va = [1.3, 2.7, 5.1]
    vb = [1.9, 8.8]
    a = nh.observe_histograms(
        _obs_df(spark, [("m", {"app": "x", "i": "1"}, 100, v) for v in va]), schema=3
    )
    b = nh.observe_histograms(
        _obs_df(spark, [("m", {"app": "x", "i": "2"}, 100, v) for v in vb]), schema=2
    )
    merged = nh.hist_sum_by(a.unionByName(b), ["app"]).collect()
    assert len(merged) == 1
    h = merged[0]["hist"]
    assert h["schema"] == 2
    ref = _ref_hist(va + vb, schema=2)
    assert h["count"] == ref["count"]
    assert dict(h["pos"]) == ref["pos"]
    assert merged[0]["labels"] == {"app": "x"}


def test_quantile_grouped_by_series(spark):
    rows = [("m", {"s": "a"}, 100, v) for v in [1.0, 2.0, 3.0, 4.0]] + [
        ("m", {"s": "b"}, 100, v) for v in [10.0, 20.0, 30.0, 40.0]
    ]
    rel = nh.observe_histograms(_obs_df(spark, rows))
    got = {
        r["labels"]["s"]: r["value"]
        for r in nh.hist_quantile(rel, 0.5).collect()
    }
    ra = _ref_quantile(_ref_hist([1.0, 2.0, 3.0, 4.0]), 0.5)
    rb = _ref_quantile(_ref_hist([10.0, 20.0, 30.0, 40.0]), 0.5)
    assert got["a"] == pytest.approx(ra)
    assert got["b"] == pytest.approx(rb)
    assert got["b"] > got["a"] * 5


# --------------------------------------------------------------------------
# TSDB facade + HistStore integration
# --------------------------------------------------------------------------

def test_tsdb_hist_store_roundtrip_and_quantile(spark, tmp_path):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"))
    rows = [("lat", {"app": "x"}, 1000 + 60 * i, float(v))
            for i, batch in enumerate(([1.0, 4.0], [2.0], [8.0, 16.0]))
            for v in batch]
    snaps = nh.observe_histograms(
        spark.createDataFrame(rows, ROW_SCHEMA))
    db.insert_histograms(nh.accumulate_histograms(snaps).select(
        F.lit("lat").alias("metric"), "labels", "ts", "hist"))
    got = db.query_hist_rows("lat", None, 0, 10**10).collect()
    assert len(got) == 3
    q = db.histogram_quantile_native(0.5, "lat", None, at_ts=2000,
                                     rate_window=1000).collect()
    assert len(q) == 1 and q[0]["value"] > 0

    sc = db.histogram_scalar_native("count", "lat", None, at_ts=1200).collect()
    assert sc[0]["value"] == 5.0  # cumulative count at the newest sample

    fr = db.histogram_fraction_native(0.0, 1e9, "lat", None, at_ts=1200).collect()
    assert fr[0]["value"] == __import__("pytest").approx(1.0)


def test_tsdb_hist_store_memory_mode(spark):
    from mandodb_spark import TSDB

    db = TSDB(spark, None, only_memory=True)
    rows = [("m", {"a": "1"}, 100, float(v)) for v in (1.0, 2.0, 3.0)]
    snaps = nh.observe_histograms(spark.createDataFrame(rows, ROW_SCHEMA))
    db.insert_histograms(snaps.select(F.lit("m").alias("metric"),
                                      "labels", "ts", "hist"))
    assert db.query_hist_rows("m", None, 0, 10**10).count() == 1


def test_tsdb_hist_retention_shares_cutoff(spark, tmp_path):
    from mandodb_spark import TSDB
    from mandodb_spark.model import DEFAULT_SEGMENT_DURATION

    db = TSDB(spark, str(tmp_path / "store"), retention=DEFAULT_SEGMENT_DURATION)
    old_ts, new_ts = 100, 100 + 10 * DEFAULT_SEGMENT_DURATION
    rows = [("m", {}, t, 1.5) for t in (old_ts, new_ts)]
    snaps = nh.observe_histograms(spark.createDataFrame(rows, ROW_SCHEMA))
    db.insert_histograms(snaps.select(F.lit("m").alias("metric"),
                                      "labels", "ts", "hist"))
    db.remove_expires(now_ts=new_ts)
    left = db.query_hist_rows("m", None, 0, 10**10).collect()
    assert [r["ts"] for r in left] == [new_ts]


def test_hist_query_prunes_segments(spark, tmp_path):
    """Time predicates over the hist relation reach partition pruning —
    the same seg discipline as the float store."""
    from mandodb_spark import TSDB
    from mandodb_spark.model import DEFAULT_SEGMENT_DURATION

    db = TSDB(spark, str(tmp_path / "store"))
    ts_list = [100, 100 + 5 * DEFAULT_SEGMENT_DURATION]
    rows = [("m", {}, t, 2.0) for t in ts_list]
    snaps = nh.observe_histograms(spark.createDataFrame(rows, ROW_SCHEMA))
    db.insert_histograms(snaps.select(F.lit("m").alias("metric"),
                                      "labels", "ts", "hist"))
    plan = db.query_hist_rows("m", None, 0, 200)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "seg" in plan  # partition filter present
    assert db.query_hist_rows("m", None, 0, 200).count() == 1


# --------------------------------------------------------------------------
# PromQL text front-end over native histograms
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def hist_tsdb(spark, tmp_path_factory):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path_factory.mktemp("nh") / "store"))
    # float series under one name, native histograms under another
    db.insert_rows([("cpu", {"app": "x"}, 1000, 5.0)])
    obs = [("lat", {"app": "x"}, t, float(v))
           for t, vs in ((900, [1.0, 2.0]), (1000, [4.0, 8.0]))
           for v in vs] + [("lat", {"app": "y"}, 1000, 3.0)]
    snaps = nh.observe_histograms(_obs_df(spark, obs))
    db.insert_histograms(nh.accumulate_histograms(snaps).select(
        F.lit("lat").alias("metric"), "labels", "ts", "hist"))
    return db


def test_promql_text_histogram_quantile_native(hist_tsdb):
    got = {r["labels"]["app"]: r["value"]
           for r in hist_tsdb.promql(
               "histogram_quantile(0.5, lat)", at_ts=1000).collect()}
    ref_x = _ref_quantile(_ref_hist([1.0, 2.0, 4.0, 8.0]), 0.5)
    ref_y = _ref_quantile(_ref_hist([3.0]), 0.5)
    assert got["x"] == pytest.approx(ref_x)
    assert got["y"] == pytest.approx(ref_y)


def test_promql_text_histogram_quantile_of_rate(hist_tsdb):
    got = hist_tsdb.promql(
        'histogram_quantile(0.5, rate(lat{app="x"}[5m]))', at_ts=1000
    ).collect()
    # rate sees one step: +{4.0, 8.0} over 100 s; p50 of {4, 8}
    ref = _ref_quantile(_ref_hist([4.0, 8.0]), 0.5)
    assert len(got) == 1
    assert got[0]["value"] == pytest.approx(ref)


def test_promql_text_histogram_scalars(hist_tsdb):
    got = {r["labels"]["app"]: r["value"]
           for r in hist_tsdb.promql("histogram_count(lat)", 1000).collect()}
    assert got == {"x": 4.0, "y": 1.0}
    avg = {r["labels"]["app"]: r["value"]
           for r in hist_tsdb.promql("histogram_avg(lat)", 1000).collect()}
    assert avg["x"] == pytest.approx(15.0 / 4)


def test_promql_text_histogram_fraction(hist_tsdb):
    got = hist_tsdb.promql(
        'histogram_fraction(0, 1e9, lat{app="x"})', 1000).collect()
    assert got[0]["value"] == pytest.approx(1.0)


def test_promql_text_hist_sum_by_then_quantile(hist_tsdb):
    got = hist_tsdb.promql(
        "histogram_quantile(0.5, sum by (__name__) (lat))", 1000).collect()
    ref = _ref_quantile(_ref_hist([1.0, 2.0, 4.0, 8.0, 3.0]), 0.5)
    assert len(got) == 1
    assert got[0]["value"] == pytest.approx(ref)


def test_promql_text_top_level_hvector_returns_struct(hist_tsdb):
    out = hist_tsdb.promql('lat{app="y"}', 1000)
    assert "hist" in out.columns
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["hist"]["count"] == 1.0


def test_promql_text_float_path_unaffected(hist_tsdb):
    got = hist_tsdb.promql("cpu", 1000).collect()
    assert len(got) == 1 and got[0]["value"] == 5.0


def test_promql_text_hist_scalar_on_float_errors(hist_tsdb):
    from mandodb_spark.functions.promql_parser import PromqlError

    with pytest.raises(PromqlError):
        hist_tsdb.promql("histogram_count(cpu)", 1000).collect()


def test_promql_text_hist_undefined_agg_errors(hist_tsdb):
    from mandodb_spark.functions.promql_parser import PromqlError

    with pytest.raises(PromqlError):
        hist_tsdb.promql("min(lat)", 1000).collect()


# --------------------------------------------------------------------------
# range-mode (grid) evaluation
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def grid_tsdb(spark, tmp_path_factory):
    """Cumulative histogram counter with samples every 100 s and a value
    mix that shifts over time."""
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path_factory.mktemp("nhg") / "store"))
    obs = []
    batches = {1000: [1.0, 2.0], 1100: [4.0], 1200: [8.0, 16.0], 1300: [2.0]}
    for t, vs in batches.items():
        obs += [("lat", {"app": "x"}, t, float(v)) for v in vs]
    snaps = nh.observe_histograms(_obs_df(spark, obs))
    db.insert_histograms(nh.accumulate_histograms(snaps).select(
        F.lit("lat").alias("metric"), "labels", "ts", "hist"))
    return db


def test_grid_hist_instant_matches_per_point_instant(grid_tsdb):
    rel = grid_tsdb.query_hist_rows("lat", None, 0, 10**10)
    grid = nh.grid_hist_instant(rel, 1000, 1300, 100).collect()
    by_t = {r["ts"]: r["hist"] for r in grid}
    assert sorted(by_t) == [1000, 1100, 1200, 1300]
    for t in by_t:
        one = nh.hist_instant(rel, t, 300).collect()[0]["hist"]
        assert by_t[t] == one, t


def _hist_samples(rel):
    """The rows of a hist relation as plain dicts: ts, labels and the
    histogram's fields, bucket maps as dicts."""
    out = []
    for r in rel.collect():
        h = r["hist"].asDict()
        h["pos"], h["neg"] = dict(h["pos"] or {}), dict(h["neg"] or {})
        out.append({"ts": r["ts"], "labels": dict(r["labels"]), **h})
    return out


def _ref_hist_window(samples, mode):
    """Reference increase / rate / delta of one series over one window's
    samples (uniform schema), or None when the window yields no row.

    The first sample is the baseline; every later one is a step from its
    predecessor.  In the counter modes a step resets iff count or
    zero_count drops or any bucket of the previous sample shrinks or
    vanishes, and a reset step counts as the new sample verbatim; delta
    never resets, so its steps telescope to last − first.  Zero bucket
    totals are dropped, rate divides by the observed span (last ts −
    first ts, which must be positive), and the zero threshold is the
    largest in the window, the baseline's included."""
    samples = sorted(samples, key=lambda h: h["ts"])
    if len(samples) < 2:
        return None
    span = samples[-1]["ts"] - samples[0]["ts"]
    if mode == "rate" and span <= 0:
        return None
    out = {"count": 0.0, "sum": 0.0, "zero_count": 0.0, "pos": {}, "neg": {}}
    for prev, cur in zip(samples, samples[1:]):
        reset = mode != "delta" and (
            cur["count"] < prev["count"]
            or cur["zero_count"] < prev["zero_count"]
            or any(cur[f].get(k, 0.0) < v
                   for f in ("pos", "neg") for k, v in prev[f].items()))
        for k in ("count", "sum", "zero_count"):
            out[k] += cur[k] if reset else cur[k] - prev[k]
        for f in ("pos", "neg"):
            keys = set(cur[f]) | (set(prev[f]) if mode == "delta" else set())
            for k in keys:
                base = 0.0 if reset else prev[f].get(k, 0.0)
                out[f][k] = out[f].get(k, 0.0) + cur[f].get(k, 0.0) - base
    div = float(span) if mode == "rate" else 1.0
    for k in ("count", "sum", "zero_count"):
        out[k] /= div
    for f in ("pos", "neg"):
        out[f] = {k: v / div for k, v in out[f].items() if v != 0}
    out["zero_threshold"] = max(h["zero_threshold"] for h in samples)
    out["schema"] = samples[0]["schema"]
    return out


def _assert_hist_matches(got, ref, where):
    for k in ("count", "sum", "zero_count"):
        assert got[k] == pytest.approx(ref[k]), (where, k)
    for f in ("pos", "neg"):
        assert dict(got[f]) == pytest.approx(ref[f]), (where, f)
    assert got["zero_threshold"] == ref["zero_threshold"], where
    assert got["schema"] == ref["schema"], where


def test_grid_hist_rate_matches_whole_range_rate_per_point(grid_tsdb):
    """grid rate at eval point t == hist_rate over (t-w, t] == the
    plain-Python reference over that window's samples — on a
    uniform-schema series the grid lowering is bit-equal to per-point
    evaluation (a mixed-schema series is normalized to its coarsest
    schema over the whole grid range instead)."""
    rel = grid_tsdb.query_hist_rows("lat", None, 0, 10**10)
    samples = _hist_samples(rel)
    w = 250
    grid = {r["ts"]: r["hist"]
            for r in nh.grid_hist_rate(rel, 1100, 1300, w, 100).collect()}
    expected = {}
    for t in (1100, 1200, 1300):
        expected[t] = _ref_hist_window(
            [h for h in samples if t - w < h["ts"] <= t], "rate")
        whole = nh.hist_rate(rel, t - w + 1, t).collect()
        if not whole:
            assert t not in grid
            assert expected[t] is None, t
            continue
        ref = whole[0]["hist"]
        got = grid[t]
        assert got["count"] == pytest.approx(ref["count"]), t
        assert got["sum"] == pytest.approx(ref["sum"]), t
        assert dict(got["pos"]) == pytest.approx(dict(ref["pos"])), t
        assert got["zero_threshold"] == ref["zero_threshold"], t
        assert got["schema"] == ref["schema"], t
        _assert_hist_matches(ref, expected[t], ("hist_rate", t))
        _assert_hist_matches(got, expected[t], ("grid_hist_rate", t))
    assert set(grid) == {t for t, ref in expected.items() if ref is not None}


def _reset_series_rel(spark):
    """A counter histogram series with every kind of reset — a bucket
    that shrinks while count grows (400), a zero_count drop (500), a
    count drop (600) and a vanished negative bucket (900) — zero
    thresholds that widen and narrow, and a one-sample series beside it
    that never yields a row."""
    tiny = nh.DEFAULT_ZERO_THRESHOLD

    def h(zt, zero, pos, neg, total):
        return {"count": zero + sum(pos.values()) + sum(neg.values()),
                "sum": total, "zero_count": zero, "zero_threshold": zt,
                "schema": nh.DEFAULT_SCHEMA, "pos": pos, "neg": neg}

    rows = [("r", {"s": "r"}, ts, h(*spec)) for ts, spec in (
        (100, (tiny, 1.0, {1: 2.0, 2: 1.0}, {1: 1.0}, 5.0)),
        (200, (0.5, 2.0, {1: 3.0, 2: 2.0}, {1: 1.0}, 9.5)),
        (300, (tiny, 2.0, {1: 3.0, 2: 4.0, 3: 1.0}, {1: 2.0}, 20.25)),
        (400, (tiny, 3.0, {1: 1.0, 2: 6.0, 3: 3.0}, {1: 2.0}, 30.0)),
        (500, (tiny, 1.0, {1: 2.0, 2: 7.0, 3: 4.0}, {1: 3.0}, 41.5)),
        (600, (tiny, 0.0, {2: 1.0}, {}, 1.25)),
        (700, (0.25, 1.0, {2: 2.0, 4: 1.0}, {2: 1.0}, 6.0)),
        (800, (tiny, 1.0, {2: 4.0, 4: 1.0}, {2: 1.0}, 9.0)),
        (900, (tiny, 1.0, {2: 5.0, 4: 2.0}, {}, 14.0)),
        (1000, (tiny, 2.0, {2: 6.0, 4: 2.0, 5: 1.0}, {3: 1.0}, 20.0)),
    )]
    rows.append(("r", {"s": "one"}, 500, h(tiny, 1.0, {1: 1.0}, {}, 1.0)))
    return spark.createDataFrame(rows, nh.HIST_ROW_SCHEMA).select(
        F.map_concat(F.create_map(F.lit("__name__"), F.col("metric")),
                     F.col("labels")).alias("labels"), "ts", "hist")


@pytest.mark.parametrize("mode", ["rate", "increase", "delta"])
def test_grid_hist_rate_matches_python_reference_across_resets(spark, mode):
    """grid_hist_rate on a multi-point grid, and the single-window hist
    function of the same mode (the one-point grid), equal the plain-Python
    reference window by window over a series whose windows span every
    kind of reset, and the single-window form keeps its output schema.
    A window's baseline sample is no step of its own, but its zero
    threshold still widens the result's (Prometheus Sub takes the larger
    threshold): (150, 500] holds 0.5 only at its baseline, 200."""
    rel = _reset_series_rel(spark)
    samples = _hist_samples(rel)
    w = 350
    got = {(r["labels"]["s"], r["ts"]): r["hist"]
           for r in nh.grid_hist_rate(rel, 100, 1000, w, 100, mode).collect()}
    expected = {}
    for s in ("r", "one"):
        for t in range(100, 1001, 100):
            ref = _ref_hist_window(
                [h for h in samples
                 if h["labels"]["s"] == s and t - w < h["ts"] <= t], mode)
            if ref is not None:
                expected[(s, t)] = ref
    assert set(got) == set(expected)
    assert sum(1 for s, _ in expected if s == "r") == 9
    for key, ref in expected.items():
        _assert_hist_matches(got[key], ref, (mode, key))
    assert got[("r", 500)]["zero_threshold"] == 0.5
    single = {"rate": nh.hist_rate, "increase": nh.hist_increase,
              "delta": nh.hist_delta}[mode]
    hist_schema = (
        "struct<series_key:bigint,labels:map<string,string>,ts:bigint,"
        "hist:struct<count:double,sum:double,zero_count:double,"
        "zero_threshold:double,schema:int,pos:map<int,double>,"
        "neg:map<int,double>>>")
    assert single(rel, 1, 1000).schema.simpleString() == hist_schema
    for t in (500, 1000):
        out = {r["labels"]["s"]: r for r in single(rel, t - w + 1, t).collect()}
        assert set(out) == {"r"}, t
        assert out["r"]["ts"] == t
        _assert_hist_matches(out["r"]["hist"], expected[("r", t)], (mode, t))
    whole = single(rel, 1, 1000).collect()
    assert len(whole) == 1
    _assert_hist_matches(whole[0]["hist"], _ref_hist_window(
        [h for h in samples if h["labels"]["s"] == "r"], mode), (mode, "whole"))


def test_promql_range_histogram_quantile_of_rate(grid_tsdb):
    out = grid_tsdb.promql_range(
        "histogram_quantile(0.5, rate(lat[201s]))", 1100, 1300, 100).collect()
    by_t = {r["ts"]: r["value"] for r in out}
    # window (t-201, t]: at 1200 covers samples 1000..1200 -> increases
    # {4.0} and {8.0, 16.0}
    ref = _ref_quantile(_ref_hist([4.0, 8.0, 16.0]), 0.5)
    assert by_t[1200] == pytest.approx(ref)
    assert set(by_t) <= {1100, 1200, 1300}


def test_promql_range_histogram_count_and_sum_by(grid_tsdb):
    out = grid_tsdb.promql_range(
        "histogram_count(sum by (app) (lat))", 1000, 1300, 100).collect()
    by_t = {r["ts"]: r["value"] for r in out}
    assert by_t == {1000: 2.0, 1100: 3.0, 1200: 5.0, 1300: 6.0}


def test_promql_range_top_level_hvector(grid_tsdb):
    out = grid_tsdb.promql_range("lat", 1000, 1200, 100)
    assert "hist" in out.columns
    assert out.count() == 3


def test_promql_alerts_reads_native_histograms(grid_tsdb):
    """An alerting rule over a native-histogram selector runs on the grid
    promql_range answers for the same expression."""
    q = "histogram_count(rate(lat[201s])) > 0"
    ts = sorted(r["ts"] for r in grid_tsdb.promql_range(q, 1100, 1300, 100).collect())
    runs = grid_tsdb.promql_alerts(q, 100, 1100, 1300, 100).collect()
    assert len(ts) >= 2 and len(runs) == 1
    r = runs[0]
    assert (r["active_since"], r["last_active"], r["n_evals"]) == (ts[0], ts[-1], len(ts))
    assert r["firing"] and r["firing_since"] == ts[0] + 100


def test_promql_range_hist_fraction(grid_tsdb):
    out = grid_tsdb.promql_range(
        "histogram_fraction(3.0, 1e9, lat)", 1300, 1300, 100).collect()
    # cumulative at 1300: {1,2,4,8,16,2}; values > 3: {4,8,16} of 6 — the
    # 2-bucket and 1-bucket sit fully below 3.0 at schema 3
    assert out[0]["value"] == pytest.approx(0.5, abs=0.02)


def test_api_payloads_render_histogram_objects(spark):
    """VERBATIM Prometheus HTTP-API golden for native-histogram results:
    the result-formats spec's ``histogram``/``histograms`` fields with
    [boundary_rule, lower, upper, count] buckets in value order (1 =
    open-right negative, 3 = closed-both zero, 0 = open-left positive)."""
    import json

    from mandodb_spark.functions.promql_parser import (
        api_success, to_api_matrix, to_api_vector)

    rows = [
        ("m", {"app": "x"}, 100,
         {"count": 6.0, "sum": 7.5, "zero_count": 1.0,
          "zero_threshold": 0.5, "schema": 0,
          "pos": {1: 2.0, 2: 1.0}, "neg": {1: 2.0}}),
        ("m", {"app": "x"}, 200,
         {"count": 7.0, "sum": 9.5, "zero_count": 1.0,
          "zero_threshold": 0.5, "schema": 0,
          "pos": {1: 2.0, 2: 2.0}, "neg": {1: 2.0}}),
    ]
    df = spark.createDataFrame(rows, nh.HIST_ROW_SCHEMA).select(
        F.map_concat(F.create_map(F.lit("__name__"), F.col("metric")),
                     F.col("labels")).alias("labels"),
        "ts", "hist")
    hobj = {
        "count": "6", "sum": "7.5",
        "buckets": [[1, "-2", "-1", "2"], [3, "-0.5", "0.5", "1"],
                    [0, "1", "2", "2"], [0, "2", "4", "1"]],
    }
    hobj2 = {
        "count": "7", "sum": "9.5",
        "buckets": [[1, "-2", "-1", "2"], [3, "-0.5", "0.5", "1"],
                    [0, "1", "2", "2"], [0, "2", "4", "2"]],
    }
    vec = to_api_vector(df.filter("ts = 100"), at_ts=100)
    golden_vec = {
        "status": "success",
        "data": {"resultType": "vector", "result": [
            {"metric": {"__name__": "m", "app": "x"},
             "histogram": [100, hobj]}]},
    }
    assert json.loads(json.dumps(api_success(vec))) == golden_vec
    mat = to_api_matrix(df)
    golden_mat = {
        "resultType": "matrix",
        "result": [{"metric": {"__name__": "m", "app": "x"},
                    "histograms": [[100, hobj], [200, hobj2]]}],
    }
    assert json.loads(json.dumps(mat)) == golden_mat


# --------------------------------------------------------------------------
# exposition wire codec (spans + deltas <-> sparse maps)
# --------------------------------------------------------------------------

def test_spans_decode_known_example(spark):
    """Buckets at idx {0,1,5}: spans [(0,2),(3,1)] — second span skips
    indices 2,3,4 — deltas [2,1,-2] decode to counts [2,3,1]."""
    df = spark.createDataFrame(
        [([(0, 2), (3, 1)], [2, 1, -2])],
        "spans array<struct<offset:int,length:int>>, deltas array<bigint>")
    out = df.select(nh.spans_to_buckets(
        F.col("spans"), F.col("deltas")).alias("m")).collect()[0]["m"]
    assert dict(out) == {0: 2.0, 1: 3.0, 5: 1.0}


def test_spans_negative_first_offset(spark):
    """First span offset may be negative (buckets below index 0 — values
    under 1.0)."""
    df = spark.createDataFrame(
        [([(-3, 2)], [4, -1])],
        "spans array<struct<offset:int,length:int>>, deltas array<bigint>")
    out = df.select(nh.spans_to_buckets(
        F.col("spans"), F.col("deltas")).alias("m")).collect()[0]["m"]
    assert dict(out) == {-3: 4.0, -2: 3.0}


def test_span_codec_round_trip_randomized(spark):
    """map -> spans -> map is the identity over 60 seeded random sparse
    bucket maps (one batched Spark job), and the span encoding is
    canonical: consecutive indices share a span."""
    import random

    rng = random.Random(907)
    maps = []
    for _ in range(60):
        idxs = sorted(rng.sample(range(-20, 40), rng.randint(1, 12)))
        maps.append({i: float(rng.randint(1, 9)) for i in idxs})
    df = spark.createDataFrame([(m,) for m in maps], "m map<int,double>")
    enc = df.select("m", nh.buckets_to_spans(F.col("m")).alias("enc"))
    dec = enc.select(
        "m", "enc",
        nh.spans_to_buckets(F.col("enc.spans"),
                            F.col("enc.deltas")).alias("back"))
    for r in dec.collect():
        assert dict(r["back"]) == dict(r["m"])
        # canonical run-length form: sum of lengths == bucket count and
        # every span is non-empty
        assert sum(s["length"] for s in r["enc"]["spans"]) == len(r["m"])
        assert all(s["length"] >= 1 for s in r["enc"]["spans"])


def test_exposition_ingest_end_to_end(spark, tmp_path):
    """Protobuf-shaped scrape rows decode, store, and answer PromQL."""
    from mandodb_spark import TSDB

    wire_schema = (
        "metric string, labels map<string,string>, ts long, count long, "
        "sum double, zero_count long, zero_threshold double, schema int, "
        "pos_spans array<struct<offset:int,length:int>>, "
        "pos_deltas array<bigint>, "
        "neg_spans array<struct<offset:int,length:int>>, "
        "neg_deltas array<bigint>")
    rows = [
        ("lat", {"app": "w"}, 1000, 3, 5.5, 0, 2.0 ** -128, 0,
         [(1, 2)], [2, -1], [], []),
        ("lat", {"app": "w"}, 1100, 5, 9.5, 0, 2.0 ** -128, 0,
         [(1, 2)], [3, -1], [], []),
    ]
    wire = spark.createDataFrame(rows, wire_schema)
    db = TSDB(spark, str(tmp_path / "store"))
    db.insert_histograms(nh.histograms_from_exposition(wire))
    got = db.promql("histogram_count(lat)", 1100).collect()
    assert got[0]["value"] == 5.0
    rate = db.promql("histogram_quantile(1.0, rate(lat[5m]))", 1100).collect()
    # increase: idx1 2->3 (+1), idx2 1->2 (+1); q=1 -> top bucket upper 4.0
    assert rate[0]["value"] == __import__("pytest").approx(4.0)


def test_streaming_nh_partials_equal_batch_histograms(spark, tmp_path):
    """Stream≡batch dual for the native-histogram maintenance sink
    (``StreamingIngestor(nh_dest=…)``): per-micro-batch PARTIAL window
    histograms, merged at read (hist_merge_partials), equal the
    histograms built from the same rows in one batch — histogram
    addition is associative, so any batch split reconstructs exactly."""
    from mandodb_spark.model import ROW_SCHEMA
    from mandodb_spark.sources.segment_store import SegmentStore
    from mandodb_spark.streaming.ingest import StreamingIngestor

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store_dir, nh_dir = str(tmp_path / "store"), str(tmp_path / "nh")
    rows = [("lat", {"app": "s"}, 1000 + 13 * i, float(1 + (i * 7) % 40))
            for i in range(60)]
    # several source files -> several micro-batches with maxFilesPerTrigger
    df = spark.createDataFrame(rows, ROW_SCHEMA).repartition(4)
    df.write.parquet(src)

    store = SegmentStore(spark, store_dir)
    ing = StreamingIngestor(store, nh_dest=nh_dir, nh_step=300)
    stream = (spark.readStream.schema(ROW_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = ing.start(stream, ckpt)
    q.awaitTermination(120)

    from mandodb_spark.sources.hist_store import HistStore

    stored = HistStore(spark, nh_dir).relation()
    # at least one window must have been split across micro-batches,
    # otherwise the merge path isn't exercised — partials carry a
    # per-batch __batch__ label (the replay-idempotency stamp), so the
    # split detector groups on the batch-STRIPPED series identity
    base = F.to_json(F.array_sort(F.map_entries(F.map_filter(
        F.col("labels"), lambda k, _: k != F.lit(nh.BATCH_LABEL)))))
    split = (stored.groupBy(base.alias("base"), "ts").count()
             .filter("count > 1").count())
    assert split > 0
    # every stored partial is batch-stamped
    assert stored.filter(
        ~F.map_contains_key(F.col("labels"), nh.BATCH_LABEL)).count() == 0
    merged = {r["ts"]: r["hist"]
              for r in nh.hist_merge_partials(stored).collect()}

    batch_rows = [(m, l, (t // 300) * 300, v) for m, l, t, v in rows]
    ref = {r["ts"]: r["hist"]
           for r in nh.observe_histograms(
               spark.createDataFrame(batch_rows, ROW_SCHEMA)).collect()}
    assert set(merged) == set(ref)
    for t in ref:
        assert merged[t]["count"] == ref[t]["count"], t
        assert merged[t]["sum"] == __import__("pytest").approx(ref[t]["sum"]), t
        assert dict(merged[t]["pos"]) == dict(ref[t]["pos"]), t


def test_nh_rollup_is_lossless_for_quantiles(spark, tmp_path):
    """The downsampled histogram tier preserves quantiles EXACTLY for
    step-aligned ranges (bucket merge is exact) — float downsampling
    can't make that promise.  Also pins the incremental watermark
    refresh path."""
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"))
    # fine 100s windows across two coarse 600s windows
    obs = [("lat", {"app": "r"}, 1000 + 100 * i, float(v))
           for i, vs in enumerate([[1.0, 2.0], [4.0], [8.0], [16.0],
                                   [32.0], [64.0], [1.5], [3.5]])
           for v in vs]
    snaps = nh.observe_histograms(_obs_df(spark, obs))
    db.insert_histograms(snaps.select(F.lit("lat").alias("metric"),
                                      "labels", "ts", "hist"))
    dest = str(tmp_path / "nh_rollup")
    db.materialize_nh_rollup(dest, step=600)
    rolled = db.nh_rollup_relation(dest)
    # 8 fine windows collapse into 2 coarse ones
    assert rolled.count() == 2
    assert db.hist_store.relation().count() == 8
    # quantile over the rollup == quantile over raw for the aligned range
    for q in (0.25, 0.5, 0.9):
        raw_all = nh.hist_sum_by(
            db.query_hist_rows("lat", None, 0, 10**10), None, group_ts=False)
        roll_all = nh.hist_sum_by(rolled, None, group_ts=False)
        a = nh.hist_quantile(raw_all.withColumn("ts", F.lit(0)), q).collect()
        b = nh.hist_quantile(roll_all.withColumn("ts", F.lit(0)), q).collect()
        assert a[0]["value"] == b[0]["value"], q
    # incremental refresh: append a late window, refresh from watermark
    late = [("lat", {"app": "r"}, 2100, 99.0)]
    late_snaps = nh.observe_histograms(_obs_df(spark, late))
    db.insert_histograms(late_snaps.select(F.lit("lat").alias("metric"),
                                           "labels", "ts", "hist"))
    db.materialize_nh_rollup(dest, step=600, incremental=True)
    total = nh.hist_sum_by(db.nh_rollup_relation(dest), None,
                           group_ts=False).collect()[0]["hist"]["count"]
    assert total == float(len(obs) + 1)


# --------------------------------------------------------------------------
# histogram arithmetic (binops) and avg aggregation
# --------------------------------------------------------------------------

def test_promql_hist_scalar_mul_div(hist_tsdb):
    base = {r["labels"]["app"]: r["hist"]
            for r in hist_tsdb.promql("lat", 1000).collect()}
    doubled = {r["labels"]["app"]: r["hist"]
               for r in hist_tsdb.promql("lat * 2", 1000).collect()}
    for app, h in base.items():
        d = doubled[app]
        assert d["count"] == 2 * h["count"]
        assert dict(d["pos"]) == {k: 2 * v for k, v in dict(h["pos"]).items()}
    halved = hist_tsdb.promql('lat{app="y"} / 2', 1000).collect()[0]["hist"]
    assert halved["count"] == 0.5


def test_promql_hist_avg_agg(hist_tsdb):
    """avg(lat) = sum(lat) / n element-wise; quantile over avg equals
    quantile over sum (scale-invariant)."""
    qs = hist_tsdb.promql(
        "histogram_quantile(0.5, sum by (__name__) (lat))", 1000
    ).collect()[0]["value"]
    qa = hist_tsdb.promql(
        "histogram_quantile(0.5, avg by (__name__) (lat))", 1000
    ).collect()[0]["value"]
    assert qa == pytest.approx(qs)
    ca = hist_tsdb.promql(
        "histogram_count(avg by (__name__) (lat))", 1000).collect()[0]["value"]
    assert ca == pytest.approx(5.0 / 2)  # (4 + 1) obs over 2 series


def test_promql_hist_add_sub(hist_tsdb):
    """h + h matches one-to-one on full labels (name dropped): lat + lat
    doubles every series; h - h yields all-zero components."""
    base = {r["labels"]["app"]: r["hist"]
            for r in hist_tsdb.promql("lat", 1000).collect()}
    added = {r["labels"]["app"]: r["hist"]
             for r in hist_tsdb.promql("lat + lat", 1000).collect()}
    assert set(added) == set(base)
    for app in base:
        assert added[app]["count"] == 2 * base[app]["count"]
        assert "__name__" not in added  # arithmetic drops the metric name
    diff = hist_tsdb.promql("lat - lat", 1000).collect()
    for r in diff:
        assert r["hist"]["count"] == 0.0
        assert r["hist"]["sum"] == 0.0


def test_promql_hist_binop_undefined_shapes_error(hist_tsdb):
    from mandodb_spark.functions.promql_parser import PromqlError

    for q in ("lat + 1", "lat * lat", "2 / lat", "lat + cpu"):
        with pytest.raises(PromqlError):
            hist_tsdb.promql(q, 1000).collect()


def test_promql_range_hist_scale_and_quantile(grid_tsdb):
    """Range mode: scaling a histogram doesn't move its quantiles."""
    a = {r["ts"]: r["value"] for r in grid_tsdb.promql_range(
        "histogram_quantile(0.5, lat)", 1000, 1300, 100).collect()}
    b = {r["ts"]: r["value"] for r in grid_tsdb.promql_range(
        "histogram_quantile(0.5, lat * 3)", 1000, 1300, 100).collect()}
    assert a == b and len(a) == 4


# --------------------------------------------------------------------------
# distribution drift + OTLP interop
# --------------------------------------------------------------------------

def test_tv_distance_known_values(spark):
    """TV distance per matched series: identical shapes -> 0, disjoint
    shapes -> 1, half-moved mass -> 0.5; one-sided series drop (inner)."""
    def rel(app_values):
        rows = [("m", {"app": a}, 100, float(v))
                for a, vs in app_values for v in vs]
        return nh.observe_histograms(_obs_df(spark, rows))

    lhs = rel([("same", [1.0, 4.0]), ("disjoint", [1.0, 1.0]),
               ("half", [1.0, 1.0]), ("only_left", [2.0])])
    rhs = rel([("same", [1.0, 4.0]), ("disjoint", [64.0, 64.0]),
               ("half", [1.0, 64.0])])
    got = {r["labels"]["app"]: r["value"]
           for r in nh.hist_tv_distance(lhs, rhs).collect()}
    assert got.keys() == {"same", "disjoint", "half"}
    assert got["same"] == pytest.approx(0.0)
    assert got["disjoint"] == pytest.approx(1.0)
    assert got["half"] == pytest.approx(0.5)


def test_tv_distance_mixed_schemas(spark):
    """Sides at different resolutions align to the coarser schema before
    differencing: same data observed at schema 3 and schema 1 -> TV 0."""
    rows = [("m", {"app": "x"}, 100, float(v)) for v in (1.3, 2.7, 9.1)]
    a = nh.observe_histograms(_obs_df(spark, rows), schema=3)
    b = nh.observe_histograms(_obs_df(spark, rows), schema=1)
    got = nh.hist_tv_distance(a, b).collect()
    assert got[0]["value"] == pytest.approx(0.0)


def test_otlp_decode_matches_observe(spark):
    """An OTLP exponential data point decodes to the same histogram the
    observe path builds: OTel index i covers (base^i, base^(i+1)] so the
    dense array at offset lands one idx up."""
    vals = [1.3, 2.7, 3.1]
    ref = _ref_hist(vals, schema=2)
    idxs = sorted(ref["pos"])
    offset = idxs[0] - 1  # otel index of the first populated bucket
    dense = [int(ref["pos"].get(i + 1, 0))
             for i in range(offset, idxs[-1])]
    otlp_schema = (
        "metric string, labels map<string,string>, ts long, count long, "
        "sum double, zero_count long, zero_threshold double, scale int, "
        "pos_offset int, pos_counts array<bigint>, "
        "neg_offset int, neg_counts array<bigint>")
    wire = spark.createDataFrame(
        [("m", {}, 100, len(vals), sum(vals), 0, 2.0 ** -128, 2,
          offset, dense, 0, [])], otlp_schema)
    h = nh.histograms_from_otlp(wire).collect()[0]["hist"]
    assert dict(h["pos"]) == {k: float(v) for k, v in ref["pos"].items()}
    assert h["count"] == float(len(vals))
    assert h["schema"] == 2


def test_delete_hist_series_and_view(spark, tmp_path):
    """Targeted deletion rewrites only touched segments of the hist store;
    create_views exposes the histogram relation to SQL."""
    from mandodb_spark import TSDB, LabelMatcher

    db = TSDB(spark, str(tmp_path / "store"))
    rows = [("lat", {"app": a}, 100, float(v))
            for a, v in (("x", 1.0), ("x", 2.0), ("y", 3.0))]
    snaps = nh.observe_histograms(_obs_df(spark, rows))
    db.insert_histograms(snaps.select(F.lit("lat").alias("metric"),
                                      "labels", "ts", "hist"))
    removed = db.delete_hist_series([LabelMatcher("app", "x")])
    assert removed == 1  # one sample row (x's two obs folded into it)
    left = db.query_hist_rows("lat", None, 0, 10**10).collect()
    assert [r["labels"]["app"] for r in left] == ["y"]

    db.create_views("h9")
    got = spark.sql(
        "SELECT labels['app'] AS app, hist.count AS n FROM h9_histograms"
    ).collect()
    assert [(r["app"], r["n"]) for r in got] == [("y", 1.0)]


def test_promql_record_persists_histogram_rule(spark, tmp_path):
    """A recording rule whose expression is histogram-valued persists into
    the hist store and answers PromQL under the rule name."""
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"))
    obs = [("lat", {"app": "x"}, t, float(v))
           for t, vs in ((1000, [1.0, 2.0]), (1100, [8.0])) for v in vs]
    cum = nh.accumulate_histograms(nh.observe_histograms(_obs_df(spark, obs)))
    db.insert_histograms(cum.select(F.lit("lat").alias("metric"),
                                    "labels", "ts", "hist"))
    db.promql_record("rule:lat:sum", "sum by (app) (lat)", 1000, 1100, 100)
    got = db.promql("histogram_count(rule:lat:sum)", 1100).collect()
    assert got[0]["value"] == 3.0


def test_streaming_histogram_recording_rule(spark, tmp_path):
    """RecordingRuleMaintainer with a HISTOGRAM-valued rule: continuous
    evaluation records into the hist store, retries are idempotent
    (first-write-wins), and a restarted maintainer recovers its
    high-water mark from the hist store itself."""
    from mandodb_spark import TSDB
    from mandodb_spark.streaming.rules import RecordingRuleMaintainer

    db = TSDB(spark, str(tmp_path / "store"))

    history = []

    def ingest(batches):
        """Append observations, re-derive the CUMULATIVE samples for just
        the new timestamps (counters continue the series), store them."""
        new_ts = [t for t, _ in batches]
        history.extend(("lat", {"app": "x"}, t, float(v))
                       for t, vs in batches for v in vs)
        cum = nh.accumulate_histograms(
            nh.observe_histograms(_obs_df(spark, history)))
        db.insert_histograms(
            cum.filter(F.col("ts").isin(new_ts)).select(
                F.lit("lat").alias("metric"), "labels", "ts", "hist"))
        return _obs_df(spark, [r for r in history if r[2] in new_ts])

    m = RecordingRuleMaintainer(db, "rule:lat:byapp",
                                "sum by (app) (lat)", step=100)
    b1 = ingest([(1000, [1.0]), (1100, [2.0, 4.0])])
    m.process_batch(b1, 0)
    # cold start: only the newest aligned point evaluates (documented)
    assert m.hwm == 1100 and m.totals["points"] == 1
    # retry the same batch: first-write-wins, nothing duplicated
    m.process_batch(b1, 0)
    rec = db.query_hist_rows("rule:lat:byapp", None, 0, 10**10)
    assert rec.count() == 1
    assert rec.groupBy("series_key", "ts").count().filter("count > 1").count() == 0

    # restart: a FRESH maintainer recovers hwm=1100 from the hist store
    m2 = RecordingRuleMaintainer(db, "rule:lat:byapp",
                                 "sum by (app) (lat)", step=100)
    b2 = ingest([(1200, [8.0])])
    m2.process_batch(b2, 1)
    assert m2.hwm == 1200
    got = {r["ts"]: r["hist"]["count"]
           for r in db.query_hist_rows("rule:lat:byapp", None, 0, 10**10).collect()}
    assert got == {1100: 3.0, 1200: 4.0}


# --------------------------------------------------------------------------
# round-9 review regressions
# --------------------------------------------------------------------------

def test_instant_sum_merges_across_raw_sample_timestamps(spark, tmp_path):
    """Instant sum()/avg() must merge series whose newest samples sit at
    DIFFERENT raw timestamps within the lookback window — grouping may
    not split on the stale ts (review finding: _eval_agg lacked the
    eval-time re-stamp _hist_binop has)."""
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"))
    obs = [("lat", {"app": "a"}, 980, 1.0), ("lat", {"app": "b"}, 950, 2.0)]
    snaps = nh.observe_histograms(_obs_df(spark, obs))
    db.insert_histograms(snaps.select(F.lit("lat").alias("metric"),
                                      "labels", "ts", "hist"))
    rows = db.promql("histogram_count(sum(lat))", 1000).collect()
    assert len(rows) == 1 and rows[0]["value"] == 2.0
    avg = db.promql("histogram_count(avg(lat))", 1000).collect()
    assert len(avg) == 1 and avg[0]["value"] == 1.0


def test_reset_detected_when_bucket_vanishes(spark):
    """A counter reset where the new total count RECOVERS above the old
    one is detected via the vanished bucket (Prometheus DetectReset
    treats disappearance as a drop): t1 pos={i1:5}, reset, t2 pos={i2:10}
    -> increase is the new sample verbatim (count 10), not a subtraction
    mixing incompatible cumulative states."""
    i1 = _ref_index(2.0, nh.DEFAULT_SCHEMA)
    i2 = _ref_index(8.0, nh.DEFAULT_SCHEMA)
    rows = [
        ("m", {}, 100,
         {"count": 5.0, "sum": 10.0, "zero_count": 0.0,
          "zero_threshold": nh.DEFAULT_ZERO_THRESHOLD,
          "schema": nh.DEFAULT_SCHEMA, "pos": {i1: 5.0}, "neg": {}}),
        ("m", {}, 200,
         {"count": 10.0, "sum": 80.0, "zero_count": 0.0,
          "zero_threshold": nh.DEFAULT_ZERO_THRESHOLD,
          "schema": nh.DEFAULT_SCHEMA, "pos": {i2: 10.0}, "neg": {}}),
    ]
    rel = spark.createDataFrame(rows, nh.HIST_ROW_SCHEMA).select(
        F.map_concat(F.create_map(F.lit("__name__"), F.col("metric")),
                     F.col("labels")).alias("labels"), "ts", "hist")
    h = nh.hist_increase(rel, 0, 1000).collect()[0]["hist"]
    assert h["count"] == 10.0
    assert dict(h["pos"]) == {i2: 10.0}
    # grid path agrees
    g = nh.grid_hist_rate(rel, 200, 200, 150, 50, mode="increase").collect()
    assert g[0]["hist"]["count"] == 10.0


def test_rate_output_composes_with_quantile_directly(spark, tmp_path):
    """The documented public composition hist_quantile(db.hist_rate(...))
    works: counter-math outputs carry ts (review finding)."""
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"))
    obs = [("lat", {}, t, float(v))
           for t, vs in ((100, [2.0]), (200, [4.0, 8.0])) for v in vs]
    cum = nh.accumulate_histograms(nh.observe_histograms(_obs_df(spark, obs)))
    db.insert_histograms(cum.select(F.lit("lat").alias("metric"),
                                    "labels", "ts", "hist"))
    out = nh.hist_quantile(db.hist_rate("lat", None, 0, 1000), 1.0).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(
        2.0 ** (_ref_index(8.0, nh.DEFAULT_SCHEMA) / 8.0))


def test_remove_expires_purges_hist_store_after_restart(spark, tmp_path):
    """Retention reaches a hist store written by a PREVIOUS process
    (review finding: the lazily-created handle was required before)."""
    from mandodb_spark import TSDB
    from mandodb_spark.model import DEFAULT_SEGMENT_DURATION

    path = str(tmp_path / "store")
    db1 = TSDB(spark, path, retention=DEFAULT_SEGMENT_DURATION)
    old_ts, new_ts = 100, 100 + 10 * DEFAULT_SEGMENT_DURATION
    snaps = nh.observe_histograms(
        _obs_df(spark, [("m", {}, t, 1.5) for t in (old_ts, new_ts)]))
    db1.insert_histograms(snaps.select(F.lit("m").alias("metric"),
                                       "labels", "ts", "hist"))
    db2 = TSDB(spark, path, retention=DEFAULT_SEGMENT_DURATION)  # "restart"
    db2.remove_expires(now_ts=new_ts)
    left = db2.query_hist_rows("m", None, 0, 10**10).collect()
    assert [r["ts"] for r in left] == [new_ts]


def test_tv_distance_reduces_to_newest_sample_per_series(spark):
    """A multi-timestamp side reduces to its newest sample per series —
    totals never mix across time (review finding)."""
    old = [("m", {"s": "1"}, 100, v) for v in (1.0, 1.0, 1.0, 1.0)]
    new = [("m", {"s": "1"}, 200, v) for v in (64.0,)]
    lhs = nh.observe_histograms(_obs_df(spark, old + new))  # 2 samples
    rhs = nh.observe_histograms(_obs_df(spark, new))
    got = nh.hist_tv_distance(lhs, rhs).collect()
    # newest lhs sample == rhs -> distance 0 (old sample must not leak in)
    assert got[0]["value"] == pytest.approx(0.0)


def test_delta_vanished_bucket_telescopes(spark):
    """A gauge bucket that fully drains between samples must contribute its
    negative step: {1.5}@100 → {2.5}@200 deltas to {idx(1.5): -1,
    idx(2.5): +1} with count 0 — the bucket sum agrees with the count
    (ADVICE r9: the vanish produced no step row and the -1 went missing)."""
    flat = [("g", {}, 100, 1.5), ("g", {}, 200, 2.5)]
    snaps = nh.observe_histograms(_obs_df(spark, flat))
    h = nh.hist_delta(snaps, 0, 1000).collect()[0]["hist"]
    assert h["count"] == 0.0
    pos = dict(h["pos"])
    assert pos[_ref_index(1.5, nh.DEFAULT_SCHEMA)] == -1.0
    assert pos[_ref_index(2.5, nh.DEFAULT_SCHEMA)] == 1.0
    assert sum(pos.values()) == h["count"]


def test_delta_vanish_then_reappear_cancels(spark):
    """Present → absent → present telescopes to zero net for the bucket."""
    flat = [("g", {}, 100, 1.5), ("g", {}, 200, 2.5), ("g", {}, 300, 1.5)]
    snaps = nh.observe_histograms(_obs_df(spark, flat))
    h = nh.hist_delta(snaps, 0, 1000).collect()[0]["hist"]
    pos = dict(h["pos"] or {})
    # idx(1.5): +0 (baseline) -1 (vanish@200) +1 (reappear@300) = 0 → pruned
    assert _ref_index(1.5, nh.DEFAULT_SCHEMA) not in pos
    # idx(2.5): +1 (@200) -1 (vanish@300) = 0 → pruned
    assert _ref_index(2.5, nh.DEFAULT_SCHEMA) not in pos
    assert h["count"] == 0.0


def test_grid_delta_vanished_bucket(spark):
    """grid_hist_rate(mode='delta') shares the vanish fix: at an eval point
    whose window covers the drain step, the bucket's negative step
    appears."""
    flat = [("g", {}, 100, 1.5), ("g", {}, 200, 2.5)]
    snaps = nh.observe_histograms(_obs_df(spark, flat))
    out = nh.grid_hist_rate(snaps, 200, 200, window=150, step=100,
                            mode="delta").collect()
    assert len(out) == 1
    pos = dict(out[0]["hist"]["pos"])
    assert pos[_ref_index(1.5, nh.DEFAULT_SCHEMA)] == -1.0
    assert pos[_ref_index(2.5, nh.DEFAULT_SCHEMA)] == 1.0


def test_spans_zero_length_span(spark):
    """Zero-length spans are legal gap markers in the exposition protobuf
    and must decode as no-ops (ADVICE r9: F.sequence(start, start-1)
    produced a descending array and desynced the index/delta arrays)."""
    df = spark.createDataFrame(
        [([(0, 1), (3, 0), (2, 2)], [5, -2, 4])],
        "spans array<struct<offset:int,length:int>>, deltas array<bigint>")
    out = df.select(nh.spans_to_buckets(
        F.col("spans"), F.col("deltas")).alias("m")).collect()[0]["m"]
    # span1: idx 0 → 5; span2: pure gap (consumes no deltas); span3:
    # idx 6,7 with delta-decoded counts 3 (=5-2), 7 (=3+4)
    assert dict(out) == {0: 5.0, 6: 3.0, 7: 7.0}


def test_sum_by_widens_zero_threshold(spark):
    """Merging series with different zero thresholds folds buckets inside
    the widened threshold into the zero bucket (Prometheus histogram add):
    a 0.5-observation bucket from the tiny-zt series lands in the 1.0-zt
    group's zero bucket, never overlapping it."""
    a = nh.observe_histograms(
        _obs_df(spark, [("m", {"app": "x", "i": "1"}, 100, 0.5)]))
    b = nh.observe_histograms(
        _obs_df(spark, [("m", {"app": "x", "i": "2"}, 100, 3.0)]),
        zero_threshold=1.0)
    h = nh.hist_sum_by(a.unionByName(b), ["app"]).collect()[0]["hist"]
    assert h["zero_count"] == 1.0  # the 0.5 obs folded in
    assert h["zero_threshold"] >= 0.5
    for idx in (h["pos"] or {}):
        lower = 2.0 ** ((idx - 1) * 2.0 ** -h["schema"])
        assert lower >= h["zero_threshold"] - 1e-12
    assert h["count"] == 2.0


def test_sum_by_straddling_bucket_widens_to_boundary(spark):
    """A populated bucket STRADDLING the group-max threshold widens the
    threshold to that bucket's upper boundary (so the zero bucket always
    ends on a bucket boundary) and folds the bucket."""
    # 0.88's bucket at schema 3 is (0.8409, 0.9170] — it straddles 0.9
    a = nh.observe_histograms(
        _obs_df(spark, [("m", {"app": "x", "i": "1"}, 100, 0.88)]))
    b = nh.observe_histograms(
        _obs_df(spark, [("m", {"app": "x", "i": "2"}, 100, 3.0)]),
        zero_threshold=0.9)
    h = nh.hist_sum_by(a.unionByName(b), ["app"]).collect()[0]["hist"]
    i88 = _ref_index(0.88, nh.DEFAULT_SCHEMA)
    upper88 = 2.0 ** (i88 * 2.0 ** -nh.DEFAULT_SCHEMA)
    assert 0.84 < 2.0 ** ((i88 - 1) * 2.0 ** -nh.DEFAULT_SCHEMA) < 0.9
    assert h["zero_count"] == 1.0
    assert abs(h["zero_threshold"] - upper88) < 1e-12
    assert i88 not in (h["pos"] or {})


def test_merge_partials_strips_batch_label(spark):
    """hist_merge_partials drops the reserved __batch__ replay-idempotency
    label before grouping, so partials from different batches merge."""
    flat = [("m", {nh.BATCH_LABEL: "0"}, 100, 1.5),
            ("m", {nh.BATCH_LABEL: "1"}, 100, 2.5)]
    snaps = nh.observe_histograms(_obs_df(spark, flat))
    out = nh.hist_merge_partials(snaps).collect()
    assert len(out) == 1
    assert nh.BATCH_LABEL not in dict(out[0]["labels"])
    assert out[0]["hist"]["count"] == 2.0


@pytest.mark.parametrize("float_counts", [True, False])
def test_remote_write_histogram_round_trip(spark, float_counts):
    """HIST rows → prompb Histogram messages → HIST rows is the identity,
    in both wire forms: FLOAT (absolute counts) and INTEGER
    (delta-encoded counts) — prometheus/prompb/types.proto, public."""
    flat = [("h", {"i": "1"}, 100, v) for v in (0.5, 1.5, 2.5, -4.0)]
    flat += [("h", {"i": "1"}, 200, v) for v in (1.5, 64.0)]
    hrel = nh.observe_histograms(_obs_df(spark, flat))
    wire = nh.histograms_to_remote_write(hrel, float_counts=float_counts)
    row = wire.collect()[0]
    msgs = row["histograms"]
    assert [m["timestamp"] for m in msgs] == [100_000, 200_000]
    # exactly ONE count form populated, matching the requested wire form
    assert (msgs[0]["count_float"] is None) == (not float_counts)
    assert (msgs[0]["count_int"] is None) == float_counts
    back = {r["ts"]: r for r in
            nh.histograms_from_remote_write(wire).collect()}
    orig = {r["ts"]: r for r in hrel.collect()}
    assert set(back) == set(orig)
    for ts in orig:
        h0, h1 = orig[ts]["hist"], back[ts]["hist"]
        assert back[ts]["metric"] == "h"
        assert dict(back[ts]["labels"]) == {"i": "1"}
        for f in ("count", "sum", "zero_count", "zero_threshold", "schema"):
            assert h1[f] == h0[f]
        assert dict(h1["pos"]) == dict(h0["pos"])
        assert dict(h1["neg"]) == dict(h0["neg"])


def test_remote_write_histogram_decoder_handles_gap_spans(spark):
    """Integer-form messages with zero-length gap spans decode exactly
    like the exposition codec (shared span fold)."""
    from mandodb_spark.sources.loaders import REMOTE_WRITE_TIMESERIES_SCHEMA

    ts_row = (
        [("__name__", "h"), ("job", "x")],
        None,
        [(1000, 5, None, 9.5, 3, 0.001, 1, None,
          [(0, 1), (3, 0), (2, 2)], [2, -1, 1], None,
          None, None, None)],
        None,
    )
    df = spark.createDataFrame([ts_row], REMOTE_WRITE_TIMESERIES_SCHEMA)
    out = nh.histograms_from_remote_write(df).collect()[0]
    assert out["metric"] == "h" and out["ts"] == 1
    assert dict(out["hist"]["pos"]) == {0: 2.0, 6: 1.0, 7: 2.0}
    assert out["hist"]["count"] == 5.0 and out["hist"]["zero_count"] == 1.0


@pytest.fixture(scope="module")
def subq_tsdb(spark):
    """Cumulative hist counter sampled every 100s at ts 100..600."""
    flat = [("h", {"job": "a"}, ts, float(1 + (i * 3) % 5))
            for i, ts in enumerate(range(100, 700, 100))]
    rel = nh.accumulate_histograms(nh.observe_histograms(_obs_df(spark, flat)))
    empty = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")
    return rel.cache(), empty


def test_hist_subquery_rate_matches_range_selector(subq_tsdb):
    """rate(h[500s:100s]) == rate(h[500s]) when the subquery grid hits
    every sample — histogram subqueries (round 10) lower the inner to
    histogram pseudo-samples and run the same counter math."""
    from mandodb_spark.functions.promql_parser import eval_instant

    hist_rel, empty = subq_tsdb
    sub = eval_instant(empty, "rate(h[500s:100s])", 600,
                       hist_rel=hist_rel).collect()
    plain = eval_instant(empty, "rate(h[500s])", 600,
                         hist_rel=hist_rel).collect()
    assert len(sub) == len(plain) == 1
    assert sub[0]["hist"]["count"] == plain[0]["hist"]["count"]
    assert dict(sub[0]["hist"]["pos"]) == dict(plain[0]["hist"]["pos"])
    assert sub[0]["ts"] == 600


def test_hist_subquery_quantile_and_range_mode(subq_tsdb):
    """histogram_quantile over a subquery rate composes (instant), and
    range mode lowers through grid_hist_rate."""
    from mandodb_spark.functions.promql_parser import (
        eval_instant,
        eval_range,
    )

    hist_rel, empty = subq_tsdb
    q = eval_instant(empty, "histogram_quantile(0.5, rate(h[500s:100s]))",
                     600, hist_rel=hist_rel).collect()
    assert len(q) == 1 and q[0]["value"] > 0
    rr = eval_range(empty, "histogram_count(increase(h[300s:100s]))",
                    400, 600, 100, hist_rel=hist_rel).collect()
    assert sorted(r["ts"] for r in rr) == [400, 500, 600]
    # each 300s window spans 3 samples -> increase count = 2 samples' obs
    assert all(r["value"] == 2.0 for r in rr)


def test_hist_subquery_over_time_support_matrix(subq_tsdb):
    """Round 11 lifted the r10 delta: avg/sum/count/last_over_time over
    histogram-valued subqueries are DEFINED (Prometheus semantics);
    everything else (min/max/stddev/...) still raises pointedly."""
    from mandodb_spark.functions.promql_parser import (
        PromqlError,
        eval_instant,
        eval_range,
    )

    hist_rel, empty = subq_tsdb
    # cumulative counter sampled at 100..600: avg over the subquery's
    # pseudo-points is histogram-valued; the component count at step t is
    # the cumulative count t/100 observations
    out = eval_instant(empty, "avg_over_time(h[500s:100s])", 600,
                       hist_rel=hist_rel).collect()
    assert len(out) == 1 and out[0]["hist"]["count"] == \
        sum(range(2, 7)) / 5  # steps 200..600, cum counts 2..6
    cnt = eval_instant(empty, "count_over_time(h[500s:100s])", 600,
                       hist_rel=hist_rel).collect()
    assert [r["value"] for r in cnt] == [5.0]
    with pytest.raises(PromqlError, match="avg/sum/count/last"):
        eval_instant(empty, "max_over_time(h[500s:100s])", 600,
                     hist_rel=hist_rel)
    with pytest.raises(PromqlError, match="avg/sum/count/last"):
        eval_range(empty, "max_over_time(h[300s:100s])", 400, 600, 100,
                   hist_rel=hist_rel)
