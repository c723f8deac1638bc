"""PromQL TEXT front-end: grammar, instant-query evaluation semantics
(vs both hand-computed values and the composed functions/promql calls the
parser lowers to), and the store-backed ``TSDB.promql`` pruning contract.

Reference semantics: prometheus/promql parser + engine (public), e.g.
unary-vs-^ precedence (-2^2 == -4), anchored matcher regexes, comparison
filter-vs-bool, scalar∘vector name dropping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mandodb_spark.functions import promql
from mandodb_spark.functions.promql_parser import (
    PromqlError,
    eval_instant,
    eval_range,
    parse,
    parse_duration,
    time_window,
)

AT = 600


@pytest.fixture(scope="module")
def rel(spark):
    rows = []
    for job, slope in (("api", 10.0), ("db", 5.0)):
        for inst in ("i1", "i2"):
            for k in range(11):  # ts 0, 60, ..., 600
                rows.append((
                    {"__name__": "http_requests_total", "job": job,
                     "instance": inst},
                    k * 60, k * slope))
    for k in range(11):
        rows.append((
            {"__name__": "mem_bytes", "job": "api", "instance": "i1"},
            k * 60, 100.0 + k))
    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double").cache()


def _rows(df):
    return sorted(
        [(tuple(sorted(r["labels"].items())), r["value"]) for r in df.collect()],
        key=str,
    )


def ev(rel, q, at=AT, **kw):
    return _rows(eval_instant(rel, q, at, **kw))


# ------------------------------------------------------------------ grammar

def test_parse_selector_matchers_range_offset():
    ast = parse('http_requests_total{job="api",code=~"5.."}[5m] offset 1m')
    assert ast == ("selector", "http_requests_total",
                   [("job", "=", "api"), ("code", "=~", "5..")], 300, 60, None)
    # @-modifier, either order with offset
    assert parse("m @ 1700000000 offset 1m") == \
        ("selector", "m", [], None, 60, 1_700_000_000)
    assert parse("m offset 1m @ 1700000000") == \
        ("selector", "m", [], None, 60, 1_700_000_000)


def test_parse_agg_by_either_position():
    a = parse("sum by (job) (x)")
    b = parse("sum(x) by (job)")
    assert a == b == ("agg", "sum", ["job"], None, None,
                      ("selector", "x", [], None, 0, None))


def test_parse_without_and_param_aggs():
    assert parse("sum without (instance) (x)")[3] == ["instance"]
    assert parse("topk(3, x)")[4] == ("num", 3.0)
    assert parse('count_values("code", x)')[4] == ("str", "code")


def test_parse_matching_clause():
    ast = parse("x / on(job) group_left(env) y")
    assert ast[4] == {"on": ["job"], "group": "left", "include": ["env"]}
    assert parse("x > bool 100")[4] == {"bool": True}


def test_unary_binds_looser_than_pow():
    # PromQL: -2^2 is -(2^2)
    assert parse("-2^2") == (
        "unary", "-", ("binop", "^", ("num", 2.0), ("num", 2.0), None))


def test_precedence_or_lowest_pow_highest():
    ast = parse("a or b and c")
    assert ast[1] == "or" and ast[3][1] == "and"
    ast = parse("2 * 3 ^ 2")
    assert ast[1] == "*" and ast[3][1] == "^"


def test_parse_duration_compound():
    assert parse_duration("1h30m") == 5400
    assert parse_duration("2d") == 172800
    with pytest.raises(PromqlError):
        parse_duration("90")


@pytest.mark.parametrize("bad", [
    "x[", "sum(", "x{a=}", "{}", "foo bar", 'x{a=~}', "topk(x)"])
def test_parse_errors(bad):
    with pytest.raises(PromqlError):
        parse(bad)


def test_duplicate_modifiers_rejected():
    """Prometheus rejects repeated offset/@ modifiers ('offset may not
    be set multiple times') — last-wins would silently diverge."""
    with pytest.raises(PromqlError, match="offset may not be set"):
        parse("x offset 5m offset 10m")
    with pytest.raises(PromqlError, match="@ may not be set"):
        parse("x @ 100 @ 200")
    # one of each, either order, stays legal
    assert parse("x offset 5m @ 100")
    assert parse("x @ 100 offset 5m")
    assert parse("rate(x[5m] offset 1m @ 100)")


def test_time_window_conservative():
    assert time_window("sum(rate(x[1h] offset 30m))", 10_000) == (4600, 8200)
    assert time_window("x", 10_000, lookback=300) == (9700, 10_000)
    assert time_window("1 + 2", 10_000) == (10_000, 10_000)


# ----------------------------------------------------------------- evaluate

def test_instant_selector_and_matchers(rel):
    got = ev(rel, 'http_requests_total{job="api",instance=~"i."}')
    assert [v for _, v in got] == [100.0, 100.0]
    # != and !~ drop matches; anchoring: "i" alone must not match "i1"
    assert ev(rel, 'http_requests_total{instance=~"i"}') == []
    assert len(ev(rel, 'http_requests_total{instance!="i1"}')) == 2


def test_range_function_and_agg(rel):
    got = ev(rel, "sum by (job) (rate(http_requests_total[5m]))")
    assert got == [((("job", "api"),), pytest.approx(2 / 6)),
                   ((("job", "db"),), pytest.approx(1 / 6))]


def test_agg_without_drops_listed_and_name(rel):
    got = ev(rel, "sum without (instance) (http_requests_total)")
    assert got == [((("job", "api"),), 200.0), ((("job", "db"),), 100.0)]


def test_bare_agg_is_global(rel):
    assert ev(rel, "sum(http_requests_total)") == [((), 300.0)]
    assert ev(rel, "count(http_requests_total)") == [((), 4.0)]


def test_scalar_vector_arithmetic_drops_name(rel):
    got = ev(rel, "mem_bytes + 5")
    assert got == [((("instance", "i1"), ("job", "api")), 115.0)]


def test_comparison_filters_but_bool_maps(rel):
    assert len(ev(rel, "http_requests_total > 60")) == 2
    got = ev(rel, "http_requests_total > bool 60")
    assert sorted(v for _, v in got) == [0.0, 0.0, 1.0, 1.0]
    # plain comparison KEEPS __name__; bool drops it
    keep = eval_instant(rel, "http_requests_total > 60", AT).collect()
    assert all("__name__" in r["labels"] for r in keep)


def test_vector_vector_matching(rel):
    got = ev(rel, 'http_requests_total{job="api"} / on(job, instance) mem_bytes')
    assert got == [((("instance", "i1"), ("job", "api")),
                    pytest.approx(100 / 110))]


def test_group_left_ratio(rel):
    got = ev(rel, "100 * sum by (job)(http_requests_total{instance=\"i1\"})"
                  " / on(job) group_left sum by (job)(http_requests_total)")
    assert got == [((("job", "api"),), 50.0), ((("job", "db"),), 50.0)]


def test_set_ops(rel):
    got = ev(rel, 'http_requests_total{job="api"} and on(instance) mem_bytes')
    assert len(got) == 1 and got[0][1] == 100.0
    got = ev(rel, 'http_requests_total{job="db"} unless on(instance) mem_bytes')
    assert got == [((("__name__", "http_requests_total"), ("instance", "i2"),
                     ("job", "db")), 50.0)]
    both = ev(rel, 'mem_bytes or http_requests_total{job="db"}')
    assert len(both) == 3


def test_over_time_and_quantile_over_time(rel):
    assert ev(rel, "avg_over_time(mem_bytes[10m])")[0][1] == 105.5
    assert ev(rel, "quantile_over_time(0.5, mem_bytes[10m])")[0][1] == 105.5
    # matches the composed Python-API call exactly
    composed = promql.over_time(
        rel.filter(F.col("labels")["__name__"] == "mem_bytes"),
        "avg", AT - 600 + 1, AT, 600)
    assert ev(rel, "avg_over_time(mem_bytes[10m])")[0][1] == \
        composed.collect()[0]["value"]


def test_offset_modifier(rel):
    assert ev(rel, "mem_bytes offset 2m")[0][1] == 108.0


def test_unary_and_scalar_fns(rel):
    assert ev(rel, "-mem_bytes * 2")[0][1] == -220.0
    assert ev(rel, "sqrt(4) + 1") == [((), 3.0)]
    assert ev(rel, "floor(mem_bytes / 100)")[0][1] == 1.0


def test_topk_quantile_count_values(rel):
    got = ev(rel, "topk(2, http_requests_total)")
    assert [v for _, v in got] == [100.0, 100.0]
    assert ev(rel, "quantile(0.5, http_requests_total)") == [((), 75.0)]
    got = ev(rel, 'count_values("v", http_requests_total)')
    assert got == [((("v", "100.0"),), 2.0), ((("v", "50.0"),), 2.0)]


def test_absent_and_absent_over_time(rel):
    assert ev(rel, "absent(nosuch)") == [((("absent", "true"),), 1.0)]
    assert ev(rel, "absent(mem_bytes)") == []
    got = ev(rel, 'absent_over_time(nosuch{zone="eu"}[5m])')
    assert got and dict(got[0][0])["zone"] == "eu"


def test_label_manipulation_and_sort(rel):
    got = ev(rel, 'label_replace(mem_bytes, "zone", "$1", "instance", "(i.)")')
    assert dict(got[0][0])["zone"] == "i1"
    got = ev(rel, 'label_join(mem_bytes, "ji", "-", "job", "instance")')
    assert dict(got[0][0])["ji"] == "api-i1"
    df = eval_instant(rel, 'sort_by_label(http_requests_total, "job")', AT)
    jobs = [r["labels"]["job"] for r in df.collect()]
    assert jobs == sorted(jobs)


def test_calendar_and_time(rel):
    assert ev(rel, "time() * 2") == [((), 1200.0)]
    assert ev(rel, "minute()") == [((), 10.0)]
    got = ev(rel, "hour(timestamp(mem_bytes))")
    assert got[0][1] == 0.0


def test_predict_linear_and_deriv(rel):
    # mem_bytes rises 1 per 60s: predict 600s ahead from t=600 -> 110+10
    assert ev(rel, "predict_linear(mem_bytes[10m], 600)")[0][1] == \
        pytest.approx(120.0)
    assert ev(rel, "deriv(mem_bytes[10m])")[0][1] == pytest.approx(1 / 60)


def test_scalar_only_expression_row(rel):
    assert ev(rel, "2 ^ -1") == [((), 0.5)]
    assert ev(rel, "-2^2") == [((), -4.0)]


def test_eval_errors(rel):
    with pytest.raises(PromqlError):
        eval_instant(rel, "rate(mem_bytes)", AT)          # missing [range]
    with pytest.raises(PromqlError):
        eval_instant(rel, "abs(mem_bytes[5m])", AT)       # matrix arg
    with pytest.raises(PromqlError):
        eval_instant(rel, "nosuchfn(mem_bytes)", AT)
    # a BARE range vector at the top level is legal since round 11
    # (Prometheus matrix result) — 10 samples at 60s spacing in (300,600]
    assert eval_instant(rel, "mem_bytes[5m]", AT).count() == 5


# -------------------------------------------------------------- store-backed

def test_tsdb_promql_prunes_segments(spark, tmp_path):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"), segment_duration=3600)
    rows = [("m", {"j": "a"}, k * 60, float(k)) for k in range(200)]
    db.insert_rows(rows)
    df = db.promql("sum by (j) (rate(m[5m]))", 11_940)
    assert df.collect()[0]["value"] == pytest.approx(1 / 60)
    # the scan must carry a seg partition filter derived from the window
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "seg" in plan
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "(seg" in scan_line and "3" in scan_line  # window lands in seg 3


# ---------------------------------------------- subquery / histogram / scalar

@pytest.fixture(scope="module")
def hrel(spark):
    rows = []
    for job, counts in (("api", {"0.1": 50.0, "0.5": 80.0, "+Inf": 100.0}),
                        ("db", {"0.1": 10.0, "0.5": 70.0, "+Inf": 90.0})):
        for le, c in counts.items():
            rows.append(({"__name__": "lat_bucket", "job": job, "le": le},
                         600, c))
    for k in range(0, 7201, 60):  # counter with constant rate 0.1
        rows.append(({"__name__": "ctr", "job": "api"}, k, k / 10.0))
    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double").cache()


def test_parse_subquery_requires_step():
    ast = parse("max_over_time(rate(x[5m])[1h:10m])")
    assert ast == ("call", "max_over_time",
                   [("subquery", ("call", "rate",
                                  [("selector", "x", [], 300, 0, None)]),
                     3600, 600, 0, None)])
    with pytest.raises(PromqlError):
        parse("max_over_time(rate(x[5m])[1h])")  # missing :step


def test_time_window_subquery_composes_reach():
    assert time_window("max_over_time(rate(x[5m])[1h:10m] offset 30m)",
                       100_000) == (94_300, 98_200)
    # @-fixed selectors pin absolute bounds regardless of eval time
    assert time_window("sum(m @ 2000000000)", 100_000) == \
        (2_000_000_000 - 300, 2_000_000_000)


def test_histogram_quantile_from_le_label(hrel):
    got = ev(hrel, "histogram_quantile(0.5, lat_bucket)")
    vals = {dict(l)["job"]: v for l, v in got}
    # api: q*total=50 lands exactly on the 0.1 bucket boundary;
    # db: target 45 in (0.1, 0.5] -> 0.1 + 0.4*(45-10)/60
    assert vals["api"] == pytest.approx(0.1)
    assert vals["db"] == pytest.approx(0.1 + 0.4 * 35 / 60)
    # +Inf bucket hit returns the highest finite le (promql/quantile.go)
    got = ev(hrel, "histogram_quantile(0.9, lat_bucket)")
    assert all(v == 0.5 for _, v in got)


def test_scalar_and_vector_fns(hrel):
    assert ev(hrel, 'scalar(sum(lat_bucket{job="api",le="+Inf"})) * 2') == \
        [((), 200.0)]
    # scalar() of a multi-sample vector is NaN
    import math
    val = ev(hrel, "scalar(lat_bucket) + 1")[0][1]
    assert math.isnan(val)
    assert ev(hrel, "vector(42)") == [((), 42.0)]


def test_subquery_max_rate(hrel):
    got = ev(hrel, "max_over_time(rate(ctr[10m])[1h:10m])", at=7200)
    assert got == [((("__name__", "ctr"), ("job", "api")),
                    pytest.approx(0.1))]
    # arbitrary inners now lower through the fine-grid range evaluation:
    # sum(ctr) at the aligned points 4200..7200 is t/10, max = 720
    assert ev(hrel, "max_over_time(sum(ctr)[1h:10m])", at=7200) == \
        [((), 720.0)]


# ------------------------------------------------------------- range queries

@pytest.fixture(scope="module")
def rrel(spark):
    rows = []
    for job, slope in (("api", 10.0), ("db", 5.0)):
        for k in range(21):  # ts 0..1200 step 60
            rows.append(({"__name__": "reqs", "job": job}, k * 60, k * slope))
    for k in range(21):
        rows.append(({"__name__": "mem", "job": "api"}, k * 60,
                     100.0 + (k % 3)))
    for t, mult in ((600, 1.0), (1200, 2.0)):
        for le, c in (("0.1", 30.0), ("0.5", 80.0), ("+Inf", 100.0)):
            rows.append(({"__name__": "lat_bucket", "job": "api", "le": le},
                         t, c * mult))
    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double").cache()


def rev(rel, q, s=600, e=1200, st=300, **kw):
    from mandodb_spark.functions.promql_parser import eval_range

    df = eval_range(rel, q, s, e, st, **kw)
    return sorted([(tuple(sorted(r["labels"].items())), r["ts"], r["value"])
                   for r in df.collect()], key=str)


def test_range_instant_selector_grid(rrel):
    got = rev(rrel, 'reqs{job="api"}')
    assert [(t, v) for _, t, v in got] == \
        [(1200, 200.0), (600, 100.0), (900, 150.0)]


def test_range_rate_constant_slope(rrel):
    got = rev(rrel, "sum by (job) (rate(reqs[5m]))")
    by = {(dict(l)["job"], t): v for l, t, v in got}
    assert all(v == pytest.approx(10 / 60) for (j, _), v in by.items()
               if j == "api")
    assert all(v == pytest.approx(5 / 60) for (j, _), v in by.items()
               if j == "db")
    assert len(by) == 6  # 2 jobs x 3 grid points


def test_range_sliding_avg_over_time(rrel):
    got = {t: v for _, t, v in rev(rrel, "avg_over_time(mem[5m])")}
    assert got == {600: pytest.approx(100.8), 900: pytest.approx(101.0),
                   1200: pytest.approx(101.2)}


def test_range_offset_binop(rrel):
    got = {t: v for _, t, v in
           rev(rrel, 'reqs{job="api"} / on(job) reqs{job="api"} offset 5m')}
    assert got == {600: 2.0, 900: 1.5, 1200: pytest.approx(4 / 3)}


def test_range_topk_and_quantile_per_step(rrel):
    got = rev(rrel, "topk(1, reqs)")
    assert all(dict(l)["job"] == "api" for l, _, _ in got) and len(got) == 3
    got = {t: v for _, t, v in rev(rrel, "quantile(0.5, reqs)")}
    assert got == {600: 75.0, 900: 112.5, 1200: 150.0}


def test_range_histogram_quantile_per_step(rrel):
    got = rev(rrel, "histogram_quantile(0.5, lat_bucket)")
    # cum counts double at t=1200 but ratios are unchanged -> same q
    assert len(got) == 3 and all(v == pytest.approx(0.26) for _, _, v in got)


def test_range_bool_cmp_and_set_ops(rrel):
    got = {(dict(l)["job"], t): v
           for l, t, v in rev(rrel, "sum by (job)(reqs) > bool 100")}
    assert got[("api", 600)] == 0.0 and got[("api", 900)] == 1.0
    assert all(v == 0.0 for (j, _), v in got.items() if j == "db")
    kept = rev(rrel, 'mem unless on(job) reqs{job="db"}')
    assert len(kept) == 3  # api-only series survives every step


def test_range_scalar_expression_grid(rrel):
    got = rev(rrel, "2 + 40")
    assert [(t, v) for _, t, v in got] == [(1200, 42.0), (600, 42.0),
                                           (900, 42.0)]


def test_range_unsupported_shapes_raise(rrel):
    from mandodb_spark.functions.promql_parser import eval_range

    # bare subquery at the top level (Prometheus: "invalid expression
    # type range vector") stays rejected
    for q in ("mem[10m:5m]", "rate(mem[2m])[10m:5m]"):
        with pytest.raises(PromqlError):
            eval_range(rrel, q, 600, 1200, 300)
    # NESTED subqueries recurse through the pseudo-sample lowering
    got = rev(rrel, "max_over_time(avg_over_time(mem[4m:2m])[10m:5m])")
    assert sorted(t for _, t, _ in got) == [600, 900, 1200]
    assert all(100.0 <= v <= 102.0 for _, _, v in got)


def test_general_subquery_inners_instant(rel):
    # Arbitrary inner expressions (aggregation over a binop-able vector)
    # lower as ONE fine-grid range evaluation + a per-series aggregate.
    # sum by (job) at k-minutes: api = 20k, db = 10k.
    got = {dict(l)["job"]: v for l, v in
           ev(rel, "max_over_time(sum by (job)(http_requests_total)[4m:1m])")}
    assert got == {"api": 200.0, "db": 100.0}
    got = {dict(l)["job"]: v for l, v in
           ev(rel, "avg_over_time(sum by (job)(http_requests_total)[4m:1m])")}
    assert got == {"api": 170.0, "db": 85.0}
    # rate over a subquery: pseudo-samples feed the ordinary rate
    got = {dict(l)["job"]: v for l, v in
           ev(rel, "rate(sum by (job)(http_requests_total)[4m:1m])")}
    assert got["api"] == pytest.approx(60 / 180) \
        and got["db"] == pytest.approx(30 / 180)
    # quantile_over_time over a subquery
    got = {dict(l)["job"]: v for l, v in
           ev(rel, "quantile_over_time(0.5, "
                   "sum by (job)(http_requests_total)[4m:1m])")}
    assert got == {"api": 170.0, "db": 85.0}


def test_general_subquery_inners_range(rrel):
    # Range mode: the subquery's fine grid covers every outer window;
    # the outer is the normal explode-grid pass over pseudo-samples.
    got = {(dict(l)["job"], t): v for l, t, v in
           rev(rrel, "avg_over_time(sum by (job)(reqs)[10m:5m])")}
    assert got == {("api", 600): 75.0, ("api", 900): 125.0,
                   ("api", 1200): 175.0, ("db", 600): 37.5,
                   ("db", 900): 62.5, ("db", 1200): 87.5}
    # previously-rejected shape: rate of a rate-subquery
    got = rev(rrel, "max_over_time(rate(mem[5m])[10m:5m])")
    assert len(got) > 0


def test_range_sort_is_passthrough(rrel):
    # Prometheus: sort/sort_desc only affect INSTANT query results; in a
    # range query they are a semantic no-op, not an error.
    assert rev(rrel, "sort(mem)") == rev(rrel, "mem")
    assert rev(rrel, "sort_desc(sum by (job)(reqs))") == \
        rev(rrel, "sum by (job)(reqs)")


def test_at_start_end_sugar(rel, rrel):
    from mandodb_spark.functions.promql_parser import parse, unparse

    # parse + unparse round-trip keeps the symbolic form
    ast = parse("reqs @ start()")
    assert ast[5] == "start" and unparse(ast) == "reqs @ start()"
    assert parse("reqs @ end() offset 1m")[5] == "end"
    with pytest.raises(PromqlError):
        parse("reqs @ nonsense()")
    # instant: start() == end() == eval time -> same as the bare selector
    assert ev(rel, "http_requests_total @ start()") == \
        ev(rel, "http_requests_total")
    # range: @ start() pins every grid point to the value at range start,
    # @ end() to range end (PromQL @-modifier: constant across the grid)
    got = {(dict(l)["job"], t): v
           for l, t, v in rev(rrel, "reqs @ start()")}
    assert all(v == 100.0 for (j, _), v in got.items() if j == "api")
    got = {(dict(l)["job"], t): v for l, t, v in rev(rrel, "reqs @ end()")}
    assert all(v == 200.0 for (j, _), v in got.items() if j == "api")
    # time_window resolves the sugar instead of crashing on the sentinel
    from mandodb_spark.functions.promql_parser import time_window
    lo, hi = time_window("reqs @ start()", 600)
    assert (lo, hi) == (300, 600)


def test_tsdb_promql_range_facade(spark, tmp_path):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "rstore"), segment_duration=3600)
    db.insert_rows([("m", {"j": "a"}, k * 60, float(k)) for k in range(200)])
    df = db.promql_range("rate(m[10m])", 7200, 11_400, 600)
    vals = {r["ts"]: r["value"] for r in df.collect()}
    assert len(vals) == 8 and all(v == pytest.approx(1 / 60)
                                  for v in vals.values())
    plan = df._jdf.queryExecution().executedPlan().toString()
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "(seg" in line  # reach-derived pruning hits the scan


# ----------------------------------------------------------------- rules

def test_metric_names_with_colons_lex():
    assert parse('node:cpu:avg5m{node="a"}') == \
        ("selector", "node:cpu:avg5m", [("node", "=", "a")], None, 0, None)
    # subquery colon still lexes as punctuation
    assert parse("max_over_time(rate(x[5m])[1h:10m])")[0] == "call"


def test_promql_alerts_for_duration(spark, tmp_path):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "astore"), segment_duration=3600)
    rows = []
    for k in range(0, 121):  # ts 0..7200 step 60
        t = k * 60
        v = 90.0 if (1800 <= t <= 3600 or 5400 <= t <= 5700) else 10.0
        rows.append(("cpu", {"node": "a"}, t, v))
        rows.append(("cpu", {"node": "b"}, t, 5.0))
    db.insert_rows(rows)
    runs = sorted(db.promql_alerts("cpu > 80", 600, 0, 7200, 300).collect(),
                  key=lambda r: r["active_since"])
    assert len(runs) == 2
    long, short = runs
    assert (long["active_since"], long["last_active"],
            long["firing"], long["firing_since"]) == (1800, 3600, True, 2400)
    assert (short["active_since"], short["firing"],
            short["firing_since"]) == (5400, False, None)
    assert all(r["labels"]["node"] == "a" for r in runs)


def test_promql_record_roundtrip(spark, tmp_path):
    from mandodb_spark import TSDB, LabelMatcher

    db = TSDB(spark, str(tmp_path / "recstore"), segment_duration=3600)
    rows = []
    for k in range(0, 121):
        rows.append(("cpu", {"node": "a"}, k * 60, float(k)))
    db.insert_rows(rows)
    db.promql_record("node:cpu:avg5m", "avg_over_time(cpu[5m])", 0, 7200, 300)
    # recorded series readable via text AND the classic API
    got = db.promql("node:cpu:avg5m", 7200, lookback=600).collect()
    assert len(got) == 1 and got[0]["labels"]["node"] == "a"
    # window (6900, 7200] -> k in 116..120 -> avg 118.0 at the last point
    assert got[0]["value"] == pytest.approx(118.0)
    assert db.query_range("node:cpu:avg5m",
                          [LabelMatcher("node", "a")], 0, 10**10).count() == 1


def test_range_irate_changes_and_absent(rrel):
    # irate from the last two samples of each 5m window: slope 10/60
    got = {t: v for _, t, v in rev(rrel, 'irate(reqs{job="api"}[5m])')}
    assert got == {600: pytest.approx(10 / 60), 900: pytest.approx(10 / 60),
                   1200: pytest.approx(10 / 60)}
    # mem cycles 100,101,102 -> every consecutive pair changes (4 in 5 samples)
    got = {t: v for _, t, v in rev(rrel, "changes(mem[5m])")}
    assert got == {600: 4.0, 900: 4.0, 1200: 4.0}
    # resets: mem drops at each cycle boundary (102 -> 100), once per 5 samples
    got = {t: v for _, t, v in rev(rrel, "resets(mem[5m])")}
    assert all(v >= 1.0 for v in got.values())
    # idelta: last two samples' signed difference
    got = {t: v for _, t, v in rev(rrel, "idelta(mem[5m])")}
    assert set(got.values()) <= {1.0, -2.0}
    # absent: mem exists at every grid point -> empty; nosuch -> every point
    assert rev(rrel, "absent(mem)") == []
    got = rev(rrel, 'absent(nosuch{zone="eu"})')
    assert len(got) == 3 and all(dict(l)["zone"] == "eu" for l, _, _ in got)
    got = rev(rrel, "absent_over_time(nosuch[10m])")
    assert [(t, v) for _, t, v in got] == [(1200, 1.0), (600, 1.0), (900, 1.0)]


def test_at_modifier_instant_and_range(rel, rrel):
    # fixed @ evaluates at ts=300 regardless of query time (mem=105 there)
    assert ev(rel, "mem_bytes @ 300")[0][1] == 105.0
    assert ev(rel, "mem_bytes @ 300 offset 1m")[0][1] == 104.0
    # range fn with @: window pinned to the fixed time
    assert ev(rel, "avg_over_time(mem_bytes[5m] @ 300)", at=600)[0][1] == \
        ev(rel, "avg_over_time(mem_bytes[5m])", at=300)[0][1]
    # range query: @-fixed rhs is constant across the grid (deploy-baseline)
    got = {t: v for _, t, v in
           rev(rrel, 'reqs{job="api"} / on(job) reqs{job="api"} @ 600')}
    assert got == {600: 1.0, 900: 1.5, 1200: 2.0}


def test_range_time_and_stepscalar(rrel):
    # time() is a per-eval-point scalar: uptime-style arithmetic works
    got = rev(rrel, "time() / 300")
    assert [(t, v) for _, t, v in got] == [(1200, 4.0), (600, 2.0), (900, 3.0)]
    # time() - timestamp(m): staleness is 0 when a sample lands on the grid
    got = {t: v for _, t, v in rev(rrel, 'time() - timestamp(mem)')}
    assert got == {600: 0.0, 900: 0.0, 1200: 0.0}
    # argless calendar: minute() per eval point
    got = {t: v for _, t, v in rev(rrel, "minute()")}
    assert got == {600: 10.0, 900: 15.0, 1200: 20.0}
    # stepscalar comparison masks a vector per step (filter semantics)
    got = rev(rrel, "mem > bool time() / 9")
    vals = {t: v for _, t, v in got}
    assert vals[600] == 1.0 and vals[1200] == 0.0  # 102 vs 133.3 at t=1200
    # scalar-vs-stepscalar comparison needs bool, as PromQL requires
    with pytest.raises(PromqlError):
        rev(rrel, "time() > 700")
    assert {t: v for _, t, v in rev(rrel, "time() > bool 700")} == \
        {600: 0.0, 900: 1.0, 1200: 1.0}


# ------------------------------------------------------- round-trip property

from hypothesis import given, settings
from hypothesis import strategies as st

_ident = st.from_regex(r"[a-z_][a-z0-9_]{0,8}", fullmatch=True).filter(
    lambda s: s not in {"sum", "min", "max", "avg", "count", "stddev",
                        "stdvar", "group", "topk", "bottomk", "quantile",
                        "count_values", "by", "without", "on", "ignoring",
                        "group_left", "group_right", "bool", "offset",
                        "and", "or", "unless", "atan2", "limitk",
                        "limit_ratio"})
_lval = st.from_regex(r"[a-zA-Z0-9_.-]{0,10}", fullmatch=True)
_dur = st.integers(min_value=1, max_value=10**6)


def _selector(allow_range):
    rng = st.one_of(st.none(), _dur) if allow_range else st.none()
    return st.builds(
        lambda n, ms, r, off, at: ("selector", n, ms, r, off, at),
        _ident,
        st.lists(st.tuples(_ident, st.sampled_from(["=", "!=", "=~", "!~"]),
                           _lval), max_size=3),
        rng,
        st.integers(min_value=0, max_value=10**6),
        st.one_of(st.none(), st.integers(min_value=0, max_value=2**31),
                  st.sampled_from(["start", "end"])),  # @ start()/end()
    )


def _expr(depth=3):
    leaf = st.one_of(
        _selector(False),
        st.builds(lambda v: ("num", float(v)),
                  st.integers(min_value=0, max_value=10**9)),
    )
    if depth == 0:
        return leaf
    sub = _expr(depth - 1)
    call = st.builds(lambda a: ("call", "rate", [a]), _selector(True)) \
        .filter(lambda n: n[2][0][3] is not None)
    agg = st.builds(
        lambda which, labels, a: ("agg", "sum",
                                  labels if which == "by" else None,
                                  labels if which == "without" else None,
                                  None, a),
        st.sampled_from(["by", "without", "plain"]).map(
            lambda w: "by" if w == "plain" else w),
        st.lists(_ident, max_size=2),
        sub)
    topk = st.builds(lambda k, a: ("agg", "topk", None, None,
                                   ("num", float(k)), a),
                     st.integers(min_value=1, max_value=9), sub)
    matching = st.one_of(
        st.none(),
        st.builds(lambda on, b: {**({"on": on} if on else {}),
                                 **({"bool": True} if b else {})} or None,
                  st.one_of(st.none(), st.lists(_ident, min_size=1,
                                                max_size=2)),
                  st.booleans()),
    )
    binop = st.builds(
        lambda op, l, r, m: ("binop", op, l, r, (dict(m) if m else None)),
        st.sampled_from(["+", "-", "*", "/", "^", ">", "<=", "or",
                         "atan2"]),
        sub, sub, matching,
    )
    unary = st.builds(lambda a: ("unary", "-", a), sub)
    limitk = st.builds(lambda k, a: ("agg", "limitk", None, None,
                                     ("num", float(k)), a),
                       st.integers(min_value=1, max_value=9), sub)
    # subqueries over selectors (bare + modifier forms), calls, and aggs
    subq = st.builds(
        lambda inner, r, step, off: ("subquery", inner, r, step, off, None),
        st.one_of(_selector(False), call, agg),
        _dur, _dur, st.integers(min_value=0, max_value=10**6))
    return st.one_of(leaf, call, agg, topk, limitk, binop, unary, subq)


def _normalize(n):
    """bool on arithmetic ops is dropped by the grammar; strip it from the
    generated AST the way the parser would."""
    if not isinstance(n, tuple):
        return n
    if n[0] == "binop":
        _, op, l, r, m = n
        m = dict(m or {})
        if op not in {"==", "!=", ">", "<", ">=", "<="}:
            m.pop("bool", None)
        return ("binop", op, _normalize(l), _normalize(r), m or None)
    return tuple(_normalize(c) if isinstance(c, tuple)
                 else ([_normalize(x) for x in c] if isinstance(c, list) else c)
                 for c in n)


@settings(max_examples=300, deadline=None)
@given(_expr())
def test_unparse_parse_roundtrip(ast):
    from mandodb_spark.functions.promql_parser import unparse

    ast = _normalize(ast)
    assert parse(unparse(ast)) == ast


def test_promql_store_parity_disk_bucketed_memory(spark, tmp_path):
    """The text surface is store-agnostic: the same samples through the
    disk store and the memory store yield identical promql /
    promql_range / promql_alerts results."""
    from mandodb_spark import TSDB

    rows = [("m", {"j": chr(97 + (k % 3))}, k * 60,
             float(k * (1 + k % 3))) for k in range(120)]
    dbs = [
        TSDB(spark, str(tmp_path / "disk"), segment_duration=3600),
        TSDB(spark, None, segment_duration=3600, only_memory=True),
    ]
    for db in dbs:
        db.insert_rows(rows)

    def snap(db):
        inst = sorted((dict(r["labels"])["j"], round(r["value"], 9))
                      for r in db.promql(
                          "sum by (j) (rate(m[30m]))", 7140).collect())
        rng = sorted((dict(r["labels"])["j"], r["ts"], round(r["value"], 9))
                     for r in db.promql_range(
                         "max by (j) (m)", 3600, 7140, 1800).collect())
        al = sorted((r["active_since"], r["firing"])
                    for r in db.promql_alerts(
                        "m > 100", 1200, 0, 7140, 600).collect())
        return (inst, rng, al)

    base = snap(dbs[0])
    assert base[0] and base[1] and base[2]  # non-trivial results
    assert snap(dbs[1]) == base


@pytest.mark.parametrize("seed", [3, 17, 91])
def test_grid_primitives_equal_batch_at_single_point(spark, seed):
    """Cross-implementation pin: each grid primitive evaluated on a
    one-point grid must equal the corresponding batch function over the
    same window — random sparse series, counter resets included.  The
    single-window range functions ARE their grid primitive on the
    one-point grid {end}, so both are checked against a plain-Python
    reference over the test's own rows, and each keeps its output
    schema."""
    import random
    import statistics

    rng = random.Random(seed)
    rows = []
    for s in range(4):
        v = 0.0
        for k in sorted(rng.sample(range(120), 40)):
            v = v + rng.uniform(0, 5) if rng.random() > 0.1 else rng.uniform(0, 2)
            rows.append(({"__name__": "m", "s": str(s)}, k * 60, round(v, 6)))
    rel = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double").cache()
    t, w = 119 * 60, 3600

    def by_series(df, val="value"):
        return {r["labels"]["s"]: round(r[val], 9) for r in df.collect()}

    g = promql.grid_instant(rel, t, t, 600, lookback=1800)
    b = promql.instant(rel, t, lookback=1800)
    assert by_series(g) == by_series(b)

    # plain-Python reference of the single-window functions over (t-w, t]
    lo, horizon, sf, tf = t - w + 1, 600, 0.5, 0.3
    win: dict = {}
    for labels, ts, v in rows:
        if lo <= ts <= t:
            win.setdefault(labels["s"], []).append((ts, v))

    # over_time is grid_over_time on a window-equals-step grid, so both
    # legs are checked against the reference as well as each other
    over_ref = {"avg": statistics.fmean, "sum": sum, "min": min, "max": max,
                "count": len, "stddev": statistics.pstdev,
                "last": lambda vs: vs[-1]}
    for fn, f in over_ref.items():
        g = promql.grid_over_time(rel, fn, t, t, w, 600)
        b = promql.over_time(rel, fn, t - w + 1, t, w)
        want = {k: f([v for _, v in pts]) for k, pts in win.items()}
        assert by_series(g) == by_series(b), fn
        assert by_series(g) == pytest.approx(want, rel=1e-9, abs=1e-9), fn

    def inc(p, v):
        return v - p if v >= p else v  # a reset restarts at v

    def ref(fn, pts):
        ts, vs = [p[0] for p in pts], [p[1] for p in pts]
        steps = list(zip(vs, vs[1:]))
        if fn == "changes":
            return sum(v != p for p, v in steps)
        if len(pts) < 2:
            return None
        if fn in ("increase", "rate"):
            total = sum(inc(p, v) for p, v in steps)
            return total if fn == "increase" else total / (ts[-1] - ts[0])
        if fn == "delta":
            return vs[-1] - vs[0]
        if fn == "irate":
            return inc(vs[-2], vs[-1]) / (ts[-1] - ts[-2])
        if fn == "idelta":
            return vs[-1] - vs[-2]
        if fn == "holt_winters":
            sp = s_ = vs[0]
            b = vs[1] - vs[0]
            for i, x in enumerate(vs[1:], start=1):
                if i > 1:
                    b = tf * (s_ - sp) + (1 - tf) * b
                sp, s_ = s_, sf * x + (1 - sf) * (s_ + b)
            return s_
        xs = [x - lo for x in ts]
        mx, my = sum(xs) / len(xs), sum(vs) / len(vs)
        slope = (sum((x - mx) * (y - my) for x, y in zip(xs, vs))
                 / sum((x - mx) ** 2 for x in xs))
        if fn == "deriv":
            return slope
        return my - slope * mx + slope * (w - 1 + horizon)  # predict_linear

    batch_rel = rel.filter(F.col("ts").between(lo, t))
    legs = {
        fn: (promql.grid_rate(rel, t, t, w, 600, fn),
             getattr(promql, fn)(batch_rel, lo, t))
        for fn in ("rate", "increase", "delta", "irate", "idelta", "changes")
    }
    legs["deriv"] = (promql.grid_deriv(rel, t, t, w, 600),
                     promql.deriv(batch_rel, lo, t))
    legs["predict_linear"] = (
        promql.grid_deriv(rel, t, t, w, 600, horizon=horizon),
        promql.predict_linear(batch_rel, lo, t, horizon))
    legs["holt_winters"] = (
        promql.grid_holt_winters(rel, t, t, w, 600, sf, tf),
        promql.holt_winters(batch_rel, lo, t, sf, tf))
    for fn, (g, b) in legs.items():
        want = {k: ref(fn, pts) for k, pts in win.items()}
        want = {k: x for k, x in want.items() if x is not None}
        assert len(want) == 4, fn  # every series spans the window
        assert by_series(g) == by_series(b), fn
        assert by_series(g) == pytest.approx(want, rel=1e-9, abs=1e-9), fn
        assert by_series(b) == pytest.approx(want, rel=1e-9, abs=1e-9), fn
        value_type = "bigint" if fn == "changes" else "double"
        assert b.schema.simpleString() == (
            "struct<series_key:bigint,labels:map<string,string>,"
            f"value:{value_type}>"), fn


def test_promql_range_tiered_equals_raw_and_survives_purge(spark, tmp_path):
    """Tiered range queries: on a bucket-aligned grid the rollup-served
    evaluation is BIT-EQUAL to raw evaluation; after raw history below
    the cutover is retention-purged, the tiered query still returns the
    full result (the retention-ladder contract)."""
    from mandodb_spark import TSDB
    from mandodb_spark.functions.promql_parser import PromqlError

    db = TSDB(spark, str(tmp_path / "store"), segment_duration=7200)
    rows = []
    for s in ("a", "b"):
        for k in range(0, 4 * 1440):  # 4 days, minutely
            rows.append(("m", {"j": s}, k * 60,
                         float(k % 97) * (1 if s == "a" else 2)))
    db.insert_rows(rows)
    RS = 3600
    rollup = str(tmp_path / "rollup")
    db.materialize_rollup(rollup, step=RS)
    END = 4 * 86400 - 1          # == RS-1 (mod RS): bucket-aligned
    START = END - 2 * 86400
    CUT = 3 * 86400

    q = "sum by (j) (sum_over_time(m[1d]))"

    def snap(df):
        return sorted((dict(r["labels"])["j"], r["ts"], r["value"])
                      for r in df.collect())

    tiered = snap(db.promql_range_tiered(q, START, END, 86400, rollup,
                                         RS, CUT))
    raw = snap(db.promql_range(q, START, END, 86400))
    assert tiered == raw and tiered

    dropped = db.remove_expires(now_ts=CUT + db.retention)
    assert dropped  # raw history below the cutover is actually gone
    again = snap(db.promql_range_tiered(q, START, END, 86400, rollup,
                                        RS, CUT))
    assert again == tiered

    # avg merges as sum-of-sums / sum-of-counts (not avg-of-avgs)
    avg_rows = db.promql_range_tiered("avg_over_time(m[6h])", START, END,
                                      6 * 3600, rollup, RS, CUT)
    assert avg_rows.count() > 0

    # contract violations fail loudly
    with pytest.raises(ValueError):
        db.promql_range_tiered(q, START - 1, END, 86400, rollup, RS, CUT)
    with pytest.raises(ValueError):
        db.promql_range_tiered(q, START, END, 86400, rollup, RS, CUT + 7)
    with pytest.raises(PromqlError):
        db.promql_range_tiered("rate(m[1d])", START, END, 86400, rollup,
                               RS, CUT)


def test_range_group_left_include(rrel):
    # group_left(src): copy the "src" label from the one side onto every
    # matched many-side sample, per grid point
    q = ('reqs{job="api"} / on(job) group_left(src) '
         'sum by (job, src) (label_replace(mem, "src", "gauge", "job", ".*"))')
    got = rev(rrel, q)
    assert got, "join produced no rows"
    for labels, _t, _v in got:
        d = dict(labels)
        assert d.get("src") == "gauge" and d["job"] == "api"
        assert "__name__" not in d


def test_subquery_over_time_inner_forms(rel):
    # outer max over sliding inner avg windows == hand-computed: mem rises
    # 1/min, avg over [t-299, t] at each 5m-multiple step
    got = ev(rel, "max_over_time(avg_over_time(mem_bytes[5m])[10m:5m])",
             at=600)
    # eval points 0, 300, 600 -> windows (k-4..k): avgs 100? (single pt at
    # 0), 103, 108 -> max 108
    assert got[0][1] == pytest.approx(108.0)
    # rate inner still works
    got = ev(rel, 'max_over_time(rate(http_requests_total'
                  '{job="api",instance="i1"}[5m])[10m:5m])', at=600)
    assert got and got[0][1] == pytest.approx(10 / 60)


def test_prometheus_api_response_shapes(rel, rrel):
    """Results shape into the Prometheus HTTP-API payloads existing
    client tooling expects: vector [ts, "v"] pairs for instant queries,
    per-series sorted matrix values for range queries, NaN/Inf strings."""
    import json

    from mandodb_spark.functions.promql_parser import (
        eval_range,
        to_api_matrix,
        to_api_vector,
    )

    vec = eval_instant(rel, "sum by (job) (http_requests_total)", AT)
    api = to_api_vector(vec, at_ts=AT)
    assert api["resultType"] == "vector"
    got = {e["metric"]["job"]: e["value"] for e in api["result"]}
    assert got == {"api": [600, "200"], "db": [600, "100"]}
    json.dumps(api)  # JSON-serializable end to end

    rng = eval_range(rrel, "max by (job) (reqs)", 600, 1200, 300)
    m = to_api_matrix(rng)
    assert m["resultType"] == "matrix" and len(m["result"]) == 2
    api_series = next(e for e in m["result"] if e["metric"]["job"] == "api")
    assert api_series["values"] == [[600, "100"], [900, "150"],
                                    [1200, "200"]] or \
        api_series["values"] == [(600, "100"), (900, "150"), (1200, "200")]
    json.dumps(m)


def test_topk_grouped_by(rel, rrel):
    # topk by (job) (1, v): the max series PER JOB, not globally
    got = ev(rel, "topk by (job) (1, http_requests_total)")
    jobs = sorted(dict(l)["job"] for l, _ in got)
    assert jobs == ["api", "db"] and len(got) == 2
    # bottomk without(instance): group = remaining labels (name, job) ->
    # one survivor per job
    got = ev(rel, "bottomk without (instance) (1, http_requests_total)")
    assert sorted(dict(l)["job"] for l, _ in got) == ["api", "db"]
    # range mode: per (job, eval point)
    per_step = rev(rrel, "topk by (job) (1, reqs)")
    assert len(per_step) == 6  # 2 jobs x 3 grid points
    assert all(dict(l)["job"] in ("api", "db") for l, _, _ in per_step)


def test_quantile_without(rel, rrel):
    # quantile without(instance): interpolated median across each
    # (name, job) group's series
    got = ev(rel, "quantile without (instance) (0.5, http_requests_total)")
    vals = {dict(l)["job"]: v for l, v in got}
    assert vals == {"api": 100.0, "db": 50.0}
    # range mode, per eval point
    got = rev(rrel, "quantile without (job) (0.5, reqs)")
    assert {t: v for _, t, v in got} == {600: 75.0, 900: 112.5, 1200: 150.0}


def test_empty_string_matcher_matches_absent_label(spark):
    # Prometheus treats a missing label as the empty string: {l=""} must
    # match series LACKING l (labels map has no key -> NULL lookup), and
    # {l!=""} means "l exists and is non-empty" (ADVICE r8 fix).
    rows = [
        ({"__name__": "m", "job": "a"}, 600, 1.0),             # no inst
        ({"__name__": "m", "job": "b", "inst": ""}, 600, 2.0),  # empty inst
        ({"__name__": "m", "job": "c", "inst": "x"}, 600, 3.0),
    ]
    r = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    eq = ev(r, 'm{inst=""}')
    assert sorted(dict(l)["job"] for l, _ in eq) == ["a", "b"]
    ne = ev(r, 'm{inst!=""}')
    assert [dict(l)["job"] for l, _ in ne] == ["c"]
    # regex forms already coalesce NULL -> "" and must agree
    assert sorted(dict(l)["job"] for l, _ in ev(r, 'm{inst=~""}')) == ["a", "b"]
    assert [dict(l)["job"] for l, _ in ev(r, 'm{inst!~""}')] == ["c"]


def test_range_binop_duplicate_match_group_raises(spark):
    # Range-mode vector/vector matching must enforce PromQL's "found
    # duplicate series for the match group" error per (key, ts), exactly
    # like the instant path — not silently emit a cross product.
    from mandodb_spark.functions.promql_parser import eval_range

    rows = []
    for inst in ("i1", "i2"):
        for k in range(21):
            rows.append(({"__name__": "dup", "job": "api",
                          "instance": inst}, k * 60, float(k)))
    for k in range(21):
        rows.append(({"__name__": "one", "job": "api"}, k * 60, 1.0))
    r = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    bad = eval_range(r, "dup + on(job) one", 600, 1200, 300)
    with pytest.raises(Exception, match="duplicate series"):
        bad.collect()
    # the "one" side (lhs under group_right) must also be unique ...
    with pytest.raises(Exception, match="duplicate series"):
        eval_range(r, "dup + on(job) group_right one", 600, 1200, 300).collect()
    # ... while the many side may duplicate freely
    ok = eval_range(r, "dup + on(job) group_left one", 600, 1200, 300).collect()
    assert len(ok) == 6  # 2 instances x 3 grid points


def test_bare_agg_over_empty_vector_is_empty(rel):
    # PromQL: sum(nonexistent) is an EMPTY vector; Spark's keyless groupBy
    # would emit one NULL/0 row (ADVICE r8 fix).
    for q in ("sum(no_such_metric)", "count(no_such_metric)",
              "avg(no_such_metric)", "quantile(0.9, no_such_metric)"):
        assert ev(rel, q) == []


def test_grid_fanout_guard_and_sliding_autoroute(rrel, monkeypatch):
    # The r8 verdict's unguarded footgun: window >> step explodes every
    # sample window/step times.  Beyond promql.GRID_FANOUT_CAP the parser
    # now (a) auto-routes invertible <g>_over_time shapes to the
    # running-sum sliding lowering — same results, no explode factor —
    # and (b) fails fast with the alternatives named for everything else.
    from mandodb_spark.functions import promql as P
    from mandodb_spark.functions.promql_parser import eval_range

    queries = ("sum_over_time(mem[10m])", "avg_over_time(mem[10m])",
               "count_over_time(mem[10m])")
    want = {q: rev(rrel, q) for q in queries}        # explode path
    monkeypatch.setattr(P, "GRID_FANOUT_CAP", 1)     # fanout 2 > 1
    for q in queries:                                 # sliding path
        got = rev(rrel, q)
        assert len(got) == len(want[q]) > 0, q
        for (gl, gt, gv), (wl, wt, wv) in zip(got, want[q]):
            assert (gl, gt) == (wl, wt) and gv == pytest.approx(wv), q
    # non-invertible / rate / quantile / instant-selector shapes fail fast
    for q in ("max_over_time(mem[10m])", "rate(reqs[10m])",
              "quantile_over_time(0.9, mem[10m])", "mem"):
        with pytest.raises(PromqlError, match="GRID_FANOUT_CAP"):
            eval_range(rrel, q, 600, 1200, 300)
    # window not a multiple of step cannot slide -> raise, not wrong math
    with pytest.raises(PromqlError, match="GRID_FANOUT_CAP"):
        eval_range(rrel, "sum_over_time(mem[7m])", 600, 1200, 300)
    # direct primitive callers get the ValueError form of the same guard
    monkeypatch.setattr(P, "GRID_FANOUT_CAP", 500)
    with pytest.raises(ValueError, match="GRID_FANOUT_CAP"):
        P.grid_rate(rrel, 0, 2_592_000, 2_592_000, 30)


def test_grid_over_time_sliding_matches_explode(rrel):
    # Direct-primitive equality at the default cap (no monkeypatch):
    # the sliding lowering is the same function, different plan shape.
    from mandodb_spark.functions import promql as P

    for fn in ("sum", "count", "avg"):
        a = {(r["series_key"], r["ts"]): r["value"]
             for r in P.grid_over_time_sliding(
                 rrel, fn, 600, 1200, 600, 300).collect()}
        b = {(r["series_key"], r["ts"]): r["value"]
             for r in P.grid_over_time(
                 rrel, fn, 600, 1200, 600, 300).collect()}
        assert a.keys() == b.keys() and all(
            a[k] == pytest.approx(b[k]) for k in a), fn
    with pytest.raises(ValueError, match="multiple of step"):
        P.grid_over_time_sliding(rrel, "sum", 600, 1200, 700, 300)
    with pytest.raises(ValueError, match="invertible"):
        P.grid_over_time_sliding(rrel, "max", 600, 1200, 600, 300)


def test_prometheus_api_golden_payloads(spark):
    """VERBATIM Prometheus response-shape goldens (r8 verdict #6): exact
    JSON payloads including NaN/±Inf strings, integer formatting
    (SampleValue's shortest form — "1", not "1.0"), deterministic series
    ordering, and the status/data envelope."""
    import json

    from mandodb_spark.functions.promql_parser import (
        api_success,
        to_api_matrix,
        to_api_vector,
    )

    vec = spark.createDataFrame(
        [({"__name__": "up", "job": "api"}, 1.0),
         ({"__name__": "up", "job": "db"}, 0.5),
         ({"__name__": "up", "job": "x"}, float("nan")),
         ({"__name__": "up", "job": "y"}, float("inf")),
         ({"__name__": "up", "job": "z"}, float("-inf"))],
        "labels map<string,string>, value double")
    api = json.loads(json.dumps(api_success(to_api_vector(vec, at_ts=1700))))
    vals = {e["metric"]["job"]: e["value"] for e in api["data"]["result"]}
    assert api["status"] == "success"
    assert api["data"]["resultType"] == "vector"
    assert vals == {"api": [1700, "1"], "db": [1700, "0.5"],
                    "x": [1700, "NaN"], "y": [1700, "+Inf"],
                    "z": [1700, "-Inf"]}

    rng = spark.createDataFrame(
        [({"job": "b"}, 60, 2.0), ({"job": "a"}, 120, 1.5),
         ({"job": "a"}, 60, 1.0)],
        "labels map<string,string>, ts long, value double")
    golden = {
        "status": "success",
        "data": {
            "resultType": "matrix",
            "result": [
                {"metric": {"job": "a"},
                 "values": [[60, "1"], [120, "1.5"]]},
                {"metric": {"job": "b"}, "values": [[60, "2"]]},
            ],
        },
    }
    assert json.loads(json.dumps(api_success(to_api_matrix(rng)))) == golden


def test_prometheus_api_series_labels_values(spark, tmp_path_factory):
    """/api/v1/series, /api/v1/labels and /api/v1/label/<n>/values payload
    shapers over the store's query_series / query_label_values — golden
    dict comparisons through the public TSDB surface."""
    import json

    from mandodb_spark import TSDB, LabelMatcher
    from mandodb_spark.functions.promql_parser import (
        api_success,
        to_api_label_values,
        to_api_labels,
        to_api_series,
    )

    base = tmp_path_factory.mktemp("apiser")
    db = TSDB(spark, str(base / "store"))
    db.insert_rows([
        ("up", {"job": "api", "instance": "i1"}, 100, 1.0),
        ("up", {"job": "api", "instance": "i2"}, 100, 1.0),
        ("up", {"job": "db", "zone": "eu"}, 100, 1.0),
        ("mem", {"job": "api"}, 100, 5.0),
    ])
    series = db.query_series([LabelMatcher("__name__", "up")], 0, 200)
    got = json.loads(json.dumps(api_success(to_api_series(series))))
    assert got == {"status": "success", "data": [
        {"__name__": "up", "instance": "i1", "job": "api"},
        {"__name__": "up", "instance": "i2", "job": "api"},
        {"__name__": "up", "job": "db", "zone": "eu"},
    ]}
    assert to_api_labels(series) == ["__name__", "instance", "job", "zone"]
    vals = db.query_label_values("instance", 0, 200)
    assert api_success(to_api_label_values(vals)) == \
        {"status": "success", "data": ["i1", "i2"]}


def test_range_at_fixed_range_selector(rrel):
    # @-fixed RANGE selectors in range mode: the call evaluates once at
    # the fixed time and is constant across the grid (PromQL @-modifier).
    got = {(dict(l).get("job"), t): v
           for l, t, v in rev(rrel, "rate(reqs[5m] @ 1200)")}
    assert len(got) == 6  # 2 jobs x 3 grid points
    api = [v for (j, _), v in got.items() if j == "api"]
    assert all(v == pytest.approx(10 / 60) for v in api)
    # identical value at every grid point (the constancy contract)
    for j in ("api", "db"):
        vs = {v for (jj, _), v in got.items() if jj == j}
        assert len(vs) == 1
    # via the end() sugar: same numbers as the explicit timestamp
    sugar = {(dict(l).get("job"), t): v
             for l, t, v in rev(rrel, "rate(reqs[5m] @ end())")}
    assert sugar == got
    # over_time family too
    got = {t: v for _, t, v in rev(rrel, "max_over_time(mem[10m] @ 1200)")}
    assert got == {600: 102.0, 900: 102.0, 1200: 102.0}


def test_at_inside_subquery(rel):
    # @ pins the inner selector: the inner vector is constant over the
    # subquery steps — max/avg collapse to the value, sum/count scale
    # with the number of aligned eval points.
    base = ev(rel, "rate(http_requests_total[5m] @ 600)")
    vmax = ev(rel, "max_over_time(rate(http_requests_total[5m] @ 600)[4m:1m])")
    vavg = ev(rel, "avg_over_time(rate(http_requests_total[5m] @ 600)[4m:1m])")
    assert vmax == base and vavg == base
    # [4m:1m] at t=600 -> aligned points in [361, 600] = 420..600 = 4
    vcnt = ev(rel, "count_over_time(rate(http_requests_total[5m] @ 600)[4m:1m])")
    assert all(v == 4.0 for _, v in vcnt) and len(vcnt) == len(base)
    vsum = ev(rel, "sum_over_time(rate(http_requests_total[5m] @ 600)[4m:1m])")
    assert [(l, pytest.approx(4 * v)) for l, v in base] == \
        [(l, v) for l, v in vsum]


def test_bare_selector_subquery(rel, rrel):
    # m[10m:5m] — PromQL's most common subquery shape (no wrapping call
    # around the selector) now parses and evaluates in both modes.
    # instant: points 300/600 -> mem_bytes 105, 110
    got = ev(rel, "max_over_time(mem_bytes[10m:5m])")
    assert [v for _, v in got] == [110.0]
    assert ev(rel, "avg_over_time(mem_bytes[10m:5m])")[0][1] == 107.5
    # range mode on rrel's mem (100 + k%3)
    got = {t: v for _, t, v in rev(rrel, "avg_over_time(mem[10m:5m])")}
    assert got == {600: 101.5, 900: 100.5, 1200: 101.0}
    # @ inside a subquery in RANGE mode: the pinned inner is constant
    got = {(dict(l)["job"], t): v for l, t, v in
           rev(rrel, "avg_over_time(reqs @ 600 [10m:5m])")}
    assert all(v == 100.0 for (j, _), v in got.items() if j == "api")
    assert all(v == 50.0 for (j, _), v in got.items() if j == "db")


def test_range_mad_over_time(rrel):
    # mem = 100 + k%3 at k-minutes: any 5m window at a 300s-aligned t
    # holds values {100,101,102,100,101} or a rotation -> median 101,
    # |x-101| in {1,0,1,1,0} -> mad 1.0
    got = {t: v for _, t, v in rev(rrel, "mad_over_time(mem[5m])")}
    assert got == {600: 1.0, 900: 1.0, 1200: 1.0}
    # matches the instant evaluation at each grid point
    for t in (600, 900, 1200):
        inst = ev(rrel, "mad_over_time(mem[5m])", at=t)
        assert inst[0][1] == got[t]


def test_range_deriv_predict_linear_holt_winters(rrel):
    # reqs is a perfect line (slope/60 per second), so deriv is constant,
    # predict_linear extrapolates it exactly, and each must match the
    # instant evaluation per grid point.
    got = {(dict(l)["job"], t): v for l, t, v in rev(rrel, "deriv(reqs[5m])")}
    assert all(v == pytest.approx(10 / 60) for (j, _), v in got.items()
               if j == "api")
    assert all(v == pytest.approx(5 / 60) for (j, _), v in got.items()
               if j == "db")
    got = {(dict(l)["job"], t): v
           for l, t, v in rev(rrel, "predict_linear(reqs[5m], 60)")}
    # value at t is (t/60)*slope; 60s ahead adds one slope unit
    for (j, t), v in got.items():
        slope = 10.0 if j == "api" else 5.0
        assert v == pytest.approx((t / 60 + 1) * slope)
    # holt_winters on the grid == the instant evaluation at each point
    rng = {(dict(l)["job"], t): v for l, t, v in
           rev(rrel, "holt_winters(reqs[5m], 0.5, 0.3)")}
    for t in (600, 900, 1200):
        inst = {dict(l)["job"]: v for l, v in
                ev(rrel, "holt_winters(reqs[5m], 0.5, 0.3)", at=t)}
        for j, v in inst.items():
            assert rng[(j, t)] == pytest.approx(v), (j, t)


def test_round_scalar_vector_both_modes(rel, rrel):
    import math

    from mandodb_spark.functions.promql_parser import eval_range

    # round(v, to): nearest multiple, ties away from the floor
    assert ev(rel, "round(mem_bytes, 20)")[0][1] == 120.0  # 110 -> 120
    assert ev(rel, "round(mem_bytes)")[0][1] == 110.0
    got = {t: v for _, t, v in rev(rrel, "round(mem, 10)")}
    assert got == {600: 100.0, 900: 100.0, 1200: 100.0}
    # scalar() in range mode: per-eval-point stepscalar, NaN when the
    # vector is not a single sample
    got = {t: v for _, t, v in rev(rrel, "mem * scalar(mem)")}
    assert got == {600: 101.0 ** 2, 900: 100.0 ** 2, 1200: 102.0 ** 2}
    multi = eval_range(rrel, "scalar(reqs) + 0 * sum(reqs)",
                       600, 1200, 300).collect()
    assert multi and all(math.isnan(r["value"]) for r in multi)
    # vector() in range mode: labels-less series on the grid
    got = {t: v for _, t, v in rev(rrel, "vector(7)")}
    assert got == {600: 7.0, 900: 7.0, 1200: 7.0}
    got = {t: v for _, t, v in rev(rrel, "vector(time())")}
    assert got == {600: 600.0, 900: 900.0, 1200: 1200.0}


def test_trig_pi_atan2(rel, rrel):
    import math

    # pi() and the trig family (PromQL 2.31)
    assert ev(rel, "pi()") == [((), pytest.approx(math.pi))]
    assert ev(rel, "sin(0 * mem_bytes)")[0][1] == 0.0
    assert ev(rel, "deg(0 * mem_bytes + pi())")[0][1] == pytest.approx(180.0)
    assert ev(rel, "rad(0 * mem_bytes + 180)")[0][1] == pytest.approx(math.pi)
    got = ev(rel, "cos(0 * http_requests_total)")
    assert [v for _, v in got] == [1.0, 1.0, 1.0, 1.0]
    # atan2 as a binary operator with vector matching, both modes
    got = ev(rel, "mem_bytes atan2 on(job, instance) mem_bytes")
    assert got[0][1] == pytest.approx(math.atan2(110.0, 110.0))
    rng = {t: v for _, t, v in rev(rrel, "mem atan2 mem")}
    assert all(v == pytest.approx(math.pi / 4) for v in rng.values())
    # precedence: same tier as * (left-assoc), binds tighter than +
    ast = parse("a atan2 b * c")   # (a atan2 b) * c
    assert ast[1] == "*" and ast[2][1] == "atan2"
    assert parse("a + b atan2 c")[1] == "+"


def test_limitk_limit_ratio(rel, rrel):
    # limitk: deterministic k-series subset per group; repeat runs agree
    got = ev(rel, "limitk(1, http_requests_total) by (job)")
    assert sorted(dict(l)["job"] for l, _ in got) == ["api", "db"]
    assert got == ev(rel, "limitk(1, http_requests_total) by (job)")
    assert len(ev(rel, "limitk(3, http_requests_total)")) == 3
    # k >= group size keeps everything
    assert len(ev(rel, "limitk(10, http_requests_total)")) == 4
    # limit_ratio: r and r-1 PARTITION the input deterministically
    a = ev(rel, "limit_ratio(0.4, http_requests_total)")
    b = ev(rel, "limit_ratio(-0.6, http_requests_total)")
    assert len(a) + len(b) == 4
    assert sorted(map(str, a + b)) == \
        sorted(map(str, ev(rel, "http_requests_total")))
    # range mode: the same series survive at every eval point
    got = rev(rrel, "limitk(1, reqs)")
    jobs = {dict(l)["job"] for l, _, _ in got}
    assert len(got) == 3 and len(jobs) == 1


# ------------------------------------------------------- info() (3.x)

@pytest.fixture(scope="module")
def info_rel(spark):
    rows = [
        ({"__name__": "up", "instance": "i1", "job": "api"}, 590, 1.0),
        ({"__name__": "up", "instance": "i2", "job": "api"}, 590, 1.0),
        ({"__name__": "up", "job": "noinst"}, 590, 1.0),
        ({"__name__": "target_info", "instance": "i1", "job": "api",
          "cluster": "c1", "dc": "east"}, 580, 1.0),
        ({"__name__": "target_info", "instance": "i2", "job": "api",
          "cluster": "c2", "dc": "west"}, 585, 1.0),
        ({"__name__": "build_info", "instance": "i1", "job": "api",
          "version": "9.9"}, 580, 1.0),
    ]
    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double").cache()


def test_info_default_target_info(info_rel):
    got = {dict(lbl).get("instance"): dict(lbl) for lbl, _ in
           ev(info_rel, "info(up)")}
    assert got["i1"]["cluster"] == "c1" and got["i1"]["dc"] == "east"
    assert got["i2"]["cluster"] == "c2" and got["i2"]["dc"] == "west"
    # sample without identifying labels passes through unchanged
    assert got[None] == {"__name__": "up", "job": "noinst"}


def test_info_data_label_selector_restricts(info_rel):
    got = {dict(lbl).get("instance"): dict(lbl) for lbl, _ in
           ev(info_rel, 'info(up, {cluster=~".+"})')}
    assert got["i1"]["cluster"] == "c1"
    assert "dc" not in got["i1"]  # only the named data label is copied


def test_info_name_matcher_picks_info_metric(info_rel):
    got = {dict(lbl).get("instance"): dict(lbl) for lbl, _ in
           ev(info_rel, 'info(up, {__name__="build_info"})')}
    assert got["i1"]["version"] == "9.9"
    assert "cluster" not in got["i1"]


def test_info_existing_label_wins(info_rel):
    # base sample already carries `dc`: the sample's value is kept
    got = ev(info_rel, 'info(label_replace(up{instance="i1"}, '
                       '"dc", "mine", "", ""))')
    assert dict(got[0][0])["dc"] == "mine"


def test_info_range_mode(info_rel):
    from mandodb_spark.functions.promql_parser import eval_range

    out = eval_range(info_rel, "info(up)", 590, 650, 60).collect()
    by_inst = {dict(r["labels"]).get("instance"): dict(r["labels"])
               for r in out if r["ts"] == 590}
    assert by_inst["i1"]["cluster"] == "c1"
    assert len({r["ts"] for r in out}) == 2  # both grid points


# ------------------------------------------- IEEE scalar arithmetic

def test_scalar_div_and_mod_by_zero(rel):
    import math

    assert ev(rel, "1 / 0") == [((), math.inf)]
    assert ev(rel, "-1 / 0") == [((), -math.inf)]
    got = ev(rel, "0 / 0")
    assert len(got) == 1 and math.isnan(got[0][1])
    got = ev(rel, "1 % 0")
    assert len(got) == 1 and math.isnan(got[0][1])
    assert ev(rel, "0 ^ -1") == [((), math.inf)]


def test_scalar_pow_negative_zero_base(rel):
    """IEEE/Go math.Pow: (-0.0)^(negative odd integer) = -Inf; every
    other zero-base negative-exponent case = +Inf (ADVICE r10)."""
    import math

    assert ev(rel, "(0 * -1) ^ -3") == [((), -math.inf)]
    assert ev(rel, "(0 * -1) ^ -2") == [((), math.inf)]
    assert ev(rel, "(0 * -1) ^ -3.5") == [((), math.inf)]
    assert ev(rel, "0 ^ -3") == [((), math.inf)]


def test_hist_scalar_division_by_zero(spark):
    """h / 0 scales components by +Inf instead of raising
    ZeroDivisionError on the driver (ADVICE r9)."""
    import math

    from mandodb_spark.functions import native_hist as nh
    from mandodb_spark.functions.promql_parser import eval_instant

    obs = spark.createDataFrame(
        [("h", {"i": "1"}, 590, 2.5)],
        "metric string, labels map<string,string>, ts long, value double")
    hist_rel = nh.observe_histograms(obs)
    out = eval_instant(spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double"),
        "h / 0", 600, hist_rel=hist_rel).collect()
    assert len(out) == 1
    assert math.isinf(out[0]["hist"]["count"])


# ------------------------------- top-level matrix results (VERDICT r10 #6)

def test_bare_toplevel_subquery_and_range_selector(spark):
    """A bare range selector or subquery at the TOP level of an instant
    query returns the Prometheus 'matrix' result type — (labels, ts,
    value) rows; range mode keeps rejecting it (as Prometheus), and a
    function argument position still type-errors."""
    rows = [({"__name__": "m", "a": "x"}, t, float(t)) for t in
            (60, 120, 180, 240, 300)]
    rel = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")

    out = eval_instant(rel, "m[3m]", 300).collect()
    # engine windows are (t-range, t] on integer seconds: 121..300
    assert {(r.ts, r.value) for r in out} == {(180, 180.0),
                                              (240, 240.0), (300, 300.0)}
    assert all(r.labels["__name__"] == "m" for r in out)

    # subquery: aligned steps inside (t-2m, t] are 240 and 300; the
    # inner instant evaluation picks the newest sample at each step
    sq = eval_instant(rel, "m[2m:1m]", 300).collect()
    assert {(r.ts, r.value) for r in sq} == {(240, 240.0), (300, 300.0)}

    with pytest.raises(PromqlError, match="range query is invalid"):
        eval_range(rel, "m[2m:1m]", 120, 300, 60)
    with pytest.raises(PromqlError):
        eval_instant(rel, "abs(m[3m])", 300)  # matrix in a vector position


def _two_sample_hist(spark):
    """One series, two distribution snapshots: ts=100 observes {1.0}
    (count 1, sum 1, pos {0:1}), ts=200 observes {1.0, 3.0} (count 2,
    sum 4, pos {0:1, 13:1}) — schema 3 indices: 1.0 → 0, 3.0 → 13."""
    from mandodb_spark.functions import native_hist as nh

    obs = spark.createDataFrame(
        [("h", {"a": "x"}, 100, 1.0),
         ("h", {"a": "x"}, 200, 1.0), ("h", {"a": "x"}, 200, 3.0)],
        "metric string, labels map<string,string>, ts long, value double")
    return nh.observe_histograms(obs)


def test_hist_over_time_selector_instant(spark):
    """avg/sum/count/last_over_time over a native-histogram range window
    (instant mode): avg/sum element-wise, count a float, last the newest
    sample; unsupported aggregates raise pointedly."""
    hrel = _two_sample_hist(spark)
    empty = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")

    def one(q):
        out = eval_instant(empty, q, 260, hist_rel=hrel).collect()
        assert len(out) == 1
        return out[0]

    s = one("sum_over_time(h[3m])")["hist"]
    assert (s["count"], s["sum"]) == (3.0, 5.0)
    assert dict(s["pos"]) == {0: 2.0, 13: 1.0}
    a = one("avg_over_time(h[3m])")["hist"]
    assert (a["count"], a["sum"]) == (1.5, 2.5)
    assert dict(a["pos"]) == {0: 1.0, 13: 0.5}
    assert one("count_over_time(h[3m])")["value"] == 2.0
    assert one("present_over_time(h[3m])")["value"] == 1.0
    l = one("last_over_time(h[3m])")["hist"]
    assert (l["count"], l["sum"]) == (2.0, 4.0)
    with pytest.raises(PromqlError, match="avg/sum/count/last"):
        eval_instant(empty, "max_over_time(h[3m])", 260, hist_rel=hrel)


def test_hist_over_time_subquery_instant(spark):
    """Over-time aggregates over a HISTOGRAM-VALUED SUBQUERY (the r10
    documented delta, lifted): h[3m:1m] at t=260 has aligned steps
    120/180/240 whose instant samples are ts100, ts100, ts200."""
    hrel = _two_sample_hist(spark)
    empty = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")

    def one(q):
        out = eval_instant(empty, q, 260, hist_rel=hrel).collect()
        assert len(out) == 1
        return out[0]

    s = one("sum_over_time(h[3m:1m])")["hist"]
    assert (s["count"], s["sum"]) == (4.0, 6.0)
    assert dict(s["pos"]) == {0: 3.0, 13: 1.0}
    a = one("avg_over_time(h[3m:1m])")["hist"]
    assert abs(a["count"] - 4 / 3) < 1e-12 and a["sum"] == 2.0
    assert one("count_over_time(h[3m:1m])")["value"] == 3.0
    l = one("last_over_time(h[3m:1m])")["hist"]
    assert (l["count"], l["sum"]) == (2.0, 4.0)
    # nested: over-time over a histogram-valued counter-math subquery
    inc = one("sum_over_time(increase(h[2m:1m])[2m:1m])")["hist"]
    # increase pseudo-points at 180 (window (60,180]: ts100→? single
    # sample → no step) and 240 (window (120,240]: ts200−ts100 → count 1,
    # sum 3); only the 240 point has a 2-sample window
    assert (inc["count"], inc["sum"]) == (1.0, 3.0)
    with pytest.raises(PromqlError, match="avg/sum/count/last"):
        eval_instant(empty, "stddev_over_time(h[3m:1m])", 260,
                     hist_rel=hrel)


def test_hist_over_time_range_mode(spark):
    """Range-mode grid lowering of over-time aggregates over histogram
    windows: per-eval-point component merges (grid_hist_over_time)."""
    hrel = _two_sample_hist(spark)
    empty = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")

    out = eval_range(empty, "histogram_count(sum_over_time(h[3m]))",
                     260, 320, 60, hist_rel=hrel).collect()
    got = {(r.ts, r.value) for r in out}
    # 260: both samples in (80,260] → 1+2; 320: only ts200 in (140,320]
    assert got == {(260, 3.0), (320, 2.0)}

    cnt = eval_range(empty, "count_over_time(h[3m:1m])",
                     260, 320, 60, hist_rel=hrel).collect()
    # pseudo-samples at aligned minutes: 260 covers 120/180/240 → 3,
    # 320 covers 180/240/300 → 3
    assert {(r.ts, r.value) for r in cnt} == {(260, 3.0), (320, 3.0)}

    l = eval_range(empty, "histogram_sum(last_over_time(h[3m:1m]))",
                   260, 320, 60, hist_rel=hrel).collect()
    assert {(r.ts, r.value) for r in l} == {(260, 4.0), (320, 4.0)}
    with pytest.raises(PromqlError, match="avg/sum/count/last"):
        eval_range(empty, "min_over_time(h[3m])", 260, 320, 60,
                   hist_rel=hrel)


def test_at_fixed_subquery_both_modes(spark):
    """`expr[r:s] @ T` (the @ modifier on the SUBQUERY itself — the last
    documented @ gap, lifted round 11): anchors the subquery window at T
    regardless of eval time, in instant mode (matrix result / range-fn
    argument) and range mode (constant across the grid, like every other
    @-fixed form)."""
    rows = [({"__name__": "m", "a": "x"}, t, float(t)) for t in
            range(60, 1260, 60)]
    rel = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")

    # bare top-level, instant: window (420, 600] regardless of eval ts
    out = eval_instant(rel, "m[3m:1m] @ 600", 1200).collect()
    assert {(r.ts, r.value) for r in out} == {(480, 480.0), (540, 540.0),
                                              (600, 600.0)}
    # under an over-time aggregate, instant
    mx = eval_instant(rel, "max_over_time(m[3m:1m] @ 600)", 1200).collect()
    assert [(r.value) for r in mx] == [600.0]
    # @ end() sugar resolves to the eval time
    sugared = eval_instant(rel, "max_over_time(m[3m:1m] @ end())",
                           1200).collect()
    assert [r.value for r in sugared] == [1200.0]
    # range mode: grid-constant broadcast
    rng = eval_range(rel, "max_over_time(m[3m:1m] @ 600)",
                     1080, 1200, 60).collect()
    assert {(r.ts, r.value) for r in rng} == {(1080, 600.0), (1140, 600.0),
                                              (1200, 600.0)}
    # time_window prunes to the fixed anchor
    lo, hi = time_window("max_over_time(m[3m:1m] @ 600)", 10**9)
    assert hi == 600 and lo <= 420


def test_toplevel_matrix_to_api(spark):
    """An instant query of a bare range selector renders through
    to_api_matrix exactly like a range result — the /api/v1/query
    resultType 'matrix' payload for matrix-typed instant expressions."""
    from mandodb_spark.functions.promql_parser import to_api_matrix

    rows = [({"__name__": "m", "a": "x"}, t, float(t)) for t in (120, 180)]
    rel = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    # window (240-2m, 240] on integer seconds excludes the 120 sample
    api = to_api_matrix(eval_instant(rel, "m[3m]", 240))
    assert api == {
        "resultType": "matrix",
        "result": [{"metric": {"__name__": "m", "a": "x"},
                    "values": [(120, "120"), (180, "180")]}],
    }


# ------------------------------------------- one evaluator, two grid shapes

#: (fixture, query, eval time): the instant queries pinned above — offset
#: and @ selectors, rate and *_over_time, by/without aggregations, topk
#: and count_values, group_left and set ops, scalar functions and time(),
#: float and histogram subqueries — plus [1d] windows, whose window/step
#: ratio only a short grid keeps under the fan-out cap
_AGREEMENT = [
    ("rel", 'http_requests_total{job="api",instance=~"i."}', AT),
    ("rel", "mem_bytes offset 2m", AT),
    ("rel", "mem_bytes @ 300 offset 1m", AT),
    ("rel", "avg_over_time(mem_bytes[5m] @ 300)", AT),
    ("rel", "sum by (job) (rate(http_requests_total[5m]))", AT),
    ("rel", "rate(http_requests_total[1d])", AT),
    ("rel", "max_over_time(mem_bytes[1d])", AT),
    ("rel", "avg_over_time(mem_bytes[10m])", AT),
    ("rel", "quantile_over_time(0.5, mem_bytes[10m])", AT),
    ("rel", "sum without (instance) (http_requests_total)", AT),
    ("rel", "topk(2, http_requests_total)", AT),
    ("rel", "topk by (job) (1, http_requests_total)", AT),
    ("rel", 'count_values("v", http_requests_total)', AT),
    ("rel", "quantile(0.5, http_requests_total)", AT),
    ("rel", '100 * sum by (job)(http_requests_total{instance="i1"})'
            " / on(job) group_left sum by (job)(http_requests_total)", AT),
    ("rel", 'http_requests_total{job="db"} unless on(instance) mem_bytes', AT),
    ("rel", 'mem_bytes or http_requests_total{job="db"}', AT),
    ("rel", 'absent(nosuch{zone="eu"})', AT),
    ("rel", "sqrt(4) + 1", AT),
    ("rel", "time() * 2", AT),
    ("rel", "minute()", AT),
    ("rel", "hour(timestamp(mem_bytes))", AT),
    ("rel", "max_over_time(sum by (job)(http_requests_total)[4m:1m])", AT),
    ("rel", "rate(sum by (job)(http_requests_total)[4m:1m])", AT),
    ("rel", "max_over_time(rate(http_requests_total[5m] @ 600)[4m:1m])", AT),
    ("rrel", "holt_winters(reqs[5m], 0.5, 0.3)", 900),
    ("rrel", "predict_linear(reqs[5m], 60)", 1200),
    ("hrel", "histogram_quantile(0.5, lat_bucket)", AT),
    ("hrel", 'scalar(sum(lat_bucket{job="api",le="+Inf"})) * 2', AT),
    ("hrel", "max_over_time(rate(ctr[10m])[1h:10m])", 7200),
    ("hrel", "rate(ctr[1d])", 7200),
    ("nhist", "histogram_count(sum_over_time(h[3m:1m]))", 260),
    ("nhist", "histogram_sum(increase(h[3m:1m]))", 260),
    ("nhist", "histogram_count(sum_over_time(increase(h[2m:1m])[2m:1m]))", 260),
]


@pytest.mark.parametrize("fixture,query,t", _AGREEMENT)
def test_instant_equals_last_range_point(request, spark, fixture, query, t):
    """An instant query is the range evaluator on the one-point grid {t}:
    its answer equals the last point of a 3-point range query ending at
    t, row for row (labels and value)."""
    import math

    kw = {}
    if fixture == "nhist":
        r = spark.createDataFrame(
            [], "labels map<string,string>, ts long, value double")
        kw["hist_rel"] = _two_sample_hist(spark)
    else:
        r = request.getfixturevalue(fixture)

    def norm(rows):
        return sorted(((tuple(sorted(x["labels"].items())),
                        "nan" if math.isnan(x["value"]) else round(x["value"], 9))
                       for x in rows), key=str)

    inst = norm(eval_instant(r, query, t, **kw).collect())
    last = norm(x for x in eval_range(r, query, t - 120, t, 60, **kw).collect()
                if x["ts"] == t)
    assert inst == last and inst, query


def test_short_range_query_bounds_fanout_by_its_grid(spark):
    """A sample can serve at most the grid's own points: ``rate(m[1d])``
    over three 60 s points explodes each sample 3×, not 1440×, so the
    fan-out guard must accept it — and a long grid stays capped."""
    rows = [({"__name__": "m", "j": "a"}, k * 600, float(k))
            for k in range(150)]
    r = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    for q in ("rate(m[1d])", "max_over_time(m[1d])"):
        got = {x["ts"]: x["value"]
               for x in eval_range(r, q, 86_400, 86_520, 60).collect()}
        assert sorted(got) == [86_400, 86_460, 86_520], q
        inst = eval_instant(r, q, 86_520).collect()
        assert [x["value"] for x in inst] == [got[86_520]], q
    assert promql._fanout(86_399, 86_400, 86_520, 60) == 3
    with pytest.raises(ValueError, match="GRID_FANOUT_CAP"):
        promql.grid_rate(r, 0, 86_400, 86_400, 60)


def test_instant_promql_runs_three_jobs(spark, tmp_path):
    """The dashboard's instant aggregation costs what the range form
    does per point: three Spark jobs through ``TSDB.promql``, the
    one-point grid adding none (no broadcast, no probe)."""
    import uuid

    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"), segment_duration=3600)
    db.insert_rows([("m", {"dc": f"d{i % 3}"}, k * 60, float(i * k))
                    for i in range(12) for k in range(100)])
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = db.promql("sum by (dc) (m)", 99 * 60).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(got) == 3
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
