"""Tests for the remaining SURVEY §2 inventory items: memory-only mode (T6),
label presence (F10), the label-value dimension (A4), and the
regex-over-distinct-values strategy."""

from __future__ import annotations

import pytest

from mandodb_spark import TSDB, LabelMatcher

START = 1_700_000_000

ROWS = [
    ("cpu.busy", {"node": "vm0", "dc": "sh"}, START, 1.0),
    ("cpu.busy", {"node": "vm1", "dc": "sh"}, START + 60, 2.0),
    ("disk.used", {"node": "vm0"}, START + 120, 3.0),  # no dc label
]


def test_memory_only_mode(spark):
    """T6 (tsdb.go:30,83-87): no path, nothing on disk, full query surface."""
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(ROWS)
    db.insert_rows([("cpu.busy", {"node": "vm2", "dc": "bj"}, START + 180, 4.0)])
    out = db.query_range("cpu.busy", [], START, START + 300).collect()
    assert len(out) == 3
    vals = sorted(p.value for r in out for p in r.points)
    assert vals == [1.0, 2.0, 4.0]
    # retention works in memory too
    db2 = TSDB(spark, None, only_memory=True, retention=7 * 86400)
    db2.insert_rows([("m", {}, START, 1.0), ("m", {}, START + 10 * 86400, 2.0)])
    dropped = db2.remove_expires(now_ts=START + 10 * 86400 + 1)
    assert dropped == [START // 7200]
    assert db2.query_range_rows("m", [], 0, 10**10).count() == 1


def test_presence_matcher(spark):
    """F10 (label.go:253-262): match rows where a label merely exists."""
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(ROWS)
    out = db.query_series([LabelMatcher("dc", is_present=True)], START, START + 300).collect()
    names = sorted(r.labels["__name__"] for r in out)
    assert names == ["cpu.busy", "cpu.busy"]


def test_label_dim(spark):
    """A4: the label-value registry relation."""
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(ROWS)
    dim = {(r.name, r.value) for r in db.label_dim().collect()}
    assert ("node", "vm0") in dim and ("node", "vm1") in dim
    assert ("dc", "sh") in dim
    assert ("__name__", "cpu.busy") in dim and ("__name__", "disk.used") in dim


def test_regex_via_dim_same_results(spark):
    """The semi-join regex strategy returns exactly the inline results."""
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(ROWS)
    matchers = [LabelMatcher("node", "vm[01]", is_regex=True)]
    inline = db.query_range_rows("cpu.busy", matchers, START, START + 300).collect()
    via_dim = db.query_range_rows(
        "cpu.busy", matchers, START, START + 300, regex_via_dim=True
    ).collect()
    assert sorted((r.ts, r.value) for r in inline) == sorted((r.ts, r.value) for r in via_dim)
    assert len(inline) == 2


def test_facade_promql_methods(spark, tmp_path_factory):
    """TSDB.rate/increase/instant/over_time — the complete-engine surface a
    reference+PromQL user expects, wired through matcher selection."""
    from mandodb_spark import TSDB, LabelMatcher

    db = TSDB(spark, str(tmp_path_factory.mktemp("facade") / "store"))
    t0 = 1_700_000_000
    db.insert_rows(
        [("reqs", {"node": "a"}, t0 + i * 60, float(100 + 10 * i)) for i in range(5)]
        + [("reqs", {"node": "b"}, t0, 1.0), ("reqs", {"node": "b"}, t0 + 240, 49.0)]
    )
    inc = {r.labels["node"]: r.value for r in db.increase("reqs", None, t0, t0 + 300).collect()}
    assert inc == {"a": 40.0, "b": 48.0}
    rate = {r.labels["node"]: r.value for r in db.rate("reqs", [LabelMatcher("node", "a")], t0, t0 + 300).collect()}
    assert rate == {"a": 40.0 / 240}
    inst = db.instant("reqs", None, t0 + 300, 300).collect()
    assert {r.labels["node"]: r.value for r in inst} == {"a": 140.0, "b": 49.0}
    ot = db.over_time("max", "reqs", None, t0, t0 + 300, 600).collect()
    assert {r.labels["node"]: r.value for r in ot} == {"a": 140.0, "b": 49.0}


def test_materialize_rollup_roundtrip(spark, tmp_path_factory):
    """The materialized continuous aggregate equals the on-the-fly rollup
    and is partitioned by seg (prunable)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from mandodb_spark import TSDB

    base = tmp_path_factory.mktemp("rollup")
    db = TSDB(spark, str(base / "store"))
    t0 = 1_700_000_000
    db.insert_rows(
        [("m", {"n": f"v{i % 3}"}, t0 + i * 600, float(i)) for i in range(50)]
    )
    dest = str(base / "rollup")
    db.materialize_rollup(dest, step=3600)
    back = db.rollup_relation(dest)

    live = (
        db.store.relation()
        .groupBy("series_key", (F.floor(F.col("ts") / 3600) * 3600).cast("long").alias("bucket_ts"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("s"))
    )
    got = {(r.series_key, r.bucket_ts): (r.n, round(r.sum_value, 6)) for r in back.collect()}
    want = {(r.series_key, r.bucket_ts): (r.n, r.s) for r in live.collect()}
    assert got == want and len(got) > 3
    # physically partitioned by seg → partition pruning applies
    assert any(p.name.startswith("seg=") for p in Path(dest).iterdir() if p.is_dir())


def test_incremental_rollup_rewrites_only_recent_partitions(spark, tmp_path_factory):
    """Maintenance refresh must touch only seg= partitions at/after the
    high-watermark (dynamic partition overwrite), leave older partition
    files byte-untouched, and still equal a full rebuild (VERDICT r1: a
    full rewrite per refresh is minutes-vs-days at 100 TB)."""
    import os
    from pathlib import Path

    from mandodb_spark import TSDB

    base = tmp_path_factory.mktemp("incroll")
    db = TSDB(spark, str(base / "store"))
    t0 = 1_700_000_000  # 7200-aligned segment boundary
    # three 2h segments of data
    db.insert_rows([("m", {"n": f"v{i % 3}"}, t0 + i * 600, float(i)) for i in range(36)])
    dest = str(base / "rollup")
    db.materialize_rollup(dest, step=3600)

    def part_files(p):
        return {
            str(f): os.stat(f).st_mtime_ns
            for f in Path(p).rglob("*.parquet")
        }

    before = part_files(dest)
    old_segs = {p.name for p in Path(dest).iterdir() if p.name.startswith("seg=")}

    # new data lands in the last (open) segment and a brand-new one
    db.insert_rows(
        [("m", {"n": "v0"}, t0 + 36 * 600 + i * 600, float(100 + i)) for i in range(12)]
    )
    db.materialize_rollup(dest, step=3600, incremental=True)

    after = part_files(dest)
    watermark = max(int(s.split("=")[1]) for s in old_segs)
    for path, mtime in before.items():
        seg = int(Path(path).parent.name.split("=")[1])
        if seg < watermark:
            assert after.get(path) == mtime, f"old partition rewritten: {path}"

    # incremental result == full rebuild
    full_dest = str(base / "rollup_full")
    db.materialize_rollup(full_dest, step=3600)
    inc = {
        (r.series_key, r.bucket_ts): (r.n, round(r.sum_value, 6), r.last_value)
        for r in db.rollup_relation(dest).collect()
    }
    full = {
        (r.series_key, r.bucket_ts): (r.n, round(r.sum_value, 6), r.last_value)
        for r in db.rollup_relation(full_dest).collect()
    }
    assert inc == full


def test_incremental_label_dim_refresh(spark, tmp_path_factory):
    """The materialized label dim merges per-batch distincts (O(batch+dim))
    and ends equal to the full-store DISTINCT; wired through streaming
    ingest it is maintained per micro-batch."""
    from mandodb_spark import ROW_SCHEMA, TSDB
    from mandodb_spark.streaming.ingest import StreamingIngestor

    base = tmp_path_factory.mktemp("labeldim")
    db = TSDB(spark, str(base / "store"))
    t0 = 1_700_000_000
    dim_dest = str(base / "dim")

    batch1 = [("cpu", {"node": "a"}, t0, 1.0), ("cpu", {"node": "b"}, t0 + 60, 2.0)]
    batch2 = [("mem", {"node": "a", "dc": "sh"}, t0 + 120, 3.0)]
    db.insert_rows(batch1)
    db.refresh_label_dim(dim_dest, spark.createDataFrame(batch1, ROW_SCHEMA))
    db.insert_rows(batch2)
    db.refresh_label_dim(dim_dest, spark.createDataFrame(batch2, ROW_SCHEMA))

    got = {(r.name, r.value) for r in db.label_dim_relation(dim_dest).collect()}
    want = {(r.name, r.value) for r in db.label_dim().collect()}
    assert got == want
    assert ("dc", "sh") in got and ("__name__", "mem") in got

    # streaming: the ingestor maintains the dim per micro-batch
    src, ckpt = str(base / "src"), str(base / "ckpt")
    sdim = str(base / "sdim")
    sstore = TSDB(spark, str(base / "sstore"))
    spark.createDataFrame(batch1 + batch2, ROW_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(ROW_SCHEMA).parquet(src)
    q = StreamingIngestor(sstore.store, label_dim_dest=sdim).start(stream, ckpt)
    q.awaitTermination(120)
    sgot = {(r.name, r.value) for r in sstore.label_dim_relation(sdim).collect()}
    assert sgot == want


def test_tsdb_binop_and_subquery_api(spark, tmp_path_factory):
    """The TSDB convenience surface for vector matching and subqueries
    composes selections from the store."""
    db = TSDB(spark, str(tmp_path_factory.mktemp("api") / "s"))
    rows = []
    for i in range(5):
        rows += [("reqs", {"job": "api"}, 1_700_000_000 + i * 60, float(10 + i * 10)),
                 ("lims", {"job": "api"}, 1_700_000_000 + i * 60, 100.0)]
    db.insert_rows(rows)
    t0, t1 = 1_700_000_000, 1_700_000_000 + 300
    usage = db.binop(
        db.instant("reqs", [], t1, lookback=400),
        db.instant("lims", [], t1, lookback=400),
        "/", on=["job"],
    ).collect()
    assert len(usage) == 1 and usage[0].value == pytest.approx(0.5)
    kept = db.binop(
        db.instant("reqs", [], t1, lookback=400),
        db.instant("lims", [], t1, lookback=400),
        "unless", on=["job"],
    )
    assert kept.count() == 0
    peak = db.subquery_over_time("max", "reqs", [], t0, t1, window=120, step=60).collect()
    assert len(peak) == 1 and peak[0].value > 0


def test_tsdb_subquery_reads_whole_first_window(spark, tmp_path_factory):
    """window < step with start off the step grid: the store is read from
    the first window's start, (start // step)·step, not start − window.
    value = ts², ts 60..129: windows [60, 89] and [120, 149] rate 149
    and 249, so the min is 149 (159 with the first window cut to
    [70, 89])."""
    db = TSDB(spark, str(tmp_path_factory.mktemp("subq") / "s"))
    db.insert_rows([("c", {"n": "a"}, ts, float(ts * ts)) for ts in range(60, 130)])
    low = db.subquery_over_time("min", "c", [], 100, 130, window=30, step=60)
    assert [r.value for r in low.collect()] == pytest.approx([149.0])


def test_value_histogram_rollup_quantile_and_pruning(spark, tmp_path_factory):
    """Percentile continuous aggregate: the materialized le-bucket rollup
    answers quantile queries equal to computing them from raw points with
    the same buckets, its merge is exactly associative across segment
    subsets, and the range query prunes rollup partitions."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.histogram import (
        histogram_quantile_over, value_histogram,
    )
    from mandodb_spark.plans import physical_plan

    base = tmp_path_factory.mktemp("hist")
    # 3 segments of data, values spread across buckets
    rows = [
        ("lat", {"n": "a"}, START + i * 60, float(v))
        for i, v in enumerate([0.2, 0.7, 3.0, 4.0, 9.0, 20.0, 80.0, 300.0,
                               601.0, 1.5, 6.0, 40.0] * 30)
    ]
    db = TSDB(spark, str(base / "store"))
    db.insert_rows(rows)
    dest = str(base / "hist_rollup")
    db.materialize_value_histogram(dest)

    end = START + len(rows) // 1 * 60
    got = db.query_quantile_histogram(dest, 0.95, START, end).collect()
    # reference: same buckets straight from the raw relation
    want = histogram_quantile_over(
        value_histogram(db.store.relation()), 0.95, ["series_key"]
    ).collect()
    assert len(got) == len(want) == 1
    assert abs(got[0].value - want[0].value) < 1e-12

    # associativity: per-seg histograms summed == whole-range histogram
    hist = spark.read.parquet(dest)
    segs = sorted(r.seg for r in hist.select("seg").distinct().collect())
    assert len(segs) >= 2
    half_a = hist.filter(F.col("seg") <= segs[len(segs) // 2])
    half_b = hist.filter(F.col("seg") > segs[len(segs) // 2])
    merged = half_a.unionByName(half_b)
    v_merged = histogram_quantile_over(merged, 0.95, ["series_key"]).collect()
    assert abs(v_merged[0].value - want[0].value) < 1e-12

    # pruning: a one-segment window's plan carries the seg partition filter
    plan = physical_plan(
        db.query_quantile_histogram(dest, 0.5, START, START + 60)
    )
    assert "PartitionFilters" in plan and "seg" in plan


def test_value_histogram_incremental_refresh_touches_only_new_segments(
    spark, tmp_path_factory
):
    """Incremental histogram refresh: after new rows land in a LATER
    segment, incremental=True rewrites only partitions >= the watermark
    and the refreshed rollup equals a from-scratch rebuild."""
    import pathlib

    base = tmp_path_factory.mktemp("histinc")
    db = TSDB(spark, str(base / "store"))
    db.insert_rows([("m", {"n": "a"}, START + i * 600, float(i)) for i in range(12)])
    dest = str(base / "hist")
    db.materialize_value_histogram(dest)
    old_mtimes = {
        p: p.stat().st_mtime_ns
        for p in pathlib.Path(dest).glob("seg=*/*.parquet")
    }

    # new rows land two segments later
    late_ts = START + 12 * 600 + 2 * 7200
    db.insert_rows([("m", {"n": "a"}, late_ts + i * 60, 500.0) for i in range(5)])
    db.materialize_value_histogram(dest, incremental=True)

    # earlier partitions untouched (same files, same mtimes)
    w = max(int(p.parent.name.split("=")[1]) for p in old_mtimes)
    for p, t in old_mtimes.items():
        seg = int(p.parent.name.split("=")[1])
        if seg < w and p.exists():
            assert p.stat().st_mtime_ns == t

    # refreshed rollup == full rebuild
    full = str(base / "hist_full")
    db.materialize_value_histogram(full)
    a = sorted(map(tuple, spark.read.parquet(dest).select("series_key", "seg", "le", "n").collect()))
    b = sorted(map(tuple, spark.read.parquet(full).select("series_key", "seg", "le", "n").collect()))
    assert a == b


def test_series_cardinality_sketch_rollup(spark, tmp_path_factory):
    """Mergeable HLL cardinality rollup: the range estimate equals the
    exact distinct-series count at test cardinality (DataSketches HLL is
    exact far below its sparse-mode limit), prunes seg partitions, and
    an incremental refresh after a late write matches a full rebuild."""
    from pyspark.sql import functions as F

    from mandodb_spark.plans import formatted_plan

    base = tmp_path_factory.mktemp("card")
    # 3 segments; series count varies per segment (10 / 25 / 40 active).
    # A = first segment boundary >= START (range math below assumes
    # segment-aligned timestamps)
    A = (START // 7200 + 1) * 7200
    rows = []
    for seg_i, n_series in enumerate([10, 25, 40]):
        for s in range(n_series):
            rows.append(("m", {"n": str(s)}, A + seg_i * 7200 + s, 1.0))
    db = TSDB(spark, str(base / "store"))
    db.insert_rows(rows)
    dest = str(base / "card_rollup")
    db.materialize_series_cardinality(dest)

    got = db.query_series_cardinality(dest, A, A + 3 * 7200 - 1).first()
    assert (got.n_segs, got.n_points) == (3, 75)
    assert got.est_series == 40.0  # series sets nest: union = largest seg
    one = db.query_series_cardinality(dest, A, A + 7199).first()
    assert (one.n_segs, one.est_series) == (1, 10.0)

    # the range read prunes rollup partitions
    plan = formatted_plan(
        spark.read.parquet(dest).filter(F.col("seg").between(0, 1))
    )
    assert "PartitionFilters: [" in plan and "seg" in plan

    # late row into segment 0 adds a new series there; incremental refresh
    # from that segment equals a full rebuild
    db.insert_rows([("m", {"n": "late-99"}, A + 5, 1.0)])
    db.materialize_series_cardinality(dest, since_seg=(A + 5) // 7200)
    full = str(base / "card_full")
    db.materialize_series_cardinality(full)
    for d in (dest, full):
        est = db.query_series_cardinality(d, A, A + 7199).first()
        assert est.est_series == 11.0
    a = db.query_series_cardinality(dest, A, A + 3 * 7200 - 1).first()
    b = db.query_series_cardinality(full, A, A + 3 * 7200 - 1).first()
    assert (a.n_points, a.est_series) == (b.n_points, b.est_series)


def test_label_dim_refresh_appends_only_new_pairs(spark, tmp_path_factory):
    """VERDICT r5 fix: a refresh must APPEND new pairs (broadcast anti-join),
    never rewrite the whole dim through one task — the first refresh's data
    files stay byte-identical on disk, and a no-new-pairs refresh adds no
    data files at all."""
    from pathlib import Path

    from mandodb_spark import ROW_SCHEMA
    from mandodb_spark.model import canonicalize
    from mandodb_spark.operators.tsdb_ops import refresh_label_dim

    dest = str(tmp_path_factory.mktemp("dimappend") / "dim")
    t0 = 1_700_000_000
    b1 = canonicalize(spark.createDataFrame([("cpu", {"node": "a"}, t0, 1.0)], ROW_SCHEMA))
    b2 = canonicalize(spark.createDataFrame([("cpu", {"node": "b"}, t0 + 1, 2.0)], ROW_SCHEMA))
    refresh_label_dim(dest, b1)
    first = {p.name: p.stat().st_mtime_ns for p in Path(dest).glob("*.parquet")}
    assert first
    refresh_label_dim(dest, b2)  # one genuinely-new pair → appended file(s)
    after = {p.name: p.stat().st_mtime_ns for p in Path(dest).glob("*.parquet")}
    assert set(first) <= set(after), "refresh rewrote existing dim files"
    assert all(after[n] == m for n, m in first.items()), "existing files touched"
    assert len(after) > len(first)
    got = {(r.name, r.value) for r in spark.read.parquet(dest).collect()}
    assert got == {("__name__", "cpu"), ("node", "a"), ("node", "b")}
    # idempotent refresh: nothing new → no new data files
    refresh_label_dim(dest, b2)
    again = {p.name for p in Path(dest).glob("*.parquet")}
    assert again == set(after)


def test_close_releases_memory_store_and_is_noop_on_disk(spark, tmp_path_factory):
    """TSDB.Close() parity (tsdb.go:372-382): memory mode releases the
    cached relation; disk mode holds nothing and close() is a no-op —
    the store stays queryable from disk afterwards."""
    from mandodb_spark import TSDB

    mem = TSDB(spark, None, only_memory=True)
    mem.insert_rows([("m", {"x": "1"}, 1_700_000_000, 1.0)])
    assert mem.query_range_rows("m", [], 0, 10**10).count() == 1
    mem.close()
    assert mem.query_range_rows("m", [], 0, 10**10).count() == 0  # fresh head

    disk = TSDB(spark, str(tmp_path_factory.mktemp("close") / "s"))
    disk.insert_rows([("m", {"x": "1"}, 1_700_000_000, 1.0)])
    disk.close()
    assert disk.query_range_rows("m", [], 0, 10**10).count() == 1  # durable


def test_tsdb_fsck_surface(spark, tmp_path_factory):
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path_factory.mktemp("fsck") / "s"))
    db.insert_rows([("m", {"a": "1"}, 1_700_000_000, 1.0)])
    assert db.fsck()["ok"]
    mem = TSDB(spark, None, only_memory=True)
    mem.insert_rows([("m", {"a": "1"}, 1_700_000_000, 1.0)])
    assert mem.fsck()["ok"] and mem.fsck()["segments"] == []
    assert mem.vacuum() == {"removed": [], "freed_bytes": 0, "dry_run": True}
    assert mem.compact() == [] and mem.compact(2) == []


def test_alert_intervals_for_duration_and_gap_semantics(spark):
    """Prometheus 'for' semantics: a condition run fires only after
    persisting for_duration; a scrape gap > max_gap splits the run (the
    staleness rule), resetting the pending timer."""
    from pyspark.sql import functions as F

    from mandodb_spark import TSDB
    from mandodb_spark.operators.tsdb_ops import alert_intervals

    db = TSDB(spark, None, only_memory=True)
    t0 = 1_700_000_000
    rows = []
    # series A: 5 hot samples every 60s (run of 240s -> fires at for=180)
    rows += [("cpu", {"n": "a"}, t0 + i * 60, 95.0) for i in range(5)]
    # ...then cold, then hot again for only 2 samples (60s -> pending)
    rows += [("cpu", {"n": "a"}, t0 + 300, 10.0)]
    rows += [("cpu", {"n": "a"}, t0 + 360 + i * 60, 99.0) for i in range(2)]
    # series B: hot samples with a 600s hole -> two separate runs
    rows += [("cpu", {"n": "b"}, t0 + i * 60, 91.0) for i in range(4)]
    rows += [("cpu", {"n": "b"}, t0 + 780 + i * 60, 91.0) for i in range(4)]
    db.insert_rows(rows)

    out = alert_intervals(
        db.store.relation(),
        F.col("value") > 90,
        for_duration=180,
        max_gap=120,
        metric="cpu",
    ).collect()
    got = sorted(
        (r.labels["n"], r.start_ts - t0, r.end_ts - t0, r.n_samples, r.firing)
        for r in out
    )
    assert got == [
        ("a", 0, 240, 5, True),       # persisted 240s >= 180 -> firing
        ("a", 360, 420, 2, False),    # only 60s hot -> pending
        ("b", 0, 180, 4, True),
        ("b", 780, 960, 4, True),     # the 600s hole split the runs
    ]


def test_tiered_range_spans_purged_history(spark, tmp_path_factory):
    """The retention-ladder read: after raw segments below the cutover are
    purged, query_range_tiered still serves those buckets from the
    materialized rollup tier, recent buckets from raw, and the union
    equals the pre-purge full recompute — no duplicates at the boundary,
    no lost history."""
    from pyspark.sql import functions as F

    from mandodb_spark import TSDB
    from mandodb_spark.operators.tsdb_ops import rollup_aggregate

    base = tmp_path_factory.mktemp("tiered")
    db = TSDB(spark, str(base / "store"), segment_duration=3600)
    t0 = 1_700_000_000 - (1_700_000_000 % 3600)
    rows = [
        ("m", {"n": f"v{i % 2}"}, t0 + i * 300, float(i)) for i in range(48)
    ]  # 4 hours of points, 2 series
    db.insert_rows(rows)
    dest = str(base / "rollup")
    db.materialize_rollup(dest, step=3600)

    start, end = t0, t0 + 4 * 3600 - 1
    cut = t0 + 2 * 3600  # first 2 hours from tier, rest from raw

    def key(r):
        return (r.series_key, r.bucket_ts)

    def val(r):
        return (r.n, round(r.avg_value, 6), r.min_value, r.max_value,
                round(r.sum_value, 6), r.last_value)

    want = {
        key(r): val(r)
        for r in rollup_aggregate(db.store.relation(), 3600).collect()
    }
    got_pre = {
        key(r): val(r)
        for r in db.query_range_tiered(dest, "m", [], start, end,
                                       step=3600, cutover_ts=cut).collect()
    }
    assert got_pre == want and len(want) == 8  # 2 series x 4 buckets

    # purge raw below the cutover (the tier now owns that history)
    removed = db.remove_expires(now_ts=cut + db.retention)
    assert removed  # old segments actually dropped
    got_post = {
        key(r): val(r)
        for r in db.query_range_tiered(dest, "m", [], start, end,
                                       step=3600, cutover_ts=cut).collect()
    }
    assert got_post == want

    # matchers apply on both sides of the union
    one = db.query_range_tiered(
        dest, "m", [LabelMatcher("n", "v0")], start, end,
        step=3600, cutover_ts=cut,
    )
    assert {r.labels["n"] for r in one.collect()} == {"v0"}
    # and a cutover beyond the range degrades to tier-only (raw side empty)
    tier_only = db.query_range_tiered(dest, "m", [], start, end,
                                      step=3600, cutover_ts=end + 3600)
    assert {key(r) for r in tier_only.collect()} == set(want)


def test_value_quantile_sketch_rollup(spark, tmp_path_factory):
    """Engine-surface DDSketch rollup: materialize per-seg sketches,
    estimate range quantiles within the alpha bound of exact, and
    incremental refresh leaves old partitions untouched."""
    import os

    from mandodb_spark import TSDB

    base = tmp_path_factory.mktemp("ddsq-engine")
    db = TSDB(spark, str(base / "store"), segment_duration=3600)
    t0 = 1_700_000_000 - (1_700_000_000 % 3600)
    vals = [float(i % 97) + 1 for i in range(300)]
    db.insert_rows([("m", {"n": "a"}, t0 + i * 36, v) for i, v in enumerate(vals)])
    dest = str(base / "q")
    db.materialize_value_quantile(dest)
    est = {r.q: r.est for r in
           db.query_quantile_sketch(dest, [0.5, 0.9], t0, t0 + 3 * 3600).collect()}
    in_range = sorted(vals[: 3600 * 3 // 36])
    for q in (0.5, 0.9):
        exact = in_range[int(q * (len(in_range) - 1))]
        assert abs(est[q] - exact) <= 0.011 * exact, (q, est[q], exact)
    before = {
        p: os.path.getmtime(os.path.join(dest, p))
        for p in os.listdir(dest) if p.startswith("seg=")
    }
    db.insert_rows([("m", {"n": "a"}, t0 + 4 * 3600 + i, 1000.0) for i in range(5)])
    db.materialize_value_quantile(dest, incremental=True)
    after = {
        p: os.path.getmtime(os.path.join(dest, p))
        for p in os.listdir(dest) if p.startswith("seg=")
    }
    assert set(after) > set(before)
    untouched = [p for p in before if p != max(before)]
    assert all(before[p] == after[p] for p in untouched)


def test_anomaly_scores_flags_spikes_not_baseline(spark):
    """Rolling-z anomaly detection: a planted spike is flagged against its
    own series' trailing window, normal samples are not, the warmup
    (min_points) rows are withheld, and a constant-baseline deviation is
    flagged via the NULL-z convention."""
    from mandodb_spark.model import canonicalize
    from mandodb_spark.operators.tsdb_ops import anomaly_scores

    t0 = 1_700_000_000
    rows = []
    # series a: gentle noise with one spike at i=30
    for i in range(60):
        v = 10.0 + (i % 5) * 0.1 + (100.0 if i == 30 else 0.0)
        rows.append(("m", {"n": "a"}, t0 + i * 60, v))
    # series b: constant, then a single step change
    for i in range(40):
        rows.append(("m", {"n": "b"}, t0 + i * 60, 5.0 if i != 35 else 6.0))
    rel = canonicalize(
        spark.createDataFrame(
            rows, "metric string, labels map<string,string>, ts long, value double"
        ).selectExpr("metric", "labels", "ts", "value"),
        7200,
    )
    out = anomaly_scores(rel, lookback=10, z_threshold=3.0, min_points=5).collect()
    a = {r.ts: r for r in out if r.labels["n"] == "a"}
    b = {r.ts: r for r in out if r.labels["n"] == "b"}
    # warmup withheld: first 5 samples of each series are unscored
    assert min(a) == t0 + 5 * 60 and min(b) == t0 + 5 * 60
    spike = a[t0 + 30 * 60]
    assert spike.is_anomaly and spike.z > 3
    normal = [r for ts, r in a.items() if ts != t0 + 30 * 60
              and ts != t0 + 31 * 60]  # the sample right after sees the spike in ITS window
    assert all(not r.is_anomaly for r in normal)
    step = b[t0 + 35 * 60]
    assert step.is_anomaly and step.z is None  # zero-spread baseline
    assert all(not r.is_anomaly for ts, r in b.items()
               if ts not in (t0 + 35 * 60,))


def test_engine_seasonal_and_cusum_surfaces(spark, tmp_path_factory):
    """TSDB.seasonal_decompose / TSDB.cusum: matcher-pruned per-series runs
    with labels re-attached; CUSUM flags a planted level shift."""
    from mandodb_spark import TSDB, LabelMatcher

    path = str(tmp_path_factory.mktemp("eng") / "s")
    db = TSDB(spark, path)
    base = 1_700_000_000
    rows = []
    for t in range(120):
        # series a: flat 5.0 then shifts to 9.0 at t=80; series b: flat
        rows.append(("m", {"n": "a"}, base + t * 60, 5.0 if t < 80 else 9.0))
        rows.append(("m", {"n": "b"}, base + t * 60, 3.0))
    db.insert_rows(rows)

    cu = db.cusum("m", [LabelMatcher("n", "a")], 0, 2**40, step=60,
                  target=5.0, sigma=1.0).collect()
    assert all(r.labels["n"] == "a" for r in cu)
    alarms = sorted(r.ts - base for r in cu if r.alarm)
    assert alarms and alarms[0] >= 80 * 60  # fires only after the shift

    sd = db.seasonal_decompose("m", [LabelMatcher("n", "b")], 0, 2**40,
                               step=60, period=3600).collect()
    assert len(sd) == 120 and all(r.labels["n"] == "b" for r in sd)
    for r in sd:
        assert r.seasonal == 0.0 and r.resid == 0.0 and r.trend == 3.0


def test_engine_lttb_surface(spark, tmp_path_factory):
    """TSDB.lttb: matcher-pruned per-series visual downsample keeps the
    planted spike and the series endpoints, one point per bucket."""
    from mandodb_spark import TSDB, LabelMatcher

    path = str(tmp_path_factory.mktemp("eng_lttb") / "s")
    db = TSDB(spark, path)
    base = 1_700_000_000
    rows = []
    for t in range(100):
        v = 2.0 + (80.0 if t == 37 else 0.0)
        rows.append(("m", {"n": "a"}, base + t * 60, v))
        rows.append(("m", {"n": "b"}, base + t * 60, 1.0))
    db.insert_rows(rows)

    out = db.lttb("m", [LabelMatcher("n", "a")], 0, 2**40,
                  bucket_width=20 * 60).collect()
    # epoch-aligned buckets: the 99-minute span straddles 6 x 20-min cells
    assert len(out) == 6 and all(r.labels["n"] == "a" for r in out)
    by_bucket = {r.bucket_ts: r for r in out}
    spike_bucket = (base + 37 * 60) // (20 * 60) * (20 * 60)
    assert by_bucket[spike_bucket].value == 82.0  # spike survives
    assert min(r.ts for r in out) == base        # endpoint rule
    assert max(r.ts for r in out) == base + 99 * 60


def test_run_curation_end_to_end(spark, tmp_path):
    """Declarative pipeline over planted data: short docs gated, exact
    and near dups collapsed, PII scrubbed, export manifests and verifies;
    a failing expectations rule fail-closes the export."""
    from mandodb_spark.pipelines import run_curation
    from mandodb_spark.sources import export as ex

    import random

    rng = random.Random(17)
    vocab = [f"w{j}" for j in range(400)]

    def doc():  # distinct content per doc so only PLANTED dups collide
        return " ".join(rng.sample(vocab, 30))

    rows = [(i, doc(), "web") for i in range(20)]
    rows += [(100, rows[0][1], "web"),               # exact dup of doc 0
             (101, rows[1][1] + " tiny", "web"),     # near dup of doc 1
             (102, "too short", "web"),              # gated
             (103, doc() + " contact me me@x.com now ok", "books")]  # PII
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    cfg = {
        "gates": {"min_tokens": 10},
        "dedup": {"exact": True, "near": {"threshold": 0.7}},
        "pii": True,
        "export": {"path": str(tmp_path / "drop"), "shards": 3},
    }
    rep = run_curation(spark, df, cfg)
    names = {s["name"]: s["rows"] for s in rep["stages"]}
    assert names["input"] == 24
    assert names["gates"] == 23          # doc 102 gated
    assert names["exact_dedup"] == 22    # doc 100 collapsed
    assert names["near_dedup"] == 21     # doc 101 collapsed
    assert rep["aborted"] is None and rep["exported"]["total_records"] == 21
    assert ex.verify_export(spark, str(tmp_path / "drop"))["ok"]
    back = ex.read_export(spark, str(tmp_path / "drop"))
    pii_row = back.filter("doc_id = 103").collect()[0]
    assert "me@x.com" not in pii_row["text"] and "<EMAIL>" in pii_row["text"]

    bad = dict(cfg, export={"path": str(tmp_path / "drop2"), "shards": 2},
               expectations=[{"col": "doc_id", "kind": "max", "value": 50}])
    rep2 = run_curation(spark, df, bad)
    assert rep2["aborted"] and rep2["exported"] is None
    import os
    assert not os.path.exists(str(tmp_path / "drop2"))


def test_run_curation_quality_model_gate(spark, tmp_path):
    """The trained-quality gate inside the declarative pipeline: a
    persisted classifier (quality_model: {"path": ...}) filters mash
    docs while clean prose passes, with its own accounting stage."""
    from mandodb_spark.operators.quality_model import (
        save_model,
        train_quality_classifier,
    )
    from mandodb_spark.pipelines import run_curation

    good = [(i, "the quick brown fox jumps over the lazy dog "
                f"number {i} and rests in the warm meadow", 1.0)
            for i in range(80)]
    bad = [(1000 + i, ("zx9$#@ qq%% " * 6) + f"!!{i}##", 0.0)
           for i in range(80)]
    train = spark.createDataFrame(good + bad,
                                  "doc_id long, text string, label double")
    mpath = str(tmp_path / "qm")
    save_model(train_quality_classifier(train, num_features=1 << 12), mpath)

    rows = [(i, t, "web") for i, t, _ in good[:10]] + \
           [(i, t, "web") for i, t, _ in bad[:5]]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    rep = run_curation(spark, df, {
        "quality_model": {"path": mpath, "min_prob": 0.5},
    })
    names = {s["name"]: s["rows"] for s in rep["stages"]}
    assert names["input"] == 15 and names["quality_model"] == 10


# ------------------------------------------------------------- exemplars

def test_exemplars_ingest_query_golden(spark, tmp_path):
    """Exemplar lifecycle + the verbatim /api/v1/query_exemplars JSON:
    ingest beside samples, matcher-filtered time-range query, per-series
    grouping with ts-sorted exemplar lists, Prometheus value formatting."""
    import json

    from mandodb_spark import TSDB, LabelMatcher
    from mandodb_spark.functions.promql_parser import (
        api_success,
        to_api_exemplars,
    )

    db = TSDB(spark, str(tmp_path / "store"))
    db.insert_exemplars([
        ("http_latency", {"job": "api"}, 120, 0.91,
         {"trace_id": "abc12"}),
        ("http_latency", {"job": "api"}, 100, 6.0,
         {"trace_id": "def34", "span_id": "s1"}),
        ("http_latency", {"job": "db"}, 110, 2.5, {"trace_id": "zzz99"}),
        ("http_latency", {"job": "api"}, 9000, 1.0, {"trace_id": "late"}),
    ])
    out = db.query_exemplars(
        "http_latency", [LabelMatcher("job", "api")], 0, 1000)
    payload = api_success(to_api_exemplars(out))
    golden = {
        "status": "success",
        "data": [
            {
                "seriesLabels": {"__name__": "http_latency", "job": "api"},
                "exemplars": [
                    {"labels": {"trace_id": "def34", "span_id": "s1"},
                     "value": "6", "timestamp": 100},
                    {"labels": {"trace_id": "abc12"},
                     "value": "0.91", "timestamp": 120},
                ],
            },
        ],
    }
    assert json.loads(json.dumps(payload)) == golden


def test_exemplars_retention_and_replay_dedup(spark, tmp_path):
    """The exemplar sibling store shares the retention cutoff and the
    store-dedup idempotency contract of the other stores."""
    from mandodb_spark import TSDB

    db = TSDB(spark, str(tmp_path / "store"), segment_duration=3600,
              retention=2 * 3600)
    rows = [("m", {"j": "a"}, 100, 1.0, {"trace_id": "t1"}),
            ("m", {"j": "a"}, 50_000, 2.0, {"trace_id": "t2"})]
    db.insert_exemplars(rows)
    db.insert_exemplars(rows, dedup_against_store=True)  # replay: no dupes
    got = db.query_exemplars("m", [], 0, 10**9).collect()
    assert len(got) == 1 and len(got[0]["exemplars"]) == 2
    db.remove_expires(now_ts=50_000)
    got = db.query_exemplars("m", [], 0, 10**9).collect()
    assert [e["ts"] for e in got[0]["exemplars"]] == [50_000]


def test_exemplars_memory_mode(spark):
    """only_memory TSDBs get the in-memory exemplar sibling."""
    from mandodb_spark import TSDB

    db = TSDB(spark, None, only_memory=True)
    db.insert_exemplars([("m", {}, 100, 1.5, {"trace_id": "t"})])
    got = db.query_exemplars("m", [], 0, 10**9).collect()
    assert len(got) == 1
    assert dict(got[0]["exemplars"][0]["labels"]) == {"trace_id": "t"}


def test_close_releases_sibling_memory_stores(spark):
    """TSDB.close releases the histogram and exemplar memory siblings'
    cached relations too, not just the float store's."""
    from mandodb_spark import TSDB

    db = TSDB(spark, None, only_memory=True)
    db.insert_histograms([("h", {}, 100,
                           {"count": 1.0, "sum": 2.5, "zero_count": 0.0,
                            "zero_threshold": 0.001, "schema": 3,
                            "pos": {11: 1.0}, "neg": {}})])
    db.insert_exemplars([("m", {}, 100, 1.0, {"trace_id": "t"})])
    assert db.hist_store._df is not None
    assert db.exemplar_store._df is not None
    db.close()
    assert db.hist_store._df is None
    assert db.exemplar_store._df is None


def test_federate_round_trips_instant_vector(spark):
    """TSDB.federate renders the matcher-selected instant vector as
    OpenMetrics lines that parse back to exactly those samples (the
    federation contract: a downstream engine scrapes and re-ingests)."""
    from mandodb_spark import TSDB, LabelMatcher
    from mandodb_spark.sources.loaders import rows_from_openmetrics

    db = TSDB(spark, None, only_memory=True)
    db.insert_rows([
        ("up", {"job": "api", "instance": "i1"}, 100, 1.0),
        ("up", {"job": "api", "instance": "i1"}, 160, 0.0),  # newest wins
        ("up", {"job": "db", "instance": "i2"}, 150, 1.0),
        ("mem", {"job": "api"}, 160, 42.5),
        ("up", {"job": "api", "instance": "old"}, 100, 1.0),
    ])
    lines = db.federate("up", [LabelMatcher("job", "api")], 200, lookback=60)
    back = rows_from_openmetrics(lines, text_col="line").collect()
    got = sorted((r.metric, tuple(sorted(r.labels.items())), r.ts, r.value)
                 for r in back)
    # lookback 60 at t=200 keeps ts>=140: i1's newest (160) and nothing
    # from the stale "old" instance; the db job is matcher-filtered out
    assert got == [
        ("up", (("instance", "i1"), ("job", "api")), 160, 0.0),
    ]
