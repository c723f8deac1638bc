"""Tests for ingestion adapters, SQL views, salted query_range, and the
storage tuning knobs."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mandodb_spark import TSDB, LabelMatcher
from mandodb_spark.sources import loaders
from mandodb_spark.sources.segment_store import SegmentStore

START = 1_700_000_000


def test_jsonl_loader_roundtrip(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("jsonl")
    lines = [
        {"metric": "cpu", "labels": {"node": "a"}, "ts": START, "value": 1.5},
        {"metric": "cpu", "labels": {"node": "b"}, "ts": START + 60, "value": 2.5},
    ]
    (base / "rows.jsonl").write_text("\n".join(json.dumps(x) for x in lines))
    rows = loaders.rows_from_jsonl(spark, str(base))
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(rows)
    out = db.query_range_rows("cpu", [], START, START + 100).orderBy("ts").collect()
    assert [(r.labels["node"], r.value) for r in out] == [("a", 1.5), ("b", 2.5)]


def test_flat_loader_prometheus_shape(spark):
    df = spark.createDataFrame(
        [("up", "vm0", None, START, 1.0), ("up", "vm1", "sh", START, 0.0)],
        "__name__ string, node string, dc string, ts long, value double",
    )
    rows = loaders.rows_from_flat(df).collect()
    by_node = {r.labels["node"]: r for r in rows}
    assert by_node["vm0"].metric == "up"
    assert "dc" not in by_node["vm0"].labels       # null label dropped
    assert by_node["vm1"].labels["dc"] == "sh"


def test_csv_loader(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("csv")
    (base / "rows.csv").write_text(
        "metric,ts,value,node,dc\ncpu,1700000000,1.0,vm0,sh\ncpu,1700000060,2.0,vm1,\n"
    )
    rows = loaders.rows_from_csv(spark, str(base), ["node", "dc"]).collect()
    assert len(rows) == 2
    assert {r.labels["node"] for r in rows} == {"vm0", "vm1"}


def test_sql_views(spark):
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows([("cpu", {"node": "a"}, START, 1.0), ("cpu", {"node": "b"}, START, 2.0)])
    db.create_views("t1")
    total = spark.sql("SELECT sum(value) AS s FROM t1_samples WHERE labels['node'] = 'b'").first().s
    assert total == 2.0
    labels = spark.sql("SELECT count(*) AS n FROM t1_labels WHERE name = 'node'").first().n
    assert labels == 2


def test_salted_query_range_equals_unsalted(spark):
    db = TSDB(spark, None, only_memory=True)
    rows = [("m", {"hot": "series"}, START + i, float(i)) for i in range(200)]
    rows += [("m", {"cold": "x"}, START + 5, 99.0)]
    db.insert_rows(rows)
    from mandodb_spark.operators import tsdb_ops

    rel = db.store.relation()
    plain = tsdb_ops.query_range(rel, "m", [], START, START + 500).collect()
    salted = tsdb_ops.query_range(rel, "m", [], START, START + 500, salt_partitions=8).collect()
    key = lambda r: sorted(r.labels.items())
    plain.sort(key=key)
    salted.sort(key=key)
    assert len(plain) == len(salted) == 2
    for a, b in zip(plain, salted):
        assert a.labels == b.labels
        assert [(p.ts, p.value) for p in a.points] == [(p.ts, p.value) for p in b.points]


def test_influx_line_protocol_parses_jvm_side(spark):
    from mandodb_spark.sources.loaders import rows_from_influx_line

    lines = spark.createDataFrame(
        [
            ("cpu,host=web1,dc=east value=3.14 1700000000",),
            ("mem,host=web2 value=-2.5e1 1700000060",),
            ("tiny,host=web3 value=1.5e-3 1700000090",),
            ("bare_metric value=1 1700000120",),
            ("badval,host=web4 value=not_a_number 1700000150",),
            ("garbage line without structure",),
            ("",),
        ],
        "value string",
    )
    rows = rows_from_influx_line(lines).collect()
    by_metric = {r.metric: r for r in rows}
    # badval parses metric+ts but its value is unparseable → dropped, not null
    assert set(by_metric) == {"cpu", "mem", "tiny", "bare_metric"}
    assert by_metric["tiny"].value == 1.5e-3
    cpu = by_metric["cpu"]
    assert cpu.labels == {"host": "web1", "dc": "east"}
    assert (cpu.ts, cpu.value) == (1700000000, 3.14)
    assert by_metric["mem"].value == -25.0
    assert by_metric["bare_metric"].labels == {}


def test_influx_line_round_trip_is_identity(spark):
    """rows → line protocol → rows must be the identity on canonical rows
    (sorted tags = canonical label order; simplified dialect both ways)."""
    from mandodb_spark.model import canonicalize
    from mandodb_spark.sources.loaders import rows_from_influx_line, to_influx_line
    from mandodb_spark import ROW_SCHEMA

    rows = [
        ("cpu", {"node": "vm0", "dc": "sh"}, 1_700_000_000, 0.75),
        ("cpu", {"node": "vm1"}, 1_700_000_060, -1.5e-3),
        ("mem", {}, 1_700_000_120, 42.0),
    ]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    lines = to_influx_line(rel)
    back = rows_from_influx_line(lines, text_col="line")
    orig = {(r.labels["__name__"], tuple(sorted(r.labels.items())), r.ts, r.value)
            for r in rel.select("labels", "ts", "value").collect()}
    got = {(r.metric, tuple(sorted({**r.labels, "__name__": r.metric}.items())), r.ts, r.value)
           for r in back.collect()}
    assert orig == got


def _emb_fixture(spark, n=64, dim=8, seed=7):
    """Deterministic float vectors with ids 0..n-1 (ids < n_cells double as
    the stub codebook, mirroring ivf_cells)."""
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vector_index_probe_matches_inline_ivf_topk(spark, tmp_path_factory):
    """The persisted index is a storage layout, not a semantics change:
    topk from the cell-partitioned index == ivf_topk computed inline with
    the same codebook/probe/k."""
    from mandodb_spark.operators.similarity import ivf_cells, ivf_topk
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark)
    cents = ivf_cells(df, "vec_id", "embedding", 8)
    q = df.filter(F.col("vec_id") == 42).select(F.col("embedding").alias("qe"))

    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidx") / "ivf"))
    idx.build(df, "vec_id", "embedding", cents)
    got = sorted((r.vec_id, r.cos_sim) for r in idx.topk(q, n_probe=3, k=5).collect())
    want = sorted(
        (r.vec_id, r.cos_sim)
        for r in ivf_topk(df, "vec_id", "embedding", q,
                          n_cells=8, n_probe=3, k=5, centroids=cents).collect()
    )
    assert got == want and len(got) == 5


def test_vector_index_append_equals_fresh_build(spark, tmp_path_factory):
    """Incremental maintenance duality: build(batch1) + append(batch2)
    answers every probe exactly like a fresh build over the union — and
    the appended rows land in the same cell partitions the full build
    assigns them to."""
    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=80)
    first, second = df.filter(F.col("vec_id") < 60), df.filter(F.col("vec_id") >= 60)
    cents = ivf_cells(df, "vec_id", "embedding", 8)

    base = tmp_path_factory.mktemp("vidx2")
    inc = VectorIndex(spark, str(base / "inc"))
    inc.build(first, "vec_id", "embedding", cents)
    inc.append(second, "vec_id", "embedding")
    full = VectorIndex(spark, str(base / "full"))
    full.build(df, "vec_id", "embedding", cents)

    a = sorted((r.vec_id, r.cell) for r in inc.relation().select("vec_id", "cell").collect())
    b = sorted((r.vec_id, r.cell) for r in full.relation().select("vec_id", "cell").collect())
    assert a == b and len(a) == 80

    q = df.filter(F.col("vec_id") == 70).select(F.col("embedding").alias("qe"))
    got = sorted((r.vec_id, r.cos_sim) for r in inc.topk(q, 3, 5).collect())
    want = sorted((r.vec_id, r.cos_sim) for r in full.topk(q, 3, 5).collect())
    assert got == want


def test_vector_index_streaming_maintenance(spark, tmp_path_factory):
    """append() under foreachBatch: a two-batch embedding stream maintains
    the same index a batch build produces (streaming ANN ingest)."""
    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=40)
    base = tmp_path_factory.mktemp("vidx3")
    src, ckpt = str(base / "src"), str(base / "ckpt")
    df.filter(F.col("vec_id") < 25).coalesce(1).write.mode("append").parquet(src)

    idx = VectorIndex(spark, str(base / "stream"))
    idx.build(spark.createDataFrame([], "vec_id long, embedding array<float>"),
              "vec_id", "embedding", ivf_cells(df, "vec_id", "embedding", 8))

    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src)
    q = stream.writeStream.foreachBatch(
        lambda b, _i: idx.append(b, "vec_id", "embedding")
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)
    df.filter(F.col("vec_id") >= 25).coalesce(1).write.mode("append").parquet(src)
    q = spark.readStream.schema("vec_id long, embedding array<float>").parquet(src) \
        .writeStream.foreachBatch(
            lambda b, _i: idx.append(b, "vec_id", "embedding")
        ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    full = VectorIndex(spark, str(base / "full"))
    full.build(df, "vec_id", "embedding", ivf_cells(df, "vec_id", "embedding", 8))
    a = sorted((r.vec_id, r.cell) for r in idx.relation().select("vec_id", "cell").collect())
    b = sorted((r.vec_id, r.cell) for r in full.relation().select("vec_id", "cell").collect())
    assert a == b and len(a) == 40


def test_vector_index_compact_merges_files_and_preserves_probes(spark, tmp_path_factory):
    """Three appends leave multiple files per cell; compact() restores one
    file per cell partition and changes neither the rows nor any probe
    result."""
    from pathlib import Path

    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=60)
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidxc") / "ivf"))
    idx.build(df.filter(F.col("vec_id") < 20), "vec_id", "embedding",
              ivf_cells(df, "vec_id", "embedding", 4))
    for lo in (20, 40):
        idx.append(df.filter(F.col("vec_id").between(lo, lo + 19)),
                   "vec_id", "embedding")
    q = df.filter(F.col("vec_id") == 33).select(F.col("embedding").alias("qe"))
    before = sorted((r.vec_id, r.cos_sim) for r in idx.topk(q, 2, 5).collect())
    rows_before = sorted(r.vec_id for r in idx.relation().select("vec_id").collect())

    data = Path(idx.root) / "data"
    files_per_cell = lambda: {
        d.name: len(list(d.glob("*.parquet"))) for d in data.glob("cell=*")
    }
    assert any(n > 1 for n in files_per_cell().values())
    idx.compact()
    assert all(n == 1 for n in files_per_cell().values())
    assert sorted(r.vec_id for r in idx.relation().select("vec_id").collect()) == rows_before
    assert sorted((r.vec_id, r.cos_sim) for r in idx.topk(q, 2, 5).collect()) == before


def test_vector_index_drift_trigger_and_rebuild_restore_recall(spark, tmp_path_factory):
    """Index lifecycle (VERDICT r5 item 6): appending a SHIFTED distribution
    drops the mean assignment cosine below the build-time baseline
    (needs_rebuild fires); rebuild() re-trains the codebook with k-means
    over the current rows and restores both the drift metric and probe
    recall vs brute-force cosine."""
    import random

    from mandodb_spark.operators.similarity import cosine_topk, ivf_cells_kmeans
    from mandodb_spark.sources.vector_index import VectorIndex

    rng = random.Random(11)
    dim = 8
    # build-time distribution: tight cluster around +1 in the first coords
    base_rows = [
        (i, [1.0 + rng.uniform(-0.1, 0.1) if d < 4 else rng.uniform(-0.1, 0.1)
             for d in range(dim)])
        for i in range(60)
    ]
    # shifted distribution: orthogonal cluster (last coords dominant)
    shift_rows = [
        (100 + i, [rng.uniform(-0.1, 0.1) if d < 4 else 1.0 + rng.uniform(-0.1, 0.1)
                   for d in range(dim)])
        for i in range(60)
    ]
    base = spark.createDataFrame(base_rows, "vec_id long, embedding array<float>")
    shifted = spark.createDataFrame(shift_rows, "vec_id long, embedding array<float>")

    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidxd") / "ivf"))
    idx.build(base, "vec_id", "embedding",
              ivf_cells_kmeans(base, "embedding", 4, seed=3))
    assert not idx.needs_rebuild(max_drop=0.02)

    idx.append(shifted, "vec_id", "embedding")
    d = idx.drift()
    assert d["drop"] > 0.02, f"shifted append should drop assignment quality: {d}"
    assert idx.needs_rebuild(max_drop=0.02)

    # recall of a shifted-cluster probe BEFORE rebuild: the frozen codebook
    # has no centroid near the new cluster, so 1-probe search misses
    q = shifted.filter(F.col("vec_id") == 130).select(F.col("embedding").alias("qe"))
    rel = idx.relation()
    truth = {r.vec_id for r in cosine_topk(rel, "vec_id", "vec", q, 5).collect()}

    idx.rebuild(seed=3)
    d2 = idx.drift()
    assert d2["drop"] is not None and d2["drop"] <= 1e-9  # baseline reset
    assert not idx.needs_rebuild(max_drop=0.02)
    got = {r.vec_id for r in idx.topk(q, n_probe=1, k=5).collect()}
    assert got == truth, "post-rebuild 1-probe recall must match brute force"
    # rows survived the rewrite
    assert idx.relation().count() == 120


def test_vector_index_rejects_zero_norm_vectors(spark, tmp_path_factory):
    """ADVICE r5: a zero-norm vector must fail loudly, not land in cell 0."""
    import pytest as _pytest

    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=16)
    bad = df.union(
        spark.createDataFrame([(99, [0.0] * 8)], "vec_id long, embedding array<float>")
    )
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidxz") / "ivf"))
    with _pytest.raises(Exception, match="zero-norm"):
        idx.build(bad, "vec_id", "embedding", ivf_cells(df, "vec_id", "embedding", 4))


def test_vector_index_empty_build_readable_before_append(spark, tmp_path_factory):
    """ADVICE r5: an index built empty (streaming bootstrap) must expose an
    empty relation immediately — not fail schema inference on a dataless
    directory."""
    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=16)
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidxe") / "ivf"))
    idx.build(spark.createDataFrame([], "vec_id long, embedding array<float>"),
              "vec_id", "embedding", ivf_cells(df, "vec_id", "embedding", 4))
    assert idx.relation().count() == 0
    assert idx.exists()
    idx.append(df, "vec_id", "embedding")
    assert idx.relation().count() == 16


def test_vector_index_batch_knn_join_matches_inline(spark, tmp_path_factory):
    """Index-backed batch ANN == the inline knn_join with the same
    codebook/probe/k — and its scan is statically pruned to the union of
    probed cells (PartitionFilters), never the whole index."""
    from mandodb_spark.operators.similarity import ivf_cells, knn_join
    from mandodb_spark.plans import formatted_plan
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=80)
    cents = ivf_cells(df, "vec_id", "embedding", 8)
    queries = df.filter(F.col("vec_id").isin(5, 42, 77)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidxk") / "ivf"))
    idx.build(df, "vec_id", "embedding", cents)

    got = idx.knn_join(queries, "qid", "qe", k=5, n_probe=3)
    want = knn_join(df, "vec_id", "embedding", queries, "qid", "qe",
                    k=5, n_probe=3, centroids=cents)
    g = sorted((r.qid, r.vec_id, r.cos_sim, r.rank) for r in got.collect())
    w = sorted((r.qid, r.vec_id, r.cos_sim, r.rank) for r in want.collect())
    assert g == w and len(g) == 15
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan


def test_zorder_layout_prunes_files_in_both_dimensions(spark, tmp_path):
    """Z-order vs linear layout A/B on the real events table, measured from
    actual Parquet footer min/max stats (what a pruning scan sees): the
    1-D ts sort cannot skip any file for a user_id predicate, the Z-curve
    over (ts, user_id) skips files in BOTH dimensions."""
    from mandodb_spark.sources import layout

    df = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select(
            F.col("ts").cast("timestamp").cast("long").alias("ts_l"),
            "user_id",
            "event_type",
            "value",
        )
    )
    # enough files that a curve segment resolves both dimensions (with too
    # few files each covers whole quadrants and only the leading dim prunes)
    n_files = 16
    lin, zo = str(tmp_path / "linear"), str(tmp_path / "zorder")
    layout.write_linear(df, lin, "ts_l", n_files)
    layout.write_zordered(df, zo, ["ts_l", "user_id"], n_files)

    # layout rewrite preserves content exactly
    a = sorted(map(tuple, spark.read.parquet(lin).collect()))
    b = sorted(map(tuple, spark.read.parquet(zo).collect()))
    assert a == b and len(a) == df.count()

    ts_lo, ts_hi = df.approxQuantile("ts_l", [0.4, 0.5], 0.001)
    user_box = {"user_id": (10, 28)}            # ~1/8 of the user range
    ts_box = {"ts_l": (ts_lo, ts_hi)}           # ~10% of the time range
    both_box = {**user_box, **ts_box}

    lin_user = layout.files_overlapping(lin, user_box)
    zo_user = layout.files_overlapping(zo, user_box)
    lin_ts = layout.files_overlapping(lin, ts_box)
    zo_ts = layout.files_overlapping(zo, ts_box)
    zo_both = layout.files_overlapping(zo, both_box)

    # the 1-D sort is blind to user_id: every file must be opened
    assert lin_user[0] == lin_user[1]
    # the Z-curve skips files on the non-leading dimension (measured run:
    # 5/16 opened vs linear's 16/16)
    assert zo_user[0] <= lin_user[0] // 2
    # ...while still pruning on time — less tightly than the dedicated
    # 1-D sort (11/16 vs 3/16): the documented Z-order trade
    assert lin_ts[0] <= 4
    assert zo_ts[0] < zo_ts[1]
    # conjunctive box: at least as tight as the weaker single-dim cut
    assert zo_both[0] <= min(zo_user[0], zo_ts[0])


def test_relayout_swaps_in_zordered_files_under_a_live_reader(spark, tmp_path):
    from mandodb_spark.sources import layout

    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(F.col("ts").cast("timestamp").cast("long").alias("ts_l"), "user_id", "value")
    )
    path = str(tmp_path / "live")
    layout.write_linear(df, path, "ts_l", 16)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    layout.relayout(spark, path, ["ts_l", "user_id"], 16)
    # a fresh read (the re-query path) sees the full content; a DataFrame
    # object created pre-swap pins its DSv2 file index and must be
    # re-created — the same contract Delta documents for OPTIMIZE
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert before == after
    hit, total = layout.files_overlapping(path, {"user_id": (10, 28)})
    assert hit < total  # the live dir is now multi-dim clustered
    from pathlib import Path as _P

    assert not _P(f"{path}__relayout").exists() and not _P(f"{path}__old").exists()


def test_write_audit_publish_gates_bad_versions(spark, tmp_path):
    """WAP: a passing audit publishes atomically; a failing (or raising)
    audit leaves the live version untouched and retains the candidate."""
    from pathlib import Path

    from mandodb_spark.sources.publish import write_audit_publish

    dest = str(tmp_path / "corpus")
    v1 = spark.createDataFrame([(i, "ok") for i in range(100)], "id long, t string")
    checks = {
        "rows": lambda d: d.count() >= 50,
        "no_null_text": lambda d: d.filter(F.col("t").isNull()).count() == 0,
    }
    r1 = write_audit_publish(spark, v1, dest, checks)
    assert r1["published"] and all(r1["checks"].values())
    assert spark.read.parquet(dest).count() == 100

    # v2 fails the row floor -> v1 stays live, candidate retained
    v2 = spark.createDataFrame([(1, None)], "id long, t string")
    r2 = write_audit_publish(spark, v2, dest, checks)
    assert not r2["published"]
    assert r2["checks"] == {"rows": False, "no_null_text": False}
    assert spark.read.parquet(dest).count() == 100          # untouched
    assert Path(r2["staging"]).exists()                      # inspectable

    # a RAISING check is a failed check, never a publish
    def boom(d):
        raise RuntimeError("audit bug")
    r3 = write_audit_publish(spark, v1, dest, {"boom": boom}, keep_failed=False)
    assert not r3["published"] and "audit bug" in r3["errors"]["boom"]
    assert not Path(f"{dest}__wap").exists()                 # cleaned
    # empty checks dict never publishes (explicit audits required)
    r4 = write_audit_publish(spark, v1, dest, {})
    assert not r4["published"]
    assert spark.read.parquet(dest).count() == 100


def test_vector_index_pq_sidecar_adc_and_rerank(spark, tmp_path_factory):
    """IVF-PQ sidecar: topk_adc over the persisted codes tree must equal
    the inline pq_adc_topk restricted to the probed cells (same codebooks,
    same integer micro-unit arithmetic), appended batches are searchable,
    exact re-rank returns true cosine order, and rebuild drops the
    (stale) sidecar."""
    from mandodb_spark.operators.similarity import ivf_cells, pq_adc_topk
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=80)
    first, second = df.filter(F.col("vec_id") < 60), df.filter(F.col("vec_id") >= 60)
    cents = ivf_cells(df, "vec_id", "embedding", 8)

    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vpq") / "ivfpq"))
    idx.build(first, "vec_id", "embedding", cents)
    idx.attach_pq(m=4, ksub=16, kmeans=False)   # stub codebooks: deterministic
    idx.append(second, "vec_id", "embedding")   # sidecar maintained in-pass
    assert idx.has_pq()

    q = df.filter(F.col("vec_id") == 42).select(F.col("embedding").alias("qe"))
    got = [(r.vec_id, r.adc_d2) for r in idx.topk_adc(q, n_probe=3, k=5).collect()]
    assert len(got) == 5

    # equivalence: inline ADC over the float rows of the SAME probed cells
    qvec = list(q.first()[0])
    cells = idx.probe_cells(qvec, 3)
    inline_src = idx.relation().where(F.col("cell").isin(cells)).select(
        "vec_id", F.col("vec").alias("embedding"))
    want = [(r.vec_id, r.adc_d2) for r in pq_adc_topk(
        inline_src, "vec_id", "embedding", q, idx.pq_codebooks(), k=5).collect()]
    assert got == want

    # appended rows are ADC-searchable: query near an appended vector
    q2 = df.filter(F.col("vec_id") == 70).select(F.col("embedding").alias("qe"))
    wide = {r.vec_id for r in idx.topk_adc(q2, n_probe=8, k=10).collect()}
    assert 70 in wide

    # exact re-rank: output is true cosine, descending
    rr = idx.topk_adc(q, n_probe=3, k=5, rerank=20).collect()
    assert [r.cos_sim for r in rr] == sorted((r.cos_sim for r in rr), reverse=True)
    assert len(rr) == 5

    # compact preserves ADC answers and restores one-file-per-cell
    idx.compact()
    assert [(r.vec_id, r.adc_d2) for r in idx.topk_adc(q, 3, 5).collect()] == got

    # rebuild swaps the root -> sidecar is gone until re-attached
    idx.rebuild()
    assert not idx.has_pq()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="attach_pq"):
        idx.topk_adc(q, 3, 5)


def test_vector_index_fsck_detects_sidecar_divergence(spark, tmp_path_factory):
    from pathlib import Path

    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=40)
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vfsck") / "i"))
    idx.build(df.filter(F.col("vec_id") < 30), "vec_id", "embedding",
              ivf_cells(df, "vec_id", "embedding", 4))
    idx.attach_pq(m=4, ksub=8, kmeans=False)
    assert idx.fsck()["ok"]

    # simulate an interrupted append: float tree got the rows, codes didn't
    extra = df.filter(F.col("vec_id") >= 30)
    cb = idx.centroids().orderBy("cell").collect()
    idx._write_rows(idx._assign(extra, "vec_id", "embedding", cb), idx._data, "append")
    r = idx.fsck()
    assert not r["ok"] and r["pq_missing"] == 10 and r["pq_extra"] == 0

    # re-encoding heals it
    idx.attach_pq(m=4, ksub=8, kmeans=False)
    assert idx.fsck()["ok"]

    # a corrupt footer is flagged
    victim = next(Path(idx._data).rglob("*.parquet"))
    victim.write_bytes(b"not parquet")
    assert idx.fsck()["corrupt"]


def test_vector_index_batch_adc_matches_single_probe_loop(spark, tmp_path_factory):
    """knn_join_adc must answer every query exactly like looping
    topk_adc (same probes, same integer ADC arithmetic, same tie rule)."""
    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = _emb_fixture(spark, n=60)
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vbadc") / "i"))
    idx.build(df, "vec_id", "embedding", ivf_cells(df, "vec_id", "embedding", 8))
    idx.attach_pq(m=4, ksub=16, kmeans=False)

    qids = [3, 17, 42]
    queries = df.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    batch = idx.knn_join_adc(queries, "qid", "qv", k=5, n_probe=3).collect()
    got = {}
    for r in batch:
        got.setdefault(r.qid, []).append((r.rank, r.vec_id, r.adc_d2))
    for qid in qids:
        q = df.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qe"))
        want = [(i + 1, r.vec_id, r.adc_d2) for i, r in
                enumerate(idx.topk_adc(q, n_probe=3, k=5).collect())]
        assert sorted(got[qid]) == want, f"qid {qid}"


def test_with_provenance_stable_and_unique(spark, tmp_path_factory):
    from mandodb_spark.sources.loaders import with_provenance

    base = tmp_path_factory.mktemp("prov")
    p = str(base / "t.parquet")
    spark.range(500).selectExpr("id", "id * 2 AS v").repartition(4).write.parquet(p)

    df = with_provenance(spark.read.parquet(p))
    rows = df.collect()
    assert len(rows) == 500
    # unique per row, stable across re-reads
    ids = {r.prov_id for r in rows}
    assert len(ids) == 500
    again = {r.prov_id for r in with_provenance(spark.read.parquet(p)).collect()}
    assert again == ids
    # id maps back to the same payload on re-read
    m1 = {r.prov_id: r.id for r in rows}
    m2 = {r.prov_id: r.id for r in with_provenance(spark.read.parquet(p)).collect()}
    assert m1 == m2
    # row indices are within-file counters
    by_file = {}
    for r in rows:
        by_file.setdefault(r.src_file, []).append(r.src_row)
    for idxs in by_file.values():
        assert sorted(idxs) == list(range(len(idxs)))


def test_file_ledger_process_once_flow(spark, tmp_path_factory):
    """Two-run incremental flow: run 1 sees the first drop only; run 2
    sees exactly the new files; run 3 sees nothing.  max_files bounds a
    backfill run and drains deterministically in sorted order."""
    from mandodb_spark.sources.ledger import FileLedger

    base = tmp_path_factory.mktemp("ledger")
    src, led = str(base / "src"), str(base / "led")
    spark.range(0, 100).coalesce(1).write.mode("append").parquet(src)

    lg = FileLedger(spark, led)
    df1, p1 = lg.unprocessed(src)
    assert df1.count() == 100 and len(p1) == 1
    lg.mark(p1)

    # second drop: two more files
    spark.range(100, 150).coalesce(1).write.mode("append").parquet(src)
    spark.range(150, 160).coalesce(1).write.mode("append").parquet(src)
    df2, p2 = lg.unprocessed(src)
    assert len(p2) == 2 and df2.count() == 60
    assert set(p2).isdisjoint(p1)
    lg.mark(p2)

    df3, p3 = lg.unprocessed(src)
    assert df3 is None and p3 == []

    # throttled backfill: new 3-file drop drained 1 file per run, sorted
    for i in range(3):
        spark.range(1000 + i, 1001 + i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    seen = []
    while True:
        df, ps = lg.unprocessed(src, max_files=1)
        if df is None:
            break
        assert len(ps) == 1
        seen.extend(ps)
        lg.mark(ps)
    assert len(seen) == 3 and seen == sorted(seen)


def test_export_jsonl_roundtrip_and_verify(spark, tmp_path):
    """Export → manifest verifies clean; corrupting one shard file flips
    exactly that file to mismatched; read_export returns the original
    rows; re-export of identical input is byte-reproducible (same
    manifest hashes)."""
    import os

    from mandodb_spark.sources import export as ex

    df = spark.createDataFrame(
        [(i, f"doc {i}", float(i) / 4) for i in range(40)],
        "doc_id long, text string, score double")
    p = str(tmp_path / "drop")
    m1 = ex.export_jsonl_shards(spark, df, p, "doc_id", n_shards=4)
    assert m1["total_records"] == 40 and len(m1["files"]) == 4
    assert ex.verify_export(spark, p)["ok"]

    back = ex.read_export(spark, p)
    assert back.columns == ["doc_id", "text", "score"]
    assert sorted(r.doc_id for r in back.collect()) == list(range(40))

    m2 = ex.export_jsonl_shards(spark, df, str(tmp_path / "drop2"),
                                "doc_id", n_shards=4)
    assert [f["sha256"] for f in m2["files"]] == [f["sha256"] for f in m1["files"]]

    victim = os.path.join(p, m1["files"][0]["file"])
    with open(victim, "ab") as fh:
        fh.write(b"{}\n")
    # Drop Hadoop's local-FS CRC sidecar: on a real object store there is
    # no sidecar and the corrupted bytes are served; locally the sidecar
    # would fail the read with ChecksumException before the manifest diff
    # (same failure class, just louder).
    crc = os.path.join(os.path.dirname(victim),
                       "." + os.path.basename(victim) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark.catalog.clearCache()
    rep = ex.verify_export(spark, p)
    assert not rep["ok"] and rep["mismatched"] == [m1["files"][0]["file"]]
    assert not rep["missing"] and not rep["extra"]


def test_text_index_matches_scan_path_bm25(spark, tmp_path):
    """Index-path ≡ scan-path: TextIndex.search returns byte-identical
    (id, score, rank) to text.bm25_topk over the same corpus, and
    build(half) + append(half) ≡ build(all) — the additive stats are
    exact."""
    from mandodb_spark.operators.text import bm25_topk
    from mandodb_spark.sources.text_index import TextIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    terms = ["spark", "shuffle", "window", "the"]
    want = [(r["doc_id"], r["score"], r["rank"])
            for r in bm25_topk(docs, "doc_id", "text", terms, k=15).collect()]

    idx = TextIndex(spark, str(tmp_path / "tidx"), n_buckets=16)
    idx.build(docs, "doc_id", "text")
    got = [(r["id"], r["score"], r["rank"]) for r in idx.search(terms, k=15).collect()]
    assert got == want

    inc = TextIndex(spark, str(tmp_path / "tidx2"), n_buckets=16)
    inc.build(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text")
    inc.append(docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text")
    got2 = [(r["id"], r["score"], r["rank"]) for r in inc.search(terms, k=15).collect()]
    assert got2 == want


def test_text_index_fsck_flags_tampered_stats(spark, tmp_path):
    """fsck recomputes the claimed stats from doclen: a stats row that
    drifts from the data (simulated partial-failure) flips stats_match
    and ok; a clean index passes all three checks."""
    from mandodb_spark.sources.text_index import TextIndex

    idx = TextIndex(spark, str(tmp_path / "ti"), n_buckets=4)
    docs = spark.createDataFrame([(1, "a b c"), (2, "d e")],
                                 "doc_id long, text string")
    idx.build(docs, "doc_id", "text")
    idx.build_positions(docs, "doc_id", "text")
    assert idx.fsck() == {"ok": True, "stats_match": True,
                          "misplaced_postings": 0, "orphan_postings": 0,
                          "misplaced_positions": 0, "orphan_positions": 0}
    idx._write_stats(spark.createDataFrame(
        [(99, 99, 99)], "n_docs long, n_dl long, sum_dl long"))
    spark.catalog.clearCache()
    rep = idx.fsck()
    assert not rep["ok"] and not rep["stats_match"]
    assert rep["misplaced_postings"] == 0 and rep["orphan_postings"] == 0


def test_phrase_search_matches_python_reference(spark, tmp_path):
    """Positional phrase search ≡ a direct token-window scan: same doc
    ids and same occurrence counts, including repeated-token phrases and
    multiple matches per document."""
    from mandodb_spark.sources.text_index import TextIndex

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    idx = TextIndex(spark, str(tmp_path / "ti"), n_buckets=16)
    idx.build_positions(docs, "doc_id", "text")

    rows = [(r["doc_id"], (r["text"] or "").lower().split(" "))
            for r in docs.collect()]

    def py_phrase(phrase):
        out = {}
        k = len(phrase)
        for did, toks in rows:
            n = sum(1 for i in range(len(toks) - k + 1)
                    if toks[i:i + k] == phrase)
            if n:
                out[did] = n
        return out

    # pick a phrase guaranteed to exist: first doc's first two tokens
    first = next(t for _, t in rows if len(t) >= 3)
    probes = [first[:2], first[:3], ["zzz", "qqq"], [first[0], first[0]]]
    for phrase in probes:
        want = py_phrase(phrase)
        got = {r["id"]: r["n_matches"]
               for r in idx.phrase_search(phrase).collect()}
        assert got == want, phrase


def test_text_index_prefix_search(spark, tmp_path):
    """Prefix expansion: dictionary-bounded wildcard search equals a
    direct multi-term search over the expanded set; over-broad prefixes
    raise instead of scanning the corpus."""
    import pytest as _pytest

    from mandodb_spark.sources.text_index import TextIndex

    docs = spark.createDataFrame(
        [(0, "sparkle spark sparta"), (1, "spark plug"), (2, "nothing here"),
         (3, "sparrow song")], "doc_id long, text string")
    idx = TextIndex(spark, str(tmp_path / "ti"), n_buckets=8)
    idx.build(docs, "doc_id", "text")
    assert idx.expand_prefix("spar") == ["spark", "sparkle", "sparrow", "sparta"]
    got = {r["id"] for r in idx.search_prefix("spar", k=10).collect()}
    assert got == {0, 1, 3}
    direct = [(r["id"], r["score"]) for r in
              idx.search(["spark", "sparkle", "sparrow", "sparta"], k=10).collect()]
    via = [(r["id"], r["score"]) for r in idx.search_prefix("spar", k=10).collect()]
    assert via == direct
    with _pytest.raises(ValueError, match="more than"):
        idx.expand_prefix("s", max_terms=2)
    assert idx.search_prefix("zzz", k=5).count() == 0


def test_export_compressed_roundtrip(spark, tmp_path):
    """gzip-compressed export: manifest hashes the compressed bytes,
    verify passes, read-back decompresses transparently."""
    from mandodb_spark.sources import export as ex

    df = spark.createDataFrame([(i, "x" * 50) for i in range(25)],
                               "doc_id long, text string")
    p = str(tmp_path / "gz")
    m = ex.export_jsonl_shards(spark, df, p, "doc_id", n_shards=2,
                               compression="gzip")
    assert m["total_records"] == 25
    assert all(f["file"].endswith(".gz") for f in m["files"])
    assert ex.verify_export(spark, p)["ok"]
    assert ex.read_export(spark, p).count() == 25


def test_text_index_require_all(spark, tmp_path):
    """Boolean-AND search: only docs containing every query term rank;
    OR mode (default) is unchanged and scores match the scan path."""
    from mandodb_spark.sources.text_index import TextIndex

    docs = spark.createDataFrame(
        [(0, "spark shuffle join"), (1, "spark only here"),
         (2, "shuffle alone"), (3, "spark shuffle again")],
        "doc_id long, text string")
    idx = TextIndex(spark, str(tmp_path / "ti"), n_buckets=8)
    idx.build(docs, "doc_id", "text")
    both = {r["id"] for r in idx.search(["spark", "shuffle"], k=10,
                                        require_all=True).collect()}
    assert both == {0, 3}
    any_ = {r["id"] for r in idx.search(["spark", "shuffle"], k=10).collect()}
    assert any_ == {0, 1, 2, 3}


def test_remote_write_round_trip_is_identity(spark):
    """rows → prompb TimeSeries rows → rows is the identity on canonical
    rows (remote-write shaper: label list includes __name__, sample
    timestamps are milliseconds) — duplicate (series, ts) samples are
    multiset-preserved, like the wire format."""
    from mandodb_spark.model import canonicalize
    from mandodb_spark.sources.loaders import (
        rows_from_remote_write,
        to_remote_write,
    )
    from mandodb_spark import ROW_SCHEMA

    rows = [
        ("cpu", {"node": "vm0", "dc": "sh"}, 1_700_000_000, 0.75),
        ("cpu", {"node": "vm0", "dc": "sh"}, 1_700_000_000, 0.75),  # dup
        ("cpu", {"node": "vm1"}, 1_700_000_060, -1.5e-3),
        ("mem", {}, 1_700_000_120, 42.0),
    ]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    wire = to_remote_write(rel)
    # one TimeSeries per series; samples are ms-stamped and ts-sorted
    per_series = {tuple((e["name"], e["value"]) for e in r["labels"]):
                  [(s["timestamp"], s["value"]) for s in r["samples"]]
                  for r in wire.collect()}
    assert len(per_series) == 3
    assert all(ts % 1000 == 0 for ss in per_series.values() for ts, _ in ss)
    back = rows_from_remote_write(wire)
    orig = sorted((r.labels["__name__"], tuple(sorted(r.labels.items())),
                   r.ts, r.value)
                  for r in rel.select("labels", "ts", "value").collect())
    got = sorted((r.metric,
                  tuple(sorted({**r.labels, "__name__": r.metric}.items())),
                  r.ts, r.value) for r in back.collect())
    assert orig == got


def test_remote_write_schema_string_parses(spark):
    """REMOTE_WRITE_TIMESERIES_SCHEMA is a valid DDL string that reads
    empty JSON to the declared shape (the contract edge decoders build
    against)."""
    from mandodb_spark.sources.loaders import REMOTE_WRITE_TIMESERIES_SCHEMA

    df = spark.createDataFrame([], REMOTE_WRITE_TIMESERIES_SCHEMA)
    assert {f.name for f in df.schema.fields} == {
        "labels", "samples", "histograms", "exemplars"}


def test_remote_write_exemplars_round_trip(spark):
    """Exemplar rows → prompb TimeSeries.exemplars → rows is the identity
    (series labels incl __name__, ms timestamps, exemplar label lists)."""
    from mandodb_spark.model import DEFAULT_SEGMENT_DURATION, canonicalize
    from mandodb_spark.sources.exemplar_store import EXEMPLAR_ROW_SCHEMA
    from mandodb_spark.sources.loaders import (
        exemplars_from_remote_write,
        exemplars_to_remote_write,
    )

    rows = [
        ("lat", {"job": "api"}, 120, 0.91, {"trace_id": "abc"}),
        ("lat", {"job": "api"}, 100, 6.0, {"trace_id": "d", "span_id": "s"}),
        ("lat", {"job": "db"}, 110, 2.5, {}),
    ]
    rel = canonicalize(
        spark.createDataFrame(rows, EXEMPLAR_ROW_SCHEMA),
        DEFAULT_SEGMENT_DURATION, ("value", "exemplar"))
    wire = exemplars_to_remote_write(rel)
    per_series = {tuple((e["name"], e["value"]) for e in r["labels"]):
                  [(x["timestamp"], x["value"]) for x in r["exemplars"]]
                  for r in wire.collect()}
    assert len(per_series) == 2
    api_key = (("__name__", "lat"), ("job", "api"))
    assert per_series[api_key] == [(100_000, 6.0), (120_000, 0.91)]
    back = exemplars_from_remote_write(wire)
    got = sorted((r["metric"], tuple(sorted(r["labels"].items())), r["ts"],
                  r["value"], tuple(sorted(r["exemplar"].items())))
                 for r in back.collect())
    want = sorted((m, tuple(sorted(l.items())), t, v,
                   tuple(sorted(e.items()))) for m, l, t, v, e in rows)
    assert got == want


def test_openmetrics_reader_parses_and_drops(spark):
    """OpenMetrics text exposition → rows: metadata/garbage lines drop,
    exemplar suffixes are ignored by the sample reader, default_ts stamps
    timestamp-less samples (the scrape time)."""
    from mandodb_spark.sources.loaders import rows_from_openmetrics

    lines = [
        '# HELP http_requests_total Total requests.',
        '# TYPE http_requests_total counter',
        'http_requests_total{job="api",code="200"} 1027 1700000000',
        'http_requests_total{job="api",code="500"} 3.5e-3 1700000060',
        'up 1 1700000000',
        'lat_bucket{le="0.5"} 24 1700000000 # {trace_id="abc"} 0.43',
        'lat_nots{job="x"} 5.0',
        'garbage line here',
        'up{ 1 2',
        '# EOF',
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    got = {(r.metric, tuple(sorted(r.labels.items())), r.ts, r.value)
           for r in rows_from_openmetrics(df).collect()}
    assert got == {
        ("http_requests_total", (("code", "200"), ("job", "api")),
         1700000000, 1027.0),
        ("http_requests_total", (("code", "500"), ("job", "api")),
         1700000060, 3.5e-3),
        ("up", (), 1700000000, 1.0),
        ("lat_bucket", (("le", "0.5"),), 1700000000, 24.0),
    }
    with_default = rows_from_openmetrics(df, default_ts=1700000999)
    nots = [r for r in with_default.collect() if r.metric == "lat_nots"]
    assert [(r.ts, r.value) for r in nots] == [(1700000999, 5.0)]


def test_openmetrics_exemplars(spark):
    """The `# {labels} value [ts]` exemplar suffix decodes to exemplar
    rows; a missing exemplar timestamp inherits the sample's."""
    from mandodb_spark.sources.loaders import exemplars_from_openmetrics

    lines = [
        'lat_bucket{le="0.5"} 24 1700000000 # {trace_id="abc"} 0.43 1700000007.5',
        'lat_bucket{le="1.0"} 30 1700000000 # {trace_id="xyz",span_id="s"} 0.9',
        'plain{a="1"} 2 1700000000',
    ]
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    got = {(r.metric, tuple(sorted(r.labels.items())), r.ts, r.value,
            tuple(sorted(r.exemplar.items())))
           for r in exemplars_from_openmetrics(df).collect()}
    assert got == {
        ("lat_bucket", (("le", "0.5"),), 1700000007, 0.43,
         (("trace_id", "abc"),)),
        ("lat_bucket", (("le", "1.0"),), 1700000000, 0.9,
         (("span_id", "s"), ("trace_id", "xyz"))),
    }


def test_openmetrics_round_trip_is_identity(spark):
    """rows → OpenMetrics text → rows is the identity on canonical rows
    (sorted labels; simplified dialect both ways) — the same contract as
    the influx and remote-write codecs."""
    from mandodb_spark.model import canonicalize
    from mandodb_spark.sources.loaders import (
        rows_from_openmetrics,
        to_openmetrics,
    )
    from mandodb_spark import ROW_SCHEMA

    rows = [
        ("cpu", {"node": "vm0", "dc": "sh"}, 1_700_000_000, 0.75),
        ("cpu", {"node": "vm1"}, 1_700_000_060, -1.5e-3),
        ("mem", {}, 1_700_000_120, 42.0),
    ]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    back = rows_from_openmetrics(to_openmetrics(rel), text_col="line")
    orig = {(r.labels["__name__"], tuple(sorted(r.labels.items())),
             r.ts, r.value)
            for r in rel.select("labels", "ts", "value").collect()}
    got = {(r.metric,
            tuple(sorted({**r.labels, "__name__": r.metric}.items())),
            r.ts, r.value) for r in back.collect()}
    assert orig == got


def test_openmetrics_escaped_labels_round_trip(spark):
    """Label values with quotes, backslashes, newlines, `}` and `#`
    survive rows → text → rows (text-format escape rules; ADVICE r10 +
    VERDICT r10 item 5), including the `\\\\n` (escaped backslash then
    literal n) vs `\\n` (newline) ambiguity."""
    import math

    from mandodb_spark.model import canonicalize
    from mandodb_spark.sources.loaders import (
        rows_from_openmetrics,
        to_openmetrics,
    )
    from mandodb_spark import ROW_SCHEMA

    rows = [
        ("m", {"q": 'a"b'}, 100, 1.0),
        ("m", {"b": "a\\b"}, 101, 2.0),
        ("m", {"n": "a\nb"}, 102, 3.0),
        ("m", {"amb": "a\\nb"}, 103, 4.0),        # backslash + literal n
        ("m", {"brace": "x}y", "hash": "x#y"}, 104, 5.0),
        ("m", {"all": '\\"\n}#,='}, 105, 6.0),
    ]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    back = rows_from_openmetrics(to_openmetrics(rel), text_col="line")
    orig = {(tuple(sorted(r.labels.items())), r.ts, r.value)
            for r in rel.select("labels", "ts", "value").collect()}
    got = {(tuple(sorted({**r.labels, "__name__": r.metric}.items())),
            r.ts, r.value) for r in back.collect()}
    assert orig == got


def test_openmetrics_nonfinite_values_round_trip(spark):
    """+Inf/-Inf/NaN render as OpenMetrics tokens (not Spark's
    'Infinity') and parse back instead of silently dropping."""
    import math

    from mandodb_spark.model import canonicalize
    from mandodb_spark.sources.loaders import (
        rows_from_openmetrics,
        to_openmetrics,
    )
    from mandodb_spark import ROW_SCHEMA

    rows = [
        ("m", {"k": "inf"}, 100, math.inf),
        ("m", {"k": "ninf"}, 101, -math.inf),
        ("m", {"k": "nan"}, 102, math.nan),
    ]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    lines = {r.line for r in to_openmetrics(rel).collect()}
    assert lines == {
        'm{k="inf"} +Inf 100',
        'm{k="ninf"} -Inf 101',
        'm{k="nan"} NaN 102',
    }
    back = {r.labels["k"]: r.value
            for r in rows_from_openmetrics(
                to_openmetrics(rel), text_col="line").collect()}
    assert back["inf"] == math.inf and back["ninf"] == -math.inf
    assert math.isnan(back["nan"])


def test_openmetrics_exemplar_default_ts(spark):
    """An exemplar whose sample ALSO lacks a timestamp inherits
    default_ts (the scrape time) instead of silently dropping."""
    from mandodb_spark.sources.loaders import exemplars_from_openmetrics

    lines = ['lat_bucket{le="0.5"} 24 # {trace_id="abc"} 0.43']
    df = spark.createDataFrame([(l,) for l in lines], "value string")
    assert exemplars_from_openmetrics(df).count() == 0  # no default: drop
    got = exemplars_from_openmetrics(df, default_ts=1700000999).collect()
    assert [(r.ts, r.value, dict(r.exemplar)) for r in got] == [
        (1700000999, 0.43, {"trace_id": "abc"})]


# ---------------------------------------------------- prompb wire codec

def test_prompb_pure_codec_round_trip():
    """encode_write_request → decode_write_request is the identity on
    every message kind (labels, samples, exemplars, both histogram
    flavors), compressed and raw — no Spark involved."""
    from mandodb_spark.sources import prompb

    ts = [{
        "labels": [{"name": "__name__", "value": "http_req"},
                   {"name": "job", "value": "api"}],
        "samples": [{"timestamp": 1700000000123, "value": 3.5},
                    {"timestamp": 1700000060000, "value": float("inf")}],
        "exemplars": [{"labels": [{"name": "trace_id", "value": "abc"}],
                       "value": 0.43, "timestamp": 1700000000500}],
        "histograms": [{
            "timestamp": 1700000000000, "count_int": 12,
            "count_float": None, "sum": 99.5, "schema": 3,
            "zero_threshold": 1e-128, "zero_count_int": 2,
            "zero_count_float": None,
            "positive_spans": [{"offset": 0, "length": 2},
                               {"offset": -3, "length": 1}],
            "positive_deltas": [4, -2, 1], "positive_counts": [],
            "negative_spans": [], "negative_deltas": [],
            "negative_counts": [1.5, 2.25]}],
    }, {
        "labels": [{"name": "__name__", "value": "up"}],
        "samples": [{"timestamp": 1700000000000, "value": 1.0}],
        "exemplars": [],
        "histograms": [{
            "timestamp": 1700000001000, "count_int": None,
            "count_float": 7.5, "sum": -1.25, "schema": -2,
            "zero_threshold": 0.001, "zero_count_int": None,
            "zero_count_float": 0.5,
            "positive_spans": [{"offset": 1, "length": 1}],
            "positive_deltas": [], "positive_counts": [4.5],
            "negative_spans": [], "negative_deltas": [],
            "negative_counts": []}],
    }]
    for compress in (True, False):
        data = prompb.encode_write_request(ts, compress=compress)
        raw = prompb.snappy_decompress(data) if compress else data
        back = prompb.decode_write_request(raw)
        assert back == ts


def test_prompb_numpy_fast_path_parity():
    """The vectorized sample packer (numpy batch varint encode inside the
    Arrow seam) is BYTE-identical to the pure encoder, and the columnar
    decoder returns the input series — including varint-length edges
    (negative ts → 10-byte varint, 0, 2^62)."""
    import random

    import numpy as np

    from mandodb_spark.sources import prompb

    rng = random.Random(13)
    series = []
    for i in range(23):
        n = rng.randint(0, 40)
        samples = sorted(
            ({"timestamp": rng.choice([
                rng.randint(-5, 5), rng.randint(10**12, 2 * 10**12),
                rng.randint(0, 2**62)]),
              "value": rng.uniform(-1e9, 1e9)} for _ in range(n)),
            key=lambda s: (s["timestamp"], s["value"]))
        series.append({
            "labels": [{"name": "__name__", "value": f"m{i % 3}"},
                       {"name": "user", "value": str(i)}],
            "samples": samples, "histograms": [], "exemplars": []})
    series.append({  # the varint-length edges, pinned
        "labels": [{"name": "__name__", "value": "edge"}],
        "samples": [{"timestamp": t, "value": 1.5}
                    for t in (-(2**63), -1, 0, 1, 2**62, 2**63 - 1)],
        "histograms": [], "exemplars": []})

    # encode: flat numpy packer == pure codec, chunk by chunk
    flat_ts = np.array([s["timestamp"] for t in series
                        for s in t["samples"]], np.int64)
    flat_v = np.array([s["value"] for t in series
                       for s in t["samples"]], np.float64)
    offs = np.concatenate(
        [[0], np.cumsum([len(t["samples"]) for t in series])])
    out, bstart = prompb._np_encode_samples(flat_ts, flat_v)
    mv = memoryview(out.tobytes())
    for i, t in enumerate(series):
        body = b"".join(prompb._msg(1, prompb._enc_label(l))
                        for l in t["labels"])
        body += bytes(mv[bstart[offs[i]]:bstart[offs[i + 1]]])
        assert (prompb._msg(1, body)
                == prompb.encode_write_request([t], compress=False))

    # full batch encode (labels + series framing vectorized too):
    # byte-identical payload list vs the generic per-record path
    import pyarrow as pa

    rb = pa.RecordBatch.from_arrays(
        [
            pa.array([t["labels"] for t in series]),
            pa.array(
                [t["samples"] for t in series],
                type=pa.list_(pa.struct([("timestamp", pa.int64()),
                                         ("value", pa.float64())]))),
        ],
        ["labels", "samples"])
    for spr in (4, 500):
        fast = prompb._try_encode_batch_fast(rb, spr, compress=False)
        slow = prompb._encode_records_slow(
            [{"labels": t["labels"], "samples": t["samples"]}
             for t in series], ["labels", "samples"], spr, compress=False)
        assert fast == slow
    # sliced batches exercise the offset-handling paths
    sl = rb.slice(3, 9)
    assert (prompb._try_encode_batch_fast(sl, 500, False)
            == prompb._encode_records_slow(
                [{"labels": t["labels"], "samples": t["samples"]}
                 for t in series[3:12]], ["labels", "samples"], 500, False))

    # decode: the columnar parser round-trips the input series, both the
    # vectorized payloads and the pure encoder's
    for payload in (b"".join(prompb._try_encode_batch_fast(rb, 4, False)),
                    prompb.encode_write_request(series, compress=False)):
        assert prompb.decode_write_request(payload) == series


def test_prompb_decoder_skips_unknown_fields_and_unpacked_repeats():
    """Protobuf wire rules: unknown fields (WriteRequest.metadata = 3)
    are skipped; repeated scalars are accepted UNPACKED as well as
    packed (both are legal on the wire)."""
    from mandodb_spark.sources import prompb
    from mandodb_spark.sources.prompb import (
        _enc_double_field,
        _enc_uvarint,
        _enc_varint_field,
        _msg,
        _zigzag,
    )

    label = _msg(1, b"\x0a\x08__name__\x12\x01m")  # Label{__name__, m}
    # Histogram with UNPACKED positive_deltas (field 12, wire type 0 each)
    hist = (_enc_varint_field(1, 3) + _enc_double_field(3, 1.0)
            + _enc_varint_field(4, _zigzag(0)) + _enc_double_field(5, 0.0)
            + _msg(11, _enc_varint_field(1, _zigzag(0))
                   + _enc_varint_field(2, 2))
            + _enc_varint_field(12, _zigzag(2))
            + _enc_varint_field(12, _zigzag(-1))
            + _enc_varint_field(15, 1700000000000))
    series = label + _msg(4, hist)
    payload = (_msg(1, series)
               + _msg(3, b"arbitrary-metadata-bytes"))  # unknown field
    out = prompb.decode_write_request(payload)
    assert len(out) == 1
    h = out[0]["histograms"][0]
    assert h["positive_deltas"] == [2, -1]
    assert h["count_int"] == 3 and h["timestamp"] == 1700000000000


def test_prompb_property_round_trip():
    """Property: any label/sample/timestamp combination survives
    bytes → rows → bytes → rows (the varint/zigzag/fixed64 framing has
    no value-dependent corners)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mandodb_spark.sources import prompb

    name = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8)
    label = st.fixed_dictionaries(
        {"name": name, "value": st.text(max_size=12)})
    sample = st.fixed_dictionaries({
        "timestamp": st.integers(min_value=-(2**62), max_value=2**62),
        "value": st.floats(allow_nan=False)})
    series = st.fixed_dictionaries({
        "labels": st.lists(label, max_size=4),
        "samples": st.lists(sample, max_size=4),
        "exemplars": st.just([]), "histograms": st.just([])})

    @settings(max_examples=60, deadline=None)
    @given(st.lists(series, max_size=4))
    def check(ts):
        data = prompb.encode_write_request(ts, compress=True)
        assert prompb.decode_write_request(
            prompb.snappy_decompress(data)) == ts

    check()


def test_prompb_spark_round_trip_samples(spark):
    """rows → to_remote_write → WIRE BYTES → timeseries_from_prompb →
    rows_from_remote_write is the identity on canonical rows: the full
    scrape→store loop over actual snappy-compressed protobuf payloads,
    executor-side both ways (mapInPandas seams)."""
    from mandodb_spark.model import ROW_SCHEMA, canonicalize
    from mandodb_spark.sources import prompb
    from mandodb_spark.sources.loaders import (
        rows_from_remote_write,
        to_remote_write,
    )

    rows = [("m%d" % (i % 5), {"app": "a%d" % (i % 3), "q": 'x"y\\z'},
             1_700_000_000 + i, float(i)) for i in range(300)]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    wire = prompb.prompb_from_timeseries(
        to_remote_write(rel), series_per_request=4)
    assert wire.schema.simpleString() == "struct<payload:binary>"
    back = rows_from_remote_write(prompb.timeseries_from_prompb(wire))
    got = {(r.metric, tuple(sorted(r.labels.items())), r.ts, r.value)
           for r in back.collect()}
    want = {(r.labels["__name__"],
             tuple(sorted((k, v) for k, v in r.labels.items()
                          if k != "__name__")),
             r.ts, r.value) for r in rel.collect()}
    assert got == want


def test_prompb_spark_round_trip_histograms_and_exemplars(spark):
    """Native histograms and exemplars survive the wire: shaper →
    payload bytes → decode → shaper-inverse preserves bucket maps,
    zero counts and exemplar label maps."""
    from mandodb_spark.functions import native_hist as nh
    from mandodb_spark.sources import prompb
    from mandodb_spark.sources.loaders import (
        exemplars_from_remote_write,
        exemplars_to_remote_write,
    )

    obs = spark.createDataFrame(
        [("lat", {"app": "x"}, 3600 + i, float(i % 7))
         for i in range(40)],
        "metric string, labels map<string,string>, ts long, value double")
    hrel = nh.observe_histograms(obs.withColumn("ts", obs.ts - obs.ts % 3600))
    wire = prompb.prompb_from_timeseries(nh.histograms_to_remote_write(hrel))
    hback = nh.histograms_from_remote_write(
        prompb.timeseries_from_prompb(wire))
    def key(name, lbls, r):
        return (name,
                tuple(sorted((k, v) for k, v in lbls.items()
                             if k != "__name__")),
                r.ts, r.hist["count"], r.hist["sum"],
                r.hist["zero_count"], r.hist["schema"],
                tuple(sorted((r.hist.pos or {}).items())),
                tuple(sorted((r.hist.neg or {}).items())))

    a = {key(r.labels["__name__"], r.labels, r) for r in hrel.collect()}
    b = {key(r.metric, r.labels, r) for r in hback.collect()}
    assert a == b and len(a) > 0

    ex = spark.createDataFrame(
        [({"__name__": "lat", "app": "x"}, 100 + i, float(i),
          {"trace_id": "t%d" % i}) for i in range(10)],
        "labels map<string,string>, ts long, value double, "
        "exemplar map<string,string>")
    ewire = prompb.prompb_from_timeseries(exemplars_to_remote_write(ex))
    eback = exemplars_from_remote_write(
        prompb.timeseries_from_prompb(ewire))
    got = {(r.ts, r.value, tuple(sorted(r.exemplar.items())))
           for r in eback.collect()}
    assert got == {(100 + i, float(i), (("trace_id", "t%d" % i),))
                   for i in range(10)}


def test_prompb_undecodable_payload_policy(spark):
    """Garbage payloads drop by default (the codecs' try_cast→null
    posture) and raise under on_error='raise' — including well-framed
    payloads whose integers overflow their Arrow columns (a timestamp
    varint past 64 bits, a histogram schema past int32), which must not
    fail the whole batch."""
    import pytest

    from mandodb_spark.sources import prompb

    label = [{"name": "__name__", "value": "m"}]
    good = prompb.encode_write_request(
        [{"labels": label, "samples": [{"timestamp": 1000, "value": 1.0}]}])
    ts_overflow = prompb.snappy_compress(prompb._msg(1, prompb._msg(
        2, prompb._enc_double_field(1, 1.0) + b"\x10" + b"\xff" * 9
        + b"\x7f")))
    schema_overflow = prompb.encode_write_request(
        [{"labels": label, "histograms": [{"schema": 2**40, "timestamp": 1}]}])
    df = spark.createDataFrame(
        [(good,), (b"\xff\xfe not snappy",), (None,), (ts_overflow,),
         (schema_overflow,)], "payload binary")
    out = prompb.timeseries_from_prompb(df)
    assert out.count() == 1
    with pytest.raises(Exception):
        prompb.timeseries_from_prompb(df, on_error="raise").count()


def test_prompb_read_request_codec_round_trip():
    """encode_read_request → decode_read_request is the identity on
    queries (time range + all four matcher types), compressed and raw."""
    from mandodb_spark.sources import prompb

    queries = [
        {"start_ms": 1_700_000_000_000, "end_ms": 1_700_000_600_000,
         "matchers": [("__name__", "=", "cpu"), ("job", "!=", "x"),
                      ("node", "=~", "vm[0-9]+"), ("dc", "!~", "eu-.*")]},
        {"start_ms": 0, "end_ms": 10_000, "matchers": []},
    ]
    for compress in (True, False):
        data = prompb.encode_read_request(queries, compress=compress)
        raw = prompb.snappy_decompress(data) if compress else data
        back = prompb.decode_read_request(raw)
        assert back == [{"start_ms": q["start_ms"], "end_ms": q["end_ms"],
                         "matchers": list(q["matchers"])} for q in queries]


def test_remote_read_endpoint(spark, tmp_path):
    """TSDB.remote_read: a snappy ReadRequest against the store returns
    the matcher-selected series as a snappy ReadResponse — the engine as
    a drop-in Prometheus remote-read backend.  Matcher semantics (incl.
    negative ops), ms boundaries, canonical series order and ts-ascending
    samples are all pinned."""
    from mandodb_spark.engine import TSDB
    from mandodb_spark.sources import prompb

    db = TSDB(spark, str(tmp_path / "store"))
    db.insert_rows(
        [("cpu", {"node": f"vm{i % 3}", "dc": "sh" if i % 2 else "bj"},
          1000 + 60 * i, float(i)) for i in range(12)]
        + [("mem", {"node": "vm0"}, 1060, 99.0)])

    req = prompb.encode_read_request([
        {"start_ms": 1_000_000, "end_ms": 1_400_500,   # [1000s, 1400.5s]
         "matchers": [("__name__", "=", "cpu"), ("node", "=~", "vm[01]"),
                      ("dc", "!=", "bj")]},
        {"start_ms": 1_000_000, "end_ms": 2_000_000,
         "matchers": [("__name__", "=", "mem")]},
    ])
    results = prompb.decode_read_response(db.remote_read(req))
    assert len(results) == 2

    def flat(series):
        return {(tuple((l["name"], l["value"]) for l in ts["labels"]),
                 tuple((s["timestamp"], s["value"]) for s in ts["samples"]))
                for ts in series}

    # query 1: cpu, node vm0|vm1, dc != bj (i odd → sh), ts ≤ 1400
    want = {}
    for i in range(12):
        node, dc, t = f"vm{i % 3}", "sh" if i % 2 else "bj", 1000 + 60 * i
        if node in ("vm0", "vm1") and dc == "sh" and 1000 <= t <= 1400:
            want.setdefault(
                (("__name__", "cpu"), ("dc", dc), ("node", node)), []
            ).append((t * 1000, float(i)))
    assert flat(results[0]) == {(k, tuple(sorted(v)))
                                for k, v in want.items()}
    # canonical series order: sorted label lists
    keys = [tuple((l["name"], l["value"]) for l in ts["labels"])
            for ts in results[0]]
    assert keys == sorted(keys)
    assert flat(results[1]) == {
        ((("__name__", "mem"), ("node", "vm0")), ((1_060_000, 99.0),))}


def test_xor_chunk_property_round_trip():
    """Property: any strictly-increasing (ts, value) sequence survives
    encode_chunk → decode_chunk — dod varbit buckets, XOR windows and the
    64-significant-bit edge all exercised by construction."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mandodb_spark.sources.xor_chunk import decode_chunk, encode_chunk

    deltas = st.lists(
        st.one_of(st.integers(min_value=1, max_value=30),
                  st.integers(min_value=1, max_value=10**10)),
        min_size=1, max_size=60)
    values = st.lists(
        st.one_of(st.floats(allow_nan=False),
                  st.sampled_from([0.0, -0.0, 1.0, 42.0])),
        min_size=1, max_size=60)

    @settings(max_examples=80, deadline=None)
    @given(deltas, values, st.integers(min_value=-10**12, max_value=10**12))
    def check(ds, vs, t0):
        n = min(len(ds), len(vs))
        t, samples = t0, []
        for d, v in zip(ds[:n], vs[:n]):
            t += d
            samples.append((t, v))
        assert decode_chunk(encode_chunk(samples)) == samples

    check()


def test_xor_chunk_malformed_input_raises_value_error():
    """Malformed XOR chunks take one defined path: every proper
    truncation raises ValueError (never IndexError, never a silently
    short read), a value window wider than 64 bits raises ValueError,
    and seeded single-bit flips either raise ValueError or decode to
    the sample count their header declares."""
    import random

    from mandodb_spark.sources.xor_chunk import _BitWriter, decode_chunk, encode_chunk

    rng = random.Random(5)
    t, samples = 1_700_000_000_000, []
    for i in range(120):
        # every dod bucket: steady 15 s scrapes, small/large jitter, gaps
        t += rng.choice([15_000, 15_000, 15_001, 14_000, 90_000, 10**9])
        samples.append((t, rng.choice([1.0, 1.0, i * 0.25, rng.random(), -3e300])))
    chunk = encode_chunk(samples)
    assert decode_chunk(chunk) == samples
    for k in range(len(chunk)):
        with pytest.raises(ValueError):
            decode_chunk(chunk[:k])

    w = _BitWriter()
    w.write_bits(2, 16)        # two samples
    w.write_bits(0, 8)         # t0 = 0 (signed varint)
    w.write_bits(0, 64)        # v0 bits
    w.write_bits(1, 8)         # delta 1
    w.write_bits(0b11, 2)      # value changed, new window
    w.write_bits(31, 5)        # 31 leading zeros ...
    w.write_bits(63, 6)        # ... plus 63 significant bits > 64
    w.write_bits(0, 64)
    with pytest.raises(ValueError, match="64 bits"):
        decode_chunk(w.to_bytes())

    for _ in range(3000):
        bit = rng.randrange(len(chunk) * 8)
        bad = bytearray(chunk)
        bad[bit >> 3] ^= 0x80 >> (bit & 7)
        try:
            out = decode_chunk(bytes(bad))
        except ValueError:
            continue
        assert len(out) == int.from_bytes(bad[:2], "big")


def test_remote_read_chunked_endpoint(spark, tmp_path):
    """TSDB.remote_read_chunked: framed ChunkedReadResponse stream with
    CRC-checked frames, per-query indices, and XOR chunks that decode to
    exactly the samples the non-streamed endpoint returns — incl. the
    120-sample chunk cut."""
    from mandodb_spark.engine import TSDB
    from mandodb_spark.sources import prompb
    from mandodb_spark.sources.xor_chunk import decode_chunk

    db = TSDB(spark, str(tmp_path / "store"))
    db.insert_rows([("cpu", {"node": f"vm{i % 2}"}, 1000 + 30 * i,
                     float(i) / 7) for i in range(300)])

    req = prompb.encode_read_request([
        {"start_ms": 0, "end_ms": 10**13,
         "matchers": [("__name__", "=", "cpu")]},
        {"start_ms": 0, "end_ms": 10**13,
         "matchers": [("node", "=", "vm1")]},
    ])
    frames = prompb.decode_chunked_read_stream(
        db.remote_read_chunked(req, samples_per_chunk=120))
    assert [f["query_index"] for f in frames] == [0, 1]

    def flat(msg):
        out = {}
        for s in msg["chunked_series"]:
            key = tuple((l["name"], l["value"]) for l in s["labels"])
            assert all(c["type"] == 1 for c in s["chunks"])  # XOR
            pts = [p for c in s["chunks"] for p in decode_chunk(c["data"])]
            assert all(len(decode_chunk(c["data"])) <= 120
                       for c in s["chunks"])
            for c in s["chunks"]:
                pp = decode_chunk(c["data"])
                assert (c["min_time_ms"], c["max_time_ms"]) == \
                    (pp[0][0], pp[-1][0])
            out[key] = pts
        return out

    got = flat(frames[0])
    want = {}
    for i in range(300):
        want.setdefault(
            (("__name__", "cpu"), ("node", f"vm{i % 2}")), []
        ).append(((1000 + 30 * i) * 1000, float(i) / 7))
    assert got == want
    assert set(flat(frames[1])) == {(("__name__", "cpu"), ("node", "vm1"))}
    # streamed ≡ non-streamed on the same request
    plain = prompb.decode_read_response(db.remote_read(req))[0]
    plain_flat = {tuple((l["name"], l["value"]) for l in s["labels"]):
                  [(p["timestamp"], p["value"]) for p in s["samples"]]
                  for s in plain}
    assert plain_flat == got


def test_xor_chunks_backfill_round_trip(spark):
    """rows → chunk seam → decode seam → rows is the identity: a chunked
    remote-read export from one engine backfills another byte-exactly."""
    from mandodb_spark.model import ROW_SCHEMA, canonicalize
    from mandodb_spark.sources import prompb
    from mandodb_spark.sources.loaders import (
        rows_from_remote_write,
        to_remote_write,
    )

    rows = [("m%d" % (i % 3), {"a": "x%d" % (i % 2)}, 1000 + i, float(i))
            for i in range(500)]
    rel = canonicalize(spark.createDataFrame(rows, ROW_SCHEMA))
    chunked = prompb.xor_chunks_from_timeseries(
        to_remote_write(rel), samples_per_chunk=64)
    back = rows_from_remote_write(
        prompb.timeseries_from_xor_chunks(chunked))
    got = {(r.metric, tuple(sorted(r.labels.items())), r.ts, r.value)
           for r in back.collect()}
    want = {(r.labels["__name__"],
             tuple(sorted((k, v) for k, v in r.labels.items()
                          if k != "__name__")), r.ts, r.value)
            for r in rel.collect()}
    assert got == want


def test_openmetrics_escape_unescape_exhaustive(spark):
    """EXHAUSTIVE identity check of the escape/unescape column chain over
    every string up to length 4 from the ambiguity alphabet
    {a, backslash, quote, newline, n} (781 strings, one Spark job) — the
    NUL-sentinel unescape order has no blind spot (`\\\\n` vs `\\n` etc.)."""
    import itertools

    from mandodb_spark.sources.loaders import (
        _escape_label_value,
        _unescape_label_value,
    )

    alphabet = 'a\\"\nn'
    vals = [''.join(p) for n in range(5)
            for p in itertools.product(alphabet, repeat=n)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    out = df.select(
        "v",
        _unescape_label_value(_escape_label_value(F.col("v"))).alias("r"),
        _escape_label_value(F.col("v")).alias("e"))
    rows = out.collect()
    assert len(rows) == len(vals)
    for r in rows:
        assert r["r"] == r["v"], (r["v"], r["e"], r["r"])
        # escaped form never carries a raw newline or quote (line-safe)
        assert "\n" not in r["e"] and '"' not in r["e"].replace('\\"', "")


def test_remote_read_sample_limit(spark, tmp_path):
    """An unselective ReadRequest fails with ValueError before any bytes
    are encoded (Prometheus remote_read_sample_limit semantics); a
    selective one still answers under the same limit.  The guard rides
    the grouped aggregate itself (``size(samples)`` / ``n_samples``) —
    ONE scan per query, no separate ``count()`` action (r11 verdict #5):
    asserted by poisoning DataFrame.count for the duration."""
    import pytest
    from pyspark.sql import DataFrame

    from mandodb_spark.engine import TSDB
    from mandodb_spark.sources import prompb

    db = TSDB(spark, str(tmp_path / "store"))
    db.insert_rows([("cpu", {"n": f"a{i % 4}"}, 1000 + i, 1.0)
                    for i in range(40)])
    req = prompb.encode_read_request([
        {"start_ms": 0, "end_ms": 10**13,
         "matchers": [("__name__", "=", "cpu")]}])

    def _no_count(self):
        raise AssertionError("remote_read must not run a count() scan")

    orig = DataFrame.count
    DataFrame.count = _no_count
    try:
        with pytest.raises(ValueError, match="sample_limit"):
            db.remote_read(req, sample_limit=10)
        with pytest.raises(ValueError, match="sample_limit"):
            db.remote_read_chunked(req, sample_limit=10)
        assert len(prompb.decode_read_response(
            db.remote_read(req, sample_limit=40))[0]) == 4
        assert db.remote_read_chunked(req, sample_limit=40)
    finally:
        DataFrame.count = orig


# ---------------------------------------------------------- OTLP wire codec

def test_otlp_wire_to_engine_rows(spark):
    """OTLP ExportMetricsServiceRequest bytes → engine rows: gauge/sum
    points verbatim (resource attrs merged, point attrs win), classic
    histograms lowered to the public Prometheus _bucket/_sum/_count
    mapping, exponential histograms to the struct shape
    histograms_from_otlp consumes — all through the mapInPandas seams."""
    from mandodb_spark.functions import native_hist as nh
    from mandodb_spark.sources import otlp

    pts = [
        {"kind": "number", "metric": "cpu", "labels": {"host": "vm0"},
         "ts": 1000, "value": 0.5},
        {"kind": "histogram", "metric": "lat", "labels": {"job": "api"},
         "ts": 1000, "count": 10, "sum": 7.5,
         "bucket_counts": [4, 3, 2, 1], "bounds": [0.1, 0.5, 1.0]},
        {"kind": "exphist", "metric": "lat_nh", "labels": {"job": "api"},
         "ts": 1000, "count": 12, "sum": 99.5, "scale": 3,
         "zero_count": 2, "zero_threshold": 1e-10,
         "pos_offset": 4, "pos_counts": [3, 0, 7],
         "neg_offset": 0, "neg_counts": []},
    ]
    payload = otlp.encode_export_request(pts)
    df = spark.createDataFrame(
        [(payload,), (b"garbage",), (None,)], "payload binary")

    rows = {(r.metric, tuple(sorted(r.labels.items())), r.ts, r.value)
            for r in otlp.rows_from_otlp(df).collect()}
    assert rows == {
        ("cpu", (("host", "vm0"),), 1000, 0.5),
        ("lat_bucket", (("job", "api"), ("le", "0.1")), 1000, 4.0),
        ("lat_bucket", (("job", "api"), ("le", "0.5")), 1000, 7.0),
        ("lat_bucket", (("job", "api"), ("le", "1.0")), 1000, 9.0),
        ("lat_bucket", (("job", "api"), ("le", "+Inf")), 1000, 10.0),
        ("lat_sum", (("job", "api"),), 1000, 7.5),
        ("lat_count", (("job", "api"),), 1000, 10.0),
    }

    hrows = nh.histograms_from_otlp(otlp.exphist_from_otlp(df)).collect()
    assert len(hrows) == 1
    h = hrows[0]["hist"]
    assert (h["count"], h["sum"], h["zero_count"], h["schema"]) == \
        (12.0, 99.5, 2.0, 3)
    # OTel index i covers (base^i, base^(i+1)] → engine idx = offset+j
    assert dict(h["pos"]) == {5: 3.0, 7: 7.0}

    import pytest

    with pytest.raises(Exception):
        otlp.rows_from_otlp(df, on_error="raise").count()


def test_otlp_resource_attrs_and_ingest_to_promql(spark, tmp_path):
    """Resource attributes merge under point attributes, and the decoded
    rows drive the engine end-to-end: wire bytes → TSDB →
    histogram_quantile over both the classic and native forms."""
    from mandodb_spark.engine import TSDB
    from mandodb_spark.functions import native_hist as nh
    from mandodb_spark.sources import otlp
    from mandodb_spark.sources.prompb import _fields, _msg

    pts = [{"kind": "number", "metric": "m", "labels": {"a": "point"},
            "ts": 1000, "value": 1.0}]
    raw = otlp.encode_export_request(pts)
    # graft resource attributes onto the ResourceMetrics envelope:
    # Resource{attributes: {a: resource, cluster: c1}} — `a` must lose
    res = _msg(1, otlp._enc_kv("a", "resource")) + _msg(
        1, otlp._enc_kv("cluster", "c1"))
    # decode original to get scope_metrics bytes, then rebuild envelope
    # with a Resource message present
    body = None
    for f, wt, v in _fields(raw):
        if f == 1 and wt == 2:
            for f2, wt2, v2 in _fields(v):
                if f2 == 2 and wt2 == 2:
                    body = v2
    assert body is not None
    rebuilt = _msg(1, _msg(1, res) + _msg(2, body))
    pts_back = otlp.decode_export_request(rebuilt)
    assert pts_back[0]["labels"] == {"a": "point", "cluster": "c1"}

    db = TSDB(spark, str(tmp_path / "store"))
    hist_pts = [
        {"kind": "histogram", "metric": "lat", "labels": {"job": "api"},
         "ts": 1000, "count": 10, "sum": 7.5,
         "bucket_counts": [4, 3, 2, 1], "bounds": [0.1, 0.5, 1.0]},
        {"kind": "exphist", "metric": "lat_nh", "labels": {"job": "api"},
         "ts": 1000, "count": 10, "sum": 7.5, "scale": 3,
         "zero_count": 0, "zero_threshold": 1e-10,
         "pos_offset": 0, "pos_counts": [10],
         "neg_offset": 0, "neg_counts": []},
    ]
    pdf = spark.createDataFrame(
        [(otlp.encode_export_request(hist_pts),)], "payload binary")
    db.insert_rows(otlp.rows_from_otlp(pdf))
    db.insert_histograms(nh.histograms_from_otlp(otlp.exphist_from_otlp(pdf)))

    classic = db.promql("histogram_quantile(0.5, lat_bucket)", 1000,
                        lookback=60).collect()
    assert len(classic) == 1 and 0.1 < classic[0]["value"] <= 0.5
    native = db.promql("histogram_quantile(0.5, lat_nh)", 1000,
                       lookback=60).collect()
    assert len(native) == 1 and native[0]["value"] > 0


def test_otlp_delta_temporality(spark):
    """aggregation_temporality decodes (metrics.proto field 2 on Sum /
    Histogram / ExponentialHistogram; Sum's is_monotonic field 3), and
    DELTA points are never silently ingested as cumulative (r11 verdict
    #3): reject raises naming the metric, drop skips them, cumulate
    converts with a per-series running sum over event time."""
    import pytest

    from mandodb_spark.sources import otlp

    pts = [
        {"kind": "number", "metric": "req", "labels": {"h": "a"},
         "ts": t, "value": v, "temporality": "delta",
         "is_monotonic": True}
        for t, v in [(1000, 5.0), (1060, 3.0), (1120, 2.0)]
    ] + [
        {"kind": "number", "metric": "req", "labels": {"h": "b"},
         "ts": 1000, "value": 7.0, "temporality": "cumulative",
         "is_monotonic": True},
        {"kind": "number", "metric": "temp", "labels": {"h": "a"},
         "ts": 1000, "value": 20.0},  # gauge: no temporality
    ]
    back = otlp.decode_export_request(otlp.encode_export_request(pts))
    assert [p["temporality"] for p in back] == \
        ["delta", "delta", "delta", "cumulative", None]
    assert back[0]["is_monotonic"] is True and "is_monotonic" not in back[4]

    df = spark.createDataFrame(
        [(otlp.encode_export_request(pts),)], "payload binary")
    with pytest.raises(Exception, match="DELTA"):
        otlp.rows_from_otlp(df).count()
    dropped = otlp.rows_from_otlp(df, delta="drop").collect()
    assert {(r.metric, r.labels["h"]) for r in dropped} == \
        {("req", "b"), ("temp", "a")}
    cum = {(r.metric, r.labels["h"], r.ts): r.value
           for r in otlp.rows_from_otlp(df, delta="cumulate").collect()}
    assert cum[("req", "a", 1000)] == 5.0
    assert cum[("req", "a", 1060)] == 8.0
    assert cum[("req", "a", 1120)] == 10.0
    # cumulative + gauge series pass through untouched
    assert cum[("req", "b", 1000)] == 7.0 and cum[("temp", "a", 1000)] == 20.0

    # delta histogram: the lowered _bucket/_sum/_count rows cumulate too
    hist = [{"kind": "histogram", "metric": "lat", "labels": {},
             "ts": t, "count": 4, "sum": 2.0,
             "bucket_counts": [3, 1], "bounds": [0.5],
             "temporality": "delta"} for t in (1000, 1060)]
    hdf = spark.createDataFrame(
        [(otlp.encode_export_request(hist),)], "payload binary")
    hcum = {(r.metric, r.labels.get("le"), r.ts): r.value
            for r in otlp.rows_from_otlp(hdf, delta="cumulate").collect()}
    assert hcum[("lat_bucket", "0.5", 1060)] == 6.0
    assert hcum[("lat_count", None, 1060)] == 8.0

    # exponential histograms: reject (default), drop, or explicit convert
    exp = [{"kind": "exphist", "metric": "nh", "labels": {}, "ts": 1000,
            "count": 1, "sum": 1.0, "scale": 0, "zero_count": 0,
            "zero_threshold": 0.0, "pos_offset": 0, "pos_counts": [1],
            "neg_offset": 0, "neg_counts": [],
            "temporality": "delta"}]
    edf = spark.createDataFrame(
        [(otlp.encode_export_request(exp),)], "payload binary")
    with pytest.raises(Exception, match="DELTA"):
        otlp.exphist_from_otlp(edf).count()
    assert otlp.exphist_from_otlp(edf, delta="drop").count() == 0
    assert otlp.exphist_from_otlp(edf, delta="cumulate").count() == 1


def test_otlp_exphist_delta_to_cumulative(spark):
    """exphist_delta_to_cumulative: per-series running bucket merge with
    offset re-alignment (the deltatocumulative processor's exponential-
    histogram leg); cumulative points in the same stream pass through
    untouched, and a mid-series scale change raises."""
    import pytest

    from mandodb_spark.sources import otlp

    deltas = [
        {"kind": "exphist", "metric": "lat", "labels": {"job": "a"},
         "ts": 1000, "count": 3, "sum": 6.0, "scale": 2, "zero_count": 1,
         "zero_threshold": 1e-10, "pos_offset": 4, "pos_counts": [2, 1],
         "neg_offset": 0, "neg_counts": [], "temporality": "delta"},
        {"kind": "exphist", "metric": "lat", "labels": {"job": "a"},
         "ts": 1060, "count": 2, "sum": 4.0, "scale": 2, "zero_count": 0,
         "zero_threshold": 2e-10, "pos_offset": 2, "pos_counts": [1],
         "neg_offset": -1, "neg_counts": [1], "temporality": "delta"},
        {"kind": "exphist", "metric": "other", "labels": {"job": "a"},
         "ts": 1000, "count": 7, "sum": 1.0, "scale": 0, "zero_count": 0,
         "zero_threshold": 0.0, "pos_offset": 0, "pos_counts": [7],
         "neg_offset": 0, "neg_counts": [],
         "temporality": "cumulative"},
    ]
    df = spark.createDataFrame(
        [(otlp.encode_export_request(deltas),)], "payload binary")
    rows = {(r.metric, r.ts): r.asDict()
            for r in otlp.exphist_from_otlp(df, delta="cumulate").collect()}
    assert len(rows) == 3
    first = rows[("lat", 1000)]
    assert (first["count"], first["sum"], first["zero_count"]) == (3, 6.0, 1)
    assert (first["pos_offset"], list(first["pos_counts"])) == (4, [2, 1])
    second = rows[("lat", 1060)]
    assert (second["count"], second["sum"], second["zero_count"]) == (5, 10.0, 1)
    assert second["zero_threshold"] == 2e-10
    # offsets re-align: buckets {4:2, 5:1} + {2:1} -> offset 2, [1,0,2,1]
    assert (second["pos_offset"], list(second["pos_counts"])) == (2, [1, 0, 2, 1])
    assert (second["neg_offset"], list(second["neg_counts"])) == (-1, [1])
    passthrough = rows[("other", 1000)]
    assert (passthrough["count"], list(passthrough["pos_counts"])) == (7, [7])

    # mid-series scale change: exact conversion is impossible -> loud
    bad = [dict(deltas[0]), dict(deltas[1], scale=1)]
    bdf = spark.createDataFrame(
        [(otlp.encode_export_request(bad),)], "payload binary")
    with pytest.raises(Exception, match="scale"):
        otlp.exphist_from_otlp(bdf, delta="cumulate").count()


def test_otlp_summary_points(spark):
    """Summary data points (metrics.proto Metric.summary, field 11)
    lower to the standard _sum/_count plus quantile-labeled series
    (r11 verdict #3 — previously silently skipped)."""
    from mandodb_spark.sources import otlp

    pts = [{"kind": "summary", "metric": "rpc", "labels": {"job": "api"},
            "ts": 1000, "count": 10, "sum": 4.5,
            "quantiles": [(0.5, 0.2), (0.99, 1.3)]}]
    df = spark.createDataFrame(
        [(otlp.encode_export_request(pts),)], "payload binary")
    rows = {(r.metric, tuple(sorted(r.labels.items())), r.ts, r.value)
            for r in otlp.rows_from_otlp(df).collect()}
    assert rows == {
        ("rpc", (("job", "api"), ("quantile", "0.5")), 1000, 0.2),
        ("rpc", (("job", "api"), ("quantile", "0.99")), 1000, 1.3),
        ("rpc_sum", (("job", "api"),), 1000, 4.5),
        ("rpc_count", (("job", "api"),), 1000, 10.0),
    }


def test_otlp_name_sanitization_roundtrips_text_format(spark):
    """OTLP dotted names sanitize to the Prometheus charset (the
    standard bridge mapping; ADVICE r11) so decoded rows survive the
    rows → OpenMetrics text → rows path."""
    from mandodb_spark.sources import otlp
    from mandodb_spark.sources.loaders import (rows_from_openmetrics,
                                               to_openmetrics)
    from pyspark.sql import functions as F

    pts = [{"kind": "number", "metric": "http.server.duration",
            "labels": {"service.name": "api", "9bad": "x"},
            "ts": 1000, "value": 1.5}]
    df = spark.createDataFrame(
        [(otlp.encode_export_request(pts),)], "payload binary")
    rows = otlp.rows_from_otlp(df)
    r = rows.collect()[0]
    assert r.metric == "http_server_duration"
    assert r.labels == {"service_name": "api", "_9bad": "x"}

    lines = to_openmetrics(rows.select(
        F.map_concat(F.create_map(F.lit("__name__"), F.col("metric")),
                     "labels").alias("labels"), "ts", "value"))
    back = rows_from_openmetrics(lines, text_col="line").collect()
    assert back[0].metric == "http_server_duration"
    assert back[0].labels == {"service_name": "api", "_9bad": "x"}


def test_otlp_truncated_payload_raises(spark):
    """A length-delimited field whose declared length overruns the
    buffer fails the WHOLE payload decode (ADVICE r11: no silent
    short-slice partial decodes)."""
    import pytest

    from mandodb_spark.sources import otlp

    good = otlp.encode_export_request(
        [{"kind": "number", "metric": "m", "labels": {}, "ts": 1,
          "value": 1.0}])
    with pytest.raises(ValueError):
        otlp.decode_export_request(good[:-3])
    df = spark.createDataFrame([(good[:-3],)], "payload binary")
    assert otlp.rows_from_otlp(df).count() == 0  # drop mode
    with pytest.raises(Exception):
        otlp.rows_from_otlp(df, on_error="raise").count()


# ------------------------------------------------- golden wire fixtures
# Frozen wire bytes for the three codecs (r11 verdict #4).  Upstream
# binaries (protoc / prometheus / an OTel SDK) are not available in this
# environment, so these are the strongest obtainable independence: each
# fixture was hand-derived from the PUBLIC wire specification (protobuf
# encoding rules + prometheus remote.proto/types.proto field numbers,
# opentelemetry metrics.proto field numbers, chunkenc xor.go bit layout)
# with a test-local encoder that shares no code with mandodb_spark, then
# frozen as a hex literal.  A decoder bug can no longer hide behind a
# matching encoder bug: the literals pin the exact on-wire layout.

#: WriteRequest{timeseries:[{labels:[__name__=up, job=api],
#:                           samples:[{value:1.0, ts:1700000000000}]}]}
GOLDEN_PROMPB_WRITE_REQUEST = bytes.fromhex(
    "0a2e0a0e0a085f5f6e616d655f5f120275700a0a0a036a6f62120361706912"
    "1009000000000000f03f1080d095ffbc31")

#: ExportMetricsServiceRequest with one gauge point up{job="api"} = 1.0
#: @ 1700000000s (time_unix_nano = 1.7e18).
GOLDEN_OTLP_EXPORT_REQUEST = bytes.fromhex(
    "0a2c122a12280a0275702a220a203a0c0a036a6f6212050a03617069190000"
    "2a36fe9c971721000000000000f03f")

#: chunkenc XOR chunk of [(1000ms, 1.0), (1060ms, 1.0), (1120ms, 2.0)]:
#: 0003 count | d00f zigzag-varint(1000) | 8 bytes bits(1.0) |
#: 3c uvarint(60) | bits 0 (same value), 0 (dod=0), 1 1 (new window),
#: 00001 (lead=1), 001011 (sig=11), 11111111111 (xor>>52), zero-padded.
GOLDEN_XOR_CHUNK = bytes.fromhex("0003d00f3ff00000000000003c3097ffc0")


def test_golden_prompb_write_request():
    """The prompb decoder reads spec-derived WriteRequest bytes it did
    not produce, and the encoder's snappy payload is byte-identical to
    the golden wire form (labels/samples in canonical order)."""
    from mandodb_spark.sources import prompb

    d = prompb.decode_write_request(GOLDEN_PROMPB_WRITE_REQUEST)
    assert d == [{
        "labels": [{"name": "__name__", "value": "up"},
                   {"name": "job", "value": "api"}],
        "samples": [{"timestamp": 1700000000000, "value": 1.0}],
        "histograms": [], "exemplars": [],
    }]
    enc = prompb.encode_write_request(d)
    assert prompb.snappy_decompress(enc) == GOLDEN_PROMPB_WRITE_REQUEST


def test_golden_otlp_export_request():
    """The OTLP decoder reads spec-derived ExportMetricsServiceRequest
    bytes it did not produce; our encoder (different field order — valid
    protobuf) round-trips to the same decoded points."""
    from mandodb_spark.sources import otlp

    pts = otlp.decode_export_request(GOLDEN_OTLP_EXPORT_REQUEST)
    assert pts == [{"kind": "number", "metric": "up",
                    "labels": {"job": "api"}, "temporality": None,
                    "ts": 1700000000, "value": 1.0}]
    ours = otlp.encode_export_request(
        [{"kind": "number", "metric": "up", "labels": {"job": "api"},
          "ts": 1700000000, "value": 1.0}])
    assert otlp.decode_export_request(ours) == pts


def test_golden_xor_chunk():
    """The XOR codec is bit-identical to the chunkenc layout: decodes
    the hand-derived golden chunk and re-encodes it byte-for-byte."""
    from mandodb_spark.sources.xor_chunk import decode_chunk, encode_chunk

    samples = [(1000, 1.0), (1060, 1.0), (1120, 2.0)]
    assert decode_chunk(GOLDEN_XOR_CHUNK) == samples
    assert encode_chunk(samples) == GOLDEN_XOR_CHUNK


# ------------------------------------------ malformed wire payloads
# Seeded mutants (truncations, bit flips, in-place length inflations) of
# real payloads.  The prompb oracle is a dict decoder over its own
# bounds-checked field iterator — no framing code shared with
# mandodb_spark; histogram and exemplar messages have one parser, which
# it calls.


def _ref_uvarint(buf: bytes, i: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        i += 1
        if shift == 63 and b > 1:
            raise ValueError("varint overflows 64 bits")
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, i
        shift += 7


def _ref_fields(buf: bytes):
    i, n = 0, len(buf)
    while i < n:
        key, i = _ref_uvarint(buf, i)
        wt = key & 0x07
        if wt == 0:
            v, i = _ref_uvarint(buf, i)
        elif wt in (1, 2, 5):
            if wt == 2:
                ln, i = _ref_uvarint(buf, i)
            else:
                ln = 8 if wt == 1 else 4
            if i + ln > n:
                raise ValueError("truncated field")
            v, i = buf[i:i + ln], i + ln
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield key >> 3, wt, v


def _ref_decode_write_request(data: bytes) -> list[dict]:
    import struct

    from mandodb_spark.sources import prompb

    def label(buf):
        name = value = ""
        for f, wt, v in _ref_fields(buf):
            if f == 1 and wt == 2:
                name = v.decode("utf-8")
            elif f == 2 and wt == 2:
                value = v.decode("utf-8")
        return {"name": name, "value": value}

    def sample(buf):
        out = {"timestamp": 0, "value": 0.0}
        for f, wt, v in _ref_fields(buf):
            if f == 1 and wt == 1:
                out["value"] = struct.unpack("<d", v)[0]
            elif f == 2 and wt == 0:
                out["timestamp"] = v - (1 << 64) if v >= (1 << 63) else v
        return out

    def timeseries(buf):
        out = {"labels": [], "samples": [], "histograms": [], "exemplars": []}
        for f, wt, v in _ref_fields(buf):
            if wt != 2:
                continue
            if f == 1:
                out["labels"].append(label(v))
            elif f == 2:
                out["samples"].append(sample(v))
            elif f == 3:
                out["exemplars"].append(prompb._decode_exemplar(v))
            elif f == 4:
                out["histograms"].append(prompb._decode_histogram(v))
        return out

    return [timeseries(v) for f, wt, v in _ref_fields(data)
            if f == 1 and wt == 2]


def _length_sites(buf: bytes, i: int = 0, end: int | None = None,
                  depth: int = 0) -> list | None:
    """(offset, varint width, length, depth) of every length-delimited
    field, descending into each body that parses as a message; None
    when ``buf[i:end]`` is not a message."""
    end = len(buf) if end is None else end
    out = []
    try:
        while i < end:
            key, i = _ref_uvarint(buf, i)
            wt = key & 0x07
            if wt == 0:
                _, i = _ref_uvarint(buf, i)
            elif wt in (1, 5):
                i += 8 if wt == 1 else 4
            elif wt == 2:
                ln, j = _ref_uvarint(buf, i)
                out.append((i, j - i, ln, depth))
                out.extend(_length_sites(buf, j, j + ln, depth + 1) or [])
                i = j + ln
            else:
                return None
    except ValueError:
        return None
    return out if i == end else None


def _inflate(buf: bytes, site: tuple, rng) -> bytes:
    """``buf`` with the length at ``site`` raised in place (same varint
    width), so the field overruns the message that encloses it."""
    off, width, ln, _ = site
    v = rng.randint(ln + 1, (1 << 7 * width) - 1)
    enc = bytes(((v >> 7 * k) & 0x7F) | (0x80 if k < width - 1 else 0)
                for k in range(width))
    return buf[:off] + enc + buf[off + width:]


def _mutants(payload: bytes, rng, n_trunc: int, n_flip: int,
             n_inflate: int) -> set:
    sites = [s for s in _length_sites(payload) if s[2] + 1 < 1 << 7 * s[1]]
    out = {payload[:rng.randrange(len(payload))] for _ in range(n_trunc)}
    for _ in range(n_flip):
        k = rng.randrange(len(payload))
        out.add(payload[:k] + bytes([payload[k] ^ 1 << rng.randrange(8)])
                + payload[k + 1:])
    out.update(_inflate(payload, rng.choice(sites), rng)
               for _ in range(n_inflate))
    out.discard(payload)
    return out


def _canon(x):
    """Comparable form of decoded rows: NaN equal to NaN, -0.0 distinct
    from 0.0, dicts by sorted key."""
    if isinstance(x, float):
        return "nan" if x != x else x.hex()
    if isinstance(x, dict):
        return tuple(sorted((k, _canon(v)) for k, v in x.items()))
    if isinstance(x, (list, tuple)):
        return tuple(_canon(v) for v in x)
    return x


def _bench_shaped_write_request() -> bytes:
    """Several series of sorted labels and 15 s-spaced ms samples — the
    layout of the benchmark's remote-write batches (6-byte timestamp
    varints, 18-byte Sample messages)."""
    import random

    from mandodb_spark.sources import prompb

    rng = random.Random(5)
    series = []
    for s in range(6):
        labels = {"__name__": f"bench_metric_{s % 3}", "host": f"h{s:02d}",
                  "region": f"r{s % 2}", "zone": "z1"}
        series.append({
            "labels": [{"name": k, "value": v}
                       for k, v in sorted(labels.items())],
            "samples": [{"timestamp": 1_700_000_000_000 + 15_000 * k,
                         "value": rng.uniform(0, 100)} for k in range(15)],
            "histograms": [], "exemplars": []})
    return prompb.encode_write_request(series, compress=False)


def test_prompb_malformed_payloads_take_one_defined_path(spark):
    """Every mutant of the golden WriteRequest and of a benchmark-shaped
    payload either raises ValueError in the decoder — exactly when the
    reference decoder raises — or decodes to exactly the reference's
    series; never garbage rows, never another exception type.  The
    Spark seam in drop mode drops exactly the raising mutants."""
    import random

    from mandodb_spark.sources import prompb

    rng = random.Random(20261017)
    mutants = sorted(
        _mutants(GOLDEN_PROMPB_WRITE_REQUEST, rng, 60, 500, 900)
        | _mutants(_bench_shaped_write_request(), rng, 600, 1500, 700))
    assert len(mutants) >= 3000
    want_rows, n_raise = [], 0
    for m in mutants:
        try:
            want = _ref_decode_write_request(m)
        except ValueError:
            want = None
        try:
            got = prompb.decode_write_request(m)
        except ValueError:
            got = None
        if want is None:
            assert got is None, m.hex()
            n_raise += 1
        else:
            assert got is not None and _canon(got) == _canon(want), m.hex()
            want_rows.extend(want)
    assert 0 < n_raise < len(mutants)

    df = spark.createDataFrame([(prompb.snappy_compress(m),) for m in mutants],
                               "payload binary")
    got_rows = prompb.timeseries_from_prompb(df, on_error="drop").collect()
    assert (sorted(map(repr, (_canon(r.asDict(recursive=True))
                              for r in got_rows)))
            == sorted(map(repr, map(_canon, want_rows))))


def test_otlp_malformed_payloads_raise_value_error():
    """Truncated, length-inflated and bit-flipped OTLP export requests
    raise ValueError — never IndexError or struct.error.  Every proper
    truncation of a one-resource request cuts its outer field, and an
    inflated envelope length (ResourceMetrics, Resource/ScopeMetrics,
    Metric/KeyValue) overruns its parent, so those always raise; deeper
    sites may sit inside opaque bytes and decode, and so may a flipped
    bit (every single-bit flip is tried)."""
    import random

    from mandodb_spark.sources import otlp

    rng = random.Random(11)
    payloads = [GOLDEN_OTLP_EXPORT_REQUEST, otlp.encode_export_request([
        {"kind": "number", "metric": "m", "labels": {"job": "api"},
         "ts": 1000, "value": 1.0},
        {"kind": "histogram", "metric": "lat", "labels": {"job": "api"},
         "ts": 1000, "count": 10, "sum": 7.5,
         "bucket_counts": [4, 3, 2, 1], "bounds": [0.1, 0.5, 1.0]},
        {"kind": "exphist", "metric": "nh", "labels": {"job": "api"},
         "ts": 1000, "count": 10, "sum": 7.5, "scale": 3, "zero_count": 0,
         "zero_threshold": 1e-10, "pos_offset": 0, "pos_counts": [10],
         "neg_offset": 0, "neg_counts": []},
        {"kind": "summary", "metric": "s", "labels": {}, "ts": 1000,
         "count": 3, "sum": 1.5, "quantiles": [(0.5, 0.4), (0.9, 0.8)]}])]
    for payload in payloads:
        otlp.decode_export_request(payload)
        for k in range(1, len(payload)):
            with pytest.raises(ValueError):
                otlp.decode_export_request(payload[:k])
        sites = _length_sites(payload)
        assert sites
        for site in sites:
            for _ in range(4):
                try:
                    otlp.decode_export_request(_inflate(payload, site, rng))
                except ValueError:
                    continue
                assert site[3] > 2, site
        for bit in range(len(payload) * 8):
            bad = bytearray(payload)
            bad[bit >> 3] ^= 0x80 >> (bit & 7)
            try:
                otlp.decode_export_request(bytes(bad))
            except ValueError:
                pass


def test_openmetrics_metadata_codec(spark):
    """# HELP/# TYPE/# UNIT metadata lines decode to the /api/v1/metadata
    layout (one row per metric, unknown type default, HELP unescaping),
    write back out, and round-trip; sample/EOF lines fail the metadata
    grammar and sample decoding ignores metadata lines — the two decoders
    partition a full exposition."""
    from mandodb_spark.sources.loaders import (
        metadata_from_openmetrics,
        metadata_to_openmetrics,
        rows_from_openmetrics,
    )

    exposition = [
        '# HELP http_requests_total Total requests\\n2nd line \\\\slash',
        '# TYPE http_requests_total counter',
        '# UNIT http_request_duration_seconds seconds',
        '# HELP http_request_duration_seconds How long',
        '# TYPE http_request_duration_seconds histogram',
        '# HELP orphan_metric Only help, no type',
        'http_requests_total{code="200"} 42 1700000000',
        '# EOF',
    ]
    lines = spark.createDataFrame([(l,) for l in exposition], "value string")
    meta = {r.metric: (r.type, r.help, r.unit)
            for r in metadata_from_openmetrics(lines).collect()}
    assert meta == {
        "http_requests_total":
            ("counter", "Total requests\n2nd line \\slash", None),
        "http_request_duration_seconds": ("histogram", "How long", "seconds"),
        "orphan_metric": ("unknown", "Only help, no type", None),
    }
    # samples decode independently of the metadata lines
    samples = rows_from_openmetrics(lines).collect()
    assert len(samples) == 1 and samples[0].value == 42.0

    # write side + round trip (unknown-type row keeps its TYPE line)
    back_lines = metadata_to_openmetrics(metadata_from_openmetrics(lines))
    texts = {r.line for r in back_lines.collect()}
    assert '# TYPE http_requests_total counter' in texts
    assert ('# HELP http_requests_total Total requests\\n2nd line '
            '\\\\slash') in texts
    assert '# UNIT http_request_duration_seconds seconds' in texts
    back = {r.metric: (r.type, r.help, r.unit)
            for r in metadata_from_openmetrics(
                back_lines, text_col="line").collect()}
    assert back == meta
