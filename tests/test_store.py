"""Storage-layer tests: compaction, stats, and the A1 partial/final merge
invariant (property-style, mirroring tsdb.go:295-321)."""

from __future__ import annotations

import random
from pathlib import Path

import pytest

from mandodb_spark import TSDB, LabelMatcher, ROW_SCHEMA

START = 1_700_000_000


def test_compaction_preserves_results_and_reduces_files(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "c")
    db = TSDB(spark, path)
    # three separate appends into the same segments → multiple files/partition
    for batch in range(3):
        db.insert_rows(
            [("m", {"b": str(i % 2)}, START + batch * 50 + i, float(i)) for i in range(40)]
        )
    before = len(list(Path(path).glob("seg=*/*.parquet")))
    res_before = db.query_range_rows("m", [], 0, 10**10).orderBy("ts", "value").collect()
    db.compact()
    after = len(list(Path(path).glob("seg=*/*.parquet")))
    res_after = db.query_range_rows("m", [], 0, 10**10).orderBy("ts", "value").collect()
    assert after < before
    assert [(r.ts, r.value) for r in res_before] == [(r.ts, r.value) for r in res_after]


def test_segment_stats(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "s")
    db = TSDB(spark, path)
    db.insert_rows(
        [("m", {"x": "1"}, START, 1.0), ("m", {"x": "2"}, START + 10, 2.0),
         ("m", {"x": "1"}, START + 7200, 3.0)]
    )
    stats = db.store.stats().collect()
    assert [(r.seg, r.series_count, r.data_points_count) for r in stats] == [
        (START // 7200, 2, 2),
        (START // 7200 + 1, 1, 1),
    ]
    assert stats[0].min_ts == START and stats[0].max_ts == START + 10


def test_partial_final_merge_invariant(spark, tmp_path_factory):
    """A1 property (tsdb.go:295-321): querying data ingested as many random
    batches equals querying the same rows ingested as one batch — Spark's
    partial/final aggregation must make segmentation invisible."""
    rng = random.Random(42)
    rows = [
        (
            rng.choice(["cpu", "mem"]),
            {"node": f"vm{rng.randrange(3)}"},
            START + rng.randrange(0, 30_000),
            round(rng.random() * 100, 3),
        )
        for _ in range(500)
    ]
    base = tmp_path_factory.mktemp("merge")
    whole = TSDB(spark, str(base / "whole"))
    split = TSDB(spark, str(base / "split"))
    whole.insert_rows(rows)
    # random partition into 5 batches
    batches = [[] for _ in range(5)]
    for r in rows:
        batches[rng.randrange(5)].append(r)
    for b in batches:
        if b:
            split.insert_rows(b)

    args = ("cpu", [LabelMatcher("node", "vm1")], START, START + 30_000)
    a = whole.query_range(*args).collect()
    b = split.query_range(*args).collect()
    key = lambda r: sorted(r.labels.items())
    a.sort(key=key)
    b.sort(key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra.labels == rb.labels
        assert [(p.ts, p.value) for p in ra.points] == [(p.ts, p.value) for p in rb.points]


def test_compact_while_reader_requeries(spark, tmp_path_factory):
    """Read-during-compact story (VERDICT r2 #8): a reader holding a
    DataFrame over the store re-queries across a compaction and gets
    identical results — the staging-dir + rename-aside swap never exposes
    a partially rewritten partition (the Parquet analogue of the
    reference's atomic segment swap, tsdb.go:242-265)."""
    path = str(tmp_path_factory.mktemp("store") / "swap")
    db = TSDB(spark, path)
    for batch in range(3):
        db.insert_rows(
            [("m", {"b": str(i % 2)}, START + batch * 50 + i, float(i)) for i in range(40)]
        )
    reader = db.query_range_rows("m", [], 0, 10**10).orderBy("ts", "value")
    before = [(r.ts, r.value) for r in reader.collect()]
    db.compact()
    # same lazy DataFrame, re-executed after the swap: re-lists the (new)
    # root and must see the same logical content
    after = [(r.ts, r.value) for r in reader.collect()]
    assert before == after
    # the crash-recovery artifacts are gone: no __old / __compact siblings
    assert not Path(f"{path}__old").exists() and not Path(f"{path}__compact").exists()


def test_compact_before_any_append_is_noop(spark, tmp_path_factory):
    """compact() on a never-written store must not raise."""
    from mandodb_spark.sources.segment_store import SegmentStore

    base = tmp_path_factory.mktemp("empty")
    assert SegmentStore(spark, str(base / "plain")).compact() == []


def test_incremental_rollup_rejects_incompatible_step(spark, tmp_path_factory):
    """materialize_rollup(incremental=True) must fail loudly when step and
    segment_duration are not divide-compatible (ADVICE r2: silent
    divergence from a full rebuild otherwise)."""
    import pytest

    path = tmp_path_factory.mktemp("rollup")
    db = TSDB(spark, str(path / "store"))
    db.insert_rows([("m", {"x": "1"}, START, 1.0)])
    with pytest.raises(ValueError, match="divide-compatible"):
        db.materialize_rollup(str(path / "r"), step=5000, incremental=True)
    # compatible steps still work both ways
    db.materialize_rollup(str(path / "r2"), step=3600, incremental=True)
    db.materialize_rollup(str(path / "r3"), step=14400, incremental=True)


def _canon(v):
    """A Row value made comparable: maps and structs become sorted tuples."""
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (tuple, list)):
        return tuple(_canon(x) for x in v)
    return v


def _aggregate_rows(spark, dest):
    """Every row of a materialized aggregate; HLL sketches by estimate."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(dest)
    if "sketch" in df.columns:
        df = df.select("seg", "n_points",
                       F.hll_sketch_estimate("sketch").alias("est"))
    return sorted(_canon(tuple(r)) for r in df.collect())


#: The five continuous aggregates, each as materialize(db, dest, **refresh).
_AGGREGATES = {
    "rollup": lambda db, d, **kw: db.materialize_rollup(d, step=21600, **kw),
    "hist": lambda db, d, **kw: db.materialize_value_histogram(d, **kw),
    "card": lambda db, d, **kw: db.materialize_series_cardinality(d, **kw),
    "quantile": lambda db, d, **kw: db.materialize_value_quantile(d, **kw),
    "nh": lambda db, d, **kw: db.materialize_nh_rollup(d, step=3600, **kw),
}


@pytest.mark.parametrize("case,agg", [
    ("straddling_step", "nh"),
    ("since_seg_mid_bucket", "rollup"),
    *[("empty_dest", agg) for agg in _AGGREGATES],
])
def test_refresh_equals_full_rebuild(spark, tmp_path_factory, case, agg):
    """Every continuous-aggregate refresh equals a full rebuild over the
    same store, or raises:
    - ``straddling_step``: 5000 s native-histogram windows straddle the
      7200 s segments, and a refresh from the watermark would rewrite
      the straddling window from part of its rows, so it raises
      ValueError, as the float rollup's does;
    - ``since_seg_mid_bucket``: a late row in seg 4, the second segment
      of the 21600 s bucket starting at seg 3, must refresh that whole
      bucket, so ``since_seg`` is floored to the bucket, not ceiled;
    - ``empty_dest``: a full build over an empty store leaves ``dest``
      with no partition and no schema to infer, so the next incremental
      refresh is a full build."""
    from pyspark.sql import functions as F

    from mandodb_spark.functions import native_hist as nh

    base = tmp_path_factory.mktemp(f"refresh-{case}-{agg}")
    db = TSDB(spark, str(base / "s"))
    materialize = _AGGREGATES[agg]

    def insert(rows):
        if agg != "nh":
            db.insert_rows(rows)
            return
        snaps = nh.observe_histograms(spark.createDataFrame(rows, ROW_SCHEMA))
        db.insert_histograms(
            snaps.select(F.lit("m").alias("metric"), "labels", "ts", "hist"))

    rows = [("m", {"n": str(i % 2)}, i * 600, float(i % 7)) for i in range(101)]
    dest = str(base / "agg")
    if case == "straddling_step":
        def materialize(db, d, **kw):
            db.materialize_nh_rollup(d, step=5000, **kw)

        insert(rows)
        materialize(db, dest)
        with pytest.raises(ValueError, match="divide-compatible"):
            materialize(db, dest, incremental=True)
    elif case == "since_seg_mid_bucket":
        insert(rows)
        materialize(db, dest)
        insert([("m", {"n": "0"}, 30000, 100.0)])
        materialize(db, dest, since_seg=30000 // 7200)
    else:
        materialize(db, dest)
        assert not list(Path(dest).glob("seg=*"))
        insert(rows)
        materialize(db, dest, incremental=True)
    full = str(base / "full")
    materialize(db, full)
    got, want = _aggregate_rows(spark, dest), _aggregate_rows(spark, full)
    assert got == want and len(got) > 1
    if case == "since_seg_mid_bucket":
        assert db.rollup_relation(dest).filter(
            F.col("bucket_ts") == 21600).agg(F.max("max_value")).first()[0] == 100.0


# ------------------------------------------------------- duplicate policies
def test_default_policy_is_multiset(spark, tmp_path_factory):
    """The engine's documented default (SURVEY §7.4): re-sends accumulate."""
    path = str(tmp_path_factory.mktemp("store") / "ms")
    db = TSDB(spark, path)
    db.insert_rows([("m", {"x": "1"}, START, 1.0), ("m", {"x": "1"}, START, 2.0)])
    db.insert_rows([("m", {"x": "1"}, START, 3.0)])
    vals = sorted(r.value for r in db.query_range_rows("m", [], 0, 10**10).collect())
    assert vals == [1.0, 2.0, 3.0]


def test_dedup_points_last_write_wins_within_batch(spark, tmp_path_factory):
    """Opt-in dedup (reference series.go:24-27 / tsdb.go:91-97): one point
    per (series, ts); within a batch the LAST row by input order wins."""
    path = str(tmp_path_factory.mktemp("store") / "dd")
    db = TSDB(spark, path)
    db.insert_rows(
        [
            ("m", {"x": "1"}, START, 1.0),
            ("m", {"x": "1"}, START, 2.0),   # re-send, later in input order
            ("m", {"x": "1"}, START + 1, 5.0),
            ("m", {"x": "2"}, START, 7.0),   # different series, untouched
        ],
        dedup_points=True,
    )
    rows = {
        (r.labels["x"], r.ts): r.value
        for r in db.query_range_rows("m", [], 0, 10**10).collect()
    }
    assert rows == {("1", START): 2.0, ("1", START + 1): 5.0, ("2", START): 7.0}


def test_dedup_against_store_first_write_wins_across_batches(spark, tmp_path_factory):
    """Cross-batch mode: a (series, ts) already stored rejects the re-send —
    the net effect of the reference's TSZ ts<=maxTs drop."""
    path = str(tmp_path_factory.mktemp("store") / "xb")
    db = TSDB(spark, path)
    db.insert_rows([("m", {"x": "1"}, START, 1.0)])
    db.insert_rows(
        [("m", {"x": "1"}, START, 99.0), ("m", {"x": "1"}, START + 1, 2.0)],
        dedup_points=True,
        dedup_against_store=True,
    )
    rows = {(r.ts): r.value for r in db.query_range_rows("m", [], 0, 10**10).collect()}
    assert rows == {START: 1.0, START + 1: 2.0}


def test_dedup_policies_memory_store(spark):
    """The memory store honors the same policy surface (T6 parity)."""
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(
        [("m", {"x": "1"}, START, 1.0), ("m", {"x": "1"}, START, 2.0)],
        dedup_points=True,
    )
    db.insert_rows(
        [("m", {"x": "1"}, START, 50.0)], dedup_points=True, dedup_against_store=True
    )
    rows = [(r.ts, r.value) for r in db.query_range_rows("m", [], 0, 10**10).collect()]
    assert rows == [(START, 2.0)]
    db.store.close()


# ---------------------------------------------------- hot-segment write split
def test_max_rows_per_segment_fans_out_hot_segment(spark, tmp_path_factory):
    """A pathological hot window must not serialize into one writer task /
    one unsplittable file (reference WithMaxRowsPerSegment, tsdb.go:99-105):
    with a row budget the segment's batch lands as multiple sorted files,
    query results unchanged."""
    from mandodb_spark.sources.segment_store import SegmentStore

    path = str(tmp_path_factory.mktemp("store") / "hot")
    store = SegmentStore(spark, path, max_rows_per_segment=100)
    rows = [
        ("m", {"x": str(i % 7)}, START + (i % 3600), float(i)) for i in range(400)
    ]
    store.insert_pylist(rows)
    seg_dirs = list(Path(path).glob("seg=*"))
    assert len(seg_dirs) == 1  # all rows in one hot 2h segment
    files = list(seg_dirs[0].glob("*.parquet"))
    assert len(files) >= 4  # ceil(400/100) writer tasks
    got = sorted(r.value for r in store.relation().collect())
    assert got == sorted(float(i) for i in range(400))
    # a cold batch under the budget keeps the one-file-per-batch invariant
    store.insert_pylist([("m", {"x": "1"}, START + 7200 + i, 0.0) for i in range(10)])
    cold = list(Path(path).glob(f"seg={START // 7200 + 1}/*.parquet"))
    assert len(cold) == 1

    # same option through the TSDB facade (WithMaxRowsPerSegment parity)
    fpath = str(Path(path).parent / "hot_facade")
    db = TSDB(spark, fpath, max_rows_per_segment=100)
    db.insert_rows(rows)
    ffiles = list(Path(fpath).glob("seg=*/*.parquet"))
    assert len(ffiles) >= 4
    assert db.query_range_rows("m", [], 0, 10**12).count() == 400


def test_swap_in_atomic_exchange_and_fallback(tmp_path, monkeypatch):
    """swap_in's primary path is one renameat2(RENAME_EXCHANGE) syscall —
    no instant with a missing root (a concurrent lister can never hit
    FileNotFound); the two-rename fallback must produce the identical end
    state when the syscall is unavailable (non-Linux / old kernel)."""
    from mandodb_spark.sources import segment_store as ss

    def build(tag):
        root = tmp_path / f"root_{tag}"
        staging = tmp_path / f"root_{tag}__compact"
        root.mkdir(), staging.mkdir()
        (root / "data.txt").write_text("old")
        (staging / "data.txt").write_text("new")
        return str(root), str(staging)

    # primary (atomic exchange) path — only asserted where the kernel has it
    root, staging = build("atomic")
    if ss._renameat2_exchange(root, staging):
        # undo the probe exchange, then run the real swap
        assert ss._renameat2_exchange(root, staging)
        ss.swap_in(root, staging)
        assert (Path(root) / "data.txt").read_text() == "new"
        assert not Path(staging).exists() and not Path(f"{root}__old").exists()

    # forced fallback path: same observable end state
    monkeypatch.setattr(ss, "_renameat2_exchange", lambda a, b: False)
    root, staging = build("fallback")
    ss.swap_in(root, staging)
    assert (Path(root) / "data.txt").read_text() == "new"
    assert not Path(staging).exists() and not Path(f"{root}__old").exists()


def test_fsck_clean_corrupt_and_orphan_detection(spark, tmp_path_factory):
    """fsck mirrors the reference's loadFiles startup validation
    (tsdb.go:408-463) over the Parquet layout: footer-only (no data pages),
    flags truncated files, leftover swap dirs, and out-of-bounds ts stats."""
    from mandodb_spark.sources.segment_store import SegmentStore

    path = str(tmp_path_factory.mktemp("store") / "f")
    store = SegmentStore(spark, path)
    store.insert_pylist(
        [("m", {"x": str(i % 3)}, START + i * 1800, float(i)) for i in range(12)]
    )
    rep = store.fsck()
    assert rep["ok"] and not rep["corrupt"] and not rep["orphans"]
    assert sum(s["rows"] for s in rep["segments"]) == 12
    assert all(not s["out_of_bounds"] for s in rep["segments"])

    # truncate one file -> corrupt; plant a stale __compact dir -> orphan
    victim = next(Path(path).glob("seg=*/*.parquet"))
    victim.write_bytes(victim.read_bytes()[: victim.stat().st_size // 2])
    (Path(f"{path}__compact")).mkdir()
    rep2 = store.fsck()
    assert not rep2["ok"]
    assert [str(victim)] == rep2["corrupt"]
    assert rep2["orphans"] == [f"{path}__compact"]


def test_snapshot_is_instant_frozen_and_fsck_clean(spark, tmp_path_factory):
    """Hardlink snapshot: zero-copy, reads identically, stays frozen while
    the live store compacts and expires segments, and fsck passes on both
    trees.  Restore = snapshot back over a fresh root."""
    from mandodb_spark.sources.segment_store import SegmentStore, snapshot

    base = tmp_path_factory.mktemp("snap")
    path = str(base / "live")
    db = TSDB(spark, path)
    rows = [("m", {"x": str(i % 3)}, START + i * 3600, float(i)) for i in range(10)]
    db.insert_rows(rows)
    before = sorted((r.ts, r.value) for r in db.query_range_rows("m", [], 0, 10**10).collect())

    snap = str(base / "backup")
    n = db.snapshot(snap)  # links every file, incl. _SUCCESS/.crc markers
    assert n >= len(list(Path(path).rglob("*.parquet")))
    assert sorted(p.name for p in Path(snap).rglob("*.parquet")) == sorted(
        p.name for p in Path(path).rglob("*.parquet")
    )
    assert SegmentStore(spark, snap).fsck()["ok"]

    # live tree mutates: compaction rewrites files, retention drops segments
    db.compact()
    dropped = db.store.remove_expired(now_ts=START + 10 * 3600, retention=3 * 3600)
    assert dropped
    live_now = sorted((r.ts, r.value) for r in db.query_range_rows("m", [], 0, 10**10).collect())
    assert len(live_now) < len(before)

    # the snapshot is frozen: full original content, fsck still clean
    snap_rows = sorted(
        (r.ts, r.value)
        for r in spark.read.parquet(snap).filter("labels['__name__'] = 'm'").collect()
    )
    assert snap_rows == before
    assert SegmentStore(spark, snap).fsck()["ok"]

    # restore into a fresh root and query through the engine again
    restored = str(base / "restored")
    snapshot(snap, restored)
    db2 = TSDB(spark, restored)
    back = sorted((r.ts, r.value) for r in db2.query_range_rows("m", [], 0, 10**10).collect())
    assert back == before
    # refusal on a non-empty destination
    import pytest as _pytest

    with _pytest.raises(FileExistsError):
        snapshot(snap, restored)


def test_compact_salvages_concurrent_append(spark, tmp_path_factory, monkeypatch):
    """A batch committed between compaction's snapshot read and its swap
    must survive: the rewrite consumes exactly the files its plan listed,
    and post-swap salvage moves anything newer from the replaced tree
    into the live one (previously the swap silently discarded it)."""
    from mandodb_spark.sources import segment_store as ss
    from mandodb_spark.sources.segment_store import SegmentStore

    path = str(tmp_path_factory.mktemp("store") / "race")
    store = SegmentStore(spark, path)
    for batch in range(2):
        store.insert_pylist(
            [("m", {"b": str(i % 2)}, START + batch * 30 + i, float(i)) for i in range(20)]
        )

    # interpose on the swap: a concurrent writer lands a batch AFTER the
    # compaction rewrite finished but BEFORE the directory swap
    orig = ss.swap_in
    late = [("m", {"late": "1"}, START + 9999, 123.0)]

    def hooked(root, staging_root, keep_old=False):
        SegmentStore(spark, path).insert_pylist(late)
        return orig(root, staging_root, keep_old=keep_old)

    monkeypatch.setattr(ss, "swap_in", hooked)
    store.compact()

    got = sorted((r.ts, r.value) for r in store.relation().collect())
    assert (START + 9999, 123.0) in got          # the late batch survived
    assert len(got) == 41                        # 40 compacted + 1 salvaged
    assert not Path(f"{path}__compact").exists() and not Path(f"{path}__old").exists()


def test_selective_compact_only_fragmented_segments(spark, tmp_path_factory):
    """min_files_per_segment=N rewrites only segments with >= N files; the
    others keep their exact files, and query results are unchanged."""
    from mandodb_spark.sources.segment_store import SegmentStore

    path = str(tmp_path_factory.mktemp("store") / "sel")
    store = SegmentStore(spark, path)
    seg_dur = store.segment_duration
    # segment 0 of this range: 3 appends -> 3 files; next segment: 1 append
    base = (START // seg_dur) * seg_dur
    for batch in range(3):
        store.append(spark.createDataFrame(
            [("m", {"b": "x"}, base + batch, 1.0 * batch)], ROW_SCHEMA))
    store.append(spark.createDataFrame(
        [("m", {"b": "x"}, base + seg_dur + 1, 9.0)], ROW_SCHEMA))

    seg_hot, seg_cold = base // seg_dur, base // seg_dur + 1
    cold_files = sorted(p.name for p in Path(path).glob(f"seg={seg_cold}/*.parquet"))
    assert len(list(Path(path).glob(f"seg={seg_hot}/*.parquet"))) == 3
    before = sorted((r.ts, r.value) for r in store.relation().collect())

    done = store.compact(min_files_per_segment=2)
    assert done == [seg_hot]
    assert len(list(Path(path).glob(f"seg={seg_hot}/*.parquet"))) == 1
    # cold segment untouched — identical file names, not rewritten
    assert sorted(p.name for p in Path(path).glob(f"seg={seg_cold}/*.parquet")) == cold_files
    assert sorted((r.ts, r.value) for r in store.relation().collect()) == before

    # nothing fragmented anymore -> no-op, returns []
    assert store.compact(min_files_per_segment=2) == []


def test_selective_compact_guards(spark, tmp_path_factory):
    import pytest as _pytest

    from mandodb_spark.sources.segment_store import SegmentStore

    path = str(tmp_path_factory.mktemp("store") / "g")
    store = SegmentStore(spark, path)
    store.append(spark.createDataFrame([("m", {"n": "a"}, START, 1.0)], ROW_SCHEMA))
    with _pytest.raises(ValueError, match="min_files_per_segment"):
        store.compact(min_files_per_segment=0)


def test_selective_compact_fallback_never_pollutes_partition_discovery(spark, tmp_path_factory, monkeypatch):
    """Force the non-renameat2 fallback: the displaced tree must land
    OUTSIDE the store root (a seg=N__old dir inside it would poison
    partition discovery), results unchanged, no leftovers."""
    from mandodb_spark.sources import segment_store as ss

    path = str(tmp_path_factory.mktemp("store") / "fb")
    store = ss.SegmentStore(spark, path)
    for b in range(2):
        store.append(spark.createDataFrame(
            [("m", {"b": "x"}, START + b, float(b))], ROW_SCHEMA))
    before = sorted((r.ts, r.value) for r in store.relation().collect())

    monkeypatch.setattr(ss, "_renameat2_exchange", lambda a, b: False)
    done = store.compact(min_files_per_segment=2)
    assert len(done) == 1
    assert sorted((r.ts, r.value) for r in store.relation().collect()) == before
    root = Path(path)
    assert not any("__old" in p.name for p in root.glob("*"))      # inside root
    assert not Path(f"{path}__old").exists()                       # sibling cleaned
    assert not Path(f"{path}__compact").exists()


def test_vacuum_removes_only_orphan_trees(spark, tmp_path_factory):
    """vacuum reclaims crashed-swap residue trees, never live data or
    corrupt in-root files; dry_run only reports."""
    from pathlib import Path

    from mandodb_spark import TSDB
    root = str(tmp_path_factory.mktemp("vac") / "s")
    db = TSDB(spark, root)
    db.insert_rows([("m", {"n": "a"}, 1_700_000_000 + i, float(i))
                    for i in range(50)])
    n_before = db.query_range("m", [], 0, 2**40).count()

    # simulate a crashed swap: leftover __old tree + a corrupt file in-root
    old = Path(f"{root}__old")
    (old / "seg=0").mkdir(parents=True)
    (old / "seg=0" / "part-junk.parquet").write_bytes(b"x" * 1024)
    seg = next(Path(root).glob("seg=*"))
    corrupt = seg / "part-corrupt.parquet"
    corrupt.write_bytes(b"not a parquet file")

    rep = db.store.fsck()
    assert str(old) in rep["orphans"] and str(corrupt) in rep["corrupt"]

    dry = db.store.vacuum()
    assert dry["dry_run"] and dry["removed"] == [str(old)]
    assert dry["freed_bytes"] >= 1024 and old.exists()

    wet = db.vacuum(dry_run=False)
    assert wet["removed"] == [str(old)] and not old.exists()
    assert corrupt.exists()  # corrupt in-root file untouched
    rep2 = db.fsck()
    assert rep2["orphans"] == [] and str(corrupt) in rep2["corrupt"]
    corrupt.unlink()
    assert db.query_range("m", [], 0, 2**40).count() == n_before


def test_fsck_and_vacuum_cover_sibling_stores(spark, tmp_path_factory):
    """The facade's fsck and vacuum walk the histogram and exemplar roots
    as well as the float one: a corrupt file in ``<root>__hist`` and a
    crashed swap's ``<root>__exemplars__old`` tree are both reported, and
    vacuum removes only the orphan tree."""
    root = str(tmp_path_factory.mktemp("vacsib") / "s")
    db = TSDB(spark, root)
    db.insert_rows([("m", {"n": "a"}, START, 1.0)])
    db.insert_histograms([("h", {"n": "a"}, START, {
        "count": 1.0, "sum": 2.5, "zero_count": 0.0, "zero_threshold": 0.001,
        "schema": 3, "pos": {11: 1.0}, "neg": {}})])
    assert db.fsck()["ok"]

    corrupt = next(Path(f"{root}__hist").glob("seg=*")) / "part-corrupt.parquet"
    corrupt.write_bytes(b"not a parquet file")
    old = Path(f"{root}__exemplars__old") / "seg=0"
    old.mkdir(parents=True)
    (old / "part-junk.parquet").write_bytes(b"x" * 1024)
    rep = db.fsck()
    assert not rep["ok"]
    assert rep["corrupt"] == [str(corrupt)]
    assert rep["orphans"] == [f"{root}__exemplars__old"]
    assert sorted((s["root"], s["rows"], s["min_ts"], s["max_ts"], s["out_of_bounds"])
                  for s in rep["segments"]) == [(root, 1, START, START, False),
                                                (f"{root}__hist", 1, START, START, False)]

    wet = db.vacuum(dry_run=False)
    assert wet["removed"] == [f"{root}__exemplars__old"]
    assert wet["freed_bytes"] == 1024
    assert not old.parent.exists() and corrupt.exists()
    assert db.fsck()["orphans"] == []


def test_downsample_expire_tiered_retention(spark, tmp_path_factory):
    """Downsample-then-expire: expired raw segments land in the rollup
    store (exact n/sum/min/max per series x step bucket) BEFORE being
    purged; recent raw data is untouched; a rerun is a no-op (idempotent
    dynamic-overwrite + already-purged segs)."""
    base = tmp_path_factory.mktemp("tiered")
    db = TSDB(spark, str(base / "live"), segment_duration=2 * 3600,
              retention=3 * 3600)
    rows = [("m", {"x": str(i % 2)}, START + i * 1800, float(i))
            for i in range(16)]  # 8 hours of half-hour points
    db.insert_rows(rows)
    now = START + 8 * 3600
    roll_dest = str(base / "rollup")

    dropped = db.downsample_expire(step=3600, dest_root=roll_dest, now_ts=now)
    assert dropped  # segments wholly older than now - 3h
    cutoff = now - 3 * 3600
    # raw points past the horizon are gone, recent ones intact
    live = sorted(r.ts for r in db.query_range_rows("m", [], 0, 10**10).collect())
    assert live and min(live) >= (min(dropped) + 1) * 2 * 3600
    # rollup reproduces the dropped points exactly at 1h resolution
    roll = spark.read.parquet(roll_dest)
    got = {(r["series_key"], r["bucket_ts"]): (r["n"], r["sum"], r["min"], r["max"])
           for r in roll.collect()}
    expect = {}
    dropped_set = set(dropped)
    for _m, lab, ts, v in rows:
        seg = ts // (2 * 3600)
        if seg not in dropped_set:
            continue
        key = (lab["x"], ts // 3600 * 3600)
        cur = expect.get(key, (0, 0.0, float("inf"), float("-inf")))
        expect[key] = (cur[0] + 1, cur[1] + v, min(cur[2], v), max(cur[3], v))
    assert len(got) == len(expect)
    by_bucket = {}
    for (sk, b), agg in got.items():
        by_bucket.setdefault(b, []).append(agg)
    for (x, b), (n, s, mn, mx) in expect.items():
        assert (n, s, mn, mx) in by_bucket[b], (x, b)
    # rerun: nothing left to downsample
    assert db.downsample_expire(step=3600, dest_root=roll_dest, now_ts=now) == []


def test_tier_write_fails_fast_on_pre_gen_layout(spark, tmp_path_factory):
    """Round-7 ADVICE: a tier root holding pre-generation seg-only
    partitions (seg=N/*.parquet with no gen= level) breaks partition
    discovery if (seg, gen) writes mix in — the writer must refuse with
    a migration hint, not corrupt the tier."""
    import pytest

    base = tmp_path_factory.mktemp("pregen")
    dest = base / "tier"
    # forge a legacy seg-only tier partition
    spark.range(1).selectExpr("CAST(1.0 AS DOUBLE) AS v") \
        .write.parquet(str(dest / "seg=100"))
    db = TSDB(spark, str(base / "live"), segment_duration=2 * 3600,
              retention=3600)
    db.insert_rows([("m", {"x": "a"}, START + i * 600, float(i))
                    for i in range(6)])
    with pytest.raises(RuntimeError, match="pre-generation seg-only"):
        db.downsample_expire(step=3600, dest_root=str(dest),
                             now_ts=START + 40 * 3600)


def test_query_range_buckets_tiered_continuous_across_horizon(spark, tmp_path_factory):
    """Tiered query ≡ the buckets computed over the FULL pre-purge data:
    after downsample_expire, query_range_buckets_tiered returns the same
    per-series (bucket, n, sum, min, max) the raw store would have given,
    for a range spanning rollup-only, straddling, and raw-only buckets —
    and matchers filter both tiers."""
    from mandodb_spark.operators import tsdb_ops

    base = tmp_path_factory.mktemp("tieredq")
    db = TSDB(spark, str(base / "live"), segment_duration=2 * 3600,
              retention=3 * 3600)
    rows = [("m", {"x": str(i % 2)}, START + i * 1800, float(i))
            for i in range(16)]
    db.insert_rows(rows)
    # ground truth BEFORE purge, computed by the same tiered operator
    # with an empty rollup side (pure raw)
    empty_roll = spark.createDataFrame(
        [], "series_key long, labels map<string,string>, bucket_ts long, "
            "n long, sum double, min double, max double, seg long")
    s, e = START, START + 16 * 1800
    want = sorted(
        (r["labels"]["x"], r["bucket_ts"], r["n"], r["sum"], r["min"], r["max"])
        for r in tsdb_ops.query_range_buckets_tiered(
            db.store.relation(), empty_roll, "m", [], s, e, 3600,
            db.segment_duration).collect())

    now = START + 8 * 3600
    roll = str(base / "rollup")
    assert db.downsample_expire(step=3600, dest_root=roll, now_ts=now)
    got = sorted(
        (r["labels"]["x"], r["bucket_ts"], r["n"], r["sum"], r["min"], r["max"])
        for r in db.query_range_buckets_tiered("m", [], s, e, 3600, roll).collect())
    assert got == want

    only_x1 = db.query_range_buckets_tiered(
        "m", [LabelMatcher("x", "1")], s, e, 3600, roll).collect()
    assert only_x1 and all(r["labels"]["x"] == "1" for r in only_x1)
    assert len(only_x1) == sum(1 for w in want if w[0] == "1")


def test_delete_series_rewrites_only_touched_segments(spark, tmp_path_factory):
    """GDPR delete: matching series vanish across all their segments,
    other series and untouched segments are byte-identical (file mtimes
    unchanged), fully-matching partitions are dropped, and the op
    reports the exact point count removed."""
    import os

    base = tmp_path_factory.mktemp("gdpr")
    db = TSDB(spark, str(base / "live"), segment_duration=2 * 3600)
    rows = []
    for i in range(8):
        rows.append(("m", {"user": "alice"}, START + i * 3600, 1.0))
        rows.append(("m", {"user": "bob"}, START + i * 3600, 2.0))
    # a segment where ONLY alice lives (must be dropped entirely)
    rows.append(("m", {"user": "alice"}, START + 50 * 3600, 3.0))
    db.insert_rows(rows)
    seg_dirs = sorted((base / "live").glob("seg=*"))
    untouched_probe = None
    for d in seg_dirs:
        pass
    before_files = {str(p): os.path.getmtime(p)
                    for d in seg_dirs for p in d.glob("part-*")}

    n = db.delete_series([LabelMatcher("user", "alice")])
    assert n == 9
    left = db.query_range_rows("m", [], 0, 10**12).collect()
    assert len(left) == 8 and all(r["labels"]["user"] == "bob" for r in left)
    # alice-only segment directory is gone
    last_seg = (START + 50 * 3600) // (2 * 3600)
    assert not (base / "live" / f"seg={last_seg}").exists()
    # deleting again is a no-op
    assert db.delete_series([LabelMatcher("user", "alice")]) == 0


def test_delete_series_memory_mode(spark):
    """Memory-mode parity for the GDPR delete: same matcher language,
    same count contract, empty-matcher rejection."""
    import pytest as _pytest

    db = TSDB(spark, None, only_memory=True, segment_duration=2 * 3600)
    db.insert_rows([("m", {"u": "a"}, START, 1.0),
                    ("m", {"u": "b"}, START + 1, 2.0),
                    ("m", {"u": "a"}, START + 2, 3.0)])
    with _pytest.raises(ValueError):
        db.delete_series([])
    assert db.delete_series([LabelMatcher("u", "a")]) == 2
    left = db.query_range_rows("m", [], 0, 10**12).collect()
    assert len(left) == 1 and left[0]["labels"]["u"] == "b"
    assert db.delete_series([LabelMatcher("u", "a")]) == 0


def test_downsample_expire_memory_mode(spark, tmp_path_factory):
    """Memory-mode tiered retention: expired head segments land in the
    parquet rollup before leaving the head; the tiered query then spans
    both tiers identically to the disk-store form."""
    base = tmp_path_factory.mktemp("tieredm")
    db = TSDB(spark, None, only_memory=True, segment_duration=2 * 3600,
              retention=3 * 3600)
    rows = [("m", {"x": str(i % 2)}, START + i * 1800, float(i))
            for i in range(16)]
    db.insert_rows(rows)
    now = START + 8 * 3600
    roll = str(base / "rollup")
    dropped = db.downsample_expire(step=3600, dest_root=roll, now_ts=now)
    assert dropped
    live = db.query_range_rows("m", [], 0, 10**12).count()
    assert 0 < live < 16
    from pyspark.sql import functions as F

    got = db.query_range_buckets_tiered(
        "m", [], START, START + 16 * 1800, 3600, roll)
    assert got.agg(F.sum("n")).collect()[0][0] == 16  # nothing lost
    assert db.downsample_expire(step=3600, dest_root=roll, now_ts=now) == []


def test_snapshot_restore_roundtrip(spark, tmp_path_factory):
    """restore() returns the store to the snapshotted state atomically:
    post-snapshot mutations (GDPR delete + new appends) are rolled back,
    fsck passes, and queries read the restored data."""
    base = tmp_path_factory.mktemp("restore")
    db = TSDB(spark, str(base / "live"), segment_duration=2 * 3600)
    rows = [("m", {"u": chr(97 + i % 2)}, START + i * 3600, float(i))
            for i in range(6)]
    db.insert_rows(rows)
    before = sorted((r["ts"], r["value"]) for r in
                    db.query_range_rows("m", [], 0, 10**12).collect())
    snap = str(base / "snap")
    db.snapshot(snap)

    db.delete_series([LabelMatcher("u", "a")])
    db.insert_rows([("m", {"u": "z"}, START + 99 * 3600, 42.0)])
    assert sorted((r["ts"], r["value"]) for r in
                  db.query_range_rows("m", [], 0, 10**12).collect()) != before

    n = db.restore(snap)
    assert n > 0
    after = sorted((r["ts"], r["value"]) for r in
                   db.query_range_rows("m", [], 0, 10**12).collect())
    assert after == before
    assert db.store.fsck()["ok"]


def test_snapshot_restore_covers_sibling_stores(spark, tmp_path_factory):
    """snapshot/restore carry the native-histogram and exemplar sibling
    stores with the float store: writes after the snapshot are rolled back
    in each, and a sibling the snapshot lacks is removed."""
    hist = {"count": 1.0, "sum": 2.5, "zero_count": 0.0, "zero_threshold": 0.001,
            "schema": 3, "pos": {11: 1.0}, "neg": {}}
    base = tmp_path_factory.mktemp("restore_siblings")
    db = TSDB(spark, str(base / "live"))
    db.insert_rows([("m", {}, START, 1.0)])
    db.insert_histograms([("h", {}, START, hist)])
    linked = db.snapshot(str(base / "snap"))
    db.insert_rows([("m", {}, START + 60, 2.0)])
    db.insert_histograms([("h", {}, START + 60, hist)])
    db.insert_exemplars([("m", {}, START + 60, 2.0, {"trace_id": "t"})])

    assert db.restore(str(base / "snap")) == linked
    assert db.store.relation().count() == 1
    assert db.hist_store.relation().count() == 1
    assert db.exemplar_store_if_exists().relation().count() == 0
    assert not (base / "live__exemplars").exists()


def test_relation_after_full_purge_is_empty_not_error(spark, tmp_path_factory):
    """Retention can purge EVERY segment: the root dir then exists but
    holds no seg partitions, and relation() must return the empty
    canonical relation (schema inference over zero files would throw) —
    found driving the double-downsample generation scenario end-to-end
    in round 7."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("fullpurge")
    db = TSDB(spark, str(base / "live"), segment_duration=7200,
              retention=6 * 3600)
    db.insert_rows([("m", {"u": "a"}, START + i * 600, 1.0) for i in range(12)])
    db.downsample_expire(3600, str(base / "tier"), now_ts=START + 16 * 3600)
    assert db.store.relation().count() == 0
    # the store keeps working: late rows land, a second expiry rolls them
    # into a SECOND tier generation, and the tiered read merges both
    db.insert_rows([("m", {"u": "a"}, START + i * 600 + 300, 1.0)
                    for i in range(12)])
    db.downsample_expire(3600, str(base / "tier"), now_ts=START + 16 * 3600)
    total = db.query_range_buckets_tiered(
        "m", [], 0, 2**40, 3600, str(base / "tier")
    ).agg(F.sum("n")).first()[0]
    assert total == 24


def _jobs_run_by(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts, counted under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_declared_schemas_equal_what_the_writers_leave(spark, tmp_path_factory):
    """Reads declare their schema instead of inferring it, so each
    declaration must equal what inference returns over a written root:
    the segment store, the label dim, the histogram/exemplar stores, the
    purge tier and the five continuous-aggregate kinds."""
    from mandodb_spark.operators.tsdb_ops import LABEL_DIM_SCHEMA
    from mandodb_spark.sources.exemplar_store import ExemplarStore
    from mandodb_spark.sources.hist_store import HistStore
    from mandodb_spark.sources.segment_store import STORE_SCHEMA, TIER_SCHEMA

    base = tmp_path_factory.mktemp("declared")
    db = TSDB(spark, str(base / "s"))
    db.insert_rows([("m", {"x": "1"}, START, 1.0), ("m", {"x": "2"}, START + 7200, 2.0)])
    db.refresh_label_dim(str(base / "dim"))
    assert STORE_SCHEMA == spark.read.parquet(str(base / "s")).schema
    assert LABEL_DIM_SCHEMA == spark.read.parquet(str(base / "dim")).schema
    assert db.label_dim_relation(str(base / "dim")).count() == 3

    hist = HistStore(spark, str(base / "h"))
    hist.insert_pylist([("h", {"x": "1"}, START,
                         (2.0, 3.0, 0.0, 0.0, 3, {1: 2.0}, {}))])
    assert hist.schema == spark.read.parquet(str(base / "h")).schema
    ex = ExemplarStore(spark, str(base / "e"))
    ex.insert_pylist([("m", {"x": "1"}, START, 1.0, {"trace_id": "t"})])
    assert ex.schema == spark.read.parquet(str(base / "e")).schema
    assert hist.relation().count() == 1 and ex.relation().count() == 1

    tiered = TSDB(spark, str(base / "t"))
    tiered.insert_rows([("m", {"x": "1"}, START, 1.0), ("m", {"x": "1"}, START + 60, 3.0)])
    assert tiered.downsample_expire(3600, str(base / "tier"), now_ts=START + 10**7)
    assert TIER_SCHEMA == spark.read.parquet(str(base / "tier")).schema
    assert [(r.n, r.sum) for r in tiered.query_range_buckets_tiered(
        "m", [], START, START, 3600, str(base / "tier")).collect()] == [(2, 4.0)]

    # the continuous aggregates: step rollup, native-histogram rollup,
    # cardinality and quantile sketches; building the rollup relation
    # runs no job
    from mandodb_spark.functions.native_hist import HIST_ROLLUP_SCHEMA
    from mandodb_spark.operators.histogram import VALUE_HIST_SCHEMA
    from mandodb_spark.operators.sketch import CARDINALITY_SCHEMA, QUANTILE_SCHEMA
    from mandodb_spark.operators.tsdb_ops import ROLLUP_SCHEMA

    db.materialize_rollup(str(base / "roll"), step=3600)
    db.insert_histograms([("h", {"x": "1"}, START,
                           (2.0, 3.0, 0.0, 0.0, 3, {1: 2.0}, {}))])
    db.materialize_nh_rollup(str(base / "nhroll"), step=3600)
    db.materialize_series_cardinality(str(base / "card"))
    db.materialize_value_quantile(str(base / "quant"))
    db.materialize_value_histogram(str(base / "vhist"))
    for schema, dest in ((ROLLUP_SCHEMA, "roll"), (HIST_ROLLUP_SCHEMA, "nhroll"),
                         (CARDINALITY_SCHEMA, "card"), (QUANTILE_SCHEMA, "quant"),
                         (VALUE_HIST_SCHEMA, "vhist")):
        assert schema == spark.read.parquet(str(base / dest)).schema, dest
    assert _jobs_run_by(spark, lambda: db.rollup_relation(str(base / "roll"))) == 0
    assert db.rollup_relation(str(base / "roll")).count() == 2
    assert db.nh_rollup_relation(str(base / "nhroll")).count() == 1
    assert [r.est_series for r in db.query_series_cardinality(
        str(base / "card"), START, START + 7200).collect()] == [2]
    assert db.query_quantile_sketch(str(base / "quant"), [0.0], START, START + 7200).count() == 1
    assert db.query_quantile_histogram(str(base / "vhist"), 0.5, START, START + 7200).count() == 2


def test_empty_purged_and_populated_stores_share_one_schema(spark, tmp_path_factory):
    """A store never written, a store retention emptied and a populated
    store all read back with the declared schema (``seg`` INT in each)."""
    from mandodb_spark.sources.hist_store import HistStore
    from mandodb_spark.sources.segment_store import STORE_SCHEMA

    base = tmp_path_factory.mktemp("oneschema")
    db = TSDB(spark, str(base / "s"))
    assert db.store.relation().schema == STORE_SCHEMA
    db.insert_rows([("m", {"x": "1"}, START, 1.0)])
    assert db.store.relation().schema == STORE_SCHEMA
    db.store.remove_expired(START + 10**6, 3600)
    rel = db.store.relation()
    assert rel.schema == STORE_SCHEMA and rel.count() == 0
    assert db.query_label_values("x", 0, 10**10).collect() == []

    hist = HistStore(spark, str(base / "h"))
    assert hist.relation().schema == hist.schema


def test_reads_plan_no_jobs_and_run_two_each(spark, tmp_path_factory):
    """Building the store relation runs no Spark job (no schema
    inference), and each of the three dashboard reads runs exactly two:
    its shuffle stage and its result stage (label values sort in one
    partition, so no range-sampling job)."""
    db = TSDB(spark, str(tmp_path_factory.mktemp("jobs") / "s"))
    db.insert_rows([("m", {"n": str(i), "dc": f"d{i % 3}"}, START + i * 1800, float(i))
                    for i in range(12)])
    assert _jobs_run_by(spark, db.store.relation) == 0
    reads = {
        "query_range": lambda: db.query_range("m", [], 0, 10**10).collect(),
        "query_series": lambda: db.query_series(
            [LabelMatcher("dc", "d1")], 0, 10**10).collect(),
        "query_label_values": lambda: db.query_label_values("n", 0, 10**10).collect(),
    }
    assert {name: _jobs_run_by(spark, fn) for name, fn in reads.items()} == {
        name: 2 for name in reads
    }


def test_micro_batch_runs_one_probe_for_all_aggregates(spark, tmp_path_factory):
    """A micro-batch refreshing all four seg-keyed aggregates runs one
    ``min(ts)`` probe (2 jobs) for all of them: 16 jobs (a probe per
    aggregate would make 22).  A label-dim-only batch, the benchmark's
    ``stream_mixed`` shape, runs no probe: 5 jobs."""
    from mandodb_spark.streaming.ingest import StreamingIngestor

    base = tmp_path_factory.mktemp("batchjobs")

    def batch(t):
        rows = [("m", {"n": str(i % 3)}, t + i * 60, float(i)) for i in range(30)]
        return spark.createDataFrame(rows, ROW_SCHEMA)

    aggregates = StreamingIngestor(
        TSDB(spark, str(base / "a")).store, rollup_dest=str(base / "roll"),
        hist_dest=str(base / "hist"), card_dest=str(base / "card"),
        quantile_dest=str(base / "q"))
    dim = StreamingIngestor(TSDB(spark, str(base / "d")).store,
                            label_dim_dest=str(base / "dim"))
    for ing, want in ((aggregates, 16), (dim, 5)):
        ing.process_batch(batch(START), 0)
        assert _jobs_run_by(
            spark, lambda: ing.process_batch(batch(START + 7200), 1)) == want


def test_label_values_sorted_across_segments_and_partitions(spark, tmp_path_factory):
    """The distinct values come out of many shuffle partitions and are
    sorted in one: the result is globally sorted, in one partition."""
    rng = random.Random(5)
    values = [f"v{i:03d}" for i in range(120)]
    rng.shuffle(values)
    db = TSDB(spark, str(tmp_path_factory.mktemp("lvsort") / "s"))
    db.insert_rows([("m", {"pod": v}, START + (i % 5) * 7200 + i, 1.0)
                    for i, v in enumerate(values)])
    assert len(db.store.segment_ids()) == 5
    saved = {k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")}
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        df = db.query_label_values("pod", 0, 10**10)
        got = [r.value for r in df.collect()]
        assert df.rdd.getNumPartitions() == 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == sorted(values)


def test_fsck_flags_a_file_whose_schema_differs(spark, tmp_path_factory):
    """Reads open no footer, so a hand-dropped file missing ``series_key``
    reads back as nulls without error; fsck is what names it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("fsckschema") / "s")
    db = TSDB(spark, path)
    db.insert_rows([("m", {"x": "1"}, START, 1.0)])
    rep = db.store.fsck()
    assert rep["ok"] and rep["schema_mismatch"] == []

    segdir = next(Path(path).glob("seg=*"))
    labels = pa.array([[("__name__", "m")]], pa.map_(pa.string(), pa.string()))
    no_key = segdir / "dropped-no-key.parquet"
    pq.write_table(pa.table({"labels": labels, "ts": [START + 1], "value": [2.0]}), no_key)
    wrong_type = segdir / "dropped-wrong-type.parquet"
    pq.write_table(pa.table({"labels": labels, "ts": [START + 2], "value": ["2.0"],
                             "series_key": [7]}), wrong_type)
    rep = db.store.fsck()
    assert not rep["ok"] and rep["corrupt"] == []
    assert sorted(rep["schema_mismatch"]) == sorted([str(no_key), str(wrong_type)])
    pq.write_table(pa.table({"labels": labels, "ts": [START + 2], "value": [2.0],
                             "series_key": [7]}), wrong_type)
    assert db.store.fsck()["schema_mismatch"] == [str(no_key)]
    assert db.store.relation().where("series_key IS NULL").count() == 1
