"""The sample-store contract, once for every store: float samples, native
histograms and exemplars, each on disk and in memory.  The six stores are
one implementation with three payloads, so each check below must hold for
all of them alike."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from mandodb_spark import LabelMatcher
from mandodb_spark.model import as_nullable
from mandodb_spark.sources.exemplar_store import ExemplarStore, MemoryExemplarStore
from mandodb_spark.sources.hist_store import HistStore, MemoryHistStore
from mandodb_spark.sources.memory_store import MemoryStore
from mandodb_spark.sources.segment_store import STORE_SCHEMA, SegmentStore

SEG = 3600
T0 = 1_700_000_000 // SEG * SEG
S0 = T0 // SEG

#: kind -> (disk class, memory class, payload of one sample valued v)
KINDS = {
    "float": (SegmentStore, MemoryStore, lambda ts, v: (v,)),
    "hist": (HistStore, MemoryHistStore, lambda ts, v: (
        {"count": v, "sum": v, "zero_count": 0.0, "zero_threshold": 0.001,
         "schema": 3, "pos": {1: v}, "neg": {}},)),
    "exemplar": (ExemplarStore, MemoryExemplarStore,
                 lambda ts, v: (v, {"trace_id": f"t{ts}"})),
}


def _rows(kind, samples):
    payload = KINDS[kind][2]
    return [("m", {"app": app}, ts, *payload(ts, v)) for app, ts, v in samples]


@pytest.mark.parametrize("mode", ["disk", "memory"])
@pytest.mark.parametrize("kind", list(KINDS))
def test_store_contract(spark, tmp_path, kind, mode):
    disk, memory, _ = KINDS[kind]
    store = (disk(spark, str(tmp_path / "s"), SEG) if mode == "disk"
             else memory(spark, SEG))
    persistent = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = persistent()

    def check_schema():
        """The declared schema — and, in memory, one materialized copy
        held after every append, delete and expiry."""
        rel = store.relation()
        assert as_nullable(rel.schema) == store.schema
        if mode == "memory":
            assert len(persistent() - before) <= 1
        return rel

    def app(name):
        return F.col("labels").getItem("app") == name

    # declared schema, never written: seg INT, as partition inference reads it
    assert store.schema["seg"].dataType.simpleString() == "int"
    assert (store.schema == STORE_SCHEMA) == (kind == "float")
    assert check_schema().count() == 0
    assert store.segment_ids() == [] and store.max_ts(app("x")) is None
    assert store.root is None if mode == "memory" else store.root == str(tmp_path / "s")

    # x lives alone in segment S0+2; y alone in S0+4; both share S0
    store.insert_pylist(_rows(kind, [("x", T0 + 10, 1.0), ("y", T0 + 20, 2.0),
                                     ("x", T0 + 2 * SEG + 10, 3.0),
                                     ("y", T0 + 4 * SEG + 10, 4.0)]))
    assert check_schema().count() == 4
    assert store.segment_ids() == sorted(
        r.seg for r in store.relation().select("seg").distinct().collect()
    ) == [S0, S0 + 2, S0 + 4]
    # x's newest segment is S0+2: the newest segment S0+4 (y only) misses
    assert store.max_ts(app("x")) == T0 + 2 * SEG + 10
    assert store.max_ts(app("nobody")) is None

    # the file operations: a healthy store is ok, a disk store names a
    # crashed swap's leftover tree, compaction keeps every row
    assert store.fsck()["ok"]
    if mode == "disk":
        orphan = Path(f"{store.root}__old") / f"seg={S0}"
        orphan.mkdir(parents=True)
        (orphan / "part-0.parquet").write_bytes(b"x" * 64)
        assert not store.fsck()["ok"]
        assert store.vacuum() == {"removed": [f"{store.root}__old"],
                                  "freed_bytes": 64, "dry_run": True}
        store.vacuum(dry_run=False)
        assert store.fsck()["ok"]
    assert store.vacuum() == {"removed": [], "freed_bytes": 0, "dry_run": True}
    rows = sorted(store.relation().collect(), key=lambda r: r.ts)
    compacted = store.compact(1)
    assert compacted == ([] if mode == "memory" else [S0, S0 + 2, S0 + 4])
    assert sorted(check_schema().collect(), key=lambda r: r.ts) == rows

    # a replayed (series, ts) is dropped, a new one lands
    store.append(
        spark.createDataFrame(_rows(kind, [("x", T0 + 10, 9.0), ("x", T0 + 30, 5.0)]),
                              store.ROW_SCHEMA),
        dedup_against_store=True)
    rel = check_schema()
    assert rel.count() == 5
    assert rel.filter(rel.ts == T0 + 10).count() == 1

    with pytest.raises(ValueError):
        store.delete_series([])
    assert store.delete_series([LabelMatcher("app", "x")]) == 3
    rel = check_schema()
    assert sorted(r.ts for r in rel.collect()) == [T0 + 20, T0 + 4 * SEG + 10]
    assert sorted(r.seg for r in rel.select("seg").distinct().collect()) == [S0, S0 + 4]
    assert store.delete_series([LabelMatcher("app", "x")]) == 0

    # cutoff T0 + 3·SEG: only S0's max ts (T0 + SEG - 1) predates it
    assert store.remove_expired(T0 + 5 * SEG, 2 * SEG) == [S0]
    assert [r.ts for r in check_schema().collect()] == [T0 + 4 * SEG + 10]

    if mode == "memory":
        store.close()
        assert persistent() - before == set()
        assert check_schema().count() == 0

