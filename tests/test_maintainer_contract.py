"""The maintainer contract, once for every foreachBatch sink: each of the
eleven subclasses :class:`Maintainer` and inherits its ``start`` and
``process_batch``, so each delivered batch yields one report with that
batch's counts, an empty batch is skipped or counted as the sink always
did, and the reports stay at their bound.  Only the ``start`` case runs a
real ``writeStream``; the others call ``process_batch`` directly."""

from __future__ import annotations

from collections import Counter

import pytest

from mandodb_spark import ROW_SCHEMA, TSDB
from mandodb_spark.sources.exemplar_store import EXEMPLAR_ROW_SCHEMA
from mandodb_spark.streaming import maintainer as maintainer_mod
from mandodb_spark.streaming.maintainer import Maintainer

SEG = 3600
T0 = 1_700_000_000 // SEG * SEG
DOCS = "doc_id long, text string"


def _rows(spark):
    return spark.createDataFrame(
        [("m", {"n": str(i % 2)}, T0 + i * 60, float(i)) for i in range(6)], ROW_SCHEMA)


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"line {i}\nshared footer\nfresh words {i * 7}") for i in range(4)], DOCS)


def _ingestor(spark, tmp):
    from mandodb_spark.streaming.ingest import StreamingIngestor

    return StreamingIngestor(TSDB(spark, str(tmp / "s"), SEG).store), _rows(spark)


def _exemplars(spark, tmp):
    from mandodb_spark.streaming.ingest import ExemplarSinkMaintainer

    batch = spark.createDataFrame(
        [("m", {"n": "a"}, T0 + i, float(i), {"trace_id": f"t{i}"}) for i in range(3)],
        EXEMPLAR_ROW_SCHEMA)
    return ExemplarSinkMaintainer(TSDB(spark, str(tmp / "s"), SEG)), batch


def _wire(spark, tmp):
    from mandodb_spark.streaming.ingest import WireIngressMaintainer

    return WireIngressMaintainer(TSDB(spark, str(tmp / "s"), SEG)), _rows(spark)


def _vector(spark, tmp):
    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex
    from mandodb_spark.streaming.index_maintenance import VectorIndexMaintainer

    schema = "vec_id long, embedding array<float>"
    seed = spark.createDataFrame(
        [(i, [1.0 + 0.1 * ((i + j) % 3) for j in range(4)]) for i in range(6)], schema)
    index = VectorIndex(spark, str(tmp / "v"))
    index.build(seed, "vec_id", "embedding", ivf_cells(seed, "vec_id", "embedding", 2))
    batch = spark.createDataFrame(
        [(10 + i, [1.0 + 0.1 * ((i + j) % 3) for j in range(4)]) for i in range(4)], schema)
    return VectorIndexMaintainer(index, max_drop=1.0, compact_every=1), batch


def _text(spark, tmp):
    from mandodb_spark.sources.text_index import TextIndex
    from mandodb_spark.streaming.index_maintenance import TextIndexMaintainer

    index = TextIndex(spark, str(tmp / "t"), n_buckets=2)
    index.build(spark.createDataFrame([(100, "base doc")], DOCS), "doc_id", "text")
    return TextIndexMaintainer(index, compact_every=1), _docs(spark)


def _layout(spark, tmp):
    from mandodb_spark.streaming.layout_maintenance import LayoutMaintainer

    batch = spark.createDataFrame([(i, i * 3) for i in range(40)], "u long, v long")
    return LayoutMaintainer(spark, str(tmp / "l"), cols=["u"], n_files=4,
                            probe_box={"u": (0, 5)}, max_hit_frac=0.5), batch.coalesce(1)


def _retention(spark, tmp):
    from mandodb_spark.streaming.retention_maintenance import RetentionMaintainer

    db = TSDB(spark, str(tmp / "s"), SEG, retention=SEG)
    db.insert_rows([("m", {"n": "a"}, T0, 1.0)])
    return RetentionMaintainer(db, step=SEG, rollup_dest=str(tmp / "tier"),
                               now_fn=lambda: T0 + 10 * SEG), _rows(spark)


def _rule_db(spark, tmp):
    db = TSDB(spark, str(tmp / "s"), SEG)
    db.insert_rows(_rows(spark))
    return db


def _recording(spark, tmp):
    from mandodb_spark.streaming.rules import RecordingRuleMaintainer

    return RecordingRuleMaintainer(_rule_db(spark, tmp), "r:m", "sum(m)", step=60), \
        _rows(spark)


def _alerting(spark, tmp):
    from mandodb_spark.streaming.rules import AlertRuleMaintainer

    return AlertRuleMaintainer(_rule_db(spark, tmp), "High", "m > 2", step=60), \
        _rows(spark)


def _neardup(spark, tmp):
    from mandodb_spark.streaming.neardup import NearDupGate, NearDupGateMaintainer

    gate = NearDupGate(spark, str(tmp / "state"), threshold=0.8, n_buckets=2)
    return NearDupGateMaintainer(gate, str(tmp / "kept"), compact_every=1), _docs(spark)


def _boilerplate(spark, tmp):
    from mandodb_spark.streaming.boilerplate import BoilerplateDict

    return BoilerplateDict(spark, str(tmp / "dict"), n_partitions=2), _docs(spark)


#: sink -> (factory, counts of one batch, counts of an empty batch after
#: it: {} where the sink skips empty batches uncounted)
SINKS = {
    "ingestor": (_ingestor, {"batches": 1}, {}),
    "exemplars": (_exemplars, {"batches": 1}, {"batches": 1}),
    "wire": (_wire, {"batches": 1}, {"batches": 1}),
    "vector_index": (_vector, {"batches": 1, "compactions": 1}, {}),
    "text_index": (_text, {"batches": 1, "compactions": 1}, {}),
    "layout": (_layout, {"batches": 1, "relayouts": 1}, {"batches": 1}),
    "retention": (_retention, {"batches": 1, "runs": 1, "dropped_raw": 1},
                  {"batches": 1, "runs": 1, "dropped_raw": 0}),
    "recording_rule": (_recording, {"batches": 1, "runs": 1, "points": 1},
                       {"batches": 1}),
    "alerting_rule": (_alerting, {"batches": 1, "runs": 1, "points": 1},
                      {"batches": 1}),
    "neardup": (_neardup, {"batches": 1, "compactions": 1}, {}),
    "boilerplate": (_boilerplate, {"batches": 1}, {}),
}

#: the per-class counters the reports replace
OLD_COUNTERS = {"batches", "runs", "points", "rebuilds", "compactions",
                "relayouts", "dropped_raw", "dropped_rollup"}


@pytest.mark.parametrize("name", list(SINKS))
def test_maintainer_contract(spark, tmp_path, name):
    factory, want, want_empty = SINKS[name]
    m, batch = factory(spark, tmp_path)

    # one skeleton: no sink attaches or wraps batches itself, and none
    # keeps a counter of its own
    assert isinstance(m, Maintainer)
    for cls in type(m).__mro__[:type(m).__mro__.index(Maintainer)]:
        assert not {"start", "process_batch"} & set(vars(cls)), cls
    assert not OLD_COUNTERS & set(vars(m))
    assert m.reports.maxlen == maintainer_mod.REPORTS_KEPT

    m.process_batch(batch, 0)
    m.process_batch(batch.limit(0), 1)
    assert [(r.batch_id, r.counts) for r in m.reports] == [(0, want), (1, want_empty)]
    assert all(r.seconds > 0 for r in m.reports)
    assert m.totals == Counter(want) + Counter(want_empty)


def test_start_attaches_the_current_process_batch(spark, tmp_path):
    """``start`` looks ``process_batch`` up when it is called, so a hook
    swapped onto the instance (as a tracer does) is what the stream runs;
    the wrapped base hook still reports the batch."""
    from mandodb_spark.streaming.retention_maintenance import RetentionMaintainer

    m = RetentionMaintainer(None, step=SEG, rollup_dest=str(tmp_path / "tier"),
                            every=10**6)
    seen = []
    inner = m.process_batch

    def traced(batch_df, batch_id):
        seen.append(batch_id)
        inner(batch_df, batch_id)

    m.process_batch = traced
    src = str(tmp_path / "src")
    _rows(spark).coalesce(1).write.parquet(src)
    q = m.start(spark.readStream.schema(ROW_SCHEMA).parquet(src), str(tmp_path / "ckpt"),
                trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen == [0]
    assert [(r.batch_id, r.counts) for r in m.reports] == [(0, {"batches": 1})]


def test_reports_stay_at_their_bound(spark, monkeypatch):
    """A long-lived stream keeps the last ``REPORTS_KEPT`` reports; the
    totals still count every batch."""
    from mandodb_spark.streaming.retention_maintenance import RetentionMaintainer

    monkeypatch.setattr(maintainer_mod, "REPORTS_KEPT", 3)
    m = RetentionMaintainer(None, step=SEG, rollup_dest="unused", every=10**6)
    for batch_id in range(5):
        m.process_batch(None, batch_id)
    assert [r.batch_id for r in m.reports] == [2, 3, 4]
    assert m.totals == Counter(batches=5)
