"""Tests of the benchmark itself: its inputs, answer checks and traces.

    python3 -m pytest perfbench -q

The traced-run tests start Spark in subprocesses, one traced run per
workload (about three minutes).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------ inputs


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a, b, c = gen.make_grid(7), gen.make_grid(7), gen.make_grid(8)
    assert np.array_equal(a.values, b.values)
    assert not np.array_equal(a.values, c.values)
    assert [o.args for o in gen.read_ops(a, 7, 3)] == [o.args for o in gen.read_ops(b, 7, 3)]


def test_seeds_change_read_arguments_but_not_types_or_sizes():
    def shape(op):
        e = op.expect
        return op.kind, (e[:2] if isinstance(e, tuple) else e if isinstance(e, int)
                         else len(e))

    a = gen.read_ops(gen.make_grid(1), 1, 4)
    b = gen.read_ops(gen.make_grid(2), 2, 4)
    assert [shape(o) for o in a] == [shape(o) for o in b]
    assert [o.args for o in a] != [o.args for o in b]


def test_ingest_batches_send_each_point_at_most_once_with_late_rows():
    batches = gen.ingest_batches(3)
    keys = np.concatenate([b.metric * 10**12 + b.series * 10**10 + b.ts for b in batches])
    assert len(np.unique(keys)) == len(keys)
    # rows older than the batch's own window ride along, into an earlier
    # segment than the batch's own rows
    k = gen.LATE_BY + 2
    b = batches[k]
    late = b.ts < gen.T0 + gen.STEP * k * gen.BATCH_TICKS
    assert 0.02 < late.mean() < 0.08
    assert (b.ts[late] // gen.SEGMENT).max() < (b.ts[~late] // gen.SEGMENT).min()


def test_stream_files_never_repeat_a_sample_when_the_walk_wraps():
    files = gen.stream_files(4, 2 * gen.TICKS // gen.STREAM_TICKS + 3)
    keys = np.concatenate([f.metric * 10**12 + f.series * 10**10 + f.ts for f in files])
    assert len(np.unique(keys)) == len(keys)
    assert all(len(f) == gen.STREAM_FILE_POINTS for f in files)


def test_generated_tables_match_the_test_tables_schema():
    events, docs = gen.events_table(1), gen.documents_table(1)
    assert events.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert docs.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert events.equals(gen.events_table(1)) and not events.equals(gen.events_table(2))
    texts = docs.column("text").to_pylist()
    assert 0 < sum(t.endswith(" dup") for t in texts) < 0.1 * len(texts)


def test_wire_payloads_decode_to_the_batch_rows():
    from mandodb_spark.sources import prompb

    rows = gen.ingest_batches(5)[1]
    got = []
    for payload in gen.write_request(rows, series_per_request=50):
        for ts in prompb.decode_write_request(prompb.snappy_decompress(payload)):
            labels = {l["name"]: l["value"] for l in ts["labels"]}
            for s in ts["samples"]:
                got.append((labels["__name__"], labels["node"], labels["dc"],
                            s["timestamp"] // 1000, s["value"]))
    labels = gen.series_labels()
    want = [(rows.names[m], labels[s]["node"], labels[s]["dc"], int(t), float(v))
            for m, s, t, v in zip(rows.metric, rows.series, rows.ts, rows.value)]
    assert sorted(got) == sorted(want)


# ------------------------------------------------------------ answer checks


def _op(kind, expect, **args):
    return gen.ReadOp(kind, args, expect)


@pytest.mark.parametrize("op, rows, wrong", [
    (_op("query_range", (1, 2, 3.0)),
     [{"points": [{"value": 1.0}, {"value": 2.0}]}], (1, 2, 3.5)),
    (_op("query_series", 2), [{}, {}], 3),
    (_op("label_values", {"a", "b"}), [{"value": "a"}, {"value": "b"}], {"a", "c"}),
    (_op("promql", {"x": 1.5}, by="dc"), [{"labels": {"dc": "x"}, "value": 1.5}], {"x": 1.6}),
    (_op("promql_range", {("x", 60): 2.0}, by="node"),
     [{"labels": {"node": "x"}, "ts": 60, "value": 2.0}], {("x", 120): 2.0}),
])
def test_a_wrong_expected_answer_fails_the_check(op, rows, wrong):
    assert workloads.check_read(op, rows)[0]
    op.expect = wrong
    assert not workloads.check_read(op, rows)[0]


def test_checkpoint_files_are_not_counted_twice_after_log_compaction(tmp_path):
    def log(path, lines):
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("\n".join(["v1", *map(json.dumps, lines)]))

    entry = lambda n, name: {"path": f"file:///src/{name}", "batchId": n}  # noqa: E731
    for n in range(9):
        log(tmp_path / "sources" / "0" / str(n), [entry(n, f"f{n}")])
    log(tmp_path / "sources" / "0" / "9.compact",
        [entry(n, f"f{n}") for n in range(9)] + [entry(9, "f9")])
    for b in range(10):
        log(tmp_path / "offsets" / str(b), [{}, {"logOffset": b}])
    got = workloads.stream_batch_files(tmp_path)
    assert got == {b: [f"f{b}"] for b in range(10)}


# ------------------------------------------------------------ spans


def test_a_traced_function_pickles_as_the_plain_function():
    import pickle

    from mandodb_spark.operators import sketch

    traced = spans.Tracer(True).wrap(sketch.dds_build, "dds_build", "operators")
    assert pickle.loads(pickle.dumps(traced)) is sketch.dds_build


def test_self_times_add_up_to_the_root_span():
    def s(i, parent, a, b, layer="x"):
        return {"id": i, "parent": parent, "start": a, "end": b, "layer": layer, "op": "o"}

    tree = [s(1, None, 0, 10), s(2, 1, 1, 4), s(3, 1, 5, 9), s(4, 3, 6, 7), s(5, 3, 7.5, 8)]
    own = spans.self_times(tree)
    assert own == pytest.approx({1: 3, 2: 3, 3: 2.5, 4: 1, 5: 0.5})
    assert sum(own.values()) == pytest.approx(10)


@pytest.fixture(scope="module")
def traced_runs(tmp_path_factory):
    out = {}
    for name in workloads.WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", "11",
             "--seconds", "3", "--trace", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        tail = json.loads(proc.stdout.strip().splitlines()[-1])
        trace = json.loads((HERE / "out" / f"spans-{name}-11.json").read_text())
        out[name] = (tail, trace)
    return out


def test_traced_runs_are_correct_and_report_every_layer_metric(traced_runs):
    names = {m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    for tail, _ in traced_runs.values():
        assert tail["correct"] and tail["failed"] == 0
        assert set(tail["metrics"]) == names


def test_self_times_add_up_to_each_op_wall_time(traced_runs):
    for _, trace in traced_runs.values():
        own = spans.self_times(trace)
        by_op: dict = {}
        for s in trace:
            by_op.setdefault(s["op"], []).append(s)
        for op, members in by_op.items():
            roots = [s for s in members if s["parent"] is None]
            assert len(roots) >= 1
            if op == "setup":
                continue
            (root,) = roots
            assert sum(own[s["id"]] for s in members) == pytest.approx(
                root["end"] - root["start"], abs=1e-6)


def test_every_layer_emits_a_span(traced_runs):
    seen = {s["layer"] for _, trace in traced_runs.values() for s in trace}
    assert set(spans.LAYERS) <= seen


def test_a_directory_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_write",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
