"""The benchmark's workloads, driven through the ``TSDB`` facade.

Each workload has a set-up (store build and warm-up), then a timed phase of ``seconds`` seconds.  Every foreground
operation is timed from the call into the engine to the last row of its
result; its answer is checked against the numpy reference afterwards,
outside the timed region.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import urlparse

import gen
from spans import Tracer, probes

#: Rounds of the read mix prepared per run (the loop cycles through them).
READ_ROUNDS = 20
#: Stream files one micro-batch admits at most (``maxFilesPerTrigger``).
STREAM_FILES_PER_TRIGGER = 4
#: Points per second the ``StreamingIngestor`` commits on ``stream_mixed``
#: when every micro-batch is full, with the read client running beside it:
#: measured by ``capacity.py`` on the 4-core reference host.
STREAM_CAPACITY_PTS_PER_S = 20_000
#: Offered stream rate: a fixed share of that capacity, so the ingestor
#: keeps up and the lag it shows is its own, not a growing backlog.
STREAM_LOAD = 0.7
#: Micro-batch trigger of the streaming ingestor, seconds.
STREAM_TRIGGER = 1
#: The declared queries ``declared_queries`` runs, in this order, from the
#: repo's registries (``workloads.QUERIES`` and ``extra_parity.QUERIES``).
DECLARED = ("x_tsdb_quantile_sketch", "docs_curation_full", "x_promql_hist_subquery_avg",
            "x_docs_jaccard_join", "x_promql_native_hist_rate_quantile", "tsdb_gapfill",
            "x_docs_dsir_weights", "tsdb_range_rows", "promql_deriv")


def stream_interval() -> float:
    """Seconds between two stream files on ``stream_mixed`` (open loop)."""
    return gen.STREAM_FILE_POINTS / (STREAM_LOAD * STREAM_CAPACITY_PTS_PER_S)


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    tracer: Tracer


@dataclass
class Result:
    """What a timed phase produced."""

    latencies: dict = field(default_factory=dict)  # op type -> [seconds]
    kind_rows: dict = field(default_factory=dict)  # op type -> [rows per op]
    rows: int = 0            # rows delivered by reads or committed by writes
    wall: float = 0.0        # seconds from the first op's start to the last op's end
    attempted: int = 0
    failed: int = 0
    setup: float = 0.0       # seconds of set-up after session start
    commits: dict = field(default_factory=dict)  # micro-batch -> [seconds to commit]
    info: dict = field(default_factory=dict)     # printed, not gated
    layer: dict = field(default_factory=dict)    # per-layer metrics measured here

    def record(self, kind: str, seconds: float, rows: int, ok: bool) -> None:
        self.attempted += 1
        self.latencies.setdefault(kind, []).append(seconds)
        self.kind_rows.setdefault(kind, []).append(rows)
        self.rows += rows
        if not ok:
            self.failed += 1

    def fail(self, what: str, detail: str) -> None:
        self.attempted += 1
        self.failed += 1
        if self.failed <= 3:
            print(f"FAILED {what}: {detail}", file=sys.stderr)


# ---------------------------------------------------------------- reads


def _matchers(args: dict) -> list:
    from mandodb_spark import LabelMatcher

    out = []
    if "re" in args:
        out.append(LabelMatcher(*args["re"], is_regex=True))
    if "eq" in args:
        out.append(LabelMatcher(*args["eq"]))
    return out


def issue_read(db, op: gen.ReadOp, tracer: Tracer) -> list:
    a = op.args
    with tracer.span(f"{op.kind}.plan", "engine"):
        if op.kind in ("query_range", "query_range_regex"):
            df = db.query_range(a["metric"], _matchers(a), a["start"], a["end"])
        elif op.kind == "query_series":
            df = db.query_series(_matchers(a), a["start"], a["end"])
        elif op.kind == "label_values":
            df = db.query_label_values(a["label"], a["start"], a["end"], _matchers(a))
        elif op.kind == "promql":
            df = db.promql(a["query"], a["at"])
        else:
            df = db.promql_range(a["query"], a["start"], a["end"], a["step"])
    with tracer.span(f"{op.kind}.collect", "spark"):
        return df.collect()


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _same_values(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(_close(got[k], want[k]) for k in want)


def check_read(op: gen.ReadOp, rows: list) -> tuple[bool, int]:
    """(answer matches the reference, rows delivered to the client)."""
    if op.kind in ("query_range", "query_range_regex"):
        points = sum(len(r["points"]) for r in rows)
        total = sum(p["value"] for r in rows for p in r["points"])
        n_series, n_points, want_total = op.expect
        return (len(rows) == n_series and points == n_points
                and _close(total, want_total)), points
    if op.kind == "query_series":
        return len(rows) == op.expect, len(rows)
    if op.kind == "label_values":
        return {r["value"] for r in rows} == op.expect, len(rows)
    by = op.args["by"]
    if op.kind == "promql":
        got = {r["labels"][by]: r["value"] for r in rows}
    else:
        got = {(r["labels"][by], r["ts"]): r["value"] for r in rows}
    return len(got) == len(rows) and _same_values(got, op.expect), len(rows)


def read_loop(ctx: Ctx, db, ops: list, deadline: float, res: Result) -> None:
    """One closed-loop client: the next read starts when the last returns.
    It runs whole rounds of the mix, so every run has the same mix."""
    start = time.perf_counter()
    i = 0
    while i % len(gen.ROUND) or time.perf_counter() < deadline:
        op = ops[i % len(ops)]
        t = time.perf_counter()
        try:
            with ctx.tracer.op(op.kind, f"read-{i}"):
                rows = issue_read(db, op, ctx.tracer)
        except Exception:
            res.fail(op.kind, traceback.format_exc())
        else:
            dt = time.perf_counter() - t
            ok, n = check_read(op, rows)
            if not ok:
                print(f"WRONG ANSWER {op.kind} {op.args}", file=sys.stderr)
            res.record(op.kind, dt, n, ok)
        i += 1
    res.wall = time.perf_counter() - start


def warm_reads(ctx: Ctx, db, ops: list) -> None:
    """One read of every type; the cold first calls cost 2-4x warm ones."""
    seen = set()
    for op in ops:
        if op.kind not in seen:
            seen.add(op.kind)
            issue_read(db, op, ctx.tracer)


def build_store(ctx: Ctx, grid_file: Path, path: Path):
    from mandodb_spark import TSDB

    db = TSDB(ctx.spark, str(path))
    with ctx.tracer.span("preload", "engine", op="setup"):
        # one insert leaves one sorted file per segment: the layout
        # ``compact`` would produce, so the preload needs no compaction
        db.insert_rows(ctx.spark.read.parquet(str(grid_file)))
    return db


def store_stats(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*.parquet")]
    return len(files), sum(p.stat().st_size for p in files)


def _store_totals(db, metric_prefix: str) -> tuple[int, float]:
    from pyspark.sql import functions as F

    rel = db.store.relation().filter(F.col("labels")["__name__"].startswith(metric_prefix))
    row = rel.agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")).first()
    return int(row["n"]), float(row["s"] or 0.0)


# ------------------------------------------------------------ workloads


def ingest_write(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from mandodb_spark import TSDB
    from mandodb_spark.sources import loaders, prompb

    res = Result()
    t = time.perf_counter()
    batches = gen.ingest_batches(ctx.seed)
    inputs = []  # (kind, file, rows, value sum); DataFrame and wire batches alternate
    for i, rows in enumerate(batches):
        path = ctx.work / "in" / f"b{i:04d}.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        if i % 2 == 0:
            rows.write_parquet(str(path))
            inputs.append(("df_batch", path, len(rows), rows.value_sum))
        else:
            gen.write_payloads(gen.write_request(rows), str(path))
            inputs.append(("wire_batch", path, len(rows), rows.value_sum))
    res.info["gen_s"] = time.perf_counter() - t

    decoded = []

    def insert(db, kind: str, path: Path) -> None:
        tracer = ctx.tracer
        with tracer.span("read_input", "spark"):
            df = ctx.spark.read.parquet(str(path))
        if kind == "wire_batch":
            with tracer.span("timeseries_from_prompb", "prompb"):
                series = prompb.timeseries_from_prompb(df, on_error="raise")
            with tracer.span("rows_from_remote_write", "loaders"):
                df = loaders.rows_from_remote_write(series)
            if tracer.enabled:
                # the decode runs inside the write job; decode alone once so
                # the traced run can time the wire layer by itself
                with tracer.span("decode", "prompb"):
                    decoded.append(series.agg(F.sum(F.size("samples"))).first()[0])
        with tracer.span("insert_rows", "engine"):
            db.insert_rows(df)

    # set-up: a store of its own warmed with one batch of each kind (the
    # cold first calls cost 2-4x warm ones)
    t = time.perf_counter()
    warm = TSDB(ctx.spark, str(ctx.work / "warm"))
    for kind, path, _, _ in inputs[-2:]:
        insert(warm, kind, path)
    res.setup = time.perf_counter() - t
    shutil.rmtree(ctx.work / "warm")
    decoded.clear()

    db = TSDB(ctx.spark, str(ctx.work / "store"))
    want_rows, want_sum = 0, 0.0
    start = time.perf_counter()
    deadline = start + ctx.seconds
    i = 0
    with probes(ctx.tracer, db.store):
        # whole rounds: a DataFrame batch and a wire batch
        while i % 2 or time.perf_counter() < deadline:
            kind, path, n, vsum = inputs[i % len(inputs)]
            t = time.perf_counter()
            try:
                with ctx.tracer.op(kind, f"write-{i}"):
                    insert(db, kind, path)
            except Exception:
                res.fail(kind, traceback.format_exc())
            else:
                res.record(kind, time.perf_counter() - t, n, True)
                want_rows += n
                want_sum += vsum
            i += 1
    res.wall = time.perf_counter() - start

    # every insert_rows commits on return: the store must now hold exactly
    # the committed batches
    got_rows, got_sum = _store_totals(db, "m")
    res.attempted += 1
    if got_rows != want_rows or not _close(got_sum, want_sum):
        res.fail("store totals", f"{got_rows} rows / {got_sum} != {want_rows} / {want_sum}")
    files, size = store_stats(Path(db.store.root))
    batches = [x for xs in res.latencies.values() for x in xs]
    res.info.update(ingest_pts_per_s=want_rows / res.wall,
                    ingest_batch_p50_s=statistics.median(batches),
                    storage_bytes_per_point=size / max(got_rows, 1))
    res.layer.update(store_files_total=files, files_written=files / max(len(batches), 1),
                     bytes_written_per_point=size / max(got_rows, 1),
                     samples_decoded=sum(decoded))
    return res


def stream_batch_files(checkpoint: Path) -> dict[int, list[str]]:
    """Micro-batch id -> names of the source files it read, from the
    query's own checkpoint logs (no Spark job).  ``offsets/<batch>`` holds
    the file source's log offset after that batch; ``sources/0/<n>`` lists
    the files the source added at log offset ``n``, and every tenth log,
    ``<n>.compact``, repeats all the entries before it."""
    added: dict[int, set[str]] = {}
    for p in (checkpoint / "sources" / "0").iterdir():
        if p.name.startswith("."):
            continue
        for line in p.read_text().splitlines()[1:]:
            entry = json.loads(line)
            added.setdefault(entry["batchId"], set()).add(Path(urlparse(entry["path"]).path).name)
    out, last = {}, -1
    offsets = sorted((p for p in (checkpoint / "offsets").iterdir() if p.name.isdigit()),
                     key=lambda p: int(p.name))
    for p in offsets:
        offset = json.loads(p.read_text().splitlines()[2])["logOffset"]
        out[int(p.name)] = [f for n in range(last + 1, offset + 1) for f in added.get(n, [])]
        last = offset
    return out


class FileMover(threading.Thread):
    """Open-loop generator: moves file k into the source directory at
    ``start + k * interval`` whatever the engine is doing."""

    def __init__(self, files: list[Path], dest: Path, interval: float) -> None:
        super().__init__(name="file-mover", daemon=True)
        self.files, self.dest, self.interval = files, dest, interval
        self.start_at = self.deadline = 0.0
        self.scheduled: dict[str, float] = {}  # file name -> when it was due
        self.late: list[float] = []
        self.stop_event = threading.Event()

    def begin(self, start: float, deadline: float) -> None:
        self.start_at, self.deadline = start, deadline
        self.start()

    def run(self) -> None:
        for k, f in enumerate(self.files):
            due = self.start_at + k * self.interval
            if due >= self.deadline:
                return
            if self.stop_event.wait(max(due - time.perf_counter(), 0)):
                return
            os.rename(f, self.dest / f.name)
            self.scheduled[f.name] = due
            self.late.append(time.perf_counter() - due)


def stream_mixed(ctx: Ctx) -> Result:
    from mandodb_spark.model import ROW_SCHEMA
    from mandodb_spark.streaming.ingest import StreamingIngestor, bounded_source

    res = Result()
    t = time.perf_counter()
    grid = gen.make_grid(ctx.seed)
    grid_file = ctx.work / "grid.parquet"
    gen.grid_rows(grid).write_parquet(str(grid_file))
    ops = gen.read_ops(grid, ctx.seed, READ_ROUNDS)
    interval = stream_interval()
    stream = gen.stream_files(ctx.seed, int(ctx.seconds / interval) + 2)
    staged = [Path(p) for p in gen.write_files(stream, str(ctx.work / "stage"), "f")]
    source = ctx.work / "source"
    source.mkdir()
    res.info["gen_s"] = time.perf_counter() - t

    # set-up: the store preload, one read of each type, the streaming
    # query's start and its first micro-batch
    t = time.perf_counter()
    db = build_store(ctx, grid_file, ctx.work / "store")
    root = Path(db.store.root)
    warm_reads(ctx, db, ops)

    ingestor = StreamingIngestor(db.store, label_dim_dest=str(ctx.work / "label_dim"))
    commits: dict[int, float] = {}
    batch_seconds: dict[int, float] = {}
    inner = ingestor.process_batch

    def process_batch(batch_df, batch_id):
        b = time.perf_counter()
        with ctx.tracer.op("process_batch", f"batch-{batch_id}", layer="streaming"):
            inner(batch_df, batch_id)
        commits[batch_id] = time.perf_counter()
        batch_seconds[batch_id] = commits[batch_id] - b

    ingestor.process_batch = process_batch
    rows = bounded_source(ctx.spark, "parquet", str(source), schema=ROW_SCHEMA,
                          max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
    mover = FileMover(staged[1:], source, interval)
    checkpoint = ctx.work / "checkpoint"
    query = ingestor.start(rows, str(checkpoint), trigger_seconds=STREAM_TRIGGER)
    try:
        # warm-up: the first micro-batch carries the first file
        os.rename(staged[0], source / staged[0].name)
        query.processAllAvailable()
        res.setup = time.perf_counter() - t
        files0, size0 = store_stats(root)

        with probes(ctx.tracer, db.store):
            start = time.perf_counter()
            deadline = start + ctx.seconds
            mover.begin(start, deadline)
            try:
                read_loop(ctx, db, ops, deadline, res)
            finally:
                mover.stop_event.set()
                mover.join(timeout=60)
            query.processAllAvailable()
        progress = list(query.recentProgress)
    finally:
        mover.stop_event.set()
        query.stop()
    batch_files = stream_batch_files(checkpoint)

    # the store must hold exactly the stream files that were moved in
    moved = stream[:1 + len(mover.scheduled)]
    got_rows, got_sum = _store_totals(db, "s")
    res.attempted += 1
    if got_rows != sum(map(len, moved)) or not _close(got_sum, sum(r.value_sum for r in moved)):
        res.fail("stream totals", f"{got_rows} rows / {got_sum} do not match the "
                 f"{len(moved)} files moved in")

    # lag: from a file's due time to the commit of the micro-batch holding it
    lags = [commits[b] - mover.scheduled[f]
            for b, names in batch_files.items() if b in commits
            for f in names if f in mover.scheduled]
    sizes = [gen.STREAM_FILE_POINTS * len(names) for names in batch_files.values() if names]
    waits = [p["durationMs"]["triggerExecution"] / 1000 - batch_seconds[p["batchId"]]
             for p in progress if p["batchId"] in batch_seconds]
    # the timed phase's micro-batches: rate from the first file's due time
    # to the last commit, which falls below the offered rate only when the
    # ingestor falls behind
    timed = [b for b, at in commits.items() if at > start]
    committed = sum(map(len, moved[1:]))
    # full micro-batches while the reads ran: what the ingestor commits per
    # second when it is never short of files (capacity.py offers more than
    # it can take)
    full = [batch_seconds[b] for b in timed if commits[b] <= deadline
            and len(batch_files.get(b, [])) == STREAM_FILES_PER_TRIGGER]
    files, size = store_stats(root)
    res.commits = {"micro_batch": [batch_seconds[b] for b in timed]}
    reads = [x for xs in res.latencies.values() for x in xs]
    res.info.update(
        read_p50_s=statistics.median(reads),
        read_p90_s=statistics.quantiles(reads, n=10, method="inclusive")[-1],
        ingest_pts_per_s=committed / (max(commits[b] for b in timed) - start),
        ingest_batch_p50_s=statistics.median(res.commits["micro_batch"]),
        storage_bytes_per_point=size / (grid.points + got_rows),
        offered_pts_per_s=gen.STREAM_FILE_POINTS / interval,
        full_batches=len(full),
        full_batch_pts_per_s=(STREAM_FILES_PER_TRIGGER * gen.STREAM_FILE_POINTS
                              / statistics.median(full) if full else 0.0))
    res.layer.update(
        store_files_total=files,
        files_written=(files - files0) / max(len(sizes) - 1, 1),
        bytes_written_per_point=(size - size0) / max(committed, 1),
        batches=len(sizes),
        rows_per_batch=statistics.median(sizes) if sizes else 0,
        trigger_wait_s=statistics.median(waits) if waits else 0.0,
        ingest_lag_p50_s=statistics.median(lags) if lags else 0.0,
        generator_late_s=max(mover.late, default=0.0),
    )
    res.info.update(ingest_lag_p50_s=res.layer["ingest_lag_p50_s"],
                    generator_late_s=res.layer["generator_late_s"])
    return res


def declared_queries(ctx: Ctx) -> Result:
    """The declared queries over generated ``events``/``documents`` tables,
    each written to Spark's ``noop`` sink with the session's own
    configuration.  An ``Observation`` counts the rows each query
    delivers to the sink; the count must equal its DuckDB oracle's."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mandodb_spark.workloads import ORACLES, QUERIES, extra_parity

    queries = {**QUERIES, **extra_parity.QUERIES}
    oracles = {**ORACLES, **extra_parity.ORACLES}
    res = Result()
    t = time.perf_counter()
    tables = str(ctx.work / "tables")
    gen.write_tables(ctx.seed, tables)
    expect = gen.expected_rows(tables, {n: oracles[n] for n in DECLARED})
    res.info["gen_s"] = time.perf_counter() - t

    def run(name: str, op_id: str) -> int:
        obs = Observation(op_id)
        with ctx.tracer.span("query", "workloads"):
            df = queries[name](ctx.spark, tables)
        with ctx.tracer.span("noop_write", "spark"):
            df.observe(obs, F.count(F.lit(1)).alias("rows")) \
              .write.format("noop").mode("overwrite").save()
        return obs.get["rows"]

    # set-up: one pass, the queries' cold first runs (2-4x the warm ones)
    t = time.perf_counter()
    for name in DECLARED:
        run(name, f"warm-{name}")
    res.setup = time.perf_counter() - t

    start = time.perf_counter()
    deadline = start + ctx.seconds
    passes = 0
    with probes(ctx.tracer):
        # whole passes over the list, so every run has the same mix
        while passes == 0 or time.perf_counter() < deadline:
            for name in DECLARED:
                t = time.perf_counter()
                try:
                    with ctx.tracer.op(name, f"{name}-{passes}"):
                        rows = run(name, f"{name}-{passes}")
                except Exception:
                    res.fail(name, traceback.format_exc())
                    continue
                ok = rows == expect[name]
                if not ok:
                    print(f"WRONG ANSWER {name}: {rows} rows, oracle {expect[name]}",
                          file=sys.stderr)
                res.record(name, time.perf_counter() - t, rows, ok)
            passes += 1
    res.wall = time.perf_counter() - start
    res.info.update(passes=passes,
                    suite_s=sum(statistics.median(xs) for xs in res.latencies.values()))
    return res


WORKLOADS = {
    "ingest_write": ingest_write,
    "stream_mixed": stream_mixed,
    "declared_queries": declared_queries,
}
