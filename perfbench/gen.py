"""Seeded inputs and numpy reference answers.

Everything here is plain numpy/pyarrow: the engine under test never runs in
this module, so a bug in the engine cannot also corrupt the expected answers.

Store shape (README-style label grid): ``METRICS`` metrics x ``NODES``
nodes x ``DCS`` data centres, five labels per series (``__name__``,
``node``, ``dc``, ``job``, ``env``), one sample every ``STEP`` seconds for
``TICKS`` ticks (12 h), starting on a segment boundary so the grid fills
exactly six 2-hour segments.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

METRICS = 8
NODES = 5
DCS = 8
STEP = 60
TICKS = 720
SEGMENT = 7200
T0 = 1_700_000_000 // SEGMENT * SEGMENT
SERIES_PER_METRIC = NODES * DCS
LABEL_KEYS = ("dc", "env", "job", "node")

#: Points per ``insert_rows`` batch on ``ingest_write``: ``BATCH_TICKS``
#: ticks of every series.
BATCH_TICKS = 100
#: Share of each ingest batch held back and sent ``LATE_BY`` batches later,
#: so it lands in an earlier segment than the batch it rides with.
LATE_SHARE = 0.05
LATE_BY = 6
#: Distinct ingest batches generated; the loop cycles through them.
INGEST_BATCHES = 24

#: Stream files carry ``STREAM_TICKS`` ticks of every series of
#: ``STREAM_METRICS`` metrics of their own (names outside every read's
#: matchers, so reads stay exact while the store grows under them).
STREAM_METRICS = 10
STREAM_TICKS = 30
STREAM_FILE_POINTS = STREAM_METRICS * SERIES_PER_METRIC * STREAM_TICKS


def metric_name(m: int) -> str:
    return f"m{m:02d}"


def series_labels() -> list[dict]:
    """Label maps (without ``__name__``) of one metric's NODES x DCS series,
    in series order ``node * DCS + dc``."""
    out = []
    for n in range(NODES):
        for d in range(DCS):
            out.append({"node": f"node{n}", "dc": f"dc{d:02d}",
                        "job": f"job{d % 4}", "env": "prod" if d % 2 == 0 else "stage"})
    return out


def _values(rng: np.random.Generator, shape) -> np.ndarray:
    # two-decimal values keep sums exact enough for a 1e-9 relative check
    return rng.integers(0, 100_000, size=shape).astype(np.float64) / 100.0


@dataclass
class Grid:
    """The preloaded store: ``values[m, node, dc, tick]``."""

    values: np.ndarray
    ts: np.ndarray = field(init=False)

    def __post_init__(self) -> None:
        self.ts = T0 + STEP * np.arange(self.values.shape[-1], dtype=np.int64)

    @property
    def points(self) -> int:
        return int(self.values.size)


def make_grid(seed: int) -> Grid:
    rng = np.random.default_rng([seed, 1])
    return Grid(_values(rng, (METRICS, NODES, DCS, TICKS)))


# ------------------------------------------------------------ row batches


@dataclass
class Rows:
    """A flat batch of samples in ROW_SCHEMA order."""

    metric: np.ndarray   # int metric index
    series: np.ndarray   # int series index within the metric
    ts: np.ndarray
    value: np.ndarray
    names: tuple = ()    # metric index -> name

    def __len__(self) -> int:
        return len(self.ts)

    @property
    def value_sum(self) -> float:
        return float(self.value.sum())

    def table(self) -> pa.Table:
        """Arrow table with the engine's ingest schema
        (metric, labels map<string,string>, ts, value)."""
        n = len(self)
        node = self.series // DCS
        dc = self.series % DCS
        keys = np.tile(np.array(LABEL_KEYS, dtype=object), n)
        vals = np.empty((n, 4), dtype=object)
        dc_names = np.array([f"dc{d:02d}" for d in range(DCS)], dtype=object)
        vals[:, 0] = dc_names[dc]
        vals[:, 1] = np.where(dc % 2 == 0, "prod", "stage")
        vals[:, 2] = np.array([f"job{j}" for j in range(4)], dtype=object)[dc % 4]
        vals[:, 3] = np.array([f"node{i}" for i in range(NODES)], dtype=object)[node]
        offsets = pa.array(np.arange(0, 4 * n + 1, 4, dtype=np.int32))
        labels = pa.MapArray.from_arrays(offsets, pa.array(keys, pa.string()),
                                         pa.array(vals.ravel(), pa.string()))
        names = np.array(self.names, dtype=object)
        return pa.table({
            "metric": pa.array(names[self.metric], pa.string()),
            "labels": labels,
            "ts": pa.array(self.ts, pa.int64()),
            "value": pa.array(self.value, pa.float64()),
        })

    def write_parquet(self, path: str) -> None:
        pq.write_table(self.table(), path)


def grid_rows(grid: Grid) -> Rows:
    m, s, t = np.meshgrid(np.arange(METRICS), np.arange(SERIES_PER_METRIC),
                          np.arange(TICKS), indexing="ij")
    return Rows(m.ravel(), s.ravel(), grid.ts[t.ravel()],
                grid.values.reshape(METRICS, SERIES_PER_METRIC, TICKS).ravel(),
                tuple(metric_name(i) for i in range(METRICS)))


def ingest_batches(seed: int) -> list[Rows]:
    """``INGEST_BATCHES`` time-ordered batches of the full series grid; a
    ``LATE_SHARE`` of each batch's rows is delayed by ``LATE_BY`` batches
    (rows delayed past the last batch are never sent)."""
    rng = np.random.default_rng([seed, 2])
    names = tuple(metric_name(i) for i in range(METRICS))
    n_series = METRICS * SERIES_PER_METRIC
    per = n_series * BATCH_TICKS
    late: dict[int, list[tuple]] = {}
    out = []
    for b in range(INGEST_BATCHES):
        k = np.arange(per)
        metric = k // (SERIES_PER_METRIC * BATCH_TICKS)
        series = (k // BATCH_TICKS) % SERIES_PER_METRIC
        ts = T0 + STEP * (b * BATCH_TICKS + k % BATCH_TICKS)
        value = _values(rng, per)
        held = rng.random(per) < LATE_SHARE
        parts = [(metric[~held], series[~held], ts[~held], value[~held])]
        late.setdefault(b + LATE_BY, []).append(
            (metric[held], series[held], ts[held], value[held]))
        parts += late.pop(b, [])
        out.append(Rows(*(np.concatenate(c) for c in zip(*parts)), names=names))
    return out


def stream_files(seed: int, n_files: int) -> list[Rows]:
    """Stream input files: each holds ``STREAM_TICKS`` consecutive ticks of
    the stream series, walking forward through the grid's 12 h so
    micro-batches add files to the segments reads scan.  Each time the
    walk wraps, its timestamps move one second later, so no sample
    repeats another's series and time."""
    rng = np.random.default_rng([seed, 3])
    names = tuple(f"s{i:02d}" for i in range(STREAM_METRICS))
    per = STREAM_FILE_POINTS
    k = np.arange(per)
    metric = k // (SERIES_PER_METRIC * STREAM_TICKS)
    series = (k // STREAM_TICKS) % SERIES_PER_METRIC
    out = []
    for f in range(n_files):
        g = f * STREAM_TICKS + k % STREAM_TICKS
        ts = T0 + STEP * (g % TICKS) + g // TICKS
        out.append(Rows(metric, series, ts, _values(rng, per), names))
    return out


# ------------------------------------------------------------ wire payloads


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _field(num: int, body: bytes) -> bytes:
    return bytes([num << 3 | 2]) + _varint(len(body)) + body


def _samples_bytes(ts_ms: np.ndarray, value: np.ndarray) -> bytes:
    """Packed ``Sample`` messages (field 2 of TimeSeries), vectorized: every
    timestamp here is a 6-byte varint, so each message is 18 bytes."""
    n = len(ts_ms)
    u = ts_ms.astype(np.uint64)
    if n and (u.min() < (1 << 35) or u.max() >= (1 << 42)):
        raise ValueError("sample timestamps outside the 6-byte varint range")
    out = np.empty((n, 18), np.uint8)
    out[:, 0] = 0x12
    out[:, 1] = 16
    out[:, 2] = 0x09
    out[:, 3:11] = value.astype("<f8").view(np.uint8).reshape(n, 8)
    out[:, 11] = 0x10
    for b in range(6):
        byte = ((u >> np.uint64(7 * b)) & np.uint64(0x7F)).astype(np.uint8)
        out[:, 12 + b] = byte | (0x80 if b < 5 else 0)
    return out.tobytes()


def write_request(rows: Rows, series_per_request: int = 500) -> list[bytes]:
    """Snappy-compressed prompb ``WriteRequest`` payloads carrying ``rows``,
    ``series_per_request`` series per payload (the receiver's body cap)."""
    codec = pa.Codec("snappy")
    key = rows.metric.astype(np.int64) * SERIES_PER_METRIC + rows.series
    order = np.lexsort((rows.ts, key))
    key, ts, value = key[order], rows.ts[order], rows.value[order]
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    ends = np.r_[starts[1:], len(key)]
    labels = series_labels()
    payloads, body = [], []
    for i, (a, z) in enumerate(zip(starts, ends)):
        m, s = divmod(int(key[a]), SERIES_PER_METRIC)
        lab = {"__name__": rows.names[m], **labels[s]}
        msg = b"".join(_field(1, _field(1, k.encode()) + _field(2, v.encode()))
                       for k, v in sorted(lab.items()))
        msg += _samples_bytes(ts[a:z] * 1000, value[a:z])
        body.append(_field(1, msg))
        if len(body) == series_per_request or i == len(starts) - 1:
            raw = b"".join(body)
            payloads.append(codec.compress(raw, asbytes=True))
            body = []
    return payloads


def write_payloads(payloads: list[bytes], path: str) -> None:
    pq.write_table(pa.table({"payload": pa.array(payloads, pa.binary())}), path)


def write_files(batches: list[Rows], directory: str, prefix: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, rows in enumerate(batches):
        p = os.path.join(directory, f"{prefix}{i:04d}.parquet")
        rows.write_parquet(p)
        paths.append(p)
    return paths


# ------------------------------------------------------------ read mix

#: One round of the dashboard mix, in order.  The seed picks each read's
#: metric, label values and window, never its type or result size, so
#: every seed does the same amount of work.
ROUND = ("query_range", "query_range_regex", "query_series", "query_range",
         "label_values", "promql", "promql_range")
READ_MIX = {kind: ROUND.count(kind) for kind in dict.fromkeys(ROUND)}


@dataclass
class ReadOp:
    """One read: its type, its arguments and the answer it must return."""

    kind: str
    args: dict
    expect: object


def _tick(rng, lo: int = 0, hi: int = TICKS) -> int:
    return int(rng.integers(lo, hi))


def read_ops(grid: Grid, seed: int, rounds: int) -> list[ReadOp]:
    """``rounds`` rounds of ``ROUND``, each read with its expected answer
    computed from ``grid`` in numpy."""
    rng = np.random.default_rng([seed, 4])
    v = grid.values
    ts = grid.ts
    out = []
    for i, kind in enumerate(ROUND * rounds):
        r = i // len(ROUND)
        m = int(rng.integers(METRICS))
        name = metric_name(m)
        if kind == "query_range":
            d, a = int(rng.integers(DCS)), _tick(rng, 0, TICKS - 60)
            sel = v[m, :, d, a:a + 61]
            out.append(ReadOp(kind, {"metric": name, "eq": ("dc", f"dc{d:02d}"),
                                     "start": int(ts[a]), "end": int(ts[a]) + 3600},
                              (NODES, sel.size, float(sel.sum()))))
        elif kind == "query_range_regex":
            lo = int(rng.integers(NODES - 2))
            hi = lo + 2
            a = _tick(rng, 0, TICKS - 360)
            sel = v[m, lo:hi + 1, :, a:a + 361]
            out.append(ReadOp(kind, {"metric": name, "re": ("node", f"node[{lo}-{hi}]"),
                                     "start": int(ts[a]), "end": int(ts[a]) + 6 * 3600},
                              ((hi - lo + 1) * DCS, sel.size, float(sel.sum()))))
        elif kind == "query_series":
            lo = int(rng.integers(METRICS - 3))
            hi = lo + 3
            d, a = int(rng.integers(DCS)), _tick(rng, 0, TICKS - 360)
            out.append(ReadOp(kind, {"re": ("__name__", f"m0[{lo}-{hi}]"),
                                     "eq": ("dc", f"dc{d:02d}"),
                                     "start": int(ts[a]), "end": int(ts[a]) + 6 * 3600},
                              (hi - lo + 1) * NODES))
        elif kind == "label_values":
            label = LABEL_KEYS[r % len(LABEL_KEYS)]
            a = _tick(rng, 0, TICKS - 180)
            values = {"dc": {f"dc{d:02d}" for d in range(DCS)},
                      "node": {f"node{i}" for i in range(NODES)},
                      "job": {f"job{j}" for j in range(4)},
                      "env": {"prod", "stage"}}[label]
            out.append(ReadOp(kind, {"label": label, "eq": ("__name__", name),
                                     "start": int(ts[a]), "end": int(ts[a]) + 3 * 3600},
                              values))
        elif kind == "promql":
            by = ("dc", "node")[r % 2]
            a = _tick(rng)
            at = v[m, :, :, a]
            sums = at.sum(axis=0) if by == "dc" else at.sum(axis=1)
            keys = [f"dc{d:02d}" for d in range(DCS)] if by == "dc" else \
                [f"node{i}" for i in range(NODES)]
            out.append(ReadOp(kind, {"query": f"sum by ({by}) ({name})", "at": int(ts[a]),
                                     "by": by},
                              dict(zip(keys, sums.tolist()))))
        else:  # promql_range
            a = _tick(rng, 5, TICKS - 180)
            steps = range(a, a + 181)
            expect = {}
            for i in range(NODES):
                for t in steps:
                    win = v[m, i, 0:5, max(t - 4, 0):t + 1]
                    expect[(f"node{i}", int(ts[t]))] = float(win.max(axis=1).sum())
            out.append(ReadOp(kind, {
                "query": f'sum by (node) (max_over_time({name}{{dc=~"dc0[0-4]"}}[5m]))',
                "start": int(ts[a]), "end": int(ts[a + 180]), "step": STEP, "by": "node"},
                expect))
    return out


# ------------------------------------------------------------ declared-query tables

#: Rows of the generated ``events`` and ``documents`` tables.  They copy
#: the shape of the repo's sf0.01 test tables, which the declared queries
#: and their DuckDB oracles are written against: 30 days of January 2024
#: events over five event types and 150 users; 500 documents drawn from a
#: 30-word vocabulary, 5% of them a copy of an earlier one with " dup"
#: appended.
EVENTS = 10_000
USERS = 150
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENT_DAYS = 30
DOCUMENTS = 500
DUP_SHARE = 0.05
SOURCES = 20
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window")
EPOCH_2024_US = 1_704_067_200 * 1_000_000


def events_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 5])
    ts = np.sort(rng.integers(0, EVENT_DAYS * 86_400 * 1_000_000, EVENTS)) + EPOCH_2024_US
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, EVENTS), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), EVENTS)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, EVENTS), 2), pa.float64()),
        "props": pa.array(props[rng.integers(0, 100, EVENTS)], pa.string()),
    })


def documents_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 6])
    texts: list[str] = []
    for i in range(DOCUMENTS):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n)))
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), DOCUMENTS, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(DOCUMENTS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_tables(seed: int, directory: str) -> None:
    """``events.parquet`` and ``documents.parquet`` for ``seed`` in ``directory``."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(events_table(seed), os.path.join(directory, "events.parquet"))
    pq.write_table(documents_table(seed), os.path.join(directory, "documents.parquet"))


def expected_rows(directory: str, oracles: dict[str, str]) -> dict[str, int]:
    """Row count of each query's DuckDB oracle over the tables in ``directory``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{directory}/{t}.parquet'")
        return {name: len(con.execute(sql).fetchall()) for name, sql in oracles.items()}
    finally:
        con.close()
