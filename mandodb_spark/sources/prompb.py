"""Minimal prompb WIRE codec: snappy-compressed protobuf ``WriteRequest``
bytes ↔ the engine's ``REMOTE_WRITE_TIMESERIES_SCHEMA`` rows.

Closes the last gap in the scrape→store loop (VERDICT r10 item 4): the
struct-shaped shapers in :mod:`.loaders` (``rows_from_remote_write`` /
``to_remote_write``) consume and produce prompb-SHAPED rows; this module
parses and renders the actual wire payload a Prometheus remote-write
sender POSTs — snappy block compression over the protobuf binary framing
of the PUBLIC ``prometheus/prompb/remote.proto`` / ``types.proto``
messages (WriteRequest → repeated TimeSeries{labels, samples, exemplars,
native histograms}).

Same stdlib-decoder discipline as ``operators/multimodal.py``: the
varint / length-delimited framing is hand-rolled pure Python (protobuf
is a ~60-line wire format; no generated stubs, no external proto deps),
snappy block (de)compression rides the pyarrow codec already shipped for
Parquet.  Both directions run as Arrow-batched ``mapInPandas`` —
executor-parallel, one Python pass per Arrow batch, zero driver
collects — so a Kafka/file stream of raw POST bodies decodes at scan
parallelism on batch and streaming inputs alike.

Wire notes (all public protobuf semantics):

- ``Sample``: value double=1, timestamp int64=2 (ms).
- ``Label``: name=1, value=2.
- ``Exemplar``: labels=1, value double=2, timestamp int64=3.
- ``Histogram`` (types.proto): oneof count {count_int uint64=1,
  count_float double=2}, sum=3, schema sint32=4, zero_threshold=5,
  oneof zero_count {int=6, float=7}, negative_spans=8,
  negative_deltas sint64=9 (packed), negative_counts double=10 (packed),
  positive_spans=11, positive_deltas=12, positive_counts=13,
  reset_hint=14 (skipped), timestamp int64=15.
- ``BucketSpan``: offset sint32=1, length uint32=2.
- Packed repeated scalars arrive length-delimited; unpacked repeats of
  the same fields are accepted too (protobuf allows both on the wire).
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame

from .loaders import REMOTE_WRITE_TIMESERIES_SCHEMA

# --------------------------------------------------------------- varint


def _uvarint(buf: bytes, i: int) -> tuple[int, int]:
    """Decode one unsigned varint at ``buf[i:]`` → (value, next index).
    The value must fit 64 bits: a tenth byte above 1 raises, so no
    decoded integer can overflow its int64/uint64 column."""
    result = 0
    shift = 0
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


def _to_int64(u: int) -> int:
    """Unsigned varint payload → two's-complement int64."""
    return u - (1 << 64) if u >= (1 << 63) else u


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _fits(v: int, bits: int) -> int:
    """``v`` when it fits a signed ``bits``-wide Arrow column, else
    ValueError — a decoded payload must never fail the batch build."""
    if not -(1 << bits - 1) <= v < (1 << bits - 1):
        raise ValueError(f"value {v} overflows int{bits}")
    return v


def _enc_uvarint(v: int) -> bytes:
    if v < 0:
        v += 1 << 64  # two's-complement int64 on the wire
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


# ------------------------------------------------------ field iteration


def _field_value(buf: bytes, i: int, end: int, wt: int) -> tuple[object, int]:
    """Read the value of one field of wire type ``wt`` at ``buf[i:]`` →
    (raw value, next index).  Raw value: int for varint, bytes for the
    rest — fixed64/fixed32 as their raw little-endian bytes, because the
    message decides whether they hold a double or an integer (OTLP uses
    fixed64 for both).  ``end`` is the end of the enclosing message: a
    value or declared length running past it raises, so a corrupt
    payload never decodes bytes that belong to a sibling message."""
    if wt == 0:
        v, i = _uvarint(buf, i)
        if i > end:
            raise ValueError("truncated varint")
        return v, i
    if wt == 2:
        ln, i = _uvarint(buf, i)
        j = i + ln
    elif wt == 1:
        j = i + 8
    elif wt == 5:
        j = i + 4
    else:
        raise ValueError(f"unsupported wire type {wt}")
    if j > end:
        raise ValueError("truncated field")
    return buf[i:j], j


def _fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Iterate (field_no, wire_type, raw value) over one message, every
    value read by :func:`_field_value` — the framing reader of both wire
    codecs (prompb and OTLP)."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _uvarint(buf, i)
        v, i = _field_value(buf, i, n, key & 0x07)
        yield key >> 3, key & 0x07, v


_UNPACK_D = struct.Struct("<d").unpack_from


def _f64_d(raw: bytes) -> float:
    """A fixed64 field's raw bytes as a double."""
    return _UNPACK_D(raw)[0]


def _packed_svarints(v: object, wt: int) -> list[int]:
    """Packed (length-delimited) or single unpacked sint64 → zigzag ints;
    any other wire type is a mismatched field and is skipped."""
    if wt == 2:
        out = []
        i = 0
        buf: bytes = v  # type: ignore[assignment]
        while i < len(buf):
            u, i = _uvarint(buf, i)
            out.append(_unzigzag(u))
        return out
    return [_unzigzag(v)] if wt == 0 else []  # type: ignore[arg-type]


def _packed_fixed64(v: object, wt: int, code: str = "d") -> list:
    """Packed (length-delimited) or single unpacked fixed64 values as
    doubles (``code="d"``) or uint64 (``"Q"``); any other wire type is
    a mismatched field and is skipped."""
    if wt not in (1, 2):
        return []
    buf: bytes = v  # type: ignore[assignment]
    if len(buf) % 8:
        raise ValueError("packed fixed64 not a multiple of 8 bytes")
    return list(struct.unpack(f"<{len(buf) // 8}{code}", buf))


# ---------------------------------------------------------- decode side


def _label(buf: bytes, i: int, end: int) -> tuple[str, str]:
    """``Label{string name = 1; string value = 2}`` at ``buf[i:end]`` →
    (name, value) — the one Label parser (series, exemplars, chunks)."""
    name = value = ""
    while i < end:
        key, i = _uvarint(buf, i)
        v, i = _field_value(buf, i, end, key & 0x07)
        if key == 0x0A:
            name = v.decode("utf-8")
        elif key == 0x12:
            value = v.decode("utf-8")
    return name, value


def _decode_label(buf: bytes) -> dict:
    name, value = _label(buf, 0, len(buf))
    return {"name": name, "value": value}


def _decode_exemplar(buf: bytes) -> dict:
    out = {"labels": [], "value": 0.0, "timestamp": 0}
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 2:
            out["labels"].append(_decode_label(v))
        elif f == 2 and wt == 1:
            out["value"] = _f64_d(v)
        elif f == 3 and wt == 0:
            out["timestamp"] = _to_int64(v)
    return out


def _decode_span(buf: bytes) -> dict:
    out = {"offset": 0, "length": 0}
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 0:
            out["offset"] = _fits(_unzigzag(v), 32)
        elif f == 2 and wt == 0:
            out["length"] = _fits(v, 32)
    return out


def _decode_histogram(buf: bytes) -> dict:
    out = {
        "timestamp": 0, "count_int": None, "count_float": None, "sum": 0.0,
        "schema": 0, "zero_threshold": 0.0, "zero_count_int": None,
        "zero_count_float": None, "positive_spans": [],
        "positive_deltas": [], "positive_counts": [],
        "negative_spans": [], "negative_deltas": [], "negative_counts": [],
    }
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 0:
            out["count_int"] = _fits(v, 64)
        elif f == 2 and wt == 1:
            out["count_float"] = _f64_d(v)
        elif f == 3 and wt == 1:
            out["sum"] = _f64_d(v)
        elif f == 4 and wt == 0:
            out["schema"] = _fits(_unzigzag(v), 32)
        elif f == 5 and wt == 1:
            out["zero_threshold"] = _f64_d(v)
        elif f == 6 and wt == 0:
            out["zero_count_int"] = _fits(v, 64)
        elif f == 7 and wt == 1:
            out["zero_count_float"] = _f64_d(v)
        elif f == 8 and wt == 2:
            out["negative_spans"].append(_decode_span(v))
        elif f == 9:
            out["negative_deltas"].extend(_packed_svarints(v, wt))
        elif f == 10:
            out["negative_counts"].extend(_packed_fixed64(v, wt))
        elif f == 11 and wt == 2:
            out["positive_spans"].append(_decode_span(v))
        elif f == 12:
            out["positive_deltas"].extend(_packed_svarints(v, wt))
        elif f == 13:
            out["positive_counts"].extend(_packed_fixed64(v, wt))
        elif f == 15 and wt == 0:
            out["timestamp"] = _to_int64(v)
        # field 14 (reset_hint) intentionally skipped
    return out


class _Cols:
    """Flat column accumulators for one decode batch: python lists for
    samples/labels (one append per item — no per-item dict), dict lists
    for the rare histogram/exemplar messages."""

    __slots__ = ("s_counts", "ts", "val", "l_counts", "l_names", "l_vals",
                 "hists", "exs")

    def __init__(self):
        self.s_counts: list = []   # samples per series
        self.ts: list = []         # flat sample timestamps
        self.val: list = []        # flat sample values
        self.l_counts: list = []   # labels per series
        self.l_names: list = []    # flat label names
        self.l_vals: list = []     # flat label values
        self.hists: list = []      # per-series histogram dict lists
        self.exs: list = []        # per-series exemplar dict lists


def _decode_series_cols(buf: bytes, i: int, end: int, c: _Cols) -> None:
    """Scan one TimeSeries submessage ``buf[i:end]`` into flat columns —
    the only TimeSeries parser, for remote write and remote read alike.
    One general field loop; Sample fields, the hot path, are read in
    place (one-byte keys and lengths without a call, ``_uvarint`` only
    when the high bit is set) and every length and fixed-width read is
    checked against the end of the message that encloses it, so a
    corrupt payload raises ``ValueError`` instead of decoding a
    sibling's bytes.  Labels, exemplars and histograms go to their own
    decoders."""
    ns = nl = 0
    hs: list = []
    es: list = []
    while i < end:
        key = buf[i]
        if key < 0x80:
            i += 1
        else:
            key, i = _uvarint(buf, i)
        if key & 0x07 != 2:
            _, i = _field_value(buf, i, end, key & 0x07)
            continue
        if i < end and buf[i] < 0x80:
            j = i + 1 + buf[i]
            i += 1
        else:
            ln, i = _uvarint(buf, i)
            j = i + ln
        if j > end:
            raise ValueError("truncated field")
        if key == 0x12:  # Sample{double value = 1; int64 timestamp = 2}
            t, v = 0, 0.0
            while i < j:
                k = buf[i]
                if k < 0x80:
                    i += 1
                else:
                    k, i = _uvarint(buf, i)
                if k == 0x09:
                    if i + 8 > j:
                        raise ValueError("truncated field")
                    v = _UNPACK_D(buf, i)[0]
                    i += 8
                elif k == 0x10:
                    t, i = _uvarint(buf, i)
                else:
                    _, i = _field_value(buf, i, j, k & 0x07)
            if i > j:
                raise ValueError("truncated varint")
            c.ts.append(t - (1 << 64) if t >= (1 << 63) else t)
            c.val.append(v)
            ns += 1
        elif key == 0x0A:
            name, value = _label(buf, i, j)
            c.l_names.append(name)
            c.l_vals.append(value)
            nl += 1
        elif key == 0x1A:
            es.append(_decode_exemplar(buf[i:j]))
        elif key == 0x22:
            hs.append(_decode_histogram(buf[i:j]))
        i = j
    c.s_counts.append(ns)
    c.l_counts.append(nl)
    c.hists.append(hs)
    c.exs.append(es)


def _np_decode_request(raw: bytes, c: _Cols) -> None:
    """Decode one uncompressed WriteRequest (or remote-read QueryResult,
    which frames its series the same way: ``repeated TimeSeries = 1``)
    into the flat columns; no per-sample or per-label dict is built."""
    i, n = 0, len(raw)
    while i < n:
        key, i = _uvarint(raw, i)
        if key == 0x0A:
            ln, i = _uvarint(raw, i)
            if i + ln > n:
                raise ValueError("truncated field")
            _decode_series_cols(raw, i, i + ln, c)
            i += ln
        else:
            _, i = _field_value(raw, i, n, key & 0x07)


def decode_write_request(data: bytes) -> list[dict]:
    """Uncompressed ``WriteRequest`` protobuf → list of TimeSeries dicts
    shaped like ``REMOTE_WRITE_TIMESERIES_SCHEMA`` rows: a dict view over
    the columns :func:`_np_decode_request` fills.  Unknown fields
    (metadata, future additions) are skipped per protobuf rules."""
    c = _Cols()
    _np_decode_request(data, c)
    out, so, lo = [], 0, 0
    for ns, nl, hs, es in zip(c.s_counts, c.l_counts, c.hists, c.exs):
        out.append({
            "labels": [{"name": k, "value": v} for k, v in
                       zip(c.l_names[lo:lo + nl], c.l_vals[lo:lo + nl])],
            "samples": [{"timestamp": t, "value": v} for t, v in
                        zip(c.ts[so:so + ns], c.val[so:so + ns])],
            "histograms": hs, "exemplars": es})
        so += ns
        lo += nl
    return out


# ---------------------------------------------------------------- snappy


def snappy_decompress(data: bytes) -> bytes:
    """Snappy BLOCK format (what Go's ``snappy.Encode`` — and therefore
    every remote-write sender — produces): the uncompressed length is the
    leading varint preamble; pyarrow's snappy codec (already shipped for
    Parquet) does the body."""
    import pyarrow as pa

    n, _ = _uvarint(data, 0)
    return pa.Codec("snappy").decompress(data, n).to_pybytes()


def snappy_compress(data: bytes) -> bytes:
    import pyarrow as pa

    buf = pa.Codec("snappy").compress(data)
    return buf.to_pybytes() if hasattr(buf, "to_pybytes") else bytes(buf)


# ---------------------------------------------------------- encode side


def _msg(field: int, body: bytes) -> bytes:
    return _enc_uvarint(field << 3 | 2) + _enc_uvarint(len(body)) + body


def _enc_varint_field(field: int, v: int) -> bytes:
    return _enc_uvarint(field << 3 | 0) + _enc_uvarint(v)


def _enc_double_field(field: int, v: float) -> bytes:
    return _enc_uvarint(field << 3 | 1) + struct.pack("<d", float(v))


def _enc_label(d: dict) -> bytes:
    return (_msg(1, str(d["name"]).encode("utf-8"))
            + _msg(2, str(d["value"]).encode("utf-8")))


def _enc_sample(d: dict) -> bytes:
    return (_enc_double_field(1, d["value"])
            + _enc_varint_field(2, int(d["timestamp"])))


def _enc_exemplar(d: dict) -> bytes:
    out = b"".join(_msg(1, _enc_label(l)) for l in (d.get("labels") or []))
    out += _enc_double_field(2, d["value"])
    out += _enc_varint_field(3, int(d["timestamp"]))
    return out


def _enc_span(d: dict) -> bytes:
    return (_enc_varint_field(1, _zigzag(int(d["offset"])))
            + _enc_varint_field(2, int(d["length"])))


def _enc_packed_svarints(field: int, vals) -> bytes:
    body = b"".join(_enc_uvarint(_zigzag(int(v))) for v in vals)
    return _msg(field, body)


def _enc_packed_doubles(field: int, vals) -> bytes:
    return _msg(field, struct.pack(f"<{len(vals)}d", *map(float, vals)))


def _enc_histogram(d: dict) -> bytes:
    out = bytearray()
    if d.get("count_int") is not None:
        out += _enc_varint_field(1, int(d["count_int"]))
    if d.get("count_float") is not None:
        out += _enc_double_field(2, d["count_float"])
    out += _enc_double_field(3, d.get("sum") or 0.0)
    out += _enc_varint_field(4, _zigzag(int(d.get("schema") or 0)))
    out += _enc_double_field(5, d.get("zero_threshold") or 0.0)
    if d.get("zero_count_int") is not None:
        out += _enc_varint_field(6, int(d["zero_count_int"]))
    if d.get("zero_count_float") is not None:
        out += _enc_double_field(7, d["zero_count_float"])
    for s in d.get("negative_spans") or []:
        out += _msg(8, _enc_span(s))
    if d.get("negative_deltas") is not None and len(d["negative_deltas"]):
        out += _enc_packed_svarints(9, d["negative_deltas"])
    if d.get("negative_counts") is not None and len(d["negative_counts"]):
        out += _enc_packed_doubles(10, d["negative_counts"])
    for s in d.get("positive_spans") or []:
        out += _msg(11, _enc_span(s))
    if d.get("positive_deltas") is not None and len(d["positive_deltas"]):
        out += _enc_packed_svarints(12, d["positive_deltas"])
    if d.get("positive_counts") is not None and len(d["positive_counts"]):
        out += _enc_packed_doubles(13, d["positive_counts"])
    out += _enc_varint_field(15, int(d.get("timestamp") or 0))
    return bytes(out)


def _enc_timeseries(ts: dict) -> bytes:
    out = bytearray()
    for l in ts.get("labels") or []:
        out += _msg(1, _enc_label(l))
    for s in ts.get("samples") or []:
        out += _msg(2, _enc_sample(s))
    for e in ts.get("exemplars") or []:
        out += _msg(3, _enc_exemplar(e))
    for h in ts.get("histograms") or []:
        out += _msg(4, _enc_histogram(h))
    return bytes(out)


def encode_write_request(timeseries: list[dict], compress: bool = True
                         ) -> bytes:
    """TimeSeries dicts (``REMOTE_WRITE_TIMESERIES_SCHEMA`` shape) → one
    wire ``WriteRequest`` payload, snappy-compressed by default — exactly
    what a remote-write sender POSTs."""
    raw = b"".join(_msg(1, _enc_timeseries(ts)) for ts in timeseries)
    return snappy_compress(raw) if compress else raw


# ------------------------------------------ vectorized encode, Arrow seams
# Encode: the per-sample wire framing is tiny and regular (one ``Sample``
# message is ``0x12 len 0x09 <8-byte LE double> 0x10 <ts varint>``), so
# (labels, samples)-only Arrow batches are assembled with numpy over the
# whole batch (guide §4.2: hand batches to native code inside the UDF),
# byte-for-byte identical to ``encode_write_request`` (pinned by a parity
# test); batches carrying histograms, exemplars or nulls take the
# per-record encoder.  Decode has ONE path with no fallback: every
# TimeSeries goes through ``_decode_series_cols``, whose reads are all
# bounds-checked against their enclosing message, into flat columns that
# ``_build_ts_batch`` turns into one Arrow batch.


def _np_varint_lengths(u):
    """Byte length of the unsigned varint encoding of each uint64."""
    import numpy as np

    nb = np.ones(u.shape, np.int64)
    for b in range(1, 10):
        nb[u >= np.uint64(1 << (7 * b))] = b + 1
    return nb


def _np_encode_samples(ts, vals):
    """Encode a flat run of samples as ``Sample`` messages (TimeSeries
    field 2) — vectorized; returns ``(out uint8 array, bstart)`` where
    ``bstart[i]`` is the byte offset of sample i (len n+1)."""
    import numpy as np

    n = len(ts)
    u = np.asarray(ts, np.int64).astype(np.uint64)  # two's complement
    nb = _np_varint_lengths(u)
    bstart = np.zeros(n + 1, np.int64)
    np.cumsum(nb + 12, out=bstart[1:])
    out = np.empty(int(bstart[-1]), np.uint8)
    starts = bstart[:-1]
    out[starts] = 0x12                       # key: field 2, wire 2
    out[starts + 1] = (nb + 10).astype(np.uint8)  # body len (<=20 -> 1 byte)
    out[starts + 2] = 0x09                   # field 1, wire 1 (double)
    vb = np.asarray(vals, np.float64).astype("<f8").view(np.uint8).reshape(n, 8)
    out[starts[:, None] + np.arange(3, 11)] = vb
    out[starts + 11] = 0x10                  # field 2, wire 0 (varint)
    _np_scatter_varints(out, starts + 12, u, nb)
    return out, bstart


def _arrow_ts_schema():
    """The exact Arrow schema mapInArrow expects for
    ``REMOTE_WRITE_TIMESERIES_SCHEMA`` (static — usable on executors
    without a SparkSession)."""
    import pyarrow as pa

    label = pa.struct([("name", pa.string()), ("value", pa.string())])
    span = pa.struct([("offset", pa.int32()), ("length", pa.int32())])
    hist = pa.struct([
        ("timestamp", pa.int64()), ("count_int", pa.int64()),
        ("count_float", pa.float64()), ("sum", pa.float64()),
        ("schema", pa.int32()), ("zero_threshold", pa.float64()),
        ("zero_count_int", pa.int64()), ("zero_count_float", pa.float64()),
        ("positive_spans", pa.list_(span)),
        ("positive_deltas", pa.list_(pa.int64())),
        ("positive_counts", pa.list_(pa.float64())),
        ("negative_spans", pa.list_(span)),
        ("negative_deltas", pa.list_(pa.int64())),
        ("negative_counts", pa.list_(pa.float64())),
    ])
    sample = pa.struct([("timestamp", pa.int64()), ("value", pa.float64())])
    ex = pa.struct([("labels", pa.list_(label)), ("value", pa.float64()),
                    ("timestamp", pa.int64())])
    return pa.schema([
        ("labels", pa.list_(label)), ("samples", pa.list_(sample)),
        ("histograms", pa.list_(hist)), ("exemplars", pa.list_(ex)),
    ])


def _build_ts_batch(schema, c: _Cols):
    """Flat columns from :func:`_np_decode_request` → one Arrow batch
    (list offsets from cumsum, children from the flat lists — no
    per-row python objects for labels or samples)."""
    import numpy as np
    import pyarrow as pa

    n = len(c.s_counts)
    s_off = np.zeros(n + 1, np.int64)
    l_off = np.zeros(n + 1, np.int64)
    if n:
        np.cumsum(c.s_counts, out=s_off[1:])
        np.cumsum(c.l_counts, out=l_off[1:])
    labels = pa.ListArray.from_arrays(
        pa.array(l_off.astype(np.int32), pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(c.l_names, pa.string()), pa.array(c.l_vals, pa.string())],
            ["name", "value"],
        ).cast(schema.field("labels").type.value_type),
    )
    samples = pa.ListArray.from_arrays(
        pa.array(s_off.astype(np.int32), pa.int32()),
        pa.StructArray.from_arrays(
            [pa.array(c.ts, pa.int64()), pa.array(c.val, pa.float64())],
            ["timestamp", "value"],
        ).cast(schema.field("samples").type.value_type),
    )
    return pa.RecordBatch.from_arrays(
        [
            labels,
            samples,
            pa.array(c.hists, type=schema.field("histograms").type),
            pa.array(c.exs, type=schema.field("exemplars").type),
        ],
        schema=schema,
    )


# ------------------------------------------------------ DataFrame seams


def timeseries_from_prompb(df: DataFrame, bytes_col: str = "payload",
                           compressed: bool = True,
                           on_error: str = "drop") -> DataFrame:
    """BINARY remote-write POST bodies → ``REMOTE_WRITE_TIMESERIES_SCHEMA``
    rows, Arrow-batched ``mapInArrow`` (one Python pass per batch; the
    decode is per-payload independent, so it scales with input partitions
    — no shuffle, no driver involvement).  Every payload goes through the
    one bounds-checked TimeSeries parser (:func:`_decode_series_cols`,
    no fallback parser) into flat columns that land directly in Arrow
    buffers — no per-sample Python dict is ever built.  Feed the output
    to ``loaders.rows_from_remote_write`` / ``exemplars_from_remote_write``
    / ``native_hist.histograms_from_remote_write``.

    ``on_error``: a payload is undecodable when the parser raises — a
    length or fixed-width field running past its enclosing message, a
    truncated or over-long varint, invalid UTF-8, bad snappy framing.
    ``"drop"`` skips the whole payload (the documented try_cast→null
    posture of the text codecs); ``"raise"`` propagates — use in tests
    and validation sweeps."""
    if on_error not in ("drop", "raise"):
        raise ValueError("on_error must be 'drop' or 'raise'")

    def batches(it):
        schema = _arrow_ts_schema()
        for rb in it:
            c = _Cols()
            for sc in rb.column(0):
                if not sc.is_valid:
                    continue
                marks = (len(c.s_counts), len(c.ts), len(c.l_counts),
                         len(c.l_names))
                try:
                    raw = bytes(sc.as_py())
                    if compressed:
                        raw = snappy_decompress(raw)
                    _np_decode_request(raw, c)
                except Exception:
                    if on_error == "raise":
                        raise
                    # drop the WHOLE payload, like the row path: rewind
                    # any partially-appended columns
                    del c.s_counts[marks[0]:], c.hists[marks[0]:], \
                        c.exs[marks[0]:], c.l_counts[marks[2]:]
                    del c.ts[marks[1]:], c.val[marks[1]:]
                    del c.l_names[marks[3]:], c.l_vals[marks[3]:]
            yield _build_ts_batch(schema, c)

    return df.select(bytes_col).mapInArrow(
        batches, REMOTE_WRITE_TIMESERIES_SCHEMA)


def _cell(r: dict, k: str) -> list:
    v = r.get(k)
    if v is None or (isinstance(v, float) and v != v):  # None/NaN cell
        return []
    return [_plain(x) for x in v]


def _encode_records_slow(records: list, present: list,
                         series_per_request: int, compress: bool) -> list:
    """Generic per-record encode (histograms/exemplars, null cells)."""
    payloads = []
    for i in range(0, len(records), series_per_request):
        chunk = [{k: _cell(r, k) for k in present}
                 for r in records[i:i + series_per_request]]
        payloads.append(encode_write_request(chunk, compress))
    return payloads


def _np_scatter_varints(out, pos, u, nb):
    """Scatter varint encodings of ``u`` (uint64) at byte positions
    ``pos``; ``nb`` = per-value byte lengths (from _np_varint_lengths)."""
    import numpy as np

    rem = u.copy()
    for b in range(int(nb.max()) if len(nb) else 0):
        mask = nb > b
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nb[mask] - 1) > b).astype(np.uint8) << 7
        out[pos[mask] + b] = byte | cont
        rem >>= np.uint64(7)


def _np_ragged_copy(out, dst_starts, src, src_starts, lengths):
    """out[dst_starts[i]:+lengths[i]] = src[src_starts[i]:+lengths[i]]
    for all i, fully vectorized (one gather + one scatter)."""
    import numpy as np

    total = int(lengths.sum())
    if not total:
        return
    cum = np.zeros(len(lengths), np.int64)
    np.cumsum(lengths[:-1], out=cum[1:])
    within = np.arange(total, dtype=np.int64) - np.repeat(cum, lengths)
    out[np.repeat(dst_starts, lengths) + within] = \
        src[np.repeat(src_starts, lengths) + within]


def _np_string_parts(arr):
    """(byte-offsets int64, data uint8 array) of a pyarrow StringArray,
    honoring any slice offset; None when the layout is not plain utf8."""
    import numpy as np
    import pyarrow as pa

    if not pa.types.is_string(arr.type) or arr.null_count:
        return None
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], np.int32)[arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return offs, data


def _try_encode_batch_fast(rb, series_per_request: int, compress: bool):
    """Vectorized encode of a (labels, samples)-only Arrow batch —
    sample messages, label messages AND the series framing are all
    assembled with numpy scatter/gather over the whole batch (the only
    per-series python is the final chunk slicing).  Byte-identical to
    ``encode_write_request`` (pinned by tests).  Returns the payload
    list, or None when the batch needs the generic path (nulls,
    unexpected physical layout)."""
    import numpy as np
    import pyarrow as pa

    labels_col = rb.column(rb.schema.get_field_index("labels"))
    samples_col = rb.column(rb.schema.get_field_index("samples"))
    if not (pa.types.is_list(labels_col.type)
            and pa.types.is_list(samples_col.type)):
        return None
    if labels_col.null_count or samples_col.null_count:
        return None
    vals_struct = samples_col.values
    ts_child = vals_struct.field("timestamp")
    val_child = vals_struct.field("value")
    lab_struct = labels_col.values
    if (vals_struct.null_count or ts_child.null_count or val_child.null_count
            or lab_struct.null_count):
        return None
    name_parts = _np_string_parts(lab_struct.field("name"))
    val_parts = _np_string_parts(lab_struct.field("value"))
    if name_parts is None or val_parts is None:
        return None
    n = len(labels_col)
    s_offs = samples_col.offsets.to_numpy().astype(np.int64)
    l_offs = labels_col.offsets.to_numpy().astype(np.int64)

    # -- all sample messages, flat
    s_out, s_bstart = _np_encode_samples(
        ts_child.to_numpy(zero_copy_only=False),
        val_child.to_numpy(zero_copy_only=False))

    # -- all label messages, flat:
    #    outer = 0x0A varint(inner) inner;
    #    inner = 0x0A varint(nlen) name 0x12 varint(vlen) value
    n_off, n_data = name_parts
    v_off, v_data = val_parts
    nlen = np.diff(n_off)
    vlen = np.diff(v_off)
    nb_n = _np_varint_lengths(nlen.astype(np.uint64))
    nb_v = _np_varint_lengths(vlen.astype(np.uint64))
    inner = 1 + nb_n + nlen + 1 + nb_v + vlen
    nb_i = _np_varint_lengths(inner.astype(np.uint64))
    lmsg = 1 + nb_i + inner
    l_bstart = np.zeros(len(nlen) + 1, np.int64)
    np.cumsum(lmsg, out=l_bstart[1:])
    l_out = np.empty(int(l_bstart[-1]), np.uint8)
    p = l_bstart[:-1]
    l_out[p] = 0x0A                                   # series field 1 key
    _np_scatter_varints(l_out, p + 1, inner.astype(np.uint64), nb_i)
    p = p + 1 + nb_i
    l_out[p] = 0x0A                                   # Label.name key
    _np_scatter_varints(l_out, p + 1, nlen.astype(np.uint64), nb_n)
    p = p + 1 + nb_n
    _np_ragged_copy(l_out, p, n_data, n_off[:-1], nlen)
    p = p + nlen
    l_out[p] = 0x12                                   # Label.value key
    _np_scatter_varints(l_out, p + 1, vlen.astype(np.uint64), nb_v)
    _np_ragged_copy(l_out, p + 1 + nb_v, v_data, v_off[:-1], vlen)

    # -- series framing: 0x0A varint(body) [labels][samples], flat
    lab_src = l_bstart[l_offs]        # per-series label byte extents
    lab_len = np.diff(lab_src)
    smp_src = s_bstart[s_offs]
    smp_len = np.diff(smp_src)
    body = lab_len + smp_len
    nb_b = _np_varint_lengths(body.astype(np.uint64))
    smsg = 1 + nb_b + body
    t_bstart = np.zeros(n + 1, np.int64)
    np.cumsum(smsg, out=t_bstart[1:])
    out = np.empty(int(t_bstart[-1]), np.uint8)
    p = t_bstart[:-1]
    out[p] = 0x0A                                     # WriteRequest field 1
    _np_scatter_varints(out, p + 1, body.astype(np.uint64), nb_b)
    _np_ragged_copy(out, p + 1 + nb_b, l_out, lab_src[:-1], lab_len)
    _np_ragged_copy(out, p + 1 + nb_b + lab_len, s_out, smp_src[:-1], smp_len)

    # -- chunk at series_per_request and compress
    mv = memoryview(out.tobytes())
    payloads = []
    for i in range(0, n, series_per_request):
        chunk = bytes(mv[t_bstart[i]:t_bstart[min(i + series_per_request, n)]])
        payloads.append(snappy_compress(chunk) if compress else chunk)
    if n == 0:
        return []
    return payloads


def prompb_from_timeseries(df: DataFrame, compress: bool = True,
                           series_per_request: int = 500) -> DataFrame:
    """``REMOTE_WRITE_TIMESERIES_SCHEMA`` rows → wire ``WriteRequest``
    payloads (column ``payload binary``), chunked at
    ``series_per_request`` series per payload — real receivers cap POST
    body sizes, and bounded chunks keep any single Python encode call
    O(chunk) regardless of partition size.  Arrow-batched ``mapInArrow``
    like the decode side; (labels, samples)-only batches (the
    ``to_remote_write`` shape) encode through the vectorized sample
    packer — byte-identical to ``encode_write_request`` by construction,
    pinned by a parity test — and batches carrying histograms/exemplars
    or nulls take the generic per-record path.  Payload grouping is
    per-partition (no shuffle), so payload membership is nondeterministic
    across runs but the DECODED multiset is always the identity."""

    # to_remote_write / exemplars_to_remote_write emit only the fields
    # they carry — absent message fields are simply not on the wire
    present = [c for c in ("labels", "samples", "histograms", "exemplars")
               if c in df.columns]
    fast_ok = set(present) == {"labels", "samples"}

    def batches(it):
        import pyarrow as pa

        for rb in it:
            payloads = (_try_encode_batch_fast(rb, series_per_request, compress)
                        if fast_ok else None)
            if payloads is None:
                payloads = _encode_records_slow(
                    rb.to_pandas().to_dict("records"), present,
                    series_per_request, compress)
            yield pa.RecordBatch.from_arrays(
                [pa.array(payloads, pa.binary())], ["payload"])

    return df.select(*present).mapInArrow(batches, "payload binary")


def _plain(v):
    """Arrow→pandas yields dicts for structs and numpy arrays for lists;
    normalize one struct-ish value to a plain dict of plain values."""
    if v is None:
        return None
    d = v if isinstance(v, dict) else v.asDict(recursive=True)
    out = {}
    for k, x in d.items():
        if x is None or isinstance(x, (str, int, float, bytes)):
            out[k] = x
        elif isinstance(x, dict):
            out[k] = x
        else:  # list / numpy array of scalars or structs
            out[k] = [_plain(e) if isinstance(e, dict) or hasattr(e, "asDict")
                      else e for e in x]
    return out


# ----------------------------------------------------------- remote read
# The OTHER half of the remote protocol (public remote.proto): a
# Prometheus configured with `remote_read` POSTs a snappy ReadRequest
# (time range + label matchers) and expects a snappy ReadResponse of
# TimeSeries — serving it makes this engine a drop-in remote-read
# backend.  Message shapes:
#   ReadRequest  { repeated Query queries = 1; }        (field 2: accepted
#                                                        response types —
#                                                        SAMPLES implied)
#   Query        { int64 start_timestamp_ms = 1; int64 end_timestamp_ms = 2;
#                  repeated LabelMatcher matchers = 3; } (field 4 hints
#                                                        skipped)
#   LabelMatcher { Type type = 1 (EQ/NEQ/RE/NRE); string name = 2;
#                  string value = 3; }
#   ReadResponse { repeated QueryResult results = 1; }
#   QueryResult  { repeated TimeSeries timeseries = 1; }

#: LabelMatcher.Type enum order → the engine's matcher-op strings.
MATCHER_OPS = ("=", "!=", "=~", "!~")


def _decode_matcher(buf: bytes) -> tuple[str, str, str]:
    mtype, name, value = 0, "", ""
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 0:
            mtype = v
        elif f == 2 and wt == 2:
            name = v.decode("utf-8")
        elif f == 3 and wt == 2:
            value = v.decode("utf-8")
    if not 0 <= mtype < len(MATCHER_OPS):
        raise ValueError(f"unknown LabelMatcher type {mtype}")
    return (name, MATCHER_OPS[mtype], value)


def _decode_query(buf: bytes) -> dict:
    out = {"start_ms": 0, "end_ms": 0, "matchers": []}
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 0:
            out["start_ms"] = _to_int64(v)
        elif f == 2 and wt == 0:
            out["end_ms"] = _to_int64(v)
        elif f == 3 and wt == 2:
            out["matchers"].append(_decode_matcher(v))
        # field 4 (ReadHints) intentionally skipped
    return out


def decode_read_request(data: bytes) -> list[dict]:
    """Uncompressed ``ReadRequest`` protobuf → list of query dicts
    (start_ms, end_ms, matchers as (name, op, value) triples)."""
    return [_decode_query(v) for f, wt, v in _fields(data)
            if f == 1 and wt == 2]


def _enc_matcher(m: tuple[str, str, str]) -> bytes:
    name, op, value = m
    return (_enc_varint_field(1, MATCHER_OPS.index(op))
            + _msg(2, name.encode("utf-8"))
            + _msg(3, value.encode("utf-8")))


def encode_read_request(queries: list[dict], compress: bool = True) -> bytes:
    """Query dicts → wire ``ReadRequest`` payload (the client side — what
    a Prometheus POSTs to a remote-read endpoint; used by tests and by
    federating engines)."""
    out = bytearray()
    for q in queries:
        body = (_enc_varint_field(1, int(q["start_ms"]))
                + _enc_varint_field(2, int(q["end_ms"]))
                + b"".join(_msg(3, _enc_matcher(m))
                           for m in q.get("matchers") or []))
        out += _msg(1, body)
    raw = bytes(out)
    return snappy_compress(raw) if compress else raw


def encode_read_response(results: list[list[dict]],
                         compress: bool = True) -> bytes:
    """Per-query TimeSeries dict lists → wire ``ReadResponse`` payload
    (snappy by default — the non-streamed SAMPLES response format)."""
    out = bytearray()
    for series_list in results:
        body = b"".join(_msg(1, _enc_timeseries(ts)) for ts in series_list)
        out += _msg(1, body)
    raw = bytes(out)
    return snappy_compress(raw) if compress else raw


def decode_read_response(data: bytes) -> list[list[dict]]:
    """Wire ``ReadResponse`` (snappy) → per-query TimeSeries dict lists
    (the client side of :func:`encode_read_response`)."""
    return [decode_write_request(v)
            for f, wt, v in _fields(snappy_decompress(data))
            if f == 1 and wt == 2]


# ------------------------------------------- streamed remote read (chunks)
# The second remote-read response format (public remote.proto +
# util/ChunkedWriter): ``STREAMED_XOR_CHUNKS`` — a stream of framed
# ``ChunkedReadResponse`` messages whose series carry Gorilla XOR chunks
# (sources/xor_chunk.py) instead of raw samples.  Message shapes:
#   ChunkedReadResponse { repeated ChunkedSeries chunked_series = 1;
#                         int64 query_index = 2; }
#   ChunkedSeries       { repeated Label labels = 1;
#                         repeated Chunk chunks = 2; }
#   Chunk { int64 min_time_ms = 1; int64 max_time_ms = 2;
#           Encoding type = 3 (XOR = 1); bytes data = 4; }
# Frame (ChunkedWriter): uvarint(len(data)) + 4-byte big-endian CRC32
# (Castagnoli) of data + data.  No outer snappy — the chunk payloads are
# already XOR-compressed.

_CRC32C_TABLE = None


def _crc32c(data: bytes) -> int:
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _enc_chunk(c: dict) -> bytes:
    return (_enc_varint_field(1, int(c["min_time_ms"]))
            + _enc_varint_field(2, int(c["max_time_ms"]))
            + _enc_varint_field(3, 1)  # Encoding.XOR
            + _msg(4, bytes(c["data"])))


def _decode_chunk_msg(buf: bytes) -> dict:
    out = {"min_time_ms": 0, "max_time_ms": 0, "type": 0, "data": b""}
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 0:
            out["min_time_ms"] = _to_int64(v)
        elif f == 2 and wt == 0:
            out["max_time_ms"] = _to_int64(v)
        elif f == 3 and wt == 0:
            out["type"] = v
        elif f == 4 and wt == 2:
            out["data"] = v
    return out


def encode_chunked_read_response(series_list: list[dict],
                                 query_index: int = 0) -> bytes:
    """One FRAMED ``ChunkedReadResponse`` message: series dicts carry
    ``labels`` (name/value dicts) and ``chunks`` (min/max/data dicts)."""
    body = bytearray()
    for s in series_list:
        sbody = b"".join(_msg(1, _enc_label(l)) for l in s["labels"])
        sbody += b"".join(_msg(2, _enc_chunk(c)) for c in s["chunks"])
        body += _msg(1, sbody)
    body += _enc_varint_field(2, int(query_index))
    data = bytes(body)
    return (_enc_uvarint(len(data))
            + _crc32c(data).to_bytes(4, "big") + data)


def decode_chunked_read_stream(stream: bytes) -> list[dict]:
    """A concatenation of framed messages → list of
    {query_index, chunked_series: [{labels, chunks}]} dicts, CRC-checked
    (the client side; also the test oracle's reader)."""
    out = []
    i = 0
    while i < len(stream):
        n, i = _uvarint(stream, i)
        crc = int.from_bytes(stream[i:i + 4], "big")
        i += 4
        data = stream[i:i + n]
        i += n
        if _crc32c(data) != crc:
            raise ValueError("chunked read frame CRC mismatch")
        msg = {"query_index": 0, "chunked_series": []}
        for f, wt, v in _fields(data):
            if f == 1 and wt == 2:
                series = {"labels": [], "chunks": []}
                for f2, wt2, v2 in _fields(v):
                    if f2 == 1 and wt2 == 2:
                        series["labels"].append(_decode_label(v2))
                    elif f2 == 2 and wt2 == 2:
                        series["chunks"].append(_decode_chunk_msg(v2))
                msg["chunked_series"].append(series)
            elif f == 2 and wt == 0:
                msg["query_index"] = _to_int64(v)
        out.append(msg)
    return out


def xor_chunks_from_timeseries(df: DataFrame,
                               samples_per_chunk: int = 120,
                               with_sample_count: bool = False) -> DataFrame:
    """TimeSeries rows (labels + ms samples, ``to_remote_write`` shape) →
    one row per series with its samples cut into XOR chunks
    (``chunks array<struct<min_time_ms:bigint,max_time_ms:bigint,
    data:binary>>``) — the ENCODING runs Arrow-batched on executors
    (series are independent; only response framing is driver work).
    Chunks cut at ``samples_per_chunk`` (Prometheus cuts at 120).
    ``with_sample_count=True`` appends ``n_samples`` (the RAW selected
    sample count per series, pre-dedup) so a caller can enforce a sample
    limit from the same single scan."""
    from .xor_chunk import encode_chunk

    def batches(it):
        import pandas as pd

        for pdf in it:
            labels_out, chunks_out, n_out = [], [], []
            for labels, samples in zip(pdf["labels"], pdf["samples"]):
                raw = sorted(
                    (int(s["timestamp"]), float(s["value"]))
                    for s in (samples if samples is not None else []))
                # chunks cannot represent duplicate timestamps (neither
                # can Prometheus's): for equal timestamps the sort above
                # puts the max value last, so max-value-wins (arrival
                # order is not observable post-aggregate; ADVICE r11)
                pairs: list[tuple[int, float]] = []
                for t, v in raw:
                    if pairs and pairs[-1][0] == t:
                        pairs[-1] = (t, v)
                    else:
                        pairs.append((t, v))
                chunks = []
                for j in range(0, len(pairs), samples_per_chunk):
                    part = pairs[j:j + samples_per_chunk]
                    chunks.append({
                        "min_time_ms": part[0][0],
                        "max_time_ms": part[-1][0],
                        "data": encode_chunk(part),
                    })
                labels_out.append([_plain(l) for l in labels])
                chunks_out.append(chunks)
                n_out.append(len(raw))
            out = {"labels": labels_out, "chunks": chunks_out}
            cols = ["labels", "chunks"]
            if with_sample_count:
                out["n_samples"] = n_out
                cols.append("n_samples")
            yield pd.DataFrame(out, columns=cols)

    schema = ("labels array<struct<name:string,value:string>>, "
              "chunks array<struct<min_time_ms:bigint,max_time_ms:bigint,"
              "data:binary>>")
    if with_sample_count:
        schema += ", n_samples bigint"
    return df.select("labels", "samples").mapInPandas(batches, schema)


def timeseries_from_xor_chunks(df: DataFrame) -> DataFrame:
    """The decode dual of :func:`xor_chunks_from_timeseries`: rows of
    (labels, chunks) — e.g. a ``decode_chunked_read_stream`` result
    parallelized, or another backend's chunked export — back to
    ``REMOTE_WRITE_TIMESERIES_SCHEMA`` rows, so a chunked remote-read
    response composes with ``loaders.rows_from_remote_write`` for
    BACKFILL ingestion.  Arrow-batched mapInPandas like every codec seam."""
    from .xor_chunk import decode_chunk

    def batches(it):
        import pandas as pd

        cols = ["labels", "samples", "histograms", "exemplars"]
        for pdf in it:
            rows = []
            for labels, chunks in zip(pdf["labels"], pdf["chunks"]):
                samples = [
                    {"timestamp": t, "value": v}
                    for c in (chunks if chunks is not None else [])
                    for t, v in decode_chunk(bytes(c["data"]))
                ]
                rows.append({
                    "labels": [_plain(l) for l in labels],
                    "samples": samples, "histograms": [], "exemplars": [],
                })
            yield pd.DataFrame(rows, columns=cols)

    return df.select("labels", "chunks").mapInPandas(
        batches, REMOTE_WRITE_TIMESERIES_SCHEMA)
