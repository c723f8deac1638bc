"""OTLP metrics WIRE codec: protobuf ``ExportMetricsServiceRequest``
bytes → engine rows, the OpenTelemetry dual of :mod:`.prompb`.

The engine already ingests OTLP-SHAPED exponential-histogram rows
(``functions.native_hist.histograms_from_otlp``); this module parses the
actual OTLP/HTTP-protobuf POST body (PUBLIC opentelemetry-proto
``metrics/v1/metrics.proto``), so an OTel collector's ``otlphttp``
exporter can point straight at the engine.  Same hand-rolled
varint/length-delimited discipline as ``prompb`` (no generated stubs),
Arrow-batched ``mapInPandas`` seams, batch/streaming dual.

Decoded surfaces:

- gauge / sum number points → ``ROW_SCHEMA`` float samples;
- classic explicit-bounds histograms → the public OTLP→Prometheus
  lowering: cumulative ``<name>_bucket{le=...}`` series (incl. ``+Inf``)
  plus ``<name>_sum`` / ``<name>_count`` — the shape the engine's
  classic ``histogram_quantile`` already consumes;
- exponential histograms → the OTLP data-point struct rows
  ``histograms_from_otlp`` lowers to ``HIST_ROW_SCHEMA``.

Label model: resource attributes and data-point attributes merge into
one label map (point attributes win on collision); non-string attribute
values stringify (bool → ``true``/``false``, numbers via ``str``,
nested array/kvlist via a compact repr) — the flattening every
OTLP→Prometheus bridge performs.  Timestamps are ``time_unix_nano``
floored to engine seconds.

Wire notes (metrics.proto v1, all public): ``time_unix_nano``/``count``/
``zero_count``/``bucket_counts`` are FIXED64 (8 raw little-endian
bytes; packed for the repeated form), ``explicit_bounds`` packed
doubles, ``scale``/bucket ``offset`` are zigzag sint32, exponential
bucket counts are packed uint64 varints.
"""

from __future__ import annotations

import re
import struct

from pyspark.sql import DataFrame

from .prompb import (_enc_uvarint, _f64_d, _fields, _msg, _packed_fixed64,
                     _unzigzag, _uvarint)

#: Engine row schema for the number-point / classic-histogram lowering.
OTLP_ROW_SCHEMA = ("metric string, labels map<string,string>, ts bigint, "
                   "value double")

#: The OTLP exponential data-point shape histograms_from_otlp consumes.
OTLP_EXPHIST_SCHEMA = (
    "metric string, labels map<string,string>, ts bigint, count bigint, "
    "sum double, zero_count bigint, zero_threshold double, scale int, "
    "pos_offset int, pos_counts array<bigint>, "
    "neg_offset int, neg_counts array<bigint>"
)


def _f64_u(raw: bytes) -> int:
    return struct.unpack("<Q", raw)[0]


def _any_value(buf: bytes) -> str:
    """AnyValue → the flattened string every OTLP→Prometheus bridge
    emits for label use."""
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 2:
            return v.decode("utf-8")
        if f == 2 and wt == 0:
            return "true" if v else "false"
        if f == 3 and wt == 0:
            u = v if v < (1 << 63) else v - (1 << 64)
            return str(u)
        if f == 4 and wt == 1:
            return str(_f64_d(v))
        if f == 5 and wt == 2:  # ArrayValue{values=1}
            return "[" + ",".join(
                _any_value(x) for g, w, x in _fields(v)
                if g == 1 and w == 2) + "]"
        if f == 6 and wt == 2:  # KeyValueList{values=1}
            return "{" + ",".join(
                "%s=%s" % _key_value(x) for g, w, x in _fields(v)
                if g == 1 and w == 2) + "}"
        if f == 7 and wt == 2:
            return v.hex()
    return ""


def _key_value(buf: bytes) -> tuple[str, str]:
    key, val = "", ""
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 2:
            key = v.decode("utf-8")
        elif f == 2 and wt == 2:
            val = _any_value(v)
    return key, val


def _attrs(buf: bytes, field: int) -> dict:
    return dict(_key_value(v) for f, wt, v in _fields(buf)
                if f == field and wt == 2)


def _number_point(buf: bytes) -> dict:
    out = {"attrs": {}, "ts": 0, "value": None}
    for f, wt, v in _fields(buf):
        if f == 7 and wt == 2:
            out["attrs"].update([_key_value(v)])
        elif f == 3 and wt == 1:
            out["ts"] = _f64_u(v) // 1_000_000_000
        elif f == 4 and wt == 1:
            out["value"] = _f64_d(v)
        elif f == 6 and wt == 1:
            u = _f64_u(v)
            out["value"] = float(u if u < (1 << 63) else u - (1 << 64))
    return out


def _hist_point(buf: bytes) -> dict:
    out = {"attrs": {}, "ts": 0, "count": 0, "sum": None,
           "bucket_counts": [], "bounds": []}
    for f, wt, v in _fields(buf):
        if f == 9 and wt == 2:
            out["attrs"].update([_key_value(v)])
        elif f == 3 and wt == 1:
            out["ts"] = _f64_u(v) // 1_000_000_000
        elif f == 4 and wt == 1:
            out["count"] = _f64_u(v)
        elif f == 5 and wt == 1:
            out["sum"] = _f64_d(v)
        elif f == 6:  # packed fixed64 bucket counts
            out["bucket_counts"].extend(_packed_fixed64(v, wt, "Q"))
        elif f == 7:  # packed double bounds
            out["bounds"].extend(_packed_fixed64(v, wt))
    return out


def _exp_buckets(buf: bytes) -> tuple[int, list[int]]:
    offset, counts = 0, []
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 0:
            offset = _unzigzag(v)
        elif f == 2:
            if wt == 2:
                i = 0
                while i < len(v):
                    u, i = _uvarint(v, i)
                    counts.append(u)
            else:
                counts.append(v)
    return offset, counts


def _exphist_point(buf: bytes) -> dict:
    out = {"attrs": {}, "ts": 0, "count": 0, "sum": 0.0, "scale": 0,
           "zero_count": 0, "zero_threshold": 0.0,
           "pos_offset": 0, "pos_counts": [],
           "neg_offset": 0, "neg_counts": []}
    for f, wt, v in _fields(buf):
        if f == 1 and wt == 2:
            out["attrs"].update([_key_value(v)])
        elif f == 3 and wt == 1:
            out["ts"] = _f64_u(v) // 1_000_000_000
        elif f == 4 and wt == 1:
            out["count"] = _f64_u(v)
        elif f == 5 and wt == 1:
            out["sum"] = _f64_d(v)
        elif f == 6 and wt == 0:
            out["scale"] = _unzigzag(v)
        elif f == 7 and wt == 1:
            out["zero_count"] = _f64_u(v)
        elif f == 8 and wt == 2:
            out["pos_offset"], out["pos_counts"] = _exp_buckets(v)
        elif f == 9 and wt == 2:
            out["neg_offset"], out["neg_counts"] = _exp_buckets(v)
        elif f == 14 and wt == 1:
            out["zero_threshold"] = _f64_d(v)
    return out


def _summary_point(buf: bytes) -> dict:
    """SummaryDataPoint (metrics.proto field numbers: attributes=7,
    time_unix_nano=3, count=4, sum=5, quantile_values=6 with
    ValueAtQuantile{quantile=1, value=2})."""
    out = {"attrs": {}, "ts": 0, "count": 0, "sum": None, "quantiles": []}
    for f, wt, v in _fields(buf):
        if f == 7 and wt == 2:
            out["attrs"].update([_key_value(v)])
        elif f == 3 and wt == 1:
            out["ts"] = _f64_u(v) // 1_000_000_000
        elif f == 4 and wt == 1:
            out["count"] = _f64_u(v)
        elif f == 5 and wt == 1:
            out["sum"] = _f64_d(v)
        elif f == 6 and wt == 2:
            q = val = 0.0
            for g, w, x in _fields(v):
                if g == 1 and w == 1:
                    q = _f64_d(x)
                elif g == 2 and w == 1:
                    val = _f64_d(x)
            out["quantiles"].append((q, val))
    return out


#: metrics.proto AggregationTemporality enum values.
_TEMPORALITY = {0: "unspecified", 1: "delta", 2: "cumulative"}


def decode_export_request(data: bytes) -> list[dict]:
    """Uncompressed ``ExportMetricsServiceRequest`` → flat data-point
    dicts: ``{"kind": "number"|"histogram"|"exphist"|"summary",
    "metric": name, "labels": {...}, ...point fields}`` with resource
    attributes merged (point attributes win).  Sum / Histogram /
    ExponentialHistogram points also carry ``temporality``
    (``"delta"``/``"cumulative"``/``"unspecified"`` — metrics.proto
    ``aggregation_temporality``, field 2 of each) and Sum points
    ``is_monotonic`` (field 3); Gauge points are ``temporality=None``
    (gauges have no temporality) and Summary is cumulative by
    definition."""
    points: list[dict] = []
    for f, wt, rm in _fields(data):
        if f != 1 or wt != 2:
            continue
        res_attrs: dict = {}
        metrics: list[bytes] = []
        for f2, wt2, v2 in _fields(rm):
            if f2 == 1 and wt2 == 2:  # Resource
                res_attrs = _attrs(v2, 1)
            elif f2 == 2 and wt2 == 2:  # ScopeMetrics
                metrics.extend(v3 for f3, wt3, v3 in _fields(v2)
                               if f3 == 2 and wt3 == 2)
        for m in metrics:
            name, kinds = "", []
            for f3, wt3, v3 in _fields(m):
                if f3 == 1 and wt3 == 2:
                    name = v3.decode("utf-8")
                elif f3 == 5 and wt3 == 2:  # Gauge (no temporality)
                    kinds.append(("number", v3, False))
                elif f3 == 7 and wt3 == 2:  # Sum
                    kinds.append(("number", v3, True))
                elif f3 == 9 and wt3 == 2:  # Histogram
                    kinds.append(("histogram", v3, True))
                elif f3 == 10 and wt3 == 2:  # ExponentialHistogram
                    kinds.append(("exphist", v3, True))
                elif f3 == 11 and wt3 == 2:  # Summary
                    kinds.append(("summary", v3, False))
            for kind, body, has_temporality in kinds:
                dec = {"number": _number_point, "histogram": _hist_point,
                       "exphist": _exphist_point,
                       "summary": _summary_point}[kind]
                temporality = None
                is_monotonic = None
                if has_temporality:
                    temporality = "unspecified"
                    for f4, wt4, v4 in _fields(body):
                        if f4 == 2 and wt4 == 0:
                            temporality = _TEMPORALITY.get(v4, "unspecified")
                        elif f4 == 3 and wt4 == 0 and kind == "number":
                            is_monotonic = bool(v4)
                for f4, wt4, dp in _fields(body):
                    if f4 != 1 or wt4 != 2:  # data_points
                        continue
                    p = dec(dp)
                    labels = dict(res_attrs)
                    labels.update(p.pop("attrs"))
                    point = {"kind": kind, "metric": name,
                             "labels": labels, "temporality": temporality,
                             **p}
                    if is_monotonic is not None:
                        point["is_monotonic"] = is_monotonic
                    points.append(point)
    return points


# ------------------------------------------------------ DataFrame seams

#: Prometheus-invalid character classes (the standard OTLP→Prometheus
#: bridge mapping: metric names keep ``:``, label names do not).
_METRIC_BAD = re.compile(r"[^a-zA-Z0-9_:]")
_LABEL_BAD = re.compile(r"[^a-zA-Z0-9_]")


def sanitize_metric_name(name: str) -> str:
    """OTLP metric name → Prometheus-conforming name: invalid characters
    (dots, dashes, ...) become ``_``, a leading digit gets a ``_``
    prefix — the mapping every OTLP→Prometheus bridge performs (ADVICE
    r11: unsanitized names corrupt the text-format round trip)."""
    s = _METRIC_BAD.sub("_", name)
    return "_" + s if s and s[0].isdigit() else s


def sanitize_label_key(key: str) -> str:
    """OTLP attribute key → Prometheus label name (``service.name`` →
    ``service_name``).  Colliding sanitized keys: last writer wins,
    matching the collector's prometheus exporter."""
    s = _LABEL_BAD.sub("_", key)
    return "_" + s if s and s[0].isdigit() else s


def _san_labels(labels: dict) -> dict:
    return {sanitize_label_key(k): v for k, v in labels.items()}


def rows_from_otlp(df: DataFrame, bytes_col: str = "payload",
                   on_error: str = "drop",
                   delta: str = "reject") -> DataFrame:
    """BINARY OTLP POST bodies → ``ROW_SCHEMA`` float samples: gauge/sum
    points verbatim, classic explicit-bounds histograms lowered to the
    public Prometheus mapping (cumulative ``_bucket{le}`` incl. ``+Inf``,
    ``_sum``, ``_count``), summaries to ``_sum``/``_count`` plus
    ``quantile``-labeled series.  Metric and label names sanitize to the
    Prometheus charset (``service.name`` → ``service_name``) so the
    output is text-format round-trippable.  Arrow-batched mapInPandas,
    drop-or-raise error contract like ``prompb.timeseries_from_prompb``.

    DELTA temporality (``aggregation_temporality=1`` on Sum/Histogram —
    statsd-style pipelines) is handled per the ``delta`` knob, never
    silently mis-ingested as cumulative (r11 verdict #3):

    - ``"reject"`` (default): ``ValueError`` naming the metric — the
      stance of the collector's prometheusremotewrite exporter;
    - ``"drop"``: skip delta points, keep the rest of the payload;
    - ``"cumulate"``: convert delta→cumulative with a per-series
      running sum over event time (one window over the decoded rows —
      executor-side, no extra scan).  Conversion starts from the first
      observed point, like the collector's deltatocumulative processor.
      BATCH-ONLY (the window needs the series history resident);
    - ``"tag"``: emit every point with an extra ``is_delta boolean``
      column and convert nothing — the streaming-gateway shape: route
      the delta slice through
      ``streaming.stateful.streaming_delta_to_cumulative`` (fixed
      per-series state, unbounded-stream safe) and union the rest back.
    """
    if on_error not in ("drop", "raise"):
        raise ValueError("on_error must be 'drop' or 'raise'")
    if delta not in ("reject", "drop", "cumulate", "tag"):
        raise ValueError(
            "delta must be 'reject', 'drop', 'cumulate' or 'tag'")

    def batches(it):
        import pandas as pd

        cols = ["metric", "labels", "ts", "value", "is_delta"]
        for pdf in it:
            rows = []

            def emit(metric, labels, ts, value, is_delta):
                rows.append({"metric": metric, "labels": labels,
                             "ts": ts, "value": value,
                             "is_delta": is_delta})

            for payload in pdf[bytes_col]:
                if payload is None:
                    continue
                try:
                    pts = decode_export_request(bytes(payload))
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                for p in pts:
                    is_delta = p.get("temporality") == "delta"
                    if is_delta:
                        if delta == "reject":
                            raise ValueError(
                                f"metric {p['metric']!r} has DELTA "
                                "aggregation_temporality; pass "
                                "delta='cumulate' to convert or "
                                "delta='drop' to skip (ingesting delta "
                                "as cumulative would corrupt rate())")
                        if delta == "drop":
                            continue
                    name = sanitize_metric_name(p["metric"])
                    labels = _san_labels(p["labels"])
                    if p["kind"] == "number":
                        if p["value"] is not None:
                            emit(name, labels, p["ts"], p["value"],
                                 is_delta)
                    elif p["kind"] == "histogram":
                        cum = 0
                        for b, c in zip(p["bounds"], p["bucket_counts"]):
                            cum += c
                            emit(name + "_bucket",
                                 {**labels, "le": str(b)},
                                 p["ts"], float(cum), is_delta)
                        emit(name + "_bucket", {**labels, "le": "+Inf"},
                             p["ts"], float(p["count"]), is_delta)
                        if p["sum"] is not None:
                            emit(name + "_sum", labels, p["ts"],
                                 float(p["sum"]), is_delta)
                        emit(name + "_count", labels, p["ts"],
                             float(p["count"]), is_delta)
                    elif p["kind"] == "summary":
                        for q, qv in p["quantiles"]:
                            emit(name, {**labels, "quantile": str(q)},
                                 p["ts"], float(qv), False)
                        if p["sum"] is not None:
                            emit(name + "_sum", labels, p["ts"],
                                 float(p["sum"]), False)
                        emit(name + "_count", labels, p["ts"],
                             float(p["count"]), False)
            yield pd.DataFrame(rows, columns=cols)

    decoded = df.select(bytes_col).mapInPandas(
        batches, OTLP_ROW_SCHEMA + ", is_delta boolean")
    if delta == "cumulate":
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from ..model import series_key

        w = (Window.partitionBy("metric", series_key(F.col("labels")),
                                "is_delta")
             .orderBy("ts")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        value = F.when(F.col("is_delta"),
                       F.sum("value").over(w)).otherwise(F.col("value"))
        return decoded.select("metric", "labels", "ts",
                              value.alias("value"))
    if delta == "tag":
        return decoded
    return decoded.drop("is_delta")


def exphist_from_otlp(df: DataFrame, bytes_col: str = "payload",
                      on_error: str = "drop",
                      delta: str = "reject") -> DataFrame:
    """BINARY OTLP POST bodies → exponential-histogram data-point rows
    (``OTLP_EXPHIST_SCHEMA``) ready for
    ``native_hist.histograms_from_otlp`` → ``TSDB.insert_histograms`` —
    the native-histogram leg of the OTLP ingress.  Names sanitize like
    :func:`rows_from_otlp`.  DELTA temporality rejects (default), drops,
    or converts (``delta="cumulate"`` routes delta series through
    :func:`exphist_delta_to_cumulative` — per-series running bucket
    merge, uniform scale required); what must not happen is silent
    mis-ingestion of delta as cumulative."""
    if on_error not in ("drop", "raise"):
        raise ValueError("on_error must be 'drop' or 'raise'")
    if delta not in ("reject", "drop", "cumulate"):
        raise ValueError("delta must be 'reject', 'drop' or 'cumulate'")

    keys = ("metric", "labels", "ts", "count", "sum", "zero_count",
            "zero_threshold", "scale", "pos_offset", "pos_counts",
            "neg_offset", "neg_counts")

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for payload in pdf[bytes_col]:
                if payload is None:
                    continue
                try:
                    pts = decode_export_request(bytes(payload))
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                for p in pts:
                    if p["kind"] != "exphist":
                        continue
                    is_delta = p.get("temporality") == "delta"
                    if is_delta:
                        if delta == "reject":
                            raise ValueError(
                                f"metric {p['metric']!r} has DELTA "
                                "aggregation_temporality; pass "
                                "delta='cumulate' to convert or "
                                "delta='drop' to skip delta points")
                        if delta == "drop":
                            continue
                    rows.append(
                        {k: p[k] for k in keys if k in p}
                        | {"metric": sanitize_metric_name(p["metric"]),
                           "labels": _san_labels(p["labels"]),
                           "is_delta": is_delta})
            yield pd.DataFrame(rows, columns=list(keys) + ["is_delta"])

    decoded = df.select(bytes_col).mapInPandas(
        batches, OTLP_EXPHIST_SCHEMA + ", is_delta boolean")
    if delta == "cumulate":
        from pyspark.sql import functions as F

        cum = exphist_delta_to_cumulative(
            decoded.filter(F.col("is_delta")).drop("is_delta"))
        return (decoded.filter(~F.col("is_delta")).drop("is_delta")
                .unionByName(cum))
    return decoded.drop("is_delta")


def exphist_delta_to_cumulative(df: DataFrame) -> DataFrame:
    """DELTA-temporality exponential-histogram data-point rows
    (``OTLP_EXPHIST_SCHEMA``) → CUMULATIVE rows in the same schema: per
    series, each point becomes the bucket-wise running merge of every
    delta at or before it — the exponential-histogram leg of the
    collector's deltatocumulative processor, so
    ``exphist_from_otlp(delta="drop"|"reject")`` callers who actually
    hold delta data can convert explicitly and then ingest.

    A running merge is inherently sequential PER SERIES but series are
    independent, so this is grouped ``applyInPandas`` (Arrow-batched,
    executor-parallel across series — the same posture as the XOR chunk
    encoder); per-series state is one sparse bucket dict, bounded by the
    series' bucket span.  Counts/sums/zero_counts add, zero_threshold
    takes the running max, and a scale change mid-series raises
    ``ValueError`` (the collector downscales to the coarser scale; this
    engine keeps conversion exact and loud instead — rescaling belongs
    to the native-hist merge machinery)."""
    from pyspark.sql import functions as F

    from ..model import canonical_labels_json

    cols = ["metric", "labels", "ts", "count", "sum", "zero_count",
            "zero_threshold", "scale", "pos_offset", "pos_counts",
            "neg_offset", "neg_counts"]

    def _as_dict(labels) -> dict:
        if labels is None:
            return {}
        if isinstance(labels, dict):
            return dict(labels)
        return dict(labels)  # arrow map -> list of (k, v) pairs

    def _accumulate(pdf):
        import pandas as pd

        pdf = pdf.sort_values("ts", kind="stable")
        out = []
        tot_count = tot_sum = tot_zero = 0.0
        zt = 0.0
        scale = None
        pos: dict[int, int] = {}
        neg: dict[int, int] = {}

        def side_add(acc: dict, offset, counts) -> None:
            base = int(offset) if offset is not None else 0
            for j, c in enumerate(counts if counts is not None else []):
                if c:
                    acc[base + j] = acc.get(base + j, 0) + int(c)

        def side_emit(acc: dict) -> tuple[int, list[int]]:
            if not acc:
                return 0, []
            lo, hi = min(acc), max(acc)
            return lo, [acc.get(i, 0) for i in range(lo, hi + 1)]

        for r in pdf.to_dict("records"):
            if scale is None:
                scale = int(r["scale"])
            elif int(r["scale"]) != scale:
                raise ValueError(
                    f"series {r['metric']!r} changes scale "
                    f"{scale}->{int(r['scale'])} mid-stream; exact "
                    "delta->cumulative conversion requires a constant "
                    "scale (downscale first)")
            tot_count += float(r["count"] or 0)
            tot_sum += float(r["sum"] or 0.0)
            tot_zero += float(r["zero_count"] or 0)
            zt = max(zt, float(r["zero_threshold"] or 0.0))
            side_add(pos, r["pos_offset"], r["pos_counts"])
            side_add(neg, r["neg_offset"], r["neg_counts"])
            po, pc = side_emit(pos)
            no, nc = side_emit(neg)
            out.append({
                "metric": r["metric"], "labels": _as_dict(r["labels"]),
                "ts": int(r["ts"]), "count": int(tot_count),
                "sum": tot_sum, "zero_count": int(tot_zero),
                "zero_threshold": zt, "scale": scale,
                "pos_offset": po, "pos_counts": pc,
                "neg_offset": no, "neg_counts": nc,
            })
        return pd.DataFrame(out, columns=cols)

    keyed = df.withColumn(
        "__sk", F.xxhash64(F.col("metric"),
                           canonical_labels_json(F.col("labels"))))
    return keyed.groupBy("__sk").applyInPandas(
        _accumulate, OTLP_EXPHIST_SCHEMA)


# ----------------------------------------------- encode side (tests/clients)


def _enc_any_string(s: str) -> bytes:
    return _msg(1, s.encode("utf-8"))


def _enc_kv(k: str, v: str) -> bytes:
    return _msg(1, k.encode("utf-8")) + _msg(2, _enc_any_string(v))


def _enc_f64u(field: int, v: int) -> bytes:
    return _enc_uvarint(field << 3 | 1) + struct.pack("<Q", v)


def _enc_f64d(field: int, v: float) -> bytes:
    return _enc_uvarint(field << 3 | 1) + struct.pack("<d", float(v))


#: encode-side temporality names → metrics.proto enum values.
_TEMPORALITY_ENC = {"unspecified": 0, "delta": 1, "cumulative": 2}


def _enc_temporality(p: dict) -> bytes:
    """``aggregation_temporality`` (field 2) + Sum's ``is_monotonic``
    (field 3) from optional point keys — absent keys encode nothing
    (proto3 default = UNSPECIFIED / false)."""
    out = b""
    t = p.get("temporality")
    if t:
        out += _enc_uvarint(2 << 3 | 0) + _enc_uvarint(_TEMPORALITY_ENC[t])
    if p.get("is_monotonic") and p["kind"] == "number":
        out += _enc_uvarint(3 << 3 | 0) + _enc_uvarint(1)
    return out


def encode_export_request(points: list[dict]) -> bytes:
    """Flat point dicts (the :func:`decode_export_request` shape, with
    ``resource`` labels folded into ``labels``) → one wire
    ``ExportMetricsServiceRequest`` — the client/test side.  Each point
    becomes its own metric entry.  ``"number"`` points encode as Gauge
    unless a ``temporality``/``is_monotonic`` key is present (→ Sum);
    ``"summary"`` points take ``quantiles`` as (q, value) pairs."""
    metrics = bytearray()
    for p in points:
        attrs_field = {"number": 7, "histogram": 9, "exphist": 1,
                       "summary": 7}[p["kind"]]
        dp = bytearray()
        dp += _enc_f64u(3, int(p["ts"]) * 1_000_000_000)
        for k, v in sorted(p.get("labels", {}).items()):
            dp += _msg(attrs_field, _enc_kv(k, str(v)))
        if p["kind"] == "number":
            dp += _enc_f64d(4, p["value"])
            body = _msg(1, bytes(dp))
            if p.get("temporality") or p.get("is_monotonic") is not None:
                body += _enc_temporality(p)
                metric = _msg(1, p["metric"].encode()) + _msg(7, body)
            else:
                metric = _msg(1, p["metric"].encode()) + _msg(5, body)
        elif p["kind"] == "summary":
            dp += _enc_f64u(4, int(p["count"]))
            if p.get("sum") is not None:
                dp += _enc_f64d(5, p["sum"])
            for q, qv in p.get("quantiles") or []:
                dp += _msg(6, _enc_f64d(1, q) + _enc_f64d(2, qv))
            body = _msg(1, bytes(dp))
            metric = _msg(1, p["metric"].encode()) + _msg(11, body)
        elif p["kind"] == "histogram":
            dp += _enc_f64u(4, int(p["count"]))
            if p.get("sum") is not None:
                dp += _enc_f64d(5, p["sum"])
            bc = p.get("bucket_counts") or []
            dp += _msg(6, struct.pack(f"<{len(bc)}Q", *map(int, bc)))
            bounds = p.get("bounds") or []
            dp += _msg(7, struct.pack(f"<{len(bounds)}d",
                                      *map(float, bounds)))
            body = _msg(1, bytes(dp)) + _enc_temporality(p)
            metric = _msg(1, p["metric"].encode()) + _msg(9, body)
        else:
            dp += _enc_f64u(4, int(p["count"]))
            dp += _enc_f64d(5, p.get("sum") or 0.0)
            sc = int(p.get("scale") or 0)
            dp += _enc_uvarint(6 << 3 | 0) + _enc_uvarint(
                (sc << 1) ^ (sc >> 63))
            dp += _enc_f64u(7, int(p.get("zero_count") or 0))

            def side(off: int, counts: list[int]) -> bytes:
                o = int(off)
                b = (_enc_uvarint(1 << 3 | 0)
                     + _enc_uvarint((o << 1) ^ (o >> 63)))
                b += _msg(2, b"".join(_enc_uvarint(int(c)) for c in counts))
                return b

            dp += _msg(8, side(p.get("pos_offset") or 0,
                               p.get("pos_counts") or []))
            dp += _msg(9, side(p.get("neg_offset") or 0,
                               p.get("neg_counts") or []))
            if p.get("zero_threshold"):
                dp += _enc_f64d(14, p["zero_threshold"])
            body = _msg(1, bytes(dp)) + _enc_temporality(p)
            metric = _msg(1, p["metric"].encode()) + _msg(10, body)
        metrics += _msg(2, metric)
    scope_metrics = bytes(metrics)
    resource_metrics = _msg(2, scope_metrics)
    return _msg(1, resource_metrics)
