"""Shared loaders and constants for the declared workload queries.

Every query here runs against the driver's testdata tables
(``/root/testdata/sf*/{name}.parquet``) and is paired with an ANSI-SQL
oracle executed by DuckDB on the same files (SURVEY.md §2.9).

Cross-engine ground rules (all empirically verified):
- ``events.ts`` physical parquet type has DRIFTED across driver testdata
  generations (TIMESTAMP(NANOS) through round 3; ``timestamp[us]`` →
  Spark TIMESTAMP_NTZ since round 4).  The loaders below branch on the
  *observed* Spark dtype rather than assuming one: ``bigint`` (nanos via
  ``nanosAsLong``) → ``ts DIV 1e9``; ``timestamp*`` →
  ``unix_seconds(cast(ts as timestamp))`` (NTZ→LTZ is wall-clock
  preserving under the pinned UTC session).  DuckDB coerces either to
  micros; ``CAST(floor(epoch(ts)) AS BIGINT)`` gives the identical second.
- ``lineitem/orders`` timestamps are micros → Spark TIMESTAMP_NTZ;
  ``to_date`` ↔ ``CAST(x AS DATE)`` agree (session timezone pinned UTC).
- DuckDB ``sum(BIGINT)`` is HUGEINT → oracles cast aggregates explicitly.
- Float aggregates are rounded on both sides before comparison.
- ``md5`` / ``regexp_extract`` / window ``IGNORE NULLS`` agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model import canonicalize

#: Query window over the events table: [2024-01-05, 2024-01-15) UTC.
EV_START = 1_704_412_800
EV_END = 1_705_276_800 - 1  # inclusive end, mirroring the reference's [start, end]

#: Seconds per segment for the events-as-TSDB mapping.
SEG = 7200

#: The labels carried by the events→TSDB mapping.
TSDB_SQL_REL = """
    SELECT event_type AS metric,
           CAST(user_id AS VARCHAR) AS user,
           regexp_extract(props, '[0-9]+') AS k,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts,
           value
    FROM events
"""


def configure(spark: SparkSession) -> SparkSession:
    """Runtime confs the workload needs regardless of who built the session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    return spark


#: Cache of parquet-declared timestamp columns per path (footer read).
_TS_COLS_CACHE: dict[str, tuple[str, ...]] = {}


def _parquet_timestamp_columns(path: str) -> tuple[str, ...]:
    """Column names the parquet FOOTER declares as timestamp-typed
    (driver-side pyarrow metadata read — no Spark job; cached per path)."""
    if path not in _TS_COLS_CACHE:
        cols: tuple[str, ...] = ()
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            schema = pq.ParquetFile(path).schema_arrow
            cols = tuple(
                f.name for f in schema if pa.types.is_timestamp(f.type)
            )
        except Exception:
            pass
        _TS_COLS_CACHE[path] = cols
    return _TS_COLS_CACHE[path]


def load(
    spark: SparkSession, sf_dir: str, name: str, restore_ts: bool = True
) -> DataFrame:
    """Read a testdata table, undoing ``nanosAsLong`` surprises.

    Round 4's lesson generalized: the driver's generator can silently
    change a column's physical parquet type between rounds.  The pinned
    ``nanosAsLong`` conf (needed through round 3) makes Spark surface any
    TIMESTAMP(NANOS) column as a BIGINT of nanoseconds — which would
    break every ``to_date``/timestamp expression downstream (e.g. the
    TPC-H date filters) if ``o_orderdate``/``l_shipdate`` ever drifted
    to nanos the way ``events.ts`` drifted to micros.  So: any column
    the parquet footer declares as a timestamp but Spark read as bigint
    is restored to a real timestamp here (ns → µs is exact integer
    division).  The events loaders pass ``restore_ts=False`` — they
    branch on the raw dtype themselves and keep bigint-ns comparisons
    in the column's native type so the range predicate still reaches
    the scan as a PushedFilters entry."""
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if restore_ts:
        dtypes = dict(df.dtypes)
        for c in _parquet_timestamp_columns(path):
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
    return df


def _ts_dtype(ev: DataFrame) -> str:
    """Observed Spark dtype of the raw ``ts`` column."""
    return dict(ev.dtypes)["ts"]


#: Cache of sniffed int64 ts units per events path: path -> ticks/second.
_TS_UNIT_CACHE: dict[str, int] = {}


def _bigint_ts_unit(path: str) -> int:
    """Ticks-per-second of an int64 ``ts`` column, sniffed from the parquet
    FOOTER (driver-side pyarrow metadata read — no Spark job).

    An int64 epoch's magnitude identifies its unit for any date between
    1973 and 5138 (1e8..1e11 seconds): ns ≈ 1e18, µs ≈ 1e15, ms ≈ 1e12,
    s ≈ 1e9 — the bands never overlap.  Through round 3 the testdata was
    TIMESTAMP(NANOS) (read as int64-ns under ``nanosAsLong``); round 4
    proved the generator's physical type DRIFTS, so the unit is sniffed
    rather than assumed.  Falls back to nanoseconds (the only encoding
    ever observed) if the footer carries no stats.
    """
    if path in _TS_UNIT_CACHE:
        return _TS_UNIT_CACHE[path]
    unit = 1_000_000_000
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(path).metadata
        idx = next(
            i for i in range(meta.num_columns) if meta.schema.column(i).name == "ts"
        )
        stats = meta.row_group(0).column(idx).statistics
        mx = stats.max if stats is not None else None
        if mx is not None:
            mx = int(mx)
            for u in (1, 1_000, 1_000_000, 1_000_000_000):
                if 1e8 <= mx / u < 1e11:
                    unit = u
                    break
    except Exception:
        pass
    _TS_UNIT_CACHE[path] = unit
    return unit


def _ts_seconds(dtype: str, unit: int = 1_000_000_000):
    """Expression converting raw ``ts`` of ``dtype`` to unix seconds (BIGINT).

    ``bigint`` columns divide by the sniffed ticks-per-second ``unit``
    (see :func:`_bigint_ts_unit`); ``timestamp``/``timestamp_ntz`` columns
    convert via an NTZ→LTZ cast (wall-clock preserving under the UTC
    session — a bare ``cast("long")`` on TIMESTAMP_NTZ is an
    AnalysisException) at whatever precision the scan surfaced.
    """
    if dtype == "bigint":
        return F.expr(f"ts DIV {unit}")
    return F.unix_seconds(F.col("ts").cast("timestamp"))


def _ts_range_pred(dtype: str, start: int, end: int, unit: int = 1_000_000_000):
    """Pushdown-safe predicate for ``ts`` within ``[start, end]`` seconds.

    The comparison stays in the column's native type — bigint tick bounds
    for integer columns, foldable timestamp literals for timestamp columns
    — so the range reaches the Parquet scan as a PushedFilters entry
    instead of wrapping the column in a cast (which would defeat pushdown).
    """
    if dtype == "bigint":
        return F.col("ts").between(start * unit, (end + 1) * unit - 1)
    lo = F.timestamp_seconds(F.lit(start))
    hi = F.timestamp_seconds(F.lit(end + 1))
    if dtype.startswith("timestamp_ntz"):
        lo, hi = lo.cast("timestamp_ntz"), hi.cast("timestamp_ntz")
    return (F.col("ts") >= lo) & (F.col("ts") < hi)


def events_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` normalized to unix seconds (BIGINT)."""
    ev = load(spark, sf_dir, "events", restore_ts=False)
    dtype = _ts_dtype(ev)
    unit = _bigint_ts_unit(f"{sf_dir}/events.parquet") if dtype == "bigint" else 0
    return ev.withColumn("ts", _ts_seconds(dtype, unit))


def events_relation(
    spark: SparkSession, sf_dir: str, start: int | None = None, end: int | None = None
) -> DataFrame:
    """Canonical TSDB relation (labels/ts/value/series_key/seg) from events.

    Built for pushdown: the labels map is a single ``create_map`` with
    literal keys, which Catalyst's ``SimplifyExtractValueOps`` collapses —
    ``labels['__name__'] = 'x'`` becomes ``event_type = 'x'``, a predicate
    the Parquet scan can take (and unused label values, e.g. the
    regexp_extract for ``k``, are never computed at all).  The optional
    [start, end] second-window is applied to the *raw* ``ts`` column in its
    native type before conversion so it reaches the scan as a pushable
    range predicate — the engine re-applies the exact second-level filter
    afterwards.
    """
    from ..model import seg_bucket, series_key

    ev = load(spark, sf_dir, "events", restore_ts=False)
    dtype = _ts_dtype(ev)
    unit = _bigint_ts_unit(f"{sf_dir}/events.parquet") if dtype == "bigint" else 0
    if start is not None and end is not None:
        ev = ev.filter(_ts_range_pred(dtype, start, end, unit))
    ev = ev.withColumn("ts", _ts_seconds(dtype, unit))
    labels = F.create_map(
        F.lit("__name__"), F.col("event_type"),
        F.lit("k"), F.regexp_extract(F.col("props"), "[0-9]+", 0),
        F.lit("user"), F.col("user_id").cast("string"),
    )
    return ev.select(
        labels.alias("labels"),
        F.col("ts"),
        F.col("value"),
        series_key(labels).alias("series_key"),
        seg_bucket(F.col("ts"), SEG).alias("seg"),
    )


def presentation_sort(df: DataFrame, *cols) -> DataFrame:
    """Total-order presentation sort for BOUNDED fixture results.

    ``orderBy``'s range partitioning runs a boundary-SAMPLING job over
    the child plan first: with AQE only the tail of the plan above the
    last materialized exchange is reused, so every map-side operator in
    that tail (broadcast-join fan-outs, codec stages, verify
    expressions) executes twice — measured ~2x wall on verify-heavy
    queries (x_docs_jaccard_join 12.0s orderBy vs 7.1s this form, same
    session; the r12 wire-fixture commits measured the same on the
    codec queries).  ``repartition(1).sortWithinPartitions`` produces
    the identical total order in ONE execution.  Only for
    presentation-bounded outputs (parity fixtures, top-k reports) —
    never corpus-scale data, where a single-partition sort would be the
    scale-killer the round-6 verdict flagged."""
    return df.repartition(1).sortWithinPartitions(*cols)


def flatten_labels(df: DataFrame) -> DataFrame:
    """Project the canonical labels map back to oracle-comparable columns."""
    return df.select(
        F.col("labels").getItem("__name__").alias("metric"),
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        *[c for c in df.columns if c != "labels"],
    )
