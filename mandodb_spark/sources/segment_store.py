"""Parquet segment store — the engine's storage layer.

Replaces the reference's entire custom storage machinery (TSZ blocks,
mmap data files, binary meta blocks, AVL segment list — segment.go,
disk_segment.go, metadata.go, pkg/mmap) with a partitioned Parquet layout:

- one root directory, Hive-partitioned by ``seg = floor(ts / 7200)``
  (tsdb.go:40's 2-hour segment duration as a partition column, S3/T1);
- within each partition, files written sorted by ``(series_key, ts)`` so
  row-group min/max stats give the reference's early-exit time scan
  (series.go:48-50) and per-series locality (the columnar-by-series disk
  layout of memory_segment.go:195-209) for free;
- Parquet footer stats and partition values play the role of ``meta.json``
  + the binary meta block (metadata.go:59-190, S9) — nothing custom to
  serialize;
- compression codec is a session conf (``zstd`` default), replacing
  BytesCompressor (compressor.go:22-81, S8).

The sample type is class data (:class:`SampleStore`): ``PAYLOAD`` names
the value columns, so the native-histogram and exemplar stores are this
store with another payload, not copies of it.  The schema is declared,
not discovered: :attr:`SampleStore.schema` (:data:`STORE_SCHEMA` for float
samples) is what every read gets, so building the relation opens no file
footer and runs no Spark job.  Discovery only LISTS files — again on every
read, because a stream adds files between reads — and
:meth:`SegmentStore.fsck` is where a file's own schema is checked against
the store's declaration.

Every store answers the same protocol itself — ``append``, ``relation``,
``segment_ids``, ``max_ts``, retention, ``delete_series``, ``compact``,
``fsck``, ``vacuum`` and ``close`` — so callers never ask a store what it
can do; a memory store's file operations are the fileless defaults of
:class:`SampleStore`.

Scale posture: segment discovery (tsdb.go:408-463, S5) is Spark's partition
discovery; at 100 TB you'd put a metastore/Delta table over the same layout,
but the layout itself — time-partitioned, sorted-within-partition — is the
thing that must be right, and it is identical at any scale.  Retention
(tsdb.go:384-406, S7) is a partition-level delete: O(#expired partitions)
metadata work, no data rewrite.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType, StructField,
                               StructType)

from ..model import DEFAULT_SEGMENT_DURATION, ROW_SCHEMA, as_nullable, canonicalize


def declared_schema(row_schema: StructType, payload: tuple) -> StructType:
    """The store as every read sees it: the canonical columns ``(labels,
    ts, *payload, series_key)`` plus the ``seg`` partition column.
    ``seg`` is INT because that is what partition inference gives the
    written directories; every field is nullable, as Parquet reads back."""
    row = {f.name: f for f in row_schema.fields}
    return as_nullable(StructType(
        [row[c] for c in ("labels", "ts", *payload)]
        + [StructField("series_key", LongType()), StructField("seg", IntegerType())]
    ))


#: The float-sample store's declared schema (:attr:`SampleStore.schema`
#: for ``PAYLOAD = ("value",)``).
STORE_SCHEMA = declared_schema(ROW_SCHEMA, ("value",))


def dedup_last_write(batch: DataFrame, order_col: str | None = None) -> DataFrame:
    """Collapse duplicate ``(series_key, ts)`` samples to the last write.

    The optional ingest dedup policy (reference: ``WithEnabledOutdated(false)``
    rejects re-sends, tsdb.go:91-97, and the TSZ append silently drops
    per-series points with ``ts <= maxTs``, series.go:24-27 — net effect:
    at most one stored point per (series, ts)).  The engine's DEFAULT is
    the documented multiset upgrade (every accepted row is kept; pinned by
    the out-of-order tests and the tsdb_* oracle rows); this function is
    the opt-in last-write-wins alternative.

    "Last" is defined by ``order_col`` (higher wins); when absent, input
    row order stands in via ``monotonically_increasing_id`` — exact for
    any single-batch DataFrame whose partition order reflects arrival
    order (true for createDataFrame and for a streaming micro-batch).
    Ties on the order break deterministically by value (then labels) so
    the result is engine-stable.

    Scale shape: one hash partial/final aggregate on (series_key, ts) —
    ``max_by`` keeps a single struct per group map-side, so a mega-batch
    of re-sends collapses before the exchange; no window, no sort.
    """
    if order_col is None:
        # project the id BEFORE the aggregate: non-deterministic expressions
        # are illegal inside aggregate arguments, and materializing it in a
        # Project pins each row's arrival rank once
        order_col = "__ingest_ord"
        batch = batch.withColumn(order_col, F.monotonically_increasing_id())
    payload = F.struct(F.col("value"), F.col("labels"), F.col("seg"))
    winner = F.max_by(
        payload, F.struct(F.col(order_col).alias("o"), F.col("value").alias("v"))
    )
    return (
        batch.groupBy("series_key", "ts")
        .agg(winner.alias("__w"))
        .select(
            F.col("__w.labels").alias("labels"),
            "ts",
            F.col("__w.value").alias("value"),
            "series_key",
            F.col("__w.seg").alias("seg"),
        )
    )


def _renameat2_exchange(a: str, b: str) -> bool:
    """Atomically EXCHANGE two paths via Linux ``renameat2(RENAME_EXCHANGE)``
    (kernel >= 3.15; not exposed by ``os``, so called through libc).  Returns
    False when the syscall is unavailable or fails (non-Linux, cross-device,
    old kernel) so the caller can fall back to the two-rename sequence."""
    try:
        import ctypes
        import os

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        at_fdcwd, rename_exchange = -100, 2
        return (
            libc.renameat2(
                at_fdcwd, os.fsencode(a), at_fdcwd, os.fsencode(b), rename_exchange
            )
            == 0
        )
    except Exception:
        return False


def swap_in(root: str, staging_root: str, keep_old: bool = False) -> str | None:
    """Swap a fully-written staging directory into place (shared by the
    segment store, memory store, and vector index maintenance jobs).

    ``keep_old=True`` returns the path now holding the REPLACED old tree
    instead of deleting it — the caller inspects it (e.g. to salvage
    files committed concurrently with the rewrite) and deletes it.

    The Parquet analogue of the reference's atomic segment swap
    (tsdb.go:242-265: write the new file, then rename over).  Primary
    path: one ``renameat2(RENAME_EXCHANGE)`` syscall atomically exchanges
    the live root and the staging root — there is NO instant with a
    missing or partial root directory, so a concurrent listing can never
    surface FileNotFound, and a crash at any point leaves exactly one
    complete tree at each path (the old data sits at ``staging_root``
    post-exchange until the cleanup delete; leftover staging dirs are
    garbage, not truth, and every caller clears them before writing).

    Fallback (non-Linux / cross-device / pre-3.15 kernel): rename the
    live root aside, rename staging in, delete the old root LAST.  Every
    failure point still leaves a recoverable state — before the first
    rename the old root is untouched; between the renames the complete
    old data sits at ``<root>__old`` (rename it back to recover) — but
    there IS a sub-millisecond window with no root directory; a listing
    in that instant surfaces as FileNotFound and succeeds on retry
    (POSIX ``rename`` cannot replace a non-empty directory; object
    storage deployments swap a manifest instead — Iceberg/Delta solve
    exactly this).
    """
    if _renameat2_exchange(root, staging_root):
        if keep_old:
            return staging_root  # now holds the replaced old data
        shutil.rmtree(staging_root)
        return None
    old = f"{root}__old"
    shutil.rmtree(old, ignore_errors=True)  # stale leftover from a crash
    Path(root).rename(old)
    Path(staging_root).rename(root)
    if keep_old:
        return old
    shutil.rmtree(old)
    return None


def segment_ids(root: str) -> list[int]:
    """Sorted ids of the ``seg=N`` partition directories under ``root``
    (``[]`` when it does not exist) — metadata-only discovery (S5,
    segment.go:17-29): a listing, no data scan and no Spark job."""
    rootp = Path(root)
    if not rootp.exists():
        return []
    return sorted(int(p.name.split("=", 1)[1]) for p in rootp.glob("seg=*"))


def refresh_aggregate(rel: DataFrame, dest: str, build, *, step: int = 1,
                      segment_duration: int = 1, incremental: bool = False,
                      since_seg: int | None = None,
                      sort_cols: tuple[str, ...] = ()) -> None:
    """Materialize or refresh the seg-partitioned continuous aggregate at
    ``dest`` — the one refresh protocol behind the step rollup, value
    histogram, HLL cardinality, DDSketch quantile and native-histogram
    rollups (``TSDB.materialize_*`` and ``StreamingIngestor``).

    ``build`` maps (a filtered) ``rel`` to aggregate rows carrying a
    ``seg`` column; an aggregate row of ``step``-second bucket b lives in
    partition floor(b / segment_duration).  Aggregates keyed by ``seg``
    itself (one row group per segment) leave ``step`` and
    ``segment_duration`` at 1.

    A refresh is requested by ``incremental=True`` or by ``since_seg``
    (late backfill: the batch's lowest touched segment).  Then:

    1. the watermark is the largest ``seg=`` directory under ``dest``,
       from a listing (no Spark job); a missing or empty ``dest`` has
       none and gets a full build instead — a refresh from a watermark
       the aggregate never reached would drop the store's history;
    2. the start segment is ``min(since_seg, watermark)``: a backfill
       can lower the start, never skip past the open partition (it may
       be partial: its source segment was open at the last refresh);
    3. ``step`` and ``segment_duration`` must be divide-compatible, else
       ValueError: a bucket straddling a segment boundary would be
       rewritten from only the rows at/after the start;
    4. the start is floored to its containing bucket,
       ``start = floor(W·duration/step)·step`` — a multiple of
       ``segment_duration`` under 3 — and only rows with
       ``seg >= start // duration`` are aggregated, so every bucket in a
       rewritten partition is rebuilt from all of its rows;
    5. the rows are written ``repartition("seg")``, sorted within
       partitions by ``sort_cols``, zstd, ``partitionBy("seg")``, with a
       DYNAMIC partition overwrite: partitions below the start keep
       their files.

    Without a refresh (or without a watermark) the whole of ``rel`` is
    aggregated and ``dest`` is replaced by a STATIC overwrite.  The
    overwrite mode is a per-write option (ADVICE r5), never a session
    conf a concurrent writer could inherit.  Either way the result equals
    a full build over the same relation.

    The purge tier's :func:`write_rollup_and_verify` is deliberately a
    separate protocol: it writes ``(seg, gen)`` content-hash partitions
    that keep every expiry generation beside the others, and it gates
    the raw purge on Σn, neither of which a watermark refresh of
    ``seg`` partitions can express.
    """
    refresh = incremental or since_seg is not None
    if refresh and step % segment_duration and segment_duration % step:
        raise ValueError(
            f"incremental refresh requires step ({step}) and "
            f"segment_duration ({segment_duration}) to be divide-compatible "
            "(one must divide the other); use incremental=False for "
            "arbitrary steps"
        )
    segs = segment_ids(dest) if refresh else []
    if segs:
        w = segs[-1] if since_seg is None else min(since_seg, segs[-1])
        start = (w * segment_duration // step) * step
        rel = rel.filter(F.col("seg") >= start // segment_duration)
    out = build(rel).repartition(F.col("seg"))
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    (
        out.write.option("compression", "zstd")
        .option("partitionOverwriteMode", "dynamic" if segs else "static")
        .partitionBy("seg")
        .mode("overwrite")
        .parquet(dest)
    )


#: The purge tier as every read sees it: :func:`mergeable_rollup`'s
#: columns plus the ``(seg, gen)`` partition columns that
#: :func:`write_rollup_and_verify` writes (``seg`` INT, as partition
#: inference reads it; ``gen`` is a content-hash string).
TIER_SCHEMA = as_nullable(StructType([
    StructField("series_key", LongType()), ROW_SCHEMA["labels"],
    *(StructField(c, LongType()) for c in ("bucket_ts", "n")),
    *(StructField(c, DoubleType()) for c in ("sum", "min", "max")),
    StructField("seg", IntegerType()), StructField("gen", StringType())]))


def mergeable_rollup(rel, step: int):
    """Per-(series, step-bucket, seg) MERGEABLE aggregate of a canonical
    relation — the purge-tier rollup shape shared by the disk and memory
    stores' ``downsample_expired`` (and consumed by
    ``tsdb_ops.query_range_buckets_tiered``).  Deliberately no avg/last:
    see ``SegmentStore.downsample_expired``."""
    return (
        rel.groupBy(
            "series_key",
            (F.floor(F.col("ts") / step) * step).cast("long").alias("bucket_ts"),
            "seg",
        )
        .agg(
            F.any_value(F.col("labels")).alias("labels"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
        .select("series_key", "labels", "bucket_ts", "n", "sum", "min",
                "max", "seg")
    )


def write_rollup_and_verify(spark, rel, expired: list[int], step: int,
                            dest_root: str, codec: str | None = None) -> None:
    """Write ``mergeable_rollup(rel)`` to ``dest_root`` and enforce the
    purge gate: raises unless the written rollup's Σn equals the raw row
    count, so a caller can only drop raw data the rollup provably covers.

    The tier is partitioned by ``(seg, gen)`` where ``gen`` is a content
    hash of the segment's expiring rows, and the write dynamically
    overwrites only its own ``(seg, gen)`` partitions.  Both halves of
    that choice are load-bearing:

    - same content → same gen → overwrite: a crash between rollup and
      purge re-runs cleanly (nothing double-counts), and an exact
      redelivery of already-rolled rows dedups instead of inflating;
    - different content → different gen → NEW partition: when late rows
      recreate an already-purged segment and it expires a SECOND time,
      the earlier generation's aggregates survive beside the new ones
      (plain per-seg overwrite silently destroyed them — the round-7
      streaming soak test caught exactly that data loss).  Readers merge
      generations for free: the tier schema is the mergeable-partial set
      by design (``query_range_buckets_tiered`` re-aggregates).

    At-least-once caveat (the limit of content-hash dedup): redelivery
    is deduplicated only when it is BYTE-EXACT (same rows → same gen →
    overwrite) or fully DISJOINT (new rows → new gen, correct by
    design).  A PARTIALLY-overlapping late redelivery after purge —
    some rows already rolled up in an earlier generation plus some new
    ones — hashes to a fresh gen containing the overlap again, and
    tiered reads then double-count the overlapping rows across the two
    generations.  Feed this writer deduplicated rows (the store's
    ``dedup_points``/``dedup_against_store`` ingest options exist for
    exactly this) when upstream redelivery can split batches.

    ``dest_root`` must be a (seg, gen) tier from birth: a root holding
    pre-generation ``seg=N/*.parquet`` layouts (no ``gen=`` level)
    breaks partition discovery when mixed, so the write FAILS FAST with
    a migration hint instead of corrupting the tier.
    """
    pre_gen = [
        d.name for d in Path(dest_root).glob("seg=*")
        if d.is_dir()
        and any(f.is_file() and f.suffix == ".parquet" for f in d.iterdir())
    ] if Path(dest_root).exists() else []
    if pre_gen:
        raise RuntimeError(
            f"tier at {dest_root} holds pre-generation seg-only partitions "
            f"({pre_gen[:3]}{'...' if len(pre_gen) > 3 else ''}): migrate by "
            f"rewriting each seg=N dir to seg=N/gen=legacy before mixing "
            f"(seg, gen) writes into this root"
        )
    gen_rows = (
        rel.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            # bit_xor, not sum: order-independent like sum but can't
            # overflow under ANSI mode
            F.expr("bit_xor(xxhash64(series_key, ts, value))").alias("h"),
        )
        .collect()
    )
    gens = {int(r["seg"]): f"{r['cnt']}x{r['h'] & (2**63 - 1):x}" for r in gen_rows}
    raw_rows = sum(int(r["cnt"]) for r in gen_rows)
    gen_map = F.create_map(
        *[x for s, g in gens.items() for x in (F.lit(s), F.lit(g))]
    )
    w = (
        mergeable_rollup(rel, step)
        .withColumn("gen", gen_map[F.col("seg")])
        .repartition("seg")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
    )
    if codec:
        w = w.option("compression", codec)
    w.partitionBy("seg", "gen").parquet(dest_root)
    rolled = (
        spark.read.schema(TIER_SCHEMA).parquet(dest_root)
        .filter(F.col("seg").isin(expired) & F.col("gen").isin(list(gens.values())))
        .agg(F.coalesce(F.sum("n"), F.lit(0))).collect()[0][0]
    )
    if rolled != raw_rows:
        raise RuntimeError(
            f"downsample_expired: rollup covers {rolled} of {raw_rows} "
            f"raw rows for segs {expired} — purge aborted"
        )


class SampleStore:
    """The sample-store contract the disk (:class:`SegmentStore`) and
    memory (``memory_store.MemoryStore``) stores share.  The sample type
    is class data: ``PAYLOAD`` names the value columns and ``ROW_SCHEMA``
    the ingest rows, so the native-histogram and exemplar stores are
    subclasses that set those two attributes and nothing else.

    The file operations default to a store without files (``root`` None):
    an ok :meth:`fsck`, an empty :meth:`vacuum` and a no-op :meth:`close`;
    :class:`SegmentStore` overrides the first two."""

    PAYLOAD: tuple = ("value",)
    ROW_SCHEMA: StructType = ROW_SCHEMA

    spark: SparkSession
    segment_duration: int
    root: str | None = None

    @property
    def schema(self) -> StructType:
        """The declared read schema ``(labels, ts, *PAYLOAD, series_key,
        seg)`` — :data:`STORE_SCHEMA` for float samples.  Every read of
        the store, empty or populated, has it, so none opens a footer."""
        return declared_schema(self.ROW_SCHEMA, self.PAYLOAD)

    def _canonical(self, rows: DataFrame, dedup_points: bool = False) -> DataFrame:
        """An ingest batch in the storage shape (``dedup_points`` is the
        float-only within-batch last-write-wins policy)."""
        batch = canonicalize(rows, self.segment_duration, self.PAYLOAD)
        return dedup_last_write(batch) if dedup_points else batch

    def insert_pylist(self, rows: list[tuple]) -> None:
        """Convenience for tests: ``ROW_SCHEMA`` tuples, e.g. (metric,
        labels, ts, value) for float samples."""
        self.append(self.spark.createDataFrame(rows, self.ROW_SCHEMA))

    def _expired_segments(self, now_ts: int, retention: int) -> list[int]:
        """Segment ids whose max possible ts — ``(seg+1)*duration - 1`` —
        is older than ``now - retention`` (tsdb.go:384-406)."""
        cutoff = now_ts - retention
        return [
            seg for seg in self.segment_ids()
            if (seg + 1) * self.segment_duration - 1 < cutoff
        ]

    def max_ts(self, pred: Column) -> int | None:
        """Largest ``ts`` of the rows matching ``pred``, or None: the rule
        maintainers' restart recovery (the store IS their state).  A
        ``labels`` predicate prunes nothing, but the newest segment holding
        a match holds the max, so segments are probed newest-first, one
        partition-pruned scan each, up to the first hit — a continuously
        maintained rule is found in the newest one."""
        rel = self.relation()
        for seg in reversed(self.segment_ids()):
            m = self._max_ts_probe(rel, pred, seg).collect()[0]["m"]
            if m is not None:
                return int(m)
        return None

    @staticmethod
    def _max_ts_probe(rel: DataFrame, pred: Column, seg: int) -> DataFrame:
        """One :meth:`max_ts` probe: max matching ``ts`` within ONE
        segment partition."""
        return (rel.filter(F.col("seg") == int(seg)).filter(pred)
                .agg(F.max("ts").alias("m")))

    def fsck(self) -> dict:
        """The integrity report of a store without files: nothing to check."""
        return {"segments": [], "corrupt": [], "schema_mismatch": [],
                "orphans": [], "ok": True}

    def vacuum(self, dry_run: bool = True) -> dict:
        """The vacuum report of a store without files: nothing to remove."""
        return {"removed": [], "freed_bytes": 0, "dry_run": dry_run}

    def close(self) -> None:
        """Release what the store holds between calls (nothing by default)."""

    @staticmethod
    def _deletion_predicate(matchers: list, metric: str | None) -> Column:
        """The ``labels`` predicate of :meth:`delete_series` (AND matcher
        semantics); an empty matcher list is rejected — a full-store
        delete should be explicit, not a matcher typo."""
        from ..matchers import add_metric_name, matchers_predicate

        lms = add_metric_name(metric, list(matchers))
        if not lms:
            raise ValueError("delete_series: need at least one matcher")
        return matchers_predicate(F.col("labels"), lms)

    def stats(self) -> DataFrame:
        """Per-segment Desc stats (segment.go:31-36, A6).

        ``seriesCount / dataPointsCount / minTs / maxTs`` per segment —
        computed from data here; at scale these come free from Parquet
        footers / table-format metadata.
        """
        return (
            self.relation()
            .groupBy("seg")
            .agg(
                F.countDistinct("series_key").alias("series_count"),
                F.count(F.lit(1)).alias("data_points_count"),
                F.min("ts").alias("min_ts"),
                F.max("ts").alias("max_ts"),
            )
            .orderBy("seg")
        )


class SegmentStore(SampleStore):
    """Partitioned-Parquet segment store (replaces segmentList, segment.go:38-46)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        segment_duration: int = DEFAULT_SEGMENT_DURATION,
        codec: str = "zstd",
        max_rows_per_segment: int | None = None,
    ) -> None:
        """``max_rows_per_segment`` fans a hot segment's WRITE out over
        multiple tasks (see :meth:`append` — the reference's
        ``WithMaxRowsPerSegment`` row-budget rotation, tsdb.go:99-105,
        re-expressed as write parallelism instead of early head rotation).

        The zstd level is fixed at 1 (not parquet-zstd's default 3): on
        time-series batches the size is set by the DELTA_BINARY_PACKED /
        dictionary encodings, not the zstd pass — measured IDENTICAL
        0.569 B/point at levels 1 and 3 on the ingest-bench grid — while
        the encode CPU drops (~7% ingest throughput).  The level is a
        Hadoop conf, so it applies session-wide to parquet writes."""
        self.spark = spark
        self.root = str(root)
        self.segment_duration = segment_duration
        self.codec = codec
        self.max_rows_per_segment = max_rows_per_segment
        if codec == "zstd":
            try:
                spark.sparkContext._jsc.hadoopConfiguration().set(
                    "parquet.compression.codec.zstd.level", "1"
                )
            except Exception:
                pass  # Connect-mode sessions have no _jsc; ambient level applies

    def _write_options(self, writer):
        return writer.option("compression", self.codec)

    # ---------------------------------------------------------------- write
    def append(
        self,
        rows: DataFrame,
        dedup_points: bool = False,
        dedup_against_store: bool = False,
    ) -> None:
        """Append an ingest batch (S1-S4 collapsed into one declarative write).

        ``repartition(seg)`` co-locates each segment's rows in one task →
        one file per segment per batch (bounds the small-files problem the
        reference never solved, README.md:39); ``sortWithinPartitions``
        realizes the flush-time out-of-order merge (A5, series.go:72-94):
        late rows simply land sorted in their event-time partition, no AVL
        sidecar needed.

        Duplicate policy (reference: series.go:24-27 drops per-series
        appends with ``ts <= maxTs``; ``WithEnabledOutdated(false)``,
        tsdb.go:91-97, refuses re-sends entirely):

        - default — the engine's documented MULTISET upgrade: every
          accepted row is stored (pinned by the out-of-order tests and the
          tsdb_* oracle rows);
        - ``dedup_points=True`` — last-write-wins by ``(series_key, ts)``
          WITHIN the batch (:func:`dedup_last_write`);
        - ``dedup_against_store=True`` — additionally drop batch points
          whose ``(series_key, ts)`` already exists in the store
          (first-write-wins ACROSS batches — the exact net effect of the
          reference's TSZ ``ts <= maxTs`` drop).  The store scan is
          statically pruned to the batch's touched segments, so the check
          reads O(touched partitions), never the whole store.

        Hot-segment write fan-out: with ``max_rows_per_segment`` set, any
        segment whose batch row count exceeds the budget is salted across
        ``ceil(count / budget)`` writer tasks — the reference rotates the
        head early on a row budget (``WithMaxRowsPerSegment``,
        tsdb.go:99-105); here the equivalent scale hazard is one writer
        task (and one giant file) absorbing a hot 2-hour window, and the
        salt removes it.  The per-seg count is a driver-side collect of
        O(touched segments) — the same bounded-metadata class as the
        segment list.
        """
        batch = self._canonical(rows, dedup_points)
        if dedup_against_store and Path(self.root).exists():
            segs = [r["seg"] for r in batch.select("seg").distinct().collect()]
            existing = (
                self.relation()
                .filter(F.col("seg").isin(segs))
                .select("seg", "series_key", "ts")
            )
            batch = batch.join(existing, ["seg", "series_key", "ts"], "left_anti")
        # explicit partition count: a hash repartition without one is
        # AQE-coalescible, and size-based coalescing would serialize the
        # writers (each seg still lands wholly in one task → one file)
        n_write_tasks = max(self.spark.sparkContext.defaultParallelism, 1)
        keys = [F.col("seg")]
        if self.max_rows_per_segment:
            budget = self.max_rows_per_segment
            hot = {
                r["seg"]: -(-r["cnt"] // budget)
                for r in batch.groupBy("seg").agg(F.count(F.lit(1)).alias("cnt")).collect()
                if r["cnt"] > budget
            }
            if hot:
                fanout = F.create_map(*[F.lit(x) for kv in hot.items() for x in kv])
                keys.append(
                    F.pmod(
                        F.xxhash64("series_key", "ts"),
                        F.coalesce(fanout[F.col("seg")], F.lit(1)),
                    )
                )
        writer = self._write_options(
            batch.repartition(n_write_tasks, *keys)
            .sortWithinPartitions("series_key", "ts")
            .write
        )
        writer.partitionBy("seg").mode("append").parquet(self.root)

    # ----------------------------------------------------------------- read
    def relation(self) -> DataFrame:
        """The full store as a DataFrame (lazy; S5/S6 ≙ partition discovery).

        Read with the declared :attr:`schema`: Spark lists the files on
        every call (a stream adds files between reads) but infers nothing,
        so the call runs no job.  A root retention emptied reads as 0
        rows; a store never written returns the same empty relation,
        mirroring a fresh TSDB.
        """
        if Path(self.root).exists():
            return self.spark.read.schema(self.schema).parquet(self.root)
        return self.spark.createDataFrame([], self.schema)

    def segment_ids(self) -> list[int]:
        """Sorted segment ids from the partition DIRECTORY LISTING alone
        (:func:`segment_ids`), no data scan."""
        return segment_ids(self.root)

    # ------------------------------------------------------------ retention
    def remove_expired(self, now_ts: int, retention: int) -> list[int]:
        """Drop whole segments older than the retention window (S7/T5).

        Mirrors ``removeExpires`` (tsdb.go:384-406): a segment expires when
        its max possible ts — ``(seg+1)*duration - 1`` — is older than
        ``now - retention``.  Implemented as partition-directory deletes
        (the Spark-native equivalent of ``os.RemoveAll`` on
        ``seg-<minTs>-<maxTs>`` dirs); on a real deployment this is a
        ``DELETE WHERE seg < cutoff`` against the table format.
        Returns the dropped segment ids.
        """
        dropped = self._expired_segments(now_ts, retention)
        for seg in dropped:
            shutil.rmtree(Path(self.root) / f"seg={seg}")
        return dropped

    def downsample_expired(self, now_ts: int, retention: int, step: int,
                           dest_root: str) -> list[int]:
        """Tiered retention (downsample-then-expire): before raw segments
        older than ``now - retention`` are dropped, materialize their
        per-series ``step``-bucket rollup (count/sum/min/max) into
        ``dest_root``, verify coverage, THEN purge — the continuous-
        aggregate retention policy production TSDBs layer on top of the
        reference's delete-only ``removeExpires`` (tsdb.go:384-406).

        Crash safety / idempotence: the rollup write is per-segment
        DYNAMIC partition overwrite (same ``seg=`` ids as the raw store),
        so a crash between rollup and purge re-runs cleanly — the rerun
        overwrites the same rollup partitions and purges the same raw
        segments; nothing double-counts.  Purge only happens after a
        count invariant holds (Σ rollup n == raw rows of the expired
        segments) — a failed or partial rollup write raises and leaves
        the raw data in place.

        Returns the dropped segment ids (empty when nothing expired).
        The rollup relation (series_key, labels, bucket_ts, n, sum, min,
        max, seg) answers range queries past the raw horizon at ``step``
        resolution via ``tsdb_ops.query_range_buckets_tiered``; its own
        retention is the plain :meth:`remove_expired` applied to
        ``dest_root`` by the caller.  The column set is deliberately the
        MERGEABLE subset (no avg / last_value — contrast
        ``tsdb_ops.materialize_rollup``'s dashboard tier): purge-tier rows
        must merge with raw partials and with each other across seg
        splits, and the purge gate needs Σn to be meaningful.
        """
        expired = self._expired_segments(now_ts, retention)
        if not expired:
            return []
        rel = self.relation().filter(F.col("seg").isin(expired))
        write_rollup_and_verify(self.spark, rel, expired, step, dest_root,
                                codec=self.codec)
        return self.remove_expired(now_ts, retention)

    def delete_series(self, matchers: list, metric: str | None = None) -> int:
        """Targeted series deletion (the GDPR / right-to-be-forgotten
        lifecycle op the reference lacks): remove every point whose labels
        match ``matchers`` (AND semantics, same matcher language as the
        query paths) by rewriting ONLY the touched ``seg=`` partitions
        without the matching rows, via per-partition dynamic overwrite.

        Scale shape: one column-pruned scan finds the touched segments
        (O(matching rows), statically label-filtered); the rewrite reads
        and writes only those partitions — a store with years of history
        rewrites the handful of segments the series actually lived in.
        Crash safety: dynamic partition overwrite commits per job — a
        crash mid-rewrite leaves the previous partition files live (the
        delete simply re-runs).  Returns the number of points removed.

        Semantics note: matching goes through the same ``labels``
        predicate the query paths use, and an empty matcher list is
        rejected (a full-store delete should be an explicit
        ``shutil.rmtree``, not a matcher typo).
        """
        pred = self._deletion_predicate(matchers, metric)
        rel = self.relation()
        touched = [r["seg"] for r in
                   rel.filter(pred).select("seg").distinct().collect()]
        if not touched:
            return 0
        sub = rel.filter(F.col("seg").isin(touched))
        n_before = sub.count()
        keep = sub.filter(~pred)
        # every derived read happens BEFORE the overwrite: lazy plans pin
        # the current file index, and re-collecting them after the commit
        # would read deleted files (the relayout lesson)
        keep = keep.localCheckpoint(eager=True)  # sever the plan from the
        # files about to be overwritten (Spark refuses / misreads
        # read-write cycles on the same path depending on version)
        per_seg = {r["seg"]: r["n"] for r in
                   keep.groupBy("seg").agg(F.count(F.lit(1)).alias("n")).collect()}
        n_after = sum(per_seg.values())
        writer = self._write_options(
            keep.repartition("seg")
            .sortWithinPartitions("seg", "series_key", "ts")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("seg")
        )
        writer.parquet(self.root)
        # a partition whose EVERY row matched writes nothing under dynamic
        # overwrite — drop it explicitly so the points actually disappear
        for seg in touched:
            if seg not in per_seg:
                shutil.rmtree(Path(self.root) / f"seg={seg}", ignore_errors=True)
        self.spark.catalog.refreshByPath(self.root)
        return int(n_before - n_after)

    # ----------------------------------------------------------- compaction
    def compact(self, min_files_per_segment: int | None = None) -> list[int]:
        """Rewrite each segment partition into one sorted file.

        The maintenance job the reference lacks (README.md:39 admits no
        Compact).  Streaming micro-batches leave one file per trigger per
        segment; compaction restores the one-sorted-file invariant that
        maximizes row-group skipping.  Writes to a staging directory and
        swaps it in — crash-safe, and a concurrent reader re-querying
        mid-compact sees a consistent snapshot (old or new, identical
        query results).  No-op on a store that has never been written.
        Returns the compacted segment ids.

        ``min_files_per_segment=N`` switches to SELECTIVE compaction: only
        segments currently holding >= N parquet files are rewritten, via
        per-segment atomic directory exchange; untouched segments keep
        their exact files.  This is the 100 TB mode — a size-tiered
        maintenance loop compacts the handful of hot fragmented segments
        per cycle instead of rewriting the whole store (full compact is
        O(store); the selective pass is O(fragmented segments), and
        partition pruning means only their files are even read).  Cross-
        segment the swap is not one atomic instant, but every segment is
        individually consistent at all times and content is identical
        either way.

        Concurrent WRITERS are safe too (round 6): the rewrite consumes
        exactly the files its plan listed (`inputFiles` — the file index
        is pinned at plan time), and after the atomic exchange the
        replaced old tree still holds anything a concurrent ``append``
        committed mid-compact; those salvage files are moved into the new
        tree before cleanup (same-filesystem renames — part-file names
        are UUID-unique, so no collision), instead of being silently
        discarded with the old root.
        """
        if not Path(self.root).exists():
            return []
        if min_files_per_segment is not None:
            return self._compact_selected(min_files_per_segment)
        staging_root = f"{self.root}__compact"
        shutil.rmtree(staging_root, ignore_errors=True)
        rel = (
            self.relation()
            .repartition(F.col("seg"))
            .sortWithinPartitions("series_key", "ts")
        )
        # membership by FILE NAME: part files carry a per-task UUID, and the
        # old tree is compared after it has been renamed aside, so absolute
        # paths would never match
        consumed = {Path(f).name for f in rel.inputFiles()}
        self._write_options(rel.write).partitionBy("seg").mode("overwrite").parquet(
            staging_root
        )
        old = swap_in(self.root, staging_root, keep_old=True)
        try:
            segs = []
            for p in Path(old).rglob("*.parquet"):
                if p.name not in consumed:
                    dest = Path(self.root) / p.relative_to(old)
                    dest.parent.mkdir(parents=True, exist_ok=True)
                    p.rename(dest)
                segs.append(int(p.parent.name.split("=", 1)[1]))
            return sorted(set(segs))
        finally:
            shutil.rmtree(old, ignore_errors=True)

    def _compact_selected(self, min_files: int) -> list[int]:
        """Selective per-segment compaction (see :meth:`compact`)."""
        if min_files < 1:
            raise ValueError(f"min_files_per_segment must be >= 1, got {min_files}")
        root = Path(self.root)
        picked = sorted(
            int(p.name.split("=", 1)[1])
            for p in root.glob("seg=*")
            if len(list(p.glob("*.parquet"))) >= min_files
        )
        if not picked:
            return []
        staging_root = f"{self.root}__compact"
        shutil.rmtree(staging_root, ignore_errors=True)
        rel = (
            self.relation()
            .filter(F.col("seg").isin([int(s) for s in picked]))
            .repartition(F.col("seg"))
            .sortWithinPartitions("series_key", "ts")
        )
        consumed = {Path(f).name for f in rel.inputFiles()}
        self._write_options(rel.write).partitionBy("seg").mode("overwrite").parquet(
            staging_root
        )
        for seg in picked:
            seg_dir = root / f"seg={seg}"
            new_dir = Path(staging_root) / f"seg={seg}"
            if _renameat2_exchange(str(seg_dir), str(new_dir)):
                displaced = new_dir
            else:
                # fallback two-rename: the displaced tree must live OUTSIDE
                # the store root — a `seg=N__old` dir inside it would parse
                # as a malformed partition value and poison discovery.  The
                # `<root>__old` sibling is already fsck's orphan pattern.
                aside = Path(f"{self.root}__old") / f"seg={seg}"
                shutil.rmtree(aside, ignore_errors=True)
                aside.parent.mkdir(parents=True, exist_ok=True)
                seg_dir.rename(aside)
                new_dir.rename(seg_dir)
                displaced = aside
            for p in displaced.glob("*.parquet"):
                if p.name not in consumed:  # salvage concurrent appends
                    p.rename(seg_dir / p.name)
            shutil.rmtree(displaced, ignore_errors=True)
        shutil.rmtree(staging_root, ignore_errors=True)
        shutil.rmtree(f"{self.root}__old", ignore_errors=True)
        return picked

    # ---------------------------------------------------------- integrity
    def _orphans(self) -> list[str]:
        """The crashed-swap leftovers beside the root (see :meth:`fsck`)."""
        return [f"{self.root}{suffix}" for suffix in ("__old", "__compact", "__rebuild")
                if Path(f"{self.root}{suffix}").exists()]

    def fsck(self) -> dict:
        """Store integrity check — the startup validation the reference does
        in ``loadFiles`` (tsdb.go:408-463: walk ``seg-*`` dirs, open each
        data file, parse each ``meta.json``, surface failures) re-expressed
        over the Parquet layout.  Pure footer-metadata work: every file's
        Parquet footer is opened (reads declare :attr:`schema` and never
        do) and its columns, row count and ``ts`` min/max statistics
        checked against the declaration and the segment's time bounds — no
        data pages are read, so cost is O(files), not O(rows).

        Returns ``{"segments": [{root, seg, files, rows, min_ts, max_ts,
        out_of_bounds}], "corrupt": [path], "schema_mismatch": [path],
        "orphans": [path], "ok": bool}``:

        - ``corrupt`` — files whose footer cannot be read (truncated/partial
          writes that escaped the atomic-rename discipline, e.g. a kill -9
          mid-copy of an external restore);
        - ``schema_mismatch`` — files whose footer columns or types differ
          from :attr:`schema` (less its ``seg`` directory column).  Reads
          use the declared schema and open no footer, so a dropped-in file
          missing ``series_key`` would otherwise read back as nulls
          without any error;
        - ``out_of_bounds`` — rows whose ts stats fall outside
          ``[seg*duration, (seg+1)*duration)`` (a mis-partitioned writer —
          impossible through :meth:`append`, catchable when files are
          dropped in by hand);
        - ``orphans`` — leftover ``__old`` / ``__compact`` / ``__rebuild``
          siblings (recovery garbage from a crashed swap; safe to delete,
          flagged so the cleanup is a decision, not a surprise).
        """
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        expected = {f.name: f.dataType for f in self.schema.fields if f.name != "seg"}
        report: dict = {"segments": [], "corrupt": [], "schema_mismatch": [],
                        "orphans": self._orphans()}
        for seg in self.segment_ids():
            segdir = Path(self.root) / f"seg={seg}"
            lo, hi = seg * self.segment_duration, (seg + 1) * self.segment_duration - 1
            rows, tmin, tmax, nfiles = 0, None, None, 0
            for f in sorted(segdir.glob("*.parquet")):
                try:
                    pf = pq.ParquetFile(str(f))
                    md = pf.metadata
                except Exception:
                    report["corrupt"].append(str(f))
                    continue
                try:
                    found = {c.name: as_nullable(from_arrow_type(c.type))
                             for c in pf.schema_arrow}
                except TypeError:  # a footer type Spark cannot read at all
                    found = None
                if found != expected:
                    report["schema_mismatch"].append(str(f))
                nfiles += 1
                rows += md.num_rows
                names = [md.schema.column(i).path for i in range(md.num_columns)]
                for g in range(md.num_row_groups if "ts" in names else 0):
                    st = md.row_group(g).column(names.index("ts")).statistics
                    if st is not None:
                        tmin = st.min if tmin is None else min(tmin, st.min)
                        tmax = st.max if tmax is None else max(tmax, st.max)
            report["segments"].append({
                "root": self.root, "seg": seg, "files": nfiles, "rows": rows,
                "min_ts": tmin, "max_ts": tmax,
                "out_of_bounds": tmin is not None and (tmin < lo or tmax > hi)})
        report["ok"] = not (report["corrupt"] or report["schema_mismatch"]
                            or report["orphans"]
                            or any(s["out_of_bounds"] for s in report["segments"]))
        return report

    def vacuum(self, dry_run: bool = True) -> dict:
        """Reclaim recovery garbage that :meth:`fsck` flags as ``orphans``
        — the ``__old`` / ``__compact`` / ``__rebuild`` sibling trees a
        crashed atomic swap leaves behind (plus selective-compact's
        displaced trees, which live OUTSIDE the root by design and are
        covered by their own cleanup).  Deliberately narrow: corrupt data
        files are REPORTED by fsck but never auto-deleted — garbage trees
        are provably reconstruction residue (the live root superseded them
        at swap time), while a corrupt file inside the root is potential
        data whose deletion must be a human decision.

        ``dry_run=True`` (default) only reports.  Returns ``{"removed":
        [paths], "freed_bytes": n, "dry_run": bool}``.
        """
        targets = self._orphans()
        freed = sum(f.stat().st_size for t in targets
                    for f in Path(t).rglob("*") if f.is_file())
        if not dry_run:
            for t in targets:
                shutil.rmtree(t)
        return {"removed": targets, "freed_bytes": freed, "dry_run": dry_run}


def _link_tree(src: Path, dst: Path) -> int:
    """Hardlink-recreate ``src``'s tree at ``dst``; returns file count."""
    import os

    n = 0
    for p in src.rglob("*"):
        rel = p.relative_to(src)
        out = dst / rel
        if p.is_dir():
            out.mkdir(parents=True, exist_ok=True)
        else:
            out.parent.mkdir(parents=True, exist_ok=True)
            os.link(p, out)
            n += 1
    return n


def snapshot(root: str, dest: str) -> int:
    """Instant store snapshot: recreate the directory tree at ``dest`` with
    HARDLINKS to the live data files — O(files) metadata work, zero bytes
    copied.  Sound because committed Parquet files are immutable here:
    every mutation path (append, compact, retention, relayout) creates or
    deletes whole files, never rewrites one in place, so a snapshot taken
    between jobs is crash-consistent and stays frozen while the live tree
    moves on.

    Validate with :meth:`SegmentStore.fsck`; restore with :func:`restore`.  The
    object-store analogue is a manifest copy.  Returns the linked file
    count.  Refuses an existing non-empty ``dest``."""
    src, dst = Path(root), Path(dest)
    if not src.exists():
        raise FileNotFoundError(f"no store at {root}")
    if dst.exists() and any(dst.iterdir()):
        raise FileExistsError(f"snapshot dest {dest} exists and is not empty")
    return _link_tree(src, dst)


def restore(snapshot_root: str, root: str) -> int:
    """Restore a store from a :func:`snapshot`, atomically: hardlink the
    snapshot's tree into a staging root (zero bytes copied — same
    immutability argument as snapshot), then :func:`swap_in` over the
    live root, so a reader never sees a half-restored tree and a crash
    leaves either the old store or the fully-restored one.  The replaced
    live tree is deleted by the swap; take a snapshot of it FIRST if the
    post-incident state matters forensically.

    Returns the restored file count."""
    if not Path(snapshot_root).exists():
        raise FileNotFoundError(f"no snapshot at {snapshot_root}")
    staging = f"{root}__restore"
    shutil.rmtree(staging, ignore_errors=True)
    n = snapshot(snapshot_root, staging)
    if Path(root).exists():
        swap_in(root, staging)
    else:
        Path(staging).rename(root)
    return n
