"""Cross-batch streaming near-duplicate gate: MinHash-LSH dedup state.

The streaming complement to the batch near-dup pipeline
(``operators/dedup.py``): the batch form (`minhash_lsh_pairs` →
`connected_components`) answers "which existing docs duplicate each
other"; a CRAWL needs the other direction — "is this incoming document a
near-copy of ANYTHING seen so far", answered per micro-batch without
ever re-reading (or re-shuffling) the history.  The same incremental
discipline as the Bloom gate (`operators/membership.py` — exact dedup)
and the vector/text indexes: state is a small persisted parquet table,
probes prune to touched partitions, appends are O(batch).

Decision rule (deterministic, cross-engine): a document is a duplicate
of an earlier one iff they COLLIDE on at least one LSH band AND their
minhash signatures agree on >= ceil(threshold * n_hashes) of the
n_hashes components (the unbiased Jaccard estimator over the signature,
thresholded).  "Earlier" is (batch order, then id within a batch) —
and the state keeps EVERY arriving document's signature (kept or
dropped), so the rule composes: gating a stream batch-by-batch yields
exactly the one-shot batch answer over the ordered corpus
(:func:`neardup_keep_ids`, the equivalence oracle).

State layout: ``bseq=<batch>/kb=pmod(xxhash64(band, bh), n_buckets)``
partitions of ``(band, bh, doc_id, h0..h{n-1})`` rows.  A probe touches
only the batch's own ``kb`` values — a partition-pruned scan (the
VectorIndex probe guarantee applied to LSH buckets); at 100 TB the
state is the corpus's band table, sharded by hash, and a batch reads
only its collision shards.  ``bseq`` is the at-least-once armor: each
streaming batch's signatures land in their own ``bseq=<batch_id>``
partition via DYNAMIC overwrite, so a foreachBatch retry (a) replaces
rather than duplicates its state append and (b) can exclude its own
ghost partition from the probe — without it, a crash between the state
append and the sink write would make every retried doc self-match and
silently vanish from the sink.  Ad-hoc (non-streaming) calls and
compaction fold into the ``bseq=-1`` history partition.

Reference: the engine-side batch dedup derives from the same public
MinHash/LSH construction (Broder '97); the reference TSDB has no
document pipeline — this module is north-star surface.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    N_BANDS,
    N_HASHES,
    SHINGLE_LEN,
    SHINGLE_STRIDE,
    _band_array,
    minhash_signatures,
)
from ..session import checkpoint, release
from .maintainer import Maintainer


def _shingle_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Raw positional shingle rows (multiset — min() doesn't care), the
    same front end as minhash_lsh_pairs."""
    lowered = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lt"))
    positions = F.sequence(
        F.lit(1),
        F.greatest(F.length("__lt") - F.lit(SHINGLE_LEN - 1), F.lit(1)),
        F.lit(SHINGLE_STRIDE),
    )
    return lowered.select(
        F.col(id_col), F.explode(positions).alias("__p"), F.col("__lt")
    ).select(F.col(id_col), F.expr(f"substring(__lt, __p, {SHINGLE_LEN})").alias("sh"))


def _min_agree(threshold: float, n_hashes: int) -> int:
    import math

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    return max(1, math.ceil(threshold * n_hashes))


def signature_bands(df: DataFrame, id_col: str, text_col: str,
                    n_hashes: int = N_HASHES,
                    n_bands: int = N_BANDS) -> DataFrame:
    """Per-document band rows carrying the full signature:
    ``(id, band, bh, h0..h{n-1})`` — the unit the gate stores and probes."""
    sigs = minhash_signatures(_shingle_rows(df, id_col, text_col), id_col, n_hashes)
    return sigs.select(
        F.col(id_col),
        *[F.col(f"h{i}") for i in range(n_hashes)],
        F.explode(_band_array(n_hashes, n_bands)).alias("__e"),
    ).select(
        F.col(id_col), F.col("__e.band").alias("band"), F.col("__e.bh").alias("bh"),
        *[F.col(f"h{i}") for i in range(n_hashes)],
    )


def neardup_keep_ids(df: DataFrame, id_col: str, text_col: str,
                     threshold: float = 0.8,
                     n_hashes: int = N_HASHES,
                     n_bands: int = N_BANDS) -> DataFrame:
    """One-shot batch dual of the streaming gate: the ids KEPT when the
    corpus arrives in ``id_col`` order — a doc is dropped iff some
    smaller-id doc band-collides with it and their signatures agree on
    >= ceil(threshold*n_hashes) components.  ``NearDupGate`` over any
    batch split of the same ordered corpus returns exactly this set
    (pinned by test + DuckDB mirror)."""
    m = _min_agree(threshold, n_hashes)
    bands = signature_bands(df, id_col, text_col, n_hashes, n_bands)
    a = bands.select(
        F.col(id_col).alias("__ia"), "band", "bh",
        *[F.col(f"h{i}").alias(f"__a_h{i}") for i in range(n_hashes)],
    )
    b = bands.select(
        F.col(id_col).alias("__ib"), "band", "bh",
        *[F.col(f"h{i}").alias(f"__b_h{i}") for i in range(n_hashes)],
    )
    agree = None
    for i in range(n_hashes):
        t = F.when(F.col(f"__a_h{i}") == F.col(f"__b_h{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    dropped = (
        a.join(b, ["band", "bh"])
        .filter(F.col("__ia") < F.col("__ib"))
        .filter(agree >= m)
        .select(F.col("__ib").alias(id_col))
        .distinct()
    )
    return df.select(id_col).join(dropped, id_col, "left_anti")


def neardup_keep_ids_sql(table: str, id_col: str, text_col: str,
                         threshold: float = 0.8,
                         n_hashes: int = N_HASHES,
                         n_bands: int = N_BANDS) -> str:
    """DuckDB mirror of :func:`neardup_keep_ids` — rebuilds the identical
    md5-derived minhash signatures, band hashes, and agreement rule, so
    the gate's decision is cross-engine-pinned."""
    rpb = n_hashes // n_bands
    m = _min_agree(threshold, n_hashes)
    mins = ", ".join(
        f"min(CAST(concat('0x', substr(md5('{i // 4}:' || sh), {8 * (i % 4) + 1}, 8)) AS BIGINT)) AS h{i}"
        for i in range(n_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT {id}, {b} AS band, md5({c}) AS bh, {hs} FROM sig".format(
            id=id_col, b=b,
            c=" || '|' || ".join(
                f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb)),
            hs=", ".join(f"h{i}" for i in range(n_hashes)),
        )
        for b in range(n_bands)
    )
    agree = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(n_hashes)
    )
    return f"""
WITH sh AS (
    SELECT DISTINCT {id_col},
           substr(lower({text_col}), CAST(p.range AS INTEGER), {SHINGLE_LEN}) AS sh
    FROM {table},
         unnest(range(1, greatest(length({text_col}) - {SHINGLE_LEN - 1}, 1) + 1, {SHINGLE_STRIDE})) AS p(range)
), sig AS (SELECT {id_col}, {mins} FROM sh GROUP BY {id_col}),
bands AS ({band_selects}),
dropped AS (
    SELECT DISTINCT b.{id_col}
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}
    WHERE {agree} >= {m}
)
SELECT {id_col} FROM {table}
WHERE {id_col} NOT IN (SELECT {id_col} FROM dropped)
"""


class NearDupGate:
    """Persistent cross-batch near-dup filter (see module docstring).

    ``filter_batch(df, id_col, text_col)`` returns the kept rows of
    ``df`` and appends the WHOLE batch's signatures to the state (kept
    and dropped alike — that is what makes sequential gating equal the
    one-shot rule).  Counters ``seen_docs`` / ``dropped_docs`` are
    observable by tests and monitoring.

    State-layout migration: roots written by pre-batch-id gate versions
    (partitioned by ``kb`` only) are detected on first read and
    auto-rewritten into the current ``bseq=/kb=`` layout — all legacy
    signatures become ``bseq=-1`` history, the same partition
    ``compact()`` folds finished batches into.  The rewrite is a staging
    write + atomic swap, so an interrupted upgrade retries cleanly.
    """

    def __init__(self, spark: SparkSession, root: str,
                 threshold: float = 0.8,
                 n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
                 n_buckets: int = 16) -> None:
        self.spark = spark
        self.root = root
        self.threshold = threshold
        self.n_hashes = n_hashes
        self.n_bands = n_bands
        self.n_buckets = n_buckets
        self.min_agree = _min_agree(threshold, n_hashes)
        self.seen_docs = 0
        self.dropped_docs = 0
        self._held: list[int] = []  # prior batch's checkpoint RDD ids

    def _state(self) -> DataFrame | None:
        p = Path(self.root)
        if not p.exists() or not any(p.rglob("*.parquet")):
            return None
        if any(p.glob("kb=*")):
            # Pre-bseq (kb-only) state root from a gate version without
            # batch-id idempotency.  Left alone it would (a) crash
            # filter_batch's bseq ghost-partition filter with an
            # AnalysisException and (b) mix partition depths after the
            # first new-layout write, breaking partition discovery.
            # Auto-migrate: the legacy rows ARE the history, so fold them
            # into the bseq=-1 partition exactly as compact() does.
            self._migrate_legacy()
        return self.spark.read.parquet(self.root)

    def _migrate_legacy(self) -> None:
        """Rewrite a legacy kb-only state root into the current
        ``bseq=<batch>/kb=<bucket>`` layout (everything lands in the
        ``bseq=-1`` history partition, the same place ``compact()`` folds
        finished batches) via staging + atomic swap — a crash mid-migration
        leaves the legacy root intact and the next call retries."""
        from ..sources.segment_store import swap_in

        legacy = self.spark.read.parquet(self.root)
        if "bseq" in legacy.columns:  # defensive: already migrated
            return
        staging = f"{self.root}__compact"
        (
            legacy.withColumn("bseq", F.lit(-1))
            .repartition("kb").write.mode("overwrite")
            .partitionBy("bseq", "kb").parquet(staging)
        )
        swap_in(self.root, staging)

    def filter_batch(self, df: DataFrame, id_col: str, text_col: str,
                     batch_id: int | None = None) -> DataFrame:
        """Gate one (micro-)batch; returns kept rows of ``df``.

        ``batch_id`` (the foreachBatch epoch, >= 0) makes the call
        IDEMPOTENT under at-least-once retries: the state append lands
        in the ``bseq=batch_id`` partition via dynamic overwrite (a
        retry replaces, never duplicates), and the probe skips that
        partition so a retried batch never matches its own ghost
        signatures from a failed earlier attempt.  Without it (ad-hoc
        batch use) signatures append to the ``bseq=-1`` history
        partition and a re-sent call is a new arrival, as before.
        """
        if batch_id is not None and int(batch_id) < 0:
            raise ValueError(f"batch_id must be >= 0, got {batch_id}")
        bseq = -1 if batch_id is None else int(batch_id)
        # the PREVIOUS batch's kept-rows anti-join has been consumed by
        # now — release its checkpoint blocks before creating this one's
        release(self.spark, self._held)
        self._held = []
        n = self.n_hashes
        bands = signature_bands(df, id_col, text_col, n, self.n_bands).withColumn(
            "kb", F.pmod(F.xxhash64("band", "bh"), F.lit(self.n_buckets))
        ).withColumn("bseq", F.lit(bseq))
        # the band table is batch-sized but referenced three times
        # (in-batch join both sides + state probe + state append) —
        # checkpoint so the shingle→signature pipeline runs ONCE
        bands, bands_ids = checkpoint(bands)

        # in-batch: dropped iff a SMALLER id in this batch matches
        a = bands.select(
            F.col(id_col).alias("__ia"), "band", "bh",
            *[F.col(f"h{i}").alias(f"__a_h{i}") for i in range(n)],
        )
        b = bands.select(
            F.col(id_col).alias("__ib"), "band", "bh",
            *[F.col(f"h{i}").alias(f"__b_h{i}") for i in range(n)],
        )
        agree = None
        for i in range(n):
            t = F.when(F.col(f"__a_h{i}") == F.col(f"__b_h{i}"), 1).otherwise(0)
            agree = t if agree is None else agree + t
        dropped_in = (
            a.join(b, ["band", "bh"]).filter(F.col("__ia") < F.col("__ib"))
            .filter(agree >= self.min_agree)
            .select(F.col("__ib").alias(id_col))
        )

        # cross-batch: dropped iff ANY seen doc matches; the state scan is
        # pruned to the batch's own kb partitions
        state = self._state()
        if state is not None:
            if batch_id is not None:
                # a failed earlier attempt of THIS batch may have landed
                # its append — ghost partition pruned, not matched
                state = state.filter(F.col("bseq") != bseq)
            touched = [r["kb"] for r in bands.select("kb").distinct().collect()]
            s = state.filter(F.col("kb").isin(touched)).select(
                "band", "bh",
                *[F.col(f"h{i}").alias(f"__a_h{i}") for i in range(n)],
            )
            probe = bands.select(
                F.col(id_col).alias("__ib"), "band", "bh",
                *[F.col(f"h{i}").alias(f"__b_h{i}") for i in range(n)],
            )
            agree2 = None
            for i in range(n):
                t = F.when(F.col(f"__a_h{i}") == F.col(f"__b_h{i}"), 1).otherwise(0)
                agree2 = t if agree2 is None else agree2 + t
            dropped_cross = (
                probe.join(s, ["band", "bh"]).filter(agree2 >= self.min_agree)
                .select(F.col("__ib").alias(id_col))
            )
            dropped_in = dropped_in.unionByName(dropped_cross)

        dropped_ids, dropped_ck = checkpoint(dropped_in.distinct())
        kept = df.join(F.broadcast(dropped_ids), id_col, "left_anti")

        # append the whole batch's band rows (kept AND dropped); a
        # batch_id-keyed write is a dynamic overwrite of its own bseq
        # partitions — the retry-idempotency half of the contract
        writer = bands.write.partitionBy("bseq", "kb")
        if batch_id is not None:
            writer = writer.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic")
        else:
            writer = writer.mode("append")
        writer.parquet(self.root)
        n_batch = bands.select(id_col).distinct().count()
        n_dropped = dropped_ids.count()
        self.seen_docs += n_batch
        self.dropped_docs += n_dropped
        # bands has no live consumers anymore; dropped_ids feeds the
        # returned `kept` plan — hold it until the next batch
        release(self.spark, bands_ids)
        self._held = dropped_ck
        return kept

    def compact(self) -> None:
        """Fold per-append small files into one file per kb partition,
        collapsing all ``bseq`` batch partitions into the ``bseq=-1``
        history (staging rewrite + atomic swap — the store discipline).
        A batch compacted into history can no longer be retry-excluded,
        but compaction runs AFTER the sink write in ``process_batch``,
        so the only retry that can still observe it (commit-failure
        replay) re-drops rows the sink already holds — no loss."""
        from ..sources.segment_store import swap_in

        state = self._state()
        if state is None:
            return
        staging = f"{self.root}__compact"
        (
            state.drop("bseq").withColumn("bseq", F.lit(-1))
            .repartition("kb").write.mode("overwrite")
            .partitionBy("bseq", "kb").parquet(staging)
        )
        swap_in(self.root, staging)

    def fsck(self) -> dict:
        """State integrity check, mirroring ``SegmentStore.fsck``'s
        footer-only discipline: every data file must sit under a
        well-formed ``bseq=<int>/kb=<int in [0, n_buckets)>`` partition
        pair, parse as parquet (footer read), and carry the expected
        ``(band, bh, doc_id-like, h0..h{n-1})`` columns.  Returns
        ``{"files": n, "corrupt": [...], "orphan": [...],
        "bad_schema": [...], "ok": bool}`` without loading row data —
        O(files) footer reads, no scan."""
        import re as _re

        import pyarrow.parquet as pq

        root = Path(self.root)
        corrupt: list[str] = []
        orphan: list[str] = []
        bad_schema: list[str] = []
        n_files = 0
        want_h = {f"h{i}" for i in range(self.n_hashes)}
        if not root.exists():
            return {"files": 0, "corrupt": [], "orphan": [],
                    "bad_schema": [], "ok": True}
        for f in sorted(root.rglob("*")):
            # _SUCCESS markers / .crc sidecars / _temporary leftovers are
            # invisible to readers (Hadoop hidden-file convention)
            if (not f.is_file() or f.name.endswith(".crc")
                    or f.name.startswith(("_", "."))):
                continue
            rel = f.relative_to(root)
            n_files += 1
            m = _re.fullmatch(
                r"bseq=(-?\d+)/kb=(\d+)/[^/]+\.parquet", str(rel))
            if not m or not (0 <= int(m.group(2)) < self.n_buckets):
                orphan.append(str(rel))
                continue
            try:
                schema = pq.read_schema(f)
            except Exception:
                corrupt.append(str(rel))
                continue
            cols = set(schema.names)
            if not ({"band", "bh"} <= cols and want_h <= cols):
                bad_schema.append(str(rel))
        return {
            "files": n_files, "corrupt": corrupt, "orphan": orphan,
            "bad_schema": bad_schema,
            "ok": not (corrupt or orphan or bad_schema),
        }


class NearDupGateMaintainer(Maintainer):
    """foreachBatch sink: gate each micro-batch through a
    :class:`NearDupGate` and write survivors to ``sink_path`` — the
    streaming crawl-dedup loop.  Each batch's survivors land in their own
    ``bseq=<batch_id>`` partition by dynamic overwrite, like the gate's
    state, so a redelivered batch replaces its rows instead of adding a
    second copy.  ``compact_every`` heals the state's per-append file
    accumulation; each report counts the batch's ``compactions``."""

    skip_empty = True

    def __init__(self, gate: NearDupGate, sink_path: str,
                 id_col: str = "doc_id", text_col: str = "text",
                 compact_every: int | None = None) -> None:
        super().__init__()
        self.gate = gate
        self.sink_path = sink_path
        self.id_col = id_col
        self.text_col = text_col
        self.compact_every = compact_every

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        kept = self.gate.filter_batch(
            batch_df, self.id_col, self.text_col, batch_id=batch_id)
        (kept.withColumn("bseq", F.lit(int(batch_id))).write.partitionBy("bseq")
         .mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .parquet(self.sink_path))
        if not self._every(self.compact_every):
            return {}
        self.gate.compact()
        return {"compactions": 1}
