"""Multi-dimensional data layout: Z-order clustering for file skipping.

The segment store's files are sorted 1-D (``series_key, ts``) — ideal when
every query leads with the same column.  Event/fact tables don't have one
leading column: ``events`` queries filter by time, by user, or by both,
and a linear sort on ``ts`` makes per-file min/max stats useless for a
``user_id`` predicate (every file spans all users).  Z-ordering interleaves
the bits of several columns' quantile-bucket ranks into one clustering key,
so file-level min/max envelopes shrink in EVERY ordered dimension at once —
the same trade Delta's ``OPTIMIZE ZORDER BY`` and Iceberg's sort orders
make (Morton curve over rank space).  Nothing here is engine-specific
metadata: the clustering lives purely in row order, so plain Parquet
min/max footer stats (and Spark's row-group skipping) get the benefit.

Scale shape: bucket edges are ``approxQuantile`` (one pass, driver gets
O(dims x bins) numbers — the same bounded-metadata class as the IVF
codebook); the bucket rank is a sum of ``col >= edge`` booleans (pure
codegen, no UDF, no join); bit interleaving is shift/mask arithmetic; the
only exchange is the final ``repartitionByRange`` on the z-key, which a
rewrite job needs anyway to bound file sizes.  Everything downstream of
the edges is a narrow column expression.

Quantile-rank (not raw-value) bucketing makes the curve robust to skew:
a hot user or a burst hour still lands in ~1/bins of the key space.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension (16 buckets) — 2 dims -> 8-bit z-key space per pair
DEFAULT_BITS = 4


def quantile_edges(df: DataFrame, col: str, n_bins: int) -> list[float]:
    """Interior quantile cut points for ``col`` (``n_bins - 1`` edges) via
    one ``approxQuantile`` pass (Greenwald-Khanna sketch, 1% error)."""
    probs = [i / n_bins for i in range(1, n_bins)]
    return df.approxQuantile(col, probs, 0.01)


def bucket_rank(col: Column, edges: list[float]) -> Column:
    """Quantile-bucket rank in ``[0, len(edges)]`` as a sum of boolean
    comparisons — whole-stage-codegen arithmetic, no CASE chain, no UDF."""
    rank: Column = F.lit(0)
    for e in edges:
        rank = rank + (col >= F.lit(e)).cast("int")
    return rank


def zorder_key(ranked: list[Column], bits: int = DEFAULT_BITS) -> Column:
    """Morton interleave of per-dimension bucket ranks: bit ``b`` of
    dimension ``d`` lands at position ``b * ndims + d``.  Shift amounts
    are Python ints (Spark requires literal shift counts), so the whole
    key is a fixed tree of shift/mask/or — codegen-flat."""
    ndims = len(ranked)
    key: Column = F.lit(0).cast("long")
    for b in range(bits):
        for d, r in enumerate(ranked):
            bit = F.shiftright(r.cast("long"), b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * ndims + d))
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = DEFAULT_BITS,
    codec: str = "zstd",
) -> None:
    """Rewrite ``df`` as ``n_files`` Parquet files clustered on the Z-curve
    over ``cols`` — the layout-maintenance job (compose with
    :func:`segment_store.swap_in` to re-layout a live table in place).

    ``repartitionByRange`` on the z-key gives contiguous curve segments
    per file; the within-file sort tightens row-group stats too.  The
    z-key itself is dropped before writing — the clustering is row order,
    not a stored column.
    """
    n_bins = 1 << bits
    edges = {c: quantile_edges(df, c, n_bins) for c in cols}
    zk = zorder_key([bucket_rank(F.col(c), edges[c]) for c in cols], bits)
    (
        df.withColumn("__zkey", zk)
        .repartitionByRange(n_files, F.col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.option("compression", codec)
        .mode("overwrite")
        .parquet(path)
    )


def write_linear(df: DataFrame, path: str, col: str, n_files: int,
                 codec: str = "zstd") -> None:
    """The 1-D baseline: range-partitioned + sorted on a single column
    (what the store does with ts).  Exists so layout A/Bs are honest —
    same file count, same writer, only the ordering differs."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.option("compression", codec)
        .mode("overwrite")
        .parquet(path)
    )


def files_overlapping(path: str, box: dict[str, tuple]) -> tuple[int, int]:
    """(files that a min/max-pruning reader must open, total files) for a
    conjunctive range predicate ``{col: (lo, hi)}`` — computed from real
    Parquet footer statistics (pyarrow), i.e. exactly the information a
    scan's file/row-group skipping sees.  The layout-quality measurement
    used by the tests and SCALE.md.  A file with no row group (an empty
    micro-batch's append) holds no rows and counts in neither."""
    from pathlib import Path

    import pyarrow.parquet as pq

    footers = [pq.ParquetFile(str(p)).metadata
               for p in sorted(Path(path).glob("*.parquet"))]
    footers = [md for md in footers if md.num_row_groups]
    hit = 0
    for md in footers:
        schema_names = [md.row_group(0).column(i).path_in_schema
                        for i in range(md.row_group(0).num_columns)]
        overlaps = True
        for col, (lo, hi) in box.items():
            ci = schema_names.index(col)
            stats = [md.row_group(g).column(ci).statistics for g in range(md.num_row_groups)]
            if any(st is None for st in stats):
                continue  # no stats -> the reader must open the file
            fmin = min(st.min for st in stats)
            fmax = max(st.max for st in stats)
            if fmax < lo or fmin > hi:
                overlaps = False
                break
        if overlaps:
            hit += 1
    return hit, len(footers)


def relayout(spark, path: str, cols: list[str], n_files: int,
             bits: int = DEFAULT_BITS, codec: str = "zstd") -> None:
    """In-place layout maintenance: rewrite a live Parquet directory
    Z-ordered on ``cols`` through a staging root and the store's atomic
    exchange (:func:`segment_store.swap_in`) — a crash leaves one complete
    tree at each path, and a reader RE-READING the path afterwards sees a
    consistent snapshot (a DataFrame object created before the swap pins
    its file index and must be re-created — the same contract lakehouse
    OPTIMIZE documents).  The ``OPTIMIZE ZORDER BY`` job as plain Spark;
    run it per partition at scale."""
    import shutil

    from .segment_store import swap_in

    staging = f"{path}__relayout"
    shutil.rmtree(staging, ignore_errors=True)
    write_zordered(spark.read.parquet(path), staging, cols, n_files,
                   bits=bits, codec=codec)
    swap_in(path, staging)
    # drop this session's cached file listing for the path: the swap
    # replaced files behind Spark's FileStatusCache, and a pre-existing
    # DataFrame would otherwise chase deleted part files
    spark.catalog.refreshByPath(path)
