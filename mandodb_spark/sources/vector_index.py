"""Persistent cell-partitioned IVF vector index: the storage half of the
ANN story.

`operators/similarity.py::ivf_topk` computes the cell assignment inline
and notes that at 100 TB it is "computed once at ingest and stored as a
partition/bucket column, so the probe IS partition pruning".  This module
is that claim as code: vectors land in ``cell=N`` Parquet partitions at
build/append time, the codebook persists next to them, and a probe reads
only the ``n_probe`` partitions whose centroids are nearest the query —
a PartitionFilters-level scan cut (pinned by
``test_plans.py::test_vector_index_probe_prunes_cell_partitions``), not a
post-scan filter.

Mirrors the :class:`SegmentStore` design (time partitions → cell
partitions, rollup maintenance → index maintenance):

- ``build`` — one full pass: assign (Arrow-batched matmul, shuffle-free)
  → repartition(cell) → one file per cell partition; the assignment
  quality (mean max-cosine, the IVF quantization error proxy) is recorded
  in a one-row ``meta`` table as the build-time baseline.
- ``append`` — incremental batch: assign ONLY the new rows against the
  frozen codebook, append into their cell partitions.  Works as-is under
  ``foreachBatch`` for streaming index maintenance; new files per
  partition accumulate like the store's micro-batch files (bounded by
  compaction if needed).
- ``topk`` — probe-cell selection is O(cells) driver-side numpy on the
  cached codebook (the codebook is small by design — same contract as
  ivf_assign's collect), then a pruned scan + exact cosine inside.
  Single-probe convenience; a BATCH of queries should go through
  ``operators.similarity.knn_join`` (cell-bucketed join), not a topk loop.
- ``drift`` / ``rebuild`` — index lifecycle (VERDICT r5 item 6): every
  stored row carries its assignment cosine (``csim``), so distribution
  drift is a column-pruned AVG against the recorded build-time mean; when
  the drop crosses the threshold, ``rebuild`` re-trains the codebook
  (k-means, the ``ivf_cells_kmeans`` path) over the CURRENT rows and
  rewrites the cells through a staging root + atomic-ish swap
  (:func:`segment_store.swap_in` — crash leaves the old index
  recoverable, a concurrent probe sees a consistent snapshot).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class VectorIndex:
    """Cell-partitioned persistent ANN index over ``(id, vec)`` rows."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = str(root)
        self._codebook_cache: list | None = None

    # ------------------------------------------------------------- paths
    @property
    def _data(self) -> str:
        return f"{self.root}/data"

    @property
    def _codebook(self) -> str:
        return f"{self.root}/codebook"

    @property
    def _meta(self) -> str:
        return f"{self.root}/meta"

    @property
    def _pq_data(self) -> str:
        return f"{self.root}/pq/data"

    @property
    def _pq_codebook(self) -> str:
        return f"{self.root}/pq/codebook"

    # ------------------------------------------------------------- build
    @staticmethod
    def _assign(df: DataFrame, id_col: str, vec_col: str, cb) -> DataFrame:
        """``(vec_id, vec, csim, cell)`` in ONE Arrow pass: same vectorized
        argmax-cosine as ``ivf_assign`` (identical rounding and tie rule),
        but the vector AND its assignment cosine ride along in the batch
        output, so there is no join-back shuffle — the partitioned write's
        repartition(cell) is the only exchange in build/append.  ``cb`` is
        the collected codebook rows (O(cells) by design).

        Zero-norm vectors are rejected loudly (ADVICE r5): cosine against
        them is NaN and argmax would silently dump every one into cell 0.
        """
        import numpy as np
        import pandas as pd

        if not cb:
            raise ValueError("empty codebook: build centroids before assigning")
        cells = np.array([r.cell for r in cb], dtype="int64")
        M = np.stack([np.asarray(r.cvec, dtype="float64") for r in cb])
        cnorm = np.sqrt((M * M).sum(axis=1))
        if np.any(cnorm == 0):
            raise ValueError("zero-norm centroid in codebook")

        def batches(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                vnorm = np.sqrt((V * V).sum(axis=1))
                if np.any(vnorm == 0):
                    bad = pdf[id_col].to_numpy()[vnorm == 0][:5]
                    raise ValueError(
                        f"zero-norm vector(s) (ids {list(bad)}…): cosine "
                        "assignment is undefined — drop or re-embed them"
                    )
                sims = np.round((V @ M.T) / np.outer(vnorm, cnorm), 6)
                best = np.argmax(sims, axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].to_numpy(),
                        "vec": pdf[vec_col],
                        "csim": sims[np.arange(len(best)), best],
                        "cell": cells[best],
                    }
                )

        vec_type = dict(df.dtypes)[vec_col]
        return df.select(id_col, vec_col).mapInPandas(
            batches, f"vec_id long, vec {vec_type}, csim double, cell long"
        )

    @staticmethod
    def _write_rows(rows: DataFrame, data_root: str, mode: str) -> None:
        (
            rows.repartition(F.col("cell"))
            .write.option("compression", "zstd")
            .partitionBy("cell").mode(mode).parquet(data_root)
        )

    def _write_meta(self, root: str, vec_dtype: str, n_cells: int,
                    build_mean_csim: float | None) -> None:
        self.spark.createDataFrame(
            [(vec_dtype, n_cells, build_mean_csim)],
            "vec_dtype string, n_cells long, build_mean_csim double",
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/meta")

    def _build_at(self, root: str, df: DataFrame, id_col: str, vec_col: str,
                  centroids: DataFrame) -> None:
        """Write a complete index (codebook + data + meta) under ``root``."""
        centroids.coalesce(1).write.mode("overwrite").parquet(f"{root}/codebook")
        cb = centroids.orderBy("cell").collect()
        vec_dtype = dict(df.dtypes)[vec_col]
        if df.isEmpty():
            # short-circuit (ADVICE r5): an empty build writes no data
            # files; relation() reconstructs the empty shape from meta
            self._write_meta(root, vec_dtype, len(cb), None)
            return
        self._write_rows(self._assign(df, id_col, vec_col, cb), f"{root}/data", "overwrite")
        mean = (
            self.spark.read.parquet(f"{root}/data").agg(F.avg("csim")).first()[0]
        )
        self._write_meta(root, vec_dtype, len(cb), mean)

    def build(self, df: DataFrame, id_col: str, vec_col: str,
              centroids: DataFrame) -> None:
        """Full (re)build: persist the codebook, assign every vector to its
        max-cosine cell, write ``cell=N`` partitions (one file per cell —
        the assign output is repartitioned on the partition column so each
        cell lands in one task), and record the build-time mean assignment
        cosine as the drift baseline."""
        self._build_at(self.root, df, id_col, vec_col, centroids)
        self._codebook_cache = None

    def append(self, df: DataFrame, id_col: str, vec_col: str) -> None:
        """Incremental maintenance: assign ONLY the new batch against the
        frozen codebook and append into the existing cell partitions.  The
        historical index is never re-read or re-shuffled — per-batch cost
        is O(batch), the Bloom-gate property applied to ANN.  Run inside
        ``foreachBatch`` for streaming index maintenance.  A PQ sidecar
        (see :meth:`attach_pq`) is maintained in the same pass: the batch
        is encoded against the frozen PQ codebooks and its codes appended
        into the sidecar's cell partitions."""
        cb = self.centroids().orderBy("cell").collect()
        assigned = self._assign(df, id_col, vec_col, cb)
        self._write_rows(assigned, self._data, "append")
        if self.has_pq():
            from ..operators.similarity import pq_encode

            enc = pq_encode(
                assigned, "vec_id", "vec", self.pq_codebooks(), keep_cols=("cell",)
            )
            self._write_pq_rows(enc, "append")

    # ------------------------------------------------------- PQ sidecar
    def has_pq(self) -> bool:
        return Path(self._pq_codebook).exists()

    def pq_codebooks(self) -> DataFrame:
        return self.spark.read.parquet(self._pq_codebook)

    def _write_pq_rows(self, enc: DataFrame, mode: str) -> None:
        (
            enc.select("vec_id", "codes", "pq_err", "cell")
            .repartition(F.col("cell"))
            .write.option("compression", "zstd")
            .partitionBy("cell").mode(mode).parquet(self._pq_data)
        )

    def attach_pq(self, m: int = 4, ksub: int = 16, seed: int = 42,
                  kmeans: bool = True, max_iter: int = 20) -> None:
        """Materialize a PQ codes SIDECAR: train per-subspace codebooks on
        the indexed vectors and write each row's m codes into a second
        cell-partitioned tree (``pq/data``).  This is the storage half of
        IVF-PQ — :meth:`topk_adc` probes cells by partition pruning and
        ranks by asymmetric distance over the codes column (2 bytes/sub
        instead of the float vector), touching the float tree only for an
        optional exact re-rank.  At 100 TB the ADC scan reads
        ``n_probe/n_cells × m·2B`` per row — the two-level compression
        that makes billion-vector search feasible.

        The sidecar is derived data, frozen against the PQ codebooks it
        was trained with: :meth:`rebuild` drops it (the root swap replaces
        the whole tree) — re-attach after a rebuild.  ``kmeans=False``
        uses the deterministic first-ksub-ids stub codebooks
        (oracle-checkable; the k-means path is the quality path).
        """
        from ..operators.similarity import pq_codebooks, pq_codebooks_kmeans, pq_encode

        rel = self.relation()
        first = rel.select("vec").first()
        if first is None:
            raise ValueError("attach_pq on an empty index: append rows first")
        dim = len(first[0])
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        cb = (
            pq_codebooks_kmeans(rel, "vec", dim, m, ksub, seed=seed, max_iter=max_iter)
            if kmeans
            else pq_codebooks(rel, "vec_id", "vec", dim, m, ksub)
        )
        import shutil

        shutil.rmtree(f"{self.root}/pq", ignore_errors=True)
        cb.coalesce(1).write.mode("overwrite").parquet(self._pq_codebook)
        enc = pq_encode(rel, "vec_id", "vec", self.pq_codebooks(), keep_cols=("cell",))
        self._write_pq_rows(enc, "overwrite")

    def topk_adc(self, query: DataFrame, n_probe: int, k: int,
                 rerank: int = 0) -> DataFrame:
        """IVF-PQ top-k against the persisted sidecar: probe cells
        driver-side (partition pruning), rank by ADC over the CODES tree
        (the float vectors are never read), and optionally re-rank the
        ``rerank`` best candidates by exact cosine against the float tree
        (pruned to the same cells) — the standard recall-restoration step.
        Returns (vec_id, adc_d2) ascending, or (vec_id, cos_sim) rank-k
        when ``rerank`` > 0."""
        from ..operators.similarity import cosine_topk, pq_adc_scores

        if not self.has_pq():
            raise ValueError("no PQ sidecar: attach_pq() first")
        qvec = list(query.select("qe").first()[0])
        cells = self.probe_cells(qvec, n_probe)
        codes = self.spark.read.parquet(self._pq_data).where(F.col("cell").isin(cells))
        scored = pq_adc_scores(codes, "vec_id", qvec, self.pq_codebooks())
        top = scored.orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc()).limit(
            max(k, rerank)
        )
        if not rerank:
            return top.limit(k)
        cand = (
            self.relation()
            .where(F.col("cell").isin(cells))
            .join(top.select("vec_id"), "vec_id", "left_semi")
        )
        return cosine_topk(cand, "vec_id", "vec", query, k)

    def compact(self) -> None:
        """Rewrite each cell partition into one file, restoring the
        one-file-per-cell invariant streaming appends erode (one file per
        trigger per cell otherwise).  Same staging-then-rename-aside swap
        as :func:`segment_store.swap_in` — crash at any point leaves the
        full old index recoverable, and a reader re-probing mid-compact
        sees a consistent snapshot.  No-op on an empty index."""
        import shutil

        from .segment_store import swap_in

        if not Path(self._data).exists():
            return
        staging = f"{self._data}__compact"
        shutil.rmtree(staging, ignore_errors=True)
        (
            self.relation()
            .repartition(F.col("cell"))
            .sortWithinPartitions("vec_id")
            .write.option("compression", "zstd")
            .partitionBy("cell").mode("overwrite").parquet(staging)
        )
        swap_in(self._data, staging)
        if Path(self._pq_data).exists():  # the codes sidecar erodes the same way
            pq_staging = f"{self._pq_data}__compact"
            shutil.rmtree(pq_staging, ignore_errors=True)
            (
                self.spark.read.parquet(self._pq_data)
                .repartition(F.col("cell"))
                .sortWithinPartitions("vec_id")
                .write.option("compression", "zstd")
                .partitionBy("cell").mode("overwrite").parquet(pq_staging)
            )
            swap_in(self._pq_data, pq_staging)

    # --------------------------------------------------------- lifecycle
    def drift(self) -> dict:
        """Measured codebook drift: the index-wide mean assignment cosine
        (column-pruned AVG over the stored ``csim``) vs the build-time
        baseline.  A distribution shift in appended vectors shows up as a
        drop — vectors land far from every frozen centroid."""
        meta = self.spark.read.parquet(self._meta).first()
        cur = self.relation().agg(F.avg("csim")).first()[0]
        base = meta.build_mean_csim
        drop = None if (base is None or cur is None) else float(base - cur)
        return {
            "build_mean_csim": base,
            "current_mean_csim": cur,
            "drop": drop,
        }

    def needs_rebuild(self, max_drop: float = 0.05) -> bool:
        """Drift trigger: re-cluster when the mean assignment cosine has
        dropped more than ``max_drop`` below the build-time baseline."""
        d = self.drift()["drop"]
        return d is not None and d > max_drop

    def rebuild(self, n_cells: int | None = None, seed: int = 42,
                max_iter: int = 20) -> None:
        """Re-train the codebook on the CURRENT rows (k-means — the
        ``ivf_cells_kmeans`` recall path) and rewrite every cell under a
        staging root, then swap it in atomically-ish (codebook, data, and
        meta move together, so a crash or a concurrent probe never sees a
        new codebook over old cells or vice versa).  Resets the drift
        baseline to the post-rebuild assignment quality."""
        import shutil

        from ..operators.similarity import ivf_cells_kmeans

        from .segment_store import swap_in

        meta = self.spark.read.parquet(self._meta).first()
        n_cells = n_cells or meta.n_cells
        rel = self.relation().select("vec_id", "vec")
        cents = ivf_cells_kmeans(rel, "vec", n_cells, seed=seed, max_iter=max_iter)
        staging = f"{self.root}__rebuild"
        shutil.rmtree(staging, ignore_errors=True)
        self._build_at(staging, rel, "vec_id", "vec", cents)
        swap_in(self.root, staging)
        self._codebook_cache = None

    def knn_join_adc(self, queries: DataFrame, qid_col: str, qvec_col: str,
                     k: int = 10, n_probe: int = 4) -> DataFrame:
        """Batch ANN over the PQ codes sidecar: top-k by asymmetric
        distance for EVERY query row, floats never read — the
        serving-fleet form of :meth:`topk_adc`.

        Plan: per-query probe cells via the broadcast codebook (same
        stage as :meth:`knn_join`), codes scan statically pruned to the
        probed-cell union, equi-join codes⨝probe on cell, attach each
        query's vector by a broadcast join, then ONE ``applyInPandas``
        group per query builds its (m × ksub) lookup table once and
        ranks its candidates in-memory (candidates per query are
        n_probe/n_cells of the corpus — the bounded-group contract; no
        window, no per-pair Python).  Output (qid, vec_id, adc_d2, rank),
        same micro-unit arithmetic as :func:`pq_adc_scores`.
        """
        import numpy as np
        import pandas as pd

        from ..operators.similarity import (
            _pq_codebook_matrix,
            _micros_to_4dp,
            _query_norms,
            probe_cells_df,
        )

        if not self.has_pq():
            raise ValueError("no PQ sidecar: attach_pq() first")
        M = _pq_codebook_matrix(self.pq_codebooks())
        m, _, dsub = M.shape
        qn = _query_norms(queries, qid_col, qvec_col)
        probe = probe_cells_df(qn, qid_col, self.centroids(), n_probe)
        cells = [r.cell for r in probe.select("cell").distinct().collect()]
        codes = self.spark.read.parquet(self._pq_data).where(
            F.col("cell").isin(cells)
        )
        cand = (
            codes.select("vec_id", "codes", "cell")
            .join(probe, "cell")
            .join(F.broadcast(qn.select(qid_col, "__q")), qid_col)
        )
        sub_idx = np.arange(m)

        def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
            q = np.asarray(pdf["__q"].iloc[0], dtype="float64").reshape(m, 1, dsub)
            Tu = np.rint(((q - M) ** 2).sum(-1) * 1e6).astype("int64")
            cmat = np.stack(pdf["codes"].to_numpy())
            d = _micros_to_4dp(Tu[sub_idx, cmat].sum(1))
            out = pd.DataFrame(
                {"qid": pdf[qid_col].iloc[0], "vec_id": pdf["vec_id"], "adc_d2": d}
            ).sort_values(["adc_d2", "vec_id"]).head(k)
            out["rank"] = range(1, len(out) + 1)
            return out

        return (
            cand.groupBy(qid_col)
            .applyInPandas(rank_group, "qid long, vec_id long, adc_d2 double, rank long")
            .withColumnRenamed("qid", qid_col)
        )

    def fsck(self) -> dict:
        """Index integrity audit (the ANN analogue of
        :meth:`SegmentStore.fsck`): footer-readability of every cell
        file (O(files) metadata), leftover swap/staging dirs, and — when a
        PQ sidecar is attached — id-set consistency between the float tree
        and the codes tree (an interrupted ``append`` that committed one
        tree but not the other shows up here; the fix is re-encoding via
        :meth:`attach_pq`).  Returns ``{"files": n, "corrupt": [path],
        "orphans": [path], "pq_missing": n, "pq_extra": n, "ok": bool}``.
        """
        import pyarrow.parquet as _pq

        report: dict = {"files": 0, "corrupt": [], "orphans": [],
                        "pq_missing": 0, "pq_extra": 0, "ok": True}
        for suffix in ("__rebuild", "__compact"):
            for probe in (f"{self.root}{suffix}", f"{self._data}{suffix}",
                          f"{self._pq_data}{suffix}"):
                if Path(probe).exists():
                    report["orphans"].append(probe)
        for tree in (self._data, self._pq_data):
            if not Path(tree).exists():
                continue
            for f in sorted(Path(tree).rglob("*.parquet")):
                report["files"] += 1
                try:
                    _pq.ParquetFile(str(f)).metadata
                except Exception:
                    report["corrupt"].append(str(f))
        # the consistency join reads both trees — meaningless (and fatal)
        # over a file whose footer just failed, so it only runs clean
        if not report["corrupt"] and self.has_pq() and Path(self._pq_data).exists():
            ids = self.relation().select("vec_id")
            codes = self.spark.read.parquet(self._pq_data).select("vec_id")
            report["pq_missing"] = ids.join(codes, "vec_id", "left_anti").count()
            report["pq_extra"] = codes.join(ids, "vec_id", "left_anti").count()
        report["ok"] = not (
            report["corrupt"] or report["orphans"]
            or report["pq_missing"] or report["pq_extra"]
        )
        return report

    # ------------------------------------------------------------- read
    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._codebook)

    def relation(self) -> DataFrame:
        """The indexed rows with their partition-derived cell column.
        An index built empty (streaming bootstrap) has no data files yet —
        reconstruct the empty relation from the recorded meta schema."""
        if Path(self._data).exists():
            try:
                return self.spark.read.parquet(self._data)
            except Exception:
                pass
        meta = self.spark.read.parquet(self._meta).first()
        return self.spark.createDataFrame(
            [], f"vec_id long, vec {meta.vec_dtype}, csim double, cell long"
        )

    def exists(self) -> bool:
        return Path(self._codebook).exists()

    def probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        """The ``n_probe`` cells nearest the query — O(cells) numpy on the
        (cached) codebook, ties broken toward the lower cell id exactly
        like ``ivf_topk``'s ORDER BY csim DESC, cell."""
        import numpy as np

        if self._codebook_cache is None:
            self._codebook_cache = self.centroids().orderBy("cell").collect()
        cb = self._codebook_cache
        cells = np.array([r.cell for r in cb], dtype="int64")
        M = np.stack([np.asarray(r.cvec, dtype="float64") for r in cb])
        q = np.asarray(query_vec, dtype="float64")
        sims = np.round(
            (M @ q) / (np.sqrt((M * M).sum(axis=1)) * np.sqrt((q * q).sum())), 6
        )
        order = np.lexsort((cells, -sims))  # csim desc, cell asc
        return [int(c) for c in cells[order[:n_probe]]]

    def topk(self, query: DataFrame, n_probe: int, k: int) -> DataFrame:
        """Approximate top-k against the persisted index: select probe
        cells driver-side, scan ONLY those partitions (``cell IN (...)``
        is a partition filter — the pruned scan is the point of the
        index), exact cosine inside.  ``query``: 1-row DataFrame with
        column ``qe``.  For a BATCH of queries use
        ``operators.similarity.knn_join`` over ``relation()`` instead of
        looping this method."""
        from ..operators.similarity import cosine_topk

        qvec = query.select("qe").first()[0]
        cells = self.probe_cells(list(qvec), n_probe)
        cand = self.relation().where(F.col("cell").isin(cells))
        return cosine_topk(cand, "vec_id", "vec", query, k)

    def knn_join(self, queries: DataFrame, qid_col: str, qvec_col: str,
                 k: int = 10, n_probe: int = 4) -> DataFrame:
        """Batch ANN against the persisted index: top-k stored neighbors
        for EVERY query row — ``operators.similarity.knn_join`` minus its
        corpus-assignment stage, because the cells are already a stored
        partition column here.

        Plan: per-query probe cells via the broadcast codebook (same
        window-rank stage the inline form uses), the data scan statically
        pruned to the UNION of probed cells (a PartitionFilters cut —
        the distinct-cell collect is O(cells), the codebook contract),
        then candidate equi-join on cell + exact cosine + per-query
        row_number.  Output: (qid, vec_id, cos_sim, rank)."""
        from ..operators.similarity import (
            _exact_topk_on_candidates,
            _query_norms,
            norm,
            probe_cells_df,
        )

        qn = _query_norms(queries, qid_col, qvec_col)
        probe = probe_cells_df(qn, qid_col, self.centroids(), n_probe)
        cells = [r.cell for r in probe.select("cell").distinct().collect()]
        cand = (
            self.relation()
            .where(F.col("cell").isin(cells))
            .select(
                "vec_id",
                F.col("vec").alias("__v"),
                norm(F.col("vec")).alias("__vn"),
                "cell",
            )
        )
        return _exact_topk_on_candidates(cand, probe, qn, qid_col, "vec_id", k)
