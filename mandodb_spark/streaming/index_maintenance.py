"""Streaming lifecycle loop for the persistent IVF vector index.

Composes the :class:`~mandodb_spark.sources.vector_index.VectorIndex`
primitives into the production maintenance job: every embedding
micro-batch is appended into its cell partitions (O(batch) — history is
never re-read), the measured drift (mean assignment cosine vs the
build-time baseline recorded in the index meta) is checked on a cadence,
and when the drop crosses the threshold the codebook is re-trained and
the cells rewritten through the index's staged-swap rebuild.  Optional
periodic compaction restores the one-file-per-cell invariant micro-batch
appends erode.

All decisions are driver-side reads of O(1)/O(cells) metadata — the
stream itself never blocks on more than the current batch plus, on a
rebuild trigger, one index rewrite (which a production deployment would
hand to a separate maintenance schedule; the inline form keeps the test
surface honest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.vector_index import VectorIndex
from .maintainer import Maintainer


class VectorIndexMaintainer(Maintainer):
    """foreachBatch sink: append → drift check → (rebuild) → (compact).

    ``max_drop``: rebuild trigger threshold on the mean-assignment-cosine
    drop (see ``VectorIndex.needs_rebuild``).  ``check_every``: drift is
    evaluated every N batches (the check is a column-pruned AVG over the
    index — cheap, but not free at every trigger).  ``compact_every``:
    optional compaction cadence in batches.  Each report counts the
    batch's ``rebuilds`` and ``compactions``.
    """

    skip_empty = True

    def __init__(
        self,
        index: VectorIndex,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_drop: float = 0.05,
        check_every: int = 1,
        compact_every: int | None = None,
        rebuild_cells: int | None = None,
        seed: int = 42,
    ) -> None:
        super().__init__()
        self.index = index
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_drop = max_drop
        self.check_every = max(1, check_every)
        self.compact_every = compact_every
        self.rebuild_cells = rebuild_cells
        self.seed = seed

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        counts = {}
        self.index.append(batch_df, self.id_col, self.vec_col)
        if self._every(self.check_every) and self.index.needs_rebuild(self.max_drop):
            # a rebuild's root swap drops any PQ codes sidecar by
            # construction (codes partitioning is tied to the old cells);
            # remember the geometry and re-train it over the new cells so
            # ADC serving never silently degrades to "no sidecar"
            pq_geom = None
            if self.index.has_pq():
                cb = self.index.pq_codebooks()
                pq_geom = (
                    cb.agg(F.max("sub"), F.max("code")).first(),
                )
            self.index.rebuild(n_cells=self.rebuild_cells, seed=self.seed)
            counts["rebuilds"] = 1
            if pq_geom is not None:
                mx = pq_geom[0]
                self.index.attach_pq(
                    m=int(mx[0]) + 1, ksub=int(mx[1]) + 1, seed=self.seed
                )
        if self._every(self.compact_every):
            self.index.compact()
            counts["compactions"] = 1
        return counts


class TextIndexMaintainer(Maintainer):
    """foreachBatch sink keeping a :class:`TextIndex` current against a
    document stream: append each micro-batch's postings (O(batch) — the
    corpus is never re-tokenized), optional compaction cadence to heal
    the small-file accumulation.  The inverted index has no drift notion
    (term hashing is stationary), so the lifecycle is append + compact —
    the BM25 stats stay exact because the index stores additive sums,
    not averages (text_index.py stats contract)."""

    skip_empty = True

    def __init__(self, index, id_col: str = "doc_id", text_col: str = "text",
                 compact_every: int | None = None) -> None:
        super().__init__()
        self.index = index
        self.id_col = id_col
        self.text_col = text_col
        self.compact_every = compact_every

    def _on_batch(self, batch_df: DataFrame, batch_id: int) -> dict[str, int]:
        self.index.append(batch_df, self.id_col, self.text_col)
        if not self._every(self.compact_every):
            return {}
        self.index.compact()
        return {"compactions": 1}
