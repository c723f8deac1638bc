"""Persistent bucket-partitioned inverted text index: the storage half of
the keyword-retrieval story.

``operators/text.py::bm25_topk`` retrieves by exploding the corpus into
tokens on every query — O(corpus tokens) scanned per search, which the
docstring accepts for corpus audits but is the wrong cost for repeated
retrieval.  This module materializes the classic inverted layout instead,
following the :class:`VectorIndex` design point-for-point (cells →
term-hash buckets, probe → bucket pruning):

- ``postings`` — ``(term, id, tf)`` partitioned by ``tb =
  pmod(xxhash64(term), n_buckets)``: a query for ``|Q|`` terms reads at
  most ``|Q|`` bucket partitions (PartitionFilters-level scan cut, pinned
  by a plan test), then filters to the exact terms inside those buckets.
- ``doclen`` — ``(id, dl)``: per-document token counts for the BM25
  length norm.
- ``stats`` — one row ``(n_docs, n_dl, sum_dl)``: stored as exact BIGINT sums,
  NOT an average, so ``append`` maintains it additively (old + batch)
  without rescanning — the same mergeability argument as the HLL/CMS
  sketches.

``search`` reproduces :func:`mandodb_spark.operators.text.bm25_topk`
EXACTLY (same Lucene idf, same rounding, same tie order) from the stored
relations — index-path ≡ scan-path is the correctness contract, pinned by
a parity test over the documents table.  Reference scope note: the
reference engine has no text retrieval at all (SURVEY §2.7 free surface);
the design target here is the standard Lucene/ES segment layout
re-expressed as partitioned Parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TextIndex:
    """Bucket-partitioned persistent BM25 index over ``(id, text)`` rows."""

    def __init__(self, spark: SparkSession, root: str,
                 n_buckets: int = 64) -> None:
        self.spark = spark
        self.root = str(root)
        self.n_buckets = n_buckets

    # ------------------------------------------------------------- paths
    @property
    def _postings(self) -> str:
        return f"{self.root}/postings"

    @property
    def _doclen(self) -> str:
        return f"{self.root}/doclen"

    @property
    def _stats(self) -> str:
        return f"{self.root}/stats"

    # ------------------------------------------------------------- build
    def _tokenize(self, df: DataFrame, id_col: str, text_col: str):
        """(tf rows, doclen rows) for a batch — tf carries the bucket
        column so the partitioned write needs no second pass."""
        from ..operators.text import token_count, tokens

        toks = df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        dl = df.select(
            F.col(id_col).alias("id"),
            token_count(F.col(text_col)).alias("dl"),
        )
        tf = (
            toks.groupBy("term", "id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
            # denormalize the doc length into the posting row (Lucene
            # stores norms with postings for the same reason): search
            # then needs NO doclen join — measured at sf0.1, the doclen
            # scan+join was the index path's whole overhead vs the
            # scan path
            .join(dl, "id")
            .withColumn(
                "tb", F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets)).cast("int")
            )
        )
        return tf, dl

    def build(self, df: DataFrame, id_col: str, text_col: str) -> None:
        """Full build: one tokenize pass; postings land in their ``tb=``
        partitions (repartition on tb is the only corpus-wide exchange
        besides the tf groupBy)."""
        tf, dl = self._tokenize(df, id_col, text_col)
        (
            tf.repartition(self.n_buckets, "tb")
            .write.mode("overwrite").partitionBy("tb").parquet(self._postings)
        )
        dl.write.mode("overwrite").parquet(self._doclen)
        self._write_stats(
            dl.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.count("dl").cast("long").alias("n_dl"),
                F.sum("dl").cast("long").alias("sum_dl"),
            )
        )

    def _write_stats(self, stats_df: DataFrame) -> None:
        stats_df.coalesce(1).write.mode("overwrite").parquet(self._stats)

    def append(self, df: DataFrame, id_col: str, text_col: str) -> None:
        """Incremental batch: tokenize ONLY the new docs, append into the
        existing bucket partitions, fold the batch's exact counts into
        stats (old + delta — no corpus rescan).  Document ids must be new;
        re-adding an id double-counts it exactly like inserting it twice
        into the scan-path corpus would.  foreachBatch-compatible for
        streaming maintenance (VectorIndex.append precedent)."""
        tf, dl = self._tokenize(df, id_col, text_col)
        (
            tf.repartition("tb")
            .write.mode("append").partitionBy("tb").parquet(self._postings)
        )
        dl.write.mode("append").parquet(self._doclen)
        old = self.spark.read.parquet(self._stats)
        delta = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("dl").cast("long").alias("n_dl"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
        merged = (
            old.unionByName(delta)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_dl").cast("long").alias("n_dl"),
                F.sum("sum_dl").cast("long").alias("sum_dl"),
            )
            .collect()[0]
        )
        self._write_stats(
            self.spark.createDataFrame(
                [(merged["n_docs"], merged["n_dl"], merged["sum_dl"])],
                "n_docs long, n_dl long, sum_dl long",
            )
        )

    # ------------------------------------------------------------ search
    def _term_buckets(self, terms: list[str]) -> dict[str, int]:
        """term → bucket via the SAME Spark xxhash64 the build used
        (computed in a |Q|-row local query, not reimplemented in Python —
        hash parity by construction)."""
        rows = (
            self.spark.createDataFrame([(t,) for t in terms], "term string")
            .select(
                "term",
                F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets))
                .cast("int").alias("tb"),
            )
            .collect()
        )
        return {r["term"]: r["tb"] for r in rows}

    def search(self, query_terms: list[str], k: int = 10,
               k1: float = 1.2, b: float = 0.75,
               require_all: bool = False) -> DataFrame:
        """BM25 top-k from the stored index — identical semantics to
        ``text.bm25_topk`` on the indexed corpus, but the scan reads only
        the query terms' bucket partitions.  ``require_all=True`` adds
        boolean-AND semantics: only documents containing EVERY query term
        are ranked (a per-doc distinct-term count against |Q| — one extra
        HAVING on the aggregation already being done, no extra scan).
        Output: (id, score, rank)."""
        from pyspark.sql import Window

        terms = sorted({t.lower() for t in query_terms})
        if not terms:
            raise ValueError("TextIndex.search: query_terms must be non-empty")
        buckets = sorted(set(self._term_buckets(terms).values()))
        tf = (
            self.spark.read.parquet(self._postings)
            .filter(F.col("tb").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select("id", "term", "tf", "dl")
        )
        docfreq = tf.groupBy("term").agg(F.countDistinct("id").alias("df"))
        stats = (
            self.spark.read.parquet(self._stats)
            .select(
                "n_docs",
                # avgdl over docs WITH a token count (NULL text excluded),
                # exactly matching the scan path's avg() null semantics
                (F.col("sum_dl").cast("double") / F.col("n_dl").cast("double"))
                .alias("avgdl"),
            )
        )
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        denom = F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        scored = (
            tf.join(F.broadcast(docfreq), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("term_score", idf * F.col("tf") * (k1 + 1) / denom)
        )
        agg = scored.groupBy("id").agg(
            F.round(F.sum("term_score"), 6).alias("score"),
            F.count(F.lit(1)).alias("__nt"),
        )
        if require_all:
            # tf rows are unique per (id, term), so the per-doc row count
            # IS the distinct matched-term count
            agg = agg.filter(F.col("__nt") == len(terms))
        top = (
            agg.drop("__nt")
            .orderBy(F.col("score").desc(), F.col("id"))
            .limit(k)
        )
        w = Window.orderBy(F.col("score").desc(), F.col("id"))
        return top.withColumn("rank", F.row_number().over(w).cast("long"))

    # -------------------------------------------------------- lifecycle
    def compact(self) -> None:
        """Restore the one-file-per-bucket invariant micro-batch appends
        erode — postings AND the doclen sidecar (both accumulate one file
        per append) rewrite through a staging root + atomic swap
        (:func:`segment_store.swap_in` — crash leaves the old tree
        recoverable; same contract as VectorIndex.compact).  Search
        results are unchanged by construction (pure file merge)."""
        import shutil

        from .segment_store import swap_in

        staging = f"{self._postings}__staging"
        shutil.rmtree(staging, ignore_errors=True)
        cur = self.spark.read.parquet(self._postings)
        (
            cur.repartition(self.n_buckets, "tb")
            .write.mode("overwrite").partitionBy("tb").parquet(staging)
        )
        self.spark.catalog.clearCache()
        swap_in(self._postings, staging)
        self.spark.catalog.refreshByPath(self._postings)
        dstage = f"{self._doclen}__staging"
        shutil.rmtree(dstage, ignore_errors=True)
        self.spark.read.parquet(self._doclen).coalesce(1)             .write.mode("overwrite").parquet(dstage)
        self.spark.catalog.clearCache()
        swap_in(self._doclen, dstage)
        self.spark.catalog.refreshByPath(self._doclen)

    def fsck(self) -> dict:
        """Integrity audit (VectorIndex.fsck / SegmentStore.fsck
        convention): recompute what the stored stats CLAIM from the
        doclen relation, check every posting row's bucket matches its
        term's hash, and find postings for unknown doc ids.  Returns
        ``{"ok": bool, "stats_match": bool, "misplaced_postings": n,
        "orphan_postings": n}`` — read-only, column-pruned scans."""
        stored = self.spark.read.parquet(self._stats).collect()[0]
        dl = self.spark.read.parquet(self._doclen)
        actual = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("dl").cast("long").alias("n_dl"),
            F.sum("dl").cast("long").alias("sum_dl"),
        ).collect()[0]
        stats_match = (
            (stored["n_docs"], stored["n_dl"], stored["sum_dl"])
            == (actual["n_docs"], actual["n_dl"], actual["sum_dl"])
        )
        post = self.spark.read.parquet(self._postings)

        def _bucket_audit(rel):
            mis = rel.filter(
                F.col("tb")
                != F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets)).cast("int")
            ).count()
            orph = (
                rel.select("id").distinct()
                .join(dl.select("id"), "id", "left_anti")
                .count()
            )
            return int(mis), int(orph)

        misplaced, orphans = _bucket_audit(post)
        pos_misplaced = pos_orphans = 0
        from pathlib import Path as _P

        if _P(self._positions).exists():
            pos_misplaced, pos_orphans = _bucket_audit(
                self.spark.read.parquet(self._positions))
        return {
            "ok": bool(stats_match and misplaced == 0 and orphans == 0
                       and pos_misplaced == 0 and pos_orphans == 0),
            "stats_match": bool(stats_match),
            "misplaced_postings": misplaced,
            "orphan_postings": orphans,
            "misplaced_positions": pos_misplaced,
            "orphan_positions": pos_orphans,
        }

    # ------------------------------------------------------- phrase search
    @property
    def _positions(self) -> str:
        return f"{self.root}/positions"

    def build_positions(self, df: DataFrame, id_col: str, text_col: str) -> None:
        """Optional positions sidecar for phrase queries: ``(term, id,
        positions array<int>)`` in the same ``tb=`` bucket partitioning as
        the postings (a phrase probe prunes to its terms' buckets exactly
        like search does).  Positions are 0-based token offsets from the
        same whitespace tokenizer, so ``phrase_search`` adjacency is exact
        against ``tokens(text)``."""
        from ..operators.text import tokens

        pos = (
            df.select(
                F.col(id_col).alias("id"),
                F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
            )
            .groupBy("term", "id")
            .agg(F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias("positions"))
            .withColumn(
                "tb", F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets)).cast("int")
            )
        )
        (
            pos.repartition(self.n_buckets, "tb")
            .write.mode("overwrite").partitionBy("tb").parquet(self._positions)
        )

    def phrase_search(self, phrase: list[str]) -> DataFrame:
        """Exact phrase match: document ids containing the tokens of
        ``phrase`` consecutively, plus the match count per document.

        Plan: per-term bucket-pruned positions scan → k-way equi-join on
        id → one JVM-side HOF that counts start offsets p with
        ``p + i ∈ positions(term_i)`` for every i (array_contains inside a
        filter over the first term's positions — no UDF, no explode
        blow-up: the fan-in is bounded by the rarest term's posting list
        after the equi-join).  Output: (id, n_matches), matches only.
        """
        terms = [t.lower() for t in phrase]
        if not terms:
            raise ValueError("phrase_search: phrase must be non-empty")
        buckets = sorted(set(self._term_buckets(sorted(set(terms))).values()))
        pos = (
            self.spark.read.parquet(self._positions)
            .filter(F.col("tb").isin(buckets))
            .filter(F.col("term").isin(list(set(terms))))
            .select("id", "term", "positions")
        )
        joined = None
        for i, t in enumerate(terms):
            side = pos.filter(F.col("term") == t).select(
                "id", F.col("positions").alias(f"__p{i}"))
            joined = side if joined is None else joined.join(side, "id")

        def _is_start(p):
            out = F.lit(True)
            for i in range(1, len(terms)):
                out = out & F.array_contains(F.col(f"__p{i}"), p + i)
            return out

        match_count = F.size(F.filter(F.col("__p0"), _is_start))
        return (
            joined.select("id", match_count.cast("long").alias("n_matches"))
            .filter(F.col("n_matches") > 0)
        )


    # ----------------------------------------------------- prefix expansion
    def expand_prefix(self, prefix: str, max_terms: int = 64) -> list[str]:
        """Expand a prefix query ('spar*') into the concrete index terms
        that start with it - the Lucene term-dictionary move: hash
        bucketing cannot prune a prefix directly, so wildcard search goes
        dictionary-scan -> bounded term list -> ordinary bucket-pruned
        multi-term search.  The dictionary scan is column-pruned (term
        only) over the postings relation and deduplicated; cost is one
        pass over term strings, NOT postings rows (Parquet dictionary
        encoding makes it footer-cheap in practice).

        Raises when the prefix matches more than ``max_terms`` distinct
        terms - an unbounded expansion ('a*') would quietly turn one
        probe into a corpus scan; the caller narrows the prefix or raises
        the cap explicitly."""
        if not prefix:
            raise ValueError("expand_prefix: empty prefix")
        terms = [
            r["term"] for r in (
                self.spark.read.parquet(self._postings)
                .select("term")
                .filter(F.col("term").startswith(prefix.lower()))
                .distinct()
                .orderBy("term")
                .limit(max_terms + 1)
                .collect()
            )
        ]
        if len(terms) > max_terms:
            raise ValueError(
                f"expand_prefix: {prefix!r}* matches more than {max_terms} "
                f"terms - narrow the prefix or raise max_terms")
        return terms

    def search_prefix(self, prefix: str, k: int = 10, max_terms: int = 64,
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """Wildcard BM25: expand the prefix through the term dictionary,
        then run the ordinary bucket-pruned multi-term :meth:`search`."""
        terms = self.expand_prefix(prefix, max_terms)
        if not terms:
            return self.search(["nomatchsentinel"], k=k).limit(0)
        return self.search(terms, k=k, k1=k1, b=b)
