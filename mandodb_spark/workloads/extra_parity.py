"""Second-tier oracle parity registry: operators added AFTER the driver
registry froze at 150 entries (3 rotation windows x the driver's 50-slot
correctness window — adding a 151st query would break the pinned
every-query-within-3-rounds staleness invariant, ``rotation.py``).

These queries are NOT exposed through ``__spark_entry__`` — the driver
contract stays exactly 150 — but ``tools/oracle_check.py --extra`` runs
them through the SAME Spark-vs-DuckDB comparison, so the evidence tier is
identical: row count + schema + value parity over the shared parquet
tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import load, presentation_sort

QUERIES: dict = {}
ORACLES: dict = {}

_BM25_TERMS = ["spark", "shuffle", "parquet", "window"]


def x_docs_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval over the documents table (text.bm25_topk)."""
    from ..operators.text import bm25_topk

    return bm25_topk(load(spark, sf_dir, "documents"), "doc_id", "text",
                     _BM25_TERMS, k=25)


def _bm25_sql() -> str:
    from ..operators.text import bm25_topk_sql

    return bm25_topk_sql("documents", "doc_id", "text", _BM25_TERMS, k=25)


QUERIES["x_docs_bm25"] = x_docs_bm25
ORACLES["x_docs_bm25"] = _bm25_sql()


def x_docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level boilerplate removal over a multi-line view of the
    corpus (every document wrapped in a shared header/footer — the
    cross-document boilerplate the operator exists to strip)."""
    from ..operators.dedup import line_dedup

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("SITE HEADER\n"), F.col("text"), F.lit("\nSITE FOOTER")).alias(
            "text"
        ),
    )
    return line_dedup(d, "doc_id", "text")


def _line_dedup_sql() -> str:
    from ..operators.dedup import line_dedup_sql

    return line_dedup_sql(
        "(SELECT doc_id, 'SITE HEADER' || chr(10) || text || chr(10) || 'SITE FOOTER' AS text FROM documents)",
        "doc_id",
        "text",
    )


QUERIES["x_docs_line_dedup"] = x_docs_line_dedup
ORACLES["x_docs_line_dedup"] = _line_dedup_sql()


def x_events_alert_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style alert runs over the events-derived relation
    (tsdb_ops.alert_intervals): condition value > 50, for 1h, staleness
    gap 2h.  Labels flattened for the cross-engine hash."""
    from ..operators.tsdb_ops import alert_intervals
    from .common import events_relation, flatten_labels

    rel = events_relation(spark, sf_dir, 0, 2**40)
    out = alert_intervals(rel, F.col("value") > 50, 3600, 7200)
    return flatten_labels(out).orderBy("start_ts")


def _alert_sql() -> str:
    from .tsdb_queries import _REL

    return f"""{_REL},
marked AS (
    SELECT metric, user, k, ts, value > 50 AS c,
           lag(value > 50) OVER w AS prev_c,
           lag(ts) OVER w AS prev_ts
    FROM rel
    WINDOW w AS (PARTITION BY metric, user, k ORDER BY ts)
),
runs AS (
    SELECT *, CAST(c AND (prev_ts IS NULL OR NOT coalesce(prev_c, FALSE)
                          OR ts - prev_ts > 7200) AS INTEGER) AS new_run
    FROM marked
),
numbered AS (
    SELECT *, sum(new_run) OVER (PARTITION BY metric, user, k ORDER BY ts) AS run
    FROM runs
)
SELECT metric, user, k,
       min(ts) AS start_ts, max(ts) AS end_ts,
       CAST(count(*) AS BIGINT) AS n_samples,
       max(ts) - min(ts) >= 3600 AS firing
FROM numbered WHERE c
GROUP BY metric, user, k, run
ORDER BY start_ts
"""


QUERIES["x_events_alert_runs"] = x_events_alert_runs
ORACLES["x_events_alert_runs"] = _alert_sql()


_DDS_QS = [0.5, 0.9, 0.99]


def x_tsdb_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable DDSketch quantile rollup under the gate
    (operators/sketch.py::dds_build/dds_merge/dds_quantiles — the code
    path of quantile_materialize/estimate minus the parquet hop, which
    tests/test_operators.py pins): per-segment sketches of the point
    values merged across the range, estimates checked against the exact
    rank quantile.  Bucket state is log-float-derived, so (as with the
    HLL row) the oracle pins what IS cross-engine: the interpolated
    exact quantile values and a TRUE assertion that every estimate lands
    within the alpha=1% guarantee of the exact rank-floor(q*(N-1))
    quantile computed alongside.

    The exact-rank side uses sketch.exact_quantiles_disc — the
    distributed two-phase rank (range-bucket + per-bucket bounded
    window), NOT a corpus-wide row_number window: round 6's verdict
    flagged the previous global-window form as this suite's one
    scale-killer."""
    from ..operators.sketch import (
        DDS_ALPHA,
        dds_build,
        dds_quantiles,
        exact_quantiles_disc_cont,
    )
    from .common import SEG, events_relation
    from .tsdb_queries import EV_END, EV_START

    rel = (
        events_relation(spark, sf_dir, EV_START, EV_END)
        .filter(F.col("ts").between(EV_START, EV_END))
        .withColumn("seg", (F.col("ts") / SEG).cast("long"))
    )
    per_seg = dds_build(rel, "value", DDS_ALPHA, group_cols=("seg",))
    merged = per_seg.groupBy("sgn", "bucket").agg(F.sum("n").alias("n"))
    est = dds_quantiles(merged, _DDS_QS, DDS_ALPHA)

    # exact rank-floor(q*(N-1)) quantile (the estimate's target), plus the
    # interpolated percentile (the cross-engine-checked value) — both from
    # bucketed two-phase rank probes, never a percentile()/global-window
    # corpus aggregate (its O(distinct-values) buffer lands on one reducer).
    # ONE fused pass (exact_quantiles_disc_cont): the disc rank is the
    # cont probe's floor rank, so the second full rank engine the old
    # disc+cont pair ran over the same relation is gone (r12, guide §2.4)
    both = exact_quantiles_disc_cont(rel, "value", _DDS_QS).select(
        "q", "disc_q", F.col("cont_q").alias("exact_q")
    )
    return (
        est.join(both, "q")
        .select(
            "q",
            "exact_q",
            (
                F.abs(F.col("est") - F.col("disc_q"))
                <= F.lit(DDS_ALPHA * 1.001) * F.abs(F.col("disc_q")) + F.lit(1e-9)
            ).alias("within_bound"),
        )
        .transform(lambda d: presentation_sort(d, "q"))
    )


def _quantile_sketch_sql() -> str:
    from .tsdb_queries import _REL, _TIME

    arms = "\nUNION ALL\n".join(
        f"SELECT {q} AS q, quantile_cont(value, {q}) AS exact_q, TRUE AS within_bound FROM d"
        for q in _DDS_QS
    )
    return f"""{_REL},
d AS (SELECT value FROM rel WHERE {_TIME})
{arms}
ORDER BY q
"""


QUERIES["x_tsdb_quantile_sketch"] = x_tsdb_quantile_sketch
ORACLES["x_tsdb_quantile_sketch"] = _quantile_sketch_sql()


_BQ_DIM = 64
_BQ_RERANK = 40
_BQ_K = 10


def x_emb_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign) quantization ANN under the gate
    (operators/similarity.py::binary_quantize/hamming/binary_topk): pack
    sign bits into 32-bit words, TakeOrdered the 40 Hamming-nearest
    codes, exact-cosine re-rank to top-10.  Both stages are totally
    ordered ((hd, id) then (rounded cos desc, id)), so the DuckDB mirror
    — which rebuilds the same codes with integer CASE arithmetic — must
    produce the identical candidate set and final ranking."""
    from ..operators.similarity import binary_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return binary_topk(emb, "vec_id", "embedding", q, _BQ_K,
                       dim=_BQ_DIM, rerank=_BQ_RERANK)


def _binary_topk_sql() -> str:
    from ..operators.similarity import BQ_WORD_BITS, binary_quantize_sql

    n_words = (_BQ_DIM + BQ_WORD_BITS - 1) // BQ_WORD_BITS
    hd = " + ".join(
        f"bit_count(xor(c.code[{w + 1}], q.qcode[{w + 1}]))"
        for w in range(n_words)
    )
    return f"""
WITH q0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qc AS (SELECT qe, {binary_quantize_sql('qe', _BQ_DIM)} AS qcode FROM q0),
codes AS (
    SELECT vec_id, embedding,
           {binary_quantize_sql('embedding', _BQ_DIM)} AS code
    FROM embeddings
),
cand AS (
    SELECT c.vec_id, c.embedding, q.qe, ({hd}) AS hd
    FROM codes c, qc q
    ORDER BY hd, c.vec_id
    LIMIT {_BQ_RERANK}
)
SELECT vec_id,
       round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(qe AS DOUBLE[])), 4) AS cos_sim
FROM cand
ORDER BY cos_sim DESC, vec_id
LIMIT {_BQ_K}
"""


QUERIES["x_emb_binary_topk"] = x_emb_binary_topk
ORACLES["x_emb_binary_topk"] = _binary_topk_sql()


def x_tsdb_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-z statistical anomaly detection under the gate
    (operators/tsdb_ops.py::anomaly_scores): samples scored against a
    trailing 20-sample window (mean/stddev excluding the current row),
    warmup withheld, constant-baseline deviations flagged via the NULL-z
    convention.  The testdata's (metric,user,k) series hold ≤4 samples —
    below any sane warmup — so the baseline is keyed PER METRIC via the
    operator's pre-set-series_key hook, with (user,k) tie-breakers
    keeping the ROWS frame a total order.  Labels flattened for the
    cross-engine hash; full scored output so the threshold boundary
    itself is parity-checked, not just the positives."""
    from ..operators.tsdb_ops import anomaly_scores
    from .common import events_relation, flatten_labels

    rel = events_relation(spark, sf_dir, 0, 2**40).withColumn(
        "series_key", F.col("labels")["__name__"]
    )
    out = anomaly_scores(
        rel, lookback=20, z_threshold=3.0, min_points=5,
        tie_breakers=(F.col("labels")["user"], F.col("labels")["k"]),
    )
    # round the derived floats (6dp) so the harness's sorted row alignment
    # is stable across engines; is_anomaly is computed on unrounded z
    out = out.withColumn("baseline_mean", F.round("baseline_mean", 6)).withColumn(
        "z", F.round("z", 6)
    )
    return flatten_labels(out)


def _anomaly_sql() -> str:
    from .tsdb_queries import _REL

    return f"""{_REL},
scored AS (
    SELECT metric, user, k, ts, value,
           avg(value) OVER w AS baseline_mean,
           stddev_samp(value) OVER w AS sd,
           count(*) OVER w AS n
    FROM rel
    WINDOW w AS (PARTITION BY metric ORDER BY ts, user, k
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT metric, user, k, ts, value, round(baseline_mean, 6) AS baseline_mean,
       CASE WHEN sd > 0 THEN round((value - baseline_mean) / sd, 6) END AS z,
       CASE WHEN sd > 0 THEN abs((value - baseline_mean) / sd) > 3.0
            ELSE value != baseline_mean END AS is_anomaly
FROM scored WHERE n >= 5
"""


QUERIES["x_tsdb_anomaly"] = x_tsdb_anomaly
ORACLES["x_tsdb_anomaly"] = _anomaly_sql()


def x_events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics under the gate
    (operators/profile.py::skew_report) over the events user key — the
    pre-flight measurement behind the salting decision the engine's
    salted query_range variant implements."""
    from ..operators.profile import skew_report

    return skew_report(load(spark, sf_dir, "events"), ["user_id"], top_n=15)


def _skew_sql() -> str:
    from ..operators.profile import skew_report_sql

    return skew_report_sql("events", ["user_id"], top_n=15)


QUERIES["x_events_skew_report"] = x_events_skew_report
ORACLES["x_events_skew_report"] = _skew_sql()


def x_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General two-relation as-of join (operators/temporal.py::asof_join):
    every purchase enriched with the user's nearest at-or-before click
    aggregate, 2h tolerance.  The oracle is DuckDB's NATIVE ``ASOF LEFT
    JOIN`` — an entirely different algorithm (per-key binary search vs our
    merge-ordered union window), so agreement pins the semantics, not the
    implementation."""
    from ..operators.temporal import asof_join
    from .common import events_base

    ev = events_base(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.sum("value"), 6).alias("click_value"))
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_value"],
        tolerance=7200,
        matched_ts_col="click_ts",
    ).orderBy("event_id")


_ASOF_SQL = """
WITH ev AS (
    SELECT event_id, user_id, event_type, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts
    FROM events
), l AS (
    SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'
), r AS (
    SELECT user_id, ts, round(sum(value), 6) AS click_value
    FROM ev WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts,
       CASE WHEN l.ts - r.ts <= 7200 THEN r.click_value END AS click_value,
       CASE WHEN l.ts - r.ts <= 7200 THEN r.ts END AS click_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


QUERIES["x_events_asof_join"] = x_events_asof_join
ORACLES["x_events_asof_join"] = _ASOF_SQL


_RRF_K = 15
_RRF_TERMS = ["spark", "shuffle", "window"]
_RRF_QVEC = 0


def x_docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-k over documents fused with dense
    cosine top-k over the aligned embeddings table (doc_id == vec_id) via
    reciprocal-rank fusion (similarity.rrf_fuse)."""
    from pyspark.sql import Window

    from ..operators.similarity import cosine_topk, rrf_fuse
    from ..operators.text import bm25_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    lexical = bm25_topk(docs, "doc_id", "text", _RRF_TERMS, k=_RRF_K).select(
        "doc_id", "rank"
    )
    q = emb.filter(F.col("vec_id") == _RRF_QVEC).select(F.col("embedding").alias("qe"))
    dense_top = cosine_topk(emb, "vec_id", "embedding", q, _RRF_K)
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    dense = dense_top.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
    return rrf_fuse([lexical, dense], "doc_id", k=_RRF_K)


def _hybrid_rrf_sql() -> str:
    from ..operators.text import bm25_topk_sql

    bm = bm25_topk_sql("documents", "doc_id", "text", _RRF_TERMS, k=_RRF_K)
    return f"""
WITH lexical AS (
    SELECT doc_id, rank FROM ({bm})
),
dense_top AS (
    SELECT vec_id,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 4) AS cos_sim
    FROM embeddings a,
         (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_RRF_QVEC}) q
    ORDER BY cos_sim DESC, vec_id
    LIMIT {_RRF_K}
),
dense AS (
    SELECT vec_id AS doc_id,
           CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
    FROM dense_top
),
contrib AS (
    SELECT doc_id, 1.0 / (60.0 + rank) AS r FROM lexical
    UNION ALL
    SELECT doc_id, 1.0 / (60.0 + rank) AS r FROM dense
),
top AS (
    SELECT doc_id, round(sum(r), 6) AS rrf_score
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_K}
)
SELECT doc_id, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
FROM top
"""


QUERIES["x_docs_hybrid_rrf"] = x_docs_hybrid_rrf
ORACLES["x_docs_hybrid_rrf"] = _hybrid_rrf_sql()


def x_docs_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard similarity self-join via prefix filtering
    (dedup.jaccard_join).  Oracle is the brute-force inverted-index form —
    different algorithm, so a green row proves the prefix filter is
    lossless on real data (vs docs_minhash_pairs, which is LSH and
    recall-bounded by design).  t=0.7 — the guarantee-grade near-dup bar
    where prefix filtering is strong (see jaccard_join's cost note)."""
    from ..operators.dedup import jaccard_join

    d = load(spark, sf_dir, "documents")
    return presentation_sort(jaccard_join(d, "doc_id", "text", 0.7), "id_a", "id_b")


def _jaccard_join_sql() -> str:
    from ..operators.dedup import jaccard_join_sql

    inner = jaccard_join_sql("documents", "doc_id", "text", 0.7)
    return f"SELECT * FROM ({inner}) ORDER BY id_a, id_b"


QUERIES["x_docs_jaccard_join"] = x_docs_jaccard_join
ORACLES["x_docs_jaccard_join"] = _jaccard_join_sql()


def x_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document selection (sampling.weighted_sample,
    Efraimidis–Spirakis A-Res with deterministic hash uniforms): pick 40
    docs proportional to n_chars without replacement — the quality/length
    weighted subset selection a data-mix pipeline runs per source."""
    from ..operators.sampling import weighted_sample

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(d, "doc_id", "n_chars", 40).orderBy("doc_id")


def _weighted_sample_sql() -> str:
    from ..operators.sampling import weighted_sample_sql

    inner = weighted_sample_sql(
        "(SELECT doc_id, source, n_chars FROM documents)", "doc_id", "n_chars", 40
    )
    return f"SELECT * FROM ({inner}) ORDER BY doc_id"


QUERIES["x_docs_weighted_sample"] = x_docs_weighted_sample
ORACLES["x_docs_weighted_sample"] = _weighted_sample_sql()


def x_events_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of hourly event value per event type
    (temporal.seasonal_decompose): daily (24h) cycle split out of the
    hourly mean series — trend/seasonal/resid per bucket."""
    from ..operators.temporal import seasonal_decompose
    from .common import events_base

    ev = events_base(spark, sf_dir)
    hourly = _exact_hourly_mean(ev)
    return seasonal_decompose(
        hourly, ["event_type"], "hts", "hv", step=3600, period=86400
    ).orderBy("event_type", "bucket_ts")


def _seasonal_sql() -> str:
    from ..operators.temporal import seasonal_decompose_sql

    inner = seasonal_decompose_sql(
        """(
        SELECT event_type,
               CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) * 3600 AS BIGINT) AS hts,
               round(CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE) / count(*), 6) AS hv
        FROM events GROUP BY 1, 2
    )""",
        ["event_type"], "hts", "hv", step=3600, period=86400,
    )
    return f"SELECT * FROM ({inner}) ORDER BY event_type, bucket_ts"


QUERIES["x_events_seasonal"] = x_events_seasonal
ORACLES["x_events_seasonal"] = _seasonal_sql()


def _exact_hourly_mean(ev):
    """Hourly mean via an EXACT decimal sum — order-independent, so Spark's
    shuffle order and DuckDB agree bit-for-bit before the rounding (a plain
    double avg put one bucket of 3600 exactly on the round-half boundary at
    sf0.1: 43.4728125 — the schema-drift lesson's sibling, pinned here)."""
    return (
        ev.groupBy(
            "event_type", (F.floor(F.col("ts") / 3600) * 3600).cast("long").alias("hts")
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(24,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("hv")
        )
    )


def x_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point scan over hourly event-value series per
    event type (temporal.cusum_changepoints — prefix-sum closed form of
    Page's recursion, pinned equal to the recursion by unit test)."""
    from ..operators.temporal import cusum_changepoints
    from .common import events_base

    ev = events_base(spark, sf_dir)
    hourly = _exact_hourly_mean(ev)
    return cusum_changepoints(hourly, ["event_type"], "hts", "hv").orderBy(
        "event_type", "ts"
    )


def _cusum_sql() -> str:
    from ..operators.temporal import cusum_changepoints_sql

    inner = cusum_changepoints_sql(
        """(
        SELECT event_type,
               CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) * 3600 AS BIGINT) AS hts,
               round(CAST(sum(CAST(value AS DECIMAL(24,8))) AS DOUBLE) / count(*), 6) AS hv
        FROM events GROUP BY 1, 2
    )""",
        ["event_type"], "hts", "hv",
    )
    return f"SELECT * FROM ({inner}) ORDER BY event_type, ts"


QUERIES["x_events_cusum"] = x_events_cusum
ORACLES["x_events_cusum"] = _cusum_sql()


def x_docs_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled per-source mixture plan at alpha=0.5
    (sampling.temperature_rates — the mT5 multilingual sampling rule
    applied to sources)."""
    from ..operators.sampling import temperature_rates

    d = load(spark, sf_dir, "documents")
    return temperature_rates(d, "source", 0.5, 200).orderBy("source")


def _temp_mix_sql() -> str:
    from ..operators.sampling import temperature_rates_sql

    inner = temperature_rates_sql("documents", "source", 0.5, 200)
    return f"SELECT * FROM ({inner}) ORDER BY source"


QUERIES["x_docs_temperature_mix"] = x_docs_temperature_mix
ORACLES["x_docs_temperature_mix"] = _temp_mix_sql()


def x_docs_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version drift monitor (profile.psi_report): PSI of the
    n_chars distribution between the even-doc_id half ("reference
    snapshot") and the odd half ("new snapshot"), fixed decile-ish
    edges — the release gate a data pipeline runs before swapping
    training corpora."""
    from ..operators.profile import psi_report

    d = load(spark, sf_dir, "documents")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    edges = [50.0, 100.0, 150.0, 200.0, 250.0, 300.0, 400.0, 600.0]
    return psi_report(ref, new, "n_chars", edges).orderBy("bucket")


def _psi_sql() -> str:
    from ..operators.profile import psi_report_sql

    edges = [50.0, 100.0, 150.0, 200.0, 250.0, 300.0, 400.0, 600.0]
    inner = psi_report_sql(
        "(SELECT n_chars FROM documents WHERE doc_id % 2 = 0)",
        "(SELECT n_chars FROM documents WHERE doc_id % 2 = 1)",
        "n_chars", edges,
    )
    return f"SELECT * FROM ({inner}) ORDER BY bucket"


QUERIES["x_docs_psi_drift"] = x_docs_psi_drift
ORACLES["x_docs_psi_drift"] = _psi_sql()


def x_docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (sampling.hash_split keyed on the
    CONTENT fingerprint, not the doc id): byte-identical duplicates land
    in one split by construction.  Output: per-split doc/group counts plus
    the number of fingerprint groups spanning more than one split — the
    contamination metric, provably 0."""
    from ..operators.sampling import hash_split
    from ..operators.text import bow_fingerprint

    d = load(spark, sf_dir, "documents").withColumn(
        "fp", bow_fingerprint(F.col("text"))
    )
    s = hash_split(d, "fp", {"train": 0.8, "val": 0.1, "test": 0.1})
    leaks = (
        s.groupBy("fp").agg(F.count_distinct("split").alias("ns"))
        .filter(F.col("ns") > 1).count()
    )
    return (
        s.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fp").alias("n_groups"),
        )
        .withColumn("leaked_groups", F.lit(leaks).cast("long"))
        .orderBy("split")
    )


def _split_sql() -> str:
    from ..operators.sampling import hash_split_sql

    label = hash_split_sql("fp", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
WITH d AS (
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
    FROM documents
), s AS (
    SELECT fp, {label} AS split FROM d
), leaks AS (
    SELECT count(*) AS leaked FROM (
        SELECT fp FROM s GROUP BY fp HAVING count(DISTINCT split) > 1
    )
)
SELECT split, count(*) AS n_docs, count(DISTINCT fp) AS n_groups,
       CAST(leaks.leaked AS BIGINT) AS leaked_groups
FROM s, leaks
GROUP BY split, leaks.leaked
ORDER BY split
"""


QUERIES["x_docs_leakage_safe_split"] = x_docs_leakage_safe_split
ORACLES["x_docs_leakage_safe_split"] = _split_sql()


def x_docs_quality_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality calibration: each document's quality score
    mapped to its WITHIN-SOURCE percent rank — the normalization that
    makes one quality threshold comparable across sources whose scorers
    have different scales/shapes (rank-based, so engine float quirks in
    the score itself cannot flip the output as long as ordering holds;
    ties share a rank by value, doc_id breaks output order only)."""
    from pyspark.sql import Window

    from ..operators.text import quality_score

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.round(quality_score(F.col("text")), 6).alias("q")
    )
    w = Window.partitionBy("source").orderBy("q")
    return (
        d.withColumn("pctl", F.round(F.percent_rank().over(w), 6))
        .select("doc_id", "source", "q", "pctl")
        .orderBy("doc_id")
    )


def _quality_pctl_sql() -> str:
    from ..operators.text import STOPWORDS

    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    q = (
        f"round(0.6 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))"
        f" + 0.4 * (1.0 - CAST(len(list_filter(toks, x -> x IN ({stops}))) AS DOUBLE)"
        f" / len(toks)), 4)"
    )
    return f"""
WITH t AS (
    SELECT doc_id, source, string_split(lower(text), ' ') AS toks FROM documents
), d AS (
    SELECT doc_id, source, round({q}, 6) AS q FROM t
)
SELECT doc_id, source, q,
       round(percent_rank() OVER (PARTITION BY source ORDER BY q), 6) AS pctl
FROM d
ORDER BY doc_id
"""


QUERIES["x_docs_quality_pctl"] = x_docs_quality_pctl
ORACLES["x_docs_quality_pctl"] = _quality_pctl_sql()


_CHUNK_SIZE, _CHUNK_OVERLAP = 32, 8


def x_docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking of every document (RAG / context-window prep):
    32-token chunks with 8-token overlap, stable chunk ids — pure map-side
    posexplode fan-out, zero shuffles (see text.chunk_documents)."""
    from ..operators.text import chunk_documents

    d = load(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", _CHUNK_SIZE, _CHUNK_OVERLAP)


def _chunks_sql() -> str:
    from ..operators.text import chunk_documents_sql

    return chunk_documents_sql("documents", "doc_id", "text",
                               _CHUNK_SIZE, _CHUNK_OVERLAP)


QUERIES["x_docs_chunks"] = x_docs_chunks
ORACLES["x_docs_chunks"] = _chunks_sql()


def x_docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version regression diff: a simulated previous snapshot
    (some rows absent, some texts at an older revision, some langs
    re-labelled) against the current documents table — one full-outer
    SMJ on doc_id, null-safe per-column comparison
    (see profile.snapshot_diff)."""
    from ..operators.profile import snapshot_diff

    d = load(spark, sf_dir, "documents")
    old = (
        d.filter(F.col("doc_id") % 11 != 3)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat(F.col("text"), F.lit(" [v1]")))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 13 == 0, F.lit("xx"))
            .otherwise(F.col("lang")),
        )
    )
    new = d.filter(F.col("doc_id") % 17 != 5)
    return snapshot_diff(old, new, ["doc_id"],
                         ["text", "lang", "source", "n_chars"])


def _snapshot_diff_sql() -> str:
    from ..operators.profile import snapshot_diff_sql

    old = (
        "(SELECT doc_id, "
        "CASE WHEN doc_id % 7 = 0 THEN text || ' [v1]' ELSE text END AS text, "
        "CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang, "
        "source, n_chars FROM documents WHERE doc_id % 11 <> 3)"
    )
    new = "(SELECT * FROM documents WHERE doc_id % 17 <> 5)"
    return snapshot_diff_sql(old, new, ["doc_id"],
                             ["text", "lang", "source", "n_chars"])


QUERIES["x_docs_snapshot_diff"] = x_docs_snapshot_diff
ORACLES["x_docs_snapshot_diff"] = _snapshot_diff_sql()


def x_emb_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered similarity search (vectors + WHERE clause): exact
    pre-filter strategy — the predicate reaches the parquet scan, cosine
    top-k runs over survivors only (see similarity.filtered_topk for the
    pre/post-filter cost law)."""
    from ..operators.similarity import filtered_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    pred = (F.col("label") % 2 == 0) & (F.col("vec_id") != 0)
    return filtered_topk(emb, "vec_id", "embedding", q, k=10,
                         predicate=pred, method="exact")


_FILTERED_TOPK_SQL = """
SELECT vec_id,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(q.qe AS DOUBLE[])), 4) AS cos_sim
FROM embeddings a,
     (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
WHERE a.label % 2 = 0 AND a.vec_id <> 0
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""

QUERIES["x_emb_filtered_topk"] = x_emb_filtered_topk
ORACLES["x_emb_filtered_topk"] = _FILTERED_TOPK_SQL


_BR_SHORT, _BR_LONG, _BR_SLO = 3600, 6 * 3600, 0.75


def x_events_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO burn-rate over the events log (error event_type
    against a 75% SLO): 1h short window paired with a trailing 6h RANGE
    frame — fires only when both burn rates exceed 1x budget
    (see temporal.burn_rate_alert)."""
    from ..operators.temporal import burn_rate_alert

    from .common import events_base

    ev = events_base(spark, sf_dir)
    return burn_rate_alert(ev, "ts", F.col("event_type") == "error",
                           _BR_SHORT, _BR_LONG, _BR_SLO)


def _burn_rate_sql() -> str:
    from ..operators.temporal import burn_rate_alert_sql

    return burn_rate_alert_sql(
        "events", "CAST(floor(epoch(ts)) AS BIGINT)",
        "event_type = 'error'", _BR_SHORT, _BR_LONG, _BR_SLO,
    )


QUERIES["x_events_burn_rate"] = x_events_burn_rate
ORACLES["x_events_burn_rate"] = _burn_rate_sql()


def x_docs_keep_best_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exact dedup: per bag-of-words fingerprint keep the
    LONGEST duplicate (argmax n_chars, min-id tiebreak) via the
    partial-aggregatable min(struct(-order, id)) winner — the keep-best
    counterpart of docs_fingerprint_dedup's min-id rule
    (see dedup.exact_dedup_best)."""
    from ..operators import dedup, text

    d = load(spark, sf_dir, "documents")
    return dedup.exact_dedup_best(
        d, "doc_id", text.bow_fingerprint(F.col("text")),
        F.col("n_chars").cast("long"),
    )


_KEEP_BEST_SQL = """
SELECT fp, keep_id, best_order, n_docs FROM (
    SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
           CAST(doc_id AS BIGINT) AS keep_id,
           CAST(n_chars AS BIGINT) AS best_order,
           CAST(count(*) OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))) AS BIGINT) AS n_docs,
           row_number() OVER (
               PARTITION BY md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))
               ORDER BY n_chars DESC, doc_id
           ) AS rn
    FROM documents
) WHERE rn = 1
"""

QUERIES["x_docs_keep_best_dup"] = x_docs_keep_best_dup
ORACLES["x_docs_keep_best_dup"] = _KEEP_BEST_SQL


_FUNNEL_STEPS = ("view", "click", "purchase")
_FUNNEL_SPAN = 7 * 86400


def x_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase within 7 days
    of the first view — distinct from the registry's events_funnel row
    (no deadline, user-count summary): this one pins the max_span
    deadline semantics and per-step time-to-convert of the generalized
    operator (see temporal.funnel)."""
    from ..operators.temporal import funnel

    from .common import events_base

    ev = events_base(spark, sf_dir)
    return funnel(ev, "user_id", "ts", "event_type",
                  list(_FUNNEL_STEPS), max_span=_FUNNEL_SPAN)


def _funnel_sql() -> str:
    from ..operators.temporal import funnel_sql

    return funnel_sql("events", "user_id", "CAST(floor(epoch(ts)) AS BIGINT)",
                      "event_type", list(_FUNNEL_STEPS), max_span=_FUNNEL_SPAN)


QUERIES["x_events_funnel"] = x_events_funnel
ORACLES["x_events_funnel"] = _funnel_sql()


def x_events_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention triangle over the events log — distinct
    from the registry's weekly raw-count events_retention_cohorts row:
    pins the generalized operator's arbitrary period width and
    per-cohort retention FRACTION (see temporal.cohort_retention)."""
    from ..operators.temporal import cohort_retention

    from .common import events_base

    return cohort_retention(events_base(spark, sf_dir), "user_id", "ts",
                            bucket=86400)


def _cohorts_sql() -> str:
    from ..operators.temporal import cohort_retention_sql

    return cohort_retention_sql("events", "user_id",
                                "CAST(floor(epoch(ts)) AS BIGINT)",
                                bucket=86400)


QUERIES["x_events_cohorts"] = x_events_cohorts
ORACLES["x_events_cohorts"] = _cohorts_sql()


_PR_ITER = 3


def x_docs_dup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the near-dup similarity graph (which copy is
    canonical?): simhash band-LSH pairs as undirected edges, 3 damped
    power iterations with constant-depth checkpointed lineage
    (see graph.pagerank)."""
    from ..operators import dedup, text
    from ..operators.graph import pagerank

    d = load(spark, sf_dir, "documents")
    sim = text.simhash_arrow(d, "doc_id", "text", 64)
    pairs = dedup.simhash_band_pairs(sim, "doc_id", n_bits=64)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return pagerank(edges, n_iter=_PR_ITER, undirected=True)


def _dup_pagerank_sql() -> str:
    from ..operators.graph import pagerank_unrolled_sql
    from .docs import DOCS_SIMHASH_NEARDUP_SQL

    edges = (
        "SELECT id_a AS src, id_b AS dst FROM ("
        + DOCS_SIMHASH_NEARDUP_SQL
        + ")"
    )
    return pagerank_unrolled_sql(edges, _PR_ITER)


QUERIES["x_docs_dup_pagerank"] = x_docs_dup_pagerank
ORACLES["x_docs_dup_pagerank"] = _dup_pagerank_sql()


def x_events_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shape-preserving visual downsample of the per-event-type value
    series: parallel LTTB over 6-hour buckets — keeps the spike/dip
    points a mean rollup flattens (see temporal.lttb_downsample)."""
    from ..operators.temporal import lttb_downsample
    from .common import events_base

    ev = events_base(spark, sf_dir).select("event_type", "ts", "value")
    return lttb_downsample(ev, ["event_type"], "ts", "value",
                           bucket_width=6 * 3600)


def _lttb_sql() -> str:
    from ..operators.temporal import lttb_downsample_sql

    return lttb_downsample_sql(
        "events", ["event_type"], "CAST(floor(epoch(ts)) AS BIGINT)",
        "value", 6 * 3600,
    )


QUERIES["x_events_lttb"] = x_events_lttb
ORACLES["x_events_lttb"] = _lttb_sql()


def x_docs_token_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-half vocabulary overlap via mergeable HLL sketches +
    inclusion-exclusion (sketch.hll_overlap_estimate): sketches are
    engine-internal binaries, so (as with the quantile/HLL rows) the
    oracle pins what IS cross-engine — the exact distinct counts computed
    alongside — plus a TRUE assertion that every estimate lands within
    the sketch's error envelope of its exact counterpart."""
    from ..operators.sketch import hll_overlap_estimate
    from ..operators.text import tokens

    d = load(spark, sf_dir, "documents")
    half = F.substring(F.col("source"), 4, 10).cast("int")
    toks = d.select(half.alias("h"), F.explode(tokens(F.col("text"))).alias("tok"))
    a = toks.filter(F.col("h") <= 9).select("tok").distinct()
    b = toks.filter(F.col("h") > 9).select("tok").distinct()
    est = hll_overlap_estimate(a, b, "tok")
    exact = (
        a.withColumn("ina", F.lit(1))
        .join(b.withColumn("inb", F.lit(1)), "tok", "full")
        .agg(
            F.sum("ina").cast("long").alias("exact_a"),
            F.sum("inb").cast("long").alias("exact_b"),
            F.sum(F.when(F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1))
            .cast("long").alias("exact_intersect"),
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_a", "exact_b", "exact_intersect",
        (
            (F.abs(F.col("est_a") - F.col("exact_a")) <= 0.05 * F.col("exact_a") + 2)
            & (F.abs(F.col("est_b") - F.col("exact_b")) <= 0.05 * F.col("exact_b") + 2)
            & (F.abs(F.col("est_intersect") - F.col("exact_intersect"))
               <= 0.15 * F.col("exact_intersect") + 6)
        ).alias("within_bound"),
    )


_TOKEN_OVERLAP_SQL = """
WITH a AS (
    SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE CAST(substr(source, 4) AS INT) <= 9
), b AS (
    SELECT DISTINCT unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE CAST(substr(source, 4) AS INT) > 9
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS exact_a,
       (SELECT CAST(count(*) AS BIGINT) FROM b) AS exact_b,
       (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (tok)) AS exact_intersect,
       TRUE AS within_bound
"""

QUERIES["x_docs_token_overlap_sketch"] = x_docs_token_overlap_sketch
ORACLES["x_docs_token_overlap_sketch"] = _TOKEN_OVERLAP_SQL


def x_docs_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-array-style exact substring dedup, distributed form: maximal
    cross-document duplicated 8-token spans (arbitrary offsets — no
    sentence alignment) via window fan-out -> duplicated-window semi-join
    -> per-doc gaps-and-islands (see dedup.duplicate_spans)."""
    from ..operators.dedup import duplicate_spans

    d = load(spark, sf_dir, "documents")
    return duplicate_spans(d, "doc_id", "text", k=8)


def _duplicate_spans_sql() -> str:
    from ..operators.dedup import duplicate_spans_sql

    return duplicate_spans_sql("documents", "doc_id", "text", k=8)


QUERIES["x_docs_duplicate_spans"] = x_docs_duplicate_spans
ORACLES["x_docs_duplicate_spans"] = _duplicate_spans_sql()


def x_docs_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping over an HTML-wrapped view of the corpus (every
    document rendered into a deterministic page template — nav chrome,
    comments, script/style blocks, entity-escaped title — exactly the
    input a crawl-extraction stage sees).  Verifies text.strip_markup
    recovers the body text at scan speed."""
    from ..operators.text import strip_markup

    d = load(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("<html><head><title>doc &amp; "), F.col("doc_id").cast("string"),
        F.lit("</title><style>p{margin:0}</style></head><body>"
              "<script>track();</script><!-- chrome --><h1>T</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p></body></html>"),
    )
    return d.select(
        "doc_id",
        strip_markup(page).alias("clean_text"),
        F.length(strip_markup(page)).cast("long").alias("clean_len"),
    )


def _strip_html_sql() -> str:
    from ..operators.text import strip_markup_sql

    page = ("'<html><head><title>doc &amp; ' || doc_id || "
            "'</title><style>p{margin:0}</style></head><body>"
            "<script>track();</script><!-- chrome --><h1>T</h1><p>' || "
            "coalesce(text, '') || '</p></body></html>'")
    s = strip_markup_sql(page)
    return (f"SELECT doc_id, {s} AS clean_text, "
            f"CAST(length({s}) AS BIGINT) AS clean_len FROM documents")


QUERIES["x_docs_strip_html"] = x_docs_strip_html
ORACLES["x_docs_strip_html"] = _strip_html_sql()


def x_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column surface: parse the events.props JSON string
    with get_json_object (JVM-side JsonPath, no UDF), aggregate the
    extracted integer per event type.  Exact integer sums only — the
    cross-engine rounding rule bans order-dependent double avg."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(F.when(k.isNull(), 1)).alias("n_missing"),
        )
    )


_JSON_PROPS_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(count(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS BIGINT)
           AS n_missing
FROM events GROUP BY event_type
"""

QUERIES["x_events_json_props"] = x_events_json_props
ORACLES["x_events_json_props"] = _JSON_PROPS_SQL


def x_docs_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-report composition table: per (source, lang) exact doc /
    char / token totals and the corpus share (profile.dataset_card)."""
    from ..operators.profile import dataset_card

    return dataset_card(load(spark, sf_dir, "documents"),
                        ["source", "lang"], "text")


def _dataset_card_sql() -> str:
    from ..operators.profile import dataset_card_sql

    return dataset_card_sql("documents", ["source", "lang"], "text")


QUERIES["x_docs_dataset_card"] = x_docs_dataset_card
ORACLES["x_docs_dataset_card"] = _dataset_card_sql()


def x_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation with GROUPING_ID (completes the grouping-sets
    family next to tpch_rollup): event volume over every subset of
    {event_type, user_band}.  grouping_id disambiguates a genuine NULL
    key from a subtotal row, so no coalesce trick is needed for hash
    stability."""
    e = load(spark, sf_dir, "events").withColumn(
        "user_band", (F.col("user_id") % 4).cast("long"))
    return (
        e.cube("event_type", "user_band")
        .agg(F.grouping_id().cast("long").alias("gid"),
             F.count(F.lit(1)).alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("user_band").cast("string"), F.lit("ALL")).alias("user_band"),
            "gid",
            "n_events",
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )


_CUBE_SQL = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(user_band AS VARCHAR), 'ALL') AS user_band,
       CAST(GROUPING(event_type) * 2 + GROUPING(user_band) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM (SELECT event_type, CAST(user_id % 4 AS BIGINT) AS user_band, value FROM events)
GROUP BY CUBE (event_type, user_band)
"""

QUERIES["x_events_cube"] = x_events_cube
ORACLES["x_events_cube"] = _CUBE_SQL


def x_events_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-style URL canonicalization + host rollup over a URL-ized
    view of the event log (deterministic synthesis: mixed-case host
    shards, default port, tracking params, fragment — exactly the noise
    canonicalize_url exists to remove).  Rollup keys on the registered
    domain; n_canonical counts surviving distinct URLs (the exact-URL
    dedup key a crawl pipeline feeds downstream)."""
    from ..operators.web import (canonicalize_from_parts, registered_domain,
                                 url_parts)

    # project to the three synthesis columns, then round-robin spread
    # (r13): the events scan is a single byte-light split, so the per-row
    # regex parse otherwise runs at scan parallelism — serial.  Measured
    # interleaved min-of-4 at sf0.1: 1.34 -> 0.82 s (guide §2.6 idle
    # capacity; §2.2 project early so the exchange carries 3 columns).
    e = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id"
    ).repartition(spark.sparkContext.defaultParallelism)
    url = F.concat(
        F.lit("HTTP://Shard"), (F.col("user_id") % 5).cast("string"),
        F.lit(".Example."), F.when(F.col("user_id") % 2 == 0, "co.uk").otherwise("com"),
        F.lit(":80/"), F.col("event_type"),
        F.lit("?utm_source=feed&session="), (F.col("event_id") % 7).cast("string"),
        F.lit("&q=1#top"),
    )
    # one regex parse per row: the parts struct is aliased in its OWN
    # projection (multi-referenced → not collapsed), where the previous
    # composed-expression form re-ran the _URL_RE match per component —
    # ~12×/row measured (guide §1.2 per-task work)
    return (
        e.select(url_parts(url).alias("__u"))
        .select(canonicalize_from_parts(F.col("__u")).alias("canonical_url"),
                registered_domain(F.col("__u").getField("host")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("canonical_url").alias("n_canonical"))
    )


def _url_canon_sql() -> str:
    from ..operators.web import (canonicalize_url_sql, registered_domain_sql,
                                 url_host_sql)

    url = ("'HTTP://Shard' || (user_id % 5) || '.Example.' || "
           "CASE WHEN user_id % 2 = 0 THEN 'co.uk' ELSE 'com' END || "
           "':80/' || event_type || '?utm_source=feed&session=' || "
           "(event_id % 7) || '&q=1#top'")
    return f"""
WITH u AS (
    SELECT {canonicalize_url_sql(url)} AS canonical_url,
           {registered_domain_sql(url_host_sql(url))} AS domain
    FROM events
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical
FROM u GROUP BY domain
"""


QUERIES["x_events_url_canon"] = x_events_url_canon
ORACLES["x_events_url_canon"] = _url_canon_sql()


def x_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (similarity.hard_negatives): per
    query, top-5 corpus neighbors with cosine in [0.2, 0.95) — the band
    filter runs BEFORE the per-query rank so near-duplicates can't crowd
    out informative negatives.  IVF probe plan ≡ emb_ivf_topk's; the
    oracle mirrors the same probe so the compare is exact."""
    from ..operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 199 == 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    return similarity.hard_negatives(
        emb, "vec_id", "embedding", q, "qid", "qe",
        k=5, sim_lo=0.2, sim_hi=0.95, n_cells=16, n_probe=4)


_HARD_NEG_SQL = """
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id % 199 = 3),
cent AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cvec
         FROM embeddings WHERE vec_id < 16),
probe AS (SELECT qid, cell FROM (
    SELECT q.qid, c.cell,
           row_number() OVER (PARTITION BY q.qid
               ORDER BY round(list_cosine_similarity(c.cvec, q.qe), 6) DESC, c.cell) AS rn
    FROM q, cent c) t WHERE rn <= 4),
assign AS (SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
               ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 6) DESC, c.cell) AS rn
    FROM embeddings e, cent c) t WHERE rn = 1),
scored AS (
    SELECT p.qid, e.vec_id,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 4) AS cos_sim
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    JOIN probe p ON p.cell = a.cell
    JOIN q ON q.qid = p.qid
    WHERE round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 4) >= 0.2
      AND round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 4) < 0.95
      AND p.qid <> e.vec_id
)
SELECT qid, vec_id, cos_sim, CAST(rn AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rn
    FROM scored) t
WHERE rn <= 5
"""

QUERIES["x_emb_hard_negatives"] = x_emb_hard_negatives
ORACLES["x_emb_hard_negatives"] = _HARD_NEG_SQL


def x_events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality detection: exact autocorrelation of per-type hourly
    event counts at lags 1..6 (temporal.acf — integer-exact numerators
    via denominator clearing, single final IEEE division; ACF is over
    observed hour buckets in order)."""
    from ..operators.temporal import acf
    from .common import events_base

    hourly = (
        events_base(spark, sf_dir)
        .groupBy("event_type",
                 (F.floor(F.col("ts") / 3600)).cast("long").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return acf(hourly, ["event_type"], "hour", "n", max_lag=6)


def _acf_sql() -> str:
    from ..operators.temporal import acf_sql

    hourly = ("(SELECT event_type, CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS hour, "
              "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)")
    return acf_sql(hourly, ["event_type"], "hour", "n", max_lag=6)


QUERIES["x_events_acf"] = x_events_acf
ORACLES["x_events_acf"] = _acf_sql()


def x_docs_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-graph density diagnostic: triangle count over the simhash
    band-LSH near-dup graph (graph.triangle_count — degree-ordered
    orientation, O(m^1.5) wedge bound; clique-like vs chain-like shape
    picks the collapse strategy)."""
    from ..operators import dedup, text
    from ..operators.graph import triangle_count

    d = load(spark, sf_dir, "documents")
    sim = text.simhash_arrow(d, "doc_id", "text", 64)
    pairs = dedup.simhash_band_pairs(sim, "doc_id", n_bits=64)
    return triangle_count(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))


def _dup_triangles_sql() -> str:
    from ..operators.graph import triangle_count_sql
    from .docs import DOCS_SIMHASH_NEARDUP_SQL

    edges = ("SELECT id_a AS src, id_b AS dst FROM ("
             + DOCS_SIMHASH_NEARDUP_SQL + ")")
    return triangle_count_sql(edges)


QUERIES["x_docs_dup_triangles"] = x_docs_dup_triangles
ORACLES["x_docs_dup_triangles"] = _dup_triangles_sql()


def x_events_pseudonymized_k_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-gate audit over a pseudonymized event extract: user ids
    replaced by keyed sha256 pseudonyms (privacy.pseudonymize — joins
    still line up, raw ids never leave), then k-anonymity violations on
    the (event_type, value-band) quasi-identifier pair at k=5 rolled up
    to one auditable row per event_type."""
    from ..operators.privacy import k_anonymity_violations, pseudonymize

    e = load(spark, sf_dir, "events").select(
        pseudonymize(F.col("user_id"), "release-2024", 16).alias("pid"),
        "event_type",
        (F.floor(F.col("value") / 10)).cast("long").alias("value_band"),
    )
    v = k_anonymity_violations(e, ["event_type", "value_band"], k=5)
    return (
        v.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_violating_groups"),
             F.sum("n_records").alias("n_exposed_records"))
    )


def _k_anon_sql() -> str:
    from ..operators.privacy import k_anonymity_violations_sql

    inner = k_anonymity_violations_sql(
        "(SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS value_band FROM events)",
        ["event_type", "value_band"], k=5)
    return f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_violating_groups,
       CAST(sum(n_records) AS BIGINT) AS n_exposed_records
FROM ({inner}) v GROUP BY event_type
"""


QUERIES["x_events_pseudonymized_k_anon"] = x_events_pseudonymized_k_anon
ORACLES["x_events_pseudonymized_k_anon"] = _k_anon_sql()


def x_emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: cosine of every vector to its OWN
    label centroid; vectors pointing away (rounded cos < 0) are the
    mislabeled/garbage candidates a curation pass reviews.  Two small-key
    shuffles (posexplode avg -> regroup), centroid join broadcast."""
    emb = load(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode(F.col("embedding")).alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
    )
    cent = (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ps"))
        .select("label", F.col("ps.m").alias("cvec"))
    )
    dotc = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("cvec"),
                   lambda x, c: x.cast("double") * c),
        F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    nc = F.sqrt(F.aggregate(F.transform(F.col("cvec"), lambda c: c * c),
                            F.lit(0.0), lambda acc, x: acc + x))
    cos4 = F.round(dotc / (nv * nc), 4)
    return (
        emb.join(F.broadcast(cent), "label")
        .select("label", cos4.alias("c"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.when(F.col("c") < 0, 1)).alias("n_outliers"),
            F.min("c").alias("min_cos"),
        )
    )


_EMB_OUTLIERS_SQL = """
WITH per_dim AS (
    SELECT label, p.range AS pos,
           avg(CAST(embedding[CAST(p.range AS INTEGER) + 1] AS DOUBLE)) AS m
    FROM embeddings, range(0, 64) p GROUP BY label, p.range
), cent AS (
    SELECT label, list(m ORDER BY pos) AS cvec FROM per_dim GROUP BY label
), scored AS (
    SELECT e.label,
           round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec), 4) AS c
    FROM embeddings e JOIN cent c ON e.label = c.label
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(CASE WHEN c < 0 THEN 1 END) AS BIGINT) AS n_outliers,
       min(c) AS min_cos
FROM scored GROUP BY label
"""

QUERIES["x_emb_outliers"] = x_emb_outliers
ORACLES["x_emb_outliers"] = _EMB_OUTLIERS_SQL


def x_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed smoothing surface: per-type hourly counts with a centered
    3-bucket moving average and the hour-over-hour delta — the ROWS
    BETWEEN frame + lag in one window pass.  Counts are exact ints; the
    moving average divides an exact integer sum by an exact window size
    (count over the same frame), so no float accumulation exists."""
    from pyspark.sql import Window

    from .common import events_base

    hourly = (
        events_base(spark, sf_dir)
        .groupBy("event_type",
                 (F.floor(F.col("ts") / 3600) * 3600).cast("long").alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-1, 1)
    lagw = Window.partitionBy("event_type").orderBy("hour")
    return hourly.select(
        "event_type", "hour", "n",
        (F.sum("n").over(w).cast("double")
         / F.count(F.lit(1)).over(w).cast("double")).alias("ma3"),
        (F.col("n") - F.lag("n", 1).over(lagw)).cast("long").alias("delta"),
    )


_MOVING_AVG_SQL = """
WITH hourly AS (
    SELECT event_type, CAST(floor(epoch(ts) / 3600.0) AS BIGINT) * 3600 AS hour,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type, hour, n,
       CAST(sum(n) OVER w3 AS DOUBLE) / CAST(count(*) OVER w3 AS DOUBLE) AS ma3,
       CAST(n - lag(n, 1) OVER (PARTITION BY event_type ORDER BY hour) AS BIGINT) AS delta
FROM hourly
WINDOW w3 AS (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
"""

QUERIES["x_events_moving_avg"] = x_events_moving_avg
ORACLES["x_events_moving_avg"] = _MOVING_AVG_SQL


_DOC_RULES = [
    {"col": "doc_id", "kind": "not_null"},
    {"col": "doc_id", "kind": "unique"},
    {"col": "doc_id", "kind": "min", "value": 0},
    {"col": "lang", "kind": "accepted_values",
     "values": ["en", "de", "fr", "es", "zh"]},
    {"col": "source", "kind": "matches", "pattern": "^src[0-9]+$"},
    {"col": "n_chars", "kind": "max", "value": 100000},
]


def x_docs_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data contract over the documents table
    (profile.expectations_report — dbt-tests/Great-Expectations shape):
    every rule evaluated in one aggregate pass, report row per rule;
    plugs straight into the write_audit_publish gate."""
    from ..operators.profile import expectations_report

    return expectations_report(load(spark, sf_dir, "documents"), _DOC_RULES)


def _expectations_sql() -> str:
    from ..operators.profile import expectations_report_sql

    return expectations_report_sql("documents", _DOC_RULES)


QUERIES["x_docs_expectations"] = x_docs_expectations
ORACLES["x_docs_expectations"] = _expectations_sql()


def x_tpch_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the relational star: orphan
    counts for every FK edge (anti-joins — each is one broadcast/shuffle
    semi-join complement, no row ever widens).  The warehouse-health
    check a pipeline runs before trusting joins."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part")

    def orphans(child, fk, parent, pk, edge):
        n = (child.select(F.col(fk).alias("k"))
             .join(parent.select(F.col(pk).alias("k")), "k", "left_anti")
             .count())
        tot = child.count()
        return (edge, tot, n)

    rows = [
        orphans(o, "o_custkey", c, "c_custkey", "orders->customer"),
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem->orders"),
        orphans(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier"),
        orphans(li, "l_partkey", p, "p_partkey", "lineitem->part"),
    ]
    return spark.createDataFrame(
        rows, "fk_edge string, n_child_rows long, n_orphans long")


_FK_ORPHANS_SQL = """
SELECT 'orders->customer' AS fk_edge,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_child_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans
UNION ALL
SELECT 'lineitem->orders',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
UNION ALL
SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
"""

QUERIES["x_tpch_fk_orphans"] = x_tpch_fk_orphans
ORACLES["x_tpch_fk_orphans"] = _FK_ORPHANS_SQL


def x_docs_chunk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition law as an oracle: chunk_documents(64, overlap 8) then
    reassemble_chunks must be the IDENTITY on non-null text — the oracle
    side is simply the original table, so any drift in either operator's
    windowing rule breaks the hash."""
    from ..operators.text import chunk_documents, reassemble_chunks

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    ch = chunk_documents(d, "doc_id", "text", 64, overlap=8)
    return reassemble_chunks(
        ch.select("doc_id", "chunk_idx", "chunk_text"), "doc_id", overlap=8)


QUERIES["x_docs_chunk_roundtrip"] = x_docs_chunk_roundtrip
ORACLES["x_docs_chunk_roundtrip"] = (
    "SELECT doc_id, text FROM documents WHERE text IS NOT NULL")


def x_events_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-join rescue equivalence as an oracle: events (event_type is a
    5-value hot key by construction) salted-joined to a tiny type-dim
    must equal the plain SQL join — the oracle IS the unsalted join, so
    the salt/replicate/drop plumbing can never silently change results."""
    from ..operators.joins import salted_join

    e = load(spark, sf_dir, "events").select("event_id", "event_type")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 0), ("purchase", 5), ("signup", 3),
         ("error", -1)], "event_type string, weight int")
    j = salted_join(e, dim, "event_type", n_salts=8, how="left",
                    salt_cols=["event_id"])
    return j.select("event_id", "event_type",
                    F.col("weight").cast("long").alias("weight"))


_SALTED_SQL = """
SELECT e.event_id, e.event_type, CAST(d.weight AS BIGINT) AS weight
FROM events e LEFT JOIN (VALUES ('click', 1), ('view', 0), ('purchase', 5),
                                ('signup', 3), ('error', -1)) d(event_type, weight)
     ON d.event_type = e.event_type
"""

QUERIES["x_events_salted_enrich"] = x_events_salted_enrich
ORACLES["x_events_salted_enrich"] = _SALTED_SQL


def x_events_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence projection as an oracle: users active in the same
    hour become weighted edges (graph.co_occurrence — codegen pair
    expansion, hub-hour cap); the oracle is the plain distinct self-join.
    Weight >= 3 prunes incidental co-presence."""
    from ..operators.graph import co_occurrence
    from .common import events_base

    e = events_base(spark, sf_dir).select(
        "user_id", (F.floor(F.col("ts") / 3600)).cast("long").alias("hour"))
    return co_occurrence(e, "user_id", "hour", min_count=3,
                         max_context_size=40)


_COPRESENCE_SQL = """
WITH du AS (
    SELECT DISTINCT CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS hour, user_id
    FROM events
), sized AS (
    SELECT hour FROM du GROUP BY hour HAVING count(*) BETWEEN 2 AND 40
), d AS (SELECT du.* FROM du JOIN sized USING (hour))
SELECT a.user_id AS src, b.user_id AS dst,
       CAST(count(*) AS BIGINT) AS weight
FROM d a JOIN d b ON a.hour = b.hour AND a.user_id < b.user_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""

QUERIES["x_events_copresence"] = x_events_copresence
ORACLES["x_events_copresence"] = _COPRESENCE_SQL


def x_docs_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec data prep: skip-gram (center, context) pairs with window
    2 over a capped slice of the corpus (doc_id < 40 — pair fan-out is
    ~2w x tokens, the cap keeps the oracle comparison snappy), rolled up
    to pair counts (text.skipgram_pairs)."""
    from ..operators.text import skipgram_pairs

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    pairs = skipgram_pairs(d, "doc_id", "text", window=2)
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_pairs"))


def _skipgrams_sql() -> str:
    from ..operators.text import skipgram_pairs_sql

    inner = skipgram_pairs_sql(
        "(SELECT * FROM documents WHERE doc_id < 40)", "doc_id", "text", 2)
    return (f"SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs "
            f"FROM ({inner}) GROUP BY 1, 2")


QUERIES["x_docs_skipgrams"] = x_docs_skipgrams
ORACLES["x_docs_skipgrams"] = _skipgrams_sql()


def x_docs_subsample_frequent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec frequent-token subsampling over a corpus slice (doc_id <
    60): deterministic hash-draw against the p_keep = sqrt(t/f) + t/f
    discard rule, text rebuilt in order (text.subsample_frequent)."""
    from ..operators.text import subsample_frequent

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return subsample_frequent(d, "doc_id", "text", t=1e-3)


def _subsample_sql() -> str:
    from ..operators.text import subsample_frequent_sql

    return subsample_frequent_sql(
        "(SELECT * FROM documents WHERE doc_id < 60)", "doc_id", "text", t=1e-3)


QUERIES["x_docs_subsample_frequent"] = x_docs_subsample_frequent
ORACLES["x_docs_subsample_frequent"] = _subsample_sql()


def x_docs_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third leg of the word2vec prep (pairs → subsample →
    NEGATIVES): the unigram^0.75 noise-distribution table — top-100
    tokens by count with their smoothed sampling weight.  Weight stays
    UNNORMALIZED (count^0.75, one deterministic pow per row) — dividing
    by the corpus sum would inject an order-dependent double
    accumulation for zero informational gain; the trainer's sampler
    normalizes once on its own copy."""
    from ..operators.text import tokens

    d = load(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        F.explode(tokens(F.col("text"))).alias("tok"))
    return (
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .select("tok", "cnt",
                F.round(F.pow(F.col("cnt").cast("double"), 0.75), 6)
                .alias("neg_weight"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(100)
    )


_NEG_SAMPLING_SQL = """
SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
       round(pow(CAST(count(*) AS DOUBLE), 0.75), 6) AS neg_weight
FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS tok
    FROM documents WHERE text IS NOT NULL
) t GROUP BY tok
ORDER BY cnt DESC, tok LIMIT 100
"""

QUERIES["x_docs_negative_sampling"] = x_docs_negative_sampling
ORACLES["x_docs_negative_sampling"] = _NEG_SAMPLING_SQL


_FUZZY_D = 2


def x_customer_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution under the gate (operators/joins.py::fuzzy_join —
    Ed-Join q-gram prefix blocking + exact levenshtein verify): match a
    customer sample against a deterministically-corrupted copy of every
    customer name (7th char deleted — the classic dirty-record scenario).
    The DuckDB mirror is the BRUTE-FORCE length-filtered cross product,
    so parity proves the rarity-prefix candidate generator lossless —
    the same different-algorithm oracle discipline as x_docs_jaccard_join."""
    from ..operators.joins import fuzzy_join

    cust = load(spark, sf_dir, "customer")
    left = cust.filter(F.col("c_custkey") % 20 == 0).select("c_custkey", "c_name")
    right = cust.select(
        (F.col("c_custkey") + 1000000).alias("dirty_id"),
        F.concat(F.substring("c_name", 1, 6),
                 F.expr("substr(c_name, 8)")).alias("dirty_name"),
    )
    return presentation_sort(
        fuzzy_join(left, right, "c_custkey", "c_name",
                   "dirty_id", "dirty_name", _FUZZY_D),
        "c_custkey", "dirty_id")


def _fuzzy_match_sql() -> str:
    from ..operators.joins import fuzzy_join_sql

    inner = fuzzy_join_sql(
        "SELECT c_custkey, c_name FROM customer WHERE c_custkey % 20 = 0",
        "SELECT c_custkey + 1000000 AS dirty_id, "
        "substr(c_name, 1, 6) || substr(c_name, 8) AS dirty_name FROM customer",
        "c_custkey", "c_name", "dirty_id", "dirty_name", _FUZZY_D,
    )
    return inner + " ORDER BY c_custkey, dirty_id"


QUERIES["x_customer_fuzzy_match"] = x_customer_fuzzy_match
ORACLES["x_customer_fuzzy_match"] = _fuzzy_match_sql()


def x_docs_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming near-dup gate's decision rule under the gate
    (streaming/neardup.py): the KEPT ids of the one-shot batch dual —
    a doc is dropped iff an earlier (smaller-id) doc collides on an LSH
    band AND their md5-derived minhash signatures agree on >=
    ceil(0.6*8) components.  The stream-vs-batch composition contract is
    pinned in tests/test_streaming.py (sequential gating over any batch
    split == this set); this row pins the rule itself cross-engine."""
    from ..streaming.neardup import neardup_keep_ids

    d = load(spark, sf_dir, "documents")
    return presentation_sort(neardup_keep_ids(d, "doc_id", "text", threshold=0.6), "doc_id")


def _neardup_gate_sql() -> str:
    from ..streaming.neardup import neardup_keep_ids_sql

    return neardup_keep_ids_sql(
        "documents", "doc_id", "text", threshold=0.6
    ) + " ORDER BY doc_id"


QUERIES["x_docs_neardup_gate"] = x_docs_neardup_gate
ORACLES["x_docs_neardup_gate"] = _neardup_gate_sql()


_DSIR_B = 256


def x_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/sampling.py::dsir_weights —
    Xie et al. NeurIPS'23): score every non-src1 document against the
    src1 exemplar slice over 256 hashed unigram+bigram buckets.  The
    DuckDB mirror rebuilds the identical md5 bucket hash and smoothed
    log-ratio model, so parity pins the whole feature → bucket → weight
    pipeline (values to summation noise, covered by the harness's 1e-9
    float tolerance)."""
    from ..operators.sampling import dsir_weights

    docs = load(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != "src1").select("doc_id", "text")
    tgt = docs.filter(F.col("source") == "src1").select("doc_id", "text")
    return presentation_sort(
        dsir_weights(raw, tgt, "doc_id", "text", n_buckets=_DSIR_B),
        "doc_id")


def _dsir_weights_sql() -> str:
    from ..operators.sampling import dsir_weights_sql

    return dsir_weights_sql(
        "SELECT doc_id, text FROM documents WHERE source <> 'src1'",
        "SELECT doc_id, text FROM documents WHERE source = 'src1'",
        "doc_id", "text", n_buckets=_DSIR_B,
    ) + " ORDER BY 1"


QUERIES["x_docs_dsir_weights"] = x_docs_dsir_weights
ORACLES["x_docs_dsir_weights"] = _dsir_weights_sql()


def x_docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: the top-50 raw docs by importance weight — the
    k-boundary determinism contract (9-dp rounding + doc_id tie-break)
    checked cross-engine, on top of the weight parity above."""
    from ..operators.sampling import dsir_select

    docs = load(spark, sf_dir, "documents")
    raw = docs.filter(F.col("source") != "src1").select("doc_id", "text")
    tgt = docs.filter(F.col("source") == "src1").select("doc_id", "text")
    return presentation_sort(
        dsir_select(raw, tgt, "doc_id", "text", k=50, n_buckets=_DSIR_B),
        F.col("logw").desc(), F.col("doc_id"))


def _dsir_select_sql() -> str:
    from ..operators.sampling import dsir_select_sql

    return dsir_select_sql(
        "SELECT doc_id, text FROM documents WHERE source <> 'src1'",
        "SELECT doc_id, text FROM documents WHERE source = 'src1'",
        "doc_id", "text", k=50, n_buckets=_DSIR_B,
    )


QUERIES["x_docs_dsir_select"] = x_docs_dsir_select
ORACLES["x_docs_dsir_select"] = _dsir_select_sql()


def x_promql_mad_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL 3.x range-function completion (functions/promql.py):
    mad_over_time (interpolated median-of-|dev|), ts_of_max/min_over_time
    (extreme-sample timestamps, Prometheus's latest-ts tie-break), and
    present_over_time, per series per 1d window — one joined frame so a
    single oracle pins all four against DuckDB's quantile_cont /
    windowed-rank rebuild."""
    from ..functions import promql
    from .promql_q import _dedup_rel
    from .common import EV_END, EV_START, flatten_labels

    rel = _dedup_rel(spark, sf_dir)
    step = 86_400
    mad = promql.mad_over_time(rel, EV_START, EV_END, step).select(
        "series_key", "labels", "window_start",
        F.round("value", 4).alias("mad"))
    parts = {
        "ts_max": "ts_of_max", "ts_min": "ts_of_min", "present": "present",
    }
    out = mad
    for col, fn in parts.items():
        piece = promql.over_time(rel, fn, EV_START, EV_END, step).select(
            "series_key", "window_start", F.col("value").alias(col))
        out = out.join(piece, ["series_key", "window_start"])
    return flatten_labels(out.drop("series_key")).orderBy(
        "metric", "user", "k", "window_start")


def _mad_extrema_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END, EV_START

    step = 86_400
    ws = f"CAST(floor((ts - {EV_START}) / {step}) * {step} + {EV_START} AS BIGINT)"
    return f"""{_DEDUP},
w AS (SELECT metric, user, k, ts, value, {ws} AS window_start FROM d),
med AS (SELECT metric, user, k, window_start, quantile_cont(value, 0.5) AS med
        FROM w GROUP BY 1, 2, 3, 4),
mad AS (SELECT w.metric, w.user, w.k, w.window_start,
               round(CAST(quantile_cont(abs(w.value - med.med), 0.5) AS DOUBLE), 4) AS mad
        FROM w JOIN med USING (metric, user, k, window_start)
        GROUP BY 1, 2, 3, 4),
rk AS (SELECT *,
        row_number() OVER (PARTITION BY metric, user, k, window_start
                           ORDER BY value DESC, ts DESC) AS rmax,
        row_number() OVER (PARTITION BY metric, user, k, window_start
                           ORDER BY value ASC, ts DESC) AS rmin
       FROM w),
ex AS (SELECT metric, user, k, window_start,
              CAST(max(CASE WHEN rmax = 1 THEN ts END) AS DOUBLE) AS ts_max,
              CAST(max(CASE WHEN rmin = 1 THEN ts END) AS DOUBLE) AS ts_min,
              1.0 AS present
       FROM rk GROUP BY 1, 2, 3, 4)
SELECT mad.metric, mad.user, mad.k, mad.window_start, mad.mad,
       ex.ts_max, ex.ts_min, ex.present
FROM mad JOIN ex USING (metric, user, k, window_start)
ORDER BY 1, 2, 3, 4
"""


QUERIES["x_promql_mad_extrema"] = x_promql_mad_extrema
ORACLES["x_promql_mad_extrema"] = _mad_extrema_sql()


_CAL_FNS = ["minute", "hour", "day_of_week", "day_of_month", "day_of_year",
            "days_in_month", "month", "year"]


def x_promql_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL calendar functions over each series' last-sample timestamp
    (UTC, day_of_week 0=Sunday): every function as a labeled row, so the
    oracle pins the whole _CALENDAR table against DuckDB extract()."""
    from ..functions import promql
    from .promql_q import _dedup_rel
    from .common import EV_END, flatten_labels

    vec = promql.instant(_dedup_rel(spark, sf_dir), EV_END, 86_400)
    tsvec = vec.withColumn("value", F.col("ts").cast("double"))
    pieces = [
        promql.calendar(tsvec, fn).select(
            "labels", F.lit(fn).alias("fn"), "value")
        for fn in _CAL_FNS
    ]
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return flatten_labels(out).orderBy("metric", "user", "k", "fn")


def _calendar_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END

    exprs = {
        "minute": "extract('minute' FROM t)",
        "hour": "extract('hour' FROM t)",
        "day_of_week": "extract('dow' FROM t)",
        "day_of_month": "extract('day' FROM t)",
        "day_of_year": "extract('doy' FROM t)",
        "days_in_month": "extract('day' FROM last_day(t))",
        "month": "extract('month' FROM t)",
        "year": "extract('year' FROM t)",
    }
    arms = "\nUNION ALL\n".join(
        f"SELECT metric, user, k, '{fn}' AS fn, CAST({e} AS DOUBLE) AS value FROM latest"
        for fn, e in exprs.items()
    )
    return f"""{_DEDUP},
lat0 AS (
    SELECT metric, user, k, ts,
           row_number() OVER (PARTITION BY metric, user, k ORDER BY ts DESC) AS rn
    FROM d WHERE ts BETWEEN {EV_END - 86_400} AND {EV_END}
),
latest AS (SELECT metric, user, k, epoch_ms(ts * 1000) AS t FROM lat0 WHERE rn = 1)
{arms}
ORDER BY 1, 2, 3, 4
"""


QUERIES["x_promql_calendar"] = x_promql_calendar
ORACLES["x_promql_calendar"] = _calendar_sql()


def x_promql_quantile_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-series aggregators completing the PromQL set: quantile by
    (user) (0.9, vec) — interpolated across the label group's series —
    and group by (user) (vec) (constant 1.0 per group)."""
    from ..functions import promql
    from .promql_q import _dedup_rel
    from .common import EV_END

    vec = promql.instant(_dedup_rel(spark, sf_dir), EV_END, 86_400)
    q = promql.agg_quantile_by(vec, 0.9, ["user"]).select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 4).alias("q90"))
    g = promql.agg_by(vec, "group", ["user"]).select(
        F.col("labels").getItem("user").alias("user"),
        F.col("value").alias("grp"))
    return q.join(g, "user").orderBy("user")


def _quantile_group_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END

    return f"""{_DEDUP},
lat0 AS (
    SELECT metric, user, k, value,
           row_number() OVER (PARTITION BY metric, user, k ORDER BY ts DESC) AS rn
    FROM d WHERE ts BETWEEN {EV_END - 86_400} AND {EV_END}
)
SELECT user, round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS q90, 1.0 AS grp
FROM lat0 WHERE rn = 1
GROUP BY user ORDER BY user
"""


QUERIES["x_promql_quantile_group_agg"] = x_promql_quantile_group_agg
ORACLES["x_promql_quantile_group_agg"] = _quantile_group_sql()


def x_promql_absent_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """absent_over_time on a series that goes silent mid-range: the 1d
    grid windows after the cut (and only those) emit {absent=true} 1.0 —
    generated grid anti-joined against present windows, no data scan for
    the grid side."""
    from ..functions import promql
    from .promql_q import _dedup_rel
    from .common import EV_END, EV_START

    cut = EV_START + 5 * 86_400
    rel = _dedup_rel(spark, sf_dir).filter(F.col("ts") < cut)
    out = promql.absent_over_time(rel, EV_START, EV_END, 86_400)
    return out.select(
        F.col("labels").getItem("absent").alias("absent"),
        "window_start", "value",
    ).orderBy("window_start")


def _absent_windows_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END, EV_START

    step, cut = 86_400, EV_START + 5 * 86_400
    ws = f"CAST(floor((ts - {EV_START}) / {step}) * {step} + {EV_START} AS BIGINT)"
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({EV_START}, {EV_END} + 1, {step})) AS window_start),
present AS (SELECT DISTINCT {ws} AS window_start FROM d WHERE ts < {cut})
SELECT 'true' AS absent, window_start, 1.0 AS value
FROM grid
WHERE window_start NOT IN (SELECT window_start FROM present)
ORDER BY window_start
"""


QUERIES["x_promql_absent_windows"] = x_promql_absent_windows
ORACLES["x_promql_absent_windows"] = _absent_windows_sql()


def x_promql_text_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PromQL TEXT front-end (functions/promql_parser.py) end-to-end:
    ``sum by (user) (rate(click[10d]))`` parsed from text and evaluated as
    an instant query at EV_END — the [10d] range lands exactly on
    [EV_START, EV_END], so the oracle is the registry's rate CTE summed
    per user.  Pins lexer → AST → range-function lowering → agg_by."""
    from ..functions.promql_parser import eval_instant
    from .promql_q import _dedup_rel
    from .common import EV_END

    out = eval_instant(_dedup_rel(spark, sf_dir),
                       "sum by (user) (rate(click[10d]))", EV_END)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 8).alias("rate_sum"),
    ).orderBy("user")


def _text_rate_sql() -> str:
    from .promql_q import _DEDUP, _INC_CTE

    return f"""{_DEDUP}, {_INC_CTE}
SELECT user, round(CAST(sum(total / span) AS DOUBLE), 8) AS rate_sum
FROM inc WHERE metric = 'click' AND n >= 2 AND span > 0
GROUP BY user ORDER BY user
"""


QUERIES["x_promql_text_rate"] = x_promql_text_rate
ORACLES["x_promql_text_rate"] = _text_rate_sql()


def x_promql_text_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT front-end vector/vector matching: ``max by (user) (click)
    / on(user) (max by (user) (view) > 0)`` — instant vectors (1d
    lookback), a plain comparison FILTERING zero denominators (PromQL
    filter semantics, not bool), then one-to-one on(user) division.
    max-aggregation keeps both engines order-independent on doubles."""
    from ..functions.promql_parser import eval_instant
    from .promql_q import _dedup_rel
    from .common import EV_END

    q = "max by (user) (click) / on(user) (max by (user) (view) > 0)"
    out = eval_instant(_dedup_rel(spark, sf_dir), q, EV_END, lookback=86_400)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 6).alias("ratio"),
    ).orderBy("user")


def _text_ratio_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END

    return f"""{_DEDUP},
lat0 AS (
    SELECT metric, user, k, value,
           row_number() OVER (PARTITION BY metric, user, k ORDER BY ts DESC) AS rn
    FROM d WHERE ts BETWEEN {EV_END - 86_400} AND {EV_END}
),
m AS (
    SELECT metric, user, max(value) AS v
    FROM lat0 WHERE rn = 1 AND metric IN ('click', 'view')
    GROUP BY 1, 2
)
SELECT c.user, round(CAST(c.v / v.v AS DOUBLE), 6) AS ratio
FROM (SELECT user, v FROM m WHERE metric = 'click') c
JOIN (SELECT user, v FROM m WHERE metric = 'view' AND v > 0) v USING (user)
ORDER BY user
"""


QUERIES["x_promql_text_ratio"] = x_promql_text_ratio
ORACLES["x_promql_text_ratio"] = _text_ratio_sql()


def x_promql_text_setop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT front-end set operator + scalar comparison: ``count(max by
    (user) (click) unless on(user) (max by (user) (view) > 100))`` — the
    users whose latest-max view sample does NOT exceed 100 (or who have
    no view samples at all), anti-joined from the click side, then the
    bare count() aggregation collapsing to one labels-less row."""
    from ..functions.promql_parser import eval_instant
    from .promql_q import _dedup_rel
    from .common import EV_END

    q = ("count(max by (user) (click) "
         "unless on(user) (max by (user) (view) > 100))")
    out = eval_instant(_dedup_rel(spark, sf_dir), q, EV_END, lookback=86_400)
    return out.select(F.col("value").cast("long").alias("n_users"))


def _text_setop_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END

    return f"""{_DEDUP},
lat0 AS (
    SELECT metric, user, k, value,
           row_number() OVER (PARTITION BY metric, user, k ORDER BY ts DESC) AS rn
    FROM d WHERE ts BETWEEN {EV_END - 86_400} AND {EV_END}
),
m AS (
    SELECT metric, user, max(value) AS v
    FROM lat0 WHERE rn = 1 AND metric IN ('click', 'view')
    GROUP BY 1, 2
)
SELECT count(*) AS n_users
FROM (SELECT user FROM m WHERE metric = 'click') c
WHERE c.user NOT IN (SELECT user FROM m WHERE metric = 'view' AND v > 100)
"""


QUERIES["x_promql_text_setop"] = x_promql_text_setop
ORACLES["x_promql_text_setop"] = _text_setop_sql()


def x_promql_range_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL RANGE query (the dashboard surface) through the text
    front-end: ``sum by (user) (rate(click[4d]))`` at every grid point
    t = EV_START+4d + k·1d — promql.grid_rate's explode-to-covering-
    points + per-(series, t) reset-aware increase, summed per (user, t).
    The oracle rebuilds the same grid with a DuckDB range() join."""
    from ..functions.promql_parser import eval_range
    from .promql_q import _dedup_rel
    from .common import EV_END, EV_START

    g0 = EV_START + 4 * 86_400
    out = eval_range(_dedup_rel(spark, sf_dir),
                     "sum by (user) (rate(click[4d]))", g0, EV_END, 86_400)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "ts",
        F.round("value", 8).alias("rate_sum"),
    ).orderBy("user", "ts")


def _range_rate_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END, EV_START

    g0, w = EV_START + 4 * 86_400, 4 * 86_400
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t),
j AS (
    SELECT d.user, d.k, d.ts, d.value, g.t
    FROM d JOIN grid g ON d.ts BETWEEN g.t - {w} + 1 AND g.t
    WHERE d.metric = 'click'
),
s AS (SELECT *, lag(value) OVER (PARTITION BY user, k, t ORDER BY ts) AS prev
      FROM j),
inc AS (
    SELECT user, k, t,
           sum(CASE WHEN prev IS NULL THEN 0
                    WHEN value >= prev THEN value - prev
                    ELSE value END) AS total,
           max(ts) - min(ts) AS span, count(*) AS n
    FROM s GROUP BY 1, 2, 3
)
SELECT user, t AS ts, round(CAST(sum(total / span) AS DOUBLE), 8) AS rate_sum
FROM inc WHERE n >= 2 AND span > 0
GROUP BY user, t ORDER BY user, t
"""


QUERIES["x_promql_range_rate"] = x_promql_range_rate
ORACLES["x_promql_range_rate"] = _range_rate_sql()


def x_promql_range_sliding_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE query with a SLIDING over_time window (vs the tumbling
    registry queries): ``max by (user) (max_over_time(view[2d]))`` every
    1d — windows overlap by half, so each sample serves two grid points
    (promql.grid_over_time's bounded fan-out).  max is order-independent,
    keeping the cross-engine comparison exact."""
    from ..functions.promql_parser import eval_range
    from .promql_q import _dedup_rel
    from .common import EV_END, EV_START

    g0 = EV_START + 2 * 86_400
    out = eval_range(_dedup_rel(spark, sf_dir),
                     "max by (user) (max_over_time(view[2d]))",
                     g0, EV_END, 86_400)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "ts",
        F.round("value", 6).alias("vmax"),
    ).orderBy("user", "ts")


def _range_sliding_max_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END, EV_START

    g0, w = EV_START + 2 * 86_400, 2 * 86_400
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t)
SELECT d.user, g.t AS ts, round(CAST(max(d.value) AS DOUBLE), 6) AS vmax
FROM d JOIN grid g ON d.ts BETWEEN g.t - {w} + 1 AND g.t
WHERE d.metric = 'view'
GROUP BY d.user, g.t ORDER BY d.user, g.t
"""


QUERIES["x_promql_range_sliding_max"] = x_promql_range_sliding_max
ORACLES["x_promql_range_sliding_max"] = _range_sliding_max_sql()


def x_promql_alert_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus ALERTING rule through the text front-end
    (promql_parser.eval_alerts): ``max by (user) (view) > 83`` on the
    daily grid with ``for: 2d`` — activation runs via gaps-and-islands
    over consecutive grid points per series, FIRING once a run has
    persisted 2 days (firing_since = active_since + for).  The oracle
    rebuilds grid → latest-per-series → max-by-user → threshold →
    row_number-difference islands in DuckDB."""
    from ..functions.promql_parser import eval_alerts
    from .promql_q import _dedup_rel
    from .common import EV_END, EV_START

    g0, step, for_d = EV_START + 86_400, 86_400, 2 * 86_400
    out = eval_alerts(_dedup_rel(spark, sf_dir),
                      "max by (user) (view) > 83",
                      for_d, g0, EV_END, step, lookback=86_400)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "active_since", "last_active",
        F.col("n_evals").cast("long").alias("n_evals"),
        F.col("firing").cast("boolean").alias("firing"),
        F.col("firing_since").cast("long").alias("firing_since"),
    ).orderBy("user", "active_since")


def _alert_rule_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END, EV_START

    g0, step, for_d = EV_START + 86_400, 86_400, 2 * 86_400
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, {step})) AS t),
j AS (
    SELECT d.user, d.k, d.ts, d.value, g.t
    FROM d JOIN grid g ON d.ts BETWEEN g.t - 86400 AND g.t
    WHERE d.metric = 'view'
),
lat AS (SELECT user, k, t, value,
        row_number() OVER (PARTITION BY user, k, t ORDER BY ts DESC) AS rn
        FROM j),
m AS (SELECT user, t, max(value) AS v FROM lat WHERE rn = 1 GROUP BY 1, 2),
act AS (SELECT user, t,
        row_number() OVER (PARTITION BY user ORDER BY t) AS rn
        FROM m WHERE v > 83),
runs AS (
    SELECT user, min(t) AS active_since, max(t) AS last_active,
           count(*) AS n_evals
    FROM act GROUP BY user, t / {step} - rn
)
SELECT user, active_since, last_active, n_evals,
       last_active - active_since >= {for_d} AS firing,
       CASE WHEN last_active - active_since >= {for_d}
            THEN active_since + {for_d} END AS firing_since
FROM runs ORDER BY user, active_since
"""


QUERIES["x_promql_alert_rule"] = x_promql_alert_rule
ORACLES["x_promql_alert_rule"] = _alert_rule_sql()


def x_promql_range_stepscalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-point scalars in RANGE queries (the stepscalar kind):
    ``count(view > time() / 20000000)`` on the daily grid — time()
    materializes the generated grid, the comparison joins it to every
    series row per step (filter semantics), and the bare count collapses
    per eval point.  The oracle rebuilds grid → latest-per-series →
    per-t threshold → count in DuckDB."""
    from ..functions.promql_parser import eval_range
    from .promql_q import _dedup_rel
    from .common import EV_END, EV_START

    g0 = EV_START + 86_400
    out = eval_range(_dedup_rel(spark, sf_dir),
                     "count(view > time() / 20000000)",
                     g0, EV_END, 86_400, lookback=86_400)
    return out.select(
        "ts", F.col("value").cast("long").alias("n_series")
    ).orderBy("ts")


def _range_stepscalar_sql() -> str:
    from .promql_q import _DEDUP
    from .common import EV_END, EV_START

    g0 = EV_START + 86_400
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t),
j AS (
    SELECT d.user, d.k, d.ts, d.value, g.t
    FROM d JOIN grid g ON d.ts BETWEEN g.t - 86400 AND g.t
    WHERE d.metric = 'view'
),
lat AS (SELECT user, k, t, value,
        row_number() OVER (PARTITION BY user, k, t ORDER BY ts DESC) AS rn
        FROM j)
SELECT t AS ts, count(*) AS n_series
FROM lat WHERE rn = 1 AND value > t / 20000000.0
GROUP BY t ORDER BY t
"""


QUERIES["x_promql_range_stepscalar"] = x_promql_range_stepscalar
ORACLES["x_promql_range_stepscalar"] = _range_stepscalar_sql()


def x_promql_range_quantile_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-mode cross-series quantile: ``quantile without (k) (0.9,
    view)`` at every grid point — grid_instant's newest-sample-per-series
    vector feeds the grouped rank-probe engine keyed on (retained labels,
    ts) (sketch.grouped_quantile_cont, the r8 verdict's scale-safe
    replacement for a per-group exact percentile over unbounded series
    groups).  The oracle rebuilds the grid with a DuckDB range() join,
    row_number latest-per-series, and quantile_cont per (user, t)."""
    from ..functions.promql_parser import eval_range
    from .common import EV_END, EV_START
    from .promql_q import _dedup_rel

    g0 = EV_START + 86_400
    out = eval_range(_dedup_rel(spark, sf_dir),
                     "quantile without (k) (0.9, view)",
                     g0, EV_END, 86_400, lookback=86_400)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "ts",
        F.round("value", 4).alias("q90"),
    ).orderBy("user", "ts")


def _range_quantile_group_sql() -> str:
    from .common import EV_END, EV_START
    from .promql_q import _DEDUP

    g0 = EV_START + 86_400
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t),
j AS (
    SELECT d.user, d.k, d.ts, d.value, g.t
    FROM d JOIN grid g ON d.ts BETWEEN g.t - 86400 AND g.t
    WHERE d.metric = 'view'
),
lat AS (SELECT user, k, t, value,
        row_number() OVER (PARTITION BY user, k, t ORDER BY ts DESC) AS rn
        FROM j)
SELECT user, t AS ts,
       round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS q90
FROM lat WHERE rn = 1
GROUP BY user, t ORDER BY user, t
"""


QUERIES["x_promql_range_quantile_group"] = x_promql_range_quantile_group
ORACLES["x_promql_range_quantile_group"] = _range_quantile_group_sql()


def x_promql_sliding_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >cap fan-out lowering as a first-class oracle query:
    ``grid_over_time_sliding`` (dense step-bucket spine + running sums +
    lag differencing — promql.py, r8 verdict #3) computes
    sum_over_time(view[2d]) every 1d per series, re-aggregated by user.
    round(…, 4) absorbs the cumulative-differencing float-associativity
    delta the SCALE.md section documents; values and grouping must match
    DuckDB's direct window sums exactly otherwise."""
    from ..functions import promql as P
    from .common import EV_END, EV_START
    from .promql_q import _dedup_rel

    g0 = EV_START + 2 * 86_400
    rel = _dedup_rel(spark, sf_dir).filter(
        F.col("labels").getItem("__name__") == "view")
    out = P.grid_over_time_sliding(rel, "sum", g0, EV_END,
                                   2 * 86_400, 86_400)
    return (
        out.groupBy(F.col("labels").getItem("user").alias("user"), "ts")
        .agg(F.round(F.sum("value"), 4).alias("wsum"))
        .orderBy("user", "ts")
    )


def _sliding_sum_sql() -> str:
    from .common import EV_END, EV_START
    from .promql_q import _DEDUP

    g0, w = EV_START + 2 * 86_400, 2 * 86_400
    return f"""{_DEDUP},
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t),
j AS (
    SELECT d.user, d.ts, d.value, g.t
    FROM d JOIN grid g ON d.ts BETWEEN g.t - {w} + 1 AND g.t
    WHERE d.metric = 'view'
)
SELECT user, t AS ts, round(CAST(sum(value) AS DOUBLE), 4) AS wsum
FROM j GROUP BY user, t ORDER BY user, t
"""


QUERIES["x_promql_sliding_sum"] = x_promql_sliding_sum
ORACLES["x_promql_sliding_sum"] = _sliding_sum_sql()


def x_promql_subquery_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERAL subquery inner (round 9): ``max_over_time(sum by (user)
    (view)[2d:1d])`` — the inner AGGREGATION evaluates once on the
    aligned daily fine grid via the range evaluator (pseudo-samples),
    then one per-series max; never a per-step replay of the inner plan.
    The oracle rebuilds the aligned points, latest-per-series instant
    vectors, per-point sums, and the outer max in DuckDB."""
    from ..functions.promql_parser import eval_instant
    from .common import EV_END
    from .promql_q import _dedup_rel

    out = eval_instant(_dedup_rel(spark, sf_dir),
                       "max_over_time(sum by (user)(view)[2d:1d])",
                       EV_END, lookback=86_400)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 4).alias("peak"),
    ).orderBy("user")


def _subquery_general_sql() -> str:
    from .common import EV_END
    from .promql_q import _DEDUP

    s_start = EV_END - 2 * 86_400 + 1
    lo = -(-s_start // 86_400) * 86_400
    hi = (EV_END // 86_400) * 86_400
    return f"""{_DEDUP},
pts AS (SELECT unnest(range({lo}, {hi} + 1, 86400)) AS t),
j AS (
    SELECT d.user, d.k, d.ts, d.value, p.t
    FROM d JOIN pts p ON d.ts BETWEEN p.t - 86400 AND p.t
    WHERE d.metric = 'view'
),
lat AS (SELECT user, k, t, value,
        row_number() OVER (PARTITION BY user, k, t ORDER BY ts DESC) AS rn
        FROM j),
s AS (SELECT user, t, sum(value) AS sv FROM lat WHERE rn = 1 GROUP BY user, t)
SELECT user, round(CAST(max(sv) AS DOUBLE), 4) AS peak
FROM s GROUP BY user ORDER BY user
"""


QUERIES["x_promql_subquery_general"] = x_promql_subquery_general
ORACLES["x_promql_subquery_general"] = _subquery_general_sql()


# ---------------------------------------------------------------------------
# native histograms (functions/native_hist.py): the exponential-bucket math
# replicated verbatim in DuckDB SQL — index correction, cumulative walk, and
# exponential in-bucket interpolation
# ---------------------------------------------------------------------------

#: shared SQL fragment: click observations bucketized at schema 3
#: (idx = smallest i with v <= 2^(i/8), float-noise-corrected one step
#: each way exactly like native_hist.exp_bucket_index)
def _nh_bucketize_sql(src: str) -> str:
    return f"""
ix0 AS (SELECT *, CAST(ceil(log2(value) * 8) AS INT) AS raw FROM {src}),
ix1 AS (SELECT *, CASE WHEN power(2.0, (raw - 1) / 8.0) >= value
                       THEN raw - 1 ELSE raw END AS i1 FROM ix0),
ix AS (SELECT *, CASE WHEN power(2.0, i1 / 8.0) < value
                      THEN i1 + 1 ELSE i1 END AS idx FROM ix1)
"""


def x_promql_native_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_quantile(0.5, h) over NATIVE histograms: one histogram
    per user built from every click value in the window
    (native_hist.observe_histograms → hist_quantile — the same operators
    the PromQL text front-end calls).  The oracle replays the exponential
    bucket geometry in SQL: corrected ceil(log2·2^s) index, value-ordered
    cumulative walk, exponential in-bucket interpolation."""
    from ..functions import native_hist as nh
    from .common import EV_END, EV_START, events_relation

    rel = events_relation(spark, sf_dir, EV_START, EV_END).filter(
        F.col("ts").between(EV_START, EV_END)
        & (F.col("labels").getItem("__name__") == "click")
    )
    obs = rel.select(
        F.lit("click_nh").alias("metric"),
        F.create_map(F.lit("user"), F.col("labels").getItem("user")).alias("labels"),
        F.lit(EV_START).cast("long").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    snaps = nh.observe_histograms(obs)
    out = nh.hist_quantile(snaps, 0.5)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 6).alias("p50"),
    ).transform(lambda d: presentation_sort(d, "user"))


def _native_hist_quantile_sql() -> str:
    from .common import EV_END, EV_START, TSDB_SQL_REL

    return f"""
WITH rel AS ({TSDB_SQL_REL}),
src AS (
    SELECT user, value FROM rel
    WHERE ts BETWEEN {EV_START} AND {EV_END} AND metric = 'click'
),
{_nh_bucketize_sql('src')},
b AS (SELECT user, idx, CAST(count(*) AS DOUBLE) AS cnt FROM ix GROUP BY 1, 2),
c AS (SELECT user, idx, cnt,
             sum(cnt) OVER (PARTITION BY user ORDER BY idx) AS cum,
             sum(cnt) OVER (PARTITION BY user) AS total
      FROM b),
hit AS (SELECT *, row_number() OVER (PARTITION BY user ORDER BY idx) AS rn
        FROM c WHERE cum >= 0.5 * total)
SELECT user,
       round(power(2.0, (idx - 1 + (0.5 * total - (cum - cnt)) / cnt) / 8.0),
             6) AS p50
FROM hit WHERE rn = 1 ORDER BY user
"""


QUERIES["x_promql_native_hist_quantile"] = x_promql_native_hist_quantile
ORACLES["x_promql_native_hist_quantile"] = _native_hist_quantile_sql()


def _nh_daily_rel(spark: SparkSession, sf_dir: str,
                  keep_k: bool = True) -> DataFrame:
    """Cumulative native-histogram counter series from events: one sample
    per (user[, k], day) of click values, accumulated since the window
    start (observe_histograms → accumulate_histograms).  ``keep_k=False``
    collapses to per-user series — denser sample sequences for the
    rate-window extra."""
    from ..functions import native_hist as nh
    from .common import EV_END, EV_START, events_relation

    rel = events_relation(spark, sf_dir, EV_START, EV_END).filter(
        F.col("ts").between(EV_START, EV_END)
        & (F.col("labels").getItem("__name__") == "click")
    )
    dropped = ("__name__",) if keep_k else ("__name__", "k")
    obs = rel.select(
        F.lit("click_nh").alias("metric"),
        F.map_filter(
            F.col("labels"),
            lambda key, _: ~key.isin(*[F.lit(d) for d in dropped]),
        ).alias("labels"),
        (F.lit(EV_START)
         + F.floor((F.col("ts") - EV_START) / 86_400).cast("long") * 86_400
         ).cast("long").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )
    # Materialize the built samples once (localCheckpoint) — standing in
    # for the production shape, where the grid evaluator reads histogram
    # SAMPLES from the seg-pruned HistStore parquet rather than replaying
    # the observe→accumulate build inside every consumer subtree.
    return nh.accumulate_histograms(nh.observe_histograms(obs)).localCheckpoint()


def x_promql_native_hist_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE query over native histograms through the text front-end:
    ``histogram_count(sum by (user) (click_nh))`` on a daily grid —
    grid_hist_instant (newest structured sample per (series, t) within
    lookback) + hist_sum_by's element-wise merge per eval point + the
    count extractor.  Counts are integers, so the parity is exact."""
    from ..functions.promql_parser import eval_range
    from .common import EV_END, EV_START
    from .promql_q import _dedup_rel

    hist_rel = _nh_daily_rel(spark, sf_dir)
    g0 = EV_START + 86_400
    out = eval_range(_dedup_rel(spark, sf_dir),
                     "histogram_count(sum by (user) (click_nh))",
                     g0, EV_END, 86_400, lookback=2 * 86_400 - 1,
                     hist_rel=hist_rel)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "ts",
        F.col("value").cast("long").alias("n_obs"),
    ).transform(lambda d: presentation_sort(d, "user", "ts"))


def _native_hist_range_count_sql() -> str:
    from .common import EV_END, EV_START, TSDB_SQL_REL

    g0, lb = EV_START + 86_400, 2 * 86_400 - 1
    return f"""
WITH rel AS ({TSDB_SQL_REL}),
src AS (
    SELECT user, k,
           {EV_START} + CAST(floor((ts - {EV_START}) / 86400.0) AS BIGINT)
               * 86400 AS day,
           value
    FROM rel WHERE ts BETWEEN {EV_START} AND {EV_END} AND metric = 'click'
),
samples AS (SELECT user, k, day, count(*) AS c FROM src GROUP BY 1, 2, 3),
cum AS (SELECT user, k, day,
               sum(c) OVER (PARTITION BY user, k ORDER BY day) AS cumc
        FROM samples),
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t),
newest AS (
    SELECT c.user, c.k, g.t, max_by(c.cumc, c.day) AS cnt
    FROM cum c JOIN grid g ON c.day BETWEEN g.t - {lb} AND g.t
    GROUP BY 1, 2, 3
)
SELECT user, t AS ts, CAST(CAST(sum(cnt) AS DOUBLE) AS BIGINT) AS n_obs
FROM newest GROUP BY user, t ORDER BY user, ts
"""


QUERIES["x_promql_native_hist_range_count"] = x_promql_native_hist_range_count
ORACLES["x_promql_native_hist_range_count"] = _native_hist_range_count_sql()


def x_promql_native_hist_rate_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical native-histogram dashboard panel as a RANGE query:
    ``histogram_quantile(0.5, rate(click_nh[3d]))`` on a daily grid —
    grid_hist_rate's per-step difference frames exploded to covering eval
    points, histogram-valued, then the exponential-interpolation quantile
    per (series, t).  The oracle reconstructs each window's bucket
    increase directly from the raw values (monotone counters: increase
    over (t−w, t] = observations strictly after the window's FIRST sample
    day through its last) and interpolates identically; rate's 1/span
    scaling cancels in the quantile."""
    from ..functions.promql_parser import eval_range
    from .common import EV_END, EV_START
    from .promql_q import _dedup_rel

    hist_rel = _nh_daily_rel(spark, sf_dir, keep_k=False)
    g0 = EV_START + 3 * 86_400
    out = eval_range(_dedup_rel(spark, sf_dir),
                     "histogram_quantile(0.5, rate(click_nh[3d]))",
                     g0, EV_END, 86_400, hist_rel=hist_rel)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "ts",
        F.round("value", 6).alias("p50"),
    ).transform(lambda d: presentation_sort(d, "user", "ts"))


def _native_hist_rate_quantile_sql() -> str:
    from .common import EV_END, EV_START, TSDB_SQL_REL

    g0, w = EV_START + 3 * 86_400, 3 * 86_400
    return f"""
WITH rel AS ({TSDB_SQL_REL}),
src0 AS (
    SELECT user,
           {EV_START} + CAST(floor((ts - {EV_START}) / 86400.0) AS BIGINT)
               * 86400 AS day,
           value
    FROM rel WHERE ts BETWEEN {EV_START} AND {EV_END} AND metric = 'click'
),
grid AS (SELECT unnest(range({g0}, {EV_END} + 1, 86400)) AS t),
sdays AS (SELECT DISTINCT user, day FROM src0),
win AS (
    SELECT s.user, g.t,
           min(s.day) AS d_lo, max(s.day) AS d_hi, count(*) AS n
    FROM sdays s JOIN grid g ON s.day > g.t - {w} AND s.day <= g.t
    GROUP BY 1, 2
    HAVING count(*) >= 2 AND max(s.day) > min(s.day)
),
src AS (
    SELECT w.user, w.t, v.value
    FROM win w JOIN src0 v
      ON v.user = w.user AND v.day > w.d_lo AND v.day <= w.d_hi
),
{_nh_bucketize_sql('src')},
b AS (SELECT user, t, idx, CAST(count(*) AS DOUBLE) AS cnt
      FROM ix GROUP BY 1, 2, 3),
c AS (SELECT user, t, idx, cnt,
             sum(cnt) OVER (PARTITION BY user, t ORDER BY idx) AS cum,
             sum(cnt) OVER (PARTITION BY user, t) AS total
      FROM b),
hit AS (SELECT *, row_number() OVER (PARTITION BY user, t ORDER BY idx) AS rn
        FROM c WHERE cum >= 0.5 * total)
SELECT user, t AS ts,
       round(power(2.0, (idx - 1 + (0.5 * total - (cum - cnt)) / cnt) / 8.0),
             6) AS p50
FROM hit WHERE rn = 1 ORDER BY user, ts
"""


QUERIES["x_promql_native_hist_rate_quantile"] = x_promql_native_hist_rate_quantile
ORACLES["x_promql_native_hist_rate_quantile"] = _native_hist_rate_quantile_sql()


def x_promql_sort_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT front-end ``sort_by_label_desc`` (Prometheus 3.x): the sorted
    ORDER the engine actually emits is observed — not re-derived — by
    stamping ``monotonically_increasing_id`` on the result (after a global
    sort, partition ids and in-partition positions are both ascending, so
    the mono id is monotone in the emitted order) and ranking by it; the
    oracle recomputes the expected rank with ROW_NUMBER over the same
    (k DESC, user DESC) keys.  (user, k) groups are unique after the
    ``sum by``, so the series_key tiebreak never fires and the orders are
    comparable.  The rank window is single-partition by construction —
    acceptable only because a presentation-layer sort's output is
    consumer-sized, never corpus-sized."""
    from pyspark.sql import Window

    from ..functions.promql_parser import eval_instant
    from .common import EV_END
    from .promql_q import _dedup_rel

    out = eval_instant(
        _dedup_rel(spark, sf_dir),
        'sort_by_label_desc(sum by (user, k) (increase(click[10d])),'
        ' "k", "user")',
        EV_END,
    )
    w = Window.orderBy("__mono")
    return out.withColumn("__mono", F.monotonically_increasing_id()).select(
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        F.round("value", 6).alias("value"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


def _sort_by_label_sql() -> str:
    from .promql_q import _DEDUP, _INC_CTE

    return f"""{_DEDUP}, {_INC_CTE},
g AS (
    SELECT user, k, CAST(sum(total) AS DOUBLE) AS value
    FROM inc WHERE metric = 'click' AND n >= 2 GROUP BY user, k)
SELECT user, k, round(value, 6) AS value,
       CAST(ROW_NUMBER() OVER (ORDER BY k DESC, user DESC) AS BIGINT) AS rank
FROM g ORDER BY rank
"""


QUERIES["x_promql_sort_by_label"] = x_promql_sort_by_label
ORACLES["x_promql_sort_by_label"] = _sort_by_label_sql()


def x_promql_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL 3.x ``info()`` end-to-end through the text front-end: the
    events relation re-labeled to carry (instance, job) identity, a
    synthetic ``target_info`` dimension built from the customer table
    (instance = c_custkey - 1, one data label ``segment``), and
    ``info(sum by (instance, job) (click))`` enriching the per-target
    click sums with the segment.  Instances without a customer row pass
    through unchanged (NULL segment) — the Prometheus no-match
    behavior."""
    from ..functions.promql_parser import eval_instant
    from ..model import series_key
    from .common import EV_END, events_relation, load

    lookback = 86_400
    rel = events_relation(spark, sf_dir, EV_END - lookback, EV_END)
    lbl = F.col("labels")
    labels2 = F.create_map(
        F.lit("__name__"), lbl.getItem("__name__"),
        F.lit("instance"), lbl.getItem("user"),
        F.lit("job"), F.lit("ev"),
        F.lit("k"), lbl.getItem("k"),
    )
    base = (
        rel.select(labels2.alias("labels"), "ts", "value")
        .groupBy(series_key(F.col("labels")).alias("series_key"), "ts")
        .agg(F.any_value("labels").alias("labels"),
             F.max("value").alias("value"))
        .select("labels", "ts", "value")
    )
    cust = load(spark, sf_dir, "customer")
    info_lbl = F.create_map(
        F.lit("__name__"), F.lit("target_info"),
        F.lit("instance"), (F.col("c_custkey") - 1).cast("string"),
        F.lit("job"), F.lit("ev"),
        F.lit("segment"), F.col("c_mktsegment"),
    )
    info = cust.select(
        info_lbl.alias("labels"),
        F.lit(EV_END).cast("long").alias("ts"),
        F.lit(1.0).alias("value"),
    )
    out = eval_instant(base.unionByName(info),
                       "info(sum by (instance, job) (click))",
                       EV_END, lookback=lookback)
    return out.select(
        F.col("labels").getItem("instance").alias("instance"),
        F.col("labels").getItem("job").alias("job"),
        F.col("labels").getItem("segment").alias("segment"),
        F.round("value", 8).alias("value"),
    ).orderBy("instance")


def _info_sql() -> str:
    from .common import EV_END, TSDB_SQL_REL

    lookback = 86_400
    return f"""
WITH rel AS ({TSDB_SQL_REL}),
d AS (
    SELECT user, k, ts, max(value) AS value
    FROM rel
    WHERE ts BETWEEN {EV_END - lookback} AND {EV_END} AND metric = 'click'
    GROUP BY 1, 2, 3),
newest AS (SELECT user, k, max_by(value, ts) AS value FROM d GROUP BY 1, 2),
base AS (
    SELECT user AS instance, 'ev' AS job, CAST(sum(value) AS DOUBLE) AS value
    FROM newest GROUP BY 1, 2)
SELECT b.instance, b.job, c.c_mktsegment AS segment, round(b.value, 8) AS value
FROM base b
LEFT JOIN customer c ON c.c_custkey = CAST(b.instance AS BIGINT) + 1
ORDER BY instance
"""


QUERIES["x_promql_info"] = x_promql_info
ORACLES["x_promql_info"] = _info_sql()


def x_remote_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote-write shaper round trip: the events TSDB relation
    encoded as prompb ``TimeSeries`` rows (sources/loaders.to_remote_write
    — per-series sorted label list + ms-stamped samples) and decoded back
    (rows_from_remote_write) must be the identity; the oracle is the raw
    relation itself.  Pins the scrape-loop ingress the exposition/OTLP
    decoders started: duplicate samples are multiset-preserved, labels
    (incl. __name__) survive the name/value-struct encoding, second↔ms
    timestamp conversion is exact."""
    from ..sources.loaders import rows_from_remote_write, to_remote_write
    from .common import EV_END, EV_START, events_relation

    rel = events_relation(spark, sf_dir, EV_START, EV_END).select(
        "labels", "ts", "value")
    back = rows_from_remote_write(to_remote_write(rel))
    return back.select(
        F.col("metric"),
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        "ts",
        F.round("value", 6).alias("value"),
    ).orderBy("metric", "user", "k", "ts", "value")


def _remote_write_roundtrip_sql() -> str:
    from .common import EV_END, EV_START, TSDB_SQL_REL

    return f"""
WITH rel AS ({TSDB_SQL_REL})
SELECT metric, user, k, ts, round(value, 6) AS value
FROM rel WHERE ts BETWEEN {EV_START} AND {EV_END}
ORDER BY metric, user, k, ts, value
"""


QUERIES["x_remote_write_roundtrip"] = x_remote_write_roundtrip
ORACLES["x_remote_write_roundtrip"] = _remote_write_roundtrip_sql()


def x_tsdb_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exemplar store surface (sources/exemplar_store.py): click events as
    exemplars — value = event_id (unique, so the in-array (ts, value)
    sort is total) and a trace-id exemplar label — grouped per series
    into ts-sorted exemplar lists (group_exemplars, the
    /api/v1/query_exemplars layout).  The md5 over the trace chain pins
    the ORDER INSIDE each series' exemplar array, not just membership."""
    from ..model import canonicalize
    from ..sources.exemplar_store import group_exemplars
    from .common import (
        EV_END,
        EV_START,
        SEG,
        _bigint_ts_unit,
        _ts_dtype,
        _ts_range_pred,
        _ts_seconds,
        load,
    )

    ev = load(spark, sf_dir, "events", restore_ts=False)
    dtype = _ts_dtype(ev)
    unit = _bigint_ts_unit(f"{sf_dir}/events.parquet") if dtype == "bigint" else 0
    ev = ev.filter(_ts_range_pred(dtype, EV_START, EV_END))
    ev = ev.withColumn("ts", _ts_seconds(dtype, unit))
    rows = ev.filter(
        (F.col("event_type") == "click")
        & F.col("ts").between(EV_START, EV_END)
    ).select(
        F.col("event_type").alias("metric"),
        F.create_map(F.lit("user"),
                     F.col("user_id").cast("string")).alias("labels"),
        "ts",
        F.col("event_id").cast("double").alias("value"),
        F.create_map(
            F.lit("trace"),
            F.concat(F.lit("t"), F.col("event_id").cast("string")),
        ).alias("exemplar"),
    )
    g = group_exemplars(canonicalize(rows, SEG, ("value", "exemplar")))
    chain = F.md5(F.array_join(
        F.transform(F.col("exemplars"), lambda e: e["labels"]["trace"]), ","))
    return g.select(
        F.col("labels").getItem("user").alias("user"),
        F.size("exemplars").cast("long").alias("n"),
        F.element_at("exemplars", 1)["ts"].alias("first_ts"),
        F.element_at("exemplars", -1)["ts"].alias("last_ts"),
        chain.alias("chain"),
    ).orderBy("user")


def _exemplars_sql() -> str:
    from .common import EV_END, EV_START

    return f"""
WITH src AS (
    SELECT CAST(user_id AS VARCHAR) AS user,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts,
           event_id
    FROM events
    WHERE event_type = 'click'
      AND CAST(floor(epoch(ts)) AS BIGINT) BETWEEN {EV_START} AND {EV_END})
SELECT user,
       CAST(count(*) AS BIGINT) AS n,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       md5(string_agg('t' || event_id, ',' ORDER BY ts, event_id)) AS chain
FROM src GROUP BY user ORDER BY user
"""


QUERIES["x_tsdb_exemplars"] = x_tsdb_exemplars
ORACLES["x_tsdb_exemplars"] = _exemplars_sql()


def x_promql_native_hist_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM-valued subquery through the text front-end (round 10 —
    the last documented PromQL delta):
    ``histogram_quantile(0.5, increase(click_nh[10d:1d]))`` as an instant
    query at EV_END.  The subquery's aligned daily grid coincides with
    the daily cumulative samples (EV_START is midnight-aligned), so the
    histogram pseudo-samples are the stored samples verbatim and the
    increase telescopes to last-minus-first: the p50 of every click in
    days 1..9 (day 0 is the counter baseline).  The oracle replays the
    exponential bucket geometry over exactly those values — per user
    between their FIRST and LAST sampled day (a user without a day-0
    click baselines later; <2 sampled days drops out, as counter math
    requires two samples)."""
    from ..functions.promql_parser import eval_instant
    from .common import EV_END

    hist_rel = _nh_daily_rel(spark, sf_dir, keep_k=False)
    empty = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")
    out = eval_instant(empty,
                       "histogram_quantile(0.5, increase(click_nh[10d:1d]))",
                       EV_END, hist_rel=hist_rel)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 6).alias("p50"),
    ).transform(lambda d: presentation_sort(d, "user"))


def _native_hist_subquery_sql() -> str:
    from .common import EV_END, EV_START, TSDB_SQL_REL

    return f"""
WITH rel AS ({TSDB_SQL_REL}),
src0 AS (
    SELECT user,
           {EV_START} + CAST(floor((ts - {EV_START}) / 86400.0) AS BIGINT)
               * 86400 AS day,
           value
    FROM rel
    WHERE ts BETWEEN {EV_START} AND {EV_END} AND metric = 'click'
),
sp AS (
    SELECT user, min(day) AS d_lo, max(day) AS d_hi, count(*) AS n
    FROM (SELECT DISTINCT user, day FROM src0) GROUP BY user
),
src AS (
    SELECT s.user, v.value
    FROM sp s JOIN src0 v
      ON v.user = s.user AND v.day > s.d_lo AND v.day <= s.d_hi
    WHERE s.n >= 2
),
{_nh_bucketize_sql('src')},
b AS (SELECT user, idx, CAST(count(*) AS DOUBLE) AS cnt FROM ix GROUP BY 1, 2),
c AS (SELECT user, idx, cnt,
             sum(cnt) OVER (PARTITION BY user ORDER BY idx) AS cum,
             sum(cnt) OVER (PARTITION BY user) AS total
      FROM b),
hit AS (SELECT *, row_number() OVER (PARTITION BY user ORDER BY idx) AS rn
        FROM c WHERE cum >= 0.5 * total)
SELECT user,
       round(power(2.0, (idx - 1 + (0.5 * total - (cum - cnt)) / cnt) / 8.0),
             6) AS p50
FROM hit WHERE rn = 1 ORDER BY user
"""


QUERIES["x_promql_native_hist_subquery"] = x_promql_native_hist_subquery
ORACLES["x_promql_native_hist_subquery"] = _native_hist_subquery_sql()


def x_openmetrics_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenMetrics TEXT codec round trip: the events TSDB relation rendered
    as exposition lines (sources/loaders.to_openmetrics — canonical sorted
    labels) and parsed back (rows_from_openmetrics, pure regexp column
    expressions) must be the identity; the oracle is the raw relation.
    Together with x_remote_write_roundtrip this pins both scrape wire
    forms (text + protobuf-shaped) over real data."""
    from ..sources.loaders import rows_from_openmetrics, to_openmetrics
    from .common import EV_END, EV_START, events_relation

    rel = events_relation(spark, sf_dir, EV_START, EV_END).select(
        "labels", "ts", "value")
    # the sf0.1 events table is ONE parquet split, so without an explicit
    # fan-out the whole text codec runs on a single task; a real scrape
    # corpus arrives in many splits — this repartition stands in for that
    # source parallelism (r12: the codec itself is embarrassingly row-
    # parallel, and the single-task run dominated the bench reading)
    rel = rel.repartition(spark.sparkContext.defaultParallelism)
    back = rows_from_openmetrics(to_openmetrics(rel), text_col="line")
    out = back.select(
        F.col("metric"),
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        "ts",
        F.round("value", 6).alias("value"),
    )
    # same presentation-sort shape as x_prompb_wire_roundtrip: skip the
    # range-sampling pass that would run the text codec twice
    return out.repartition(1).sortWithinPartitions(
        "metric", "user", "k", "ts", "value")


QUERIES["x_openmetrics_roundtrip"] = x_openmetrics_roundtrip
ORACLES["x_openmetrics_roundtrip"] = _remote_write_roundtrip_sql()


def x_prompb_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remote-write WIRE round trip (sources/prompb.py): the events TSDB
    relation shaped to prompb ``TimeSeries`` rows, ENCODED to actual
    snappy-compressed protobuf ``WriteRequest`` payload bytes
    (prompb_from_timeseries, Arrow-batched mapInPandas, chunked at 500
    series/POST like a real sender), decoded back from the bytes
    (timeseries_from_prompb — hand-rolled varint/length-delimited framing
    of the public prompb wire format) and unfolded to rows — must be the
    identity; oracle is the raw relation.  Completes the scrape loop the
    struct-shaped x_remote_write_roundtrip pins: this one crosses the
    real wire encoding, not just the message shape."""
    from ..sources.loaders import rows_from_remote_write, to_remote_write
    from ..sources.prompb import prompb_from_timeseries, timeseries_from_prompb
    from .common import EV_END, EV_START, events_relation

    rel = events_relation(spark, sf_dir, EV_START, EV_END).select(
        "labels", "ts", "value")
    # one-split source at sf0.1: fan out so the pre-shuffle partial
    # aggregate (series_key hash + struct build) runs parallel, like
    # x_openmetrics_roundtrip's codec fan-out
    rel = rel.repartition(spark.sparkContext.defaultParallelism)
    # r13: the to_remote_write aggregate output is ~2 MB at sf0.1, so AQE
    # coalesces the post-shuffle stage to ONE partition — which serialized
    # the whole encode→decode Python chain on one core (measured: the
    # decode step alone read +3.5 s wall).  An explicit round-robin
    # repartition (exempt from AQE coalescing) spreads the codec chain
    # across the executors; the 2 MB extra shuffle is noise.
    series = to_remote_write(rel).repartition(
        spark.sparkContext.defaultParallelism)
    wire = prompb_from_timeseries(series)
    back = rows_from_remote_write(timeseries_from_prompb(wire))
    out = back.select(
        F.col("metric"),
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        "ts",
        F.round("value", 6).alias("value"),
    )
    # presentation sort: repartition(1)+sortWithinPartitions is a total
    # order WITHOUT orderBy's range-partitioning sampling pass, which
    # re-executes the whole wire-codec pipeline (r12: 6.1s -> ~3.5s);
    # right-sized for a bounded fixture result, not a big-data sort
    return out.repartition(1).sortWithinPartitions(
        "metric", "user", "k", "ts", "value")


QUERIES["x_prompb_wire_roundtrip"] = x_prompb_wire_roundtrip
ORACLES["x_prompb_wire_roundtrip"] = _remote_write_roundtrip_sql()


def x_promql_toplevel_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BARE top-level subquery as an instant query (round 11 — the lifted
    delta): ``sum by (user) (click)[10d:1d]`` at EV_END returns the
    Prometheus 'matrix' result — the inner aggregate evaluated once per
    aligned daily step, (labels, ts, value) rows.  The oracle re-derives
    each step's instant vector (newest sample per (user, k) series within
    the lookback, summed over k) on the same absolute-aligned grid."""
    from ..functions.promql_parser import eval_instant
    from .common import EV_END
    from .promql_q import _dedup_rel

    out = eval_instant(_dedup_rel(spark, sf_dir),
                       "sum by (user) (click)[10d:1d]", EV_END,
                       lookback=86_399)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        "ts",
        F.round("value", 6).alias("value"),
    ).transform(lambda d: presentation_sort(d, "user", "ts"))


def _toplevel_subquery_sql() -> str:
    from .common import EV_END, EV_START
    from .promql_q import _DEDUP

    return f"""{_DEDUP},
grid AS (SELECT unnest(range({EV_START}, {EV_END} + 1, 86400)) AS t),
nw AS (
    SELECT g.t, d.user, d.k, max_by(d.value, d.ts) AS v
    FROM grid g JOIN d
      ON d.metric = 'click' AND d.ts BETWEEN g.t - 86399 AND g.t
    GROUP BY 1, 2, 3)
SELECT user, t AS ts, round(sum(v), 6) AS value
FROM nw GROUP BY 1, 2 ORDER BY user, ts
"""


QUERIES["x_promql_toplevel_subquery"] = x_promql_toplevel_subquery
ORACLES["x_promql_toplevel_subquery"] = _toplevel_subquery_sql()


def x_promql_hist_subquery_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Over-time aggregate over a HISTOGRAM-valued subquery (round 11 —
    the second lifted delta):
    ``histogram_count(avg_over_time(increase(click_nh[10d:1d])[3d:1d]))``
    at EV_END — the nested inner subquery yields daily cumulative
    pseudo-samples, grid_hist_rate turns them into per-day 10d increases,
    and hist_over_time component-averages the (up to 3) histogram points
    per user.  The oracle replays the counter math scalar-side: per
    (user, grid day t) the increase count = clicks in (first, last]
    sampled day within (t−10d, t] (needs ≥2 sampled days), averaged over
    the t's where it exists."""
    from ..functions.promql_parser import eval_instant
    from .common import EV_END

    hist_rel = _nh_daily_rel(spark, sf_dir, keep_k=False)
    empty = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")
    out = eval_instant(
        empty,
        "histogram_count(avg_over_time(increase(click_nh[10d:1d])[3d:1d]))",
        EV_END, hist_rel=hist_rel)
    return out.select(
        F.col("labels").getItem("user").alias("user"),
        F.round("value", 6).alias("value"),
    ).transform(lambda d: presentation_sort(d, "user"))


def _hist_subquery_avg_sql() -> str:
    from .common import EV_END, EV_START, TSDB_SQL_REL

    w = 10 * 86_400
    lo, hi = EV_END + 1 - 3 * 86_400, EV_END + 1 - 86_400
    return f"""
WITH rel AS ({TSDB_SQL_REL}),
src0 AS (
    SELECT user,
           {EV_START} + CAST(floor((ts - {EV_START}) / 86400.0) AS BIGINT)
               * 86400 AS day,
           value
    FROM rel
    WHERE ts BETWEEN {EV_START} AND {EV_END} AND metric = 'click'
),
days AS (SELECT DISTINCT user, day FROM src0),
grid AS (SELECT unnest(range({lo}, {hi} + 1, 86400)) AS t),
sp AS (
    SELECT g.t, d.user, min(d.day) AS d_lo, max(d.day) AS d_hi,
           count(*) AS n
    FROM grid g JOIN days d ON d.day > g.t - {w} AND d.day <= g.t
    GROUP BY 1, 2),
inc AS (
    SELECT s.t, s.user, CAST(count(*) AS DOUBLE) AS c
    FROM sp s JOIN src0 v
      ON v.user = s.user AND v.day > s.d_lo AND v.day <= s.d_hi
    WHERE s.n >= 2
    GROUP BY 1, 2)
SELECT user, round(avg(c), 6) AS value FROM inc GROUP BY user ORDER BY user
"""


QUERIES["x_promql_hist_subquery_avg"] = x_promql_hist_subquery_avg
ORACLES["x_promql_hist_subquery_avg"] = _hist_subquery_avg_sql()


def x_remote_read_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REMOTE-READ endpoint round trip (round 11): click events loaded
    into a memory-mode TSDB, queried through the BINARY protocol —
    ``TSDB.remote_read`` over an actual snappy ``ReadRequest`` carrying
    equality, regex and negative matchers plus ms time bounds — and the
    snappy ``ReadResponse`` decoded back to rows.  Oracle: the same
    selection in SQL.  With x_prompb_wire_roundtrip (write path) this
    pins BOTH directions of the remote protocol at the bytes level; the
    response decode is driver-side by nature (an HTTP body), bounded here
    by the matchers to a two-day slice."""
    from ..engine import TSDB
    from ..sources import prompb
    from .common import EV_START, events_relation

    lo, hi = EV_START + 86_400, EV_START + 3 * 86_400 - 1
    rel = events_relation(spark, sf_dir, lo, hi).filter(
        F.col("ts").between(lo, hi))
    db = TSDB(spark, None, only_memory=True)
    db.insert_rows(rel.select(
        F.col("labels").getItem("__name__").alias("metric"),
        F.map_filter(F.col("labels"),
                     lambda k, _: k != F.lit("__name__")).alias("labels"),
        "ts", "value"))
    req = prompb.encode_read_request([{
        "start_ms": lo * 1000, "end_ms": hi * 1000 + 500,
        "matchers": [("__name__", "=", "click"),
                     ("user", "=~", ".*[02468]"),
                     ("k", "!=", "3")],
    }])
    (series_list,) = prompb.decode_read_response(db.remote_read(req))
    flat = [(dict((l["name"], l["value"]) for l in ts["labels"]), s)
            for ts in series_list for s in ts["samples"]]
    out = spark.createDataFrame(
        [(lbl["user"], lbl.get("k"), s["timestamp"] // 1000,
          round(s["value"], 6)) for lbl, s in flat],
        "user string, k string, ts long, value double")
    return out.orderBy("user", "k", "ts", "value")


def _remote_read_roundtrip_sql() -> str:
    from .common import EV_START, TSDB_SQL_REL

    lo, hi = EV_START + 86_400, EV_START + 3 * 86_400 - 1
    return f"""
WITH rel AS ({TSDB_SQL_REL})
SELECT user, k, ts, round(value, 6) AS value
FROM rel
WHERE ts BETWEEN {lo} AND {hi} AND metric = 'click'
  AND regexp_matches(user, '^(?:.*[02468])$')
  AND (k IS NULL OR k <> '3')
ORDER BY user, k, ts, value
"""


QUERIES["x_remote_read_roundtrip"] = x_remote_read_roundtrip
ORACLES["x_remote_read_roundtrip"] = _remote_read_roundtrip_sql()


def x_otlp_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP WIRE ingress (round 11, sources/otlp.py): a two-day click
    slice rendered as one ExportMetricsServiceRequest payload (driver-
    side FIXTURE encode — bounded slice, the system under test is the
    decode) and decoded back through the distributed mapInPandas seam
    ``rows_from_otlp``; oracle is the same selection in SQL.  Completes
    the wire-ingress trio beside x_prompb_wire_roundtrip and
    x_openmetrics_roundtrip."""
    from ..sources import otlp
    from .common import EV_START, events_relation

    lo, hi = EV_START + 86_400, EV_START + 3 * 86_400 - 1
    rel = events_relation(spark, sf_dir, lo, hi).filter(
        F.col("ts").between(lo, hi)
        & (F.col("labels").getItem("__name__") == "click"))
    pts = [{"kind": "number", "metric": "click",
            "labels": {k: v for k, v in r.labels.items()
                       if k != "__name__"},
            "ts": r.ts, "value": r.value}
           for r in rel.select("labels", "ts", "value").collect()]
    payload = otlp.encode_export_request(pts)
    pdf = spark.createDataFrame([(payload,)], "payload binary")
    back = otlp.rows_from_otlp(pdf)
    return back.select(
        "metric",
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        "ts",
        F.round("value", 6).alias("value"),
    ).orderBy("metric", "user", "k", "ts", "value")


def _otlp_wire_roundtrip_sql() -> str:
    from .common import EV_START, TSDB_SQL_REL

    lo, hi = EV_START + 86_400, EV_START + 3 * 86_400 - 1
    return f"""
WITH rel AS ({TSDB_SQL_REL})
SELECT metric, user, k, ts, round(value, 6) AS value
FROM rel WHERE ts BETWEEN {lo} AND {hi} AND metric = 'click'
ORDER BY metric, user, k, ts, value
"""


QUERIES["x_otlp_wire_roundtrip"] = x_otlp_wire_roundtrip
ORACLES["x_otlp_wire_roundtrip"] = _otlp_wire_roundtrip_sql()


def x_otlp_delta_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP DELTA temporality + Summary ingestion (round 12, r11 verdict
    #3): a one-day click slice pre-aggregated to per-(user,k,ts) DELTA
    increments is encoded as a delta-temporality OTLP Sum, plus one
    Summary data point per user (count / sum / q50 / q99 over the same
    slice); ``rows_from_otlp(delta="cumulate")`` must convert the deltas
    to per-series cumulative values (running sum over event time — the
    deltatocumulative-processor semantics) and lower Summary points to
    ``_sum``/``_count``/quantile-labeled series.  Oracle: the same
    running sum as a SQL window plus quantile_cont aggregates."""
    import numpy as np

    from ..sources import otlp
    from .common import EV_START, events_relation

    lo, hi = EV_START + 86_400, EV_START + 2 * 86_400 - 1
    rel = events_relation(spark, sf_dir, lo, hi).filter(
        F.col("ts").between(lo, hi)
        & (F.col("labels").getItem("__name__") == "click"))
    slice_rows = (
        rel.select(F.col("labels").getItem("user").alias("user"),
                   F.col("labels").getItem("k").alias("k"),
                   "ts", "value")
        .groupBy("user", "k", "ts")
        .agg(F.sum("value").alias("value"))
        .collect())
    pts = [{"kind": "number", "metric": "click_total",
            "labels": {"user": r.user, "k": r.k},
            "ts": r.ts, "value": r.value,
            "temporality": "delta", "is_monotonic": True}
           for r in slice_rows]
    by_user: dict = {}
    for r in slice_rows:
        by_user.setdefault(r.user, []).append(r.value)
    for user, vals in by_user.items():
        pts.append({"kind": "summary", "metric": "click.value",
                    "labels": {"user": user}, "ts": hi,
                    "count": len(vals), "sum": float(sum(vals)),
                    "quantiles": [
                        (0.5, float(np.percentile(vals, 50))),
                        (0.99, float(np.percentile(vals, 99)))]})
    payload = otlp.encode_export_request(pts)
    pdf = spark.createDataFrame([(payload,)], "payload binary")
    back = otlp.rows_from_otlp(pdf, delta="cumulate")
    return back.select(
        "metric",
        F.col("labels").getItem("user").alias("user"),
        F.col("labels").getItem("k").alias("k"),
        F.col("labels").getItem("quantile").alias("quantile"),
        "ts",
        F.round("value", 6).alias("value"),
    ).orderBy("metric", "user", "k", "quantile", "ts", "value")


def _otlp_delta_summary_sql() -> str:
    from .common import EV_START, TSDB_SQL_REL

    lo, hi = EV_START + 86_400, EV_START + 2 * 86_400 - 1
    return f"""
WITH rel AS ({TSDB_SQL_REL}),
slice AS (
  SELECT user, k, ts, CAST(SUM(value) AS DOUBLE) AS value
  FROM rel WHERE ts BETWEEN {lo} AND {hi} AND metric = 'click'
  GROUP BY user, k, ts
),
cum AS (
  SELECT 'click_total' AS metric, user, k, CAST(NULL AS VARCHAR) AS quantile,
         ts,
         SUM(value) OVER (PARTITION BY user, k ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS value
  FROM slice
),
summ AS (
  SELECT user, COUNT(*) AS cnt, CAST(SUM(value) AS DOUBLE) AS s,
         quantile_cont(value, 0.5) AS q50,
         quantile_cont(value, 0.99) AS q99
  FROM slice GROUP BY user
),
summary_rows AS (
  SELECT 'click_value' AS metric, user, CAST(NULL AS VARCHAR) AS k,
         '0.5' AS quantile, {hi} AS ts, q50 AS value FROM summ
  UNION ALL
  SELECT 'click_value', user, NULL, '0.99', {hi}, q99 FROM summ
  UNION ALL
  SELECT 'click_value_sum', user, NULL, NULL, {hi}, s FROM summ
  UNION ALL
  SELECT 'click_value_count', user, NULL, NULL, {hi}, CAST(cnt AS DOUBLE)
  FROM summ
)
SELECT metric, user, k, quantile, ts, round(value, 6) AS value
FROM (SELECT * FROM cum UNION ALL SELECT * FROM summary_rows)
ORDER BY metric, user, k, quantile, ts, value
"""


QUERIES["x_otlp_delta_summary"] = x_otlp_delta_summary
ORACLES["x_otlp_delta_summary"] = _otlp_delta_summary_sql()
