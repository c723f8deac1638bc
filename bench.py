#!/usr/bin/env python
"""Headline benchmark: run the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print the
full JSON payload {"metric": ..., "value": N, "unit": "sec", "queries":
{...}, "sf": ...}, then one compact line (:func:`tail_line`) holding the
scalars and every suite's timings at 2 decimals.

Each query is fully executed (collected to the driver via a count over the
materialized result — write-discard shape) and timed individually; the
headline value is the total wall time of the suite.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

#: The headline subset — one per operator family, heaviest variants.
HEADLINE = [
    "tsdb_range_rows",
    "tsdb_series_agg",
    "tsdb_bucket_stats",
    "tsdb_latest_point",
    "tsdb_gapfill",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q8",
    "tpch_q13",
    "tpch_q16",
    "tpch_q18",
    "tpch_window_rank",
    "docs_token_stats",
    "docs_simhash",
    "docs_minhash_pairs",
    "docs_prep_corpus",
    "emb_cosine_topk",
    "emb_ivf_topk",
    "emb_neardup_pairs",
    "events_sessionize",
    "events_retention_cohorts",
    "events_hourly",
    "events_asof_click",
    "mm_binary_features",
]

#: Round-2+ extension ops (timed separately — see extended_suite_seconds).
EXTENDED = [
    "docs_tfidf_top_terms",
    "docs_repetition",
    "docs_contamination",
    "docs_curation_pipeline",
    "docs_stratified_sample",
    "docs_simhash_neardup",
    "emb_quantize_error",
    "emb_ivf_neardup_pairs",
    "promql_histogram_quantile",
    "promql_deriv",
    "mm_chunk_plan",
    "tpch_q9",
    "tpch_q21",
    # round 3: PromQL vector matching + batch ANN
    "emb_knn_join",
    "promql_binop_on",
    "promql_binop_group_left",
    "promql_vector_unless",
    "promql_subquery_max_rate",
    "docs_neardup_clusters",
    "docs_curation_full",
    # round 5: LM-perplexity gate + tokenizer vocab + product quantization
    "docs_unigram_ce",
    "docs_vocab",
    "emb_pq_error",
    "emb_pq_adc_topk",
    # round 5: packing / mixture / semdedup + the training-shards flagship
    "docs_pack_plan",
    "docs_mixture_plan",
    "emb_semdedup",
    "docs_training_shards",
    # round 5: stream-stream join dual + holt_winters + token chunking
    "stream_join_dual",
    "promql_holt_winters",
    "docs_chunk_plan",
    "emb_ivfpq_topk",
    "docs_mixture_epochs",
    "events_top_paths",
    "tpch_profile_lineitem",
    "docs_quality_outliers",
    "docs_incremental_neardup",
    "docs_pii_scrub",
    "emb_matryoshka_error",
    "docs_pack_nosplit",
    "docs_lsh_recall",
    "docs_dup_stats",
    "events_gap_stats",
    "docs_bloom_gate",
    "docs_shuffle_plan",
    "stream_enrich_dual",
    "docs_source_cap",
    "docs_gopher_gate",
    "tsdb_hist_quantile",
    # round 5: TPC-H completion + audio decode + line-protocol round trip
    "tpch_q2",
    "tpch_q11",
    "tpch_q20",
    "mm_audio_rms",
    "tsdb_lineprotocol_roundtrip",
    "docs_span_dedup",
    "tsdb_series_cardinality_sketch",
    "tsdb_ingest_dedup",
]


#: Arrow-stage queries (applyInPandas/mapInPandas pipelines) invert the
#: shuffle-partition trade: their cost is Python-worker compute, so MORE
#: shuffle partitions = more parallel Arrow workers (A/B at sf0.1: the
#: heavy set runs 14.2s at 16 partitions, 12.4s at 32).  The conf is
#: runtime-settable, so each query family gets its right size.  Module
#: level so tools/opt_timer.py reproduces the exact bench protocol.
ARROW_HEAVY = {
    "docs_minhash_pairs", "docs_simhash_neardup", "docs_neardup_clusters",
    "docs_curation_full", "docs_curation_pipeline", "emb_semdedup",
    "emb_neardup_pairs", "emb_ivf_neardup_pairs", "emb_neardup_clusters",
    "emb_pq_error", "emb_pq_adc_topk", "emb_ivfpq_topk", "emb_knn_join",
    "docs_winnow_fingerprints", "mm_binary_features", "mm_frame_sample",
    "docs_incremental_neardup", "docs_pack_nosplit", "docs_lsh_recall",
}


def ingest_bench(spark, n_points: int = 2_000_000) -> tuple[float, float]:
    """Write-path benchmark mirroring the reference's README workload
    (ticks × nodes × dcs × metrics grid, BASELINE.md rows 1-2): returns
    (points_per_sec, storage_bytes_per_point).

    The grid is generated distributively with spark.range — no driver-side
    row lists — and ingested through the real store (canonicalize →
    repartition(seg) → sorted zstd parquet)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mandodb_spark.sources.segment_store import SegmentStore

    series = 512  # 8 nodes x 8 dcs x 8 metrics
    start_ts = 1_700_000_000
    i = F.col("id")
    idiv = lambda c, d: F.floor(c / F.lit(d)).cast("long")
    rows = spark.range(n_points).select(
        F.concat(F.lit("metric."), (i % 8).cast("string")).alias("metric"),
        F.create_map(
            F.lit("node"), F.concat(F.lit("vm"), (idiv(i, 8) % 8).cast("string")),
            F.lit("dc"), F.concat(F.lit("dc"), (idiv(i, 64) % 8).cast("string")),
        ).alias("labels"),
        (F.lit(start_ts) + idiv(i, series) * 60).cast("long").alias("ts"),
        ((i % 997).cast("double") / 10.0).alias("value"),
    )
    rows.count()  # materialize the generator plan before timing the write
    best_dt, nbytes = None, 0
    # min-of-3 fresh-store appends, mirroring the query suite's protocol:
    # the first run pays whole-stage-codegen JIT + codec init (measured
    # ~2x the steady-state write) and the second is still settling
    # (measured iter times 5.2 / 2.8 / 2.6 / 2.6s), so min-of-2
    # under-reported steady state by ~10%.  Warmup is session cost, not
    # ingest throughput — the reference's published number is steady-state
    # too.
    for _ in range(3):
        root = tempfile.mkdtemp(prefix="mandodb_ingest_bench_")
        try:
            store = SegmentStore(spark, f"{root}/store")
            t0 = time.time()
            store.append(rows)
            dt = time.time() - t0
            nbytes = sum(f.stat().st_size for f in Path(f"{root}/store").rglob("*.parquet"))
            best_dt = dt if best_dt is None else min(best_dt, dt)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    print(f"# ingest: {n_points} points in {best_dt:.2f}s; {nbytes} bytes", file=sys.stderr)
    return n_points / best_dt, nbytes / n_points


def calibration_canary(spark) -> float:
    """A fixed, data-independent query (sum over a 50M range — pure JVM
    codegen arithmetic) timed min-of-3.  Identical work every round, so
    cross-round BENCH comparisons can be normalized for box load: if the
    canary moved 2x, so did everything else (VERDICT r3 item #6 — the
    r1→r3 suite drift was never attributable to code vs load)."""
    best = None
    for _ in range(3):
        t0 = time.time()
        spark.range(50_000_000).selectExpr("sum(id * 2) as s").collect()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def ingest_bench_isolated(cpus: int) -> tuple[float, float]:
    """Run :func:`ingest_bench` in a FRESH subprocess (own JVM).

    Measured r6: the same ingest reads ~1M pts/s in a clean session but
    430-750k when run after the 80+ query suites in one JVM — old-gen heap
    pressure from the query history, not a write-path cost.  The reference's
    published number is a dedicated-process measurement too, so isolating
    the write benchmark is the apples-to-apples protocol.  Falls back to
    in-process on any subprocess failure (never fails the bench)."""
    import subprocess

    try:
        out = subprocess.run(
            [sys.executable, __file__, "--ingest-only"],
            capture_output=True, text=True, timeout=600,
            env={**os.environ, "SPARK_GRAFT_CPUS": str(cpus)},
        )
        payload = json.loads(out.stdout.strip().splitlines()[-1])
        return payload["points_per_sec"], payload["bytes_per_point"]
    except Exception as exc:  # noqa: BLE001 - bench must degrade, not die
        print(f"# ingest subprocess failed ({exc}); in-process fallback", file=sys.stderr)
        from mandodb_spark.session import get_spark

        return ingest_bench(get_spark("mandodb-spark-ingest"))


def _ingest_only() -> None:
    from mandodb_spark.session import get_spark

    spark = get_spark("mandodb-spark-ingest")
    pts, bpp = ingest_bench(spark)
    print(json.dumps({"points_per_sec": pts, "bytes_per_point": bpp}))


def artifact_path(cpus: int) -> str:
    """The side artifact of a run on local[cpus]: BENCH_LATEST.json for
    the 32-core reference host, BENCH_LATEST_c<cpus>.json otherwise."""
    name = "BENCH_LATEST.json" if cpus == 32 else f"BENCH_LATEST_c{cpus}.json"
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), name)


#: tail_line's suite lists: payload key -> key of its value list.
_TAIL_LISTS = {"extended_queries": "extended_s", "extra_queries": "extra_s"}


def _suite_order(key: str) -> list[str]:
    if key == "extended_queries":
        return EXTENDED
    from mandodb_spark.workloads import extra_parity
    return list(extra_parity.QUERIES)


def tail_line(payload: dict) -> str:
    """The compact last stdout line: the scalars, the headline ``queries``
    map and the extended/extra timings, all at 2 decimals.  A name-keyed
    map of all ~160 queries is ~5 KB, so the two longer suites are value
    lists in their fixed order (:data:`EXTENDED`, then
    ``extra_parity.QUERIES``) — ~1.5 KB in all; :func:`expand_tail` maps
    them back to names."""
    compact = {k: payload[k] for k in (
        "metric", "unit", "sf", "cpus", "extended_suite_seconds",
        "extra_suite_seconds", "ingest_points_per_sec",
        "storage_bytes_per_point", "calibration_canary_seconds", "value")}
    compact["queries"] = {k: round(v, 2) for k, v in payload["queries"].items()}
    for key, short in _TAIL_LISTS.items():
        compact[short] = [round(payload[key][n], 2) for n in _suite_order(key)]
    compact["compact"] = True
    return json.dumps(compact, separators=(",", ":"))


def expand_tail(line: str) -> dict:
    """Parse a :func:`tail_line` back into name-keyed suite maps (a line
    written with other suite lists raises rather than misnaming)."""
    out = json.loads(line)
    for key, short in _TAIL_LISTS.items():
        out[key] = dict(zip(_suite_order(key), out.pop(short), strict=True))
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    from mandodb_spark.operators.dedup import release_minhash_checkpoints
    from mandodb_spark.session import get_spark
    from mandodb_spark.workloads import QUERIES

    # Size shuffle partitions to the DATA, not the core count — the scale
    # rule the brief states ("size spark.sql.shuffle.partitions ... at the
    # target SF").  At sf0.1 the whole corpus is ~100 MB: 32 shuffle
    # partitions pay per-task scheduling AQE's post-shuffle coalesce can't
    # recover (measured A/B, warm, canary-flat: 32 -> 17.1s headline,
    # 16 -> 13.6s).  The rule scales partitions linearly with sf and caps
    # at the core count, so a big-SF run still uses every core.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sp = max(8, min(cpus, round(sf * 160)))
    spark = get_spark("mandodb-spark-bench", shuffle_partitions=sp)

    load_before = os.getloadavg()

    # Warm the JVM + file listing once so per-query times measure the plan,
    # not session bootstrap.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    canary_s = calibration_canary(spark)

    def run_suite(names: list[str]) -> tuple[dict[str, float], float]:
        timings: dict[str, float] = {}
        total = 0.0
        for name in names:
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(cpus if name in ARROW_HEAVY else sp),
            )
            fn = QUERIES[name]
            n = fn(spark, sf_dir).count()  # row count for the report only
            best = None
            for _ in range(2):  # min-of-2: second run measures the plan, not JIT/worker spin-up
                t0 = time.time()
                # noop sink materializes EVERY row/column — count() would let
                # Catalyst prune projection-only queries down to a row count
                # (docs_simhash's hashing would never run)
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            # each run's minhash/jaccard checkpoints back only that run
            release_minhash_checkpoints(spark)
            timings[name] = round(best, 3)
            total += best
            print(f"# {name}: {best:.2f}s ({n} rows)", file=sys.stderr)
        return timings, total

    timings, total = run_suite(HEADLINE)
    # Round-2 extension ops, reported separately so headline_suite_seconds
    # stays comparable round-over-round on an identical query set.
    ext_timings, ext_total = run_suite(EXTENDED)

    # Post-cap second-tier ops (workloads/extra_parity — not in the
    # 150-query driver registry), timed under the same protocol.
    from mandodb_spark.workloads import extra_parity

    QUERIES.update(extra_parity.QUERIES)
    extra_timings, extra_total = run_suite(list(extra_parity.QUERIES))

    pts_per_sec, bytes_per_point = ingest_bench_isolated(cpus)

    # CLEAN_CANARY: the cleanest canary recorded at THIS core count
    # (SPARK_GRAFT_CPUS), read from that core count's own artifact — the
    # canary runs on every core, so a 4-core reading judged against a
    # 32-core reference would flag every run as loaded, and one file
    # shared by core counts would mix local[4] and local[32] timings.
    # local[32] falls back to the r9/r10 judge quiet-box reading (0.187s)
    # when no artifact exists yet.  In-session readings run up to ~1.4x
    # hot under concurrent load — warn loudly so a contaminated headline
    # is never mistaken for a code regression.
    latest_path = artifact_path(cpus)
    CLEAN_CANARY = 0.187 if cpus == 32 else None
    try:
        with open(latest_path) as fh:
            CLEAN_CANARY = json.load(fh).get("calibration_canary_seconds")
    except (OSError, ValueError):
        pass
    contaminated = CLEAN_CANARY is not None and canary_s > CLEAN_CANARY * 1.15
    if contaminated:
        print(
            f"# WARNING: canary {canary_s:.3f}s is >15% above the clean-host "
            f"reference {CLEAN_CANARY}s — box is loaded; timings are "
            f"contaminated (normalize by x{CLEAN_CANARY / canary_s:.2f} or "
            "rerun quiet)", file=sys.stderr)

    # Per-query dicts FIRST, headline scalars LAST: the driver archives only
    # the final ~2000 chars of stdout (r8+r9 lost their headline numbers to
    # that truncation), so the fields a round-over-round comparison needs
    # must sit at the tail.  The COMPLETE artifact is also written next to
    # this script (:func:`artifact_path`).
    payload = {
        "metric": "headline_suite_seconds",
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "queries": timings,
        "extended_queries": ext_timings,
        "extra_queries": extra_timings,
        "extended_suite_seconds": round(ext_total, 3),
        "extra_suite_seconds": round(extra_total, 3),
        "ingest_points_per_sec": round(pts_per_sec),
        "storage_bytes_per_point": round(bytes_per_point, 3),
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "calibration_canary_seconds": canary_s,
        "value": round(total, 3),
    }
    # A hot run must never clobber a clean-canary artifact (r10's driver
    # bench ran at canary 0.254 and overwrote the committed 0.186 artifact
    # — the clean numbers survived only in git history).  Contaminated
    # readings go to the core count's _HOT artifact; the clean artifact is
    # only replaced by a run whose canary is at least as clean (small
    # tolerance so equal-quality hosts still refresh it).  The first run
    # at a core count has no reference to be judged by: it opens that core
    # count's artifact (no other core count's file is touched) marked
    # "canary_judged": false, and only a run at least as clean replaces
    # it, so the reference ratchets down to the cleanest reading.
    payload["canary_judged"] = CLEAN_CANARY is not None
    replace_clean = not contaminated and (
        CLEAN_CANARY is None or canary_s <= CLEAN_CANARY * 1.05)
    target = latest_path if replace_clean else (
        latest_path.removesuffix(".json") + "_HOT.json")
    if not replace_clean:
        print(f"# canary {canary_s:.3f}s not cleaner than recorded "
              f"{CLEAN_CANARY}s — writing {os.path.basename(target)} and "
              "keeping the clean artifact", file=sys.stderr)
    try:
        with open(target, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError as exc:  # never fail the bench over the side artifact
        print(f"# {os.path.basename(target)} not written: {exc}",
              file=sys.stderr)
    print(json.dumps(payload))
    # The driver archives only the TAIL of stdout (~2000 chars): the full
    # payload above is ~6 KB, so a tail capture alone cannot reparse it
    # (r11's BENCH artifact was front-truncated for exactly this reason —
    # VERDICT r12 item 2).  So one compact line follows LAST, whole in any
    # tail window: the scalars, the headline map and the other two suites'
    # timings (see :func:`tail_line`).
    print(tail_line(payload))
    sys.stdout.flush()


if __name__ == "__main__":
    if "--ingest-only" in sys.argv:
        _ingest_only()
    else:
        main()
