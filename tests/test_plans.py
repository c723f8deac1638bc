"""Plan-regression tests: the scale-critical physical-plan properties.

These assert on ``explain`` output, not results — locking in that the
engine's 100 TB posture (pushdown, partition pruning, broadcast, codegen)
can't silently regress.  SURVEY.md §4 is the contract.
"""

from __future__ import annotations

import pytest

from mandodb_spark import TSDB, LabelMatcher
from mandodb_spark.workloads.tpch import tpch_q3, tpch_q5
from mandodb_spark.workloads.tsdb_queries import tsdb_range_rows

START = 1_700_000_000


from mandodb_spark.plans import formatted_plan as _formatted
from mandodb_spark.plans import physical_plan as _plan
from mandodb_spark.plans import pushed_filters, shuffle_count


def test_events_adapter_pushes_time_and_metric(spark):
    """The events→TSDB adapter must push the native-type time range AND the
    metric equality into the Parquet scan (int64-ns data pushes an
    inclusive BETWEEN; timestamp data pushes >= start / < end+1s)."""
    plan = _formatted(tsdb_range_rows(spark, "/root/testdata/sf0.001"))
    assert "GreaterThanOrEqual(ts," in plan
    assert "LessThanOrEqual(ts," in plan or "LessThan(ts," in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_store_query_prunes_partitions(spark, tmp_path_factory):
    """A time-bounded query against the segment store must prune segment
    partitions (PartitionFilters on seg), not just filter rows."""
    path = str(tmp_path_factory.mktemp("plan") / "store")
    db = TSDB(spark, path)
    db.insert_rows(
        [("m", {"a": "1"}, START + i * 3600, float(i)) for i in range(12)]  # 6 segments
    )
    df = db.query_range_rows("m", [], START, START + 3600)
    plan = _formatted(df)
    assert "PartitionFilters" in plan
    assert "seg" in plan.split("PartitionFilters", 1)[1][:400]
    # and the ts bounds land in PushedFilters for row-group skipping
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "GreaterThanOrEqual(ts," in pushed


def test_regex_fast_path_emits_pushable_literal(spark, tmp_path_factory):
    """A prefix regex must add a StartsWith conjunct that reaches the scan."""
    path = str(tmp_path_factory.mktemp("plan") / "store2")
    db = TSDB(spark, path)
    db.insert_rows([("m", {"node": "vm1"}, START, 1.0)])
    df = db.query_range_rows("m", [LabelMatcher("node", "vm.*", is_regex=True)], START, START + 10)
    plan = _plan(df)
    assert "StartsWith" in plan


def test_tpch_dimension_joins_are_broadcast(spark):
    """Q3/Q5 must broadcast every dimension; only the fact-fact join may
    shuffle."""
    for q in (tpch_q3, tpch_q5):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan


def test_query_range_is_partial_final_aggregate(spark, tmp_path_factory):
    """The per-series merge must plan as ObjectHashAggregate partial+final
    (the reference's two-phase merge, tsdb.go:295-321) — not a sort-based
    fallback over the whole relation."""
    path = str(tmp_path_factory.mktemp("plan") / "store3")
    db = TSDB(spark, path)
    db.insert_rows([("m", {"a": "1"}, START + i, float(i)) for i in range(10)])
    plan = _plan(db.query_range("m", [], START, START + 100))
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_scan_is_column_pruned_for_label_values(spark):
    """query_label_values over the adapter must not read the value column
    (column pruning through the map projection)."""
    from mandodb_spark.operators.tsdb_ops import query_label_values
    from mandodb_spark.workloads.common import events_relation

    rel = events_relation(spark, "/root/testdata/sf0.001")
    plan = _formatted(query_label_values(rel, "user", START, 2_000_000_000))
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "value" not in read_schema
    assert "props" not in read_schema  # unused label k is never computed


def test_semi_anti_join_shapes(spark):
    """Q4's EXISTS must plan as a semi join, Q22's NOT EXISTS as an anti
    join — never a full join + post-filter (which would materialize the
    lineitem/orders match sides at 100 TB)."""
    from mandodb_spark.workloads.tpch import tpch_q4, tpch_q22

    assert "LeftSemi" in _plan(tpch_q4(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in _plan(tpch_q22(spark, "/root/testdata/sf0.001"))


def test_q10_broadcasts_both_dims(spark):
    """Q10: customer and nation ride broadcast joins; only orderkey shuffles."""
    from mandodb_spark.workloads.tpch import tpch_q10

    plan = _plan(tpch_q10(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2


def test_topk_plans_as_take_ordered(spark):
    """Q3/Q10/Q18-style orderBy+limit must plan TakeOrderedAndProject —
    a per-partition partial top-k, not a global sort."""
    from mandodb_spark.workloads.tpch import tpch_q18

    assert "TakeOrderedAndProject" in _plan(tpch_q18(spark, "/root/testdata/sf0.001"))


def test_ivf_codebook_is_broadcast(spark):
    """IVF assignment must broadcast the codebook (16 rows), never shuffle
    the fact side for the cross join."""
    from mandodb_spark.workloads.embeddings_q import emb_ivf_topk

    plan = _plan(emb_ivf_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_neardup_pairs_partition_on_lsh_bucket(spark):
    """emb_neardup_pairs must co-locate work by the LSH bucket — ONE
    exchange hash-partitioned on lsh_bucket feeding the per-group pairwise
    stage — and no bucket may exceed the declared size bound (VERDICT r1:
    bucketing on `label` made giant O(n²) groups)."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.similarity import hyperplane_bucket
    from mandodb_spark.workloads.common import load
    from mandodb_spark.workloads.embeddings_q import (
        NEARDUP_DIM,
        NEARDUP_MAX_BUCKET,
        NEARDUP_PLANES,
        emb_neardup_pairs,
    )

    df = emb_neardup_pairs(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "hashpartitioning(lsh_bucket" in plan     # equi-partition on the bucket key
    assert "FlatMapGroupsInPandas" in plan           # one vectorized stage per bucket
    assert shuffle_count(df) == 1                    # a single co-location shuffle
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    sizes = (
        emb.groupBy(
            hyperplane_bucket(F.col("embedding"), NEARDUP_DIM, NEARDUP_PLANES).alias("b")
        )
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert sizes <= NEARDUP_MAX_BUCKET


def test_query_range_single_shuffle(spark, tmp_path_factory):
    """The flagship path is scan → filter → ONE shuffle → final agg
    (SCALE.md's shuffle inventory)."""
    path = str(tmp_path_factory.mktemp("plan1s") / "store")
    db = TSDB(spark, path)
    db.insert_rows([("m", {"a": "1"}, START + i, float(i)) for i in range(10)])
    df = db.query_range("m", [], START, START + 100)
    assert shuffle_count(df) == 1
    assert pushed_filters(df)  # time/seg predicates reached the scan


def test_contamination_benchmark_set_is_broadcast(spark):
    """The benchmark n-gram set must be the broadcast side (eval = the big
    corpus at 100 TB) and the plan must never cross-join."""
    from mandodb_spark.workloads.docs import docs_contamination

    df = docs_contamination(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tfidf_vocabulary_dim_is_broadcast(spark):
    """tf-idf joins the vocabulary-sized df dimension via broadcast; the
    only corpus-wide shuffle is the tf aggregation + the per-doc window."""
    from mandodb_spark.workloads.docs import docs_tfidf_top_terms

    df = docs_tfidf_top_terms(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_pipeline_single_reference_subplans(spark):
    """The fused near-dup pipeline must not self-join the signature
    subplan, must not nested-loop join, and the candidate-pair set must be
    MATERIALIZED (r12: the pair set feeds both the broadcast id set and
    the verify join, and each un-materialized reference re-ran the whole
    shingle→signature→bucket subplan — the old "un-persisted floor of 2
    executions").  The candidate-doc shingle ARRAYS are materialized too
    (one semi-joined corpus scan at checkpoint time) and attached to
    pairs via two broadcast joins, so the FINAL plan reads only the two
    tiny checkpoint tables — zero parquet scans, zero shuffles."""
    from mandodb_spark.workloads.docs import docs_minhash_pairs

    df = docs_minhash_pairs(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") >= 2  # pair + candidate-doc checkpoints
    assert plan.count("BroadcastHashJoin") == 2  # arrays attach per executor, not per pair
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the signature min-agg no longer appears in the final plan (it ran at
    # checkpoint time) — pin its HashAggregate shape on the subplan itself
    # (min(long) keeps it hash-based; min(string)'s variable-width buffer
    # would silently fall to Sort+SortAggregate)
    from mandodb_spark.operators.dedup import minhash_signatures, shingle_sets

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig_plan = _plan(minhash_signatures(
        shingle_sets(docs, "doc_id", "text"), "doc_id"))
    assert "HashAggregate" in sig_plan and "SortAggregate" not in sig_plan


def test_stratified_sample_query_is_scan_side(spark):
    """The declared stratified-sample query is a pure scan predicate."""
    from mandodb_spark.workloads.docs import docs_stratified_sample

    df = docs_stratified_sample(spark, "/root/testdata/sf0.001")
    assert shuffle_count(df) == 0


def test_gapfill_single_window_no_per_gap_join(spark):
    """Gap-fill = grid left-join + ONE LOCF window (the measured winner
    over the r2 union form — see tsdb_gapfill docstring): exactly one
    window pass and one outer join, never a join per gap or a
    nested-loop."""
    from mandodb_spark.workloads.tsdb_queries import tsdb_gapfill

    plan = _plan(tsdb_gapfill(spark, "/root/testdata/sf0.001"))
    assert plan.count("Window") == 1
    assert plan.count("Join") == 1 and "LeftOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_promql_binop_join_is_hash_equi_never_nested_loop(spark):
    """Vector-matching binops join on the canonical match-key string: a
    hash equi-join with both sides pre-aggregated where uniqueness is
    required — never a nested loop / cartesian over the vectors."""
    from mandodb_spark.workloads.promql_q import promql_binop_group_left, promql_binop_on

    for q in (promql_binop_on, promql_binop_group_left):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
        assert "HashAggregate" in plan


def test_vocab_plans_as_take_ordered(spark):
    """The tokenizer-vocab top-N must plan TakeOrderedAndProject (partial
    per-partition top-k), never a global Sort of the vocabulary; id
    assignment windows only the reduced top-N rows."""
    from mandodb_spark.workloads.docs import docs_vocab

    plan = _plan(docs_vocab(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_unigram_ce_joins_lm_never_cartesian_corpus(spark):
    """The perplexity gate's only nested-loop is the 1-row corpus-total
    broadcast; the token->LM join must be an equi-join and the LM agg a
    HashAggregate."""
    from mandodb_spark.workloads.docs import docs_unigram_ce

    plan = _plan(docs_unigram_ce(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total only
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_knn_join_candidates_come_from_cell_equi_join(spark):
    """knn_join's only allowed nested-loop is the tiny query×codebook
    probe (10 × n_cells broadcast rows); every corpus-side join must be a
    hash equi-join so candidate fan-out is bounded by the probed cells."""
    from mandodb_spark.workloads.embeddings_q import emb_knn_join

    plan = _plan(emb_knn_join(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the codebook probe only
    assert "CartesianProduct" not in plan
    # per-query top-k is a window rank, not a global sort of all candidates
    assert "Window" in plan


def test_pack_plan_is_one_exchange_one_scan(spark):
    """Sequence packing must stay shard-parallel: exactly one hash-partition
    exchange (the grp split) and one corpus scan — never a global-window
    single-partition sort (SCALE.md round 5)."""
    from mandodb_spark.workloads.docs import docs_pack_plan

    plan = _plan(docs_pack_plan(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 1
    assert plan.count("Scan parquet") == 1
    assert "SinglePartition" not in plan


def test_mixture_plan_scans_corpus_twice_total(spark):
    """The mixture plan's final executed plan holds one corpus scan (the
    keep pass); the totals pass runs once inside the checkpointed rates
    frame — never a third re-execution of the rates subtree."""
    from mandodb_spark.workloads.docs import docs_mixture_plan

    plan = _plan(docs_mixture_plan(spark, "/root/testdata/sf0.001"))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_shuffle_plan_and_group_cap_are_one_exchange(spark):
    """The training-order shuffle and the per-source cap each shuffle
    exactly once (their window/shard hash partition) — never a global
    range sort or a SinglePartition window (SCALE.md round 5)."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.sampling import group_cap, shuffle_plan

    df = spark.range(100).withColumnRenamed("id", "doc_id").withColumn(
        "source", (F.col("doc_id") % 3).cast("string")
    )
    p1 = _plan(shuffle_plan(df.select("doc_id"), "doc_id", n_shards=4))
    assert p1.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in p1 and "SinglePartition" not in p1
    p2 = _plan(group_cap(df, "doc_id", "source", cap=5))
    assert p2.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in p2 and "SinglePartition" not in p2


def test_span_dedup_elects_winners_with_partial_agg_not_window(spark):
    """The span-winner election must be a partial-aggregatable
    min(struct) groupBy — a row_number window partitioned by span would
    ship every copy of a mega-duplicated span to one reducer
    (SCALE.md round-5 tail).  Pin: partial_min in the plan, no Window
    operator, no SinglePartition."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.dedup import span_dedup

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f g "), F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(span_dedup(df, "doc_id", "text"))
    assert "partial_min" in plan
    assert "Window" not in plan and "SinglePartition" not in plan


def test_vector_index_probe_prunes_cell_partitions(spark, tmp_path_factory):
    """The persisted ANN index's probe must hit the scan as a PARTITION
    filter (cell IN (...) against the cell= directory layout), not a
    post-scan row filter — the scan-cut that is the whole point of
    storing the assignment (similarity.py ivf_topk docstring, now a
    storage guarantee)."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.similarity import ivf_cells
    from mandodb_spark.sources.vector_index import VectorIndex

    df = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    idx = VectorIndex(spark, str(tmp_path_factory.mktemp("vidxplan") / "ivf"))
    idx.build(df, "vec_id", "embedding", ivf_cells(df, "vec_id", "embedding", 8))
    q = df.filter(F.col("vec_id") == 11).select(F.col("embedding").alias("qe"))
    plan = _formatted(idx.topk(q, n_probe=2, k=3))
    assert "PartitionFilters: [cell#" in plan or "PartitionFilters: [" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1)  # non-empty partition filter on cell


def test_text_index_search_prunes_term_buckets(spark, tmp_path_factory):
    """TextIndex.search must hit the postings scan as a PARTITION filter
    (tb IN (...) against the tb= directory layout) — the bucket-pruning
    scan cut that is the point of the inverted layout (text_index.py
    docstring, the VectorIndex probe guarantee applied to terms)."""
    import re

    from pyspark.sql import functions as F

    from mandodb_spark.sources.text_index import TextIndex

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma doc "), F.col("id").cast("string")).alias("text"),
    )
    idx = TextIndex(spark, str(tmp_path_factory.mktemp("tidxplan") / "ti"),
                    n_buckets=8)
    idx.build(df, "doc_id", "text")
    plan = _formatted(idx.search(["alpha", "gamma"], k=5))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "tb" in m.group(1)


def test_record_iterations_exposes_checkpointed_loop_shapes(spark):
    """The plan-audit blind spot fix (round-6 verdict #3): checkpointed
    iterative operators end in a post-checkpoint stub plan (0 shuffles),
    so the audit must capture the PRE-checkpoint loop-body plans via
    record_iterations/note_iteration.  Pin pagerank: the final plan alone
    under-reports, the recorder restores the true per-iteration shape."""
    from pyspark.sql import functions as F

    from mandodb_spark.operators.graph import pagerank
    from mandodb_spark.plans import record_iterations, shuffle_count

    edges = spark.range(30).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 30).alias("dst")
    )
    with record_iterations() as log:
        ranks = pagerank(edges, n_iter=3, undirected=True)
    # final plan is the stub...
    assert shuffle_count(ranks) <= 1
    # ...but the recorder saw every loop-body plan, each with real shuffles
    iters = [n for tag, n in log if tag == "pagerank:iter"]
    assert len(iters) == 3
    assert all(n >= 2 for n in iters), log
    # outside the context the hook is a no-op (production cost: zero)
    from mandodb_spark.plans import note_iteration

    df = spark.range(1)
    assert note_iteration(df, "x") is df


def test_plans_md_covers_every_registered_query():
    """PLANS.md (the committed plan-audit inventory) must hold one
    NON-ERROR row for EVERY query in the driver registry AND the extra
    tier — regenerating it after adding a query is an invariant, not a
    habit (round-7 verdict #2: two round-7 queries were missing).  Also
    re-pins the audit's global promise: zero cartesian products."""
    import re
    from pathlib import Path

    from mandodb_spark.workloads import QUERIES, extra_parity

    md = Path(__file__).resolve().parent.parent / "PLANS.md"
    assert md.exists(), "PLANS.md missing — run tools/plan_audit.py"
    audited = {}
    for line in md.read_text().splitlines():
        m = re.match(r"\| (\S+) \| ([^|]+?) \|", line)
        if m and m.group(1) not in ("query", "---"):
            audited[m.group(1)] = m.group(2).strip()
    want = set(QUERIES) | set(extra_parity.QUERIES)
    missing = want - set(audited)
    assert not missing, (
        f"PLANS.md lacks rows for {sorted(missing)} — "
        f"regenerate with tools/plan_audit.py")
    errors = {q: v for q, v in audited.items()
              if q in want and v.startswith("ERROR")}
    assert not errors, errors
    # the cartesian column (6th) is 0 in every audited row
    for line in md.read_text().splitlines():
        cells = [c.strip() for c in line.split("|")]
        if len(cells) > 7 and cells[1] in want and "ERROR" not in cells[2]:
            assert cells[6] == "0", line
