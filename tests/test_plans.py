"""Plan-shape regression tests: pushdown, pruning, broadcast strategy.
These encode the 100 TB design contract — a plan regression fails here
before it ships, even though correctness tests would still pass."""

import pytest

from dlx_spark import contract, plans

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_reaches_scan(spark):
    df = contract.Q["from_query_filter"](spark, SF)
    pushed = plans.pushed_filters(df)
    assert any("l_quantity" in f for f in pushed)
    assert any("l_returnflag" in f for f in pushed)


def test_projection_pruned(spark):
    df = contract.Q["from_query_filter"](spark, SF)
    # query touches 6 columns (4 projected + 2 filter-only)
    plans.assert_scan_pruned(df, max_columns=6, table_hint="lineitem")


def test_dimension_joins_broadcast(spark):
    df = contract.Q["multiway_join"](spark, SF)
    assert plans.broadcast_join_count(df) == 3
    plans.assert_no_sort_merge_join(df)


def test_lookup_join_broadcast_and_pruned(spark):
    df = contract.Q["lookup_join"](spark, SF)
    assert plans.broadcast_join_count(df) == 1
    plans.assert_no_sort_merge_join(df)
    plans.assert_scan_pruned(df, max_columns=4)


def test_agg_single_shuffle(spark):
    df = contract.Q["agg_summary"](spark, SF)
    assert plans.shuffle_count(df) <= 1


def test_asof_join_single_shuffle_no_nested_loop(spark):
    df = contract.Q["asof_join"](spark, SF)
    plan = plans.simple_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # union + one window pass: the only exchange is the key partitioning
    assert plans.shuffle_count(df) <= 1
    # r11: both sides derive from the SAME events table in ONE scan (a
    # side flag replaces the two-branch union) — at 100 TB a regression
    # back to two scans doubles the query's I/O
    assert plans._count_operator(df, "Scan parquet") == 1


def test_range_join_is_equi_join(spark):
    df = contract.Q["range_join"](spark, SF)
    plan = plans.simple_plan(df)
    # bucketing turns the interval join into an equi-join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_deterministic_sample_is_pure_scan(spark):
    df = contract.BENCH["deterministic_sample"](spark, SF)
    assert plans.shuffle_count(df) == 0
    assert plans.broadcast_join_count(df) == 0


def test_chunking_and_redaction_are_flat_maps(spark):
    # both are pure per-row projections: the plan may widen a narrow
    # local scan but must contain no aggregation or join exchanges
    for name in ("chunk_documents", "redact_pii"):
        df = contract.Q[name](spark, SF)
        plan = plans.simple_plan(df)
        assert "Join" not in plan, name
        assert "HashAggregate" not in plan, name


def test_minhash_signature_stage_shuffle_free(spark):
    from dlx_spark.operators.dedup import minhash_signatures
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # already wider than defaultParallelism → spread is a no-op, and the
    # signature computation itself must not add any exchange
    sigs = minhash_signatures(docs.repartition(64))
    # repartition node itself is the only permitted exchange
    assert plans.shuffle_count(sigs) <= 1
    assert plans.broadcast_join_count(sigs) == 0


def test_simhash_fingerprint_stage_pure_jvm(spark):
    """The simhash fingerprint must stay a JVM expression: no Python
    worker round-trip (BatchEvalPython/ArrowEvalPython) anywhere in the
    plan, and no shuffle beyond spread_for_compute's local widening
    (round-2 verdict item #2)."""
    from dlx_spark.operators.dedup import simhash_fingerprints
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    fps = simhash_fingerprints(docs.repartition(64))
    plan = plans.simple_plan(fps)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "PythonUDF" not in plan
    assert plans.shuffle_count(fps) <= 1
    assert plans.broadcast_join_count(fps) == 0
    # the full near-dup pipeline keeps the fingerprint stage Python-free
    df = contract.Q["simhash"](spark, SF)
    plan = plans.simple_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_marc_condition_predicate_prunes(spark, bibs_df, auth_index):
    from dlx_spark.marc import query as q
    pred = q.Condition("245", {"a": "This"}).compile(auth_index)
    filtered = bibs_df.select("_id").filter(pred)
    # the predicate is a pure Column: no joins, no shuffles
    assert plans.shuffle_count(filtered) == 0
    assert plans.broadcast_join_count(filtered) == 0


def test_vector_operator_plan_construction_is_action_free(spark):
    """Building the vector-operator plans with ``dim`` supplied must
    trigger NO Spark job: a driver-side ``.first()`` during plan
    construction (the convenience dim-inference fallback) would fire the
    poison UDF below.  Guards the action-free default path the contract
    and index call-sites rely on."""
    from pyspark.sql import functions as F

    from dlx_spark.operators import similarity

    @F.udf("array<double>")
    def boom(_):
        raise RuntimeError("plan-time action fired")

    df = spark.range(16).select(F.col("id").alias("vec_id"),
                                boom("id").alias("embedding"))
    # the poison actually detonates on any action
    with pytest.raises(Exception):
        df.first()

    # plan construction alone must not evaluate the frame
    similarity.lsh_buckets(df, dim=8)
    similarity.banded_lsh_keys(df, bands=2, n_planes=4, seed=42, dim=8)
    similarity.cosine_near_duplicates(df, dim=8)
    similarity.cosine_near_duplicates(df, dim=8, bands=2, bucket_cap=50)
    similarity.cosine_near_duplicates(df, dim=8, multiprobe_hamming=1,
                                      bucket_cap=None)
    similarity.knn_join(df, df, dim=8)


def test_lsh_verified_pairs_slim_regime_single_exchange(spark):
    """The one-shuffle formulation's structural contract (round 8/9):
    in the slim regime the band self-join reuses ONE band-bucket
    partitioning and the signature join-backs broadcast — so the whole
    pair pipeline carries at most one exchange, and the cross-band
    dedup is a filter, not a `distinct` exchange.  The wall-clock gain
    over the distinct-based pipeline is modest (~1.05-1.2×); THIS is
    the win that matters at cluster scale, so CI defends the plan
    shape, not the noisy number."""
    from dlx_spark.operators.dedup import (lsh_verified_pairs,
                                           minhash_signatures)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sigs = minhash_signatures(docs).cache()
    try:
        pairs = lsh_verified_pairs(sigs, bands=16, min_match=32)
        plan = plans.simple_plan(pairs)
        # one exchange (band-bucket, reused by both self-join sides);
        # a distinct-based regression adds a second — this is the pin
        assert plans.shuffle_count(pairs) <= 1, plan
        assert plans.sort_merge_join_count(pairs) == 0
    finally:
        sigs.unpersist()


@pytest.mark.slow
def test_commit_pipeline_store_side_joins_never_shuffle_store(
        spark, tmp_path):
    """The commit pipeline's three store-side joins (audit stamps,
    prev-id intersection, history version bases) must stream the
    store/history map-side against BROADCAST batch ids for
    broadcast-sized batches — the naive directions put the whole store
    on the shuffle side of a sort-merge, an O(store) shuffle per
    commit batch at 100 TB."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from dlx_spark.marc.record import Bib
    from dlx_spark.marc.store import MarcStore

    st = MarcStore(spark, str(tmp_path / "wh_plan"))
    st.commit([Bib().set("245", "a", f"Doc {i}", auth_control=False)
               for i in range(8)], now=datetime(2026, 1, 1))

    src = st.table("bib").filter(F.col("_id") <= 3)
    live = st.table("bib").select(
        "_id", F.col("created").alias("_pc"),
        F.col("created_user").alias("_pcu"))

    stamped = st._with_audit_stamps(src, live, "u", datetime(2026, 1, 2),
                                    small=True)
    plan = plans.simple_plan(stamped)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plans.shuffle_count(stamped) == 0, plan   # zero SHUFFLES


    prev_source = st.table("bib").select(F.col("_id").alias("record_id"))
    prev = st._prev_id_frame(src, prev_source, small=True)
    pplan = plans.simple_plan(prev)
    assert "SortMergeJoin" not in pplan, pplan
    assert "BroadcastHashJoin" in pplan and "LeftSemi" in pplan, pplan
    assert plans.shuffle_count(prev) == 0, pplan
    # results identical to the unhinted direction
    a = sorted(r["record_id"] for r in prev.collect())
    b = sorted(r["record_id"] for r in
               st._prev_id_frame(src, prev_source, small=False).collect())
    assert a == b and len(a) == 3


def test_oov_vocabulary_broadcast_and_pure_jvm(spark):
    """The OOV mark must broadcast the dimension-sized vocabulary (the
    documents never shuffle to meet it) and stay UDF-free."""
    df = contract.BENCH["oov_rate"](spark, SF)
    plan = plans.simple_plan(df)
    assert plans.broadcast_join_count(df) >= 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_classifier_score_broadcast_weights_single_shuffle(spark):
    """Classifier inference: hashing is codegen, the weights dimension
    joins broadcast (documents never shuffle to meet it), the per-doc
    mean is the only exchange.  No Python worker."""
    df = contract.BENCH["classifier_scores"](spark, SF)
    plan = plans.simple_plan(df)
    assert plans.broadcast_join_count(df) >= 1
    assert plans.shuffle_count(df) <= 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_export_manifest_single_shuffle_pure_jvm(spark):
    """Shard assignment is a closed-form md5 expression (no shuffle);
    the manifest is one partial-agg groupBy on the shard id."""
    df = contract.BENCH["export_shard_stats"](spark, SF)
    plan = plans.simple_plan(df)
    assert plans.shuffle_count(df) == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_segment_dedup_two_linear_exchanges_pure_jvm(spark):
    """C4-style segment dedup must stay a two-exchange linear plan:
    one digest-keyed window (first-occurrence choice) + one doc-keyed
    rebuild; per-doc totals come off the scan and join broadcast.  No
    Python worker anywhere — segment slicing is codegen exprs."""
    df = contract.BENCH["segment_dedup_stats"](spark, SF)
    plan = plans.simple_plan(df)
    assert plans.shuffle_count(df) <= 2
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_duplicate_spans_bounded_exchanges_equi_join_only(spark):
    """The span profile and the keep-first cut are equi-join pipelines:
    digest-keyed dup aggregation (partial-agg friendly), digest join
    back, doc-partitioned interval merge — never a cartesian/nested
    loop, never a Python worker."""
    for name in ("dup_span_profile", "span_cut_profile"):
        df = contract.BENCH[name](spark, SF)
        plan = plans.simple_plan(df)
        assert plans.shuffle_count(df) <= 3, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_semdedup_hyperplane_pure_jvm_single_cluster_shuffle_pair(spark):
    """The oracle-checked hyperplane SemDeDup is pure JVM (signatures
    are codegen expressions, no UDF), and the intra-cluster pair join
    is an EQUI join — no CartesianProduct / nested loop anywhere."""
    df = contract.BENCH["semdedup_survivors"](spark, SF)
    plan = plans.simple_plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
