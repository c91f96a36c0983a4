"""Physical-plan assertions — the 100 TB design contract (SURVEY.md §4):
stats joins must broadcast (never shuffle the big probe side), scans
must prune columns and push filters, and hot paths must stay inside
whole-stage codegen. These tests pin the plan shape so a regression
that silently flips a broadcast join to sort-merge (or drops pushdown)
fails CI even though results stay correct."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.operators.anomalies import int_temperature_anomalies
from iot_temp_data_pipeline_spark.operators.marts import (
    mart_temperature_readings,
    write_mart,
)
from iot_temp_data_pipeline_spark.operators.staging import stg_raw_temperature_readings
from iot_temp_data_pipeline_spark.plans.registry import ACTIVE_THRESHOLD, REGISTRY
from iot_temp_data_pipeline_spark.sources.catalog import load_table
from iot_temp_data_pipeline_spark.sources.readings import raw_readings


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_anomaly_enrichment_joins_broadcast(spark, sf_dir):
    """J1-J4: the device stats join (the only one whose build side grows
    with the data — J2) broadcasts; J1/J3/J4's micro-sized sides (1
    global row, ~10 locations, <=3 environments) are folded into literal
    CASE/const expressions, so they appear as NO join at all (r7 rework
    — each LocalRelation BroadcastExchange cost a fixed ~0.2-0.35 s per
    execution). No SortMergeJoin anywhere — at scale the probe side must
    not shuffle for enrichment."""
    plan = plan_of(REGISTRY["anomaly_scores_t2"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1  # J2 device equi join
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # J1 folded to literals


def test_staging_scan_prunes_columns(spark, sf_dir):
    """Column pruning reaches the parquet scan: the staging model never
    reads events.props (a wide JSON string — reading it at 100 TB would
    dominate scan cost)."""
    plan = plan_of(REGISTRY["staging_readings"].spark(spark, sf_dir))
    assert "props" not in plan
    assert "ReadSchema" in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """A filter on a scanned column appears in PushedFilters."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") > 100).select("event_id")
    plan = plan_of(ev)
    assert "PushedFilters" in plan
    assert "GreaterThan(user_id,100)" in plan


def test_tpch_q1_pushdown_and_codegen(spark, sf_dir):
    """Q1: shipdate predicate pushed to the lineitem scan; aggregation
    runs inside whole-stage codegen."""
    df = REGISTRY["tpch_q1_pricing_summary"].spark(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # AQE materializes the final plan (with codegen spans) only after
    # execution.
    df.collect()
    final_plan = plan_of(df)
    assert "Final Plan" in final_plan
    # formatted mode marks codegen membership as "[codegen id : N]"
    assert "[codegen id :" in final_plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key join WITHOUT any Exchange —
    the pay-once co-location layout for repeated big joins (S9 index
    analog). A sort-merge join over bucketed scans is shuffle-free."""
    from iot_temp_data_pipeline_spark.maintenance import materialize_bucketed

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    try:
        materialize_bucketed(
            spark, orders, "orders_b", "o_orderkey", 4, sort_col="o_orderkey"
        )
        materialize_bucketed(
            spark, lineitem, "lineitem_b", "l_orderkey", 4, sort_col="l_orderkey"
        )
        # disable broadcast so the join strategy itself is under test
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("orders_b")
            .join(
                spark.table("lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .count()
        )
        plan = plan_of(joined, "simple")
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        # the ONLY Exchange is the one feeding the final aggregation —
        # neither join input shuffles
        assert plan.count("Exchange") == 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_topk_uses_takeordered(spark, sf_dir):
    """Top-k = TakeOrderedAndProject (driver-bounded k), never a global
    sort of the full table."""
    plan = plan_of(REGISTRY["topk_orders"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_aggform_dedup_has_no_window_and_partial_agg(spark, sf_dir):
    """The max_by dedup form must plan as partial+final aggregation
    around one exchange (map-side combine before the shuffle), with no
    Window node — the scale story it exists for."""
    plan = plan_of(REGISTRY["dedup_valid_readings_aggform"].spark(spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") >= 1


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Content-defined chunking is a pure map plan: one Generate
    (chunk-array explode) over the scan, ZERO exchanges — the property
    that makes it embarrassingly parallel at any corpus size."""
    plan = plan_of(REGISTRY["chunk_documents_cdc"].spark(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_ivf_assignment_preaggregates_mapside(spark, sf_dir):
    """The IVF argmax must reduce map-side (partial/final HashAggregate
    around the exchange), never sort C rows per vector through a window.
    At test scale (N < MATMUL_ASSIGN_MIN_N) the auto strategy picks the
    pure-Catalyst HOF form — this pins BOTH the small-N choice and its
    map-side-combine shape. Pinned on the index-BUILD plan: the serving
    path (knn_ivf_cosine) reads the session-cached localCheckpoint of
    this build and must NOT re-run the aggregation per query."""
    from iot_temp_data_pipeline_spark.operators import similarity as sim

    emb, _ = sim.quantized_corpus(spark, sf_dir)
    assigned, _ = sim.ivf_cell_assignments(emb, centroid_mod=37)
    assert "partial_max_by" in plan_of(assigned)
    # serving path: cached index scan, no per-query assignment rebuild
    serve = plan_of(REGISTRY["knn_ivf_cosine"].spark(spark, sf_dir))
    assert "partial_max_by" not in serve
    assert "Scan ExistingRDD" in serve or "LogicalRDD" in serve


def test_ivf_matmul_assignment_zero_shuffle_and_parity(spark, sf_dir):
    """The large-N assignment strategy (Arrow-batched matmul kernel)
    ships ZERO shuffle bytes — scan → quantize → MapInPandas with no
    hash-partitioned Exchange (the only Exchange allowed is the
    round-robin spread_small_scan repartition of the one-row-group
    fixture) — and returns rows bit-identical to the Catalyst max_by
    form (same exact int64 dots, same IEEE operation order)."""
    from iot_temp_data_pipeline_spark.operators import similarity as sim

    emb = sim._with_quantized(load_table(spark, sf_dir, "embeddings"))
    assigned, _ = sim.ivf_cell_assignments_matmul(emb, centroid_mod=37)
    plan = plan_of(assigned)
    assert "hashpartitioning" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan

    hof_assigned, _ = sim.ivf_cell_assignments(emb, centroid_mod=37)
    a = {r["vec_id"]: r["cell_id"] for r in assigned.collect()}
    b = {r["vec_id"]: r["cell_id"] for r in hof_assigned.collect()}
    assert a == b and len(a) > 0


def test_brute_force_matmul_partial_topk_parity(spark, sf_dir):
    """The GEMM + distributive-partial-top-k brute-force form returns
    rows bit-identical to the Catalyst crossJoin+window form, and its
    final window ranks only #partitions·Q·(k+1) candidate rows (the
    MapInPandas stage pre-selects per batch)."""
    from iot_temp_data_pipeline_spark.operators import similarity as sim

    a = sorted(
        sim.knn_brute_force(spark, sf_dir, strategy="catalyst").collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    b = sorted(
        sim.knn_brute_force(spark, sf_dir, strategy="matmul").collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    assert len(a) > 0 and a == b
    plan = plan_of(sim.knn_brute_force(spark, sf_dir, strategy="matmul"))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_tfidf_bucketed_index_join_no_shuffle(spark, sf_dir):
    """The materialized TF-IDF index (bucketed+sorted by term) serves a
    query-batch join with NO Exchange on either side — the pay-once
    index layout for repeated retrieval (operators/tfidf.py)."""
    from iot_temp_data_pipeline_spark.operators.dedup import dedup_corpus
    from iot_temp_data_pipeline_spark.operators.tfidf import (
        materialize_postings_bucketed,
    )

    try:
        materialize_postings_bucketed(
            spark, dedup_corpus(spark, sf_dir), "tfidf_postings_t", 4
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        idx = spark.table("tfidf_postings_t")
        qp = spark.table("tfidf_postings_t").filter(
            F.col("doc_id") % 100 == 0
        ).select("term", F.col("doc_id").alias("query_id"), F.col("tf").alias("q_tf"))
        dots = (
            idx.join(qp, "term")
            .filter(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("q_tf") * F.col("tf") * F.col("w")).alias("dot"))
        )
        plan = dots._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(term" not in plan
        assert dots.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS tfidf_postings_t")


def test_cms_build_preaggregates_mapside(spark, sf_dir):
    """The Count-Min cell build must partial-aggregate map-side (the
    mergeable-sketch contract: each task ships at most depth×width
    rows), and the probe side must broadcast into the cell table —
    never shuffle the corpus to meet a sketch."""
    plan = plan_of(REGISTRY["cms_frequency_check"].spark(spark, sf_dir))
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dsir_weights_broadcast_into_gram_stream(spark, sf_dir):
    """DSIR's fixed-size weight table broadcasts back into the gram
    stream; the corpus must never sort-merge against it."""
    plan = plan_of(REGISTRY["dsir_importance_weights"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_substring_span_merge_single_sort(spark, sf_dir):
    """The gaps-and-islands span merge: both window functions share the
    one (doc_id, pos) ordering, so the per-doc merge contributes exactly
    one Sort after its exchange — no second sort for the running-sum
    pass."""
    # the span-DETECTION build row (dedup_exact_substrings now serves
    # from the cached span table, so the merge lives here)
    plan = plan_of(REGISTRY["dedup_repeated_spans"].spark(spark, sf_dir))
    assert plan.count("Window") >= 1
    # one sort for the shared window spec (+1 slack for an AQE variant)
    assert plan.count("Sort ") <= 2


def test_keyword_tagging_dictionary_broadcast(spark, sf_dir):
    """The keyword dictionary join broadcasts (the corpus side must
    never shuffle for the match) and the rollups stay hash-aggregated —
    no SortMergeJoin anywhere in the tagging plan."""
    plan = plan_of(REGISTRY["keyword_tagging"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_register_sketch_broadcast_assembly(spark, sf_dir):
    """HLL estimate assembly: the bucket fill and the verification-side
    join both broadcast (register tables are |groups|x64 rows — nothing
    there may ever shuffle the events side a second time)."""
    plan = plan_of(REGISTRY["hll_register_sketch"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pq_encode_is_map_side_only(spark, sf_dir):
    """PQ encoding must be a single map-side pass in BOTH physical
    forms: no shuffle and no join on the corpus's way to codes
    (operators/pq.py — at 100 TB the encode pass is a pure scan). The
    expression form is additionally Python-free, and the two forms are
    bit-identical."""
    from iot_temp_data_pipeline_spark.operators import pq as pqop

    q, cb = pqop.train_codebook(spark, sf_dir)
    expr_df = pqop.pq_encode(q, cb, strategy="expr")
    plan = plan_of(expr_df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    np_df = pqop.pq_encode(q, cb, strategy="numpy")
    assert "Exchange" not in plan_of(np_df)
    a = expr_df.toPandas().sort_values("vec_id").reset_index(drop=True)
    b = np_df.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert a.astype("int64").equals(b.astype("int64"))
    assert all(len(cb_j) >= 1 for cb_j in cb.values())
    codes = {c for cb_j in cb.values() for c, _ in cb_j}
    assert codes <= set(range(pqop.NCENT))


def test_pq_rerank_fetch_is_shortlist_bounded(spark, sf_dir):
    """The rerank stage's full-vector fetch must hang off the top-R
    shortlist (WindowGroupLimit under the window), and the query-vector
    join must broadcast — the corpus-sized side may shuffle only once,
    for the shortlist window itself."""
    from iot_temp_data_pipeline_spark.operators import pq as pqop

    plan = plan_of(pqop.knn_pq_rerank(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_hnm_and_jl_matmul_strategy_parity(spark, sf_dir):
    """The distributive (partial per-batch) forms of hard-negative
    mining and JL-projected search must be bit-identical to their
    Catalyst forms — the cost model may flip strategy at any scale
    without changing a single row."""
    from iot_temp_data_pipeline_spark.operators import similarity as sim

    for fn in (sim.hard_negative_mining, sim.jl_projection_recall):
        a = fn(spark, sf_dir, strategy="catalyst").toPandas()
        b = fn(spark, sf_dir, strategy="matmul").toPandas()
        a = a.astype(str).sort_values(by=list(a.columns)).reset_index(drop=True)
        b = b.astype(str).sort_values(by=list(b.columns)).reset_index(drop=True)
        assert a.equals(b), f"{fn.__name__} strategy divergence"


def test_bm25_exact_copy_ranks_first_and_reuses_term_partitioning(spark, sf_dir):
    """BM25 sanity + plan contract: (a) a query doc with an exact copy
    in the corpus (the dedup fixture's +1M replicas) ranks that copy
    top-1 and — since the copy is itself a query with identical tf and
    dl — the pair's scores are exactly symmetric; (b) the postings
    build introduces no doc_id exchange: the explicit term partitioning
    satisfies the tf agg, the df agg, and the tf⋈w join (the same
    one-exchange contract as the TF-IDF index)."""
    from iot_temp_data_pipeline_spark.operators.dedup import dedup_corpus
    from iot_temp_data_pipeline_spark.operators.tfidf import (
        bm25_postings,
        bm25_topk,
    )

    rows = bm25_topk(spark, sf_dir).collect()
    assert rows
    by_pair = {(r["query_id"], r["doc_id"]): r for r in rows}
    top1 = {r["query_id"]: r["doc_id"] for r in rows if r["rank"] == 1}
    with_copy = [q for q in top1 if q % 700 == 0 and q < 1_000_000]
    assert with_copy, "fixture should include a query with an exact copy"
    for q in with_copy:
        assert top1[q] == q + 1_000_000, (q, top1[q])
        fwd, rev = by_pair[(q, q + 1_000_000)], by_pair[(q + 1_000_000, q)]
        assert fwd["score_scaled"] == rev["score_scaled"]
        assert fwd["shared_terms"] == rev["shared_terms"] > 1

    plan = bm25_postings(dedup_corpus(spark, sf_dir))._jdf.queryExecution().toString()
    assert "RepartitionByExpression [term" in plan  # explicit term partitioning
    assert "hashpartitioning(doc_id" not in plan  # never shuffled by doc


def test_rank_fusion_windows_touch_only_bin_tables(spark, sf_dir):
    """quality_rank_fusion: rank lookup is a literal-map projection
    over the materialized bin table — ZERO joins of any kind in the
    blend (the midrank tables fold into element_at(map, bin)
    expressions), and the one aggregate is hash-based. The checkpointed
    bin table means the expensive scoring pass appears once (as a scan
    of the checkpoint), not five times."""
    plan = plan_of(REGISTRY["quality_rank_fusion"].spark(spark, sf_dir))
    assert "Join" not in plan  # no BHJ/SMJ/BNLJ — lookup is a map literal
    assert "keys: [" in plan or "HashAggregate" in plan
    assert "SortMergeJoin" not in plan


def test_merge_intervals_single_exchange_no_global_sort(spark, sf_dir):
    """merge_error_intervals: exactly two exchanges — ONE
    hashpartitioning(user_id) shared by both windows AND the island
    aggregate (subset partitioning satisfies the (user, island)
    clustering), plus the final presentation rangepartitioning; never a
    SinglePartition sort."""
    plan = plan_of(REGISTRY["merge_error_intervals"].spark(spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 2
    assert "SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


def test_datacard_rollup_is_one_expand_one_aggregate(spark, sf_dir):
    """datacard_rollup: a single Expand feeding hash aggregation; no
    join, no window, no extra corpus exchange."""
    plan = plan_of(REGISTRY["datacard_rollup"].spark(spark, sf_dir))
    assert plan.count("Expand") >= 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_range_audit_no_data_sized_sort(spark, sf_dir):
    """range_partition_audit: the only Sorts are bin-table-sized window
    sorts / the 8-row presentation sort; bucket assignment broadcasts
    the cut row (BroadcastNestedLoopJoin on a 1-row build side)."""
    plan = plan_of(REGISTRY["range_partition_audit"].spark(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivfpq_scores_via_lut_kernel_and_broadcast_probes(spark, sf_dir):
    """knn_ivfpq_adc: ADC scoring must run through the Arrow LUT
    MapInPandas (the literal Catalyst lookup tree at M·NCENT = 512
    costs ~14 s of FIXED plan processing — SCALE.md round-5 wave 2),
    and the Q·n_probe probe table must broadcast into the code scan
    (the shape that becomes partition pruning over cell-partitioned
    inverted lists at scale)."""
    plan = plan_of(REGISTRY["knn_ivfpq_adc"].spark(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mad_outlier_gate_single_job_window_chain(spark, sf_dir):
    """r8 serve contract: MAD reads the session-cached cents-CDF
    materialization (shared with trimmed_mean_events), so the serving
    plan is one event_type window partitioning (median from the
    materialized cum/n, the dev ordering a re-sort) plus one final
    5-group aggregate. No broadcast sides, no join of any kind, no
    cosmetic output sort, <= 3 exchanges."""
    plan = plan_of(REGISTRY["mad_outlier_gate"].spark(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert "rangepartitioning" not in plan  # no cosmetic output sort
    assert plan.count("Exchange") <= 3


def test_trimmed_mean_single_job_window_chain(spark, sf_dir):
    plan = plan_of(
        REGISTRY["trimmed_mean_events"].spark(spark, sf_dir), "simple"
    )
    assert "Join" not in plan
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange") <= 3


def test_char_entropy_is_pure_map(spark, sf_dir):
    """The entropy gate must stay a narrow per-row projection: no
    aggregation exchange, no join — the only allowed exchange is the
    conditional under-partitioned-scan spread (round-robin)."""
    plan = plan_of(REGISTRY["char_entropy_quality"].spark(spark, sf_dir), "simple")
    assert "Join" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert plan.count("Exchange") <= 1


def test_label_filtered_search_is_hash_join_on_label(spark, sf_dir):
    """Filtered vector search: the metadata predicate must BECOME the
    join key — a BroadcastHashJoin on label, never a nested-loop scan
    of unfiltered candidates (post-filtering) and never a shuffle of
    the corpus side."""
    plan = plan_of(REGISTRY["knn_label_filtered"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_pmi_marginal_joins_broadcast(spark, sf_dir):
    """PMI's two unigram-marginal joins are vocabulary-bounded and must
    broadcast — shuffling the bigram table twice on token keys is the
    regression this pins against."""
    plan = plan_of(REGISTRY["pmi_collocations"].spark(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_dedup_curve_single_partition_is_bucket_bounded(spark, sf_dir):
    """The novelty curve's only SinglePartition exchange is the
    n_buckets-row cumulative window — the corpus-sized stages must all
    be hash-partitioned."""
    plan = plan_of(REGISTRY["corpus_dedup_curve"].spark(spark, sf_dir))
    assert plan.count("SinglePartition") <= 1
    assert "SortMergeJoin" not in plan


def test_example_transforms_are_pure_maps(spark, sf_dir):
    """span_corruption_plan / fim_transform_plan: pure per-row HOF
    projections — no exchange, no join, no Python anywhere (the 100 TB
    transform cost is exactly one scan)."""
    for name in ("span_corruption_plan", "fim_transform_plan"):
        plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name
        assert "Python" not in plan, name


def test_winnowing_fingerprints_zero_exchange(spark, sf_dir):
    """Winnowing build (r10): the sliding min runs inside each doc's
    token array, so the whole build is a shuffle-free projection chain
    — no exchange, no window sort, no join."""
    plan = plan_of(REGISTRY["doc_fingerprints_winnowing"].spark(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_mart_summaries_have_no_expand(spark, sf_dir):
    """The mart's summaries keep at most one countDistinct (on device_id)
    and count bounded-domain columns as size(collect_set), so no Expand
    copies every mart row once per distinct column (operators/marts.py
    distinct-count rule)."""
    for name in (
        "summary_by_load",
        "summary_by_device",
        "summary_overall",
        "pipeline_run_report",
    ):
        plan = plan_of(REGISTRY[name].spark(spark, sf_dir))
        assert "Expand" not in plan, name


def test_write_mart_one_file_per_date_and_round_trips(spark, sf_dir, tmp_path):
    """write_mart rebalances by reading_date: each date directory holds
    exactly one parquet file, and reading the output back gives the
    in-memory mart row for row."""
    stg = stg_raw_temperature_readings(
        raw_readings(spark, sf_dir), with_processing_timestamp=False
    )
    mart = mart_temperature_readings(
        int_temperature_anomalies(stg, threshold=ACTIVE_THRESHOLD)
    )
    path = str(tmp_path / "mart")
    write_mart(mart, path)
    dates = [d for d in os.listdir(path) if d.startswith("reading_date=")]
    assert dates
    for d in dates:
        files = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    back = spark.read.parquet(path).select(*mart.columns)
    # parquet reads every column back as nullable; names and types hold
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in mart.schema
    ]
    assert back.exceptAll(mart).isEmpty()
    assert mart.exceptAll(back).isEmpty()
