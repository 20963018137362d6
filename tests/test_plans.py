"""Physical-plan contract tests (SURVEY §4): pushdown, pruning,
broadcast selection, rank-limit folding, no cartesian degeneration.
These lock in the '100 TB plan shape' — a regression here is a perf
bug even when results stay correct."""

from __future__ import annotations

import pytest

from capgemini_himss24_fhirbulkdata_demo_spark import queries as q
from capgemini_himss24_fhirbulkdata_demo_spark.plans import (
    assert_no_cartesian_product,
    explain_str,
    join_strategies,
    pushed_filters,
    read_schemas,
    wholestage_codegen_count,
)

from .conftest import SF_DIR


def _plan(spark, name):
    return q.QUERIES[name](spark, SF_DIR)


def test_q01_pushdown_and_pruning(spark):
    df = _plan(spark, "q01_pricing_summary")
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, pf
    scans = read_schemas(df)
    assert len(scans) == 1
    # only the 7 referenced columns, not all 11
    assert set(scans[0]) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }


def test_q02_like_and_range_pushed(spark):
    df = _plan(spark, "q02_filter_project")
    pf = " ".join(pushed_filters(df))
    assert "p_size" in pf and "BRASS" in pf, pf
    assert set(read_schemas(df)[0]) == {
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        "p_retailprice",
    }


def test_q03_broadcasts_customer(spark):
    df = _plan(spark, "q03_top_revenue_orders")
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies
    # top-k via TakeOrderedAndProject, not a global Sort
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_q05_star_join_all_dims_broadcast(spark):
    df = _plan(spark, "q05_regional_revenue")
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 4, strategies
    assert "CartesianProduct" not in strategies


def test_q31_rank_limit_folds(spark):
    df = _plan(spark, "q31_topk_per_group")
    assert "WindowGroupLimit" in explain_str(df, "simple")


def test_q23_theta_is_bounded_bnlj(spark):
    # theta join is only plannable as nested-loop; the engine contract
    # is that the broadcast side is the non-scaling one.
    df = _plan(spark, "q23_theta_join")
    assert "BroadcastNestedLoopJoin" in join_strategies(df)


def test_minhash_no_cartesian(spark):
    assert_no_cartesian_product(_plan(spark, "x02_dedup_minhash"))


def test_knn_lsh_is_hash_join(spark):
    # bucketed ANN must join on the bucket key, not nested-loop.
    strategies = join_strategies(_plan(spark, "x11_knn_lsh"))
    assert "BroadcastHashJoin" in strategies or "SortMergeJoin" in strategies, strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_codegen_spans_exist(spark):
    # the hot relational path stays inside whole-stage codegen; AQE
    # only annotates codegen spans on the *final* plan, so execute
    # first and inspect the post-execution plan.
    df1 = _plan(spark, "q01_pricing_summary")
    df1.collect()
    assert wholestage_codegen_count(df1) >= 1
    df5 = _plan(spark, "q05_regional_revenue")
    df5.collect()
    assert wholestage_codegen_count(df5) >= 2


def test_fhir_eob_join_strategies(spark, tmp_path):
    """The FHIR EOB pipeline joins nothing: the RxNav enrichment is a
    MAP literal and the duplicate-id rule is a window over id. No join
    side can be broadcast (hinted or by statistics) or degenerate to a
    cartesian at any input size, and the one shuffle is the window's
    id partition — SURVEY §4.3.1/.2."""
    import json as _json
    import re

    from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
        EXPLANATION_OF_BENEFIT_SCHEMA,
        RXNAV_LOOKUP_SCHEMA,
    )

    p = tmp_path / "ExplanationOfBenefit-c-1.json"
    p.write_text(
        _json.dumps(
            {
                "resourceType": "ExplanationOfBenefit",
                "id": "e1",
                "patient": {"reference": "Patient/-10000000000027"},
                "type": {"coding": []},
                "supportingInfo": [],
                "item": [],
            }
        )
    )
    df = read_ndjson(spark, str(p), EXPLANATION_OF_BENEFIT_SCHEMA)
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    fn = get_transform("https://bcda.example", "ExplanationOfBenefit")
    out = fn(df, rx)
    assert join_strategies(out) == []
    text = explain_str(out, "simple")
    assert "Join" not in text and "Broadcast" not in text, text
    assert re.findall(r"Exchange (\w+)", text) == ["hashpartitioning"], text
    assert re.search(r"Exchange hashpartitioning\(id#\d+, \d+\)", text), text


def test_q16_dims_broadcast(spark):
    strategies = join_strategies(_plan(spark, "q16_nation_trade_pairs"))
    assert strategies.count("BroadcastHashJoin") >= 4, strategies
    assert "CartesianProduct" not in strategies


def test_q71_filters_pushed(spark):
    df = _plan(spark, "q71_returned_item_revenue")
    pf = " ".join(pushed_filters(df))
    assert "l_returnflag" in pf and "o_orderdate" in pf, pf
    assert "CartesianProduct" not in join_strategies(df)


def test_q57_part_broadcast(spark):
    strategies = join_strategies(_plan(spark, "q57_promo_revenue"))
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_x02_gated_pipeline_no_cartesian(spark):
    # estimate gate adds two joins; none may degenerate
    assert_no_cartesian_product(_plan(spark, "x02_dedup_minhash"))


def test_x02_no_forced_broadcast_of_signature_table(spark):
    """The agree-gate must ride the band self-join; the round-1
    scale-killer was HINT-forced broadcasts of the O(corpus) signature
    table. Stats-based broadcasts of genuinely-small sides are fine
    (and correct at fixture scale) — so discriminate by disabling the
    size threshold: statistics broadcasts vanish, hinted ones would
    remain."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(_plan(spark, "x02_dedup_minhash"))
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_pushed_filter_entries_are_whole(spark):
    # regression for the comma-fragmentation bug in the plan parser
    df = _plan(spark, "q01_pricing_summary")
    for entry in pushed_filters(df):
        assert entry.count("(") == entry.count(")"), entry


def test_split_top_level_parser():
    from capgemini_himss24_fhirbulkdata_demo_spark.plans.inspect import (
        _split_top_level,
    )

    assert _split_top_level("IsNotNull(a), LessThanOrEqual(b,2000-01-01)") == [
        "IsNotNull(a)",
        "LessThanOrEqual(b,2000-01-01)",
    ]
    assert _split_top_level("In(c, [x,y,z]), Eq(d,1)") == ["In(c, [x,y,z])", "Eq(d,1)"]
    assert _split_top_level("a:struct<b:int,c:int>,d:decimal(12,2)") == [
        "a:struct<b:int,c:int>",
        "d:decimal(12,2)",
    ]
    assert _split_top_level("") == []


def test_x25_tfidf_topk_is_window_group_limit(spark):
    # rank<=3 after row_number must fold to WindowGroupLimit, not a
    # full sort of the scored stream
    plan = explain_str(_plan(spark, "x25_tfidf"))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_q79_gap_fill_spine_is_broadcast(spark):
    # the dense hour spine is tiny (one row per hour) — its join against
    # hourly counts must broadcast, never shuffle the spine
    strategies = join_strategies(_plan(spark, "q79_gap_fill"))
    assert "BroadcastHashJoin" in strategies, strategies


def test_q83_single_fact_shuffle_dims_broadcast(spark):
    # lineitem is the only fact; orders/supplier/nation must all join
    # broadcast so one scan+shuffle survives at 100 TB
    df = _plan(spark, "q83_market_share")
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3, strategies
    assert "CartesianProduct" not in strategies


def test_q87_not_in_is_broadcast_anti_not_nested_loop(spark):
    # NOT IN over the small supplier exclusion list must plan as a
    # null-aware BroadcastHashJoin LeftAnti, never a nested loop over
    # the fact
    plan = explain_str(_plan(spark, "q87_supplier_cnt_by_part"))
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_x26_topk_is_ordered_take(spark):
    # vocabulary top-50 must be TakeOrderedAndProject (reducer-local
    # heaps), never a global sort of the term table
    plan = explain_str(_plan(spark, "x26_vocabulary"), "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_x35_funnel_single_exchange_no_joins(spark):
    # r11 contract: the chained conditional-min windows share ONE
    # user_id exchange; the stepwise user-keyed joins are gone and
    # no cartesian may appear
    df = _plan(spark, "x35_funnel")
    assert_no_cartesian_product(df)
    assert join_strategies(df) == [], join_strategies(df)
    plan = explain_str(df, "simple")
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_x13_recall_join_no_cartesian(spark):
    df = _plan(spark, "x13_ann_recall")
    assert "CartesianProduct" not in join_strategies(df)


def test_x42_no_forced_broadcast_and_no_cartesian(spark):
    """Decontamination's gram semi-join must rely on stats/AQE for
    broadcast (the eval side is small by the hash gate, but only by
    statistics — a hint would pin O(corpus) bytes at real scale)."""
    assert_no_cartesian_product(_plan(spark, "x42_decontamination"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(_plan(spark, "x42_decontamination"))
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_x29_partial_aggregation_before_shuffle(spark):
    """Repetition counts must map-side combine: every Exchange is fed
    by a partial HashAggregate, so the shuffle carries (doc, term)
    groups, not raw tokens."""
    plan = explain_str(_plan(spark, "x29_repetition"))
    import re

    n_exchanges = len(re.findall(r"hashpartitioning\(", plan))
    n_partial = len(re.findall(r"partial_", plan))
    assert n_exchanges >= 2 and n_partial >= 2, plan


def test_x45_single_shuffle_window_then_rollup(spark):
    """Packing is ONE hash exchange: the per-source window shuffle,
    whose partitioning the (source, bin_id) rollup then REUSES (rows
    of one source are already co-located) — Catalyst inserts no
    second exchange before the aggregate."""
    plan = explain_str(_plan(spark, "x45_pack_sequences"))
    import re

    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan
    assert "Window" in plan, plan


def test_q92_dims_broadcast_no_cartesian(spark):
    # Q7 shape: the only shuffled join is lineitem↔orders; the four
    # dimension joins (customer, supplier, nation×2) all broadcast.
    df = _plan(spark, "q92_nation_pair_volume")
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 4, strategies
    assert "CartesianProduct" not in strategies


def test_x47_bm25_topk_and_stats_broadcast(spark):
    # corpus stats are one row — broadcast back to the scoring pass;
    # top-20 must fold into TakeOrderedAndProject, never a global sort
    df = _plan(spark, "x47_bm25_search")
    assert "BroadcastNestedLoopJoin" in join_strategies(df) or (
        "BroadcastHashJoin" in join_strategies(df)
    )
    simple = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in simple or "WindowGroupLimit" in simple, simple


def test_x16_semdedup_cluster_join_is_hash(spark):
    # the intra-cluster pair join must key on the cluster id (hash or
    # sort-merge), never degenerate to a nested loop over all pairs
    df = _plan(spark, "x16_semdedup")
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies or "SortMergeJoin" in strategies, strategies
    assert "CartesianProduct" not in strategies


def test_x44_pii_scrub_is_narrow(spark):
    # redaction is a pure per-row map: no joins, no shuffle beyond the
    # final presentation sort
    df = _plan(spark, "x44_pii_redaction")
    assert join_strategies(df) == [], join_strategies(df)


def test_cosine_topk_no_forced_broadcast_by_default(spark):
    """cosine_topk's API does not bound the query frame, so the
    operator must not HINT-broadcast it (round-2 verdict item: the
    last hint-on-unbounded-frame in the package). Discriminate hinted
    from stats-based broadcasts by disabling the size threshold:
    statistics broadcasts vanish, a hint would remain."""
    from pyspark.sql import functions as F

    from capgemini_himss24_fhirbulkdata_demo_spark.operators import cosine_topk
    from capgemini_himss24_fhirbulkdata_demo_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket,
    )
    from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    planes = hyperplanes(4, 64)
    b = emb.withColumn("bucket", lsh_bucket(F.col("embedding"), planes))
    qb = b.filter(F.col("vec_id") < 3)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = cosine_topk(
            qb, b, "vec_id", "vec_id", "embedding", "embedding",
            k=2, bucket_col="bucket",
        )
        assert "BroadcastExchange" not in explain_str(unhinted), explain_str(unhinted)
        hinted = cosine_topk(
            qb, b, "vec_id", "vec_id", "embedding", "embedding",
            k=2, bucket_col="bucket", broadcast_queries=True,
        )
        assert "BroadcastExchange" in explain_str(hinted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_semdedup_skew_guard(spark):
    """The intra-cluster pair join shuffles on the cluster id; ragged
    clusters are the expected skew shape. Guard: session policy keeps
    AQE skew-join splitting ON, and the pair join is a shuffled
    hash/sort-merge join (never a nested loop) even with 16
    clusters."""
    from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table
    from capgemini_himss24_fhirbulkdata_demo_spark.operators import semdedup

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    _, dup = semdedup(
        emb, "vec_id", "embedding", threshold=0.95,
        n_lists=16, dim=64,
    )
    strategies = join_strategies(dup)
    assert "CartesianProduct" not in strategies, strategies
    assert any(s in strategies for s in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")), strategies


def test_x46_lm_model_build_is_partial_agg(spark):
    """The bigram model build must partial-aggregate map-side (stopword
    pairs would otherwise hot-spot single reducers), and the scoring
    join must never degenerate to a nested loop."""
    df = _plan(spark, "x46_lm_score")
    plan = explain_str(df)
    assert "partial_count" in plan or "Partial" in plan, plan
    assert_no_cartesian_product(df)


def test_q104_filter_clause_single_scan_no_join(spark):
    """FILTER-clause aggregates compile to one scan and hash
    aggregation — no self-joins, no CASE-pyramid extra projects."""
    df = _plan(spark, "q104_filter_clause")
    assert join_strategies(df) == [], join_strategies(df)
    assert len(read_schemas(df)) == 1, read_schemas(df)


def test_x18_chunk_join_shapes(spark):
    """Chunk frequency pass partial-aggregates; the flag join keys on
    the chunk value — never a nested loop."""
    df = _plan(spark, "x18_paragraph_dedup")
    plan = explain_str(df)
    assert "partial" in plan.lower(), plan
    assert_no_cartesian_product(df)


def test_q106_plan_matches_explicit_form(spark):
    """GROUP BY ALL / ORDER BY ALL must optimize to the same logical
    plan as the spelled-out grouping and ordering."""
    from .conftest import SF_DIR as _SF

    df_all = _plan(spark, "q106_group_order_all")
    from capgemini_himss24_fhirbulkdata_demo_spark.queries.relational4 import _views

    _views(spark, _SF, "lineitem")
    df_explicit = spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus, sum_qty, n_lines
        """
    )
    p1 = df_all._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    p2 = df_explicit._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    assert p1 == p2, f"{p1}\n!=\n{p2}"


def test_x46_stopword_skew_shuffle_join_and_oracle(spark, tmp_path):
    """Stopword-skew contract for x46's scoring join (verdict r3 #4):
    on a corpus where one bigram ('the the') dominates ~90% of mass,
    the (a, b) model join must stay a shuffle join — the shape AQE
    skew-join can split at runtime (session policy enables
    ``adaptive.skewJoin``); never a cartesian, and the big per-token
    side must not be broadcast. Results must still match the DuckDB
    oracle bit-for-bit on the same skewed corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .oracle import compare, run_duck, run_spark

    hot = "the " * 200 + "the"  # 200 'the the' bigrams in one doc
    docs = [hot] * 18 + ["cat sat on the mat", "dog ran fast today"]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["t"] * len(docs), pa.string()),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    # tiny fixtures auto-broadcast everything; disable the threshold to
    # expose the at-scale join shape (same device as the x02/x10
    # contracts) — only the 1-row vocab broadcast may survive
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q.QUERIES["x46_lm_score"](spark, str(tmp_path))
        strategies = join_strategies(df)
        assert "CartesianProduct" not in strategies, strategies
        assert any(
            s in strategies for s in ("SortMergeJoin", "ShuffledHashJoin")
        ), f"scoring join must be shuffle-based (AQE-splittable): {strategies}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    errs = compare(
        "x46_skewed",
        run_spark(q.QUERIES["x46_lm_score"], spark, str(tmp_path)),
        run_duck(q.ORACLE_SQL["x46_lm_score"], str(tmp_path)),
    )
    assert not errs, "\n".join(errs)


def test_paragraph_ops_scale_shapes(spark):
    """x17/x19/x56 plan contracts: chunk-keyed joins stay hash/merge
    (AQE-splittable), never cartesian; the x19 chunk scan reads only
    doc_id + text."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("x17_repetition_removal", "x19_paragraph_removal"):
            df = _plan(spark, name)
            assert_no_cartesian_product(df)
            strategies = join_strategies(df)
            assert all(
                s in ("SortMergeJoin", "ShuffledHashJoin") for s in strategies
            ), (name, strategies)
        for scan in read_schemas(_plan(spark, "x19_paragraph_removal")):
            assert set(scan) <= {"doc_id", "text"}, scan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_round4_scalar_rollups_single_scan(spark):
    """x09/x61 are scan → partial-agg rollups: no joins, one scan,
    only the referenced columns read. q107's interval-RANGE window is
    one keyed shuffle (no join, no extra exchange per aggregate)."""
    for name, cols in (
        ("x09_source_dedup_rate", {"source", "text"}),
        ("x61_length_histogram", {"text"}),
    ):
        df = _plan(spark, name)
        assert join_strategies(df) == [], (name, join_strategies(df))
        scans = read_schemas(df)
        assert len(scans) == 1 and set(scans[0]) <= cols, (name, scans)
    q107 = _plan(spark, "q107_interval_range")
    assert join_strategies(q107) == []
    import re

    plan = explain_str(q107)
    # formatted plans list each node in tree AND detail sections —
    # count the numbered detail entries: one user_id partition
    # exchange + one final global order, nothing per-aggregate
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 2, plan


def test_x68_window_group_limit_and_q112_exchange_reuse(spark):
    # x68: per-class top-k via rank must fold into WindowGroupLimit
    # (each partition keeps <= quota rows before the final sort)
    p = explain_str(_plan(spark, "x68_balanced_sample"))
    assert "WindowGroupLimit" in p, p
    # q112: the aggregate must reuse CLUSTER BY's hash distribution —
    # exactly 2 exchanges (cluster-by hash + final ORDER BY range),
    # never a third for the aggregate itself
    import re

    p2 = explain_str(_plan(spark, "q112_cluster_by"))
    # formatted explain lists each node twice (tree + detail): count
    # distinct "(n) Exchange" detail headers
    assert len(re.findall(r"^\(\d+\) Exchange", p2, re.M)) == 2, p2


def test_x66_incremental_dedup_batch_bounded(spark):
    # the corpus side must prune to its fingerprint input column —
    # corpus text is read only to fingerprint, and the join key is
    # the fingerprint (uniform), never raw text
    df = _plan(spark, "x66_incremental_dedup")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "SortMergeJoin" in p or "BroadcastHashJoin" in p or "ShuffledHashJoin" in p, p


def test_x65_hashed_features_single_agg_shuffle(spark):
    # tokenize stays narrow; (doc_id, bucket) partial agg + per-doc
    # window — no joins at all
    df = _plan(spark, "x65_hashed_features")
    p = explain_str(df)
    assert "Join" not in p, p
    assert "partial_count" in p or "partial" in p.lower(), p


def test_q111_single_window_q113_ordered_limit(spark):
    import re

    # q111: the shared named-window spec must compile to ONE Window
    # physical operator evaluating both functions in a single pass
    p = explain_str(_plan(spark, "q111_named_window"))
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 1, p
    # q113: LIMIT+OFFSET over a total order must fold into
    # TakeOrderedAndProject (no global sort materialization)
    p2 = explain_str(_plan(spark, "q113_offset_pagination"))
    assert "TakeOrderedAndProject" in p2, p2
    assert "Sort " not in p2.split("TakeOrderedAndProject")[0], p2


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark):
    """Spark's runtime bloom-filter injection (the shuffle-pruning
    row-group skipper for selective dim joins at scale): with the
    size thresholds scaled down to fixture size (defaults are 10 GB
    application-side / 10 MB creation-side — i.e. the 100 TB regime),
    the optimizer must inject a might_contain() semi-filter on the
    fact side, built from the filtered dim. This is the 'free'
    Catalyst feature SURVEY §4.2 counts on for selective star joins —
    the contract here is that our plain equi-join shapes stay
    eligible for it (no manual rewrite disqualifies them)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from capgemini_himss24_fhirbulkdata_demo_spark.catalog import load_table

        li = load_table(spark, SF_DIR, "lineitem")
        pt = load_table(spark, SF_DIR, "part").filter("p_size = 7")
        j = li.join(pt, li.l_partkey == pt.p_partkey).groupBy("p_size").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_x80_x81_narrow_no_shuffle(spark):
    import re

    # x80: HOF segmentation is narrow. Exactly two exchanges: the
    # round-robin fan-out that spreads the small documents scan over
    # the cores before the BPE fold (sf0.1, 4 cores: 0.89 s with it,
    # 1.63 s without), and the final ORDER BY range partition. No hash
    # exchange (no aggregate or join shuffle) and no join.
    p = explain_str(_plan(spark, "x80_bpe_segment"))
    exchanges = re.findall(r"^\(\d+\) Exchange\n.*\nArguments: (\w+)", p, re.M)
    assert sorted(exchanges) == ["RoundRobinPartitioning", "rangepartitioning"], p
    assert "hashpartitioning" not in p, p
    assert "Join" not in p, p
    # x81: slice-based chunking — no per-token explode-shuffle, no join;
    # one generate + the final sort exchange
    p2 = explain_str(_plan(spark, "x81_rag_chunks"))
    assert len(re.findall(r"^\(\d+\) Exchange", p2, re.M)) == 1, p2
    assert "Join" not in p2, p2


def test_x82_vocab_is_broadcast(spark):
    # the K-row vocab must broadcast into the token stream — the
    # corpus-side token explode must never shuffle for the membership
    # probe (only the vocab build and the doc rollup shuffle)
    p = explain_str(_plan(spark, "x82_oov_rate"))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_x85_join_key_includes_segment(spark):
    # PassJoin candidate generation: the equi-join key must include
    # the segment STRING column (content blocking), not just length —
    # length-only keys are near-quadratic per bucket at web-scale
    # vocab (VERDICT r4 Performance audit). The non-equi residue is
    # only the t_i != t_p self-pair guard.
    df = _plan(spark, "x85_typo_pairs")
    assert_no_cartesian_product(df)
    jp = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    m = re.search(r"Join Inner, \(+(.*)", jp)
    assert m, jp
    cond = m.group(1)
    assert re.search(r"seg#\d+ = sub#\d+", cond), cond
    assert re.search(r"i#\d+ = i#\d+", cond), cond


def test_x87_model_is_broadcast(spark):
    # the 256-row bucket log-ratio model must broadcast into the
    # (doc, bucket) stream — the corpus-sized side never shuffles for
    # the scoring join
    df = _plan(spark, "x87_dsir_weights")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "BroadcastHashJoin" in p, p


def test_x91_no_running_distinct(spark):
    # cumulative distinct types via the first-occurrence trick: the
    # plan is two uniform-key partial aggs + a tiny bucket-axis
    # window — no join of token streams, no distinct over a growing
    # prefix
    df = _plan(spark, "x91_vocab_growth")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "partial_min" in p or "partial" in p.lower(), p


def test_x90_windowed_min_stays_per_doc(spark):
    # winnowing's sliding min is a doc_id-partitioned window — no
    # cross-document data motion in the fingerprint selection stage
    df = _plan(spark, "x90_winnowing")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "Window" in p, p


def test_x96_codebook_and_dtable_broadcast(spark):
    # ADC scan contract (r11 form): the codebook and the per-query
    # distance table are each folded to ONE broadcast row, so every
    # join in the plan is a BroadcastNestedLoopJoin of a 1-row side —
    # the data-sized codes table must never shuffle for a lookup
    # against constant-sized state, and the old per-(vec, sub)
    # explode + (q_id, c_id) aggregate exchange must stay gone
    df = _plan(spark, "x96_pq_adc_search")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "BroadcastNestedLoopJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "ShuffledHashJoin" not in p, p
    assert "BroadcastHashJoin" not in p, p


def test_x97_sketch_probe_broadcast(spark):
    # the D*W-row sketch broadcasts into the distinct-token estimate
    # probe; the only data-sized shuffles are the token partial agg
    # and the (d, bucket) sketch build
    df = _plan(spark, "x97_cms_heavy_hitters")
    p = explain_str(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_x100_edge_distillation_broadcasts_dims(spark):
    # PageRank edge distillation: supplier/customer dim joins must
    # broadcast; the only fact-fact shuffle join is
    # lineitem-orders on orderkey. No cartesian anywhere in the
    # 5-iteration unrolled plan.
    df = _plan(spark, "x100_pagerank_nations")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "BroadcastHashJoin" in p, p


def test_x94_span_removal_position_set_join(spark):
    # r11 contract (OPTIMIZATION_r11.md §x94): token survival is an
    # order-preserving array filter against ONE per-doc removed-
    # position set attached by a LEFT OUTER join — tokens never leave
    # their document; never a per-token membership UDF, never a
    # cartesian. (The pre-r11 shape exploded every token into a
    # (doc, pos)-keyed LEFT ANTI join — three token-grain shuffles.)
    df = _plan(spark, "x94_span_removal")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "LeftOuter" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # the joined side must be the doc-grain coverage aggregate, not a
    # token-grain relation: exactly one join in the whole plan
    assert len(join_strategies(df)) == 1, join_strategies(df)


def test_x172_fk_audit_anti_joins(spark):
    # every FK edge must check orphans via LEFT ANTI join (never an
    # IN-subquery rewrite into a cartesian or a per-row probe); dim
    # parents broadcast
    df = _plan(spark, "x172_fk_integrity")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "LeftAnti" in p, p
    assert "BroadcastHashJoin" in p, p


def test_x158_topk_is_take_ordered(spark):
    # the top-30 shrunk-rate leaderboard must fold into
    # TakeOrderedAndProject — a global sort of all parts would be
    # the 100 TB failure mode
    df = _plan(spark, "x158_eb_shrinkage")
    p = explain_str(df)
    assert "TakeOrderedAndProject" in p, p


def test_x153_dims_broadcast(spark):
    # supplier and nation are dims: the fact join must broadcast
    # them, never shuffle lineitem against a sort-merge
    df = _plan(spark, "x153_hhi_concentration")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_x192_pair_join_keyed_and_take_ordered(spark):
    # the brand-pair correlation join must be keyed on week (hash or
    # sort-merge — not a nested-loop over all (brand, week) rows),
    # and the top-10 must fold into TakeOrderedAndProject
    df = _plan(spark, "x192_brand_cannibalization")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "TakeOrderedAndProject" in p, p


def test_x343_codec_stage_parallel_and_pruned(spark):
    # the codec matrix is compute-bound LZW/deflate work: the narrow
    # map must be split across cores (round-robin exchange feeding
    # MapInPandas), and only (doc_id, text) may reach the scan —
    # decoding must not force extra shuffles beyond that one split
    df = _plan(spark, "x343_codec_matrix")
    p = explain_str(df)
    assert "MapInPandas" in p, p
    assert "RoundRobinPartitioning" in p, p
    scans = read_schemas(df)
    assert len(scans) == 1 and set(scans[0]) <= {"doc_id", "text"}, scans


def test_x346_triangle_join_runs_on_distilled_graph(spark):
    # the 3-way triangle join must run on the checkpointed AGGREGATED
    # edge list (Scan ExistingRDD), never re-derive edges from the
    # fact tables per self-join arm: exactly one parquet scan (the
    # broadcast nation dim) may survive in the final plan
    df = _plan(spark, "x346_triangle_count")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "Scan ExistingRDD" in p, p
    assert "BroadcastHashJoin" in p, p
    scans = read_schemas(df)
    assert len(scans) == 1 and "n_name" in scans[0], scans


def test_x348_frontier_lineage_cut(spark):
    # after the 4 unrolled relaxation rounds the frontier must be a
    # checkpointed frame (Scan ExistingRDD): without the lineage cut
    # the final plan would re-expand every round's join over the fact
    # scans — the iterative-algorithm failure mode at 100 TB
    df = _plan(spark, "x348_cheapest_route")
    assert_no_cartesian_product(df)
    p = explain_str(df)
    assert "Scan ExistingRDD" in p, p
    scans = read_schemas(df)
    assert len(scans) == 1 and "n_name" in scans[0], scans


def test_x162_sessionization_single_user_shuffle(spark):
    # lag, the running session counter, and the (user, session) depth
    # agg must all ride ONE hashpartitioning(user_id) exchange per
    # branch — a second exchange keyed on (user_id, session_no) would
    # re-shuffle the full event stream for an agg the window
    # partitioning already satisfies
    df = _plan(spark, "x162_session_depth")
    p = explain_str(df)
    assert "hashpartitioning(user_id" in p, p
    for line in p.splitlines():
        if "hashpartitioning" in line:
            assert "session_no" not in line, line
    # the two window functions (lag + running sum) share one sort per
    # branch: every Window node sits directly on another Window's
    # output or on the branch's single Sort — equal counts of Sort-
    # under-Window pairs and window branches means no re-sort between
    # the lag pass and the session-counter pass
    import re

    tree = p.split("\n\n")[0]
    n_window = len(re.findall(r"\bWindow \(\d+\)", tree))
    n_window_on_sort = len(
        re.findall(r"\bWindow \(\d+\)\n\s*[:| ]*\+- Sort \(\d+\)", tree)
    )
    assert n_window == 2 * n_window_on_sort, tree


def test_fhir_eob_two_source_parses(spark, tmp_path):
    """Parse-count contract: the EOB pipeline reads its NDJSON source
    exactly ONCE — the duplicate-id rule is a window over the same
    rows, not a flags aggregate joined back to them (two parses, r7)
    or a semi-join per side (three, r5). At 100 TB a parse is a full
    source scan, so a regression here is an I/O bug even though
    results stay correct."""
    import json as _json
    import re

    from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
        EXPLANATION_OF_BENEFIT_SCHEMA,
        RXNAV_LOOKUP_SCHEMA,
    )

    p = tmp_path / "ExplanationOfBenefit-c-1.json"
    p.write_text(
        _json.dumps(
            {
                "resourceType": "ExplanationOfBenefit",
                "id": "e1",
                "patient": {"reference": "Patient/-10000000000027"},
                "type": {"coding": []},
                "supportingInfo": [],
                "item": [],
            }
        )
    )
    df = read_ndjson(spark, str(p), EXPLANATION_OF_BENEFIT_SCHEMA)
    rx = spark.createDataFrame([("1", "n", "r")], RXNAV_LOOKUP_SCHEMA)
    fn = get_transform("https://bcda.example", "ExplanationOfBenefit")
    out = fn(df, rx)
    n_scans = len(re.findall(r"Scan json", explain_str(out, "simple")))
    # Assumes the simple plan string spells file-source scans as
    # 'Scan json' — if this assert trips at n_scans == 0, check the
    # plan format first.
    assert n_scans == 1, (
        f"EOB pipeline must parse its source once (plan has {n_scans} "
        f"'Scan json' nodes; if 0, the plan-format assumption broke)"
    )


def test_fhir_transform_plan_size_bounded(spark, tmp_path):
    """Plan-size guard: every registered FHIR transform, built over an
    empty landed file with the golden RxNav table, optimizes to a plan
    of bounded text. Chained dotted ``withField("a.b", …)`` writes
    re-embed the whole previous struct expression at each step; the
    epic MedicationRequest chain alone produced a 19,298-character
    plan, and building and optimizing such trees is fixed cost on every
    small request. The flat struct writes keep every plan under 5,000
    characters (the EOB rewrite, which inlines the RxNav map, is the
    largest)."""
    from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms import TRANSFORMS
    from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import (
        RESOURCE_SCHEMAS,
    )

    from .test_fhir_golden import _rxnav_df

    rx = _rxnav_df(spark)
    sizes = {}
    for (source, resource), fn in TRANSFORMS.items():
        path = tmp_path / f"{resource}-{source}-1.json"
        path.write_text("")
        out = fn(read_ndjson(spark, str(path), RESOURCE_SCHEMAS[resource]), rx)
        sizes[(source, resource)] = len(out._jdf.queryExecution().optimizedPlan().toString())
    assert max(sizes.values()) <= 6_000, sizes
