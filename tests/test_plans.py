"""Plan-quality regression tests: pin the physical-plan properties that make
the headline queries survive a 1000x scale-up."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name, spark):
    from doc2vec_spark.registry import all_queries

    return all_queries()[name].fn(spark, SF_DIR)


def test_metadata_filter_pushed_to_scan(spark):
    from doc2vec_spark.plans.checks import assert_pushed_filter

    assert_pushed_filter(_q("p1_metadata_filter", spark), "EqualTo(lang,en)")


def test_q1_prunes_columns(spark):
    from doc2vec_spark.plans.checks import (
        assert_pushed_filter,
        assert_read_schema_excludes,
    )

    df = _q("tpch_q1_pricing_summary", spark)
    assert_pushed_filter(df, "l_shipdate")
    assert_read_schema_excludes(df, "l_orderkey")  # only 7 of 11 cols read


def test_dim_joins_broadcast(spark):
    from doc2vec_spark.plans.checks import assert_broadcast_join

    assert_broadcast_join(_q("j3_broadcast_hash_lookup", spark))
    assert_broadcast_join(_q("tpch_q5_regional_revenue", spark))


def test_knn_is_take_ordered(spark):
    from doc2vec_spark.plans.checks import assert_top_k

    assert_top_k(_q("t1_knn_cosine_topk", spark))
    assert_top_k(_q("t5_keyset_pagination", spark))


def test_hybrid_pools_are_take_ordered(spark):
    """Both RRF candidate pools must build via TakeOrderedAndProject partial
    top-ks; the rank windows' unpartitioned sorts only ever see the
    .limit(HYBRID_CAND)-bounded pools (guard for VERDICT r03 #5 — a future
    pool-size edit must not reintroduce a global single-partition sort over
    the corpus)."""
    import re

    from doc2vec_spark.plans.checks import formatted_plan

    plan = formatted_plan(_q("doc_hybrid_search_rrf", spark))
    pools = re.findall(r"^\(\d+\) TakeOrderedAndProject", plan, flags=re.MULTILINE)
    assert len(pools) >= 2, f"expected 2 TakeOrderedAndProject pools, got {len(pools)}"


def test_knn_prunes_embedding_after_scoring(spark):
    # P8: the query plane must never carry the embedding column past scoring
    from doc2vec_spark.chunking import chunk_documents
    from doc2vec_spark.embedding import with_embeddings
    from doc2vec_spark.query import query_documentation

    docs = spark.createDataFrame(
        [("https://d/x", "content " * 200, "p", "1")],
        "url string, markdown string, product_name string, version string",
    )
    out = query_documentation(with_embeddings(chunk_documents(docs)), "content")
    assert "embedding" not in out.columns


def test_pair_dedup_join_keys_are_not_block_only(spark):
    """VERDICT r01: the two pairwise dedup variants must not join on the
    coarse block key (lang/label) alone — simhash joins on band columns,
    embedding cosine on the salt-grid cells."""
    def join_conds(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [l for l in plan.splitlines() if "Join Inner" in l]

    conds = join_conds(_q("dedup_simhash_pairs", spark))
    assert conds and all("band_val" in c and "band_id" in c for c in conds), conds

    # embedding cosine (exact route, two-phase since round 5): pair work is
    # sharded inside the salt-grid cogroup, not a join — assert the block
    # prefilter is present and the confirm joins key on vec ids, never on
    # the coarse label alone
    df = _q("dedup_embedding_cosine", spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    conds = join_conds(df)
    assert conds and all("vec_a" in c or "vec_b" in c for c in conds), conds


def test_embedding_near_dup_threshold_routing(spark):
    """VERDICT r02 #3: one entry point, dispatched on threshold — >= 0.9
    plans the SRP band-keyed join (collision-bounded), below plans the exact
    salt grid. The registered dedup_embedding_lsh query takes the band path."""
    from pyspark.sql import functions as F

    from doc2vec_spark.functions.vectors import as_double_array
    from doc2vec_spark.operators.dedup import embedding_near_dup_pairs
    from doc2vec_spark.tables import load
    from tests.conftest import SF_DIR

    def join_conds(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [l for l in plan.splitlines() if "Join Inner" in l]

    e = load(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    )
    # candidate join band-keyed; the other joins are the r7 confirm stage
    # (unique id pairs joined back to vectors — id-equi-keyed, never bare)
    banded = join_conds(embedding_near_dup_pairs(spark, e, 0.95))
    assert banded and any("band_val" in c and "band_id" in c for c in banded), banded
    assert all(
        ("band_val" in c and "band_id" in c) or ("vec_a" in c or "vec_b" in c)
        for c in banded
    ), banded
    # exact path (round 5, two-phase): block-matmul prefilter via cogroup
    # (FlatMapCoGroupsInPandas keyed on the salt grid), then confirm joins
    # keyed ONLY on vec ids against the small candidate list
    exact_df = embedding_near_dup_pairs(spark, e, 0.5)
    exact_plan = exact_df._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in exact_plan, exact_plan[:2000]
    exact = join_conds(exact_df)
    assert exact and all("vec_a" in c or "vec_b" in c for c in exact), exact

    lsh = join_conds(_q("dedup_embedding_lsh", spark))
    assert lsh and any("band_val" in c for c in lsh), lsh
    assert all(
        "band_val" in c or "vec_a" in c or "vec_b" in c for c in lsh
    ), lsh


def test_embedding_lsh_band_width_routing(spark, monkeypatch):
    """r7s2: dedup_embedding_lsh routes band WIDTH by corpus size (the
    simhash-band lesson): at test SF it plans the 16-plane JVM signature
    (4x4-bit bands); above the cutoff the 64-plane Arrow-batched band
    array (a wide_bands pythonUDF + posexplode) takes over, same banded
    join shape."""
    from doc2vec_spark.operators import dedup
    from tests.conftest import SF_DIR

    narrow_plan = (
        _q("dedup_embedding_lsh", spark)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "wide_bands" not in narrow_plan
    monkeypatch.setattr(dedup, "EMB_LSH_ROUTE_MAX_VECS", 10)
    wide_plan = (
        dedup.QUERIES["dedup_embedding_lsh"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "wide_bands" in wide_plan
    # the banded join is still (label, band_id, band_val)-keyed
    joins = [l for l in wide_plan.splitlines() if "Join Inner" in l]
    assert any("band_val" in c and "band_id" in c for c in joins), joins


def test_simhash_pairs_corpus_size_routing(spark, monkeypatch):
    """VERDICT r5 #4: dedup_simhash_pairs routes by corpus size — at test SF
    it plans the 32-bit signature's 8-bit band join; above the cutoff it
    delegates to the 64-bit/16-bit-band configuration (sim_hi/sim_lo in the
    plan), so the 10x candidate count stays O(true-dups), not O(n^2/2^8)."""
    from doc2vec_spark.operators import dedup

    narrow_plan = (
        _q("dedup_simhash_pairs", spark)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "simhash" in narrow_plan and "sim_hi" not in narrow_plan
    monkeypatch.setattr(dedup, "SIMHASH_ROUTE_MAX_DOCS", 10)
    from tests.conftest import SF_DIR

    wide_plan = (
        dedup.QUERIES["dedup_simhash_pairs"]
        .fn(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "sim_hi" in wide_plan and "sim_lo" in wide_plan


def test_split_assign_is_map_only(spark):
    # deterministic split must stay a pure projection: zero shuffles
    from doc2vec_spark.plans.checks import count_exchanges

    assert count_exchanges(_q("pipe_split_assign", spark)) == 0


def test_frame_sample_is_map_only(spark):
    # metadata-driven frame explode: no shuffle before the per-frame rows
    from doc2vec_spark.plans.checks import count_exchanges

    assert count_exchanges(_q("mm_frame_sample", spark)) == 0


def test_inverted_index_ops_never_cross_join(spark):
    from doc2vec_spark.plans.checks import assert_no_cross_join

    for name in ("dedup_ngram_jaccard", "pipe_contamination", "dedup_minhash_lsh"):
        assert_no_cross_join(_q(name, spark))


def test_candidate_edges_shuffle_budget(spark):
    # posting-list pair generation: groupBy(h) + groupBy(u,v) and the doc
    # repartition — one shuffle of the full shingle table, not two join sides
    from doc2vec_spark.operators.pipeline import candidate_edges
    from doc2vec_spark.plans.checks import count_exchanges

    assert count_exchanges(candidate_edges(spark, SF_DIR)) <= 3


def test_no_registry_query_plans_a_cross_join_or_global_serialization(spark):
    """Blanket scale contracts over EVERY registered query:

    1. no CartesianProduct / BroadcastNestedLoopJoin — the operators whose
       cost explodes unbounded at 100 TB (every pair-generation op must key
       its join on a blocking column);
    2. no `Exchange SinglePartition` — a global single-partition shuffle
       serializes the query on one core (global windows/sorts must instead
       be partitioned windows or TakeOrderedAndProject top-ks)."""
    from doc2vec_spark.plans.checks import assert_no_cross_join, formatted_plan
    from doc2vec_spark.registry import all_queries

    for name, spec in all_queries().items():
        try:
            df = spec.fn(spark, SF_DIR)
        except Exception as e:  # pragma: no cover - plan build must not fail
            raise AssertionError(f"{name} failed to build: {e}") from e
        try:
            assert_no_cross_join(df)
        except AssertionError as e:
            raise AssertionError(f"{name}: {e}") from e
        assert "Exchange SinglePartition" not in formatted_plan(df), (
            f"{name}: global single-partition exchange"
        )


def test_bm25_is_take_ordered_and_map_only(spark):
    """doc_bm25_topk: scoring must stay a pure projection (zero shuffle
    exchanges — tf comes from array filters, not an explode+agg) with the
    top-k compiled to TakeOrderedAndProject."""
    from doc2vec_spark.plans.checks import assert_top_k, count_exchanges

    df = _q("doc_bm25_topk", spark)
    assert_top_k(df)
    assert count_exchanges(df) == 0


def test_semdedup_join_keyed_on_cell_and_block(spark):
    """dedup_semdedup: pair work is a COGROUPED matmul keyed on (cell, i, j)
    — cell-internal salt blocks (round 6, VERDICT r5 #3) — so no task ever
    holds a whole cell even when the MAX_K cap makes cells grow with the
    corpus; the confirm joins key on vec ids against the small candidate
    list."""
    df = _q("dedup_semdedup", spark)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    cg = [l for l in plan.splitlines() if "FlatMapCoGroupsInPandas" in l]
    assert cg and all(
        "cell" in c and "i#" in c and "j#" in c for c in cg
    ), cg
    conds = [l for l in plan.splitlines() if "Join Inner" in l]
    assert conds and all("keep_id" in c or "drop_id" in c for c in conds), conds


def test_tpch_extra_dims_broadcast(spark):
    from doc2vec_spark.plans.checks import assert_broadcast_join

    for name in ("tpch_q10_returned_items", "tpch_q14_promo_effect",
                 "tpch_q19_disjunctive_revenue", "tpch_q22_global_sales_opportunity",
                 "tpch_q7_volume_shipping", "tpch_q8_market_share",
                 "tpch_q16_supplier_cnt", "tpch_q21_suppliers_kept_waiting",
                 "tpch_q2_min_cost_supplier", "tpch_q9_product_profit",
                 "tpch_q20_potential_promotion"):
        assert_broadcast_join(_q(name, spark))


def test_q4_exists_is_left_semi(spark):
    """Q4's correlated EXISTS must plan as one LEFT SEMI fact-fact join,
    never a decorrelated aggregate-then-inner-join or a nested loop."""
    plan = (
        _q("tpch_q4_order_priority", spark)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan[:1500]


def test_q21_double_exists_is_one_aggregate(spark):
    """Q21's EXISTS + NOT-EXISTS pair must collapse into ONE per-order
    aggregate joined back (a single orderkey shuffle for both conditions) —
    the plan carries exactly one Aggregate over the order stats (n_supp /
    n_r_supp) and no semi/anti join against a second lineitem scan."""
    plan = (
        _q("tpch_q21_suppliers_kept_waiting", spark)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "n_supp" in plan and "n_r_supp" in plan, plan[:1500]
    assert "LeftAnti" not in plan, plan[:1500]


def test_q19_pushes_derivable_conjuncts(spark):
    """The OR-of-ANDs must not defeat pushdown entirely: Catalyst derives
    the per-side disjunctions (brand/size on part, quantity on lineitem)
    and pushes them below the join into the scans."""
    from doc2vec_spark.plans.checks import formatted_plan

    plan = formatted_plan(_q("tpch_q19_disjunctive_revenue", spark))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_brand" in l for l in pushed), pushed
    assert any("l_quantity" in l for l in pushed), pushed


def test_salted_join_is_sort_merge_on_composite_key(spark):
    """ext_salted_skew_join must actually run the salted sort-merge path:
    a SortMergeJoin whose keys include BOTH the natural key and the salt
    column, and no broadcast of the exploded dim (which would silently
    bypass the skew remedy being demonstrated)."""
    plan = (
        _q("ext_salted_skew_join", spark)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan, plan[:800]
    assert "salt" in plan
    join_section = plan[plan.index("SortMergeJoin"):]
    assert "c_custkey" in join_section and "salt" in join_section.split("\n")[0]
    assert "BroadcastHashJoin" not in plan


def test_round8_plan_shapes(spark):
    """Round-8 operators keep their scale-critical physical shapes:
    - ta_textrank: every PageRank iteration joins the cached edge state
      against a BROADCAST of the vocabulary-sized rank table (no edge
      re-shuffle per iteration);
    - ann_truncate_rerank: the coarse candidate pool builds via
      TakeOrderedAndProject (no full sort of the vector table);
    - ev_rate_anomaly: the per-type stats join back is a broadcast."""
    import re

    from doc2vec_spark.plans.checks import (
        assert_broadcast_join,
        formatted_plan,
    )

    tr = formatted_plan(_q("ta_textrank", spark))
    from doc2vec_spark.operators.textrank import PR_ITERS

    assert len(re.findall(r"BroadcastHashJoin", tr)) >= PR_ITERS

    rr = formatted_plan(_q("ann_truncate_rerank", spark))
    assert "TakeOrderedAndProject" in rr

    assert_broadcast_join(_q("ev_rate_anomaly", spark))


def test_constant_key_scalar_joins_execute_broadcast_hash(spark):
    """ta_kn_bigram_score and ta_pmi_collocations attach a 1-row total
    frame through a non-foldable constant key (pmod(xxhash64(x), 1)). The
    executed plan must join it with a BroadcastHashJoin: a foldable key
    constant-folds into the BroadcastNestedLoopJoin the design bans."""
    for name in ("ta_kn_bigram_score", "ta_pmi_collocations"):
        df = _q(name, spark)
        df.collect()  # the final adaptive plan is what executed
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        assert "BroadcastHashJoin" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
