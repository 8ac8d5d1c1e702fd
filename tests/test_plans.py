"""Physical-plan guards (the 100 TB design checks, SURVEY §4):
filters must reach the parquet scan, scans must prune columns, and
star-schema dimension joins must broadcast — a regression in any of these
is invisible at sf0.001 correctness but fatal at scale."""

from __future__ import annotations

import re

import pytest


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE settles on the final plan
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def revenue_plan(spark, sf_dir):
    from input_data_pipeline_spark.operators.relational import revenue_by_region

    return _executed_plan(revenue_by_region(spark, sf_dir))


def test_filter_pushed_to_scan(revenue_plan):
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate", revenue_plan)
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(l_shipdate", revenue_plan)


def test_scan_prunes_columns(revenue_plan):
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", revenue_plan)
    assert m, "no lineitem scan found"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_extendedprice", "l_discount", "l_shipdate"}, (
        f"lineitem scan reads {cols} — projection not pruned"
    )


def test_star_joins_broadcast(revenue_plan):
    assert "BroadcastHashJoin" in revenue_plan
    assert "SortMergeJoin" not in revenue_plan, (
        "dimension join fell back to sort-merge — broadcast regressed"
    )


def test_agg_is_partial_then_final(spark, sf_dir):
    """Hash aggregates must partial-combine map-side: two HashAggregate
    levels around one exchange, not a raw shuffle of detail rows."""
    from input_data_pipeline_spark.operators.relational import pricing_summary

    plan = _executed_plan(pricing_summary(spark, sf_dir))
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert "partial_" in plan  # partial agg functions present map-side


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join: a pathologically skewed key must be split across
    multiple tasks at runtime (plan shows skew=true) — the automatic
    counterpart of the manual salted join in operators/skew.py."""
    import pyspark.sql.functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "4",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 98, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("tag")
        )
        joined = fact.join(dim, "k").groupBy("tag").count()
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_topk_plans_as_take_ordered(spark, sf_dir):
    """Q3/Q10-shaped top-k must plan as TakeOrderedAndProject (bounded
    per-partition heaps), never a global Sort before the limit."""
    from input_data_pipeline_spark.operators.relational import (
        returned_revenue_by_customer,
        segment_top_orders,
    )

    for fn in (segment_top_orders, returned_revenue_by_customer):
        plan = _executed_plan(fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, fn.__name__
        assert re.search(r"PushedFilters: \[[^\]]*(EqualTo|GreaterThan|LessThan)", plan), (
            f"{fn.__name__}: no filter reached a scan"
        )


def test_ivf_cell_assignment_is_map_only(spark, sf_dir):
    """knn_ivf must never shuffle the corpus to pick each vector's cell:
    the 8 centroid scores rank in a per-row array_sort, so no exchange may
    hash-partition on vec_id (the old window-over-vec_id form did)."""
    from input_data_pipeline_spark.operators.similarity import knn_ivf

    plan = _executed_plan(knn_ivf(spark, sf_dir))
    assert "hashpartitioning(vec_id" not in plan


def test_corpus_ops_scale_plans(spark, sf_dir):
    """Round-2 corpus operators keep their scale-critical plan shapes:
    intradoc top-100 is TakeOrdered (never a full sort), the OOV vocabulary
    probe broadcasts, and knn_ivf/pq assignment stays free of corpus
    shuffles before the pandas stage."""
    from input_data_pipeline_spark.operators.corpus import (
        intradoc_repetition,
        oov_rate_by_source,
    )
    from input_data_pipeline_spark.operators.similarity import (
        pq_reconstruction_stats,
    )

    plan = _executed_plan(intradoc_repetition(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan

    plan = _executed_plan(oov_rate_by_source(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = _executed_plan(pq_reconstruction_stats(spark, sf_dir))
    # map-only assignment: the only exchange feeds the per-label aggregate
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_curation_ops_scale_plans(spark, sf_dir):
    """Round-3 curation operators keep their scale-critical shapes: the mix
    planners broadcast their single-row/|langs|-row build sides (never a
    shuffled join), chunk dedup needs no join at all, and every aggregation
    is partial-then-final (map-side combinable)."""
    from input_data_pipeline_spark.operators.curation import (
        chunk_dedup_rate,
        mixture_sampling_plan,
        token_budget_selection,
        url_domain_stats,
    )

    plan = _executed_plan(mixture_sampling_plan(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan

    plan = _executed_plan(token_budget_selection(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("partial") >= 1  # map-side combine before the rollup

    plan = _executed_plan(chunk_dedup_rate(spark, sf_dir))
    assert "Join" not in plan  # rank + two aggs, no join anywhere
    assert "CartesianProduct" not in plan

    plan = _executed_plan(url_domain_stats(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_sketch_ops_broadcast_their_sketch_tables(spark, sf_dir):
    """The round-5 sketch operators' scale contract: the fixed-size sketch
    (Bloom bitmap words, CMS counter cells) joins the probe side via
    BroadcastHashJoin — never a shuffle keyed on the corpus-sized side."""
    from input_data_pipeline_spark.operators.dedup import bloom_dedup_precheck
    from input_data_pipeline_spark.operators.textstats import countmin_token_freq

    for fn in (bloom_dedup_precheck, countmin_token_freq):
        plan = _executed_plan(fn(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{fn.__name__}: sketch join not broadcast"


def test_hll_union_register_stages_stay_small_and_broadcast(spark, sf_dir):
    """hll_union_sources' scale contract: after the register build (a
    map-side-combinable MAX over the token scan), every stage operates on
    <= |sources| x 64 register rows — the two single-row combines must be
    BroadcastNestedLoopJoin / broadcast exchanges, never a shuffle keyed
    on anything corpus-sized."""
    from input_data_pipeline_spark.operators.textstats import hll_union_sources

    plan = _executed_plan(hll_union_sources(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # register build is partial+final MAX (map-side combine before shuffle)
    assert "partial_max" in plan or "HashAggregate" in plan


def test_round6_llm_ops_scale_plans(spark, sf_dir):
    """Round-6 operators' physical-plan invariants:

    - k-means assignment passes are map-only over the persisted quantized
      vectors (no join/exchange on the corpus side of an assignment);
    - the trained-IVF probe join broadcasts the (query × probe-cell) side
      and nothing cartesian-products;
    - bigram-LM scoring never broadcasts the big occurrence side and its
      count aggregates partial-combine map-side;
    - exact-substring coverage aggregates partial-combine (the per-doc
      distinct pass must shrink the wire before the frequency join).
    """
    from input_data_pipeline_spark.operators.corpus import exact_substring_coverage
    from input_data_pipeline_spark.operators.similarity import (
        _kmeans_assign,
        _kmeans_qvec,
        _kmeans_train,
        knn_ivf_kmeans,
    )
    from input_data_pipeline_spark.operators.textstats import bigram_lm_doc_scores

    c1 = _kmeans_train(spark, sf_dir)
    assign_plan = _executed_plan(_kmeans_assign(_kmeans_qvec(spark, sf_dir), c1))
    assert "Join" not in assign_plan and "Exchange" not in assign_plan, (
        "k-means assignment must be map-only against literal centroids"
    )

    ivf_plan = _executed_plan(knn_ivf_kmeans(spark, sf_dir))
    assert "BroadcastHashJoin" in ivf_plan
    assert "CartesianProduct" not in ivf_plan

    bg_plan = _executed_plan(bigram_lm_doc_scores(spark, sf_dir))
    assert "CartesianProduct" not in bg_plan
    assert "partial_" in bg_plan

    esc_plan = _executed_plan(exact_substring_coverage(spark, sf_dir))
    assert "partial_" in esc_plan
    assert "CartesianProduct" not in esc_plan


def test_q5_shape_broadcasts_all_dimensions(spark, sf_dir):
    """The six-table Q5 shape must broadcast every dimension side (no
    sort-merge fallback), keep the orderdate filter pushed into the
    orders scan, and never cartesian-product."""
    from input_data_pipeline_spark.operators.relational import (
        regional_supplier_revenue,
    )

    plan = _executed_plan(regional_supplier_revenue(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate", plan)


def test_round6_rollup_and_audit_plans(spark, sf_dir):
    """The engagement rollups and audits keep their scale shapes: bounded
    fan-out forms never cartesian-product, aggregates partial-combine,
    and the FK audit's fact sides scan only their key columns."""
    from input_data_pipeline_spark.operators.ingest import (
        referential_integrity_audit,
    )
    from input_data_pipeline_spark.operators.windows import (
        active_user_rollup,
        hll_rolling_active_users,
        user_retention_cohorts,
    )

    for fn in (active_user_rollup, hll_rolling_active_users, user_retention_cohorts):
        plan = _executed_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "partial_" in plan, fn.__name__

    fk_plan = _executed_plan(referential_integrity_audit(spark, sf_dir))
    assert "CartesianProduct" not in fk_plan
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", fk_plan)
    assert m and all(
        c.split(":")[0] in {"l_orderkey", "l_suppkey", "l_partkey"}
        for c in m.group(1).split(",")
    ), "lineitem scans in the FK audit must read key columns only"


def test_round8_curation_ops_scale_plans(spark, sf_dir):
    """Round-8 operators' physical-plan invariants:

    - c4_quality_flags is a single map-only projection: zero joins and no
      exchange besides the final output sort;
    - dsir_importance_weights broadcasts its fixed-size bucket tables (the
      per-doc join must be BroadcastHashJoin, never sort-merge on the
      corpus side) and partial-combines its counts — asserted on the
      pre-checkpoint weighted table, since the caller's localCheckpoint
      truncates the visible executed plan;
    - url_canonical_dedup partial-combines the per-canonical-URL count;
    - ccnet_perplexity_buckets reuses the bigram-LM shape: no cartesian
      product, partial aggregation present.
    """
    from input_data_pipeline_spark.operators.curation import (
        _dsir_weighted,
        url_canonical_dedup,
    )
    from input_data_pipeline_spark.operators.textstats import (
        c4_quality_flags,
        ccnet_perplexity_buckets,
    )

    c4_plan = _executed_plan(c4_quality_flags(spark, sf_dir))
    assert "Join" not in c4_plan
    # one rangepartitioning exchange for the output sort is the only allowed one
    assert len(re.findall(r"Exchange (?!rangepartitioning)", c4_plan)) == 0

    dsir_plan = _executed_plan(_dsir_weighted(spark, sf_dir))
    assert "BroadcastHashJoin" in dsir_plan
    assert "SortMergeJoin" not in dsir_plan
    assert "partial_" in dsir_plan
    assert "CartesianProduct" not in dsir_plan  # scalar totals go via broadcast

    url_plan = _executed_plan(url_canonical_dedup(spark, sf_dir))
    assert "partial_" in url_plan and "Join" not in url_plan

    cc_plan = _executed_plan(ccnet_perplexity_buckets(spark, sf_dir))
    assert "CartesianProduct" not in cc_plan
    assert "partial_" in cc_plan


def test_round9_selection_ops_have_no_global_windows(spark, sf_dir):
    """Round-9 plan-quality contract (r8 verdict items 1-3): the ranking /
    selection operators must never move the corpus into one task. A
    partition-less window (``WindowExec: No Partition Defined``) or a
    lang-only window at document grain is invisible at sf0.01 but a
    single-task sort of the corpus (or its head language) at 100 TB.

    - bm25_doc_search: top-k is TakeOrderedAndProject (bounded
      per-partition heaps); rank derives from a sorted-array posexplode
      over the <=k survivors — no WindowExec anywhere in the plan;
    - dsir_importance_weights: ``selected`` is a broadcast comparison
      against a TakeOrdered k-th boundary pair — no WindowExec anywhere;
    - ccnet_perplexity_buckets: no NTILE; the doc-grain row_number
      partitions by the composite (lang, lm_score_ppm) key (skew bounded
      by the largest equal-score run, not the largest language), and any
      lang-only-partitioned window is the cumulative sum over the
      (lang, score) HISTOGRAM — bounded by the score domain.
    """
    from input_data_pipeline_spark.operators.curation import (
        dsir_importance_weights,
    )
    from input_data_pipeline_spark.operators.textstats import (
        bm25_doc_search,
        ccnet_perplexity_buckets,
    )

    bm_plan = _executed_plan(bm25_doc_search(spark, sf_dir))
    assert "Window" not in bm_plan
    assert "TakeOrderedAndProject" in bm_plan
    assert "SortMergeJoin" not in bm_plan

    dsir_plan = _executed_plan(dsir_importance_weights(spark, sf_dir))
    assert "Window" not in dsir_plan
    assert "TakeOrderedAndProject" in dsir_plan
    assert "SortMergeJoin" not in dsir_plan

    cc_plan = _executed_plan(ccnet_perplexity_buckets(spark, sf_dir))
    assert "ntile" not in cc_plan
    # the doc-grain rank partitions by lang, score AND the doc_id range
    # bucket (round 10: equal-score runs sub-split, so no window
    # partition exceeds _CCNET_RUN_BUCKET rows even on a degenerate
    # score distribution); the order clause doc_id ASC follows THREE
    # partition columns in the spec
    assert re.search(
        r"row_number\(\) windowspecdefinition\("
        r"lang#\d+, lm_score_ppm#\d+L?, rbk#\d+L?, doc_id#\d+L? ASC",
        cc_plan,
    )
    # any lang-only-partitioned window (spec: lang, <order> DESC) must be
    # the histogram cumulative sum, never a doc-grain rank
    lang_only = [
        line
        for line in cc_plan.splitlines()
        if re.search(r"windowspecdefinition\(lang#\d+, lm_score_ppm#\d+L? DESC", line)
    ]
    assert lang_only, "histogram cumulative-sum window missing"
    for line in lang_only:
        assert "sum(run" in line, f"doc-grain lang-only window: {line.strip()}"


def test_fasttext_model_join_is_broadcast(spark, sf_dir):
    """fasttext_lang_filter's physical plan: the fixed-size weight table
    reaches the corpus-sized presence rows via BroadcastHashJoin (never a
    sort-merge keyed on the corpus side), the class prior goes via a
    broadcast 1-row aggregate (no CartesianProduct), counts
    partial-combine, and no window function appears anywhere."""
    from input_data_pipeline_spark.operators.curation import (
        fasttext_lang_filter,
    )

    plan = _executed_plan(fasttext_lang_filter(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    assert "Window" not in plan

    # the training subtree hides behind the presence-row localCheckpoint
    # in the full query — guard its shape on the pre-checkpoint tables
    # (the DSIR-guard pattern): the model groupBy partial-combines over
    # the fixed bucket space with no join and no window
    from input_data_pipeline_spark.operators.curation import (
        _ft_features,
        _ft_model,
    )
    from input_data_pipeline_spark.tables import load_table

    train_plan = _executed_plan(
        _ft_model(_ft_features(load_table(spark, sf_dir, "documents")))
    )
    assert "partial_" in train_plan
    assert "Join" not in train_plan and "Window" not in train_plan


def test_image_dhash_plan_is_banded_no_cartesian(spark, sf_dir):
    """image_dhash_near_dups: candidate generation must be the banded
    equi-self-join (never a cartesian/broadcast-nested-loop all-pairs),
    per-doc stats must partial-combine, and no window appears."""
    from input_data_pipeline_spark.operators.multimodal import (
        image_dhash_near_dups,
    )

    plan = _executed_plan(image_dhash_near_dups(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_" in plan
    assert "Window" not in plan


def test_semantic_contamination_plan_is_map_only(spark, sf_dir):
    """semantic_contamination broadcasts the benchmark suite OUTSIDE the
    plan (numpy broadcast variable), so the executed plan must be a
    joinless map-only scan + mapInPandas with no exchange besides the
    output sort — the shape that stays linear when the corpus side is
    100 TB."""
    from input_data_pipeline_spark.operators.curation import (
        semantic_contamination,
    )

    plan = _executed_plan(semantic_contamination(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert len(re.findall(r"Exchange (?!rangepartitioning)", plan)) == 0


def test_round12_retrieval_and_threshold_join_plans(spark, sf_dir):
    """Round-12 plan-quality contract:

    - hybrid_search_rrf: both per-system pools are TakeOrderedAndProject
      top-k; ranks come from sorted-array posexplode — no WindowExec, no
      cartesian. (The lex⋈sem fusion join runs on two pool-bounded lists,
      so its physical strategy is immaterial at scale.)
    - small_qty_order_revenue: no window, no cartesian; the part
      dimension broadcasts, and the agg-derived threshold join keys on
      l_partkey (AQE broadcasts the part-sized threshold table when it
      fits; at larger scales it shuffles on the key the aggregate
      already hashed)."""
    from input_data_pipeline_spark.operators.relational import (
        small_qty_order_revenue,
    )
    from input_data_pipeline_spark.operators.similarity import hybrid_search_rrf

    rrf_plan = _executed_plan(hybrid_search_rrf(spark, sf_dir))
    assert "Window" not in rrf_plan
    assert "TakeOrderedAndProject" in rrf_plan
    assert "Cartesian" not in rrf_plan

    q17_plan = _executed_plan(small_qty_order_revenue(spark, sf_dir))
    assert "Window" not in q17_plan
    assert "Cartesian" not in q17_plan
    assert "BroadcastHashJoin" in q17_plan


def test_chunk_dedup_rewrite_is_window_free(spark, sf_dir):
    """The rewrite operator's canonical-occurrence choice must stay a
    map-side-combinable MIN aggregate + join-back — never a per-chunk
    row_number window (a hot chunk would single-task-sort its whole
    duplicate family at scale)."""
    from input_data_pipeline_spark.operators.curation import chunk_dedup_rewrite

    plan = _executed_plan(chunk_dedup_rewrite(spark, sf_dir))
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "partial_" in plan


def test_ivfpq_candidate_scan_is_broadcast_and_codes_only(spark, sf_dir):
    """Round-13 plan-quality contract for knn_ivf_pq: the probe side
    (queries x probed cells + their LUTs) BROADCASTS against the codes
    table — never a shuffle of the corpus for the candidate join — and
    no cartesian product appears anywhere. The corpus-sized stage output
    carries (vec_id, cell, codes): the ADC scan never moves the float
    vectors (they re-enter only via the bounded shortlist re-rank
    join)."""
    from input_data_pipeline_spark.operators.similarity import knn_ivf_pq

    plan = _executed_plan(knn_ivf_pq(spark, sf_dir))
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    # the candidate scoring join must consume the pandas-encode output
    # schema (codes), not the raw embedding column
    import re as _re

    m = _re.search(r"BroadcastHashJoin \[cell[^\n]*", plan)
    assert m, "cell-keyed broadcast join missing"


def test_round13_tpch_shapes_plan_quality(spark, sf_dir):
    """Round-13 TPC-H shapes hold the relational plan contract:
    - Q2 shape: decorrelated min + join-back, no Window, no Cartesian,
      partial aggregates, broadcast dimension hops;
    - Q9 shape: all three dimensions broadcast, the disjoint big join keyed
      on orderkey, map-side partial agg;
    - Q19 shape: stays an EQUI broadcast hash join on partkey (the
      disjunction must never force a nested-loop join);
    - Q18 shape: aggregate-first with partial combine, no Window."""
    from input_data_pipeline_spark.operators.relational import (
        brand_size_qty_revenue,
        cheapest_supplier_per_part,
        large_quantity_orders,
        widget_revenue_by_nation_year,
    )

    q2 = _executed_plan(cheapest_supplier_per_part(spark, sf_dir))
    assert "Window" not in q2 and "Cartesian" not in q2
    assert "partial_min" in q2 or "partial" in q2
    assert "BroadcastHashJoin" in q2

    q9 = _executed_plan(widget_revenue_by_nation_year(spark, sf_dir))
    assert "Cartesian" not in q9
    assert q9.count("BroadcastHashJoin") >= 3
    assert "partial_" in q9

    q19 = _executed_plan(brand_size_qty_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in q19
    assert "BroadcastNestedLoopJoin" not in q19 and "Cartesian" not in q19

    q18 = _executed_plan(large_quantity_orders(spark, sf_dir))
    assert "Window" not in q18 and "Cartesian" not in q18
    assert "partial_" in q18


def test_round14_tpch_shapes_plan_quality(spark, sf_dir):
    """Round-14 TPC-H shapes hold the relational plan contract:
    - Q8 shape: every dimension hop broadcast (one fact-key shuffle),
      both conditional sums in ONE partial-combinable aggregate pass;
    - Q13 shape: LEFT OUTER with the priority predicate in the join
      condition, no Window, no Cartesian;
    - Q16 shape: the supplier denylist is a broadcast LEFT ANTI (never a
      shuffled NOT IN), part filter pruned before the fact join;
    - Q14 shape: broadcast part hop, single aggregate pass, month keys."""
    from input_data_pipeline_spark.operators.relational import (
        customer_order_distribution,
        nation_market_share,
        part_supplier_counts,
        promo_revenue_share,
    )

    q8 = _executed_plan(nation_market_share(spark, sf_dir))
    assert "Cartesian" not in q8 and "Window" not in q8
    assert q8.count("BroadcastHashJoin") >= 3
    assert "partial_" in q8
    # one aggregate stage computes both sums: no self-join of the fact
    assert q8.count("SortMergeJoin") <= 1

    q13 = _executed_plan(customer_order_distribution(spark, sf_dir))
    assert "Cartesian" not in q13 and "Window" not in q13
    assert "LeftOuter" in q13 or "BuildRight" in q13

    q16 = _executed_plan(part_supplier_counts(spark, sf_dir))
    assert "LeftAnti" in q16
    assert "BroadcastHashJoin" in q16
    assert "Cartesian" not in q16 and "BroadcastNestedLoopJoin" not in q16

    q14 = _executed_plan(promo_revenue_share(spark, sf_dir))
    assert "BroadcastHashJoin" in q14
    assert "Cartesian" not in q14 and "Window" not in q14
    assert "partial_" in q14


def test_joined_gate_plans_have_no_trailing_range_sort(spark, sf_dir):
    """Round 17 (r16 verdict task 9): the two keyed decode gates that
    legitimately shuffle for their joins still must not pay a trailing
    output sort — a reintroduced orderBy adds an Exchange
    rangepartitioning (+ Sort) after the join and fails here."""
    from input_data_pipeline_spark.operators.multimodal import (
        cross_codec_audio_dedup,
        image_dhash_near_dups,
    )

    for q in (image_dhash_near_dups, cross_codec_audio_dedup):
        plan = _executed_plan(q(spark, sf_dir))
        assert "rangepartitioning" not in plan.lower(), (
            q.__name__, plan[:800],
        )


# Every decode gate that returns ``_doc_gate``'s frame as is.
_DOC_GATES = (
    "image_decode_features", "video_decode_features",
    "audio_decode_features", "g711_decode_features",
    "audio_resample_features", "audio_vad_features", "audio_mfcc_features",
    "mp3_probe_features", "flac_decode_features", "mp3_decode_features",
    "mp3_stereo_decode_features", "mp3_shortblock_decode_features",
    "mp3_pcm_decode_features", "mp3_rate_profiles_decode_features",
    "mp3_stereo_matrix_decode_features",
    "mp3_huffman_tables_decode_features", "mpeg1_layer1_decode_features",
    "mp3_lsf_decode_features", "mpeg1_layer2_decode_features",
    "adts_probe_features", "ogg_probe_features", "vorbis_decode_features",
    "wav_ext_decode_features", "netpbm_tga_decode_features",
    "jpeg_lossless_decode_features", "mp4_pcm_variants_features",
    "mp4_audio_extract_features", "mp3_container_routing_features",
    "jpeg_precision12_features", "jpeg_in_tiff_decode_features",
    "jpeg_hierarchical_features", "tiff_decode_features",
    "tiff_g4_decode_features", "au_decode_features",
    "au_adpcm_decode_features", "ms_adpcm_decode_features",
    "aiff_decode_features", "caf_decode_features", "y4m_decode_features",
    "audio_tags_features", "jpeg_decode_features",
    "avi_audio_extract_features",
)

# The gates whose final (executed) plan is also checked.
_EXECUTED_DOC_GATES = (
    "jpeg_decode_features", "mp3_rate_profiles_decode_features",
    "avi_audio_extract_features", "ms_adpcm_decode_features",
    "aiff_decode_features", "netpbm_tga_decode_features",
    "ogg_probe_features", "wav_ext_decode_features", "caf_decode_features",
    "y4m_decode_features", "audio_tags_features",
    "mp4_pcm_variants_features",
    # round 17: the Vorbis/hierarchical-JPEG gates and the audio DSP trio
    # are map-only too
    "vorbis_decode_features", "jpeg_hierarchical_features",
    "audio_resample_features", "audio_vad_features", "audio_mfcc_features",
)


def _assert_narrow(name, plan):
    assert "Sort" not in plan, (name, plan[:800])
    assert "Join" not in plan, (name, plan[:800])
    for e in re.findall(r"Exchange (\w+)", plan):
        assert e.startswith(("RoundRobin", "SinglePartition")), (name, e)


def test_decode_gate_plans_have_no_trailing_sort(spark, sf_dir):
    """Round 16 (r15 verdict task 6): the map-only decode gates dropped
    their trailing orderBy — the driver comparator is order-insensitive
    — so their plans must stay narrow end-to-end: NO Sort, no Join, and
    no exchange beyond the core fan-out repartition (RoundRobin). A
    reintroduced output sort would add a rangepartitioning Exchange +
    Sort after the InPandas node and fail here.

    Every gate is checked on its initial AQE plan, which runs no job:
    exactly one MapInPandas node fed by exactly one RoundRobinPartitioning
    exchange, the shape ``_doc_gate`` builds. A subset also runs, and
    its final plan is checked."""
    from input_data_pipeline_spark.operators import multimodal as mm
    from input_data_pipeline_spark.operators.textstats import (
        pii_redaction_stats,
    )

    assert set(_EXECUTED_DOC_GATES) <= set(_DOC_GATES)
    for name in _DOC_GATES:
        df = getattr(mm, name)(spark, sf_dir)
        initial = df._jdf.queryExecution().executedPlan().toString()
        assert initial.count("MapInPandas") == 1, (name, initial[:800])
        assert initial.count("RoundRobinPartitioning") == 1, (
            name, initial[:800],
        )
        _assert_narrow(name, initial)
        if name in _EXECUTED_DOC_GATES:
            _assert_narrow(name, _executed_plan(df))
    # pii_redaction_stats is fully JVM-side: only its narrowness applies
    _assert_narrow("pii_redaction_stats", _executed_plan(
        pii_redaction_stats(spark, sf_dir)
    ))


def test_single_scan_restructures_share_one_corpus_pass(spark, sf_dir):
    """Round-17 optimization: the sketch/rollup/LM queries that used to
    re-derive a bounded intermediate per leg now materialize it once
    (lazy localCheckpoint) — the executed plan must show at most the
    deliberate number of parquet scans, with every other leg reading
    the checkpointed RDD. Guards the single-scan claim of
    OPTIMIZATION_r17.md against silent re-expansion."""
    import re as _re

    from input_data_pipeline_spark.operators.dedup import bloom_dedup_precheck
    from input_data_pipeline_spark.operators.similarity import cluster_top_terms
    from input_data_pipeline_spark.operators.textstats import (
        bigram_lm_doc_scores,
        countmin_merge_sources,
        countmin_token_freq,
        hll_distinct_tokens,
        hll_union_sources,
    )
    from input_data_pipeline_spark.operators.windows import (
        active_user_rollup,
        event_hourly_gapfill,
        hll_rolling_active_users,
        user_retention_cohorts,
    )

    max_scans = {
        bloom_dedup_precheck: 2,      # bitmap leg + exact-verify leg
        hll_union_sources: 0,         # all legs read the checkpoint
        hll_distinct_tokens: 0,
        countmin_token_freq: 0,
        countmin_merge_sources: 0,
        bigram_lm_doc_scores: 0,
        cluster_top_terms: 0,
        active_user_rollup: 0,
        user_retention_cohorts: 0,
        hll_rolling_active_users: 0,
        event_hourly_gapfill: 0,
    }
    for q, bound in max_scans.items():
        plan = _executed_plan(q(spark, sf_dir))
        n = len(_re.findall(r"Scan parquet", plan))
        assert n <= bound, (q.__name__, n, bound, plan[:600])
        if bound == 0:  # the one materialized pass feeds every leg
            assert "ExistingRDD" in plan or "LocalTableScan" in plan, (
                q.__name__, plan[:600],
            )


def test_bitwriter_write_codes_matches_sequential_writes():
    """write_codes (round 17 bulk emitter) is bit-identical to write()
    per pair — including width-0 pairs (emit nothing), negative values
    (mask to their low w bits) and widths past 32, across byte
    alignments."""
    import random

    from input_data_pipeline_spark.operators.multimodal import _BitWriter

    rng = random.Random(1712)
    for trial in range(25):
        pairs = []
        for _ in range(rng.randrange(0, 60)):
            w = rng.choice([0, 1, 1, 2, 3, 4, 7, 8, 9, 13, 17, 24, 33, 40])
            v = rng.randrange(-(1 << 41), 1 << 41)
            pairs.append((v, w))
        lead = rng.randrange(0, 7)  # start mid-byte too
        a = _BitWriter()
        b = _BitWriter()
        if lead:
            a.write(0x15, lead)
            b.write(0x15, lead)
        for v, w in pairs:
            a.write(v, w)
        b.write_codes([v for v, _ in pairs], [w for _, w in pairs])
        assert a.bit_list() == b.bit_list(), (trial, pairs[:5])


def test_vorbis_peek8_lut_matches_tree_walk():
    """The peek-8 decode LUT (round 17) agrees with the §3.2.1 codeword
    table on every possible 8-bit peek: a slot decodes to (entry, len)
    iff exactly one codeword of length <= 8 prefixes the peek's
    LSB-first bit sequence, else it is None (longer-codeword or
    invalid paths fall back to the per-bit walk)."""
    from input_data_pipeline_spark.operators.multimodal import (
        _VBitsW,
        _VorbisBook,
        _VBits,
    )

    # build a book with mixed lengths incl. >8-bit codewords via the
    # ordered layout: entries of lengths 2,3,3,4,..., padded so some
    # codewords exceed 8 bits (under-subscribed trees are legal)
    w = _VBitsW()
    w.write(0x564342, 24)
    w.write(1, 16)            # dims
    w.write(12, 24)           # entries
    w.write(1, 1)             # ordered
    w.write(1, 5)             # first length - 1 -> 2
    # ordered counts: ilog-coded number of entries per length step
    w.write(1, _ilog(12))     # 1 entry of len 2
    w.write(2, _ilog(11))     # 2 of len 3
    w.write(3, _ilog(9))      # 3 of len 4
    w.write(2, _ilog(6))      # 2 of len 5
    w.write(1, _ilog(4))      # 1 of len 6
    w.write(1, _ilog(3))      # 1 of len 7
    w.write(1, _ilog(2))      # 1 of len 8
    w.write(1, _ilog(1))      # 1 of len 9
    w.write(0, 4)             # lookup type 0
    book = _VorbisBook(_VBits(w.getvalue()))
    lut = book._build_lut8()
    assert book.maxlen == 9
    rev = {}
    for (ln, code), e in book.table.items():
        if ln <= 8:
            # expand this codeword to all peeks it owns
            r = int(f"{code:0{ln}b}"[::-1], 2)
            for j in range(1 << (8 - ln)):
                rev[r | (j << ln)] = (e, ln)
    for peek in range(256):
        assert lut[peek] == rev.get(peek), peek
    # decode equivalence through the byte-aligned fast path vs a fresh
    # per-bit walk, for every entry incl. the 9-bit one
    for (ln, code), e in book.table.items():
        wb = _VBitsW()
        for i in range(ln - 1, -1, -1):  # MSB-first emission
            wb.write((code >> i) & 1, 1)
        wb.write(0, 16)  # pad so the peek never trips end-of-packet
        br = _VBits(wb.getvalue())
        assert book.scalar(br) == e, (ln, code)
        assert br.pos == ln


def _ilog(x: int) -> int:
    from input_data_pipeline_spark.operators.multimodal import _vilog

    return _vilog(x)
