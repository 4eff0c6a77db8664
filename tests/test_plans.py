"""Physical-plan regression tests (SURVEY.md §4): the scale properties the
docstrings promise — pushdown, pruning, broadcast choice, shuffle counts,
no Python in JVM-only pipelines — asserted against .explain output so a
refactor that silently degrades a plan fails CI, not a 100 TB run."""

from __future__ import annotations

import io
import re
import contextlib

import pytest

from sqlite_to_clickhouse_spark.registry import all_queries

_Q = all_queries()


def _plan(spark, sf_dir, name: str) -> str:
    df = _Q[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchanges(plan: str) -> list[str]:
    # Count physical Exchange operators once each (the numbered detail
    # section), excluding broadcast exchanges counted separately.
    return [
        l.strip()
        for l in plan.splitlines()
        if l.strip().startswith("(") and "Exchange" in l
    ]


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # Column pruning: the 7 needed columns only — no l_orderkey/l_partkey etc.
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in rs and "l_partkey" not in rs
    assert "l_returnflag" in rs and "l_shipdate" in rs


def test_filter_predicate_reaches_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "filter_predicate")
    pf = next(l for l in p.splitlines() if "PushedFilters" in l)
    for fragment in (
        "GreaterThanOrEqual(l_quantity,10.0)",
        "In(l_returnflag, [A,R])",
        "StringStartsWith(l_linestatus,F)",
    ):
        assert fragment in pf, f"missing pushed filter {fragment}"


def test_join_broadcast_no_fact_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "join_broadcast")
    assert p.count("BroadcastHashJoin") >= 2  # once per join in the tree
    # The only non-broadcast exchange is the final groupBy shuffle.
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular


def test_join_asof_single_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "join_asof")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular  # one hash shuffle on the as-of key


def test_join_range_is_broadcast_nested_loop(spark, sf_dir):
    p = _plan(spark, sf_dir, "join_range")
    assert "BroadcastNestedLoopJoin" in p


def test_topk_uses_take_ordered(spark, sf_dir):
    p = _plan(spark, sf_dir, "topk")
    assert "TakeOrderedAndProject" in p


def test_sim_topk_never_shuffles_embeddings(spark, sf_dir):
    """Only narrow (probe_id, vec_id, cos) rows may cross the wire — the
    embedding arrays must stay where they were read."""
    p = _plan(spark, sf_dir, "sim_topk_cosine")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular
    detail = p.split(regular[0].split(" ", 1)[1].strip())[-1] if regular else ""
    ex_args = [l for l in p.splitlines() if "hashpartitioning" in l]
    assert ex_args and all("embedding" not in l and "emb" not in l for l in ex_args), ex_args


def test_jvm_only_pipelines_have_no_python_eval(spark, sf_dir):
    """The hot-path operator families must not contain Python evaluation
    nodes; Python appears only in the explicitly-UDF ops."""
    for name in (
        "pricing_summary",
        "text_tfidf",
        "join_asof",
        "sim_topk_cosine",
        "dedup_exact",
    ):
        p = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_vectorized_kernels_are_arrow_not_row_python(spark, sf_dir):
    """minhash signatures and IVF bucket assignment/routing are deliberate
    Arrow-batched numpy kernels (the interpreted-HOF JVM spellings cost
    more to compile than to run — see the op docstrings); they must appear
    as ArrowEvalPython, and row-at-a-time BatchEvalPython must never."""
    for name in ("dedup_fuzzy_minhash", "sim_ann_ivf"):
        p = _plan(spark, sf_dir, name)
        assert "ArrowEvalPython" in p, name
        assert "BatchEvalPython" not in p, name


def test_udf_ops_use_arrow_not_row_python(spark, sf_dir):
    p = _plan(spark, sf_dir, "udf_pandas_scalar")
    assert "ArrowEvalPython" in p
    p = _plan(spark, sf_dir, "udf_python")
    assert "BatchEvalPython" in p  # the documented slow path, on purpose


def test_partitioned_sink_prunes_partitions(spark, sf_dir, tmp_path):
    """A dataset written partitionBy(col) must answer an equality filter on
    that column by scanning one directory (PartitionFilters, not data
    filters) — the layout lever that turns a 100 TB scan into 1/k of it."""
    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.sources.sinks import sink_parquet

    out = str(tmp_path / "byflag")
    sink_parquet(
        table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        ),
        out,
        partition_by=["l_returnflag"],
    )
    df = spark.read.parquet(out).filter("l_returnflag = 'A'")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    pf = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "l_returnflag" in pf and "= A" in pf.replace("'", "")
    # And the value filter is NOT re-checked row-wise on the data columns
    # (either no PushedFilters line at all, or an empty one).
    data_filters = [l for l in p.splitlines() if "PushedFilters" in l]
    assert all("l_returnflag" not in l for l in data_filters), data_filters


def test_whole_stage_codegen_active(spark, sf_dir):
    """AQE shows codegen stages only on the executed plan, so run the
    query and inspect the final plan: scan→filter→partial-agg must be
    fused into WholeStageCodegen spans."""
    df = _Q["pricing_summary"].fn(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # "*(N)" prefixes are WholeStageCodegen stage markers in plan strings.
    assert "*(" in executed and "isFinalPlan=true" in executed


def test_events_funnel_single_wide_shuffle(spark, sf_dir):
    # Three window-min passes + per-user agg must share one
    # hashpartitioning(user_id) exchange; the only other exchange is the
    # tiny final shuffle on funnel_step.
    p = _plan(spark, sf_dir, "events_funnel")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 2, regular
    assert p.count("Window") >= 3


def test_sink_partitioned_parquet_op_prunes(spark, sf_dir):
    # The registered op's read-back plan must resolve the priority filter
    # against directory names, not row groups.
    p = _plan(spark, sf_dir, "sink_partitioned_parquet")
    pf = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "o_orderpriority" in pf


def test_query_supplier_volume_star_join_no_fact_shuffle(spark, sf_dir):
    # The dimension chain must broadcast; the fact table shuffles only for
    # the final 25-key aggregate.
    p = _plan(spark, sf_dir, "query_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 3
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular


def test_query_shipping_priority_takes_ordered_topk(spark, sf_dir):
    p = _plan(spark, sf_dir, "query_shipping_priority")
    assert "TakeOrderedAndProject" in p


def test_join_dpp_prunes_partitions_at_runtime(spark, sf_dir):
    # The partitioned scan must carry a dynamic pruning subquery on the
    # partition column, fed by the broadcast dim.
    p = _plan(spark, sf_dir, "join_dynamic_partition_pruning")
    assert "dynamicpruning" in p.lower(), p[:2000]


def test_join_merge_hint_forces_sort_merge(spark, sf_dir):
    p = _plan(spark, sf_dir, "join_merge_hint")
    assert "SortMergeJoin" in p


def test_market_share_broadcasts_fixed_dims_only(spark, sf_dir):
    """nation/region force-broadcast; the lineitem⨝orders fact-fact join
    must NOT be a broadcast (it would OOM at scale — at tiny SF AQE may
    still pick broadcast for orders, so assert the explicit hints only)."""
    p = _plan(spark, sf_dir, "query_market_share")
    assert p.count("BroadcastHashJoin") >= 3  # n1, n2, r at minimum
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or p.count("BroadcastHashJoin") >= 6


def test_returned_items_aggregates_before_customer_join(spark, sf_dir):
    """The per-customer aggregate must sit BELOW the customer join in the
    plan tree: HashAggregate appears before the join consuming customer."""
    df = _Q["query_returned_items"].fn(spark, sf_dir)
    import io, contextlib
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    opt = buf.getvalue().split("== Optimized Logical Plan ==")[1]
    agg_pos = opt.index("Aggregate")
    # the customer-relation scan must appear AFTER (deeper than) the agg's
    # lineitem/orders subtree — i.e. the final join input order puts the
    # aggregate subtree first.
    assert "TakeOrdered" in _plan(spark, sf_dir, "query_returned_items")
    assert agg_pos < opt.index("customer.parquet")


def test_anomaly_zscore_single_window_exchange(spark, sf_dir):
    """The three trailing-window sums share one spec ⇒ one Window node,
    one hashpartitioning(user_id) exchange, no extra sort."""
    p = _plan(spark, sf_dir, "events_anomaly_zscore")
    assert len(_exchanges(p)) == 1
    assert p.count("Window") >= 1


def test_rolling_distinct_partition_parallel(spark, sf_dir):
    """Rolling distinct runs per event_type partition — exactly one
    shuffle (the window partitioning), nothing global."""
    p = _plan(spark, sf_dir, "window_rolling_distinct")
    assert len(_exchanges(p)) == 1


def test_fill_forward_single_shuffle(spark, sf_dir):
    p = _plan(spark, sf_dir, "window_fill_forward")
    assert len(_exchanges(p)) == 1


def test_stratified_sample_is_scanside_filter(spark, sf_dir):
    """Hash-threshold sampling must stay a scan-side filter: no Exchange
    anywhere in the plan."""
    p = _plan(spark, sf_dir, "sample_stratified_hash")
    assert len(_exchanges(p)) == 0
    assert "Filter" in p


def test_window_ntile_no_global_single_partition_window(spark, sf_dir):
    """The global ntile must NOT put the data through one unpartitioned
    Window: every Window node over the orders rows must carry a partition
    spec (_pid), and the only unpartitioned windows are over the ≤32-row
    per-partition counts (below a HashAggregate, broadcast back)."""
    p = _plan(spark, sf_dir, "window_ntile")
    # the data path: rangepartitioning exchange, then hashpartitioning(_pid)
    assert "rangepartitioning(o_totalprice" in p
    assert any("hashpartitioning(_pid" in l for l in p.splitlines())
    # the counts side must be broadcast, not joined via shuffle
    assert "BroadcastHashJoin" in p
    # No SinglePartition exchange feeding a Window over the raw orders
    # columns: every 'Exchange SinglePartition' (if any) must sit above a
    # HashAggregate (the tiny counts), never directly above the scan.
    lines = p.splitlines()
    for i, l in enumerate(lines):
        if "SinglePartition" in l:
            ctx = "\n".join(lines[max(0, i - 6) : i + 6])
            assert "HashAggregate" in ctx or "count(1)" in ctx, ctx


def test_text_repetition_is_shuffle_free(spark, sf_dir):
    """Every repetition metric is a per-row array expression (sorted-run
    fold for the top-bigram count) — the plan must contain NO exchange at
    all; the whole op runs inside the scan stage."""
    p = _plan(spark, sf_dir, "text_repetition")
    assert not _exchanges(p), _exchanges(p)


def test_text_idf_filter_single_tokenize_pass(spark, sf_dir):
    """Document frequency is a count-over-window on the token stream —
    one corpus tokenize/explode pass, no df-table join back (the join
    form recomputed the explode subtree per branch; see §6.4a). The
    corpus-count scalar still rides a broadcast."""
    p = _plan(spark, sf_dir, "text_idf_filter")
    assert p.count("Generate (") == 1
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_text_decontaminate_no_python_eval(spark, sf_dir):
    """The 13-gram construction is pure column expressions — no Python
    worker in the plan (slice/array_join/explode are JVM-side)."""
    p = _plan(spark, sf_dir, "text_decontaminate")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_promo_revenue_broadcast_and_year_pushdown(spark, sf_dir):
    p = _plan(spark, sf_dir, "query_promo_revenue")
    assert "BroadcastHashJoin" in p  # part is the broadcast side
    pf = next(l for l in p.splitlines() if "PushedFilters" in l and "l_shipdate" in l)
    assert "GreaterThanOrEqual(l_shipdate" in pf and "LessThan(l_shipdate" in pf
    # both conditional sums ride ONE groupBy exchange
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) <= 1, regular


def test_small_qty_revenue_brand_prunes_before_agg(spark, sf_dir):
    p = _plan(spark, sf_dir, "query_small_qty_revenue")
    # brand filter pushed to the part scan, not applied post-join
    pf = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(p_brand,Brand#23)" in l for l in pf), pf
    assert "BroadcastHashJoin" in p


def test_disjunctive_revenue_single_scan_no_union(spark, sf_dir):
    p = _plan(spark, sf_dir, "query_disjunctive_revenue")
    # ONE lineitem scan — the OR must not be rewritten into a union of
    # three per-branch scans.
    scans = [l for l in p.splitlines() if "InMemoryFileIndex" in l and "lineitem" in l]
    assert len(scans) == 1, scans
    assert "Union" not in p
    assert "BroadcastHashJoin" in p


def test_dormant_customers_anti_join_in_plan(spark, sf_dir):
    p = _plan(spark, sf_dir, "query_dormant_customers")
    assert "LeftAnti" in p
    # the >400k order filter is pushed to the orders scan (shrinks the
    # anti-join build side before the exchange)
    pf = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("GreaterThan(o_totalprice,400000" in l for l in pf), pf
    # scalar avg enters as a broadcast, never a driver collect
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_embedding_outlier_broadcast_centroids_no_python(spark, sf_dir):
    p = _plan(spark, sf_dir, "embedding_outlier")
    # centroid table broadcasts back to the un-exploded vectors
    assert "BroadcastHashJoin" in p
    # distance math is codegen'd higher-order expressions, never Python
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # exactly one Generate (the centroid posexplode) — the distance pass
    # must NOT re-explode the vectors
    assert p.count("Generate") <= 2  # node + its detail section


def test_sample_domain_mix_single_window_exchange(spark, sf_dir):
    p = _plan(spark, sf_dir, "sample_domain_mix")
    # The DOCUMENT side crosses the wire once (the per-source window); the
    # two extra exchanges belong to the quota scalar's count-distinct
    # subtree, which scans only the 1-column source projection.
    windows = [
        l
        for l in p.splitlines()
        if l.strip().startswith("(") and l.strip().endswith("Window")
    ]
    assert len(windows) == 1, windows
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) <= 3, regular
    # quota joins in as a broadcast scalar, never a driver collect
    assert "BroadcastNestedLoopJoin" in p


def test_join_runtime_bloom_injects_at_scale_condition(spark, sf_dir):
    """Recreate the 100 TB condition locally (dim not broadcastable, fact
    above the application-side threshold) and assert the runtime bloom
    filter is injected into the fact scan's filter condition."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        p = _plan(spark, sf_dir, "join_runtime_bloom")
        assert "might_contain" in p, "runtime bloom filter not injected"
        assert "bloom_filter_agg" in p
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# ---- round-5 additions: TPC-H extra shapes + LLM extras ----------------


def test_q5_star_single_fact_exchange(spark, sf_dir):
    """Q5 shape: all four dims broadcast; the only non-broadcast exchange
    is the final per-nation aggregation."""
    p = _plan(spark, sf_dir, "query_local_supplier_volume")
    assert p.count("BroadcastHashJoin") >= 5
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular


def test_q21_no_self_join_recompute(spark, sf_dir):
    """Q21 shape: the per-order counts come from a window over the
    aggregated per-(order, supplier) rows — a self-join back would make
    Spark recompute the fact⨝orders subtree (visible as SortMergeJoins
    and >3 exchanges)."""
    p = _plan(spark, sf_dir, "query_waiting_suppliers")
    assert "SortMergeJoin" not in p
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) <= 3, regular


def test_q4_semi_join_single_exchange(spark, sf_dir):
    """Q4 shape: EXISTS compiles to a semi join; one regular exchange for
    the final priority aggregation."""
    p = _plan(spark, sf_dir, "query_priority_late")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) <= 2, regular


def test_doc_chunk_is_narrow(spark, sf_dir):
    """Sequence chunking must be a pure narrow transformation — zero
    exchanges of any kind (scan → explode → project)."""
    p = _plan(spark, sf_dir, "text_doc_chunk")
    assert not _exchanges(p), _exchanges(p)
    assert "Exchange" not in p


def test_vocab_build_single_corpus_scan(spark, sf_dir):
    """Vocab build: the grand total rides the same unpartitioned window as
    the rank — a separate agg+crossJoin would re-scan the corpus (plans
    are trees, subplans are not shared)."""
    p = _plan(spark, sf_dir, "text_vocab_build")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) <= 2, regular
    # one parquet scan of documents, not two (count the numbered detail
    # entries; the tree section repeats each node once more)
    scans = [
        l
        for l in p.splitlines()
        if l.strip().startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) == 1, scans


def test_pair_distance_no_cartesian(spark, sf_dir):
    """The pair sample is an equi self-join on a shifted key — never a
    cross/nested-loop product."""
    p = _plan(spark, sf_dir, "sim_pair_distance_stats")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_triangle_count_no_cartesian(spark, sf_dir):
    # Every join in the census is an equi-join (order key, node keys,
    # adjacency lookups) — a CartesianProduct anywhere means a join lost
    # its keys and the plan is the O(n^2) one that dies on a real graph
    # (the final one-row stats crossJoins compile to scalar BNLJs, not
    # CartesianProducts).
    p = _plan(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    # Bounded node set ⇒ the bitset fast path: popcount fold over the
    # broadcast adjacency bitmaps, no materialized wedge join.
    assert "bit_count" in p
    assert "LeftSemi" not in p


def test_triangle_wedge_fallback_is_semi_join(spark, sf_dir):
    # Past the bitmap node cap the census must fall back to the wedge
    # plan whose closing membership test stays a LeftSemi (no payload).
    import io as _io
    import contextlib as _ctx

    from pyspark.sql import functions as F

    from sqlite_to_clickhouse_spark.io import table as _table
    from sqlite_to_clickhouse_spark.operators.graph import triangle_stats

    li = _table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("sb"))
    edges = (
        a.join(b, "k")
        .where(F.col("sa") < F.col("sb"))
        .select(F.col("sa").alias("u"), F.col("sb").alias("v"))
        .distinct()
    )
    df = triangle_stats(edges, bitmap_max_nodes=0)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "LeftSemi" in p
    assert "bit_count" not in p


def test_markov_single_user_shuffle_then_tiny_agg(spark, sf_dir):
    # The lead window and nothing else touches the event stream; the
    # matrix aggregate and row-normalization run on the |types|^2 pair
    # space. One fact-sized exchange (user_id), the rest tiny.
    p = _plan(spark, sf_dir, "events_markov_transitions")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert 1 <= len(regular) <= 3, regular
    assert "Window" in p


def test_sum_map_has_partial_aggregate(spark, sf_dir):
    # The explode-before-aggregate design only scales if the entry rows
    # partial-aggregate map-side before the shuffle.
    p = _plan(spark, sf_dir, "agg_sum_map")
    assert "partial" in p.lower()
    assert "Generate" in p  # the explode


def test_fn_geo_stays_in_codegen(spark, sf_dir):
    # The entire trig battery must compile into whole-stage codegen —
    # no Python eval, no extra exchanges beyond the scan.
    p = _plan(spark, sf_dir, "fn_geo")
    # formatted mode marks codegen stages with '*' on the node line
    assert "* Project" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert not _exchanges(p)


def test_q6_pushdown_and_three_column_read(spark, sf_dir):
    # Q6 is pure scan-bound: every predicate reaches the parquet scan and
    # the ReadSchema carries exactly the three touched columns — at 100 TB
    # anything else reads the whole table to produce two numbers.
    p = _plan(spark, sf_dir, "query_forecast_revenue")
    pf = next(l for l in p.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_shipdate" in pf
    assert "GreaterThanOrEqual(l_discount,0.05)" in pf
    assert "LessThan(l_quantity,24.0)" in pf
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in rs
    assert "l_orderkey" not in rs and "l_returnflag" not in rs


def test_corr_regr_single_partial_final_aggregate(spark, sf_dir):
    # The six power sums must ride ONE partial+final aggregate pair; the
    # slope/corr algebra stays a projection over the aggregated rows.
    p = _plan(spark, sf_dir, "agg_corr_regr")
    assert "partial" in p.lower()
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular


def test_substring_spans_no_cartesian_and_preagg(spark, sf_dir):
    # The span join-back is an equi-join on the hashed gram; the
    # per-(doc,gram) pre-aggregation must exist (map-side combine) so
    # within-doc repeats never cross the wire individually.
    p = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    assert "partial" in p.lower()
    # Exactly ONE explode pass: doc frequency comes from a count-over-
    # window, never a self-join that would re-run the O(tokens) subtree.
    assert p.count("Generate (") == 1
    # Raw text must not survive past the explode: no 'text' column in any
    # exchange (the wire carries doc_id + 8-byte g only).
    for line in p.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            assert "text" not in line


def test_rfm_aggregates_before_windows(spark, sf_dir):
    # The fact table must collapse to per-customer rows BEFORE any ntile
    # window, and the date anchor must be a broadcast, not a collect.
    p = _plan(spark, sf_dir, "events_rfm")
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted explain lists operators leaf-first in the numbered tree;
    # assert via the simple-string section instead: the scan feeds an
    # aggregate whose output feeds the windows, so the plan has no Window
    # directly over the scan (windows sort on recency/frequency/monetary,
    # which only exist post-aggregation).
    assert "recency_days" in p


def test_map_in_arrow_is_narrow_and_pruned(spark, sf_dir):
    # mapInArrow runs partition-local (zero exchanges) and the scan
    # prunes to the two input columns.
    p = _plan(spark, sf_dir, "udf_map_in_arrow")
    assert not _exchanges(p)
    assert "MapInArrow" in p or "ArrowEvalPython" in p or "PythonMapInArrow" in p
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "doc_id" in rs and "text" in rs and "lang" not in rs


def test_delta_sum_single_shared_shuffle(spark, sf_dir):
    # The lag window and the per-user aggregate must share ONE user_id
    # hash partitioning — a second fact-sized exchange would double the
    # 100 TB shuffle for no semantic reason.
    p = _plan(spark, sf_dir, "agg_delta_sum")
    assert "Window" in p
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular


def test_asof_tolerance_same_plan_as_asof(spark, sf_dir):
    # Tolerance is a projection over the asof pick, not a join change:
    # the plan must still be the single-shuffle windowed union (one
    # non-broadcast exchange for the key partitioning), with no extra
    # join introduced by the window filter.
    p = _plan(spark, sf_dir, "join_asof_tolerance")
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    assert len(regular) == 1, regular
    assert "Window" in p
    assert "CartesianProduct" not in p


def test_mix_epochs_no_corpus_shuffle(spark, sf_dir):
    # Replication happens in place: the only exchanges belong to the tiny
    # per-source count aggregate (and its broadcast back); the corpus
    # itself must reach the explode without a hash repartition.
    p = _plan(spark, sf_dir, "sample_mix_epochs")
    assert "Generate" in p  # the explode of epoch copies
    assert "BroadcastExchange" in p
    regular = [e for e in _exchanges(p) if "Broadcast" not in e]
    # counts agg: one exchange; its crossJoin re-aggregation: at most one
    # more. None may carry documents' text column.
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_scan_text_lines_codegen_parse(spark, sf_dir):
    # Line parsing must be a codegen projection over the text scan — no
    # Python, no shuffle.
    p = _plan(spark, sf_dir, "scan_text_lines")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert not _exchanges(p)


def test_phash_band_shuffle_only(spark, sf_dir):
    # Signatures are computed partition-locally in ONE Arrow-batched
    # Python stage; candidate marking shuffles only (band_key, …) rows.
    p = _plan(spark, sf_dir, "multimodal_phash_dedup")
    # formatted explain names each physical node twice (tree + detail
    # section): 2 mentions == ONE MapInPandas stage; 4 would mean the
    # signature stage is being recomputed by a self-join branch.
    assert p.count("MapInPandas") == 2
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "payload" not in line  # bytes never cross the wire


def test_cooccurrence_no_join_single_generate(spark, sf_dir):
    # Pair generation happens INSIDE the token array (transform +
    # try_element_at), so the plan has no self-join and exactly one
    # Generate; the sole exchange is the final pair-count groupBy.
    p = _plan(spark, sf_dir, "text_cooccurrence")
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1
    assert len(_exchanges(p)) == 1


def test_pca_projection_is_narrow(spark, sf_dir):
    # The fit is a bounded driver sample; the projection itself must be
    # one narrow Arrow pass — zero exchanges in the projected plan.
    p = _plan(spark, sf_dir, "embedding_pca_project")
    assert not _exchanges(p)
    assert "ArrowEvalPython" in p or "MapInPandas" in p


def test_dict_lookup_is_pure_projection(spark, sf_dir):
    # dictGet semantics: the enrichment must compile to map probes in a
    # projection — zero Join operators, zero exchanges of any kind.
    p = _plan(spark, sf_dir, "fn_dict_lookup")
    assert "Join" not in p
    assert not _exchanges(p)


def test_bucketed_colocated_join_has_no_exchange(spark, sf_dir):
    """The whole point of join_bucketed_colocated: after the bucketed
    layout is written, the join AND the follow-on group-by on the bucket
    key run with ZERO Exchanges of any kind. Broadcast is disabled for
    the assertion (at fixture scale Spark rightly prefers broadcasting
    the small orders side — also shuffle-free; at 100 TB both sides are
    big and the bucketed sort-merge path below is the one that runs)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(spark, sf_dir, "join_bucketed_colocated")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" not in p, p
    assert "SortMergeJoin" in p, p
    assert "SelectedBucketsCount: 8 out of 8" in p, p


@pytest.mark.parametrize(
    "name",
    [
        "text_ngram_novelty",
        "text_decontaminate",
        "dedup_substring_spans",
        "text_ngrams",
        "text_cooccurrence",
    ],
)
def test_ngram_generators_explode_bound_columns(spark, sf_dir, name):
    """The interpreted-HOF CSE rule (round 6): higher-order functions are
    interpreted with no common-subexpression elimination, so the gram
    array must be BOUND in its own projection and the Generate must
    explode a bare attribute — an inline generator expression means every
    Generate output row (and the inferred size/notnull filter) re-runs
    the tokenize, O(tokens²) per doc. Asserted: every explode argument in
    the plan is a plain column reference like `explode(gk#123)`."""
    p = _plan(spark, sf_dir, name)
    gens = re.findall(r"Arguments: explode(?:_outer)?\(([^)]*)\)", p)
    assert gens, f"no Generate found for {name}"
    for arg in gens:
        assert re.fullmatch(r"\w+#\d+[L]?", arg.strip()), (
            f"{name}: Generate evaluates an inline expression "
            f"({arg[:80]}…) instead of a bound column"
        )


def test_bucketed_dedup_assignment_is_kernel_not_pair_join(spark, sf_dir):
    """dedup_embedding_bucketed's centroid assignment must run as ONE
    map-side Arrow kernel pass (MapInPandas against the driver-fit
    centroid matrix) — never as a crossJoin producing N×k pair rows (the
    interpreted-lambda spelling measured minutes-deep at the 100× sweep)
    and never as a window over a pair stream. The only join in the plan
    is the in-bucket pair join."""
    p = _plan(spark, sf_dir, "dedup_embedding_bucketed")
    assert "MapInPandas" in p, p
    assert "Window" not in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_cogrouped_udf_shuffles_on_bucket_not_key(spark, sf_dir):
    """udf_pandas_cogrouped must cogroup on the derived hash bucket — one
    Python invocation per bucket — never on the raw order key (one call
    PER KEY: 150k Python round trips at sf0.1, unbounded at scale)."""
    p = _plan(spark, sf_dir, "udf_pandas_cogrouped")
    assert "FlatMapCoGroupsInPandas" in p, p
    parts = [l for l in p.splitlines() if "hashpartitioning" in l]
    assert parts and all("bkt" in l for l in parts), parts
    assert not any("orderkey" in l for l in parts), parts


def test_exact_embedding_dedup_is_single_pass_kernel(spark, sf_dir):
    """dedup_embedding_cosine (the guarded exact O(n²) diagnostic) must be
    ONE MapInPandas pass over one scan — no pair join, no shuffle: the
    quadratic lives inside the Arrow kernel against the driver-fit
    closure matrix, not in the plan."""
    p = _plan(spark, sf_dir, "dedup_embedding_cosine")
    assert "MapInPandas" in p, p
    assert "Join" not in p and not _exchanges(p), p


def test_er_golden_record_broadcasts_entity_map(spark, sf_dir):
    """The name→entity map must reach the fact scan as a broadcast (the
    docstring's promise) — a sort-merge join here would shuffle the whole
    catalog on p_name at 100 TB."""
    p = _plan(spark, sf_dir, "er_golden_record")
    assert "BroadcastHashJoin" in p


def test_er_blocked_pairs_no_cartesian(spark, sf_dir):
    """Token blocking must plan as an equi-join on the blocking key —
    never a cartesian/nested-loop over names."""
    p = _plan(spark, sf_dir, "er_blocked_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_source_overlap_prunes_documents_scan(spark, sf_dir):
    """The posting-list build needs source+text only; reading doc_id or
    n_chars would drag dead columns through the explode."""
    p = _plan(spark, sf_dir, "text_source_overlap")
    rs = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "source" in rs and "text" in rs
    assert "doc_id" not in rs and "n_chars" not in rs


def test_bigram_logprob_two_explodes_only(spark, sf_dir):
    """Exactly two Generates: the scoring path's bigram explode + the
    V-scalar branch's re-explode (plans are trees). The counts ride
    windows on the exploded stream, so a THIRD explode means the model
    join-back crept back in (the text_tfidf plan flaw)."""
    p = _plan(spark, sf_dir, "text_bigram_logprob")
    gens = [l for l in p.splitlines() if l.strip().startswith("(") and "Generate" in l]
    assert len(gens) == 2, gens


def test_ann_index_query_runs_without_python_or_rdd_scans(spark, sf_dir):
    """The persisted IVF-PQ serving path is JVM-only once the probes are
    collected: ADC scoring is a native expression (no Arrow/row Python
    evaluation) and the driver-built relations are LocalRelations (no
    ``Scan ExistingRDD``, which would start a Python worker per scan).
    Checked on the EXECUTED plan, and the codes scan keeps its static
    bucket PartitionFilters."""
    from pyspark.sql import functions as F

    from sqlite_to_clickhouse_spark.io import table
    from sqlite_to_clickhouse_spark.operators.similarity import (
        N_PROBES,
        NPROBE,
        TOP_K,
        _ensure_index,
        ann_index_query,
    )

    path, _ = _ensure_index(spark, sf_dir)
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p_emb")
    )
    df = ann_index_query(spark, e, path, probes, k=TOP_K, nprobe=NPROBE)
    assert df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "isFinalPlan=true" in p, p
    for node in ("ArrowEvalPython", "BatchEvalPython", "Scan ExistingRDD"):
        assert node not in p, f"{node} in the served plan:\n{p}"
    assert "LocalTableScan" in p
    assert any(
        "PartitionFilters" in l and "bucket" in l and "IN" in l.upper()
        for l in p.splitlines()
    ), p


def test_scan_jdbc_fallback_extract_has_no_bookkeeping_jobs(spark, sf_dir):
    """The fallback SQLite extract spreads its rowid slices with
    ``spark.range`` (one slice per partition) and reads them in a
    ``mapInArrow`` task: no driver-built Python relation to scan
    (``Scan ExistingRDD``) and no round-robin shuffle to spread it.
    Checked on the EXECUTED plan."""
    from sqlite_to_clickhouse_spark.sources.sqlite import jdbc_available

    if jdbc_available(spark):
        pytest.skip("a SQLite JDBC driver is on the classpath: no fallback extract")
    df = _Q["scan_jdbc"].fn(spark, sf_dir)
    assert df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    for node in ("Scan ExistingRDD", "RoundRobinPartitioning"):
        assert node not in p, f"{node} in the extract plan:\n{p}"
    assert "MapInArrow" in p, p
