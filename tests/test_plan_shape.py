"""Physical-plan regression tests: pin the scale-relevant plan
properties (broadcast joins, top-k without total sort, predicate
pushdown, column pruning, cache reuse) so a refactor can't silently
trade them away. These inspect the executed-plan string — cheap, no
job runs."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import __spark_entry__ as e
from project_2_semantic_similarity_spark.operators import similarity as S


def plan_of(spark, name, sf_dir):
    df = e.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _jnode_count(jplan, node_name: str) -> int:
    """Count physical nodes by nodeName WITHOUT descending into
    InMemoryRelation build plans — cached slots (r14) embed their
    build subtree in the plan STRING, which breaks substring counts
    (a cached corpus scan is not a second corpus pass)."""
    n = 1 if jplan.nodeName() == node_name else 0
    ch = jplan.children()
    for i in range(ch.size()):
        n += _jnode_count(ch.apply(i), node_name)
    return n


def _input_plan(spark, name, sf_dir):
    """The pre-AQE physical plan (cache-substituted), as a JVM node
    for structural counting."""
    df = e.queries()[name](spark, sf_dir)
    jplan = df._jdf.queryExecution().executedPlan()
    return jplan.inputPlan() if jplan.nodeName() == "AdaptiveSparkPlan" \
        else jplan


def _jnodes(jplan, node_name: str) -> list:
    """Physical nodes named ``node_name``, pre-order, not descending
    into InMemoryRelation build plans (see ``_jnode_count``)."""
    out = [jplan] if jplan.nodeName() == node_name else []
    ch = jplan.children()
    for i in range(ch.size()):
        out += _jnodes(ch.apply(i), node_name)
    return out


def test_flagship_plan_shape(spark, sf_dir):
    # pin the warm query: once the cached index is materialized its
    # doc_id partitioning is known to the planner
    e.queries()["flagship_term_similarity"](spark, sf_dir).collect()
    plan = plan_of(spark, "flagship_term_similarity", sf_dir)
    # the physical plan with its exchanges, before AQE re-planning
    jplan = e.queries()["flagship_term_similarity"](
        spark, sf_dir)._jdf.queryExecution().executedPlan().initialPlan()
    # top-k plans as per-partition heaps, never a total sort
    assert _jnode_count(jplan, "TakeOrderedAndProject") == 1
    # the query vector meets the candidates in a shuffled hash join on
    # doc_id that reads both sides straight from the doc_id-partitioned
    # cached index: no exchange, broadcast or sort-merge below it
    (join,) = _jnodes(jplan, "ShuffledHashJoin")
    assert "doc_id" in join.leftKeys().toString()
    assert "doc_id" in join.rightKeys().toString()
    for name in ("Exchange", "BroadcastExchange", "SortMergeJoin"):
        assert _jnode_count(join, name) == 0, name
    assert _jnode_count(join, "InMemoryTableScan") == 2
    # the one shuffle above the cache is the per-term reduce
    (exchange,) = _jnodes(jplan, "Exchange")
    assert "hashpartitioning(term" in exchange.toString()
    assert _jnode_count(jplan, "BroadcastExchange") == 0
    # corpus scan reads only the two needed columns
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    doc_scans = [s for s in schemas if "text" in s]
    assert doc_scans and all(
        set(s.split(",")) <= {"doc_id:bigint", "text:string"}
        for s in doc_scans)


def test_multiway_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, "join_multiway", sf_dir)
    # region/nation/customer/orders all broadcast against lineitem
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan


def test_agg_hash_pushes_filter_to_scan(spark, sf_dir):
    plan = plan_of(spark, "agg_hash", sf_dir)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_topk_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_knn_broadcasts_query_row(spark, sf_dir):
    plan = plan_of(spark, "knn_embeddings", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    plan = plan_of(spark, "join_bucketed", sf_dir)
    # both sides bucketed by the join key -> SMJ reads matching
    # buckets directly; the only exchange allowed is the final
    # aggregation's (which AQE may add above the join)
    join_part = plan.split("SortMergeJoin")[-1]
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in join_part


def test_partitioned_sink_prunes_partitions(spark, sf_dir):
    plan = plan_of(spark, "sink_partitioned", sf_dir)
    # the year filter must prune at the directory level, not post-scan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "order_year" in m.group(1)


def test_doc_similarity_dense_plan_shape(spark, sf_dir):
    plan = plan_of(spark, "text_doc_similarity", sf_dir)
    # dense pair scoring is block-pair BLAS (r6): blocks attach to the
    # driver-sized pair index by broadcast, scoring runs in Arrow
    # batches — never a shuffled join on the (skewed) term axis and
    # never a row-per-pair join of any kind
    assert "MapInPandas" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # top-k via per-partition heaps, not a total sort of all pairs
    assert "TakeOrderedAndProject" in plan
    # the persisted doc-vector table feeds the block build from cache
    assert plan.count("InMemoryTableScan") >= 1


def test_correlated_scalar_subquery_decorrelates(spark, sf_dir):
    plan = plan_of(spark, "subquery_scalar_corr", sf_dir)
    # the per-partkey average runs ONCE as an aggregate joined back in,
    # never as a re-executed per-row subquery
    assert "HashAggregate" in plan and "avg(l_quantity" in plan
    assert "BroadcastHashJoin" in plan
    # no subquery node survives in the probe-side filter
    assert "ScalarSubquery" not in plan


def test_not_in_plans_null_aware_anti_join(spark, sf_dir):
    plan = plan_of(spark, "subquery_not_in", sf_dir)
    # NOT IN must keep three-valued-logic semantics: a broadcast
    # LeftAnti with the null-aware flag set (trailing 'true')
    assert re.search(r"BroadcastHashJoin .*LeftAnti, BuildRight, true", plan)


def test_uncorrelated_scalar_subquery_pushes_down(spark, sf_dir):
    plan = plan_of(spark, "subquery_scalar_uncorr", sf_dir)
    # the once-computed scalar reaches the parquet scan as a pushed filter
    assert re.search(r"PushedFilters: \[.*GreaterThan\(p_retailprice,ScalarSubquery", plan)


def test_dedup_embedding_cosine_fold_is_bucketed_equijoin(spark, sf_dir):
    """The fold engine's pair join must be a hash EQUI-join on
    cluster ids — never the all-pairs cartesian/broadcast-NLJ on
    vec_a < vec_b. (The only NLJ allowed is the tiny broadcast
    codebook / centroid-pair attach.)"""
    plan = plan_of(spark, "dedup_embedding_cosine_fold", sf_dir)
    assert "CartesianProduct" not in plan
    # pair join on cluster id: SMJ or shuffled/broadcast hash join
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    # any NLJ present must be a broadcast of a tiny aggregate (the
    # codebook), never joining two FileScan relations
    for frag in re.split(r"BroadcastNestedLoopJoin", plan)[1:]:
        top = frag.splitlines()[:3]
        assert not all("FileScan" in ln for ln in top[1:3] if ln)
    # persisted assignment serves both join sides (radii moved to
    # the driver-side memoized candidate screen in r14 — the K-row
    # relation no longer re-aggregates inside every execution)
    assert plan.count("InMemoryTableScan") >= 2


def test_ivf_assign_argmin_has_no_window(spark, sf_dir):
    """Nearest-centroid argmin is a min_by aggregate (map-side
    partial combine, shuffle of one row per vector) — not a
    row_number window over the n x K scored relation."""
    plan = plan_of(spark, "knn_ivf", sf_dir)
    assert "Window" not in plan
    assert "min_by" in plan


def test_agg_selective_is_single_hash_agg(spark, sf_dir):
    """max_by/min_by/count_if must plan as one partial+final hash
    agg pair — no sort, no window (the argmin-without-sort shape)."""
    plan = plan_of(spark, "agg_selective", sf_dir)
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_knn_quantized_plan_matches_exact_knn(spark, sf_dir):
    """Quantized search keeps the broadcast-query + top-k heap shape;
    the dequant must not force a shuffle or sort."""
    plan = plan_of(spark, "knn_quantized", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert ("BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "SortMergeJoin" not in plan


def test_sink_sorted_ranged_pushes_read_filter(spark, sf_dir):
    """The re-read of the range-sorted copy must push the shipdate
    predicate into the parquet scan (row-group stat skipping)."""
    import re as _re
    plan = plan_of(spark, "sink_sorted_ranged", sf_dir)
    assert _re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_pack_shards_single_scalar_exchange(spark, sf_dir):
    """Shard assignment = scalar total broadcast back over a narrow
    map; the only join is a broadcast of the 1-row aggregate."""
    plan = plan_of(spark, "corpus_pack_shards", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_decontaminate_broadcasts_eval_probe(spark, sf_dir):
    """The eval-shingle contamination probe must be a broadcast
    left-semi hash join — the training corpus is scanned once and
    never shuffled by shingle (the eval side is benchmark-suite
    sized by construction)."""
    plan = plan_of(spark, "corpus_decontaminate", sf_dir)
    assert re.search(r"BroadcastHashJoin[^\n]*LeftSemi", plan)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_ivf_trained_broadcast_only(spark, sf_dir):
    """Multi-probe IVF: every join is a broadcast of a k-row/1-row
    relation (codebook, probe lists, query vector) — the corpus
    relation is never shuffled or NLJ'd against itself."""
    plan = plan_of(spark, "knn_ivf_trained", sf_dir)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_join_skew_salted_spreads_hot_key(spark, sf_dir):
    """The skew join must execute as a shuffle hash join whose keys
    include the salt (never a broadcast that sidesteps the skew, and
    never an unsalted single-key shuffle)."""
    plan = plan_of(spark, "join_skew_salted", sf_dir)
    m = re.search(r"ShuffledHashJoin \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    assert "hot_key" in m.group(1) and "salt" in m.group(1)
    # dim replication is the explode of a salt sequence
    assert "explode" in plan.lower()


def test_sink_ivf_partitioned_prunes_dynamically(spark, sf_dir):
    """The IVF-layout probe must reach the partitioned corpus scan
    as a DYNAMIC partition filter (broadcast of the 1-row query
    relation into PartitionFilters) — the probe reads 1/n_lists of
    the files, never the whole layout."""
    plan = plan_of(spark, "sink_ivf_partitioned", sf_dir)
    assert "dynamicpruning" in plan.lower()
    assert "TakeOrderedAndProject" in plan  # top-k, no total sort


def test_dedup_clusters_no_cartesian(spark, sf_dir):
    """Label propagation + sizes: every join is an equi-join on node
    or component id; nothing may plan as a cartesian product."""
    plan = plan_of(spark, "dedup_clusters", sf_dir)
    assert "CartesianProduct" not in plan


def test_blocked_gemm_is_arrow_map(spark, sf_dir, monkeypatch):
    """The declared dedup_embedding_cosine (gemm engine since r5)
    runs its pair work inside an Arrow mapInPandas over block rows —
    no cartesian, no pair-expanded shuffle."""
    monkeypatch.setattr(S, "VEC_LOCAL_MAX_ROWS", 0)  # distributed branch
    plan = plan_of(spark, "dedup_embedding_cosine", sf_dir)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_bm25_prefilters_and_heaps(spark, sf_dir):
    """BM25 retrieval: corpus stats attach as broadcasts, top-k
    plans as per-partition heaps — never a total sort."""
    plan = plan_of(spark, "text_bm25", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_batch_topk_is_blocked_map(spark, sf_dir):
    """Batch kNN: the pair work runs inside an Arrow mapInPandas
    over block-pair rows; the merge window sees n*k*B rows, never
    the raw n^2 pair relation."""
    plan = plan_of(spark, "knn_batch_topk", sf_dir)
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the exact merge step


def test_range_interval_join_is_equi_not_nlj(spark, sf_dir):
    """The binned rewrite must plan as a hash/SMJ equi-join on the
    bucket key — a BroadcastNestedLoopJoin here means the bins were
    lost and the plan degenerated to the quadratic form."""
    plan = plan_of(spark, "join_range_interval", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_tpch_q5_broadcasts_all_dims_single_agg_exchange(spark, sf_dir):
    """Q5's star shape: every dimension joins lineitem by broadcast
    (region/nation/supplier/customer/orders are all small or
    AQE-shrunk) — no sort-merge join anywhere, and the only exchange
    feeds the final group-by."""
    plan = plan_of(spark, "sql_api_tpch_q5", sf_dir)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4


def test_dedup_passage_single_agg_no_join(spark, sf_dir):
    """Passage detection is explode + ONE hash aggregation — any join
    or window in the plan means a pairwise stage crept in."""
    plan = plan_of(spark, "dedup_passage", sf_dir)
    for op in ("Join", "Window", "CartesianProduct"):
        assert op not in plan, op
    assert "HashAggregate" in plan


def test_embedding_gram_shuffles_partials_not_rows(spark, sf_dir):
    """The Gram pipeline is Arrow map -> hash agg: the only exchange
    carries dim^2-sized partials, and there is no join/explode of the
    corpus itself."""
    plan = plan_of(spark, "embedding_gram", sf_dir)
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_pagerank_step_no_cartesian(spark, sf_dir):
    plan = plan_of(spark, "graph_pagerank_step", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_events_attribution_equi_join_with_residual_range(spark, sf_dir):
    """The lookback predicates must ride the user_id equi-join as
    residual conditions, never force an NLJ."""
    plan = plan_of(spark, "events_attribution", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_hypertable_scans_events_once(spark, sf_dir):
    """The cascade reads raw events exactly once: one file scan; the
    daily grain hangs off the hourly aggregate, not a second scan."""
    plan = plan_of(spark, "events_rollup_hypertable", sf_dir)
    assert plan.count("Scan parquet") + plan.count(
        "FileScan parquet") >= 1
    assert len(re.findall(r"events\.parquet", plan)) <= 2


def test_merge_upsert_full_outer_is_keyed_smj(spark, sf_dir):
    """The MERGE dataflow (pre-write — the declared query returns the
    re-read scan) must be a KEYED full-outer join: SortMergeJoin on
    the PK, never a nested loop. (FULL OUTER cannot broadcast in
    Spark — both sides' unmatched rows must survive — so SMJ is the
    correct strategy, and bucketing the base removes its exchange.)"""
    from project_2_semantic_similarity_spark.plans.q_relational import (
        merge_plan)
    plan = (merge_plan(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin [o_orderkey" in plan and "FullOuter" in plan


def test_scd2_single_exchange_for_window_chain(spark, sf_dir):
    """Daily-grain agg, lag window, running sum, and final agg all key
    on user_id — at most the daily-agg exchange plus one user_id
    exchange may appear (the window chain must reuse partitioning)."""
    plan = plan_of(spark, "scd2_history", sf_dir)
    assert plan.count("Exchange hashpartitioning") <= 2


def test_join_fuzzy_is_blocked_equijoin(spark, sf_dir):
    """Blocking must reach the join as an equi-key (substring
    prefix), with levenshtein only as a filter — an NLJ means the
    block key fell out of the join condition."""
    plan = plan_of(spark, "join_fuzzy", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_agg_mode_aggregates_before_window(spark, sf_dir):
    """The count agg must run BELOW the row_number window (window
    input is distinct (brand, type) pairs, not raw part rows)."""
    plan = plan_of(spark, "agg_mode", sf_dir)
    agg_pos = plan.rfind("HashAggregate")
    win_pos = plan.find("Window")
    assert win_pos != -1 and agg_pos > win_pos


def test_sink_zorder_pushes_both_read_filters(spark, sf_dir):
    """The re-read must push BOTH dimension predicates into the
    parquet scan (row-group skipping needs them at the reader)."""
    plan = plan_of(spark, "sink_zorder", sf_dir)
    # the toString() truncates long filter lists, so assert on the
    # whole FileScan line (DataFilters + PushedFilters) instead of
    # inside the possibly-truncated bracket
    scan_lines = [ln for ln in plan.splitlines()
                  if "FileScan parquet" in ln and "zorder" in ln]
    assert scan_lines
    assert any("PushedFilters: [IsNotNull" in ln
               and "o_custkey" in ln and "o_orderdate" in ln
               for ln in scan_lines)


def test_knn_pq_plan_shape(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(S, "VEC_LOCAL_MAX_ROWS", 0)  # distributed branch
    plan = plan_of(spark, "knn_pq", sf_dir)
    # encode argmin is a partial-aggregable hash agg, never a window
    # sort over the n x m_sub subvector relation
    assert "Window" not in plan
    # codebook / query-subvector / candidate attaches all broadcast;
    # the only non-broadcast join would shuffle the vector payload
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # candidate cut and final top-k both plan as per-partition heaps
    assert plan.count("TakeOrderedAndProject") >= 2


def test_knn_ivf_pq_queries_cached_index(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(S, "VEC_LOCAL_MAX_ROWS", 0)  # distributed branch
    # pin the warm query: the slots report their size once materialized
    e.queries()["knn_ivf_pq"](spark, sf_dir).collect()
    plan = plan_of(spark, "knn_ivf_pq", sf_dir)
    # centroid, assignment and code-table slots serve the query from
    # cache — the corpus-sized index build is not in the query plan
    assert plan.count("InMemoryTableScan") >= 3
    # probe lists / candidates / codebook / query all attach by
    # broadcast; nothing shuffles the vector payload
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def _lambda_bodies(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` span of a plan string, each cut
    at its line's end (the plan string truncates long lines)."""
    out = []
    for line in plan.splitlines():
        start = line.find("lambdafunction(")
        while start >= 0:
            depth, i = 0, start + len("lambdafunction")
            while i < len(line):
                depth += {"(": 1, ")": -1}.get(line[i], 0)
                i += 1
                if depth == 0:
                    break
            out.append(line[start:i])
            start = line.find("lambdafunction(", start + 1)
    return out


def test_knn_pq_norm_is_folded_once_per_vector(spark, sf_dir, monkeypatch):
    """pq_knn's unit vectors divide by a norm computed outside any
    lambda: a norm inside transform's lambda is one fold per
    element."""
    monkeypatch.setattr(S, "VEC_LOCAL_MAX_ROWS", 0)  # distributed branch
    plan = plan_of(spark, "knn_pq", sf_dir)
    bodies = _lambda_bodies(plan)
    assert bodies
    assert not [b for b in bodies if "aggregate(" in b]


def _single_partition_exchanges_are_metadata_sized(plan: str):
    """Every Exchange SinglePartition must sit directly above a
    HashAggregate (the n_partitions-row count table in
    operators/rank.py) — never above the data relation itself."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            assert i + 1 < len(lines) and "HashAggregate" in lines[i + 1], (
                "single-partition exchange over non-aggregate input:\n"
                + "\n".join(lines[max(0, i - 2):i + 3]))


def test_sort_multi_has_no_global_window(spark, sf_dir):
    """r5 VERDICT #3: the total-order rank must come from
    range-partitioned parallel sorts + broadcast offsets, not a
    partition-less window over the full relation."""
    plan = plan_of(spark, "sort_multi", sf_dir)
    # the data-relation window partitions by the range-partition id
    assert "windowspecdefinition(__grk_pid" in plan
    # the range exchange itself sits behind the rank machinery's
    # localCheckpoint (r9 boundary-consistency fix) — the visible
    # marker is the checkpointed scan carrying the partition id
    assert ("rangepartitioning(c_nationkey" in plan
            or "__grk_pid" in plan)
    # offsets attach by broadcast
    assert "BroadcastHashJoin" in plan
    _single_partition_exchanges_are_metadata_sized(plan)


def test_orders_rfm_has_no_global_ntile_window(spark, sf_dir):
    """r5 VERDICT #2: all three quintile scores ride the scale-safe
    rank machinery; no ntile() and no partition-less window exchange
    over the customer relation."""
    plan = plan_of(spark, "orders_rfm", sf_dir)
    assert "ntile" not in plan
    # the LAST rank pass's pid-partitioned window is visible; the two
    # earlier passes live behind its localCheckpoint boundary (r9:
    # each pass pins its range exchange so both branches see one set
    # of sampled boundaries), showing as a checkpointed __grk_pid scan
    assert plan.count("windowspecdefinition(__grk_pid") >= 1
    assert "__grk_pid" in plan
    _single_partition_exchanges_are_metadata_sized(plan)


def test_reservoir_weighted_is_take_ordered(spark, sf_dir):
    plan = plan_of(spark, "sample_reservoir_weighted", sf_dir)
    # global weighted top-k = per-partition heaps, never a total sort
    assert "TakeOrderedAndProject" in plan


def test_bloom_prefilter_is_codegen_filter(spark, sf_dir):
    plan = plan_of(spark, "join_bloom_prefilter", sf_dir)
    # the membership probe is a pure-JVM filter: no Python evaluation
    # anywhere, and the fact side joins broadcast (the dim side is a
    # filtered month)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_cms_estimate_broadcasts_sketch(spark, sf_dir):
    plan = plan_of(spark, "agg_cms_portable", sf_dir)
    # the d*w counter relation joins as a broadcast, and the probe
    # keys ride TakeOrderedAndProject (top-20, no global sort)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_range_frame_is_single_window_pass(spark, sf_dir):
    plan = plan_of(spark, "win_range_frame", sf_dir)
    # the 90-day frame is a RANGE window accumulator, not a
    # self-join materialization of the neighborhood
    assert re.search(r"RangeFrame, -90, currentrow", plan)
    assert "Join" not in plan
    # one exchange: the per-customer hash partitioning
    assert plan.count("Exchange hashpartitioning") == 1


def test_chunk_cdc_boundary_stage_is_narrow(spark, sf_dir):
    plan = plan_of(spark, "dedup_chunk_cdc", sf_dir)
    # the x-len candidate-position explode must stay in front of any
    # exchange: the scan->explode->hash->filter pipeline is narrow,
    # and only boundary rows shuffle. Generate/Explode therefore
    # appears BELOW the first Exchange in the plan tree (plan strings
    # print root first, so the explode must come after an exchange
    # line textually but share its subtree) — pin the cheap proxy:
    # no Python eval, and the explode exists at all.
    assert "Generate explode" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_abc_pareto_running_sum_is_range_partitioned(spark, sf_dir):
    """The Pareto cumulative total rides with_global_running_sum:
    range exchange + pid-partitioned window + broadcast offsets —
    never a partition-less running-sum window over the part
    relation."""
    plan = plan_of(spark, "orders_abc_pareto", sf_dir)
    assert "windowspecdefinition(__grk_pid" in plan
    assert ("rangepartitioning(rev_e4" in plan
            or "__grk_pid" in plan)
    assert "BroadcastHashJoin" in plan
    _single_partition_exchanges_are_metadata_sized(plan)


def test_phash_dedup_join_ships_hashes_not_pixels(spark, sf_dir):
    """The Hamming join's shuffle carries (doc_id, simhash, chunk)
    rows only — the binary payload column must be projected away
    before any exchange."""
    plan = plan_of(spark, "multimodal_phash_dedup", sf_dir)
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange hashpartitioning" in ln:
            assert "payload" not in ln, ln


def test_hybrid_rrf_legs_are_take_ordered(spark, sf_dir):
    """Both retrieval legs must keep their top-k as per-partition
    heaps (TakeOrderedAndProject) and the corpus stats must attach by
    broadcast — a global sort in either leg would be the scale bug."""
    plan = plan_of(spark, "knn_hybrid_rrf", sf_dir)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]


def test_sliding_bitmap_fans_out_compressed_relation(spark, sf_dir):
    """The 7-day fan-out (explode) must sit ABOVE the daily bitmap
    aggregate — i.e. the generator's input is the aggregated (day,
    word, mask) relation, never raw events."""
    plan = plan_of(spark, "events_sliding_distinct_bitmap", sf_dir)
    gen = plan.index("Generate explode")
    agg_before = plan.index("HashAggregate", gen)
    assert agg_before > gen  # an aggregate appears below the generator
    # and the raw value/props columns never reach the generator's input
    gen_line = [l for l in plan.splitlines()
                if "Generate explode" in l][0]
    assert "props" not in gen_line and "value" not in gen_line


def test_decay_score_is_single_agg_pass(spark, sf_dir):
    """The decay weight folds into the projection: one scan of
    events on the scoring side, partial+final hash agg, 1-row
    reference day by broadcast — no window, no extra shuffle."""
    plan = plan_of(spark, "events_decay_score", sf_dir)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_codec_decode_queries_are_shuffle_free_narrow_maps(spark, sf_dir):
    """The multimodal decode/resize family's scale claim: one
    Arrow-batched mapInPandas stage with NO payload shuffle — the
    only permissible exchange is the round-robin rebalance of the
    bare doc_id column (_spread_ids: single-row-group bench inputs
    would otherwise run the whole codec stage on one core; at scale
    the file count provides the parallelism and payloads still never
    cross the wire)."""
    for name in ("multimodal_decode_png", "multimodal_decode_jpeg",
                 "multimodal_frame_sample", "multimodal_thumbnail"):
        plan = plan_of(spark, name, sf_dir)
        assert "Exchange hashpartitioning" not in plan, name
        assert "Exchange rangepartitioning" not in plan, name
        assert plan.count("Exchange roundrobinpartitioning") <= 1, name
        assert "MapInPandas" in plan, name
        # the exchange carries doc_id alone, never payload bytes
        for ln in plan.splitlines():
            if "Exchange roundrobinpartitioning" in ln:
                assert "payload" not in ln, (name, ln)


def test_tpch_q17_decorrelates_to_agg_joinback(spark, sf_dir):
    """The correlated scalar-aggregate subquery must run as ONE
    per-partkey aggregate joined back, never a per-row subquery."""
    plan = plan_of(spark, "sql_api_tpch_q17", sf_dir)
    assert "HashAggregate" in plan and "avg(l_quantity" in plan
    assert "ScalarSubquery" not in plan


def test_tpch_q4_exists_plans_semi_join(spark, sf_dir):
    plan = plan_of(spark, "sql_api_tpch_q4", sf_dir)
    assert "LeftSemi" in plan
    # quarter filter reaches the orders scan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)


def test_tpch_q22_anti_join_and_no_driver_scalar(spark, sf_dir):
    """NOT EXISTS -> LeftAnti; the global-average threshold stays a
    plan-side subquery result, executed once."""
    plan = plan_of(spark, "sql_api_tpch_q22", sf_dir)
    assert "LeftAnti" in plan
    # exactly one distinct scalar subquery, shared by every reference
    ids = set(re.findall(r"Subquery subquery#(\d+)", plan))
    assert len(ids) == 1, ids
    # and it even reaches the customer scan as a pushed filter
    assert "GreaterThan(c_acctbal,ScalarSubquery" in plan


def test_tpch_q15_argmax_scalar_and_pushed_quarter(spark, sf_dir):
    """The revenue view's max is a single broadcast scalar subquery
    (never a driver round-trip) and the quarter filter reaches the
    lineitem scan."""
    plan = plan_of(spark, "sql_api_tpch_q15", sf_dir)
    assert len(set(re.findall(r"Subquery subquery#(\d+)", plan))) == 1
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    assert "BroadcastHashJoin" in plan


def test_tpch_q6_all_filters_pushed_no_join(spark, sf_dir):
    """Q6 is the canonical pushdown benchmark: every predicate
    (ship-year range, discount band, quantity cap) must reach the
    parquet scan, and the plan is scan -> agg, nothing else."""
    plan = plan_of(spark, "sql_api_tpch_q6", sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert re.search(rf"PushedFilters: \[[^\]]*{col}", plan), col
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_tpch_q8_star_broadcasts_every_dim(spark, sf_dir):
    """Q8's eight-way star: part (post p_type pushdown), supplier,
    customer, both nation aliases and region all broadcast; no
    sort-merge join; numerator+denominator come out of one agg."""
    plan = plan_of(spark, "sql_api_tpch_q8", sf_dir)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 6
    assert re.search(r"PushedFilters: \[[^\]]*p_type", plan)


def test_tpch_q9_name_filter_pushed_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, "sql_api_tpch_q9", sf_dir)
    assert "SortMergeJoin" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*p_name", plan) \
        or "StartsWith" in plan or "Contains" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_tpch_q12_date_residual_single_join(spark, sf_dir):
    """The 60-day lateness comparison is a RESIDUAL on the orderkey
    equi-join — the plan must stay a hash join (never nested-loop)
    with the ship-year pushed to the lineitem scan."""
    plan = plan_of(spark, "sql_api_tpch_q12", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)


def test_tpch_q16_null_aware_anti_and_distinct_bridge(spark, sf_dir):
    """NOT IN over a nullable-free subquery must plan as an anti
    join against the broadcast 6-row supplier exclusion, and the
    rebuilt partsupp bridge is ONE distinct aggregation."""
    plan = plan_of(spark, "sql_api_tpch_q16", sf_dir)
    assert "LeftAnti" in plan
    assert re.search(r"PushedFilters: \[[^\]]*p_size", plan) \
        or "In(p_size" in plan
    assert "CartesianProduct" not in plan


def test_pack_context_windows_no_single_partition_sort(spark, sf_dir):
    """The global token cumsum must come from the range-partition +
    broadcast-offsets machinery — a data-sized Exchange
    SinglePartition (the naive global window) is the scale bug this
    op exists to avoid. The only SinglePartition allowed is the
    metadata-sized per-partition offset table (≤ shuffle.partitions
    rows)."""
    plan = plan_of(spark, "corpus_pack_context_windows", sf_dir)
    # the range exchange sits behind the running-sum machinery's
    # localCheckpoint (one materialization serves both branches);
    # its partition-id column in the checkpointed scan is the marker
    assert ("Exchange rangepartitioning" in plan
            or "__grk_pid" in plan)
    # the offsets table aggregates per partition id BEFORE its
    # single-partition window — the data-sized relation never sees one
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in ln:
            tail = "\n".join(plan.splitlines()[i:i + 6])
            assert "HashAggregate" in tail or "hashpartitioning" in tail


def test_tpch_q2_decorrelated_min_and_broadcast_dims(spark, sf_dir):
    """Q2's correlated scalar-MIN subquery must decorrelate to a
    per-partkey aggregate joined back (the Q17 machinery) — never a
    per-row subquery or nested loop — with the dimension tables
    broadcast and the size/type filters pushed to the part scan."""
    plan = plan_of(spark, "sql_api_tpch_q2", sf_dir)
    assert "ScalarSubquery" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert re.search(r"PushedFilters: \[[^\]]*p_size", plan) \
        or "EqualTo(p_size" in plan
    assert "TakeOrderedAndProject" in plan


def test_training_batches_one_scan_per_stage_family(spark, sf_dir):
    """The composed tokenizer pipeline must scan the corpus parquet
    once per stage family: the word-count scan is localCheckpointed
    (the trainer, id rank, and offsets all read the checkpoint — it
    never reappears as a parquet scan), so the FINAL plan carries
    exactly ONE parquet scan (the Arrow encode over documents) and
    one Python stage; the only data-sized join after encode is
    encode⋈offsets (AQE-decided, no hint)."""
    plan = plan_of(spark, "corpus_to_training_batches", sf_dir)
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert plan.count("MapInPandas") == 1
    # the encode side must not be re-shuffled before the offsets
    # join: no Exchange sits between MapInPandas and the join on the
    # enc branch (broadcast at test scale; hash at 100 TB is the one
    # shuffle the formulation genuinely needs)
    assert "SortMergeJoin" not in plan


def test_tpch_q2_ps_bridge_built_once(spark, sf_dir):
    """The ps CTE (lineitem-derived partsupp bridge) is consumed
    twice — the outer join tree and the decorrelated MIN — which
    statically plans TWO lineitem aggregations. Exchange reuse must
    collapse them so the bridge is built once (the docstring's
    claim); without this pin a Spark upgrade could silently double
    the most expensive aggregation in the query (r10 verdict #7)."""
    df = e.queries()["sql_api_tpch_q2"](spark, sf_dir)
    df.collect()  # AQE finalizes the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_window_doc_starts_never_touches_encode(spark, sf_dir):
    """The attention-reset mask is DOC-SIZED by design: its plan must
    contain no Python stage (the corpus-token-sized Arrow encode
    never enters) — only the vocabulary-sized subword-count agg and
    the range running-sum offsets."""
    plan = plan_of(spark, "corpus_window_doc_starts", sf_dir)
    assert "MapInPandas" not in plan
    assert "mapInPandas" not in plan


def test_window_ids_sep_one_encode_pass(spark, sf_dir):
    """The separator variant must not re-encode: exactly one Python
    stage (the gated Arrow encode), and the separator rows come from
    the doc-sized count relation, not a second corpus pass — at most
    one parquet scan in the final plan (checkpoints cover the rest)."""
    jplan = _input_plan(spark, "corpus_context_window_ids_sep", sf_dir)
    assert _jnode_count(jplan, "MapInPandas") == 1
    leaves = jplan.collectLeaves()
    scan_leaves = [leaves.apply(i).nodeName()
                   for i in range(leaves.size())
                   if "Scan parquet" in leaves.apply(i).nodeName()]
    assert len(scan_leaves) <= 1, scan_leaves


def test_tpch_q20_semi_join_chain_decorrelated(spark, sf_dir):
    """Q20's nested IN chain must plan as semi joins and the
    correlated one-year SUM subquery as a decorrelated aggregate
    join-back; the part name prefix reaches the part scan."""
    plan = plan_of(spark, "sql_api_tpch_q20", sf_dir)
    assert "LeftSemi" in plan
    assert "ScalarSubquery" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert re.search(r"PushedFilters: \[[^\]]*p_name", plan) \
        or "StartsWith(p_name" in plan


def test_context_window_view_no_extra_shuffle(spark, sf_dir):
    """The window-view explode must ride the SAME range-partitioned
    running-sum relation as corpus_pack_context_windows — no new
    data-sized exchange appears after it (the explode is narrow),
    and the per-doc fan-out is a bounded sequence(), never a join
    against a windows relation."""
    plan = plan_of(spark, "corpus_context_window_view", sf_dir)
    assert ("Exchange rangepartitioning" in plan
            or "__grk_pid" in plan)
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan
    # the only join allowed is the machinery's broadcast offset
    # attach — never a shuffled join against a windows relation
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in ln:
            tail = "\n".join(plan.splitlines()[i:i + 6])
            assert "HashAggregate" in tail or "hashpartitioning" in tail


def _stream_progress_and_plan(spark, stream_df, name, mode):
    """Replay availableNow into a memory sink; return (lastProgress,
    physical plan string) — the streaming analogue of plan_of (a
    streaming DF has no executedPlan until started)."""
    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    assert q.awaitTermination(300), f"{name} replay timed out"
    return q.lastProgress, q._jsq.explainInternal(True)


def test_stream_latest_state_bounded_state_no_global_sort(spark, sf_dir):
    """State-store pin (r9 VERDICT #7): the CDC snapshot's state is
    exactly |keys| rows (one per user — max_by upsert, never an
    event buffer), one stateful operator per stream, and no
    per-batch global sort."""
    from project_2_semantic_similarity_spark.streaming import ops as S

    ev = S.read_events_stream(spark, S.stage_events_dir(sf_dir))
    snap = (ev.groupBy("user_id")
            .agg(F.max_by(F.struct("event_id", "ts"),
                          F.struct("ts", "event_id")).alias("s")))
    prog, plan = _stream_progress_and_plan(
        spark, snap, "pin_latest_state", "complete")
    n_users = (spark.read.parquet(S.stage_events_dir(sf_dir))
               .select("user_id").distinct().count())
    ops = prog["stateOperators"]
    assert len(ops) == 1, ops
    assert ops[0]["numRowsTotal"] == n_users, (ops, n_users)
    assert not re.search(r"Sort \[[^\]]*\], true", plan)


def test_stream_bitmap_distinct_state_is_day_word_rows(spark, sf_dir):
    """State-store pin (r9 VERDICT #7): the daily-distinct bitmap's
    state is the compressed day x word relation (domain/64 words per
    day), never per-event or per-user rows; one stateful operator;
    no per-batch global sort."""
    from project_2_semantic_similarity_spark.streaming import ops as S

    ev = S.read_events_stream(spark, S.stage_events_dir(sf_dir))
    prog, plan = _stream_progress_and_plan(
        spark, S.bitmap_distinct_daily(ev), "pin_bitmap_distinct",
        "complete")
    batch = spark.read.parquet(S.stage_events_dir(sf_dir))
    day_words = (batch.select(
        F.date_format(F.date_trunc(
            "day", F.col("ts").cast("timestamp")), "yyyy-MM-dd")
         .alias("day"),
        F.floor(F.col("user_id") / 64).alias("word"))
        .distinct().count())
    n_events = batch.count()
    ops = prog["stateOperators"]
    assert len(ops) == 1, ops
    assert ops[0]["numRowsTotal"] == day_words, (ops, day_words)
    assert ops[0]["numRowsTotal"] < n_events / 4
    assert not re.search(r"Sort \[[^\]]*\], true", plan)


def test_tpch_q11_scalar_threshold_plan_side(spark, sf_dir):
    """Q11's national-total threshold must be ONE plan-side scalar
    subquery broadcast into the HAVING filter (never a driver
    round-trip or per-group re-execution), dims broadcast, and the
    value sum arrives in integer cents x quantity units (one
    HashAggregate on l_partkey — no Window, no sort before the
    final order)."""
    plan = plan_of(spark, "sql_api_tpch_q11", sf_dir)
    ids = set(re.findall(r"Subquery subquery#(\d+)", plan))
    assert len(ids) == 1, ids
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_bpe_vocab_fold_staged_before_rank(spark, sf_dir):
    """Regression pin for the r10 fold-staging fix (SCALE.md): the
    32-lambda fold tree must be MATERIALIZED (localCheckpoint) before
    with_global_rank consumes it — un-staged, the rank exchange's
    double read re-planned the fold + corpus explode into every
    branch (40 s at sf0.1; 30 cores for minutes at 2M docs). The
    returned plan must read only checkpointed scans: no lambda
    expressions, no parquet re-scan."""
    plan = plan_of(spark, "text_bpe_vocab", sf_dir)
    assert "ExistingRDD" in plan          # checkpointed words+vocab
    assert "LocalTableScan" in plan       # the driver-built specials
    assert "lambdafunction" not in plan   # fold ran inside the stage
    assert "FileScan" not in plan         # corpus never re-read


def test_no_hard_broadcast_hint_on_vocab_relation(spark, sf_dir,
                                                  monkeypatch):
    """r11 VERDICT #1: the distinct-word vocabulary is Heaps'-law
    sized (10^8-10^9 rows on a 100 TB crawl, per the tokenizer-family
    docstrings' own analysis) — a hard F.broadcast hint bypasses
    autoBroadcastJoinThreshold entirely, so past broadcast reach the
    query dies building the broadcast before any strategy gate runs.
    Source pin: NO tokenizer-family query hints the vocab join (AQE
    broadcasts under threshold, shuffle-joins past it — the policy
    the unhinted encode-side joins already follow). Runtime pin: at
    toy scale AQE still picks the broadcast, so dropping the hint
    changes nothing where the hint used to be valid."""
    import project_2_semantic_similarity_spark.operators.text as ot
    import project_2_semantic_similarity_spark.plans.q_text as qt
    import project_2_semantic_similarity_spark.plans.q_textlab as q

    with open(q.__file__) as fh:
        src = fh.read()
    for hinted in ("join(F.broadcast(vocab)",
                   "join(F.broadcast(dwords)",
                   "join(F.broadcast(words)"):
        assert hinted not in src, f"hard vocab broadcast hint: {hinted}"
    # q_text: the PMI per-term df table is the same Heaps'-law class
    with open(qt.__file__) as fh:
        assert "join(F.broadcast(tf" not in fh.read()
    # checkpointed-vocab sites route through the MEASURED-count gate
    # (vocab_join) — the hint comes back only under a cache.gate
    # probe, never unconditionally
    assert "vocab_join(" in src  # the sites actually use it

    df = e.queries()["text_bpe_tokenize"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # gated site, runtime pin: under the probe bound the gate must
    # yield a STATIC broadcast join over the checkpointed leaves —
    # not AQE's shuffle-then-convert (both map stages paid first;
    # the 1.5-2x sf0.1 regression BENCH_TRIAGE r13 bisected). Build
    # the exact site shape: two LogicalRDD (localCheckpoint) inputs,
    # whose unknown size stats are why the unhinted static plan was
    # SMJ in the first place.
    from pyspark.sql import functions as F

    from project_2_semantic_similarity_spark.operators.cache import gate
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_word_tokens, vocab_join)
    from project_2_semantic_similarity_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("cnt"))
             ).localCheckpoint()
    vocab = bpe_word_tokens(words.select("word").distinct()
                            ).localCheckpoint()
    gated = []

    def recording_gate(slot, key, rows, bound):
        gated.append(rows)
        return gate(slot, key, rows, bound)

    monkeypatch.setattr(ot, "gate", recording_gate)
    jplan = (vocab_join(words, vocab)
             ._jdf.queryExecution().executedPlan().toString())
    # pin the probe so an edit can't quietly turn the gate into a
    # hard hint again
    assert len(gated) == 1 and gated[0] is vocab
    # unexecuted plan (isFinalPlan=false): a BroadcastHashJoin HERE
    # is the static planner's decision, not an AQE conversion
    assert "BroadcastHashJoin" in jplan
    assert "SortMergeJoin" not in jplan


def test_shuffle_windows_rank_rides_range_machinery(spark, sf_dir):
    """The permutation's global rank must ride with_global_rank's
    range partitioning (__grk_pid in every row_number window spec),
    never a single-partition data-sized window; the window-id set
    comes from checkpointed doc-sized relations (no parquet re-scan,
    no cartesian)."""
    plan = plan_of(spark, "corpus_shuffle_windows", sf_dir)
    assert "__grk_pid" in plan
    rn_specs = [ln for ln in plan.splitlines()
                if "row_number() windowspecdefinition" in ln]
    assert rn_specs and all("__grk_pid" in ln for ln in rn_specs)
    assert "Scan parquet" not in plan
    assert "CartesianProduct" not in plan


def test_byte_encode_is_single_arrow_stage(spark, sf_dir):
    """Byte-level encode keeps text_bpe_encode_ids' plan contract:
    exactly ONE Python stage (the gated Arrow encode over the mapped
    docs) and ONE parquet scan — the byte mapping is a narrow
    projection on that scan, not an extra pass, and the deterministic
    id table joins nothing at this strategy (collected into the
    broadcast word->ids map)."""
    plan = plan_of(spark, "text_bpe_encode_bytes", sf_dir)
    assert plan.count("MapInPandas") == 1
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert "SortMergeJoin" not in plan


def test_byte_trainer_plan_reads_checkpoints_only(spark, sf_dir):
    """The byte trainer's returned merge table is a union of
    checkpointed 1-row argmax relations: the corpus parquet must not
    reappear in the final plan (the byte mapping ran inside the
    vocabulary-sized pre-trainer stage), and no fold lambda leaks
    into the output plan."""
    plan = plan_of(spark, "text_bpe_train_bytes", sf_dir)
    assert "FileScan" not in plan and "Scan parquet" not in plan
    assert "lambdafunction" not in plan
    assert plan.count("ExistingRDD") >= 10


def test_bpe_decode_one_scan_one_arrow_one_docid_exchange(spark, sf_dir):
    """Decode keeps the encode family's plan contract and adds
    exactly one shuffle: ONE parquet scan (the Ġ-marked projection
    rides it), ONE Python stage (the gated Arrow encode — decode
    itself is pure JVM), the id->token join a BROADCAST (the table
    is merge-bounded at any corpus size), and the per-doc collect
    agg as the single added exchange. No sort-merge join, no global
    sort."""
    plan = plan_of(spark, "text_bpe_decode", sf_dir)
    assert plan.count("MapInPandas") == 1
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "collect_list" in plan
    # global sort would be a Sort outside the agg; array_sort is an
    # expression, not an operator
    assert not any(ln.strip().startswith("+- Sort ")
                   or ln.strip().startswith(":- Sort ")
                   for ln in plan.splitlines())


def test_wordpiece_is_vocab_sized_arrow_unhinted_join(spark, sf_dir):
    """The greedy matcher must run over the DISTINCT-word relation
    (one MapInPandas, input side vocabulary-sized), with the join
    back to per-doc counts UNHINTED — AQE picks broadcast at toy
    scale (runtime pin), and the source audit keeps the hint out."""
    import project_2_semantic_similarity_spark.plans.q_textlab as q

    with open(q.__file__) as fh:
        assert "wordpiece_word_tokens(F.broadcast" not in fh.read()
    df = e.queries()["text_wordpiece_tokenize"](spark, sf_dir)
    df.collect()
    jplan = df._jdf.queryExecution().executedPlan()
    # exactly one Python stage in the (cache-substituted) physical
    # tree — string counting breaks when a shared cached slot or a
    # completed broadcast stage prints in its own AQE section
    assert _jnode_count(jplan.inputPlan(), "MapInPandas") == 1
    plan = jplan.toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final


def test_unigram_train_seed_topk_is_take_ordered(spark, sf_dir):
    """The trainer's seed selection runs over the Heaps'-law-sized ×
    fan-out substring relation, so it must plan as
    TakeOrderedAndProject (per-partition top-K + K-row driver merge),
    NEVER a single-partition global window; the two E-steps are two
    Arrow stages over distinct words; the output-rank window is over
    the VOCAB_K-bounded collected relation only (no data-sized
    window partitioning)."""
    from project_2_semantic_similarity_spark.plans.q_textlab import (
        text_unigram_train)

    df = text_unigram_train(spark, sf_dir)
    df.collect()  # AQE finalizes (both join sides are K-bounded)
    plan = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    # the final plan holds the LAST E-step (one Arrow stage) plus the
    # bounded createDataFrame⋈recount join; earlier stages ran at
    # build time through TakeOrderedAndProject collects
    assert "MapInPandas" in plan
    # the output join is between two ≤(K+alphabet)-row relations —
    # AQE must resolve it to a broadcast, never a corpus exchange
    assert "SortMergeJoin" not in plan


def test_pca_power_single_arrow_stage_no_shuffle_of_vectors(
        spark, sf_dir):
    """embedding_pca_power's distributed portion is ONE Arrow
    mapInPandas over the embeddings scan followed by a d²-bounded
    hash agg — vectors never shuffle (the shuffled rows are the d²
    partials), and the returned result is a local relation (the
    iteration ran on the collected d² matrix)."""
    from project_2_semantic_similarity_spark.plans.q_knn import (
        embedding_pca_power)

    df = embedding_pca_power(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the RESULT is driver-built 64 rows: a LocalTableScan
    assert "LocalTableScan" in plan
    assert "Scan parquet" not in plan
    assert "Exchange" not in plan


def test_epoch_mix_corpus_never_shuffles(spark, sf_dir):
    """corpus_epoch_mix: the per-source rate relation is the BOUNDED
    entity dimension — its join back over the corpus must be a
    broadcast hash join (AQE under threshold), and the corpus side
    must carry no Exchange besides the tiny rate aggregation."""
    from project_2_semantic_similarity_spark.plans.q_sampling import (
        corpus_epoch_mix)

    df = corpus_epoch_mix(spark, sf_dir)
    df.collect()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_c4_span_stage_is_partitioned_window_single_shuffle(
        spark, sf_dir):
    """text_c4_filters: the span-dedup window must be PARTITIONED by
    span key (never a no-partition global window), and the rule
    columns stay codegen'd (no PythonUDF / BatchEvalPython in the
    plan)."""
    from project_2_semantic_similarity_spark.plans.q_quality import (
        text_c4_filters)

    df = text_c4_filters(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan
    # Window node format: `Window [funcs], [partitionSpec], [order]`
    # — parse the SECOND bracket (r12 ADVICE: the old
    # "'partitionBy' not in seg" check was vacuous, the literal
    # never appears in executedPlan strings) and require a
    # non-empty partition spec referencing the span key sk.
    import re as _re
    win_nodes = _re.findall(
        r"Window \[.*?\], \[([^\]]*)\], \[", plan)
    assert win_nodes, "no Window node found in the c4 plan"
    for spec in win_nodes:
        assert spec.strip(), "no-partition global window in c4 plan"
        assert _re.search(r"\bsk#\d+", spec), spec


def test_interpolate_two_frames_one_sort(spark, sf_dir):
    """win_interpolate_linear: both direction frames must ride ONE
    per-user sort — a single Exchange hashpartitioning(user_id) and
    no self-join."""
    from project_2_semantic_similarity_spark.plans.q_analytics import (
        win_interpolate_linear)

    df = win_interpolate_linear(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_gif_decode_zero_shuffle(spark, sf_dir):
    """multimodal_decode_gif: decode is narrow — payload generation
    and decode are Arrow stages over one scan, with no Exchange
    anywhere (pixels never shuffle)."""
    from project_2_semantic_similarity_spark.plans.q_knn import (
        multimodal_decode_gif)

    df = multimodal_decode_gif(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan or plan.count(
        "Exchange hashpartitioning") == 0


def test_inverted_postings_serve_prunes_to_one_bucket(spark, sf_dir):
    """sink_inverted_postings: the serve scan must carry the query
    term's bucket as a STATIC PartitionFilter (literal known before
    planning — no DPP machinery), so files_read < files_total and
    only 1/_POSTINGS_BUCKETS directories are touched."""
    import glob as _glob
    import hashlib as _hashlib

    from project_2_semantic_similarity_spark.plans.q_text import (
        _POSTINGS_BUCKETS, FLAGSHIP_QUERY_TERM, sink_inverted_postings)
    from project_2_semantic_similarity_spark.scratch import scratch_path

    df = sink_inverted_postings(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    # the layout on disk really is one directory per bucket, and the
    # query term's postings live in exactly one of them
    out = scratch_path(
        f"{sf_dir.strip('/').replace('/', '_')}_postings_layout")
    dirs = sorted(_glob.glob(f"{out}/bucket=*"))
    assert 2 <= len(dirs) <= _POSTINGS_BUCKETS
    qb = int(_hashlib.md5(FLAGSHIP_QUERY_TERM.encode())
             .hexdigest()[:4], 16) % _POSTINGS_BUCKETS
    assert any(d.endswith(f"bucket={qb}") for d in dirs)
    rows = df.collect()
    assert 0 < len(rows) <= 10
    # serve result equals the layout-free computation
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F
    postings = (docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") == FLAGSHIP_QUERY_TERM)
        .groupBy("doc_id").agg(F.count("*").alias("tf")))
    want = {r.doc_id: r.tf for r in postings.collect()}
    for r in rows:
        assert want[r.doc_id] == r.tf
        assert r.df == len(want)


def test_lpa_rounds_read_checkpoints_no_cartesian(spark, sf_dir):
    """graph_label_propagation: each round's vote join is an
    equi-join on node id (never a cartesian / nested-loop over the
    graph), and the final plan reads the per-round localCheckpoint
    (lineage truncated — the plan does not re-derive three rounds of
    joins from the parquet scan)."""
    from project_2_semantic_similarity_spark.plans.q_analytics import (
        graph_label_propagation)

    df = graph_label_propagation(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan       # checkpointed final round
    assert "Scan parquet" not in plan       # lineage truncated


def test_range_search_broadcast_gate(spark, sf_dir, monkeypatch):
    """knn_range_search: under the measured bound the query block is
    a broadcast nested-loop (one corpus scan, no shuffle); PAST the
    bound (forced by a zero RANGE_BROADCAST_Q_MAX) there must be NO
    broadcast of the query relation and NO cartesian — the plan
    switches to the sign-LSH candidate equi-join on (table_id,
    bucket)."""
    from pyspark.sql import functions as F

    from project_2_semantic_similarity_spark.operators import (
        similarity as S)
    from project_2_semantic_similarity_spark.operators.similarity import (
        cosine_range_search)
    from project_2_semantic_similarity_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") % 100 == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))

    under = cosine_range_search(e, q, 0.25)
    p_under = under._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p_under

    monkeypatch.setattr(S, "RANGE_BROADCAST_Q_MAX", 0)
    over = cosine_range_search(e, q, 0.25)
    p_over = over._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p_over
    assert "CartesianProduct" not in p_over
    # candidate generation is the bucket-local equi-join
    assert "table_id" in p_over and "bucket" in p_over

    # the LSH path keeps exact PRECISION (no false positives): every
    # returned pair satisfies the threshold re-check, and the pair
    # set is a subset of the exact path's
    exact = {(r.query_id, r.vec_id, round(r.cosine, 6))
             for r in under.collect()}
    approx = {(r.query_id, r.vec_id, round(r.cosine, 6))
              for r in over.collect()}
    assert approx <= exact
    assert len(approx) > 0  # non-degenerate recall at test scale


def test_time_weighted_avg_single_exchange(spark, sf_dir):
    """events_time_weighted_avg: the lead() window and the per-user
    agg must SHARE one user_id exchange (Catalyst partitioning
    reuse) — a second exchange means the agg lost the window's
    partitioning."""
    plan = plan_of(spark, "events_time_weighted_avg", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_exponential_histogram_is_pure_agg(spark, sf_dir):
    """events_histogram_exponential: projection + one partial+final
    hash agg pair — no window, no join, no Python (the mergeable-
    sketch property depends on it being a plain grouped count)."""
    plan = plan_of(spark, "events_histogram_exponential", sf_dir)
    assert "HashAggregate" in plan
    assert "partial_count" in plan  # map-side combine
    assert "Window" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_bmp_decode_zero_shuffle(spark, sf_dir):
    """multimodal_decode_bmp: one scan, Arrow stages, no DATA
    shuffle — the only allowed exchange is _spread_ids' round-robin
    of narrow doc_id rows BEFORE payloads exist (pixels never
    shuffle; the gif pin's rule)."""
    plan = plan_of(spark, "multimodal_decode_bmp", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("MapInPandas") >= 1


def test_bmp_rgb_decode_zero_shuffle(spark, sf_dir):
    """multimodal_decode_bmp_rgb (r14): the truecolor/RLE4 layouts
    keep the identical codec plan shape — one scan, Arrow stages,
    no DATA shuffle (pixels never shuffle; the gif pin's rule)."""
    plan = plan_of(spark, "multimodal_decode_bmp_rgb", sf_dir)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("MapInPandas") >= 1


def test_semdedup_size_gated_pair_branches(spark, sf_dir):
    """dedup_semdedup (r14, r13 verdict #7): the pair stage is a
    per-cluster dataflow gate — an exact within-cluster join for
    clusters under the bound UNIONed with a sign-LSH
    bucket-representative branch for oversized ones (posexplode
    over the bucket tables + a rank-1 window per bucket), with
    cluster sizes broadcast back onto the assignment. Never a
    cartesian product; the codebook assignment stays broadcast."""
    plan = plan_of(spark, "dedup_semdedup", sf_dir)
    assert "Union" in plan
    assert "Generate posexplode" in plan        # LSH branch present
    assert "row_number" in plan                 # rank-1 representative
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # size relation rides a broadcast join, not a shuffled one
    assert plan.count("BroadcastHashJoin") >= 1
