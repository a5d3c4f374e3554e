"""Physical-plan audits (SURVEY.md §4): the plans the 100 TB story
depends on must actually appear — pushdown reaching the parquet scan,
broadcasts for dimension joins, top-k instead of global sort, hash
join (not nested-loop) for theta joins, partial aggregation. A
regression here is a performance bug even while results stay correct.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from logdb_spark.registry import all_operators
from tests.conftest import SF_SMALL

OPS = all_operators()


def plan_of(spark, name: str, extended: bool = True) -> str:
    df = OPS[name].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted" if extended else "simple")
    return buf.getvalue()


def test_projection_pruning_reaches_scan(spark):
    plan = plan_of(spark, "scan_projection_pushdown")
    assert "ReadSchema" in plan
    # only the two selected columns reach the reader
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_predicate_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "scan_predicate_pushdown")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "GreaterThanOrEqual" in pushed


def test_dimension_joins_are_broadcast(spark):
    plan = plan_of(spark, "join_multiway_star")
    assert "BroadcastHashJoin" in plan
    # no shuffle-based join should survive for the small dimensions
    assert plan.count("BroadcastHashJoin") >= 3


def test_explicit_broadcast_hint_honored(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_theta_join_is_hash_not_nested_loop(spark):
    plan = plan_of(spark, "join_theta_range")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ntile_percent_has_no_single_partition_window(spark):
    """win_ntile_percent's global ranking must stay two-phase (bucket
    window + broadcast offsets): a bare Window.orderBy() would move all
    rows to one partition (VERDICT r3 #6)."""
    plan = plan_of(spark, "win_ntile_percent")
    window_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert window_lines, "expected a Window node"
    assert all("bucket" in l for l in window_lines), (
        "window must partition by the range bucket"
    )
    assert "Exchange SinglePartition" not in plan


def test_gini_has_no_single_partition_window(spark):
    """agg_gini_revenue's global rank must stay two-phase (VERDICT r4
    #2 — the r4 form ranked per-user totals through a partition-less
    Window, i.e. one executor sorts the whole user domain). Same
    machinery as win_ntile_percent via functions/ranking.py."""
    plan = plan_of(spark, "agg_gini_revenue")
    window_lines = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert window_lines, "expected a Window node"
    assert all("bucket" in l for l in window_lines), (
        "window must partition by the range bucket"
    )
    assert "Exchange SinglePartition" not in plan


def test_flagship_has_partial_aggregation(spark):
    plan = plan_of(spark, "agg_pricing_summary")
    # partial + final HashAggregate pair → map-side combine before shuffle
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: the bucket-aligned join must not
    shuffle either side."""
    from logdb_spark.operators.layout import bucketed_join_plan_df, sink_bucketed_join

    sink_bucketed_join(spark, SF_SMALL).count()  # creates the bucketed tables
    # Disable broadcast so the planner actually uses the bucket layout
    # (at fixture scale it would otherwise just broadcast the table;
    # at 100 TB neither side is broadcastable and bucketing is what
    # saves the shuffle).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join_plan_df(spark, SF_SMALL)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, "bucketed join must not shuffle"
    assert "Bucketed: true" in plan


# Deliberate pair/cross joins: tiny or broadcast-bounded by design.
NESTED_LOOP_ALLOWED = {
    "join_cross",  # 5×5 deliberate cross product
    "agg_heavy_hitters_twopass",  # 1-row certificate broadcast cross join
    "agg_hll_sketch_merge",  # 1-row × 1-row certificate combine
    "dedup_near_jaccard",  # exact O(n²) ground-truth path (broadcast)
    "dedup_ngram_jaccard",  # same pair kernel over bigram shingles
    # r13: the dedup composites' plans now EXPOSE the same deliberate
    # broadcast pair sweep — the localCheckpoint that used to hide the
    # subtree behind an RDD scan was replaced by a persist (the lazy
    # checkpoint blocked the driver ~1.7 s per call in eager planning).
    # Same sweep, same bound; it was always executing underneath.
    "dedup_cluster_assign",  # composite over the exact pair sweep
    "dedup_keep_best",  # composite over dedup_cluster_assign
    "sample_dedup_weights",  # composite over dedup_cluster_assign
    "sample_cluster_safe_split",  # composite over dedup_cluster_assign
    "text_clean_pipeline",  # composite over dedup_keep_best
    "sim_neighbor_stats_tiled",  # deliberate block-pair tile cross (nb² rows)
    "text_vocab_growth",  # 6-row broadcast k-ladder cross join
    "text_similar_docs_topk",  # exact pair sweep (broadcast nested loop) by design
    "dedup_embedding_cosine",  # exact O(n²) ground-truth path (broadcast)
    "sim_topk_cosine",  # 1-row probe broadcast
    "sim_batch_topk",  # 5-row probe-batch broadcast
    "sim_ann_lsh",  # 1-row probe broadcast
    "sim_ann_ivf",  # 1-row probe broadcast
    "stream_late_data",  # 1-row watermark scalar broadcast
    "sim_knn_join_label",  # K=10 centroid broadcast cross join
    "sim_centroid_affinity",  # 10-label centroid pair enumeration (broadcast)
    "sample_mixture_weights",  # 1-row corpus-totals broadcast
    "log_change_point",  # 1-row mean broadcast feeding the CUSUM fold
    "log_error_budget_burndown",  # 1-row budget broadcast
    "log_alert_suppress",  # 1-row spike-threshold broadcast
    "sim_mmr_diversify",  # 1-row probe broadcast + 8-row shortlist pair cross
    "text_containment_dedup",  # deliberate block-pair tile cross (gemm kernel)
    "text_containment_prefix_join",  # Σdf² routes to the same tile cross at fixture density
    "log_burstiness_fano",  # 5-row type relation broadcast onto the hour grid
    "sample_negative_pairs",  # 3-row j-fanout broadcast cross join
    "agg_histogram_equiheight",  # 1-row decile-boundary array broadcast
    "embed_kmeans_iterate",  # 1-row seed-codebook array broadcast
    "log_spike_attribution",  # 1-row threshold/totals broadcasts
    "agg_theta_sketch_setops",  # 1-row sketch-pair broadcast
    "agg_kll_quantile_merge",  # 1-row merged-sketch broadcast
    "sample_temporal_split",  # 1-row quantile-cutoff broadcast
    "embed_pq_codebook",  # 1-row PQ-codebook broadcast
    "sim_hybrid_rrf",  # 1-row probe broadcast
    "text_kl_divergence",  # 1-row vocab-totals broadcast
    "embed_matryoshka_recall",  # 10-row probe-batch broadcast
    "log_pagerank_influence",  # 1-row node-count broadcast into the rank loop
}


def test_no_accidental_cartesian_anywhere(built_ops):
    """Sweep EVERY operator's physical plan: nested-loop/cartesian
    joins may only appear where the algorithm deliberately scores
    pairs against a broadcast side."""
    offenders = []
    for name, (_schema, plan) in sorted(built_ops.items()):
        if name in NESTED_LOOP_ALLOWED or name == "sink_bucketed_join":
            continue
        if isinstance(plan, Exception):
            continue  # side-effecting ops covered elsewhere
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, f"unexpected nested-loop joins in: {offenders}"


def _untagged_driver_collects(source: str) -> list[int]:
    """Lines of the ``.collect(...)``/``.toPandas(...)`` calls in
    ``source`` whose attribute does not end on a line carrying a
    ``# driver-scalar:`` comment. Parsed, not grepped: the text inside
    a comment or a string is never a call."""
    import ast
    import io
    import tokenize

    tagged = {
        tok.start[0]
        for tok in tokenize.generate_tokens(io.StringIO(source).readline)
        if tok.type == tokenize.COMMENT and "# driver-scalar:" in tok.string
    }
    return sorted(
        node.func.end_lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("collect", "toPandas")
        and node.func.end_lineno not in tagged
    )


def test_driver_collect_guard_parses_calls():
    """The guard below flags real calls only, and reads the tag from
    the line where the call's attribute ends."""
    assert _untagged_driver_collects(
        'n = 1  # df.collect() in a comment\ns = "df.toPandas()"\n'
    ) == []
    assert _untagged_driver_collects("rows = df.collect()\n") == [1]
    assert _untagged_driver_collects(
        "rows = (\n"
        "    df.select('a')\n"
        "    .limit(3)\n"
        ").collect()  # driver-scalar: bounded by the limit\n"
    ) == []
    assert _untagged_driver_collects(
        "rows = (  # driver-scalar: on the wrong line\n"
        "    df.limit(3)\n"
        ").collect()\n"
    ) == [3]


def test_no_collect_in_operator_sources():
    """Operator bodies must not materialize datasets driver-side —
    .collect()/.toPandas() calls are forbidden in operator modules.
    Allowed exceptions, each a BOUNDED scalar/metadata transfer:
    .count() (the TF-IDF corpus size), and calls explicitly tagged
    ``# driver-scalar:`` on the line where the call's attribute ends
    (e.g. the 8-byte convergence checksum in dedup_cluster_assign's
    label-propagation loop) — the tag states why the transfer is
    O(1), and this test enforces that it's declared."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "logdb_spark"
    offenders = [
        f"{p}:{line}"
        for p in sorted(root.rglob("*.py"))
        for line in _untagged_driver_collects(p.read_text())
    ]
    assert not offenders, f"driver-side materialization in: {offenders}"


def test_skew_salted_join_parity(spark):
    """The hot-key skew demo (tools/skewbench.py): the salted join must
    return exactly the plain join's rows — salting is a physical
    rewrite, never a semantic one. ~50% of the replicated fact sits on
    ONE key here, so this also exercises the hot path itself."""
    from logdb_spark.operators.layout import (
        skewed_join_salted,
        skewed_join_unsalted,
    )

    a = sorted(map(tuple, skewed_join_unsalted(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, skewed_join_salted(spark, SF_SMALL).collect()))
    assert a and a == b


def test_sorted_parquet_rowgroups_are_time_clustered(spark):
    """sink_sorted_parquet's value is PHYSICAL: row-group min/max ts
    footer stats must form (near-)disjoint ranges so a time-range scan
    prunes row groups. Assert the stats exist (INT96 would carry none)
    and that the summed per-group spans ≈ the dataset span — an
    UNSORTED write makes every row group span the whole month, so the
    sum is ~n_groups × the dataset span and this fails."""
    import glob

    import pyarrow.parquet as pq

    from logdb_spark.operators.layout import sorted_parquet_write

    out_dir = sorted_parquet_write(spark, SF_SMALL, max_records_per_file=200)
    intervals = []
    for f in glob.glob(f"{out_dir}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        ts_idx = md.schema.names.index("ts")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ts_idx).statistics
            assert st is not None and st.min is not None, (
                "row group lacks ts min/max stats — pruning impossible"
            )
            intervals.append((st.min, st.max))
    assert len(intervals) >= 2, "expected multiple row groups"
    total = (
        max(hi for _, hi in intervals) - min(lo for lo, _ in intervals)
    ).total_seconds()
    assert total > 20 * 86400  # dataset really spans ~a month
    summed = sum((hi - lo).total_seconds() for lo, hi in intervals)
    assert summed <= 1.1 * total, (
        f"row-group ranges overlap {summed/total:.1f}× the dataset span — "
        "not time-clustered"
    )


def test_partition_pruned_scan_filters_at_listing(spark):
    """scan_partition_pruned's single-day filter must resolve as a
    PartitionFilter on the readback scan (file-listing pruning), not
    as a post-scan row filter."""
    plan = plan_of(spark, "scan_partition_pruned")
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines, "no PartitionFilters in the pruned readback plan"
    assert any("event_date" in l for l in part_lines)


def test_dynamic_partition_pruning_fires(spark):
    """scan_dynamic_partition_pruning's fact scan must carry a RUNTIME
    partition filter (dynamicpruning expression fed by the broadcast
    dim) — without it the op reads every day's files and the scale
    claim is false."""
    plan = plan_of(spark, "scan_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower(), (
        "no DynamicPruningExpression in the fact scan"
    )


def test_oov_vocab_join_is_broadcast(spark):
    """text_oov_rate's scale claim: the vocabulary joins the token
    stream as a broadcast — the token side must never shuffle into a
    sort-merge join."""
    plan = plan_of(spark, "text_oov_rate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_has_no_global_sort(spark):
    """sample_stratified_topk ranks within the lang stratum — a
    single-partition global Sort would be the scale-killer."""
    df = OPS["sample_stratified_topk"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # window sort is fine (partition-local after hash exchange on lang);
    # a global Sort with no partitioning shows as Exchange SinglePartition
    assert "SinglePartition" not in plan


def test_bloom_prefilter_is_all_broadcast(spark):
    """join_bloom_prefilter's joins (bloom words + exact verify) must
    both broadcast — the fact side shuffles only for the final
    aggregate, never for a join."""
    plan = plan_of(spark, "join_bloom_prefilter")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_chunk_splitter_is_map_only(spark):
    """text_chunk_splitter's scale claim: split + explode + slice with
    NO shuffle — the plan must contain no Exchange at all."""
    plan = plan_of(spark, "text_chunk_splitter")
    assert "Exchange" not in plan, "chunking must not shuffle"


def test_tail_sampling_is_map_only(spark):
    """log_tail_sampling is one fused filter: no Exchange, no join,
    no aggregate in the plan."""
    plan = plan_of(spark, "log_tail_sampling")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_search_ranked_uses_take_ordered_per_query(spark):
    """text_search_ranked's per-query top-k must plan as
    TakeOrderedAndProject (per-partition heap + k-row merge), never a
    global Sort — and the idf constants are plan-time literals, so no
    join appears at all (the query-terms 'broadcast' degenerated to
    folded constants)."""
    plan = plan_of(spark, "text_search_ranked")
    assert plan.count("TakeOrderedAndProject") >= 3  # one per query
    sort_lines = [
        l for l in plan.splitlines()
        if l.strip().startswith(("Sort", "* Sort"))
    ]
    assert not sort_lines, f"unexpected global sort: {sort_lines}"
    assert "Exchange SinglePartition" not in plan or plan.count(
        "Exchange SinglePartition"
    ) <= 1  # only the final <=30-row rank window may single-partition


def test_zorder_layout_clusters_both_dimensions(spark):
    """sink_zorder_layout's value is PHYSICAL: every file must be
    narrow in BOTH interleaved dimensions (day-of-month and value),
    not just one. Per-file footer min/max spans, expressed as a
    fraction of the global span and summed across the two dimensions,
    land near ~0.8 for the Morton layout (day quartered + value
    halved by the top z-bits) vs ~2.0 for any single-column sort or
    random layout — assert the combined fraction stays below 1.2."""
    import glob

    import pyarrow.parquet as pq

    from logdb_spark.operators.layout import zorder_write

    out_dir = zorder_write(spark, SF_SMALL)
    spans = []
    for f in glob.glob(f"{out_dir}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        ts_idx = md.schema.names.index("ts")
        v_idx = md.schema.names.index("value")
        lo_d = hi_d = lo_v = hi_v = None
        for rg in range(md.num_row_groups):
            st_t = md.row_group(rg).column(ts_idx).statistics
            st_v = md.row_group(rg).column(v_idx).statistics
            assert st_t is not None and st_v is not None
            lo_d = st_t.min if lo_d is None else min(lo_d, st_t.min)
            hi_d = st_t.max if hi_d is None else max(hi_d, st_t.max)
            lo_v = st_v.min if lo_v is None else min(lo_v, st_v.min)
            hi_v = st_v.max if hi_v is None else max(hi_v, st_v.max)
        spans.append(((lo_d.day, hi_d.day), (lo_v, hi_v)))
    assert len(spans) >= 4, "expected multiple z-range files"
    g_day = max(s[0][1] for s in spans) - min(s[0][0] for s in spans)
    g_val = max(s[1][1] for s in spans) - min(s[1][0] for s in spans)
    assert g_day >= 20 and g_val >= 50  # dataset really spans both dims
    day_frac = sum((hi - lo) / g_day for (lo, hi), _ in spans) / len(spans)
    val_frac = sum((hi - lo) / g_val for _, (lo, hi) in spans) / len(spans)
    assert day_frac + val_frac <= 1.2, (
        f"files span {day_frac:.2f} of days + {val_frac:.2f} of values — "
        "not z-clustered in both dimensions"
    )


def test_profile_single_scan_with_expand(spark):
    """scan_summarize_profile must profile ALL columns in ONE scan:
    the exact multi-distinct plan is an Expand over a single events
    read — not one aggregation pass per column — and no window
    appears anywhere."""
    plan = plan_of(spark, "scan_summarize_profile")
    assert "Expand" in plan, "exact multi-distinct should plan an Expand"
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, re.M)
    assert len(scans) == 1, f"expected one events scan, got {len(scans)}"
    assert "windowspecdefinition" not in plan


def test_hybrid_rrf_legs_are_take_ordered(spark):
    """Both RRF legs must plan TakeOrderedAndProject (per-partition
    heaps + merge of K) — a global Sort for a top-20 would ship every
    score to one task at 100 TB."""
    plan = plan_of(spark, "sim_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_kmeans_assignment_is_map_only(spark):
    """embed_kmeans_iterate's assignment stage must stay map-side: the
    codebook argmax folds inside codegen against a broadcast 1-row
    array — no window, no shuffled join; the only shuffle is the
    bounded (cluster × dim) aggregation (partial+final pair)."""
    plan = plan_of(spark, "embed_kmeans_iterate")
    assert "windowspecdefinition" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_incremental_manifest_uses_broadcast_anti_join():
    """scan_incremental_manifest's file-diff must be a broadcast
    left_anti hash join on the lineage column (the manifest is rows =
    files, always broadcastable), never a shuffled join of the data
    rows. Side-effecting op: plan inspected via a fresh run."""
    import contextlib
    import io

    from logdb_spark.plans.session import get_spark

    spark = get_spark("logdb-tests")
    df = OPS["scan_incremental_manifest"].fn(spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_aggregate_pushdown_reaches_parquet_footer(spark):
    """scan_aggregate_pushdown's v2 scan must list PushedAggregation
    (COUNT/MIN/MAX answered from footer stats, not row data). The
    registered op checkpoints eagerly (conf hygiene), so assert on
    the factored lazy frame under the same confs."""
    from logdb_spark.operators.layout import pushdown_agg_frame

    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        df = pushdown_agg_frame(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)
    assert "PushedAggregation" in plan
    assert "count(*)" in plan or "COUNT(*)" in plan


def test_unpivot_is_single_expand(spark):
    """sql_unpivot_clause must plan as ONE Expand over ONE scan — the
    UNION-ALL-of-3-scans shape would read the table three times."""
    plan = plan_of(spark, "sql_unpivot_clause", extended=False)
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_pivot_is_single_aggregate_no_join(spark):
    """sql_pivot_clause: the explicit IN list lets Catalyst plan one
    groupBy(day) with conditional counts — no join, no per-type
    scans, partial+final aggregation."""
    plan = plan_of(spark, "sql_pivot_clause", extended=False)
    assert "Join" not in plan
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") >= 2


def test_cms_build_is_exploded_partial_agg(spark):
    """agg_count_min_sketch: the 4x row expansion must be a Generate
    (explode of a literal array), never a join, and the counter build
    must pre-combine map-side."""
    plan = plan_of(spark, "agg_count_min_sketch", extended=False)
    assert "Generate explode" in plan
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastHashJoin" in plan  # probe joins the tiny sketch


def test_sequence_pattern_single_shuffle(spark):
    """log_sequence_pattern: collect_list(struct) + array_sort is the
    shuffle-once form — a window-sort-then-agg would shuffle twice."""
    plan = plan_of(spark, "log_sequence_pattern", extended=False)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_cogroup_is_copartitioned_arrow(spark):
    """udaf_cogroup_pandas: one co-partitioned exchange per side into
    the Arrow cogroup node — no join materialization."""
    plan = plan_of(spark, "udaf_cogroup_pandas", extended=False)
    assert "FlatMapCoGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_aggregate_pushdown_restores_session_confs(spark):
    """scan_aggregate_pushdown flips useV1SourceList + aggregate
    pushdown for its own read; every later operator in the same
    session (driver gate, diffcheck, bench all run the registry
    sequentially) must still plan parquet through the default V1 path.
    Run the op, then assert both confs are back and a fresh read plans
    WITHOUT PushedAggregation."""
    before_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    before_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    OPS["scan_aggregate_pushdown"].fn(spark, SF_SMALL).collect()
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == before_v1
    assert (
        spark.conf.get("spark.sql.parquet.aggregatePushdown") == before_agg
    )
    import pyspark.sql.functions as F

    df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").agg(
        F.count(F.lit(1)).alias("n")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation" not in plan


def test_search_bm25_uses_take_ordered_per_query(spark):
    """text_search_bm25 mirrors text_search_ranked's plan contract:
    per-query top-k is TakeOrderedAndProject, the only Sort is the
    LOCAL (global=false) rank-window sort over the bounded union of
    the per-query shortlists, and N/avgdl/df constants are plan-time
    literals so no join appears.

    The pre-r8 version of this test matched lines that *start with*
    "Sort", but formatted explain renders "+- Sort (14)" / "(14) Sort"
    — the assertion was vacuous and a global-sort regression would
    have passed. Now every Sort operator block is parsed and its
    Arguments line must carry global=false (a df.orderBy regression
    plans "Arguments: [...], true, 0")."""
    import re

    plan = plan_of(spark, "text_search_bm25")
    assert plan.count("TakeOrderedAndProject") >= 3  # one per query
    # Formatted mode: each operator is "(<id>) Sort" followed by an
    # "Arguments: [...ordering...], <global>, <offset>" line.
    sort_ids = re.findall(r"\((\d+)\) Sort\b", plan)
    assert sort_ids, "expected the bounded window sort to be present"
    for sid in sort_ids:
        block = re.search(
            rf"\({sid}\) Sort\b.*?(?=\n\(\d+\)|\Z)", plan, re.S
        ).group(0)
        args = re.search(r"Arguments: .*", block).group(0)
        assert re.search(r"\bfalse, 0\s*$", args), (
            f"global sort regression in Sort ({sid}): {args}"
        )
    assert "Join" not in plan
    # Self-check that the detector is not vacuous: an injected global
    # sort (plain orderBy, no limit) must trip the same regex.
    import contextlib
    import io

    import pyspark.sql.functions as F

    # (id % 3) is non-monotonic, so EliminateSorts cannot fold the
    # orderBy away (range(10).orderBy("id") plans to a bare Range).
    sorted_df = (
        spark.range(10).select((F.col("id") % 3).alias("k")).orderBy("k")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sorted_df.explain(mode="formatted")
    injected = buf.getvalue()
    inj_ids = re.findall(r"\((\d+)\) Sort\b", injected)
    assert inj_ids, "detector failed to see an injected global sort"
    inj_block = re.search(
        rf"\({inj_ids[0]}\) Sort\b.*?(?=\n\(\d+\)|\Z)", injected, re.S
    ).group(0)
    inj_args = re.search(r"Arguments: .*", inj_block).group(0)
    assert re.search(r"\btrue, 0\s*$", inj_args), (
        "injected orderBy did not plan as a global sort — detector "
        f"assumptions broken: {inj_args}"
    )


def test_covariance_pairs_single_shuffle_then_topk(spark):
    """embed_covariance_pairs' scale claim: the d^2/2 cross products
    are map-only (nested transform over scaled longs, NO self-join on
    the n·d rows), so the plan has exactly two aggregate Exchanges
    (the d²-bounded pair sums and the d-bounded marginal sums), the
    marginals join back via broadcast, and the top-20 is
    TakeOrderedAndProject (no global Sort, no sort-merge join)."""
    plan = plan_of(spark, "embed_covariance_pairs", extended=False)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    import re

    ids = set(
        re.findall(r"Exchange hashpartitioning.*?plan_id=(\d+)", plan)
    )
    # pair-sum shuffle + ONE marginal-sum shuffle (persisted, printed
    # under both broadcast legs but a single physical exchange)
    assert len(ids) == 2, f"want two distinct agg shuffles, got {ids}"
    assert "TakeOrderedAndProject" in plan


def test_triangle_count_no_cartesian(spark):
    """log_triangle_count is three equi-joins (hour-bucket pairs,
    wedge middle-vertex, closing edge) — the plan must contain no
    CartesianProduct and no BroadcastNestedLoopJoin; degree joins
    carry no forced broadcast hint (AQE decides — vertices are
    unbounded at scale)."""
    plan = plan_of(spark, "log_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decayed_rate_is_single_partial_agg(spark):
    """log_decayed_rate: map-only weight computation + one
    groupBy(user_id) with map-side partial aggregation — exactly one
    Exchange, no Join, no Window."""
    plan = plan_of(spark, "log_decayed_rate", extended=False)
    assert "Join" not in plan
    assert "Window" not in plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, f"want one agg shuffle, got {n_exchange}:\n{plan}"


def test_heavy_hitters_rescore_is_bounded_agg(spark):
    """agg_heavy_hitters_twopass' returned plan is the pass-2 rescore:
    one candidate-filtered scan, one bounded-key agg Exchange, top-k as
    TakeOrderedAndProject — the unbounded token domain never shuffles
    (pass 1's mapInPandas summary ran eagerly and is not part of the
    returned lineage)."""
    import re

    plan = plan_of(spark, "agg_heavy_hitters_twopass", extended=False)
    assert "TakeOrderedAndProject" in plan
    # both legs of the 1-row certificate cross join read the SAME
    # persisted k-row top-k (explain prints the cached plan under each
    # InMemoryTableScan, so the rescore Exchange appears twice in TEXT
    # but carries one plan_id — one physical shuffle)
    assert plan.count("InMemoryTableScan") == 2
    ids = set(
        re.findall(r"Exchange hashpartitioning.*?plan_id=(\d+)", plan)
    )
    assert len(ids) == 1, f"want one rescore shuffle, got ids {ids}"
    assert "SortMergeJoin" not in plan


def test_catalog_stats_scans_prune_to_key_column(spark):
    """scan_catalog_stats: each per-table leg must read only its probe
    key column (ReadSchema pruned to one field) — catalog stats must
    not pay a full-width scan."""
    plan = plan_of(spark, "scan_catalog_stats")
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) >= 10
    wide = [s for s in schemas if s.count(",") > 0]
    assert not wide, f"catalog scans must prune to the key: {wide}"


def test_time_travel_snapshots_are_broadcast_semi_joins(spark):
    """scan_time_travel: both version reads must plan a broadcast
    LeftSemi against the bounded manifest — never a shuffle join keyed
    on the per-row lineage column."""
    plan = plan_of(spark, "scan_time_travel", extended=False)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_k_anonymity_is_two_bounded_aggs(spark):
    """log_k_anonymity: one quasi-tuple groupBy + one global agg —
    no Join, no Window, and the only hashpartitioning exchange keys
    on the bounded quasi tuple."""
    plan = plan_of(spark, "log_k_anonymity", extended=False)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_grid_spatial_is_equi_hash_join(spark):
    """join_grid_spatial: the radius predicate must ride an EQUI join
    on the grid cell key — no CartesianProduct, no
    BroadcastNestedLoopJoin anywhere in the plan."""
    plan = plan_of(spark, "join_grid_spatial", extended=False)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # it IS a join — as hash/broadcast-hash


def test_lifecycle_stages_windows_are_user_partitioned(spark):
    """log_user_lifecycle_stages: the per-user lag window must be
    partitioned (user_id); the only unpartitioned window runs over the
    ~30-row calendar aggregate, after the day groupBy."""
    plan = plan_of(spark, "log_user_lifecycle_stages")
    assert "user_id" in plan
    assert "Window" in plan


def test_checkpoint_restart_restores_shuffle_conf(spark):
    """stream_checkpoint_restart caps spark.sql.shuffle.partitions for
    its two streaming runs; later operators in the same session must
    see the original value even though the op ran (flip-restore
    contract, same as scan_aggregate_pushdown)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    OPS["stream_checkpoint_restart"].fn(spark, SF_SMALL).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_incremental_minhash_broadcasts_new_side(spark):
    """dedup_incremental_minhash's scale contract: the NEW batch's
    band rows are the broadcast side of the candidate join (candidate
    volume linear in batch size), and nothing plans as a cartesian
    product."""
    plan = plan_of(spark, "dedup_incremental_minhash", extended=False)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _keyed_joins(plan: str) -> list[tuple[str, str]]:
    """Parse (join_kind, left_key_head) pairs from a formatted plan.

    Guarded against formatted-plan layout drift (ADVICE r9): the
    details regex is keyed on the exact `Left keys [N]: [col` text a
    Spark minor release could reword; if join NODES are present but
    the details regex matches none, fail with a message pointing at
    the parser, not a confusing empty-list assert downstream."""
    import re

    node_joins = re.findall(r"\(\d+\) (\w*Join\w*)", plan)
    key_joins = re.findall(
        r"\(\d+\) (\w+Join)[^\n]*\nLeft keys \[\d+\]: \[(\w+)", plan
    )
    assert node_joins, "no join nodes in the formatted plan at all"
    assert key_joins, (
        f"formatted-plan layout drift: join nodes present {node_joins} "
        "but the 'Left keys [N]: [col' details regex matched none — "
        "update _keyed_joins in tests/test_plans.py"
    )
    return key_joins


def test_lsh_verify_joins_shuffle_not_forced_broadcast(spark):
    """VERDICT r8 #2: the exact-verify kernel behind the LSH dedup
    family (dedup_minhash_lsh, dedup_incremental_minhash,
    text_fuzzy_decontaminate) must not FORCE-broadcast the full-corpus
    token relation onto the candidates — at 10^9+ docs that broadcast
    is hundreds of GB per executor. With auto-broadcast disabled, any
    BroadcastHashJoin left in the plan comes from an explicit hint, so
    the two corpus-side verify joins (on doc_a / doc_b) must plan as
    shuffle joins; the only permitted hint on this path is the
    bounded-vocabulary dictionary encode (joins on `token`)."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from logdb_spark.operators.llm import _set_pairs, _word_sets

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = spark.range(0, 10).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        df = _set_pairs(spark, *_word_sets(spark, SF_SMALL), 0.9, candidates=cand)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)

    key_joins = _keyed_joins(plan)
    verify = [kind for kind, key in key_joins if key.startswith("doc_")]
    assert len(verify) >= 2, f"expected 2 verify joins, saw {key_joins}"
    assert all(k in ("SortMergeJoin", "ShuffledHashJoin") for k in verify), (
        f"corpus-side verify join is hint-broadcast: {key_joins}"
    )
    broadcasts = [key for kind, key in key_joins if kind == "BroadcastHashJoin"]
    assert all(k == "token" for k in broadcasts), (
        f"unexpected forced broadcast on {broadcasts}"
    )


def test_containment_verify_joins_shuffle_not_forced_broadcast(spark):
    """Same contract for the PPJoin-style containment verify
    (text_containment_prefix_join): candidate rescore joins against
    the corpus token/size relations must not be hint-broadcast. The
    op's Σdf² cost model routes the fixture to the tiled twin, so run
    the prefix candidates — the path that exists for 100 TB — through
    _set_pairs the same way the parity pytest does."""
    import contextlib
    import io
    import re

    from logdb_spark.operators.llm import (
        _bigram_sets,
        _prefix_candidates,
        _set_pairs,
    )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        tok, sets_fn = _bigram_sets(spark, SF_SMALL)
        df = _set_pairs(
            spark, tok, sets_fn, 0.8, metric="containment",
            candidates=_prefix_candidates(tok, sets_fn),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
    key_joins = _keyed_joins(plan)
    verify = [kind for kind, key in key_joins if key.startswith("doc_")]
    assert verify, f"no doc-keyed joins found: {key_joins}"
    assert all(k in ("SortMergeJoin", "ShuffledHashJoin") for k in verify), (
        f"corpus-side verify join is hint-broadcast: {key_joins}"
    )


def test_stream_dedup_minhash_state_never_forced_broadcast():
    """VERDICT r8 #2/#3 for the streaming twin: the foreachBatch body
    must not hint-broadcast the corpus-so-far relations (ta/tb/all_rel)
    and must not re-derive the verify vocabulary by scanning full
    state per batch — the vocabulary is maintained as state updated
    from the NEW batch only. Static source audit (the joins live
    inside a foreachBatch closure, unreachable by explain)."""
    import pathlib
    import re

    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "logdb_spark"
        / "streaming"
        / "batch_equiv.py"
    ).read_text()
    body = src[src.index("def stream_dedup_minhash") :]
    body = body[: body.index("\n@register")] if "\n@register" in body else body
    assert not re.search(
        r"F\.broadcast\(\s*(?:bands\(\s*)?(ta|tb|all_rel)\b", body
    ), "stream_dedup_minhash hint-broadcasts unbounded state"
    assert not re.search(r"all_rel\s*\.select\(F\.explode", body), (
        "stream_dedup_minhash re-derives vocabulary from full state"
    )


def test_no_raw_global_windows():
    """VERDICT r9 #6: a raw ``Window.orderBy(...)`` (no partition key)
    moves the whole relation through ONE task's sort — silent death at
    100 TB. Every deliberate bounded use must go through
    ``functions.ranking.bounded_global_window`` (which records the row
    bound and reason at the call site), so bench.py can silence the
    WindowExec single-partition warning without burying genuinely new
    unbounded windows: they fail HERE instead of logging. AST-based so
    docstrings/comments mentioning the pattern don't false-positive."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "logdb_spark"
    allow = {pkg / "functions" / "ranking.py"}  # the helper itself
    violations = []
    for path in sorted(pkg.rglob("*.py")):
        if path in allow:
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "orderBy"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "Window"
            ):
                violations.append(f"{path}:{node.lineno}")
    assert not violations, (
        "raw Window.orderBy() with no partition — use "
        f"bounded_global_window(max_rows=, why=): {violations}"
    )


def test_bounded_global_window_declarations_hold(spark):
    """The bounds declared at bounded_global_window call sites must be
    real, per bound class: the calendar grids measured on the fixture
    (hour grid <= 720, day grid <= 31), the RRF shortlist bound pinned
    against the _RRF_K constant the .limit() calls actually use, the
    merge-table bound against its .limit(256), and the bitmask
    dictionary bound against _BITMASK_MAX_VOCAB (the window is built
    only under that proven gate since the r10 review)."""
    from pyspark.sql import functions as F

    from logdb_spark.operators import llm
    from logdb_spark.sources.load import load_table

    ev = load_table(spark, SF_SMALL, "events")
    n_hours = ev.select(F.date_trunc("hour", "ts")).distinct().count()
    assert n_hours <= 720, n_hours
    n_days = ev.select(F.date_trunc("day", "ts")).distinct().count()
    assert n_days <= 31, n_days
    # constants the declarations cite must still match the limits the
    # plans apply — a raised K or dropped .limit() fails here, not in
    # a silenced log line
    assert llm._RRF_K <= 20, "sim_hybrid_rrf windows declare max_rows=20"
    assert llm._BITMASK_MAX_VOCAB <= 4096, (
        "the pair-kernel dictionary window declares max_rows=4096"
    )
    # the declared-bounded ops still execute green end-to-end
    for name in ("log_rate_spike", "log_error_budget_burndown",
                 "sim_hybrid_rrf", "text_bpe_vocab"):
        assert OPS[name].fn(spark, SF_SMALL).count() >= 0


def test_dumpplans_normalized_dumps_of_one_query_are_equal(spark):
    """tools.dumpplans strips what differs between two plannings of the
    same query — expression ids, lambda-variable counters, scratch
    directory suffixes, and the codegen and query-stage ids that follow
    AQE's stage order — and nothing else, so a diff of two dump
    directories shows only node changes."""
    import re

    from pyspark.sql import functions as F

    from tools.dumpplans import normalize

    def explain(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    def dump():
        return explain(spark.range(10).select(
            F.transform(F.array("id", "id"), lambda x: x + 1).alias("a")
        ))

    def two_branch_aggregation():
        a = spark.range(100).groupBy((F.col("id") % 3).alias("k")).agg(
            F.count(F.lit(1)).alias("n")
        )
        b = spark.range(100).groupBy((F.col("id") % 5).alias("k")).agg(
            F.sum("id").alias("s")
        )
        df = a.join(b, "k")
        df.collect()  # the final AQE plan carries the stage numbering
        return explain(df)

    first, second = dump(), dump()
    assert first != second
    assert normalize(first) == normalize(second)
    assert normalize(first.replace("+ 1", "+ 2")) != normalize(second)
    assert normalize(
        "[file:/tmp/logdb_scratch_vkiwwx_2/logdb_sdm_dias7fwj/docs_state]"
    ) == "[file:/tmp/logdb_scratch_*/logdb_sdm_*/docs_state]"

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        first, second = two_branch_aggregation(), two_branch_aggregation()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert normalize(first) == normalize(second)
    # When the second branch's stage is planned first, the two branches
    # trade their codegen ids (1, 2) and shuffle-stage ids (0, 1).
    swapped = re.sub(
        r"(codegen id : )([12])\]", lambda m: f"{m[1]}{3 - int(m[2])}]", second
    )
    swapped = re.sub(
        r"(ShuffleQueryStage\n(?:.+\n)*?Arguments: )([01])\n",
        lambda m: f"{m[1]}{1 - int(m[2])}\n",
        swapped,
    )
    assert swapped != second
    assert normalize(first) == normalize(swapped)
    assert normalize(first.replace("% 5", "% 7")) != normalize(swapped)


def test_dumpplans_captures_the_cow_rewrite_of_touched_files_only(spark):
    """tools.dumpplans records every DataFrame an operator writes while
    it builds. table_delete_cow's copy-on-write rewrite, its last
    write, scans only the two year-files holding a 'P' match, not the
    whole seven-file snapshot; the writer is restored afterwards."""
    from pyspark.sql import DataFrameWriter

    from tools.dumpplans import capture_writes

    parquet = DataFrameWriter.parquet
    with capture_writes() as written:
        OPS["table_delete_cow"].fn(spark, SF_SMALL)
    assert DataFrameWriter.parquet is parquet
    assert len(written) == 2  # the year table, then the rewrite
    scanned = {"/".join(f.split("/")[-3:-1]) for f in written[-1].inputFiles()}
    assert scanned == {"data1/g=1996", "data1/g=1999"}
