"""Property-style cross-operator invariants (SURVEY.md §5.3): cheap
algebraic identities that catch logic errors the per-operator oracles
might share with the implementation."""

from __future__ import annotations

import pyspark.sql.functions as F

from logdb_spark.registry import all_operators
from tests.conftest import SF_SMALL

OPS = all_operators()


def _run(name, spark):
    return OPS[name].fn(spark, SF_SMALL)


def test_rollup_total_equals_plain_sum(spark):
    roll = _run("agg_rollup", spark)
    grand = roll.filter(F.col("r_name").isNull() & F.col("n_name").isNull())
    assert grand.count() == 1
    total = grand.first()["n_customers"]
    leaf_total = (
        roll.filter(F.col("r_name").isNotNull() & F.col("n_name").isNotNull())
        .agg(F.sum("n_customers"))
        .first()[0]
    )
    assert total == leaf_total


def test_union_all_count_is_sum_of_parts(spark):
    ua = _run("set_union_all", spark).count()
    from logdb_spark.sources.load import load_table

    ev = load_table(spark, SF_SMALL, "events")
    parts = ev.filter(F.col("event_type").isin("click", "purchase")).count()
    assert ua == parts


def test_sessionize_partitions_events(spark):
    sess = _run("log_sessionize_gap", spark)
    from logdb_spark.sources.load import load_table

    n_events = load_table(spark, SF_SMALL, "events").count()
    assert sess.agg(F.sum("n_events")).first()[0] == n_events


def test_semi_plus_anti_partition_customers(spark):
    from logdb_spark.sources.load import load_table

    semi_f = _run("join_left_semi", spark).count()  # has ≥1 'F' order
    anti = _run("join_left_anti", spark).count()  # no orders at all
    customers = load_table(spark, SF_SMALL, "customer").count()
    # semi('F') ⊆ has-orders = customers - anti
    assert semi_f <= customers - anti


def test_pivot_row_sums_equal_daily_totals(spark):
    piv = _run("log_pivot_types", spark)
    total = piv.select(
        (
            F.col("click")
            + F.col("error")
            + F.col("purchase")
            + F.col("signup")
            + F.col("view")
        ).alias("s")
    ).agg(F.sum("s")).first()[0]
    from logdb_spark.sources.load import load_table

    assert total == load_table(spark, SF_SMALL, "events").count()


def test_topk_global_is_subset_of_sorted(spark):
    from logdb_spark.sources.load import load_table

    top = [r["o_orderkey"] for r in _run("topk_global", spark).collect()]
    o = load_table(spark, SF_SMALL, "orders")
    expected = [
        r["o_orderkey"]
        for r in o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .collect()
    ]
    assert top == expected


def test_survey_section2_matches_registry():
    """SURVEY.md §2 is THE CONTRACT: every registered operator must have
    a §2 table row and vice versa, name-for-name (VERDICT r1 #7 — the
    doc and the registry must not drift)."""
    import re
    from pathlib import Path

    survey = Path(__file__).resolve().parents[1] / "SURVEY.md"
    sec2 = survey.read_text().split("## 2. Operator inventory")[1].split("\n## 3.")[0]
    rows = set(re.findall(r"^\| `([a-z0-9_]+)`", sec2, re.M))
    registered = set(OPS)
    assert rows == registered, (
        f"SURVEY §2 missing: {sorted(registered - rows)}; "
        f"stale §2 rows: {sorted(rows - registered)}"
    )


def test_all_registered_schemas_are_scalar_only(built_ops):
    """The driver's canonicalizer crashes on array/map cells — and it
    canonicalizes EVERY output, rows-only included (r1
    agg_collect_sorted, r2 fn_array_suite + fn_map_from_json, r3
    mm_feature_extract — four recurrences of the SAME bug; the r3 one
    slipped through precisely because this test used to exempt
    oracle-less ops). So: every registered operator, no exemptions,
    must emit only scalar columns; join arrays to strings before
    returning. An operator whose build raises fails this test too.

    Cost note: the schemas come from the session's one construction
    sweep (``built_ops``), which the cartesian-plan audit shares. A
    build is lazy for most ops, but NOT free for all — a few ops run
    eager work at plan-build time (dedup_cluster_assign's
    label-propagation loop, the sink_* ops' temp-dir writes)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, (schema, _plan) in built_ops.items():
        if isinstance(schema, Exception):
            bad.append(f"{name}: build raised {schema!r}")
            continue
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"non-scalar columns in registered ops: {bad}"


def test_hll_sketch_merge_identity(spark):
    """HLL register-max merge is partition/order independent: the
    union of per-day sketches must estimate EXACTLY what one direct
    whole-corpus sketch estimates, and both must track exact distinct
    within sketch error."""
    import pyspark.sql.functions as F

    from logdb_spark.sources.load import load_table

    row = _run("agg_hll_sketch_merge", spark).first()
    assert row["merge_consistent"], "merged vs direct sketch disagree >5%"
    assert row["merged_within_bound"], "estimate outside HLL++ 3σ bound"
    # Re-derive the raw estimates independently of the op's plan so
    # the in-plan booleans can't mask a broken estimate pipeline.
    ev = load_table(spark, SF_SMALL, "events")
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("bigint")
    ).first()[0]
    exact = ev.select("user_id").distinct().count()
    assert row["exact_distinct_users"] == exact
    assert abs(direct - exact) <= max(2, 0.05 * exact), (direct, exact)


def test_equiheight_buckets_balanced(spark):
    """Equi-height histogram: 10 buckets, each within ±2% of n/10
    rows (interpolated-decile boundaries guarantee near-equal
    heights up to ties at the boundary values)."""
    rows = _run("agg_histogram_equiheight", spark).collect()
    assert len(rows) == 10
    n = sum(r["n"] for r in rows)
    for r in rows:
        assert abs(r["n"] - n / 10) <= max(2, 0.02 * n), (r["bucket"], r["n"])


def test_kmeans_iterate_partition_of_corpus(spark):
    """One Lloyd step: cluster sizes partition the corpus (every
    vector assigned exactly once), every cluster id is a seed id, and
    each (cluster, dim) pair appears exactly once in the codebook."""
    from logdb_spark.sources.load import load_table

    rows = _run("embed_kmeans_iterate", spark).collect()
    n_vecs = load_table(spark, SF_SMALL, "embeddings").count()
    by_cluster = {}
    seen = set()
    for r in rows:
        key = (r["cluster_id"], r["dim"])
        assert key not in seen, f"duplicate codebook entry {key}"
        seen.add(key)
        by_cluster.setdefault(r["cluster_id"], set()).add(r["n_members"])
    assert set(by_cluster) <= set(range(8))
    # n_members is constant across a cluster's dims, and sizes sum to n
    sizes = {c: ms.pop() for c, ms in by_cluster.items() if len(ms) == 1}
    assert len(sizes) == len(by_cluster), "n_members varies within a cluster"
    assert sum(sizes.values()) == n_vecs


def test_frame_rows_subset_of_range(spark):
    """ROWS BETWEEN 2 PRECEDING frame is ≤3 rows; the 30s RANGE frame
    always contains at least the current row and, when it spans ≥3
    rows, dominates the 3-row sum for non-negative values."""
    rows = _run("win_frame_rows_vs_range", spark).collect()
    assert rows
    for r in rows:
        assert r["n_range"] >= 1
        if r["n_range"] >= 3:
            assert r["range_sum30s"] >= r["rows_sum3"] - 1e-9, r


def test_profile_counts_consistent(spark):
    """Table profile: n_rows constant across columns, n_distinct +
    n_null ≤ n_rows + 1, and the event_id column is a unique key
    (distinct == rows, nulls == 0)."""
    rows = {r["col_name"]: r for r in _run("scan_summarize_profile", spark).collect()}
    n = {r["n_rows"] for r in rows.values()}
    assert len(n) == 1
    n = n.pop()
    for r in rows.values():
        assert r["n_distinct"] + r["n_null"] <= n + (1 if r["n_null"] else 0)
    eid = rows["event_id"]
    assert eid["n_null"] == 0 and eid["n_distinct"] == n


def test_left_outer_join_keeps_all_clicks(spark):
    """The outer attribution join emits exactly one row per click —
    matched or not — and matched implies n_purchases ≥ 1 with a
    non-negative lag."""
    import pyspark.sql.functions as F

    from logdb_spark.sources.load import load_table

    rows = _run("stream_left_outer_join", spark)
    n_clicks = (
        load_table(spark, SF_SMALL, "events")
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert rows.count() == n_clicks
    for r in rows.collect():
        if r["matched"]:
            assert r["n_purchases"] >= 1 and r["first_lag_s"] >= 0
        else:
            assert r["n_purchases"] == 0 and r["first_lag_s"] is None


def test_cms_estimate_never_undercounts(spark):
    """Count-min sketch's defining one-sided error: est(u) >= exact(u)
    for every probe (collisions only ADD counts), with the overcount
    bounded by the depth-row minimum. An undercount means the probe
    hashed into the wrong buckets — the bug class the oracle could
    share if both engines derived buckets from the same wrong string."""
    rows = _run("agg_count_min_sketch", spark).collect()
    assert rows, "expected probe rows"
    assert all(r["cms_est"] >= r["exact_cnt"] for r in rows)


def test_pagerank_is_a_damped_distribution(spark):
    """Power-iteration sanity: every rank holds at least the teleport
    floor 0.15/N, and total mass is at most 1 (dangling-node loss is
    the only leak; a sum above 1 means an edge was double-counted)."""
    rows = _run("log_pagerank_influence", spark).collect()
    n = len(rows)
    assert n >= 2
    total = sum(r["pagerank"] for r in rows)
    assert total <= 1.0 + 1e-6
    assert all(r["pagerank"] >= 0.15 / n - 1e-9 for r in rows)


def test_matryoshka_overlap_bounded_by_k(spark):
    """overlap@5 is a set intersection of two 5-element top lists:
    0 <= overlap <= 5, and top1_kept=1 forces overlap >= 1."""
    rows = _run("embed_matryoshka_recall", spark).collect()
    assert rows
    for r in rows:
        assert 0 <= r["overlap_at_5"] <= 5
        if r["top1_kept"] == 1:
            assert r["overlap_at_5"] >= 1


def test_enumeration_order_is_module_then_registration_order():
    """The registry enumerates operators module by module, in
    ``_OPERATOR_MODULES`` build order, and within a module in the
    order the module registers them (its source order). No operator
    is pulled ahead of that order."""
    import inspect

    from logdb_spark.registry import _OPERATOR_MODULES

    phase = {m: i for i, m in enumerate(_OPERATOR_MODULES)}
    keys = [
        (phase[op.fn.__module__], inspect.unwrap(op.fn).__code__.co_firstlineno)
        for op in OPS.values()
    ]
    assert keys == sorted(keys)
    assert len(set(keys)) == len(keys)
    assert {k[0] for k in keys} == set(phase.values())
    assert list(OPS)[:2] == ["scan_parquet", "scan_projection_pushdown"]
