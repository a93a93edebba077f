"""Plan-shape contracts for flagship queries.

PLANS.md (scripts/explain_audit.py) is the generated evidence; these
tests pin the load-bearing plan properties in CI form so a regression
fails the suite, not just the audit: no nested-loop joins, filters
reaching the parquet scan, and exchange-count ceilings (every exchange
is a shuffle of the full stream at 100 TB — adding one is a design
change, not noise).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _plan(spark, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF_DIR)
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# max SHUFFLE Exchange nodes in the initial (pre-AQE) plan; broadcast
# exchanges are excluded (small-side, no full-stream shuffle). Ceilings
# are the measured counts — any increase means a new shuffle appeared.
_EXCHANGE_CEILINGS = {
    "cm1_sliding_sum_by_type": 2,      # pane agg + window merge
    # window(3600, 60) on the pane path (the 1 s windows thinned to
    # minute starts): pane agg + window merge. The prefix path's shape
    # (spine scaffold, planner-tiered spine attach) is pinned by
    # test_prefix_spine_attach_shapes below.
    "sg1_ref_window_3600_1": 2,
    "sg1_ref_window_3600_1_minmax": 2,
    # window(60, 1) thinned to starts % 300 is tumbling window(60, 60)
    "cm1_ref_window_60_1": 1,
    "dedup_ngram_jaccard": 7,          # df agg + prefix window + candidate join + 2 verify joins
    "ysb_static_join_tumbling": 2,     # window agg (join is broadcast)
    "nbq5_post_window_argmax": 3,      # count agg ×2 subplans (AQE reuses) + max join
    "text_bm25_topk": 1,               # corpus stats agg (scoring join is broadcast)
    "dedup_minhash_lsh": 8,            # signature agg + band join + verify
    "pack_sequences_ctx512": 5,        # range part ×2 subplans (AQE reuses) + chunk agg + tiny offsets + window
    "tpch_q1_pricing_summary": 1,      # single hash agg
    "url_canonical_dedup": 1,          # map-only canon + one hash agg
}

_LAZY_FLAGSHIPS = sorted(_EXCHANGE_CEILINGS)


@pytest.mark.parametrize("name", _LAZY_FLAGSHIPS)
def test_no_nested_loop_join(spark, name):
    p = _plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


@pytest.mark.parametrize("name", _LAZY_FLAGSHIPS)
def test_exchange_ceiling(spark, name):
    p = _plan(spark, name)
    n = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n <= _EXCHANGE_CEILINGS[name], (
        f"{name}: {n} exchanges > ceiling {_EXCHANGE_CEILINGS[name]} — a new "
        "shuffle appeared; re-justify in PLANS.md and raise deliberately"
    )


def test_prefix_spine_attach_shapes(spark, tables):
    """The prefix path's spine attach is a plain left join, tiered by
    the planner (broadcast locally, shuffled and AQE-retiered when the
    pane agg estimates big). Pins: (a) the attach is a join, (b) the
    plan stays at the 4-exchange ceiling (pane agg + 1-row bounds +
    distributed-spine chunk fan-out + chunk-scan window; see
    plans/r16/sg1_ref_window_3600_1_{before,after}.txt). No catalog
    query takes the prefix path, so this test is the shape's only pin."""
    from lightsaber_spark.operators import windowed_agg

    ev = tables["events"]
    aggs = [("sum", "value", "s"), ("min", "value", "mn")]
    # 600/1 takes the prefix path (ratio >= prefix_threshold) with a
    # 6x smaller spine than window(3600, 1) — the same plan shape
    p = _formatted(spark, windowed_agg(ev, "ts", 600, 1, aggs))
    assert "Join" in p, p[:800]
    n = len(re.findall(r"\(\d+\) Exchange\b", p))
    assert n <= 4, p[:800]


# Queries that attach a 1-row global aggregate through a CONSTANT join
# key built as `when(x >= 0, 0)` — nullable, hence opaque to constant
# folding. If the fold ever collapses (e.g. an upstream coalesce makes
# the operand non-nullable, as r13's tokens() change did to bm25's dl),
# Catalyst rewrites the equality away and plans a BroadcastNestedLoopJoin.
# One named assertion per documented trick site (VERDICT r13 #6):
_NULLABLE_KEY_TRICK_SITES = [
    "text_bm25_topk",            # functions/text.py bm25_topk (_k over dl)
    "tpch_q11_important_stock",  # queries.py (_k over _g and val_c)
    "funnel_view_click_purchase",  # pipeline_queries.py (_k over counts)
]


@pytest.mark.parametrize("name", _NULLABLE_KEY_TRICK_SITES)
def test_constant_key_join_stays_hash_join(spark, name):
    p = _plan(spark, name)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, (
        f"{name}: the nullable constant-key trick collapsed — some change "
        "made the key expression non-nullable, Catalyst folded it to a "
        "literal, and the scalar-attach join degraded to a nested loop "
        f"(see functions/text.py bm25 docstring)\n{p[:600]}"
    )


def test_url_canonicalization_stays_pure_catalyst(spark):
    """canonical_url's contract is ZERO Python in the plan: the whole
    pipeline (percent-normalization included) is Catalyst expressions,
    so the crawl-ingest dedup never pays an Arrow/pickle boundary. A
    Python-eval node appearing here means someone rewrote a rule as a
    UDF — a 100 TB regression even if results stay correct."""
    p = _plan(spark, "url_canonical_dedup")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_filter_pushdown_reaches_scan(spark):
    """cm2's event_type filter must land in PushedFilters, not a
    post-scan Filter only (at 100 TB this is the difference between
    reading one column-chunk subset and the whole table)."""
    # a cached relation from an earlier test would replace the parquet
    # scan (InMemoryTableScan has no pushdown to show) — clear first
    spark.catalog.clearCache()
    p = _plan(spark, "cm2_filter_sliding_sum_by_user")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any("event_type" in x or "IsNotNull" in x for x in pushed), p[:500]


def test_static_join_is_broadcast(spark):
    p = _plan(spark, "ysb_static_join_tumbling")
    assert "BroadcastHashJoin" in p


def _formatted(spark, df):
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_audit_flags_broken_pushdown(spark):
    """plan_audit.plan_flags must fire NO_PUSHDOWN on a genuinely
    broken plan (pushdown disabled) and stay silent on the healthy
    twin — proves the audit's flag is live, not dead code."""
    from lightsaber_spark.plan_audit import plan_flags

    spark.catalog.clearCache()
    path = f"{SF_DIR}/events.parquet"
    # DSv1's explain prints *translatable* filters regardless of whether
    # pushdown actually runs, so the broken shape needs the v2 scan,
    # where PushedFilters reflects what the scan builder really pushed.
    confs = {
        "spark.sql.parquet.filterPushdown": "false",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.read.parquet(path).filter("user_id = 7")
        broken = _formatted(spark, df)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "NO_PUSHDOWN" in plan_flags(broken), broken[:800]

    healthy = _formatted(spark, spark.read.parquet(path).filter("user_id = 7"))
    assert "NO_PUSHDOWN" not in plan_flags(healthy), healthy[:800]


def test_audit_no_pushdown_ignores_unpushable_predicates(spark):
    """A filter parquet can never push (expression over a column, with
    the bare-column IsNotNull also suppressed) must NOT flag."""
    from lightsaber_spark.plan_audit import plan_flags

    spark.catalog.clearCache()
    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter("length(coalesce(text, '')) % 7 = 3")
    )
    p = _formatted(spark, df)
    assert "NO_PUSHDOWN" not in plan_flags(p), p[:800]


def test_audit_pushable_atoms_are_top_level_conjuncts_only():
    """Atoms nested inside CASE expressions (salting constructs, rate
    bounds) are not pushable and must not create flags — regression
    cases taken from real salted_skew_join / mixture_sample plans."""
    from lightsaber_spark.plan_audit import plan_flags

    def plan_with_condition(cond):
        return (
            "== Physical Plan ==\n"
            "* Filter (2)\n"
            "+- * ColumnarToRow (3)\n"
            "   +- Scan parquet  (1)\n\n\n"
            "(1) Scan parquet \nOutput [1]: [user_id#1L, source#2]\n"
            "Batched: true\nReadSchema: struct<user_id:bigint>\n\n"
            "(3) ColumnarToRow\nInput [1]: [user_id#1L]\n\n"
            f"(2) Filter\nInput [1]: [user_id#1L]\nCondition : {cond}\n"
        )

    nested_case = (
        "(CASE WHEN ((user_id#1L % 4) > 0) THEN true ELSE "
        "isnotnull(user_id#1L) END AND isnotnull(pmod(xxhash64(user_id#1L, 42), 8)))"
    )
    assert "NO_PUSHDOWN" not in plan_flags(plan_with_condition(nested_case))

    case_bound = (
        "(cast(conv(substring(md5(x), 1, 15), 16, 10, true) as bigint) < "
        "CASE WHEN (source#2 = src2) THEN 288 ELSE 115 END)"
    )
    assert "NO_PUSHDOWN" not in plan_flags(plan_with_condition(case_bound))

    top_level = "(isnotnull(user_id#1L) AND (user_id#1L = 7))"
    assert "NO_PUSHDOWN" in plan_flags(plan_with_condition(top_level))


def test_audit_no_pushdown_requires_scan_adjacency():
    """A Filter above a Window (inferred isnotnull from a comparison
    with a window output) is not adjacent to the scan — predicates
    can't cross the boundary, so no flag (keep_representatives shape)."""
    from lightsaber_spark.plan_audit import plan_flags

    plan = (
        "== Physical Plan ==\n"
        "* Filter (4)\n"
        "+- Window (3)\n"
        "   +- * ColumnarToRow (2)\n"
        "      +- Scan parquet  (1)\n\n\n"
        "(1) Scan parquet \nOutput [1]: [doc_id#1L]\n"
        "Batched: true\nReadSchema: struct<doc_id:bigint>\n\n"
        "(2) ColumnarToRow\nInput [1]: [doc_id#1L]\n\n"
        "(3) Window\nInput [1]: [doc_id#1L]\n\n"
        "(4) Filter\nInput [2]: [doc_id#1L, _rep#9L]\n"
        "Condition : (isnotnull(doc_id#1L) AND (doc_id#1L = _rep#9L))\n"
    )
    assert "NO_PUSHDOWN" not in plan_flags(plan)


def test_audit_tree_parser_handles_join_branches(spark):
    """The tree parser must resolve Filter→scan adjacency through the
    ':-'-style branch decoration of a join plan — both filtered sides
    of a SortMergeJoin map to their scans."""
    from lightsaber_spark.plan_audit import _filter_over_scan

    spark.catalog.clearCache()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.read.parquet(f"{SF_DIR}/events.parquet").filter("user_id > 3")
        b = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter("o_custkey > 3")
        df = a.join(b, a.user_id == b.o_custkey)
        p = _formatted(spark, df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    adj = _filter_over_scan(p)
    assert len(adj) == 2, f"expected both branch scans mapped, got {adj}\n{p[:600]}"


def test_audit_flags_nested_loop(spark):
    from lightsaber_spark.plan_audit import plan_flags

    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "jd")
    p = _formatted(spark, a.join(b, F.expr("id < jd")))
    assert "NESTED_LOOP" in plan_flags(p)


# Heavy-expression queries where an interpreted fallback would be the
# r13 36s-class regression: the audit catches it per-round, this makes
# it fail the SUITE. (The whole catalog is audited by explain_audit;
# these are the expression-ladder-heaviest representatives.)
_CODEGEN_FLAGSHIPS = [
    "url_canonical_dedup",
    "url_deep_psl_domains",
    "url_private_psl_domains",
    "text_stats_per_doc",
    "quality_linear_score_topk",
]


@pytest.mark.parametrize("name", _CODEGEN_FLAGSHIPS)
def test_flagship_stays_inside_codegen(spark, name):
    from lightsaber_spark.plan_audit import codegen_flags, formatted_plan

    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF_DIR)
    p = formatted_plan(df, adaptive=False)
    assert not codegen_flags(p), (
        f"{name}: a Project/Filter left whole-stage codegen — the r13 "
        "interpreted-fallback class; stage derived expressions as named "
        f"columns (registrable_domains_frame pattern)\n{p[:800]}"
    )


def test_audit_flags_row_python_udf(spark):
    """ROW_PYTHON must fire on a row-at-a-time Python UDF (pickled
    BatchEvalPython — the 10-100× slow path the engine bans) and stay
    silent on the Arrow-batched pandas twin."""
    from pyspark.sql.functions import pandas_udf, udf

    from lightsaber_spark.plan_audit import plan_flags

    df = spark.range(10)
    slow = df.select(udf(lambda x: x + 1, "long")("id").alias("y"))
    assert "ROW_PYTHON" in plan_flags(_formatted(spark, slow))

    fast = df.select(pandas_udf(lambda s: s + 1, "long")("id").alias("y"))
    assert "ROW_PYTHON" not in plan_flags(_formatted(spark, fast))


def test_audit_flags_interpreted_case_ladder(spark):
    """NO_CODEGEN must fire on the r13 failure class: a CASE ladder
    whose branch-local higher-order-function copies blow the expression
    text past any sane codegen budget and silently run INTERPRETED
    (the inline private-PSL ladder cost 36s vs 1.15s staged at sf0.1).
    The synthetic rebuilds the shape: a derived HOF tail copied into
    every branch of an InSet ladder, >256 KB of expression text."""
    from lightsaber_spark.plan_audit import codegen_flags, formatted_plan

    df = spark.range(10).selectExpr("concat('h', id, '.example.com') AS s")
    tail = "array_join(transform(split(lower(s), '\\\\.'), x -> x), '.')"
    branches = []
    for b in range(32):
        vals = ",".join(f"'v{b}_{i}'" for i in range(1500))
        branches.append(f"WHEN {tail} IN ({vals}) THEN {tail}")
    ladder = df.selectExpr("CASE " + " ".join(branches) + " ELSE s END AS rd")
    p = formatted_plan(ladder, adaptive=False)
    flags = codegen_flags(p)
    assert any(f.startswith("NO_CODEGEN") for f in flags), p[:600]


def test_audit_codegen_disabled_trips_flag(spark):
    """With whole-stage codegen turned off, even a trivial filter plan
    runs interpreted — the flag must fire; the identical plan with
    codegen on must stay silent (proves the star parsing is live)."""
    from lightsaber_spark.plan_audit import codegen_flags, formatted_plan

    spark.catalog.clearCache()

    def shape():
        return spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
            "user_id > 3"
        ).select("user_id", "value")

    old = spark.conf.get("spark.sql.codegen.wholeStage")
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        broken = formatted_plan(shape(), adaptive=False)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", old)
    assert codegen_flags(broken), broken[:600]

    healthy = formatted_plan(shape(), adaptive=False)
    assert not codegen_flags(healthy), healthy[:600]


def test_audit_bounded_hof_fallback_is_benign(spark):
    """A small Project using array HOFs (CodegenFallback by design in
    Spark) is the engine's documented pattern outside hot paths — it
    must NOT flag; only the oversized-ladder class does."""
    from lightsaber_spark.plan_audit import codegen_flags, formatted_plan

    df = spark.range(10).selectExpr(
        "transform(sequence(1, 3), x -> x * id) AS arr"
    )
    p = formatted_plan(df, adaptive=False)
    assert not codegen_flags(p), p[:600]


def test_audit_scalar_broadcast_nested_loop_is_benign(spark):
    """A BroadcastNestedLoopJoin whose broadcast side is a grouping-free
    aggregate (provably ONE row — the scalar-attach pattern: corpus
    counts, dense sketch bitmaps) is not a scale hazard and must NOT
    flag; the moment the broadcast side has grouping keys (unbounded
    rows) the flag fires again."""
    from lightsaber_spark.plan_audit import plan_flags

    big = spark.range(1000)
    scalar = spark.range(50).agg(F.count(F.lit(1)).alias("n"))
    p = _formatted(spark, big.crossJoin(F.broadcast(scalar)))
    assert "NESTED_LOOP" not in plan_flags(p), p

    keyed = spark.range(50).groupBy((F.col("id") % 5).alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    p2 = _formatted(spark, big.crossJoin(F.broadcast(keyed)))
    assert "NESTED_LOOP" in plan_flags(p2), p2


def test_audit_flags_unbounded_global_window(spark):
    """GLOBAL_WINDOW (r15): a Window with an EMPTY partition spec over
    RAW rows serializes the whole input through one task — flagged.
    The same window over an aggregate intermediate (the catalog's 11
    documented shapes: bucket offsets, exact median, distinct-value
    ranks, chunk boundary tables) is bounded and must NOT flag."""
    from pyspark.sql import Window

    from lightsaber_spark.plan_audit import plan_flags

    w = Window.orderBy("id")
    raw = spark.range(1000).withColumn("rk", F.row_number().over(w))
    p = _formatted(spark, raw)
    assert any(f.startswith("GLOBAL_WINDOW") for f in plan_flags(p)), p

    # bounded: the global window reads a grouped-aggregate intermediate
    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wk = Window.orderBy("k")
    over_agg = agg.withColumn("cum", F.sum("n").over(wk))
    p2 = _formatted(spark, over_agg)
    assert not any(f.startswith("GLOBAL_WINDOW") for f in plan_flags(p2)), p2

    # a PARTITIONED window over raw rows is fine (distributes by key)
    wp = Window.partitionBy(F.col("id") % 7).orderBy("id")
    part = spark.range(1000).withColumn("rk", F.row_number().over(wp))
    p3 = _formatted(spark, part)
    assert not any(f.startswith("GLOBAL_WINDOW") for f in plan_flags(p3)), p3
