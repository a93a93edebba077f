"""Canonical query catalog — the driver-facing parity surface.

Each entry re-expresses one reference benchmark query (SURVEY.md §5's
table: CM1/CM2, SG1-3, LRB1-2, ME1, YSB, NBQ5) over the TESTDATA
tables, since the driver's correctness gate runs on those. The mapping
keeps the *operator shape* (filter → project → window agg → having →
post-op; static join; theta join; row windows) while substituting
testdata columns for the reference fixture columns:

  reference stream attr        testdata analog
  ------------------------     -----------------------------
  timestamp (attr 0, long)  →  events.ts (timestamp)
  group keys (jobId, plug…) →  events.user_id / event_type
  measure (cpu, value…)     →  events.value
  campaigns static table    →  customer (broadcast dim)

Every Spark query registers through ``registry.query`` with a DuckDB
oracle twin carrying identical column aliases.

Float determinism: SUM/AVG over doubles is order-dependent, and a
distributed engine cannot fix the order — a rounding boundary can then
flip the last emitted decimal vs the oracle. The testdata money-like
columns are exact 2-decimal values, so parity queries aggregate
**integer cents** (exact, order-independent) and divide once at the
end — both engines then produce bit-identical doubles. MIN/MAX are
order-independent and stay direct.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — required so pandas-UDF type hints resolve
from pyspark.sql import DataFrame, SparkSession, functions as F

from lightsaber_spark.session import load_tables
from lightsaber_spark.operators import (
    post_window_argmax,
    range_join,
    row_window_agg,
    static_hash_join,
    theta_join,
    windowed_agg,
    window_spine,
    window_topk,
)
from lightsaber_spark.operators.window_agg import gap_filled
from lightsaber_spark.registry import query


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, ("events",))["events"]


def _cents(col: str) -> F.Column:
    """Exact integer cents of a 2-decimal double column."""
    return F.round(F.col(col) * 100).cast("bigint")


def _with_cents(df: DataFrame, col: str = "value") -> DataFrame:
    return df.withColumn(f"{col}_c", _cents(col))


# DuckDB oracle helpers (mirror operators/window_agg.py integer-µs math)
CENTS = "CAST(round(value * 100) AS BIGINT)"


def _floor_min_start(x_us: str, size: int, slide: int) -> str:
    """Smallest slide-multiple (in SECONDS) strictly greater than
    ``x_us − size``: exact integer floor((x−size)/step) + 1. The shifted
    operand is negative whenever x < size (near-epoch data) and DuckDB's
    integer ``//`` truncates toward zero there — subtracting the
    positive mod first makes the numerator an exact multiple, so
    truncation and floor agree (mirrors window_agg.py's F.pmod form)."""
    step = slide * 1_000_000
    sh = f"({x_us} - {size * 1_000_000})"
    return f"((({sh} - (({sh} % {step}) + {step}) % {step}) // {step} + 1) * {slide})"


def _slide_expand(size: int, slide: int, src: str = "events", pred: str = "TRUE") -> str:
    """Per-row expansion of sliding-window starts, exact integer µs."""
    return f"""
      SELECT *, unnest(generate_series(
          {_floor_min_start("epoch_us(ts)", size, slide)},
          (epoch_us(ts) // {slide * 1_000_000}) * {slide},
          {slide})) AS window_start
      FROM {src} WHERE {pred}
    """


# ---------------------------------------------------------------------------
# CM1 — sliding sum grouped by small-domain key
# (ref: test/benchmarks/applications/ClusterMonitoring/CM1.cpp:20-30 —
#  sum(cpu) GROUP BY category, window(60,1))
# ---------------------------------------------------------------------------
@query(
    "cm1_sliding_sum_by_type",
    f"""
    WITH e AS (SELECT ts, event_type, {CENTS} AS value_c FROM events),
    x AS ({_slide_expand(1800, 300, src="e")})
    SELECT window_start, event_type,
           CAST(sum(value_c) AS BIGINT) / 100.0 AS sum_value,
           count(*) AS n
    FROM x GROUP BY 1, 2
    """,
    canonical=True,
)
def cm1(spark, sf_dir):
    """CM1 (ClusterMonitoring): sliding sum(value cents) per
    event_type, window 60/1 s — gcd-pane path."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(ev, "ts", 1800, 300,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")],
                     ["event_type"])
    return r.select(
        "window_start", "event_type",
        (F.col("sum_c") / 100.0).alias("sum_value"), "n",
    )


# ---------------------------------------------------------------------------
# CM2 — filter → sliding sum grouped by high-cardinality key
# (ref: CM2.cpp:24-39 — WHERE eventType==3 → sum(cpu) GROUP BY jobId)
# ---------------------------------------------------------------------------
@query(
    "cm2_filter_sliding_sum_by_user",
    f"""
    WITH e AS (SELECT ts, user_id, {CENTS} AS value_c FROM events
               WHERE event_type = 'click'),
    x AS ({_slide_expand(1800, 300, src="e")})
    SELECT window_start, user_id, CAST(sum(value_c) AS BIGINT) / 100.0 AS sum_value
    FROM x GROUP BY 1, 2
    """,
    canonical=True,
)
def cm2(spark, sf_dir):
    """CM2: filtered (event_type) sliding sum per user_id, window 60/1
    s."""
    ev = _with_cents(_events(spark, sf_dir).filter(F.col("event_type") == "click"))
    r = windowed_agg(ev, "ts", 1800, 300, [("sum", "value_c", "sum_c")], ["user_id"])
    return r.select("window_start", "user_id", (F.col("sum_c") / 100.0).alias("sum_value"))


# ---------------------------------------------------------------------------
# SG1 — global avg over a long sliding window (pane-optimized path)
# (ref: SmartGrid/SG1.cpp:17-24 — avg(value), window(3600,1))
# ---------------------------------------------------------------------------
@query(
    "sg1_global_sliding_avg",
    f"""
    WITH e AS (SELECT ts, {CENTS} AS value_c FROM events),
    x AS ({_slide_expand(3600, 600, src="e")})
    SELECT window_start,
           CAST(sum(value_c) AS BIGINT) / 100.0 / count(*) AS avg_value,
           count(*) AS n
    FROM x GROUP BY 1
    """,
    canonical=True,
)
def sg1(spark, sf_dir):
    """SG1 (SmartGrid): GLOBAL (ungrouped) sliding avg(value), pane-decomposed."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(ev, "ts", 3600, 600,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")])
    return r.select(
        "window_start",
        (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"), "n",
    )


# ---------------------------------------------------------------------------
# SG1 at the TRUE reference parameters — window(3600, 1): ratio 3600,
# the workload LightSaber exists for. Output is thinned to minute-aligned
# windows, and a window set emitting only starts % M == 0 equals the
# same windows computed at slide gcd(size, M) (the reference's gcd
# slicing, ``WindowDefinition.h:80-90``, applied to the emitted starts):
# gcd(3600, 60) = 60, so this computes window(3600, 60) on the pane
# path, ratio 60 instead of 3600, and every start is already % 60. The
# oracle keeps the full 1 s formulation, so parity proves the two forms
# equal. The ratio-3600 prefix path stays covered by
# test_window_properties, test_prefix_spine_attach_shapes and
# scripts/strategy_bench.py.
# ---------------------------------------------------------------------------
@query(
    "sg1_ref_window_3600_1",
    f"""
    WITH e AS (SELECT ts, {CENTS} AS value_c FROM events),
    p AS (SELECT epoch_us(ts) // 1000000 AS pane, sum(value_c) AS s,
                 count(*) AS c
          FROM e GROUP BY 1),
    b AS (SELECT min(epoch_us(ts)) // 1000000 AS lo,
                 max(epoch_us(ts)) // 1000000 AS hi FROM e),
    spine AS (SELECT unnest(generate_series(lo, hi + 3599, 1)) AS pane FROM b),
    d AS (SELECT spine.pane, coalesce(s, 0) AS s, coalesce(c, 0) AS c
          FROM spine LEFT JOIN p USING (pane)),
    cum AS (SELECT pane,
                   sum(s) OVER (ORDER BY pane ROWS UNBOUNDED PRECEDING) AS cs,
                   sum(c) OVER (ORDER BY pane ROWS UNBOUNDED PRECEDING) AS cc
            FROM d),
    win AS (SELECT pane,
                   cs - coalesce(lag(cs, 3600) OVER (ORDER BY pane), 0) AS ws,
                   cc - coalesce(lag(cc, 3600) OVER (ORDER BY pane), 0) AS wc
            FROM cum)
    SELECT pane - 3599 AS window_start,
           CAST(ws AS BIGINT) / 100.0 / CAST(wc AS BIGINT) AS avg_value,
           CAST(wc AS BIGINT) AS n
    FROM win WHERE wc > 0 AND (pane - 3599) % 60 = 0
    """,
    canonical=True,
)
def sg1_ref(spark, sf_dir):
    """SG1 at the reference's true window(3600,1), minute-aligned
    starts only: computed at slide gcd(3600, 60) = 60."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(ev, "ts", 3600, 60,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")])
    return r.select(
        "window_start",
        (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"), "n",
    )


# ---------------------------------------------------------------------------
# SG1 shape with NON-INVERTIBLE aggregates — min/max over the same true
# window(3600, 1), minute-aligned starts only, so computed as
# window(3600, 60) on the pane path like sg1_ref above. At full ratio
# the prefix path answers min/max with the van Herk–Gil–Werman two-level block maxima (the
# relational analog of the reference's AggregationTree,
# ``src/utils/AggregationTree.h``). The DuckDB oracle is the positional
# frame max/min over the dense 1 s pane spine.
# ---------------------------------------------------------------------------
@query(
    "sg1_ref_window_3600_1_minmax",
    f"""
    WITH e AS (SELECT ts, {CENTS} AS value_c FROM events),
    p AS (SELECT epoch_us(ts) // 1000000 AS pane, max(value_c) AS mx,
                 min(value_c) AS mn, count(*) AS c
          FROM e GROUP BY 1),
    b AS (SELECT min(epoch_us(ts)) // 1000000 AS lo,
                 max(epoch_us(ts)) // 1000000 AS hi FROM e),
    spine AS (SELECT unnest(generate_series(lo, hi + 3599, 1)) AS pane FROM b),
    d AS (SELECT spine.pane, mx, mn, coalesce(c, 0) AS c
          FROM spine LEFT JOIN p USING (pane)),
    win AS (SELECT pane,
                   max(mx) OVER w AS wmx, min(mn) OVER w AS wmn,
                   sum(c) OVER w AS wc
            FROM d
            WINDOW w AS (ORDER BY pane
                         ROWS BETWEEN 3599 PRECEDING AND CURRENT ROW))
    SELECT pane - 3599 AS window_start,
           CAST(wmx AS BIGINT) / 100.0 AS max_value,
           CAST(wmn AS BIGINT) / 100.0 AS min_value,
           CAST(wc AS BIGINT) AS n
    FROM win WHERE wc > 0 AND (pane - 3599) % 60 = 0
    """,
    watch=True,  # non-invertible MIN/MAX at ratio 60, a bench headline query
)
def sg1_ref_minmax(spark, sf_dir):
    """Non-invertible MIN/MAX at window(3600,1), minute-aligned starts
    only: computed at slide gcd(3600, 60) = 60."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(
        ev, "ts", 3600, 60,
        [("max", "value_c", "max_c"), ("min", "value_c", "min_c"),
         ("count", None, "n")],
    )
    return r.select(
        "window_start",
        (F.col("max_c") / 100.0).alias("max_value"),
        (F.col("min_c") / 100.0).alias("min_value"),
        "n",
    )


# ---------------------------------------------------------------------------
# CM1 at the TRUE reference parameters — window(60, 1), grouped, with
# starts thinned to multiples of 300 s. As in sg1_ref, those windows
# equal the ones computed at slide gcd(60, 300) = 60: a tumbling
# aggregation, then keep % 300. The oracle keeps the full 1 s expansion.
# ---------------------------------------------------------------------------
@query(
    "cm1_ref_window_60_1",
    f"""
    WITH e AS (SELECT ts, user_id % 5 AS category, {CENTS} AS value_c FROM events),
    x AS ({_slide_expand(60, 1, src="e")})
    SELECT window_start, category,
           CAST(sum(value_c) AS BIGINT) / 100.0 AS sum_value, count(*) AS n
    FROM x GROUP BY 1, 2
    HAVING window_start % 300 = 0
    """,
    canonical=True,
)
def cm1_ref(spark, sf_dir):
    """CM1 at the reference's true window(60,1) parameters, starts
    % 300 only: computed as tumbling window(60, 60)."""
    ev = _with_cents(
        _events(spark, sf_dir).withColumn("category", F.col("user_id") % 5)
    )
    r = windowed_agg(ev, "ts", 60, 60,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")],
                     ["category"])
    return r.filter(F.col("window_start") % 300 == 0).select(
        "window_start", "category",
        (F.col("sum_c") / 100.0).alias("sum_value"), "n",
    )


# ---------------------------------------------------------------------------
# SG2 — tumbling avg grouped by multiple keys
# (ref: SG2.cpp:21-31 — avg(value) GROUP BY plug,household,house, window(128,1))
# ---------------------------------------------------------------------------
@query(
    "sg2_tumbling_avg_by_user_type",
    f"""
    WITH e AS (SELECT ts, user_id, event_type, {CENTS} AS value_c FROM events)
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, user_id, event_type,
           CAST(sum(value_c) AS BIGINT) / 100.0 / count(*) AS avg_value
    FROM e GROUP BY 1, 2, 3
    """,
    canonical=True,
)
def sg2(spark, sf_dir):
    """SG2: tumbling avg grouped by (user_id, event_type) — one map-combinable aggregate."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(ev, "ts", 3600, 3600,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")],
                     ["user_id", "event_type"])
    return r.select(
        "window_start", "user_id", "event_type",
        (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# SG3 — key-filter → long sliding avg by key
# (ref: SG3.cpp:16-31 — WHERE household==3 → avg GROUP BY plug,household,house)
# ---------------------------------------------------------------------------
@query(
    "sg3_filter_sliding_avg_by_user",
    f"""
    WITH e AS (SELECT ts, user_id, {CENTS} AS value_c FROM events
               WHERE user_id % 10 = 3),
    x AS ({_slide_expand(3600, 600, src="e")})
    SELECT window_start, user_id,
           CAST(sum(value_c) AS BIGINT) / 100.0 / count(*) AS avg_value
    FROM x GROUP BY 1, 2
    """,
    canonical=True,
)
def sg3(spark, sf_dir):
    """SG3: filtered sliding avg per user — selection pushed below the
    window aggregation."""
    ev = _with_cents(_events(spark, sf_dir).filter(F.col("user_id") % 10 == 3))
    r = windowed_agg(ev, "ts", 3600, 600,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")], ["user_id"])
    return r.select(
        "window_start", "user_id",
        (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# LRB1 — derived grouping key → sliding avg → HAVING
# (ref: LinearRoadBenchmark/LRB1.cpp:23-51 — segment=position/5280,
#  avg(speed) GROUP BY highway,direction,segment HAVING avg<40)
# HAVING is evaluated on exact integers (sum_c < 100*100*n ⇔ avg < 100):
# fully order-independent, like the post-agg Selection the reference
# injects (OperatorKernel.h:176-180).
# ---------------------------------------------------------------------------
@query(
    "lrb1_derived_key_having",
    f"""
    WITH e AS (SELECT ts, event_type, CAST(floor(value / 50) AS BIGINT) AS segment,
                      {CENTS} AS value_c
               FROM events),
    x AS ({_slide_expand(1800, 300, src="e")})
    SELECT window_start, event_type, segment,
           CAST(sum(value_c) AS BIGINT) / 100.0 / count(*) AS avg_value
    FROM x GROUP BY 1, 2, 3
    HAVING CAST(sum(value_c) AS BIGINT) < 10000 * count(*)
    """,
    canonical=True,
)
def lrb1(spark, sf_dir):
    """LRB1 (LinearRoad): derived expression group key + HAVING over
    the windowed aggregate."""
    ev = _with_cents(
        _events(spark, sf_dir).withColumn(
            "segment", F.floor(F.col("value") / 50).cast("bigint")
        )
    )
    r = windowed_agg(ev, "ts", 1800, 300,
                     [("sum", "value_c", "sum_c"), ("count", None, "n")],
                     ["event_type", "segment"])
    return (
        r.filter(F.col("sum_c") < 10000 * F.col("n"))
        .select(
            "window_start", "event_type", "segment",
            (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# LRB2 — count-based (ROW_BASED) tumbling window
# (ref: LRB2.cpp:22-111 — cnt GROUP BY keys, row window 1024/1024;
#  WindowDefinition.h:13 ROW_BASED measure)
# ---------------------------------------------------------------------------
@query(
    "lrb2_row_window_count",
    f"""
    WITH e AS (SELECT ts, event_id, event_type, {CENTS} AS value_c FROM events),
    idx AS (
      SELECT event_type, value_c,
             (row_number() OVER (ORDER BY ts, event_id) - 1) // 1000 AS window_id
      FROM e
    )
    SELECT window_id, event_type, count(*) AS n,
           CAST(sum(value_c) AS BIGINT) / 100.0 AS sum_value
    FROM idx GROUP BY 1, 2
    """,
    canonical=True,
)
def lrb2(spark, sf_dir):
    """LRB2: COUNT-based (row) window — global two-pass row indexing,
    no single-task sort."""
    ev = _with_cents(_events(spark, sf_dir))
    r = row_window_agg(
        ev, ["ts", "event_id"], 1000, None,
        [("count", None, "n"), ("sum", "value_c", "sum_c")],
        ["event_type"],
    )
    return r.select(
        "window_id", "event_type", "n", (F.col("sum_c") / 100.0).alias("sum_value")
    )


# ---------------------------------------------------------------------------
# LRB3 — two-stage query DAG: windowed agg → row window over its output
# (ref: applicationsWithCheckpoints/LinearRoadBenchmark/LRB3.cpp:677-738 —
#  stage 1 windowed cnt, stage 2 row window 1024/1024; DAG wiring via
#  Query::connectTo, src/utils/Query.h:111)
# ---------------------------------------------------------------------------
@query(
    "lrb3_two_stage_dag",
    """
    WITH s1 AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, user_id,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT n, (row_number() OVER (ORDER BY window_start, user_id) - 1) // 256
               AS window_id
      FROM s1
    )
    SELECT window_id, count(*) AS n_rows, CAST(sum(n) AS BIGINT) AS total_events
    FROM idx GROUP BY 1
    """,
    canonical=True,
)
def lrb3(spark, sf_dir):
    """LRB3: two chained windowed aggregations (the reference's
    connectTo query DAG)."""
    ev = _events(spark, sf_dir)
    stage1 = windowed_agg(ev, "ts", 3600, 3600, [("count", None, "n")], ["user_id"])
    return row_window_agg(
        stage1, ["window_start", "user_id"], 256, None,
        [("count", None, "n_rows"), ("sum", "n", "total_events")],
        bucket_expr=F.floor(F.col("window_start") / 86400).cast("bigint"),
    )


# ---------------------------------------------------------------------------
# ME1 — multi-aggregate global tumbling window
# (ref: ManufacturingEquipment/ME1.cpp:20-33 — avg(mf01),avg(mf02),avg(mf03))
# ---------------------------------------------------------------------------
@query(
    "me1_multi_agg_tumbling",
    f"""
    WITH e AS (SELECT ts, value, {CENTS} AS value_c FROM events)
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
           CAST(sum(value_c) AS BIGINT) / 100.0 / count(*) AS avg_value,
           min(value) AS min_value,
           max(value) AS max_value,
           count(*) AS n
    FROM e GROUP BY 1
    """,
    canonical=True,
)
def me1(spark, sf_dir):
    """ME1 (ManufacturingEquipment): multiple aggregates
    (sum/avg/min/max) in ONE tumbling pass."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(ev, "ts", 3600, 3600, [
        ("sum", "value_c", "sum_c"),
        ("min", "value", "min_value"),
        ("max", "value", "max_value"),
        ("count", None, "n"),
    ])
    return r.select(
        "window_start",
        (F.col("sum_c") / 100.0 / F.col("n")).alias("avg_value"),
        "min_value", "max_value", "n",
    )


# ---------------------------------------------------------------------------
# YSB — filter → project → broadcast static join → tumbling cnt/max
# (ref: YahooBenchmark/YSB.cpp:153-202 — WHERE event_type==0 → join
#  campaigns → cnt, max(ts) GROUP BY campaign_id, window(100,100))
# ---------------------------------------------------------------------------
@query(
    "ysb_static_join_tumbling",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, c_mktsegment,
           count(*) AS n, max(epoch_us(ts)) AS max_ts_us
    FROM events JOIN customer ON user_id = c_custkey
    WHERE event_type = 'view'
    GROUP BY 1, 2
    """,
    canonical=True,
)
def ysb(spark, sf_dir):
    """YSB (Yahoo): stream x static broadcast hash join then tumbling
    count per campaign."""
    t = load_tables(spark, sf_dir, ("events", "customer"))
    stream = (
        t["events"].filter(F.col("event_type") == "view")
        .select("ts", "user_id")  # projection (ref Projection.h:14-71)
    )
    dim = t["customer"].select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    joined = static_hash_join(stream, dim, "user_id")
    return windowed_agg(
        joined.withColumn("ts_us", F.unix_micros("ts")),
        "ts", 3600, 3600,
        [("count", None, "n"), ("max", "ts_us", "max_ts_us")],
        ["c_mktsegment"],
    )


# ---------------------------------------------------------------------------
# NBQ5 — tumbling count per key → post-window argmax (ties kept)
# (ref: Nexmark/NBQ5.cpp:20-44,73-103 — bid count per auction, window(60,1),
#  post-op emits auction(s) with the max count)
# ---------------------------------------------------------------------------
@query(
    "nbq5_post_window_argmax",
    """
    WITH c AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, user_id,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, n FROM c
    QUALIFY n = max(n) OVER (PARTITION BY window_start)
    """,
    canonical=True,
)
def nbq5(spark, sf_dir):
    """NBQ5 (NEXMark): windowed count per key + post-window argmax
    (the reference's custom post-op)."""
    ev = _events(spark, sf_dir)
    counts = windowed_agg(ev, "ts", 3600, 3600, [("count", None, "n")], ["user_id"])
    return post_window_argmax(counts, ["window_start"], "user_id", "n", keep_ties=True)


# ---------------------------------------------------------------------------
# Gap fill — empty-window emission (ref OperatorKernel.h:3830-3988)
# ---------------------------------------------------------------------------
@query(
    "gapfill_tumbling_count",
    f"""
    WITH e AS (SELECT ts, {CENTS} AS value_c FROM events),
    b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM e),
    spine AS (
      SELECT unnest(generate_series(
        {_floor_min_start("lo", 21600, 21600)},
        (hi // 21600000000) * 21600, 21600)) AS window_start
      FROM b
    ),
    agg AS (
      SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start, count(*) AS n,
             CAST(sum(value_c) AS BIGINT) / 100.0 AS sum_value
      FROM e GROUP BY 1
    )
    SELECT s.window_start, coalesce(a.n, 0) AS n, a.sum_value
    FROM spine s LEFT JOIN agg a USING (window_start)
    """,
)
def gapfill(spark, sf_dir):
    """Empty-window emission: tumbling counts left-joined onto the
    full window spine (count->0)."""
    ev = _with_cents(_events(spark, sf_dir))
    aggs = [("count", None, "n"), ("sum", "value_c", "sum_c")]
    agg = windowed_agg(ev, "ts", 21600, 21600, aggs).select(
        "window_start", "n", (F.col("sum_c") / 100.0).alias("sum_value")
    )
    spine = window_spine(ev, "ts", 21600, 21600)
    return gap_filled(agg, spine, [("count", None, "n"), ("sum", "value_c", "sum_value")])


# ---------------------------------------------------------------------------
# Range (interval) join — left timestamp within a right-side interval
# (beyond-parity: the reference has only theta + static joins, §2.7)
# ---------------------------------------------------------------------------
@query(
    "range_join_ship_within_60d",
    """
    SELECT o_orderkey, count(*) AS n_lines
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    """,
)
def range_join_q(spark, sf_dir):
    """Equality key (orderkey) + interval containment: Catalyst
    extracts the equi conjunct as the hash-join key, the interval is a
    residual filter — no nested loop."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    orders = t["orders"].select(
        "o_orderkey", "o_orderdate",
        (F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("_hi"),
    )
    joined = range_join(
        li, orders, "l_shipdate", "o_orderdate", "_hi",
        extra=F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))


# ---------------------------------------------------------------------------
# Salted skew join — 75% of event rows share one key; the salt spreads
# the hot key over n_salts reducers while the result stays the exact
# equi join (operators/joins.py salted_join). At this SF a broadcast
# would hide the skew, so the build side is left un-broadcast on
# purpose; the oracle is the plain join.
# ---------------------------------------------------------------------------
@query(
    "salted_skew_join_counts",
    """
    WITH e AS (SELECT CASE WHEN user_id % 4 > 0 THEN 1 ELSE user_id END AS k
               FROM events)
    SELECT c_mktsegment, count(*) AS n_events
    FROM e JOIN customer ON c_custkey = k
    GROUP BY 1
    """,
)
def salted_skew_join(spark, sf_dir):
    """Skew-safe equi-join: deterministic salt on the hot key x
    replicated build side — exact result."""
    from lightsaber_spark.operators import salted_join

    t = load_tables(spark, sf_dir, ("events", "customer"))
    ev = t["events"].select(
        F.when(F.col("user_id") % 4 > 0, F.lit(1))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("k")
    )
    cust = t["customer"].select(
        F.col("c_custkey").cast("bigint").alias("k"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, "k", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_events"))


# ---------------------------------------------------------------------------
# Approximate distinct (HLL++) — no oracle: DuckDB's approx sketch is a
# different algorithm, so values differ by design; the driver records
# the weaker rows-only check. The EXACT twin (window_distinct_users)
# is the correctness anchor; this entry is the 100 TB path where exact
# distinct's expand-shuffle is too expensive.
# ---------------------------------------------------------------------------
@query("window_approx_distinct_users", None)
def window_approx_distinct(spark, sf_dir):
    """Windowed approx_count_distinct (HLL++) — native estimator,
    rows-only check by design."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            _exact_bucket(epoch_us(ev, "ts"), 3600).alias("window_start"), "event_type"
        )
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n_users_approx"))
    )


# ---------------------------------------------------------------------------
# KMV distinct sketch — the strong-checked approximate-distinct path:
# unlike HLL, every randomized choice derives from md5(value), so DuckDB
# reproduces the identical estimate (functions/sketches.py). k=64 so the
# estimator branch actually fires at the driver's sf0.01 gate (150
# distinct users per event_type there); below 64 distinct it is exact.
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.sketches import (  # noqa: E402
    count_min_oracle_sql,
    kmv_distinct,
    kmv_oracle_sql,
)


@query(
    "kmv_distinct_users_by_type",
    kmv_oracle_sql("events", ["event_type"], "user_id", k=64,
                   out_col="n_users_kmv"),
)
def kmv_distinct_users(spark, sf_dir):
    """KMV (k-minimum-values) distinct estimate per event_type —
    md5-deterministic, oracle reproduces the exact estimate."""
    ev = _events(spark, sf_dir)
    return kmv_distinct(ev, ["event_type"], "user_id", k=64, out_col="n_users_kmv")


@query(
    "window_kmv_distinct_users",
    kmv_oracle_sql(
        "(SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start, "
        "user_id FROM events)",
        ["window_start"], "user_id", k=64, out_col="n_users_kmv",
    ),
)
def window_kmv_distinct_users(spark, sf_dir):
    """Sketches compose with windows: KMV distinct-user estimate per 6h
    tumbling window (exact below k=64) — the bounded-state windowed
    distinct for 100 TB, strong-checked where HLL can only be
    rows-checked."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = _events(spark, sf_dir)
    w = ev.withColumn("window_start", _exact_bucket(epoch_us(ev, "ts"), 21600))
    return kmv_distinct(w, ["window_start"], "user_id", k=64,
                        out_col="n_users_kmv")


@query(
    "cm_sketch_user_counts",
    count_min_oracle_sql(
        "events", "user_id", "_x < 20", width=256, depth=4,
        value_name="user_id",
    ),
)
def cm_sketch_user_counts(spark, sf_dir):
    """Count-Min frequency estimates (the sketch family's frequency
    member, next to KMV-distinct and bottom-k quantiles): build the
    256×4 md5-bucketed sketch over events.user_id, then point-estimate
    the counts of user_ids < 20. Cells are bit-equal in the oracle, so
    the (over)estimates compare exactly."""
    from lightsaber_spark.functions.sketches import (
        count_min_lookup,
        count_min_table,
    )

    ev = _events(spark, sf_dir)
    sk = count_min_table(ev, "user_id", width=256, depth=4)
    q = ev.select("user_id").filter(F.col("user_id") < 20).distinct()
    return count_min_lookup(sk, q, "user_id", width=256, depth=4)


# ---------------------------------------------------------------------------
# NoOp — identity / data-movement baseline
# (ref: src/cql/operators/NoOp.h:14-65 — the reference's throughput-
#  measurement operator; here: a full scan-and-forward of events)
# ---------------------------------------------------------------------------
@query(
    "noop_scan",
    "SELECT event_id, user_id, event_type, value FROM events",
)
def noop_scan(spark, sf_dir):
    """NoOp operator: full scan pass-through (data-movement baseline)."""
    return _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# Windowed value profile — stddev/median (SURVEY §2.8: absent in the
# reference; standard telemetry aggregates a complete engine needs).
# Variance from exact integer power sums (order-independent):
# var = (n·Σx² − (Σx)²) / (n(n−1)) over integer cents.
# ---------------------------------------------------------------------------
@query(
    "window_value_profile",
    f"""
    WITH e AS (SELECT ts, {CENTS} AS x FROM events),
    g AS (
      SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start,
             count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             CAST(quantile_cont(x, 0.5) AS DOUBLE) AS med_c
      FROM e GROUP BY 1
    )
    SELECT window_start, n,
           CASE WHEN n > 1 THEN
             sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) / 100.0 END AS stddev_value,
           med_c / 100.0 AS median_value
    FROM g
    """,
)
def window_profile(spark, sf_dir):
    """Tumbling multi-statistic value profile (count/sum/min/max/avg)
    per window."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = _with_cents(_events(spark, sf_dir))
    g = ev.groupBy(
        _exact_bucket(epoch_us(ev, "ts"), 21600).alias("window_start")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_c").alias("sx"),
        F.sum(F.col("value_c") * F.col("value_c")).alias("sxx"),
        F.expr("percentile(value_c, 0.5)").alias("med_c"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    return g.select(
        "window_start", "n",
        F.when(n > 1, F.sqrt((n * sxx - sx * sx) / (n * (n - 1.0))) / 100.0)
         .alias("stddev_value"),
        (F.col("med_c") / 100.0).alias("median_value"),
    )


# ---------------------------------------------------------------------------
# W_AVG — weighted average over a (value, weight) pair
# (ref: AggregationType.h:12 W_AVG; lift (w, w·v) AggregationTree.h:116;
#  sliding window → exercises the pane-partial path for w_avg)
# ---------------------------------------------------------------------------
@query(
    "wavg_sliding_by_type",
    f"""
    WITH e AS (SELECT ts, event_type, {CENTS} AS value_c,
                      event_id % 7 + 1 AS w
               FROM events),
    x AS ({_slide_expand(1800, 300, src="e")})
    SELECT window_start, event_type,
           -- divide Σwv/Σw FIRST, then /100: float division is not
           -- associative and the Spark side computes (Σwv/Σw)/100
           (CAST(sum(w * value_c) AS BIGINT) / CAST(sum(w) AS BIGINT)) / 100.0
             AS wavg_value
    FROM x GROUP BY 1, 2
    """,
)
def wavg_sliding(spark, sf_dir):
    """Reference W_AVG aggregate: weighted avg over sliding windows
    per type (sum(w*v)/sum(w) lift)."""
    ev = _with_cents(_events(spark, sf_dir)).withColumn(
        "w", F.col("event_id") % 7 + 1
    )
    r = windowed_agg(
        ev, "ts", 1800, 300,
        [("w_avg", ("value_c", "w"), "wavg_c")], ["event_type"],
    )
    return r.select(
        "window_start", "event_type", (F.col("wavg_c") / 100.0).alias("wavg_value")
    )


# ---------------------------------------------------------------------------
# Gap fill, sliding variant (ref getFillEmptySlidingWindows
# OperatorKernel.h:4374-4608): every slide-aligned window start in the
# data span is emitted, including empty ones
# ---------------------------------------------------------------------------
@query(
    "gapfill_sliding_count",
    f"""
    WITH e AS (SELECT ts FROM events WHERE user_id % 50 = 7),
    b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi FROM e),
    spine AS (
      SELECT unnest(generate_series(
        {_floor_min_start("lo", 7200, 1800)},
        (hi // 1800000000) * 1800, 1800)) AS window_start
      FROM b
    ),
    x AS ({_slide_expand(7200, 1800, src="e")}),
    agg AS (SELECT window_start, count(*) AS n FROM x GROUP BY 1)
    SELECT s.window_start, coalesce(a.n, 0) AS n
    FROM spine s LEFT JOIN agg a USING (window_start)
    """,
)
def gapfill_sliding(spark, sf_dir):
    """Empty-window emission for a SLIDING window spine (distributed
    spine generation)."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") % 50 == 7)
    agg = windowed_agg(ev, "ts", 7200, 1800, [("count", None, "n")])
    spine = window_spine(ev, "ts", 7200, 1800)
    return gap_filled(agg, spine, [("count", None, "n")])


# ---------------------------------------------------------------------------
# Theta join — time-banded inequality join
# (ref: ThetaJoin.h:18-819 — symmetric windowed join, arbitrary predicate)
# ---------------------------------------------------------------------------
@query(
    "theta_join_band_count",
    """
    SELECT l.event_id AS err_id, count(*) AS n_pairs, max(r.value) AS max_click_value
    FROM (SELECT * FROM events WHERE event_type = 'error') l
    JOIN (SELECT * FROM events WHERE event_type = 'click') r
      ON epoch_us(r.ts) >= epoch_us(l.ts) - 300000000
     AND epoch_us(r.ts) <= epoch_us(l.ts) + 300000000
     AND r.value > l.value
    GROUP BY 1
    """,
)
def theta(spark, sf_dir):
    """Windowed THETA join (arbitrary band predicate) bucketized into
    an equi-join + post-filter — no nested loop."""
    ev = _events(spark, sf_dir)
    l = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("l_ts"),
        F.col("value").alias("l_value"),
    )
    r = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("r_ts"), F.col("value").alias("r_value")
    )
    joined = theta_join(
        l, r,
        predicate=F.col("r_value") > F.col("l_value"),
        left_ts="l_ts", right_ts="r_ts", max_delta_sec=300,
    )
    return joined.groupBy("err_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max("r_value").alias("max_click_value"),
    )


# ---------------------------------------------------------------------------
# TPC-H-ish relational coverage (SURVEY §2.8 — surface the reference lacks
# but a complete engine needs; Spark supplies natively)
# ---------------------------------------------------------------------------
@query(
    "tpch_q1_pricing_summary",
    """
    WITH e AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_c
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(qty_c) AS BIGINT) / 100.0 AS sum_qty,
           CAST(sum(price_c) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(sum(price_c * (100 - disc_c)) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(sum(disc_c) AS BIGINT) / 100.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM e GROUP BY 1, 2
    """,
)
def tpch_q1(spark, sf_dir):
    """TPC-H Q1: one-pass pricing summary, integer-cents exact, plan-contract-pinned single exchange."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    e = li.select(
        "l_returnflag", "l_linestatus",
        _cents("l_quantity").alias("qty_c"),
        _cents("l_extendedprice").alias("price_c"),
        _cents("l_discount").alias("disc_c"),
    )
    return e.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum("qty_c") / 100.0).alias("sum_qty"),
        (F.sum("price_c") / 100.0).alias("sum_base_price"),
        (F.sum(F.col("price_c") * (100 - F.col("disc_c"))) / 10000.0).alias("sum_disc_price"),
        (F.sum("disc_c") / 100.0 / F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# ROLLUP — hierarchical subtotals (SURVEY §2.8: grouping sets/rollup do
# not exist in the reference; free relational surface here). Exactness:
# integer-cent sums, one division at the end; rollup NULL rows compare
# as NULLs in both engines.
# ---------------------------------------------------------------------------
@query(
    "rollup_revenue_flag_status",
    """
    WITH e AS (SELECT l_returnflag, l_linestatus,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
               FROM lineitem)
    SELECT l_returnflag, l_linestatus,
           CAST(sum(price_c) AS BIGINT) / 100.0 AS revenue,
           count(*) AS n_lines
    FROM e GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark, sf_dir):
    """ROLLUP hierarchy totals over (returnflag, linestatus), exact
    cents."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    e = li.select(
        "l_returnflag", "l_linestatus", _cents("l_extendedprice").alias("price_c")
    )
    return e.rollup("l_returnflag", "l_linestatus").agg(
        (F.sum("price_c") / 100.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Set operations — INTERSECT / EXCEPT (SURVEY §2.8; distinct set
# semantics in both engines: Spark intersect/subtract = INTERSECT /
# EXCEPT DISTINCT).
# ---------------------------------------------------------------------------
@query(
    "setop_engaged_non_buyers",
    """
    WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_id, event_type
                FROM events)
    SELECT user_id, day_id FROM (
      (SELECT user_id, day_id FROM ud WHERE event_type = 'click'
       INTERSECT
       SELECT user_id, day_id FROM ud WHERE event_type = 'view')
      EXCEPT
      SELECT user_id, day_id FROM ud WHERE event_type = 'purchase'
    ) t
    """,
)
def setop_engaged_non_buyers(spark, sf_dir):
    """(user, day) pairs that clicked AND viewed but did not purchase
    that day — distinct set semantics at day granularity (integer day
    ids: exact cross-engine)."""
    from lightsaber_spark.operators.window_agg import epoch_us

    ev = _events(spark, sf_dir)
    us = epoch_us(ev, "ts")
    step = F.lit(86_400_000_000).cast("bigint")
    ud = ev.select(
        "user_id",
        ((us - us % step) / step).cast("bigint").alias("day_id"),
        "event_type",
    )

    def pairs(et):
        return ud.filter(F.col("event_type") == et).select("user_id", "day_id")

    return pairs("click").intersect(pairs("view")).subtract(pairs("purchase"))


# ---------------------------------------------------------------------------
# Distinct aggregate per window (SURVEY §2.8 — absent in the reference,
# required for a complete engine; Spark native partial-distinct agg)
# ---------------------------------------------------------------------------
@query(
    "window_distinct_users",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, event_type,
           count(DISTINCT user_id) AS n_users, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def window_distinct(spark, sf_dir):
    """Exact distinct users per tumbling window (count_distinct inside
    the window bucket)."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            _exact_bucket(epoch_us(ev, "ts"), 3600).alias("window_start"), "event_type"
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Top-k per window (generalizes the NBQ5 post-op argmax to k>1)
# ---------------------------------------------------------------------------
@query(
    "window_top3_users",
    """
    WITH c AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start, user_id,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, user_id, n FROM c
    QUALIFY row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, user_id ASC) <= 3
    """,
)
def window_top3(spark, sf_dir):
    """Top-3 users per window by count via rank over the windowed
    aggregate (deterministic ties)."""
    ev = _events(spark, sf_dir)
    counts = windowed_agg(ev, "ts", 3600, 3600, [("count", None, "n")], ["user_id"])
    return window_topk(counts, ["window_start"], "n", 3, tie_breakers=["user_id"])


@query(
    "tpch_q3_top_revenue",
    """
    SELECT o_orderkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY 1
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3(spark, sf_dir):
    """TPC-H Q3: unshipped-order revenue top-10 (join + agg +
    TakeOrderedAndProject)."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        joined.groupBy("o_orderkey")
        .agg(
            (
                F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))) / 10000.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H q18 shape — large-volume orders: inner aggregation with HAVING
# feeding a two-dim join (the agg→join DAG; exact cent arithmetic).
# ---------------------------------------------------------------------------
@query(
    "tpch_q18_big_orders",
    """
    WITH big AS (
      SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q_c
      FROM lineitem GROUP BY 1
      HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 25000
    )
    SELECT c_name, o_orderkey, CAST(q_c AS BIGINT) / 100.0 AS total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18(spark, sf_dir):
    """TPC-H Q18: large-quantity orders via a HAVING semi-join on the
    lineitem rollup."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("q_c"))
        .filter(F.col("q_c") > 25000)
    )
    return (
        big.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_name", "o_orderkey", (F.col("q_c") / 100.0).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# TPC-H q19 shape — disjunctive join predicate (OR of conjunct blocks
# mixing both sides): Catalyst extracts the common equi key for the
# hash join and keeps the disjunction as a residual filter; the part
# dim broadcasts.
# ---------------------------------------------------------------------------
@query(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark, sf_dir):
    """TPC-H Q19: disjunctive bracket predicates folded into one join
    condition."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li, part = t["lineitem"], t["part"]
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    q = F.col("l_quantity")

    def block(brand, size_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & q.between(q_lo, q_hi)
        )

    j = j.filter(
        block("Brand#12", 15, 1, 11)
        | block("Brand#23", 25, 10, 20)
        | block("Brand#34", 35, 20, 30)
    )
    return j.agg(
        (F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))) / 10000.0)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# CUBE — all grouping-set combinations over two dims (completes the
# rollup/cube/grouping-sets family; SURVEY §2.8).
# ---------------------------------------------------------------------------
@query(
    "cube_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark, sf_dir):
    """CUBE over (priority, status): all 4 grouping combinations with
    grouping-id."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Analytic window functions — lag over a per-key event-time ordering
# (SURVEY §2.8: no ranking/analytic functions exist in the reference).
# Exactness: deltas in integer cents; ties in ts broken by event_id so
# the ordering is total and both engines agree row-for-row.
# ---------------------------------------------------------------------------
@query(
    "lag_value_delta_per_user",
    f"""
    WITH e AS (SELECT event_id, user_id, ts, {CENTS} AS value_c FROM events),
    d AS (SELECT event_id,
                 value_c - lag(value_c) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id) AS delta_c
          FROM e)
    SELECT event_id, CAST(delta_c AS BIGINT) / 100.0 AS value_delta
    FROM d WHERE delta_c IS NOT NULL
    """,
)
def lag_value_delta(spark, sf_dir):
    """LAG window function: per-user consecutive event value deltas in
    exact cents."""
    from pyspark.sql import Window

    ev = _with_cents(_events(spark, sf_dir))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "event_id", (F.col("value_c") - F.lag("value_c").over(w)).alias("delta_c")
    )
    return d.filter(F.col("delta_c").isNotNull()).select(
        "event_id", (F.col("delta_c") / 100.0).alias("value_delta")
    )


# ---------------------------------------------------------------------------
# Semi-structured extraction — events.props is a JSON string; the
# reference has no string/JSON functions at all (SURVEY §2.2), a
# pipeline can't live without them.
# ---------------------------------------------------------------------------
@query(
    "json_props_stats_by_type",
    """
    WITH e AS (
      SELECT event_type,
             CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                      '\\A-?[0-9]+\\z')
                  THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
             END AS k
      FROM events)
    SELECT event_type,
           CAST(sum(k) AS BIGINT) AS sum_k,
           count(k) AS n_with_k
    FROM e
    GROUP BY 1
    """,
)
def json_props_stats(spark, sf_dir):
    """JSON column ops: get_json_object extraction + per-type
    aggregate over the parsed field. Both engines count rows where
    ``$.k`` exists AND matches an INTEGER regex before casting —
    the regex gate is the cross-engine contract, because the bare
    casts genuinely disagree on non-integral strings: DuckDB
    ``TRY_CAST('12.5' AS BIGINT)`` ROUNDS to 13, while this
    deployment's Spark (4.1.2, default ANSI on) would THROW on a
    plain cast and null on try_cast (r11 ADVICE — the earlier
    'Spark's cast nulls non-numeric' rationale only holds with ANSI
    off). try_cast behind the gate keeps the plan throw-free even
    for strings the regex admits."""
    ev = _events(spark, sf_dir).withColumn(
        "_ks", F.get_json_object(F.col("props"), "$.k")
    )
    # \A..\z, not ^..$: Java's $ matches BEFORE a trailing newline
    # (so '123\n' would pass the gate and try_cast trims it to 123)
    # while DuckDB's RE2 $ is end-of-text only — \A/\z mean
    # end-of-text in both engines (review finding)
    k = F.when(
        F.col("_ks").rlike(r"\A-?[0-9]+\z"),
        F.expr("try_cast(_ks AS bigint)"),
    )
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    )


# ---------------------------------------------------------------------------
# Semi / anti joins (SURVEY §2.7 lists them as absent in the reference;
# first-class here). Semi = TPC-H q4 shape; anti = the classic
# customers-without-orders.
# ---------------------------------------------------------------------------
@query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey
                    AND l_returnflag = 'R')
    GROUP BY 1
    """,
)
def tpch_q4(spark, sf_dir):
    """TPC-H q4 shape — left-semi join: orders with at least one
    qualifying lineitem (returned, as the synthetic lineitem carries no
    commit/receipt dates). The EXISTS becomes one semi join — probe
    side streams, no fan-out, dedup-free."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    late = t["lineitem"].filter(F.col("l_returnflag") == "R")
    return (
        t["orders"]
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "anti_join_churned_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= '2000-01-01')
    GROUP BY 1
    """,
)
def anti_join_churned(spark, sf_dir):
    """Left-anti join: customers with no order since 2000 ('churned'),
    counted by segment (NOT EXISTS → one anti join, the retention /
    dedup-complement shape)."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    recent = t["orders"].filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Pivot — long→wide reshaping over a fixed category list (deterministic
# schema; oracle = conditional aggregation with identical aliases).
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "pivot_event_counts_by_day",
    f"""
    SELECT epoch_us(ts) // 86400000000 AS day_id,
           {", ".join(
               f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS {t}"
               for t in _EVENT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def pivot_event_counts(spark, sf_dir):
    """PIVOT: per-day event counts spread into one column per
    event_type (fixed pivot domain)."""
    from lightsaber_spark.operators.window_agg import epoch_us

    ev = _events(spark, sf_dir)
    us = epoch_us(ev, "ts")
    step = F.lit(86_400_000_000).cast("bigint")
    day = ((us - us % step) / step).cast("bigint").alias("day_id")
    out = (
        ev.select(day, "event_type")
        .groupBy("day_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # pivot yields null for absent (day, type) combos; the oracle's
    # conditional sum yields 0 — normalize
    return out.select(
        "day_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES]
    )


@query(
    "ysb_longlong_keys",
    """
    SELECT CAST(CAST(user_id AS HUGEINT) * 18446744073709551616 + event_id
                AS VARCHAR) AS key128,
           count(*) AS n
    FROM events
    WHERE event_id % 100 = 0
    GROUP BY 1
    """,
)
def ysb_longlong(spark, sf_dir):
    """128-bit composite keys (reference LongLong/__uint128_t,
    ``src/utils/AttributeType.h:67-78``; YSB 128-bit campaign variant
    ``YahooBenchmark.h:248-263``) → ``DecimalType(38,0)`` — grouping,
    arithmetic, and equality all work; rendered as string for the
    cross-engine comparison."""
    ev = _events(spark, sf_dir).filter(F.col("event_id") % 100 == 0)
    two_64 = F.expr("CAST('18446744073709551616' AS DECIMAL(38,0))")
    key = (
        F.col("user_id").cast("decimal(38,0)") * two_64
        + F.col("event_id").cast("decimal(38,0)")
    ).cast("decimal(38,0)").cast("string").alias("key128")
    return ev.groupBy(key).agg(F.count(F.lit(1)).alias("n"))


@query(
    "tpch_q5_revenue_by_nation",
    """
    SELECT n_name,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
    GROUP BY 1
    """,
)
def tpch_q5(spark, sf_dir):
    """Multi-way join with small-dim broadcasts: nation/region/supplier
    broadcast; the lineitem⋈orders⋈customer chain shuffles on keys and
    AQE reorders/skew-splits at runtime."""
    t = load_tables(
        spark, sf_dir, ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    dims = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    joined = (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(dims), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        (
            F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))) / 10000.0
        ).alias("revenue")
    )


@query(
    "tpch_q10_returned_items",
    """
    WITH r AS (
      SELECT c_custkey, c_name, n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               / 10000.0 AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
      GROUP BY 1, 2, 3
    )
    SELECT * FROM r ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def tpch_q10(spark, sf_dir):
    """TPC-H Q10: returned-item revenue per customer, top-20."""
    t = load_tables(spark, sf_dir, ("customer", "orders", "lineitem", "nation"))
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    joined = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (
                F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))) / 10000.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q14_promo_revenue",
    """
    WITH e AS (
      SELECT p_type,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS dp
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= '1996-09-01' AND l_shipdate < '1996-10-01'
    )
    SELECT (100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN dp ELSE 0 END)
                         AS BIGINT))
             / CAST(sum(dp) AS BIGINT) AS promo_revenue_pct,
           count(*) AS n
    FROM e
    """,
)
def tpch_q14(spark, sf_dir):
    """Two exact integer accumulators, ONE division at the end —
    order-independent despite the conditional aggregate."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    e = li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey")).select(
        "p_type",
        (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("dp"),
    )
    promo = F.sum(F.when(F.col("p_type").startswith("PROMO"), F.col("dp")).otherwise(F.lit(0)))
    return e.agg(
        ((100.0 * promo) / F.sum("dp")).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "tpch_q6_banded_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             / 10000.0 AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def tpch_q6(spark, sf_dir):
    """Pure scan-filter-agg: every predicate pushes to the parquet scan
    (shipdate/quantity are plain column comparisons) — zero shuffle
    beyond the final single-row reduce."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    f = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & _cents("l_discount").between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        (F.sum(_cents("l_extendedprice") * _cents("l_discount")) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# TPC-H q7 shape — volume shipping between a nation pair: the symmetric
# two-nation join (two roles of the same dim table) with per-year
# revenue. Both nation legs broadcast; the fact chain shuffles once per
# equi key and AQE handles the rest.
# ---------------------------------------------------------------------------
@query(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           count(*) AS n
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
    GROUP BY 1, 2, 3
    """,
)
def tpch_q7(spark, sf_dir):
    """TPC-H Q7: bi-directional nation-pair shipping volumes by year."""
    t = load_tables(spark, sf_dir, ("supplier", "lineitem", "orders", "customer", "nation"))
    pair = t["nation"].filter(F.col("n_name").isin("NATION_3", "NATION_8"))
    n1 = pair.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = pair.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    supp = t["supplier"].join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    cust = t["customer"].join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
    joined = (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        (F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount"))) / 10000.0)
        .alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# TPC-H q8 shape — national market share: conditional-numerator ratio
# per year (two exact integer accumulators per group, one division at
# the end, q14-style).
# ---------------------------------------------------------------------------
@query(
    "tpch_q8_market_share",
    """
    WITH e AS (
      SELECT year(o_orderdate) AS o_year, n2.n_name AS supp_nation,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS dp
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    SELECT o_year,
           (100.0 * CAST(sum(CASE WHEN supp_nation = 'NATION_9' THEN dp ELSE 0 END)
                         AS BIGINT))
             / CAST(sum(dp) AS BIGINT) AS mkt_share_pct,
           count(*) AS n
    FROM e GROUP BY 1
    """,
)
def tpch_q8(spark, sf_dir):
    """TPC-H Q8: market-share ratio emitted as exact
    numerator/denominator cents."""
    t = load_tables(
        spark, sf_dir,
        ("part", "lineitem", "orders", "customer", "supplier", "nation", "region"),
    )
    cust_dim = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"].select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    parts = t["part"].filter(F.col("p_type") == "PROMO").select("p_partkey")
    e = (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cust_dim), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            "supp_nation",
            (_cents("l_extendedprice") * (100 - _cents("l_discount"))).alias("dp"),
        )
    )
    num = F.sum(F.when(F.col("supp_nation") == "NATION_9", F.col("dp")).otherwise(F.lit(0)))
    return e.groupBy("o_year").agg(
        ((100.0 * num) / F.sum("dp")).alias("mkt_share_pct"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# TPC-H q13 shape — customer order-count distribution: LEFT OUTER join
# with a join-side (not post-join) predicate, count(col) null semantics,
# then a second aggregation over the first's output.
# ---------------------------------------------------------------------------
@query(
    "tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY 1
    ) t
    GROUP BY 1
    """,
)
def tpch_q13(spark, sf_dir):
    """TPC-H Q13: customer order-count distribution via left join +
    double aggregate."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    per_cust = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H q15 shape — top supplier: an aggregate CTE consumed twice (once
# as the relation, once reduced to its scalar max), equality on the
# exact integer cents so the "= (SELECT max(...))" tie semantics are
# identical cross-engine. The scalar max broadcasts; no driver action.
# ---------------------------------------------------------------------------
@query(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
               AS total_revenue_c
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, total_revenue_c / 10000.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue_c = (SELECT max(total_revenue_c) FROM rev)
    """,
)
def tpch_q15(spark, sf_dir):
    """TPC-H Q15: top supplier against the max of a revenue view (tie-complete)."""
    t = load_tables(spark, sf_dir, ("supplier", "lineitem"))
    rev = (
        t["lineitem"]
        .filter((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount")))
             .alias("total_revenue_c"))
    )
    mx = rev.agg(F.max("total_revenue_c").alias("mx"))
    top = rev.join(F.broadcast(mx), F.col("total_revenue_c") == F.col("mx")).drop("mx")
    return (
        F.broadcast(t["supplier"])
        .join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name",
                (F.col("total_revenue_c") / 10000.0).alias("total_revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H q17 shape — small-quantity-order revenue: correlated per-part
# AVG subquery. The fractional threshold is cross-multiplied into exact
# integers (qty < 0.2·avg ⇔ qty_c·5·n < sum_qty_c), so the comparison
# is bit-exact in both engines. At scale the per-part aggregate is
# computed only over the brand's lineitems (semi-joined first), which
# is semantics-preserving because the outer query only consults those
# parts.
# ---------------------------------------------------------------------------
@query(
    "tpch_q17_small_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey AS pk,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_q_c,
             count(*) AS n_li
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 / 7.0 AS avg_yearly,
           count(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa   ON pk = l_partkey
    WHERE p_brand = 'Brand#1'
      AND CAST(round(l_quantity * 100) AS BIGINT) * n_li * 5 < sum_q_c
    """,
)
def tpch_q17(spark, sf_dir):
    """TPC-H Q17: small-quantity revenue vs per-part avg threshold,
    decorrelated into one join."""
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    brand_parts = t["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = t["lineitem"].join(F.broadcast(brand_parts),
                            F.col("l_partkey") == F.col("p_partkey"))
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(_cents("l_quantity")).alias("sum_q_c"),
        F.count(F.lit(1)).alias("n_li"),
    )
    small = li.join(pa, F.col("l_partkey") == F.col("pk")).filter(
        _cents("l_quantity") * F.col("n_li") * 5 < F.col("sum_q_c")
    )
    return small.agg(
        (F.sum(_cents("l_extendedprice")) / 100.0 / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# TPC-H q22 shape — global-scalar threshold + anti join: customers with
# above-average positive balance and no urgent order (the synthetic
# data gives every customer at least one order, so the anti side is
# "no '1-URGENT' order" to keep the query non-vacuous). The AVG
# comparison is cross-multiplied to exact integers (bal_c·n > sum_c);
# the scalar aggregate broadcasts into every partition.
# ---------------------------------------------------------------------------
@query(
    "tpch_q22_global_sales_opportunity",
    """
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
    ),
    avgb AS (
      SELECT CAST(sum(bal_c) AS BIGINT) AS s, count(*) AS n
      FROM c WHERE bal_c > 0
    )
    SELECT c_nationkey AS nation_key, count(*) AS n_custs,
           CAST(sum(bal_c) AS BIGINT) / 100.0 AS total_bal
    FROM c, avgb
    WHERE bal_c * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY 1
    """,
)
def tpch_q22(spark, sf_dir):
    """TPC-H Q22: country-code acquisition analysis with anti-join and
    scalar avg threshold."""
    t = load_tables(spark, sf_dir, ("customer", "orders"))
    c = t["customer"].select(
        "c_custkey", "c_nationkey", _cents("c_acctbal").alias("bal_c")
    )
    # the global thresholds go in as SQL scalar subqueries: Catalyst
    # executes each once and embeds the result as a literal — no join
    # at all (a DataFrame cross-join formulation would plan a
    # BroadcastNestedLoopJoin and trip the plan audit)
    c.createOrReplaceTempView("q22_c")
    t["orders"].filter(F.col("o_orderpriority") == "1-URGENT") \
        .createOrReplaceTempView("q22_urgent")
    return spark.sql(
        """
        SELECT c_nationkey AS nation_key, count(*) AS n_custs,
               CAST(sum(bal_c) AS DOUBLE) / 100.0D AS total_bal
        FROM q22_c
        WHERE bal_c * (SELECT count(*) FROM q22_c WHERE bal_c > 0)
              > (SELECT sum(bal_c) FROM q22_c WHERE bal_c > 0)
          AND NOT EXISTS (SELECT 1 FROM q22_urgent
                          WHERE o_custkey = c_custkey)
        GROUP BY 1
        """
    )

# ---------------------------------------------------------------------------
# TPC-H q2 shape — minimum-cost supplier: the correlated-min subquery
# ("cost = (SELECT min(cost) ... WHERE same part)") decorrelated into a
# per-part min aggregate joined back on equality. The testdata has no
# partsupp table, so the part-supplier relation is derived from
# lineitem (min extended price per pair = the supply cost), which keeps
# the operator shape intact. Dims (region-filtered supplier chain,
# size-filtered part) broadcast; the only shuffle is the pair aggregate.
# ---------------------------------------------------------------------------
@query(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS pk, l_suppkey AS sk,
             CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cost_c
      FROM lineitem GROUP BY 1, 2
    ),
    eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'
    ),
    pc AS (SELECT pk, sk, cost_c, s_name, n_name FROM ps JOIN eu ON sk = s_suppkey),
    m AS (SELECT pk AS mpk, min(cost_c) AS min_cost_c FROM pc GROUP BY 1)
    SELECT p_partkey, p_brand, s_name, n_name, cost_c / 100.0 AS supply_cost
    FROM part JOIN pc ON p_partkey = pk
    JOIN m ON mpk = pk AND cost_c = min_cost_c
    WHERE p_size >= 40
    """,
)
def tpch_q2(spark, sf_dir):
    """TPC-H Q2: min-cost supplier per part via min-window over the
    join, top-100."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier", "nation", "region"))
    eu_nations = (
        t["nation"]
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    eu = (
        t["supplier"]
        .join(F.broadcast(eu_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    ps = t["lineitem"].groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(F.min(_cents("l_extendedprice")).alias("cost_c"))
    pc = ps.join(F.broadcast(eu), F.col("sk") == F.col("s_suppkey"))
    m = pc.groupBy(F.col("pk").alias("mpk")).agg(F.min("cost_c").alias("min_cost_c"))
    return (
        pc.join(m, (F.col("pk") == F.col("mpk")) & (F.col("cost_c") == F.col("min_cost_c")))
        .join(F.broadcast(t["part"].filter(F.col("p_size") >= 40)),
              F.col("p_partkey") == F.col("pk"))
        .select("p_partkey", "p_brand", "s_name", "n_name",
                (F.col("cost_c") / 100.0).alias("supply_cost"))
    )


# ---------------------------------------------------------------------------
# TPC-H q9 shape — product-type profit by nation and year: the 5-way
# star join with a substring part filter and a two-term profit measure.
# No partsupp in the testdata, so p_retailprice stands in for
# ps_supplycost (same operator shape: cost comes from a joined dim).
# Profit is computed in exact 10^-4-dollar integers
# (cents×percent and cents×cents are the same scale), one division at
# the end.
# ---------------------------------------------------------------------------
@query(
    "tpch_q9_product_profit",
    """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))
                  - CAST(round(p_retailprice * 100) AS BIGINT)
                    * CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
             / 10000.0 AS profit,
           count(*) AS n
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def tpch_q9(spark, sf_dir):
    """TPC-H Q9: product profit by nation x year across the 6-table
    join."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier", "orders", "nation"))
    widget_parts = (
        t["part"].filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    joined = (
        t["lineitem"]
        .join(F.broadcast(widget_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    profit_c = (
        _cents("l_extendedprice") * (100 - _cents("l_discount"))
        - _cents("p_retailprice") * _cents("l_quantity")
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(
        (F.sum(profit_c) / 10000.0).alias("profit"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# TPC-H q11 shape — important stock value: a grouped aggregate filtered
# against global scalars of the same aggregate (value > 2× the mean).
# The scalars go in as SQL scalar subqueries (q22 pattern): Catalyst
# runs each once and inlines the literal — no nested-loop join. The
# part-supplier "stock value" is derived from lineitem (no partsupp).
# Threshold is cross-multiplied to exact integers: val·groups > 2·total.
# ---------------------------------------------------------------------------
@query(
    "tpch_q11_important_stock",
    """
    WITH v AS (
      SELECT n_name, l_partkey AS pk,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS val_c
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1, 2
    )
    SELECT n_name, pk AS p_partkey, val_c / 100.0 AS part_value
    FROM v
    WHERE val_c * (SELECT count(*) FROM v) > 2 * (SELECT sum(val_c) FROM v)
    """,
)
def tpch_q11(spark, sf_dir):
    """TPC-H Q11: group-share filter against a scalar subquery
    threshold (broadcast one-row total)."""
    t = load_tables(spark, sf_dir, ("lineitem", "supplier", "nation"))
    supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    v = (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", F.col("l_partkey").alias("pk"))
        .agg(F.sum(_cents("l_extendedprice")).alias("val_c"))
    )
    # both global scalars in ONE pass over v (scalar subqueries would
    # recompute the lineitem aggregate once each), broadcast back on a
    # constant key. The key must be nullable on both sides — a
    # non-nullable expr constant-folds and Catalyst degrades the
    # equality to a nested-loop join (see functions/text.py bm25_topk).
    stats = v.agg(
        F.count(F.lit(1)).alias("_g"), F.sum("val_c").alias("_t")
    ).withColumn("_k", F.when(F.col("_g") >= 0, F.lit(0)).cast("bigint"))
    # when() without otherwise, not `val_c * 0`: the product form is
    # nullable only while val_c stays nullable — an innocent coalesce
    # upstream would fold it to a literal and degrade this join to a
    # nested loop (exactly how r13's tokens() coalesce broke bm25)
    return (
        v.withColumn(
            "_k", F.when(F.col("val_c") >= 0, F.lit(0)).cast("bigint")
        )
        .join(F.broadcast(stats), "_k")
        .filter(F.col("val_c") * F.col("_g") > 2 * F.col("_t"))
        .select(
            "n_name",
            F.col("pk").alias("p_partkey"),
            (F.col("val_c").cast("double") / 100.0).alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H q12 shape — late-shipment priority counts: join + two
# conditional aggregates (sum of CASE) per group. l_returnflag stands
# in for l_shipmode and shipdate>orderdate+30d for the
# receipt/commit-date lateness chain (those columns don't exist in the
# testdata); the operator shape — date-window join filter feeding
# conditional counts — is identical.
# ---------------------------------------------------------------------------
@query(
    "tpch_q12_priority_shipments",
    """
    SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY 1
    """,
)
def tpch_q12(spark, sf_dir):
    """TPC-H Q12: shipmode buckets with CASE-conditional counts."""
    t = load_tables(spark, sf_dir, ("orders", "lineitem"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return joined.groupBy(F.col("l_returnflag").alias("ship_class")).agg(
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
        F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# TPC-H q16 shape — supplier count by part spec: DISTINCT aggregate over
# a NOT IN exclusion (here: suppliers whose name contains '7' — the
# testdata has no comment column for the "complaints" filter). NOT IN
# over a non-null key compiles to a broadcast anti join; the distinct
# count shuffles once on the (brand, type, size) group key.
# ---------------------------------------------------------------------------
@query(
    "tpch_q16_part_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49, 50)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7%')
    GROUP BY 1, 2, 3
    """,
)
def tpch_q16(spark, sf_dir):
    """TPC-H Q16: anti-join on complained suppliers + count_distinct
    per part attribute group."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier"))
    parts = t["part"].filter(
        (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49, 50)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    excluded = t["supplier"].filter(F.col("s_name").like("%7%")).select("s_suppkey")
    return (
        t["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excluded), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H q20 shape — excess-supply suppliers: nested IN-subqueries
# (suppliers ⊇ qualifying pairs ⊇ name-filtered parts) decorrelated
# into aggregate + semi join. "Availability > half the part's demand"
# becomes share > 2× the per-supplier average for that part
# (sq·ns > 2·tq, exact integers — scale-free, so it stays non-vacuous
# at every sf). The part filter broadcasts; the semi join keeps the
# supplier table un-duplicated.
# ---------------------------------------------------------------------------
@query(
    "tpch_q20_excess_suppliers",
    """
    WITH sp AS (
      SELECT l_suppkey AS sk, l_partkey AS pk,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem GROUP BY 1, 2
    ),
    pt AS (SELECT pk AS tpk, CAST(sum(sq) AS BIGINT) AS tq, count(*) AS ns
           FROM sp GROUP BY 1)
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT sk FROM sp JOIN pt ON tpk = pk JOIN part ON p_partkey = pk
      WHERE p_name LIKE 'small%' AND sq * ns > 2 * tq)
    """,
)
def tpch_q20(spark, sf_dir):
    """TPC-H Q20: nested semi-joins — suppliers with excess stock of
    shipped parts."""
    t = load_tables(spark, sf_dir, ("lineitem", "part", "supplier", "nation"))
    small_parts = t["part"].filter(F.col("p_name").like("small%")).select("p_partkey")
    sp = t["lineitem"].groupBy(
        F.col("l_suppkey").alias("sk"), F.col("l_partkey").alias("pk")
    ).agg(F.sum(_cents("l_quantity")).alias("sq"))
    pt = sp.groupBy(F.col("pk").alias("tpk")).agg(
        F.sum("sq").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    qualifying = (
        sp.join(F.broadcast(small_parts), F.col("pk") == F.col("p_partkey"))
        .join(pt, F.col("tpk") == F.col("pk"))
        .filter(F.col("sq") * F.col("ns") > 2 * F.col("tq"))
        .select("sk")
    )
    return (
        t["supplier"]
        .join(F.broadcast(t["nation"].select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(qualifying, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


# ---------------------------------------------------------------------------
# TPC-H q21 shape — suppliers who kept orders waiting: the
# EXISTS / NOT EXISTS self-join pair over per-(order, supplier) state.
# The correlated pair decorrelates into ONE per-order aggregate
# (ns = suppliers in order, nl = late suppliers) equi-joined back:
# EXISTS(other supplier) ⇔ ns ≥ 2; NOT EXISTS(other late) ⇔ nl = 1 for
# a row that is itself late — two shuffles total instead of two
# self-joins. Lateness = shipped >30 days after order date (the
# testdata has no receipt/commit dates).
# ---------------------------------------------------------------------------
@query(
    "tpch_q21_waiting_suppliers",
    """
    WITH l AS (
      SELECT l_orderkey AS ok, l_suppkey AS sk,
             max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F' GROUP BY 1, 2
    )
    SELECT s_name, count(*) AS numwait
    FROM supplier JOIN (
      SELECT a.ok, a.sk FROM l a
      WHERE a.late = 1
        AND EXISTS (SELECT 1 FROM l b WHERE b.ok = a.ok AND b.sk <> a.sk)
        AND NOT EXISTS (SELECT 1 FROM l c
                        WHERE c.ok = a.ok AND c.sk <> a.sk AND c.late = 1)
    ) w ON s_suppkey = sk
    GROUP BY 1
    """,
)
def tpch_q21(spark, sf_dir):
    """TPC-H Q21: multi-lineitem order correlation decorrelated into
    one per-order aggregate (no per-row EXISTS)."""
    t = load_tables(spark, sf_dir, ("lineitem", "orders", "supplier"))
    per_pair = (
        t["lineitem"]
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F")
            .select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
    )
    per_order = per_pair.groupBy(F.col("ok").alias("ook")).agg(
        F.count(F.lit(1)).alias("ns"), F.sum("late").alias("nl")
    )
    waiting = (
        per_pair.filter(F.col("late") == 1)
        .join(per_order, F.col("ok") == F.col("ook"))
        .filter((F.col("ns") >= 2) & (F.col("nl") == 1))
    )
    return (
        F.broadcast(t["supplier"])
        .join(waiting, F.col("s_suppkey") == F.col("sk"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# GROUPING SETS — the explicit-sets member of the rollup/cube family
# (SURVEY §2.8): per-status totals and per-priority totals in one pass
# over orders (one shuffle; Spark expands sets map-side).
# ---------------------------------------------------------------------------
@query(
    "grouping_sets_order_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_order_revenue(spark, sf_dir):
    """GROUPING SETS over (priority, status) with grouping-id
    disambiguation, exact cents."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    orders.createOrReplaceTempView("gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0D AS revenue,
               count(*) AS n_orders
        FROM gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Analytic functions: ntile + first/last_value (completes the §2.8
# window-function family beyond lag). Per-user totals → revenue
# quartiles via ntile(4) over a total order (ties broken by user_id);
# per-quartile user count and exact-cents revenue. The global ntile
# runs over the *aggregated* per-key relation (cardinality = #keys,
# not #rows) — at extreme key counts you'd switch to approx
# percentile cutpoints instead of a single-partition sort.
# first/last_value need the full-partition frame — the default frame
# stops at the current row and silently gives a running "last".
# ---------------------------------------------------------------------------
@query(
    "ntile_user_revenue_quartiles",
    """
    WITH per_user AS (
      SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_c
      FROM events GROUP BY 1
    ),
    q AS (SELECT user_id, total_c,
                 ntile(4) OVER (ORDER BY total_c DESC, user_id) AS quartile
          FROM per_user)
    SELECT quartile, count(*) AS n_users,
           CAST(sum(total_c) AS BIGINT) / 100.0 AS revenue
    FROM q GROUP BY 1
    """,
)
def ntile_user_revenue_quartiles(spark, sf_dir):
    """NTILE(4) quartile assignment over per-user revenue
    (deterministic tiebreak)."""
    from pyspark.sql import Window

    ev = _with_cents(_events(spark, sf_dir))
    per_user = ev.groupBy("user_id").agg(F.sum("value_c").alias("total_c"))
    w = Window.orderBy(F.col("total_c").desc(), "user_id")
    q = per_user.select("user_id", "total_c", F.ntile(4).over(w).alias("quartile"))
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("total_c") / 100.0).alias("revenue"),
    )


@query(
    "rank_users_by_revenue",
    """
    WITH per_user AS (
      SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_c
      FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           percent_rank() OVER w AS prank,
           cume_dist() OVER w AS cdist
    FROM per_user WINDOW w AS (ORDER BY total_c DESC)
    """,
)
def rank_users_by_revenue(spark, sf_dir):
    """The remaining analytic-ranking trio (SURVEY §2.8 'free on
    Spark' surface): dense_rank / percent_rank / cume_dist over
    per-user revenue, ties NOT broken so the shared-rank semantics are
    what's verified. The ratio doubles divide identical integers on
    both engines → bit-identical."""
    from pyspark.sql import Window

    ev = _with_cents(_events(spark, sf_dir))
    per_user = ev.groupBy("user_id").agg(F.sum("value_c").alias("total_c"))
    w = Window.orderBy(F.col("total_c").desc())
    return per_user.select(
        "user_id",
        F.dense_rank().over(w).cast("bigint").alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "first_last_value_per_user",
    """
    WITH e AS (SELECT user_id, ts, event_id,
                      CAST(round(value * 100) AS BIGINT) AS value_c
               FROM events),
    fl AS (
      SELECT user_id,
             first_value(value_c) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_c,
             last_value(value_c) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_c
      FROM e
    )
    SELECT DISTINCT user_id,
           first_c / 100.0 AS first_value_usd,
           last_c / 100.0 AS last_value_usd,
           (last_c - first_c) / 100.0 AS drift_usd
    FROM fl
    """,
)
def first_last_value_per_user(spark, sf_dir):
    """first_value/last_value over each user's event-time ordering in
    one window pass."""
    from pyspark.sql import Window

    ev = _with_cents(_events(spark, sf_dir))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fl = ev.select(
        "user_id",
        F.first("value_c").over(w).alias("first_c"),
        F.last("value_c").over(w).alias("last_c"),
    )
    return fl.distinct().select(
        "user_id",
        (F.col("first_c") / 100.0).alias("first_value_usd"),
        (F.col("last_c") / 100.0).alias("last_value_usd"),
        ((F.col("last_c") - F.col("first_c")) / 100.0).alias("drift_usd"),
    )


# ---------------------------------------------------------------------------
# Custom UDAF via a grouped-agg pandas UDF — the Spark analog of the
# reference's raw-code custom reductions (setPostWindowOperation /
# setCustomHashTable, SURVEY §2.10): user logic runs over Arrow
# batches per group, Catalyst handles grouping/shuffle. Exactness:
# numpy int64 sums over integer cents (< 2^53), division once at the
# end — same policy as the relational W_AVG path, so the DuckDB twin
# is strong. Weight = (event_id % 10) + 1, a deterministic surrogate.
# ---------------------------------------------------------------------------
@query(
    "udaf_weighted_avg_by_type",
    """
    WITH e AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS value_c,
             (event_id % 10) + 1 AS w
      FROM events
    )
    SELECT event_type,
           CAST(sum(value_c * w) AS DOUBLE)
             / CAST(sum(w) AS DOUBLE) / 100.0 AS wavg_value,
           count(*) AS n
    FROM e GROUP BY 1
    """,
)
def udaf_weighted_avg_by_type(spark, sf_dir):
    """Grouped-agg pandas UDAF (weighted avg) — the custom-reduction
    surface, Arrow-batched."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def wsum_c(v: pd.Series, w: pd.Series) -> int:
        return int((v * w).sum())

    @pandas_udf("bigint")
    def wsum(w: pd.Series) -> int:
        return int(w.sum())

    @pandas_udf("bigint")
    def pcount(w: pd.Series) -> int:
        # grouped-agg pandas UDFs can't mix with built-in aggregates
        # in one agg() — the count is a pandas UDF too
        return len(w)

    ev = _with_cents(_events(spark, sf_dir)).withColumn(
        "w", (F.col("event_id") % 10 + 1).cast("bigint")
    )
    return ev.groupBy("event_type").agg(
        (
            wsum_c(F.col("value_c"), F.col("w")).cast("double")
            / wsum(F.col("w")).cast("double") / 100.0
        ).alias("wavg_value"),
        pcount(F.col("w")).alias("n"),
    )


# ---------------------------------------------------------------------------
# FULL OUTER join — the last missing join flavor (SURVEY §2.7 lists
# outer joins as absent in the reference): activity union of two
# aggregated sides, neither side privileged. Both inputs pre-aggregate
# to their key before joining, so the join is key-unique on both
# sides and the nulls are pure "present in one side only" markers.
# ---------------------------------------------------------------------------
@query(
    "full_outer_user_activity",
    """
    WITH e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
    o AS (SELECT o_custkey AS user_id, count(*) AS n_orders FROM orders GROUP BY 1)
    SELECT coalesce(e.user_id, o.user_id) AS user_id,
           coalesce(n_events, 0) AS n_events,
           coalesce(n_orders, 0) AS n_orders
    FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
    """,
)
def full_outer_user_activity(spark, sf_dir):
    """FULL OUTER join of event-active vs order-active users (both-null-side preserving)."""
    t = load_tables(spark, sf_dir, ("events", "orders"))
    e = t["events"].groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    o = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("ouser"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        e.join(o, e["user_id"] == o["ouser"], "full_outer")
        .select(
            F.coalesce(e["user_id"], o["ouser"]).alias("user_id"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt — wide→long reshaping (inverse of the pivot query).
# Spark expresses it as stack() (codegen'd, no shuffle beyond the
# aggregation); sums stay exact integer cents per measure.
# ---------------------------------------------------------------------------
@query(
    "unpivot_lineitem_measures",
    """
    SELECT l_returnflag, measure,
           CAST(sum(CAST(round(amount * 100) AS BIGINT)) AS BIGINT) AS amount_c
    FROM (SELECT * FROM lineitem
          UNPIVOT (amount FOR measure IN (l_quantity, l_extendedprice, l_discount)))
    GROUP BY 1, 2
    """,
)
def unpivot_lineitem_measures(spark, sf_dir):
    """UNPIVOT (stack) of lineitem measures into (measure, value)
    rows, exact cents."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    long = li.select(
        "l_returnflag",
        F.expr(
            "stack(3, 'l_quantity', l_quantity, "
            "'l_extendedprice', l_extendedprice, "
            "'l_discount', l_discount) AS (measure, amount)"
        ),
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.sum(F.round(F.col("amount") * 100).cast("bigint")).alias("amount_c")
    )


# ---------------------------------------------------------------------------
# Approximate quantiles via a deterministic bottom-k hash sample —
# the strong-checkable stand-in for approx_percentile (whose t-digest
# no oracle reproduces; SURVEY §2.8 approximate aggregates). Sample
# selection and the order-statistic index are both exact integer
# arithmetic, so the estimate is bit-identical cross-engine.
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.sketches import (  # noqa: E402
    bottomk_quantiles_oracle_sql,
    bottomk_sample_quantiles,
)


@query(
    "sample_quantiles_value_by_type",
    f"""
    WITH q AS (
    {bottomk_quantiles_oracle_sql(
        "(SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c, "
        "event_id FROM events)",
        ["event_type"], "v_c", "event_id", k=256,
    )}
    )
    SELECT event_type, p50 / 100.0 AS p50_value, p90 / 100.0 AS p90_value,
           p99 / 100.0 AS p99_value
    FROM q
    """,
)
def sample_quantiles_value_by_type(spark, sf_dir):
    """p50/p90/p99 per event_type from the deterministic bottom-k-by-hash sample (mergeable, oracle-exact)."""
    ev = _with_cents(_events(spark, sf_dir))
    q = bottomk_sample_quantiles(
        ev, ["event_type"], "value_c", "event_id", k=256
    )
    return q.select(
        "event_type",
        (F.col("p50") / 100.0).alias("p50_value"),
        (F.col("p90") / 100.0).alias("p90_value"),
        (F.col("p99") / 100.0).alias("p99_value"),
    )


# ---------------------------------------------------------------------------
# Gap fill with LINEAR INTERPOLATION — value-filling extension of the
# reference's empty-window emission (OperatorKernel.h:3830-3988 emits
# empty windows; interpolating the measure is beyond-parity, standard
# time-series resampling). Exact integer fraction output (num/den) —
# see operators/window_agg.py interpolated_fill.
# ---------------------------------------------------------------------------
@query(
    "gapfill_linear_interp_by_type",
    """
    WITH e AS (SELECT event_type, (epoch_us(ts) // 86400000000) * 86400 AS t,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    a AS (SELECT event_type, t, CAST(sum(v) AS BIGINT) AS s FROM e GROUP BY 1, 2),
    r AS (SELECT event_type, min(t) AS lo, max(t) AS hi FROM a GROUP BY 1),
    b AS (SELECT min(t) AS glo, max(t) AS ghi FROM a),
    spine AS (SELECT unnest(generate_series(glo, ghi, 86400)) AS t FROM b),
    g AS (SELECT r.event_type, s.t, a.s
          FROM r JOIN spine s ON s.t BETWEEN r.lo AND r.hi
          LEFT JOIN a ON a.event_type = r.event_type AND a.t = s.t),
    f AS (SELECT event_type, t, s,
             last_value(s IGNORE NULLS) OVER w_prev AS pv,
             last_value(CASE WHEN s IS NOT NULL THEN t END IGNORE NULLS)
               OVER w_prev AS pt,
             first_value(s IGNORE NULLS) OVER w_next AS nv,
             first_value(CASE WHEN s IS NOT NULL THEN t END IGNORE NULLS)
               OVER w_next AS nt
          FROM g
          WINDOW w_prev AS (PARTITION BY event_type ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 w_next AS (PARTITION BY event_type ORDER BY t
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, t AS window_start,
           CAST(CASE WHEN s IS NOT NULL THEN s
                     ELSE pv * (nt - t) + nv * (t - pt) END AS BIGINT) AS num,
           CAST(CASE WHEN s IS NOT NULL THEN 1 ELSE nt - pt END AS BIGINT) AS den
    FROM f
    """,
)
def gapfill_linear_interp(spark, sf_dir):
    """Daily sum(value) per event_type with missing days linearly
    interpolated between the neighboring present days. The fill value
    is emitted as the exact integer fraction (num, den) — cents·seconds
    over seconds — because cross-engine float division is not
    bit-stable. Plan: one map-combinable day aggregate, a per-type
    sequence() explode of the tiny [first, last] bounds relation as the
    spine (no range join, no nested loop), then two linear window scans
    (carry-forward/backward) — no self-join, no per-gap pair space."""
    from lightsaber_spark.operators.window_agg import (
        _exact_bucket,
        epoch_us,
        interpolated_fill,
    )

    ev = _events(spark, sf_dir)
    e = ev.select(
        "event_type",
        _exact_bucket(epoch_us(ev, "ts"), 86400).alias("window_start"),
        _cents("value").alias("v"),
    )
    agg = e.groupBy("event_type", "window_start").agg(
        F.sum("v").cast("bigint").alias("s")
    )
    rng = agg.groupBy("event_type").agg(
        F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
    )
    # per-type spine directly from the tiny bounds relation: one
    # sequence() explode per type (span/86400 rows each) — no global
    # spine, no range join, no nested loop in the plan
    grid = rng.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, CAST(86400 AS BIGINT))")).alias(
            "window_start"
        ),
    )
    return interpolated_fill(agg, grid, "s", keys=["event_type"])


# ---------------------------------------------------------------------------
# Bloom-filter join prefilter — membership sketch as an explicit
# operator (functions/sketches.py bloom_build/bloom_probe). The 100 TB
# shape: the build side collapses to a ⌈m/60⌉-word bitmap broadcast to
# every probe task, so non-joining probe rows drop BEFORE any shuffle;
# md5-derived bit positions make the bitmap — and every false
# positive — bit-identical in DuckDB.
# ---------------------------------------------------------------------------
_BLOOM_K = 4
_BLOOM_M = 1 << 16


def _bloom_h(key_sql: str, i: int, m: int) -> str:
    """Position i = disjoint hex slice of ONE md5 (sketches.py
    ``bloom_positions``) — one hash per key instead of k."""
    hexlen = max(1, ((m - 1).bit_length() + 3) // 4)
    return (
        f"('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), {1 + i * hexlen},"
        f" {hexlen}))::BIGINT % {m}"
    )


@query(
    "bloom_prefilter_returned_orders",
    f"""
    WITH rk AS (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'),
    pos AS (SELECT unnest([{", ".join(_bloom_h("l_orderkey", i, _BLOOM_M) for i in range(_BLOOM_K))}]) AS p
            FROM rk),
    wt AS (SELECT p // 60 AS word,
                  bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS bits
           FROM pos GROUP BY 1),
    pp AS (SELECT o_orderkey,
                  {", ".join(_bloom_h("o_orderkey", i, _BLOOM_M) + f" AS p{i}" for i in range(_BLOOM_K))}
           FROM orders),
    fl AS (SELECT o_orderkey,
                  {" AND ".join(f"coalesce(w{i}.bits & (1::BIGINT << CAST(p{i} % 60 AS INT)), 0) <> 0" for i in range(_BLOOM_K))}
                    AS maybe
           FROM pp {" ".join(f"LEFT JOIN wt w{i} ON w{i}.word = p{i} // 60" for i in range(_BLOOM_K))})
    SELECT CAST((SELECT count(*) FROM fl WHERE maybe) AS BIGINT) AS n_probable,
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderkey IN (SELECT l_orderkey FROM rk)) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_probe
    """,
)
def bloom_prefilter_q(spark, sf_dir):
    """Bloom prefilter of orders against the returned-lineitem key set:
    n_probable (bloom maybe-hits) vs n_exact (true semi-join) vs
    n_probe — n_probable − n_exact is the false-positive count, and
    the bloom guarantees n_probable ≥ n_exact (no false negatives),
    both counts reproduced bit-exactly by the oracle. The build needs
    NO distinct (bit-OR dedups); the probe side never shuffles."""
    from lightsaber_spark.functions.sketches import bloom_build, bloom_probe

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    rk = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    orders = t["orders"].select("o_orderkey")
    bloom = bloom_build(rk, "l_orderkey", k=_BLOOM_K, m_bits=_BLOOM_M)
    probed = bloom_probe(
        orders, bloom, "o_orderkey", k=_BLOOM_K, m_bits=_BLOOM_M
    )
    probable = probed.agg(
        F.sum(F.when(F.col("bloom_maybe"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_probable"),
        F.count(F.lit(1)).cast("bigint").alias("n_probe"),
    )
    exact = (
        orders.join(rk, orders["o_orderkey"] == rk["l_orderkey"], "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return probable.crossJoin(exact).select("n_probable", "n_exact", "n_probe")


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering layout — multi-dimensional data-layout
# QA (sources/partitioning.py zorder_key). Clustering the fact table by
# the interleaved key keeps BOTH dimensions locally bounded per
# z-range, so file-level min/max pruning serves predicates on either
# column; the per-bucket extents below are exactly the statistics a
# writer would check before committing the layout.
# ---------------------------------------------------------------------------
from lightsaber_spark.sources.partitioning import zorder_oracle_expr as _zx


@query(
    "zorder_extents_user_day",
    f"""
    WITH e AS (SELECT user_id % 256 AS x,
                      (epoch_us(ts) // 86400000000) % 256 AS y
               FROM events),
    z AS (SELECT x, y,
                 {_zx("x", "y", 8)} // 16 AS bucket
          FROM e)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(min(x) AS BIGINT) AS min_x, CAST(max(x) AS BIGINT) AS max_x,
           CAST(min(y) AS BIGINT) AS min_y, CAST(max(y) AS BIGINT) AS max_y
    FROM z GROUP BY 1
    """,
)
def zorder_extents_q(spark, sf_dir):
    """Per-z-range row counts and (x=user bucket, y=day) extents under
    a 20-bit Morton key split into 1024 coarse ranges — the write-time
    clustering check that both predicate dimensions prune. One narrow
    projection + one map-side-combinable aggregate on the bounded
    bucket domain; the key itself is plain integer arithmetic inside
    whole-stage codegen (no shift builtins, so the DuckDB twin runs the
    byte-identical computation)."""
    from lightsaber_spark.operators.window_agg import epoch_us
    from lightsaber_spark.sources.partitioning import zorder_key

    ev = _events(spark, sf_dir)
    # integer DIV on the epoch and on the key (never float '/'+cast —
    # CLAUDE.md exactness invariant; review finding)
    e = ev.select(F.col("user_id"), epoch_us(ev, "ts").alias("_us")).select(
        (F.col("user_id") % 256).alias("x"),
        (F.expr("_us DIV 86400000000") % 256).alias("y"),
    )
    z = e.select(
        "x", "y", zorder_key(F.col("x"), F.col("y"), 8).alias("_zk")
    ).select("x", "y", F.expr("_zk DIV 16").alias("bucket"))
    return z.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# Adaptive compression planning — Scabbard's stats-driven per-column
# codec selection (src/compression/CompressionCodeGenUtils.h:14,
# Compressor.h:25-75, monitors/CompressionMonitor.cpp) re-expressed as
# a relational decision: per column, pick RLE / dictionary / base-delta
# / plain from exact integer statistics. Spark's state store + parquet
# run the chosen mechanism; the reference's novel part is the DECISION,
# and that is what the oracle verifies bit-for-bit.
# ---------------------------------------------------------------------------
def _compression_oracle() -> str:
    from lightsaber_spark.functions.compression import compression_plan_oracle_sql

    src = (
        "(SELECT event_id, CAST(user_id AS BIGINT) AS user_id, "
        "epoch_us(ts) AS ts_us, CAST(round(value * 100) AS BIGINT) AS value_c, "
        "('0x' || substr(md5(event_type), 1, 15))::BIGINT AS type_h FROM events)"
    )
    return compression_plan_oracle_sql(
        src, ["user_id", "ts_us", "value_c", "type_h"], "event_id"
    )


@query("adaptive_compression_plan", _compression_oracle())
def adaptive_compression_q(spark, sf_dir):
    """Codec plan for the persisted-events state columns: sequential
    ids → base-delta, a 150-value key → dictionary, near-monotone
    timestamps → base-delta, etc. Column stats are one aggregate per
    column; the runs count for RLE is CHUNKED (window partitioned by
    order DIV 2^16 — parallel, never a global sort)."""
    from lightsaber_spark.functions.compression import compression_plan
    from lightsaber_spark.functions.dedup import shingle_hash
    from lightsaber_spark.operators.window_agg import epoch_us

    ev = _events(spark, sf_dir)
    src = ev.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        epoch_us(ev, "ts").alias("ts_us"),
        _cents("value").alias("value_c"),
        shingle_hash(F.col("event_type")).alias("type_h"),
    )
    return compression_plan(
        src, ["user_id", "ts_us", "value_c", "type_h"], "event_id"
    )


def _compression_replan_oracle() -> str:
    from lightsaber_spark.functions.compression import (
        compression_replan_oracle_sql,
    )

    src = (
        "(SELECT event_id, CAST(user_id AS BIGINT) AS user_id, "
        "epoch_us(ts) AS ts_us, CAST(round(value * 100) AS BIGINT) AS value_c, "
        "('0x' || substr(md5(event_type), 1, 15))::BIGINT AS type_h FROM events)"
    )
    return compression_replan_oracle_sql(
        src,
        ["user_id", "ts_us", "value_c", "type_h"],
        "event_id",
        batch_rows=256,
        chunk_rows=64,
    )


@query("adaptive_compression_replan", _compression_replan_oracle())
def adaptive_compression_replan_q(spark, sf_dir):
    """Runtime-adaptive codec RE-planning (CompressionMonitor.cpp):
    the ordered event stream segmented into 256-row micro-batches, the
    full codec decision re-run per batch, and `flipped` marking every
    batch where a column's winner changed — the reference's
    stats-drift re-decision loop as one relational plan (the streaming
    twin in streaming/compression.py runs the same decision per real
    micro-batch via foreachBatch)."""
    from lightsaber_spark.functions.compression import compression_replan
    from lightsaber_spark.functions.dedup import shingle_hash
    from lightsaber_spark.operators.window_agg import epoch_us

    ev = _events(spark, sf_dir)
    src = ev.select(
        "event_id",
        F.col("user_id").cast("bigint").alias("user_id"),
        epoch_us(ev, "ts").alias("ts_us"),
        _cents("value").alias("value_c"),
        shingle_hash(F.col("event_type")).alias("type_h"),
    )
    return compression_replan(
        src,
        ["user_id", "ts_us", "value_c", "type_h"],
        "event_id",
        batch_rows=256,
        chunk_rows=64,
    )


# ---------------------------------------------------------------------------
# Calendar windows — month-aligned rollup (months have unequal length,
# so fixed-size epoch buckets cannot express this; date_trunc is the
# calendar-window analog of _exact_bucket). Month key emitted as a
# 'yyyy-MM' string so the cross-engine value hash is type-stable.
# ---------------------------------------------------------------------------
@query(
    "calendar_month_revenue",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_c
    FROM orders GROUP BY 1
    """,
)
def calendar_month_revenue_q(spark, sf_dir):
    """Order count + exact revenue cents per calendar month: one
    map-side-combinable aggregate on the truncated date key."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return o.groupBy(
        F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("revenue_c"),
    )


# ---------------------------------------------------------------------------
# Cohort retention — the classic event-analytics rollup (cohort = first
# active day per user; retention = how many of the cohort are active k
# days later). Two map-combinable aggregates + one shuffle join on
# user_id; the matrix is (cohorts × offsets)-bounded regardless of
# event volume.
# ---------------------------------------------------------------------------
@query(
    "cohort_retention_matrix",
    """
    WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
    act AS (SELECT DISTINCT user_id, day FROM e),
    first AS (SELECT user_id, min(day) AS cohort FROM act GROUP BY 1),
    sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY 1)
    SELECT CAST(f.cohort AS BIGINT) AS cohort_day,
           CAST(a.day - f.cohort AS BIGINT) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_active,
           s.cohort_size
    FROM act a JOIN first f USING (user_id) JOIN sizes s ON f.cohort = s.cohort
    GROUP BY 1, 2, s.cohort_size
    """,
)
def cohort_retention_q(spark, sf_dir):
    """Cohort × day-offset activity counts with cohort sizes: exact
    integer day buckets, per-user daily dedup done LOCALLY before the
    join (distinct on (user, day) — bounded by users × days, not
    events)."""
    from lightsaber_spark.operators.window_agg import epoch_us

    ev = _events(spark, sf_dir)
    # integer DIV on the epoch (never float epoch math — CLAUDE.md):
    # double division truncates wrong 1 us before a boundary once the
    # quotient's ulp/2 exceeds 1/86400000000
    e = ev.select("user_id", epoch_us(ev, "ts").alias("_us")).select(
        "user_id", F.expr("CAST(_us DIV 86400000000 AS BIGINT)").alias("day")
    )
    # distinct is a full shuffle feeding BOTH the probe side and the
    # cohort derivation — persist (register_cache lifecycle; AQE
    # exchange reuse is not reliable, CLAUDE.md rule the sibling
    # window_corr query already follows)
    from lightsaber_spark.functions.dedup import register_cache

    act = register_cache(e.distinct())
    first = act.groupBy("user_id").agg(F.min("day").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        act.join(first, "user_id")
        .join(sizes, "cohort")
        .groupBy(
            F.col("cohort").cast("bigint").alias("cohort_day"),
            (F.col("day") - F.col("cohort")).cast("bigint").alias("day_offset"),
            "cohort_size",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
        .select("cohort_day", "day_offset", "n_active", "cohort_size")
    )


# ---------------------------------------------------------------------------
# KMV sketch COMPOSITION — pairwise set-overlap estimation from merged
# sketches (the join-cardinality-planning use of KMV: Beyer et al.
# SIGMOD'07). Nothing pairwise ever touches raw rows.
# ---------------------------------------------------------------------------
def _kmv_overlap_oracle() -> str:
    from lightsaber_spark.functions.sketches import kmv_intersection_oracle_sql

    est = kmv_intersection_oracle_sql("events", "event_type", "user_id", k=64)
    return f"""
    WITH est AS ({est}),
    d AS (SELECT DISTINCT event_type, user_id FROM events),
    ex AS (SELECT a.event_type AS set_a, b.event_type AS set_b,
                  CAST(count(*) AS BIGINT) AS inter_exact
           FROM d a JOIN d b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY 1, 2)
    SELECT est.set_a, est.set_b, est.m_both, est.union_est, est.inter_est,
           CAST(coalesce(ex.inter_exact, 0) AS BIGINT) AS inter_exact
    FROM est LEFT JOIN ex USING (set_a, set_b)
    """


@query("kmv_user_overlap_by_type", _kmv_overlap_oracle())
def kmv_user_overlap_q(spark, sf_dir):
    """For every pair of event types: the merged-sketch union estimate,
    the k-sample both-sides count, and the derived intersection
    estimate of their distinct-user sets — plus the EXACT intersection
    for comparison. All estimator arithmetic is integer/decimal exact,
    so both engines produce identical estimates (and identical
    errors)."""
    from lightsaber_spark.functions.sketches import kmv_intersection

    from lightsaber_spark.functions.dedup import register_cache

    ev = _events(spark, sf_dir).select("event_type", "user_id")
    est = kmv_intersection(ev, "event_type", "user_id", k=64)
    # the distinct relation feeds both exact-twin self-join sides
    d = register_cache(ev.distinct())
    exact = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("set_a"),
            F.col("b.event_type").alias("set_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter_exact"))
    )
    return est.join(exact, ["set_a", "set_b"], "left").select(
        "set_a",
        "set_b",
        "m_both",
        "union_est",
        "inter_est",
        F.coalesce(F.col("inter_exact"), F.lit(0)).cast("bigint").alias("inter_exact"),
    )


# ---------------------------------------------------------------------------
# Cross-series correlation — sufficient statistics for Pearson r
# between every pair of event types' hourly sums, all exact integers
# (the division/sqrt happens client-side; emitting n/Σx/Σy/Σxy/Σx²/Σy²
# keeps the oracle compare bit-exact AND the stats mergeable across
# partitions/time ranges).
# ---------------------------------------------------------------------------
@query(
    "window_corr_stats_by_type_pair",
    """
    WITH h AS (SELECT event_type,
                      (epoch_us(ts) // 3600000000) * 3600 AS w,
                      CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
               FROM events GROUP BY 1, 2)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a.s) AS BIGINT) AS sx,
           CAST(sum(b.s) AS BIGINT) AS sy,
           CAST(sum(a.s * b.s) AS BIGINT) AS sxy,
           CAST(sum(a.s * a.s) AS BIGINT) AS sxx,
           CAST(sum(b.s * b.s) AS BIGINT) AS syy
    FROM h a JOIN h b ON a.w = b.w AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def window_corr_stats_q(spark, sf_dir):
    """Pearson-r sufficient statistics per event-type pair over their
    hourly sum series (windows where BOTH series have data): one
    map-combinable hourly aggregate, an equi-join on the window key
    (never a raw-row pair space), one pair-keyed aggregate. r =
    (n·Σxy − ΣxΣy)/√((n·Σxx − Σx²)(n·Σyy − Σy²)) is derivable
    client-side; the stats themselves stay integer-exact and
    mergeable."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = _events(spark, sf_dir)
    h = (
        ev.select(
            "event_type",
            _exact_bucket(epoch_us(ev, "ts"), 3600).alias("w"),
            _cents("value").alias("v"),
        )
        .groupBy("event_type", "w")
        .agg(F.sum("v").cast("bigint").alias("s"))
    )
    # the hourly aggregate feeds both self-join sides — pin one
    # materialization (multiply-referenced-subplan rule, CLAUDE.md)
    from lightsaber_spark.functions.dedup import register_cache

    h = register_cache(h)
    j = h.alias("a").join(
        h.alias("b"),
        (F.col("a.w") == F.col("b.w"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    )
    sa, sb = F.col("a.s"), F.col("b.s")
    return j.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(sa).cast("bigint").alias("sx"),
        F.sum(sb).cast("bigint").alias("sy"),
        F.sum(sa * sb).cast("bigint").alias("sxy"),
        F.sum(sa * sa).cast("bigint").alias("sxx"),
        F.sum(sb * sb).cast("bigint").alias("syy"),
    )


# ---------------------------------------------------------------------------
# EXACT order statistics without a global sort — the counting trick:
# aggregate counts per distinct value (map-combinable), then a
# cumulative scan over the value DOMAIN (bounded by distinct values,
# not rows) locates any rank exactly. Complements the sampled
# bottom-k quantiles with an exact answer.
# ---------------------------------------------------------------------------
@query(
    "exact_median_value_cents",
    """
    WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    r AS (SELECT v, cnt,
                 sum(cnt) OVER (ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER () AS n
          FROM c)
    SELECT CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT)
             AS median_lo,
           CAST(min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT)
             AS median_hi,
           CAST(max(n) AS BIGINT) AS n
    FROM r
    """,
)
def exact_median_q(spark, sf_dir):
    """Exact median (lower/upper order statistic for even n) of value
    cents over all events: one map-combinable count-per-value
    aggregate, then a cumulative scan over the ~|domain| distinct
    values — the scan is single-partition but bounded by the value
    DOMAIN, not the row count, which is what makes exact medians
    feasible at 100 TB (the alternative is a full sort). Both order
    statistics emitted so the even-n case needs no division."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window as W

    # explicit NULL guard: the engines ORDER NULLs differently (Spark
    # first, DuckDB last), which would shift every cumulative count
    c = (
        ev.filter(F.col("value").isNotNull())
        .select(_cents("value").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    r = c.select(
        "v",
        F.sum("cnt").over(W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )
    lo_rank = F.expr("CAST((n + 1) DIV 2 AS BIGINT)")
    hi_rank = F.expr("CAST(n DIV 2 + 1 AS BIGINT)")
    return r.agg(
        F.min(F.when(F.col("cum") >= lo_rank, F.col("v"))).cast("bigint").alias("median_lo"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("v"))).cast("bigint").alias("median_hi"),
        F.max("n").cast("bigint").alias("n"),
    )


@query(
    "exact_median_value_by_type",
    """
    WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
                      CAST(count(*) AS BIGINT) AS cnt
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT event_type, v, cnt,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS n
          FROM c)
    SELECT event_type,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT)
             AS median_lo,
           CAST(min(CASE WHEN cum >= n // 2 + 1 THEN v END) AS BIGINT)
             AS median_hi,
           CAST(max(n) AS BIGINT) AS n
    FROM r GROUP BY 1
    """,
)
def exact_median_by_type_q(spark, sf_dir):
    """Keyed exact median via value-domain counting: same technique as
    the global `exact_median_value_cents` but the cumulative scan is
    PARTITIONED BY the key — fully parallel, each partition bounded by
    that key's distinct-value domain. The grouped form is the
    production shape; the global one documents the technique's
    single-series limit."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window as W

    c = (
        ev.filter(F.col("value").isNotNull())
        .select("event_type", _cents("value").alias("v"))
        .groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    wc = W.partitionBy("event_type").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("event_type")
    r = c.select(
        "event_type",
        "v",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    lo_rank = F.expr("CAST((n + 1) DIV 2 AS BIGINT)")
    hi_rank = F.expr("CAST(n DIV 2 + 1 AS BIGINT)")
    return r.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= lo_rank, F.col("v"))).cast("bigint").alias("median_lo"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("v"))).cast("bigint").alias("median_hi"),
        F.max("n").cast("bigint").alias("n"),
    )


@query(
    "sliding_kmv_distinct_users",
    f"""
    WITH e AS (
    {_slide_expand(3600, 600)}
    ),
    q AS (
    {kmv_oracle_sql("e", ["window_start"], "user_id", k=64, out_col="n_users_kmv")}
    )
    SELECT window_start, n_users_kmv FROM q
    """,
)
def sliding_kmv_distinct_users_q(spark, sf_dir):
    """SLIDING-window distinct-user estimate (3600/600) via pane-sketch
    merging: rows are hashed once per PANE, the per-pane bottom-64
    sketches fan out to their 6 containing windows, and min-merge makes
    the merged estimate bit-identical to the oracle's direct
    per-window KMV over the expanded rows — the composition that makes
    sliding distinct tractable where exact sliding distinct cannot be
    pane-decomposed at all."""
    from lightsaber_spark.functions.sketches import sliding_kmv_distinct

    return sliding_kmv_distinct(
        _events(spark, sf_dir), "ts", 3600, 600, "user_id", k=64,
        out_col="n_users_kmv",
    )


@query(
    "me1_multi_agg_tumbling_f32",
    f"""
    WITH e AS (SELECT ts, value, {CENTS} AS value_c FROM events)
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start,
           CAST(CAST(sum(value_c) AS BIGINT) AS REAL) AS sum_cents_f,
           CAST(min(value) AS REAL) AS min_value,
           CAST(max(value) AS REAL) AS max_value,
           CAST(count(*) AS REAL) AS n_f
    FROM e GROUP BY 1
    """,
)
def me1_f32(spark, sf_dir):
    """ME1 shape with the reference's OUTPUT TYPE: every aggregate
    emitted as float32 (``float32_output=True`` → ``_cast_outputs``),
    matching ``Aggregation.h:53-87`` which emits float for ALL
    aggregates regardless of input width. Exactness holds because both
    engines cast the SAME exact value (bigint cents sum / bigint count
    / raw double min-max) to float32 with IEEE round-to-nearest —
    bit-identical even where float32 cannot represent the integer."""
    ev = _with_cents(_events(spark, sf_dir))
    r = windowed_agg(ev, "ts", 3600, 3600, [
        ("sum", "value_c", "sum_cents_f"),
        ("min", "value", "min_value"),
        ("max", "value", "max_value"),
        ("count", None, "n_f"),
    ], float32_output=True)
    return r.select("window_start", "sum_cents_f", "min_value", "max_value", "n_f")
