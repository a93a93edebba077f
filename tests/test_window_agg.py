"""Windowed-aggregation matrix vs DuckDB (the reference's §5 semantics:
{tumbling, sliding} × {grouped, global} × {sum,cnt,avg,min,max}), plus
pane-path equivalence and gap fill."""

import pytest
from pyspark.sql import functions as F

from lightsaber_spark.operators import windowed_agg, window_spine
from lightsaber_spark.operators.window_agg import gap_filled
from tests.conftest import rows_match


def test_tumbling_grouped_all_aggs(events, duck):
    r = windowed_agg(events, "ts", 3600, 3600, [
        ("sum", "value", "s"), ("count", None, "n"),
        ("min", "value", "lo"), ("max", "value", "hi"),
    ], ["event_type"])
    d = duck.execute("""
        SELECT (epoch_us(ts) // 3600000000) * 3600, event_type,
               sum(value), count(*), min(value), max(value)
        FROM events GROUP BY 1, 2
    """).fetchall()
    ok, msg = rows_match([tuple(x) for x in r.collect()], d, float_tol=1e-6)
    assert ok, msg


@pytest.mark.parametrize("use_panes", [True, False])
def test_sliding_global(events, duck, use_panes):
    r = windowed_agg(events, "ts", 1800, 600,
                     [("count", None, "n"), ("min", "value", "lo")],
                     use_panes=use_panes)
    d = duck.execute("""
        WITH x AS (
          SELECT *, unnest(generate_series(
            ((epoch_us(ts) - 1800000000) // 600000000 + 1) * 600,
            (epoch_us(ts) // 600000000) * 600, 600)) AS ws
          FROM events)
        SELECT ws, count(*), min(value) FROM x GROUP BY 1
    """).fetchall()
    ok, msg = rows_match([tuple(x) for x in r.collect()], d, float_tol=1e-6)
    assert ok, msg


def test_sliding_nondivisible_slide(events):
    """size not a multiple of slide (panes = gcd) — pane path must equal
    the naive per-row path."""
    a = windowed_agg(events, "ts", 900, 600, [("count", None, "n")], use_panes=True)
    b = windowed_agg(events, "ts", 900, 600, [("count", None, "n")], use_panes=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_numeric_epoch_ts_column(events):
    """Reference model: attribute 0 is a long epoch timestamp."""
    ev = events.withColumn("t_sec", (F.unix_micros("ts") / 1e6))
    a = windowed_agg(ev, "t_sec", 3600, 3600, [("count", None, "n")])
    b = windowed_agg(events, "ts", 3600, 3600, [("count", None, "n")])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_gap_fill_empty_windows(events):
    aggs = [("count", None, "n")]
    agg = windowed_agg(events, "ts", 21600, 21600, aggs)
    spine = window_spine(events, "ts", 21600, 21600)
    filled = gap_filled(agg, spine, aggs)
    n_spine = spine.count()
    assert filled.count() == n_spine
    assert filled.filter(F.col("n") == 0).count() == n_spine - agg.count()


def test_multi_key_grouping(events, duck):
    r = windowed_agg(events, "ts", 7200, 7200, [("sum", "value", "s")],
                     ["user_id", "event_type"])
    d = duck.execute("""
        SELECT (epoch_us(ts) // 7200000000) * 7200, user_id, event_type, sum(value)
        FROM events GROUP BY 1, 2, 3
    """).fetchall()
    ok, msg = rows_match([tuple(x) for x in r.collect()], d, float_tol=1e-6)
    assert ok, msg


def test_float32_output_parity_mode(events):
    """Reference output-type parity (Aggregation.h:53-87: every
    aggregate emits float32): the flag casts all agg outputs — and only
    them — to FloatType on every strategy path."""
    from pyspark.sql.types import FloatType, LongType

    aggs = [("sum", "value", "s"), ("count", None, "n")]
    for size, slide in ((3600, 3600), (3600, 1200), (3600, 60)):
        out = windowed_agg(events, "ts", size, slide, aggs, float32_output=True)
        types = dict(out.dtypes)
        assert types["s"] == "float" and types["n"] == "float"
        assert isinstance(out.schema["window_start"].dataType, LongType)
        ref = windowed_agg(events, "ts", size, slide, aggs)
        got = {r[0]: r[1] for r in out.select("window_start", "s").collect()}
        want = {r[0]: float(r[1]) for r in ref.select("window_start", "s").collect()}
        assert got.keys() == want.keys()
        # float32 narrowing keeps values within relative ulp (~1.2e-7)
        assert all(
            abs(got[k] - want[k]) <= 1e-5 * max(1.0, abs(want[k])) for k in want
        )


def test_near_epoch_strategy_equivalence_and_oracle(spark, duck):
    """Regression (r11 review, fixed r12): for events with t < size_sec
    the shifted operand t − size is NEGATIVE, where truncating division
    ≠ floor — both Spark's native-sliding s_min and the DuckDB oracle's
    bare `//` (DuckDB truncates toward zero: -7 // 2 = -3) used to land
    on ceil+1 and drop the earliest windows. Worked example: t=50 s,
    window(7200, 1800) — the earliest containing window starts at
    −5400 (covers [−5400, 1800)), not −3600. All three strategies and
    the pmod-fixed oracle must agree, including that window."""
    rows = [(50, 1.0), (100, 2.0), (3000, 4.0), (7300, 8.0)]
    df = spark.createDataFrame(rows, "t long, value double")
    aggs = [("sum", "value", "s"), ("count", None, "n")]
    got = {}
    for name, kw in (
        ("native", {"use_panes": False}),
        ("panes", {"use_panes": True}),
        ("prefix", {"use_prefix": True}),
    ):
        r = windowed_agg(df, "t", 7200, 1800, aggs, **kw)
        got[name] = sorted(map(tuple, r.collect()))
    assert got["native"] == got["panes"] == got["prefix"]
    starts = {r[0] for r in got["native"]}
    assert min(starts) == -5400  # the window the truncating form dropped
    d = duck.execute("""
        WITH e0(t0, value) AS (VALUES (50, 1.0), (100, 2.0), (3000, 4.0), (7300, 8.0)),
        e AS (SELECT CAST(t0 AS BIGINT) AS t, value FROM e0),
        x AS (
          SELECT *, unnest(generate_series(
            (((t*1000000 - 7200000000)
               - (((t*1000000 - 7200000000) % 1800000000) + 1800000000) % 1800000000)
              // 1800000000 + 1) * 1800,
            (t*1000000 // 1800000000) * 1800, 1800)) AS ws
          FROM e)
        SELECT ws, sum(value), count(*) FROM x GROUP BY 1
    """).fetchall()
    ok, msg = rows_match(got["native"], d, float_tol=1e-9)
    assert ok, msg


def test_near_epoch_window_spine(spark):
    """window_spine's first start uses the same exact-floor form: data
    spanning [50 s, 7300 s] with window(7200, 1800) spans starts
    −5400 … 7200 inclusive."""
    df = spark.createDataFrame([(50,), (7300,)], "t long")
    starts = sorted(r[0] for r in window_spine(df, "t", 7200, 1800).collect())
    assert starts == list(range(-5400, 7201, 1800))


def test_interpolated_fill_exact_fraction(spark):
    """Linear interpolation over a gapped per-key series: present
    buckets pass through as (v, 1); missing buckets emit the exact
    integer fraction prev·(nt−t) + next·(t−pt) over nt−pt; buckets
    outside a key's [first, last] present range are dropped."""
    from lightsaber_spark.operators.window_agg import interpolated_fill

    # key a present at t=0 (v=10) and t=30 (v=40): gap at 10, 20
    # key b present only at t=10 (v=7): no gap, spine rows 0/20/30 drop
    agg = spark.createDataFrame(
        [("a", 0, 10), ("a", 30, 40), ("b", 10, 7)], "k string, t long, v long"
    )
    spine = spark.createDataFrame(
        [(k, t) for k in ("a", "b") for t in (0, 10, 20, 30)],
        "k string, t long",
    )
    out = {
        (r.k, r.t): (r.num, r.den)
        for r in interpolated_fill(agg, spine, "v", keys=["k"], t_col="t").collect()
    }
    assert out == {
        ("a", 0): (10, 1),
        ("a", 10): (10 * 20 + 40 * 10, 30),   # exact 600/30 = 20
        ("a", 20): (10 * 10 + 40 * 20, 30),   # exact 900/30 = 30
        ("a", 30): (40, 1),
        ("b", 10): (7, 1),
    }


_PRE_EPOCH_US = [-3_601_000_000, -1_000_000, -1, 0, 1_000_000, 3_599_999_999]


def _pre_epoch_frame(spark):
    rows = [(us, float(i + 1)) for i, us in enumerate(_PRE_EPOCH_US)]
    return spark.createDataFrame(rows, "us long, value double").withColumn(
        "ts", F.timestamp_micros("us")
    )


def _floor_windows(size, slide):
    """Pure-Python reference: start s (a multiple of slide, seconds)
    holds row t iff s <= t < s + size, with exact // floor division."""
    us = 1_000_000
    out = {}
    for i, t in enumerate(_PRE_EPOCH_US):
        lo = (t - size * us) // (slide * us) + 1
        hi = t // (slide * us)
        for j in range(lo, hi + 1):
            s = j * slide
            n, v = out.get(s, (0, 0.0))
            out[s] = (n + 1, v + float(i + 1))
    return sorted((s, n, v) for s, (n, v) in out.items())


@pytest.mark.parametrize(
    "size, slide, kw",
    [
        (3600, 3600, {}),                       # tumbling
        (60, 60, {}),                           # tumbling, −1 s and −1 µs share a bucket
        (3600, 600, {"use_panes": True}),
        (3600, 1200, {"use_panes": False}),     # native expansion
        (3600, 60, {"use_prefix": True}),       # chunk carry across index 0
    ],
)
def test_pre_epoch_timestamps_floor(spark, size, slide, kw):
    """Timestamps before 1970 bucket by floor, not truncation: −1 µs
    lies in the tumbling window starting at −size, not at 0."""
    df = _pre_epoch_frame(spark)
    aggs = [("count", None, "n"), ("sum", "value", "s")]
    got = sorted(
        tuple(r) for r in windowed_agg(df, "ts", size, slide, aggs, **kw).collect()
    )
    assert got == _floor_windows(size, slide)


def test_pre_epoch_window_spine_and_rollup_bucket(spark):
    from lightsaber_spark.streaming.rollup import _pane_col

    df = _pre_epoch_frame(spark)
    panes = [r[0] for r in df.orderBy("us").select(_pane_col("ts", 60)).collect()]
    assert panes == [(t // 60_000_000) * 60 for t in _PRE_EPOCH_US]

    starts = sorted(r[0] for r in window_spine(df, "ts", 3600, 600).collect())
    want = [s for s, _n, _v in _floor_windows(3600, 600)]
    assert starts == list(range(want[0], want[-1] + 1, 600))
    # all-negative data: the last start is floor(−1 µs / 600 s) = −600
    before = df.filter(F.col("us") < 0)
    starts = sorted(r[0] for r in window_spine(before, "ts", 3600, 600).collect())
    assert starts == list(range(want[0], -600 + 1, 600))
