"""Windowed aggregation — the reference engine's core operator.

Reference: ``src/cql/operators/Aggregation.h:17-199`` — MIN/MAX/CNT/SUM/AVG
over tumbling/sliding row/range windows with optional multi-attribute
GROUP BY; window algebra in ``src/utils/WindowDefinition.h:27-103``.

Spark-first design
------------------
* All window-bucket arithmetic is **exact integer microseconds**
  (``unix_micros``), not floating point and not ``F.window`` structs:
  bucket ids are plain ``bigint`` epoch-second window starts, produced
  by codegen'd integer div/mul. This (a) keeps the whole plan in
  whole-stage codegen, (b) is bit-identical to a DuckDB
  ``epoch_us``-based oracle, (c) avoids carrying a struct column
  through the shuffle. Semantics match ``F.window``: starts are
  epoch-aligned multiples of ``slide`` and row t ∈ window s iff
  ``s <= t < s+size``. Pre-epoch event times and the shifted operand
  ``t − size`` (negative for t < size) are negative, where truncating
  division ≠ floor — every bucket/start site therefore uses exact floor
  division (``pmod`` for the µs sites, ``floor`` for the pane path), so
  all strategies agree with a floor-division reference on the earliest
  windows and before 1970 too.
* Tumbling: one hash aggregation, map-side combinable.
* Short sliding windows: per-row expansion to the size/slide containing
  window starts (``explode(sequence(...))``) then one aggregation —
  what ``F.window`` does internally, minus the struct.
* Long sliding windows (size ≫ slide — e.g. SG1's 3600s/1s,
  ``test/benchmarks/applications/SmartGrid/SG1.cpp:17-24``): per-row
  expansion replicates every row size/slide times — 3600× shuffle
  amplification at 100 TB. We instead use the reference's **pane-based
  slicing** (``WindowDefinition.h:80-90``: pane = gcd(size, slide))
  relationally:

    stage 1: tumbling pre-aggregation into panes (map-side combine,
             one shuffle keyed on (pane, keys), ≤ panes×keys rows out)
    stage 2: pane partials expand to their size/slide windows
             (explode over aggregated panes — cheap) and merge.

  O(rows × size/slide) shuffle → O(rows + panes × size/slide): the
  LightSaber slicing trick as two Catalyst aggregations, no UDFs.
* Empty-window emission (``OperatorKernel.h:3830-3988`` gap fill):
  opt-in spine left-join, see :func:`window_spine`/:func:`gap_filled`.

Aggregate outputs are Spark-native types (double for sum/avg over
double); the reference emits float32 (``Aggregation.h:81-87``) — cast
at the edge if bit-parity with the reference binary is needed.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    FloatType,
    NumericType,
    TimestampNTZType,
    TimestampType,
)

US = 1_000_000

# (func, input column or None for count(*), output alias);
# w_avg (reference AggregationType.h:12 W_AVG) takes a (value, weight)
# column pair: sum(w·v)/sum(w) — lift/combine per AggregationTree.h:116
AggSpec = tuple[str, str | tuple[str, str] | None, str]

_SUPPORTED = {"sum", "count", "avg", "min", "max", "w_avg"}


def epoch_us(df: DataFrame, ts_col: str) -> Column:
    """Event time as exact integer microseconds since epoch (bigint).

    Accepts TimestampType (→ ``unix_micros``) or numeric epoch-seconds
    columns (reference model: attribute 0 is a long timestamp,
    ``src/utils/TupleSchema.h:25``).
    """
    dt = df.schema[ts_col].dataType
    c = F.col(ts_col)
    if isinstance(dt, TimestampNTZType):
        # NTZ → LTZ under the (UTC) session timezone, then exact µs
        return F.unix_micros(c.cast("timestamp"))
    if isinstance(dt, TimestampType):
        return F.unix_micros(c)
    if isinstance(dt, DateType):
        return F.unix_micros(c.cast("timestamp"))
    if isinstance(dt, (DoubleType, FloatType)):
        return F.round(c * US).cast("bigint")
    if isinstance(dt, NumericType):
        return (c.cast("bigint") * US)
    raise TypeError(f"unsupported event-time type {dt} for {ts_col!r}")


def _check_aggs(aggs: Sequence[AggSpec]) -> None:
    for func, col, _alias in aggs:
        if func not in _SUPPORTED:
            raise ValueError(f"unsupported aggregate {func!r}; supported: {sorted(_SUPPORTED)}")
        if func == "w_avg":
            if not (isinstance(col, (tuple, list)) and len(col) == 2):
                raise ValueError("w_avg needs a (value, weight) column pair")
        elif func != "count" and col is None:
            raise ValueError(f"{func} needs an input column")


def _agg_exprs(aggs: Sequence[AggSpec]) -> list[Column]:
    out = []
    for func, col, alias in aggs:
        if func == "count":
            e = F.count(F.lit(1)) if col is None else F.count(F.col(col))
        elif func == "w_avg":
            v, w = col
            e = F.sum(F.col(w) * F.col(v)) / F.sum(F.col(w))
        else:
            e = getattr(F, func)(F.col(col))
        out.append(e.alias(alias))
    return out


_INVERTIBLE = {"sum", "count", "avg", "w_avg"}


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    size_sec: int,
    slide_sec: int | None,
    aggs: Sequence[AggSpec],
    keys: Sequence[str] = (),
    *,
    pane_threshold: int = 4,
    prefix_threshold: int = 64,
    use_panes: bool | None = None,
    use_prefix: bool | None = None,
    prefix_panes_per_chunk: int | None = None,
    float32_output: bool = False,
) -> DataFrame:
    """Event-time (RANGE_BASED) windowed aggregation.

    Returns ``window_start`` (bigint epoch seconds), ``*keys``, one
    column per agg spec. Only windows containing >= 1 input row are
    emitted (gap fill is opt-in, :func:`window_spine`).

    Physical strategy ladder (auto-selected):
    - tumbling → one hash aggregation.
    - sliding, ratio < ``pane_threshold`` → per-row expansion.
    - sliding, ratio >= ``pane_threshold`` → pane decomposition
      (gcd panes, explode panes not rows).
    - sliding, ratio >= ``prefix_threshold``, global, all-invertible
      aggs, slide | size → **prefix-sum path**: cumulative sums over a
      dense pane spine, window value = cum[e] − cum[e − size/slide].
      This is the reference's subtract-on-evict incremental aggregation
      (``Aggregation.h:89-94`` invertible path) expressed relationally —
      cost is span/slide spine rows, independent of the ratio, where the
      pane path would replicate every pane size/slide times (3600× for
      SG1's window(3600,1), ``SG1.cpp:17-24``).

    ``float32_output=True`` casts every aggregate output column to
    float32 — the reference's output type for ALL aggregates
    (``Aggregation.h:53-87`` emits float regardless of input width);
    default keeps Spark-native widths (bigint/double), which the
    DuckDB oracle policy expects.
    """
    _check_aggs(aggs)
    slide_sec = slide_sec or size_sec
    if slide_sec > size_sec:
        raise ValueError("slide > size (hopping-with-gaps) not in reference semantics")
    keys = list(keys)

    if slide_sec == size_sec:
        out = _tumbling(df, ts_col, size_sec, aggs, keys)
        return _cast_outputs(out, aggs, float32_output)
    ratio = size_sec / slide_sec
    prefix_ok = (
        not keys
        and size_sec % slide_sec == 0
        and all(f in _INVERTIBLE or f in ("min", "max") for f, _c, _a in aggs)
    )
    if use_prefix is None:
        use_prefix = prefix_ok and ratio >= prefix_threshold
    elif use_prefix and not prefix_ok:
        raise ValueError(
            "prefix path needs global (no keys), invertible aggs, slide | size"
        )
    if use_prefix:
        out = _sliding_prefix(
            df, ts_col, size_sec, slide_sec, aggs,
            panes_per_chunk=prefix_panes_per_chunk,
        )
    elif use_panes if use_panes is not None else ratio >= pane_threshold:
        out = _sliding_panes(df, ts_col, size_sec, slide_sec, aggs, keys)
    else:
        out = _sliding_native(df, ts_col, size_sec, slide_sec, aggs, keys)
    return _cast_outputs(out, aggs, float32_output)


def _cast_outputs(out: DataFrame, aggs: Sequence[AggSpec], float32_output: bool) -> DataFrame:
    if not float32_output:
        return out
    return out.withColumns({a: F.col(a).cast("float") for _f, _c, a in aggs})


def _tumbling(df, ts_col, size_sec, aggs, keys):
    us = epoch_us(df, ts_col)
    ws = _exact_bucket(us, size_sec).alias("window_start")
    return (
        df.groupBy(ws, *keys)
        .agg(*_agg_exprs(aggs))
        .select("window_start", *keys, *[F.col(a) for _, _, a in aggs])
    )


def _exact_bucket(us: Column, step_sec: int) -> Column:
    """floor(us / step_us) * step — exact floor for negative (pre-epoch)
    ``us`` too: Spark's % truncates toward zero, so subtract the pmod;
    the quotient of an exact multiple is exact in double (< 2^53)."""
    step_us = F.lit(step_sec * US).cast("bigint")
    return ((us - F.pmod(us, step_us)) / step_us).cast("bigint") * F.lit(step_sec)


def _window_starts(us: Column, size_sec: int, slide_sec: int) -> Column:
    """Array of window starts (bigint seconds) containing time ``us``:
    multiples s of slide with s <= t < s+size."""
    s_max = _exact_bucket(us, slide_sec)
    # smallest multiple of slide strictly greater than t - size:
    # floor(shifted/step) + 1. The shifted operand is negative for
    # t < size, so exact floor needs pmod (Spark's % truncates toward
    # zero); subtracting pmod yields an exact multiple, so the double
    # division is exact (quotient < 2^53).
    shifted = us - F.lit(size_sec * US).cast("bigint")
    step_us = F.lit(slide_sec * US).cast("bigint")
    s_min = (
        ((shifted - F.pmod(shifted, step_us)) / step_us).cast("bigint") + 1
    ) * F.lit(slide_sec)
    return F.sequence(s_min, s_max, F.lit(slide_sec).cast("bigint"))


def _sliding_native(df, ts_col, size_sec, slide_sec, aggs, keys):
    us = epoch_us(df, ts_col)
    exploded = df.withColumn("window_start", F.explode(_window_starts(us, size_sec, slide_sec)))
    return (
        exploded.groupBy("window_start", *keys)
        .agg(*_agg_exprs(aggs))
        .select("window_start", *keys, *[F.col(a) for _, _, a in aggs])
    )


def _pane_partials(
    aggs: Sequence[AggSpec],
) -> tuple[dict[str, Column], dict[str, str]]:
    """Stage-1 partial-aggregate specs shared by the pane and prefix
    paths (previously duplicated loops — r11 review note): name →
    aggregate Column, plus the min/max subset by name (the
    non-invertible partials the prefix path scans via van Herk blocks
    instead of cumulative sums)."""
    partials: dict[str, Column] = {}
    mm: dict[str, str] = {}
    for func, col, _alias in aggs:
        if func in ("sum", "avg"):
            partials[f"_sum_{col}"] = F.sum(F.col(col))
        if func == "avg":
            partials[f"_cnt_{col}"] = F.count(F.col(col))
        if func == "count":
            key = f"_cnt_{col}" if col else "_cnt_all"
            partials[key] = F.count(F.col(col)) if col else F.count(F.lit(1))
        if func in ("min", "max"):
            name = f"_{func}_{col}"
            partials[name] = getattr(F, func)(F.col(col))
            mm[name] = func
        if func == "w_avg":
            v, w = col
            partials[f"_wv_{v}_{w}"] = F.sum(F.col(w) * F.col(v))
            partials[f"_ww_{w}"] = F.sum(F.col(w))
    return partials, mm


def _sliding_panes(df, ts_col, size_sec, slide_sec, aggs, keys):
    """Pane-decomposed sliding aggregation (reference
    ``WindowDefinition.h:80-90``; SIGMOD'20 slicing). Pane size
    g = gcd(size, slide): every window is a union of whole panes, so
    per-pane partials compose exactly."""
    g = math.gcd(size_sec, slide_sec)

    partials, _mm = _pane_partials(aggs)

    us = epoch_us(df, ts_col)
    stage1 = df.groupBy(_exact_bucket(us, g).alias("_pane"), *keys).agg(
        *[c.alias(n) for n, c in partials.items()]
    )

    # pane p (seconds) belongs to windows s: s <= p and p+g <= s+size,
    # s multiple of slide. All values are multiples of g in seconds —
    # second-granularity integer math, exact.
    p = F.col("_pane")
    s_max = (F.floor(p / slide_sec)).cast("bigint") * F.lit(slide_sec)
    x = p + F.lit(g - size_sec)  # s >= x, i.e. s_min = ceil(x / slide) * slide
    s_min = (-F.floor(-x / slide_sec)).cast("bigint") * F.lit(slide_sec)
    expanded = stage1.withColumn(
        "window_start", F.explode(F.sequence(s_min, s_max, F.lit(slide_sec).cast("bigint")))
    )

    finals: list[Column] = []
    for func, col, alias in aggs:
        if func == "sum":
            finals.append(F.sum(f"_sum_{col}").alias(alias))
        elif func == "count":
            key = f"_cnt_{col}" if col else "_cnt_all"
            finals.append(F.sum(key).alias(alias))
        elif func == "avg":
            finals.append((F.sum(f"_sum_{col}") / F.sum(f"_cnt_{col}")).alias(alias))
        elif func == "min":
            finals.append(F.min(f"_min_{col}").alias(alias))
        elif func == "max":
            finals.append(F.max(f"_max_{col}").alias(alias))
        elif func == "w_avg":
            v, w = col
            finals.append(
                (F.sum(f"_wv_{v}_{w}") / F.sum(f"_ww_{w}")).alias(alias)
            )

    return (
        expanded.groupBy("window_start", *keys)
        .agg(*finals)
        .select("window_start", *keys, *[F.col(a) for _, _, a in aggs])
    )


def _chunked_index_fanout(bounds, i_lo, i_hi, per_chunk: int, out_col: str,
                          scale: int):
    """Distributed dense-index generation shared by the prefix-path
    spine and the gap-fill window spine: from a 1-row ``bounds``
    relation, emit every index in [i_lo, i_hi] as ``out_col`` =
    index·``scale``, fanned out so chunk c (owning indices
    [c·per_chunk, (c+1)·per_chunk)) generates only its own clipped
    ``sequence()`` in its own task — no single task ever materializes
    the full span."""
    pc = F.lit(per_chunk).cast("bigint")
    chunk_rows = bounds.select(
        i_lo.alias("_ilo"),
        i_hi.alias("_ihi"),
        F.explode(
            F.sequence(F.floor(i_lo / pc).cast("bigint"), F.floor(i_hi / pc).cast("bigint"))
        ).alias("_cid"),
    )
    return (
        chunk_rows.repartition("_cid")
        .select(
            F.explode(
                F.sequence(
                    F.greatest(F.col("_ilo"), F.col("_cid") * pc),
                    F.least(F.col("_ihi"), (F.col("_cid") + 1) * pc - 1),
                )
            ).alias("_i")
        )
        .select((F.col("_i") * F.lit(scale)).cast("bigint").alias(out_col))
    )


def _sliding_prefix(df, ts_col, size_sec, slide_sec, aggs, panes_per_chunk=None):
    """Prefix-scan sliding aggregation for very high size/slide ratios
    (global, slide | size; invertible aggs plus MIN/MAX).

    stage 1: pane pre-aggregation at slide granularity (map-side
             combinable; ≤ span/slide rows out).
    stage 2: dense spine of panes from (first) to (last + size − slide);
             invertible aggs (sum/count/avg/w_avg) use cumulative sums:
             window value at end-pane e = cum[e] − cum[e − k] with
             k = size/slide — the reference's subtract-on-evict
             incremental path (``Aggregation.h:89-94``).
             MIN/MAX are non-invertible (no subtract); they use the
             van Herk–Gil–Werman two-level decomposition instead: panes
             are grouped into blocks of k, R[p] = running max from the
             block start and L[p] = running max to the block end, and
             the window ending at pane e (starting at s = e−k+1) is
             ``greatest(L[s], R[e])`` — any k-pane window spans at most
             two blocks, split exactly at a block boundary. This is the
             relational form of the reference's AggregationTree
             (``src/utils/AggregationTree.h``, its non-invertible
             sliding path): O(1) merges per window instead of the pane
             path's k-way explode.

    Cost is span/slide spine rows regardless of the ratio; the spine is
    time-bound, not data-bound, so a 100× data scale-up does not grow
    it. Spine GENERATION is distributed too: a tiny chunk-id relation
    fans out first and each chunk task emits only its own
    ``panes_per_chunk`` panes — no single task ever materializes the
    whole span (previously one ``sequence()`` row did).

    The scan pass is **chunk-parallel**, not a global sort: each chunk
    also receives the previous chunk's last k panes as carry rows, and
    cum − lag(k) / greatest(R, lag(L, k−1)) are evaluated per chunk
    partition (every own row has its full k-pane history locally, so
    the per-chunk result equals the global one). ``panes_per_chunk`` is
    rounded up to a multiple of k so block boundaries align with chunk
    boundaries — the k carry panes are then exactly the previous
    chunk's last block, and every L/R a window needs is chunk-local.
    One shuffle, parallel across chunks, exact for any span.
    """
    k = size_sec // slide_sec
    # carry must come from the immediately-previous chunk only, and
    # chunks must contain whole k-pane blocks (see docstring)
    panes_per_chunk = max(k, panes_per_chunk or 1 << 16)
    panes_per_chunk = ((panes_per_chunk + k - 1) // k) * k

    has_minmax = any(f in ("min", "max") for f, _c, _a in aggs)

    partials, mm_partials = _pane_partials(aggs)
    inv_partials = [n for n in partials if n not in mm_partials]
    # emission filter: reuse an existing count(*) partial if present
    rows_key = "_cnt_all" if "_cnt_all" in partials else "_cnt__rows"
    if rows_key == "_cnt__rows":
        partials["_cnt__rows"] = F.count(F.lit(1))
        inv_partials.append("_cnt__rows")

    us = epoch_us(df, ts_col)
    stage1 = df.groupBy(_exact_bucket(us, slide_sec).alias("_pane")).agg(
        *[c.alias(n) for n, c in partials.items()]
    )

    # dense spine [first_pane, last_pane + size - slide], step = slide.
    # Bounds come from stage1 (min/max pane), not a second scan of the
    # base table: the two stage1 occurrences are identical subplans, so
    # Catalyst's ReuseExchange evaluates the pre-aggregation once.
    # (Reuse is a perf optimization only — stage1 is deterministic, so
    # divergent instantiations still agree.)
    bounds = stage1.agg(F.min("_pane").alias("_lo"), F.max("_pane").alias("_hi"))

    # distributed spine: pane-INDEX space i = pane/slide; chunk c owns
    # i ∈ [c·ppc, (c+1)·ppc). The chunk relation is span/ppc rows (tiny),
    # shuffled so each chunk's sequence() runs in its own task.
    # The spine starts at a BLOCK-ALIGNED index (≤ k−1 extra empty
    # panes): empty panes are nulls min/max skip and zeros sums ignore,
    # but they keep every lag() offset positionally exact — without the
    # extension, a leading window spanning the partial first block and
    # the second block would see a null lag(L, k−1) and silently miss
    # the first block's panes. Windows ending in the extension have
    # zero rows and are filtered by the emission check.
    i_lo = (F.col("_lo") / F.lit(slide_sec)).cast("bigint")
    a_lo = (F.floor(i_lo / F.lit(k)) * F.lit(k)).cast("bigint")
    i_hi = (F.col("_hi") / F.lit(slide_sec)).cast("bigint") + F.lit(k - 1)
    spine = _chunked_index_fanout(
        bounds, a_lo, i_hi, panes_per_chunk, "_pane", slide_sec
    )

    from pyspark.sql import Window

    # Spine attach: a plain left join, strategy left to the planner.
    # This is size-based at every scale: the build side (stage1, the
    # pane aggregation) is broadcast only while its size estimate is
    # under autoBroadcastJoinThreshold — at 100 TB the estimate for an
    # aggregate over the full stream is input-bound (huge), so the
    # static planner picks a shuffled join and AQE re-tiers it from
    # RUNTIME sizes. Locally it stays one BroadcastHashJoin — no extra
    # shuffle, no extra AQE stage (a union + merge-aggregate attach cost
    # the sg1_ref pair ~1.3–1.6× at the driver; VERDICT r15 #4).
    dense = spine.join(stage1, "_pane", "left")
    # chunk-parallel scan: pane index → chunk; the last k panes of each
    # chunk are duplicated into the next chunk as carry (non-own) rows
    # (pmod: a pre-epoch pane index is negative, and % would truncate)
    p_idx = (F.col("_pane") / F.lit(slide_sec)).cast("bigint")
    own_chunk = F.floor(p_idx / F.lit(panes_per_chunk)).cast("bigint")
    assigns = F.when(
        F.pmod(p_idx, F.lit(panes_per_chunk)) >= F.lit(panes_per_chunk - k),
        F.array(own_chunk, own_chunk + 1),
    ).otherwise(F.array(own_chunk))
    ext = dense.withColumn("_chunk", F.explode(assigns))
    if has_minmax:
        # van Herk block id — aligned to chunk boundaries by construction
        ext = ext.withColumn("_blk", F.floor(p_idx / F.lit(k)).cast("bigint"))

    w_cum = (
        Window.partitionBy("_chunk").orderBy("_pane").rowsBetween(Window.unboundedPreceding, 0)
    )
    scan_cols: list[Column] = []
    for n in inv_partials:
        scan_cols.append(
            F.sum(F.coalesce(F.col(n), F.lit(0))).over(w_cum).alias(f"_c{n}")
        )
    if has_minmax:
        w_blk_fwd = (
            Window.partitionBy("_chunk", "_blk")
            .orderBy(F.col("_pane").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_blk_bwd = (
            Window.partitionBy("_chunk", "_blk")
            .orderBy(F.col("_pane").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for n, func in mm_partials.items():
            agg_f = getattr(F, func)
            scan_cols.append(agg_f(F.col(n)).over(w_blk_fwd).alias(f"_R{n}"))
            scan_cols.append(agg_f(F.col(n)).over(w_blk_bwd).alias(f"_L{n}"))
    cum = ext.select(
        "_chunk",
        "_pane",
        (own_chunk == F.col("_chunk")).alias("_own"),
        *scan_cols,
    )

    # every own row has >= k local predecessors (its chunk's carry rows),
    # except in chunk 0 where the global scan IS the local one — in both
    # cases cum − coalesce(lag(k), 0) / greatest(R[e], lag(L, k−1))
    # equals the exact window value (least/greatest skip nulls, so a
    # clipped leading window degrades to its available panes)
    w_lag = Window.partitionBy("_chunk").orderBy("_pane")
    win_cols: list[Column] = []
    for n in inv_partials:
        win_cols.append(
            (F.col(f"_c{n}") - F.coalesce(F.lag(f"_c{n}", k).over(w_lag), F.lit(0)))
            .alias(f"_w{n}")
        )
    for n, func in mm_partials.items():
        merge = F.greatest if func == "max" else F.least
        win_cols.append(
            merge(F.col(f"_R{n}"), F.lag(f"_L{n}", k - 1).over(w_lag)).alias(f"_w{n}")
        )
    win = cum.select("_pane", "_own", *win_cols).filter(F.col("_own"))

    finals: list[Column] = []
    for func, col, alias in aggs:
        if func == "sum":
            finals.append(F.col(f"_w_sum_{col}").alias(alias))
        elif func == "count":
            key = f"_cnt_{col}" if col else "_cnt_all"
            finals.append(F.col(f"_w{key}").alias(alias))
        elif func == "avg":
            finals.append((F.col(f"_w_sum_{col}") / F.col(f"_w_cnt_{col}")).alias(alias))
        elif func == "w_avg":
            v, wt = col
            finals.append((F.col(f"_w_wv_{v}_{wt}") / F.col(f"_w_ww_{wt}")).alias(alias))
        elif func in ("min", "max"):
            finals.append(F.col(f"_w_{func}_{col}").alias(alias))

    return (
        win.filter(F.col(f"_w{rows_key}") > 0)
        .select(
            (F.col("_pane") - F.lit(size_sec - slide_sec)).alias("window_start"), *finals
        )
    )


def window_spine(
    df: DataFrame,
    ts_col: str,
    size_sec: int,
    slide_sec: int | None = None,
    *,
    starts_per_chunk: int = 1 << 16,
) -> DataFrame:
    """All window starts from the first to the last data point — the
    reference's empty-window emission (gap fill,
    ``OperatorKernel.h:3830-3988`` / ``:4374-4608``), which Spark's
    native windowing does not do.

    One-column DataFrame ``window_start`` (bigint). Cardinality is
    span/slide, independent of input rows — scale-safe. Generation is
    DISTRIBUTED: a tiny chunk relation (span/``starts_per_chunk`` rows)
    fans out over a shuffle and each task emits only its own chunk's
    ``sequence()`` — a year-long 1s-slide spine (31M starts) lands as
    ~480 parallel 65k-row tasks instead of one 31M-row task.
    """
    slide_sec = slide_sec or size_sec
    bounds = df.agg(
        F.min(epoch_us(df, ts_col)).alias("_lo"), F.max(epoch_us(df, ts_col)).alias("_hi")
    )
    lo, hi = F.col("_lo"), F.col("_hi")
    step_us = F.lit(slide_sec * US).cast("bigint")
    # exact floor on the (possibly negative, lo < size) shifted operand —
    # pmod, not %, mirrors _window_starts' s_min
    shifted = lo - F.lit(size_sec * US).cast("bigint")
    first = (
        ((shifted - F.pmod(shifted, step_us)) / step_us).cast("bigint") + 1
    ) * F.lit(slide_sec)
    last = _exact_bucket(hi, slide_sec)
    # index space i = window_start / slide; chunk c owns i ∈ [c·spc, (c+1)·spc)
    i_lo = (first / F.lit(slide_sec)).cast("bigint")
    i_hi = (last / F.lit(slide_sec)).cast("bigint")
    return _chunked_index_fanout(
        bounds, i_lo, i_hi, starts_per_chunk, "window_start", slide_sec
    )


def gap_filled(
    agg_result: DataFrame,
    spine: DataFrame,
    aggs: Sequence[AggSpec],
    keys_df: DataFrame | None = None,
) -> DataFrame:
    """Attach an aggregation result to a window spine, emitting empty
    windows (count→0, sum/avg/min/max→null). With ``keys_df``
    (distinct key combinations — small) the fill is per key.

    r15 OPT (guide §2.4, same argument as ``_sliding_prefix``): the
    attach is a UNION + one merge aggregation, not a left outer join.
    Both sides of the old join are SPAN-BOUND (the spine by
    construction, the agg by emitting only windows with data), so the
    join planned as a BroadcastHashJoin whose build side grows with
    the time span — a driver-collect round trip that cannot survive a
    100 TB-scale spine (a year at 1 s slide is ~31M rows). The union
    form costs one spine-bound hash aggregation: no driver collect, no
    sorts, no join node at all, same shape at every scale.

    PRECONDITION (held by every in-repo caller, pinned by the
    equivalence test): every ``agg_result`` row's (keys..., start) is
    inside spine × keys — true whenever spine/keys derive from the
    same data as the aggregation (``window_spine`` mirrors
    ``_window_starts``' exact-floor first/last arithmetic). The old
    left join would silently DROP an out-of-spine agg row; the union
    keeps it — emitting, never losing, data on a violated
    precondition.

    ORACLE NOTE (r15 ADVICE): the DuckDB oracle twins still SPELL left
    join semantics. A NEW caller whose spine/keys do NOT derive from
    the aggregation's own data (an externally supplied grid, a key
    list with absent keys) would keep rows its LEFT-JOIN oracle drops
    — a silent divergence, not a failure. When adding such a query,
    re-verify containment first (an anti-join count test of
    agg_result against spine × keys, as
    ``test_gap_filled_union_matches_left_join`` does for the in-repo
    callers) or spell the oracle as the union+merge."""
    base = spine if keys_df is None else spine.crossJoin(F.broadcast(keys_df))
    key_cols = list(base.columns)
    val_cols = [c for c in agg_result.columns if c not in key_cols]
    null_vals = [
        F.lit(None).cast(agg_result.schema[c].dataType).alias(c)
        for c in val_cols
    ]
    # (keys..., start) is unique in agg_result (grouped output), so
    # max over {value, NULL} reproduces the join's value-or-NULL
    out = (
        agg_result.unionByName(base.select(*key_cols, *null_vals))
        .groupBy(*key_cols)
        .agg(*[F.max(c).alias(c) for c in val_cols])
    )
    for func, _col, alias in aggs:
        if func == "count":
            out = out.withColumn(alias, F.coalesce(F.col(alias), F.lit(0)))
    return out


def interpolated_fill(
    agg_result: DataFrame,
    spine: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    t_col: str = "window_start",
) -> DataFrame:
    """Linear interpolation of missing windows — the value-filling
    counterpart of :func:`gap_filled` (which only emits count→0).

    ``agg_result`` holds one **integer** ``value_col`` per present
    ``(keys..., t_col)`` bucket; ``spine`` is the full bucket grid
    (e.g. :func:`window_spine` output, optionally cross-joined with the
    key set by the caller). Buckets outside a key's [first, last]
    present range are dropped (no extrapolation).

    EXACTNESS: interpolation divides, and cross-engine float division
    is not bit-stable — so the result is emitted as an exact integer
    fraction ``(num, den)`` with ``value = num/den``:

        present:  num = v,                              den = 1
        missing:  num = v_prev·(t_next−t) + v_next·(t−t_prev),
                  den = t_next − t_prev

    Scale shape: one left join onto the spine plus two linear window
    scans per key (carry-forward / carry-backward with ``ignorenulls``)
    — no self-join, no per-gap pair space. Parallelism is bounded by
    the key cardinality (window partitioned by ``keys``); for the
    un-keyed global series the scan is single-partition by nature, as
    in any per-series operator.
    """
    from pyspark.sql.window import Window as W

    key_cols = list(keys)
    # r15 OPT (guide §2.4): union + merge aggregation instead of a
    # left join of two span-bound relations — same shape and
    # precondition as :func:`gap_filled` (the grid's [lo, hi] per key
    # comes from the agg itself, so containment is exact); the window
    # scans below see row-identical input.
    g = (
        agg_result.select(*key_cols, t_col, value_col)
        .unionByName(
            spine.select(
                *key_cols,
                t_col,
                F.lit(None)
                .cast(agg_result.schema[value_col].dataType)
                .alias(value_col),
            )
        )
        .groupBy(*key_cols, t_col)
        .agg(F.max(value_col).alias(value_col))
    )
    part = W.partitionBy(*key_cols) if key_cols else W.partitionBy()
    w_prev = part.orderBy(t_col).rowsBetween(W.unboundedPreceding, 0)
    w_next = part.orderBy(t_col).rowsBetween(0, W.unboundedFollowing)
    v = F.col(value_col)
    t = F.col(t_col)
    present_t = F.when(v.isNotNull(), t)
    prev_v = F.last(v, ignorenulls=True).over(w_prev)
    prev_t = F.last(present_t, ignorenulls=True).over(w_prev)
    next_v = F.first(v, ignorenulls=True).over(w_next)
    next_t = F.first(present_t, ignorenulls=True).over(w_next)
    num = F.when(v.isNotNull(), v).otherwise(
        prev_v * (next_t - t) + next_v * (t - prev_t)
    )
    den = F.when(v.isNotNull(), F.lit(1)).otherwise(next_t - prev_t)
    return (
        g.withColumn("num", num.cast("bigint"))
        .withColumn("den", den.cast("bigint"))
        .filter(F.col("num").isNotNull())
        .select(*key_cols, t_col, "num", "den")
    )
