"""Streaming layer tests: streaming-vs-batch equivalence (the
reference executes everything as a stream — SURVEY.md §3.2 — so our
batch plans must agree with the streaming runs of the same logic),
stream-static join, checkpoint restart, and the stateful count-window
operator."""

from __future__ import annotations

import re
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, rows_match

from lightsaber_spark.operators import static_hash_join, windowed_agg
from lightsaber_spark.operators.row_window import keyed_row_window_agg
from lightsaber_spark.streaming import (
    read_stream,
    run_available_now,
    streaming_windowed_agg,
)
from lightsaber_spark.streaming.stream import streaming_dedup
from lightsaber_spark.streaming.row_windows import streaming_row_window_agg


@pytest.fixture(scope="module")
def events_stream_src(spark, tmp_path_factory):
    """Events re-written as several parquet files so availableNow
    replays them as multiple micro-batches (the reference's replay
    driver, BenchmarkQuery.h:144-240)."""
    from lightsaber_spark.session import load_tables

    ev = load_tables(spark, SF_DIR, ("events",))["events"]
    path = str(tmp_path_factory.mktemp("events_stream"))
    # in-order split: sort then range-partition into sequential files
    ev.sort("ts").coalesce(1).write.mode("overwrite").parquet(path)
    schema = spark.read.parquet(path).schema
    return path, schema


def _stream(spark, src, max_files=1):
    path, schema = src
    return read_stream(spark, path, schema, max_files_per_trigger=max_files)


def test_streaming_tumbling_matches_batch(spark, events, events_stream_src, tmp_path):
    stream = _stream(spark, events_stream_src)
    s = streaming_windowed_agg(
        stream, "ts", 3600, None,
        [("sum", "value", "sum_value"), ("count", None, "n")],
        ["event_type"],
    )
    # complete mode: emit every window incl. the last (append mode holds
    # the final window open — watermark semantics tested separately)
    got = run_available_now(s, str(tmp_path / "ck"), "complete", table_name="t_tumb")
    want = windowed_agg(
        events, "ts", 3600, None,
        [("sum", "value", "sum_value"), ("count", None, "n")],
        ["event_type"],
    )
    ok, msg = rows_match(
        got.select("window_start", "event_type", "sum_value", "n").collect(),
        want.select("window_start", "event_type", "sum_value", "n").collect(),
        float_tol=1e-6,
    )
    assert ok, msg


def test_streaming_sliding_matches_batch(spark, events, events_stream_src, tmp_path):
    stream = _stream(spark, events_stream_src)
    s = streaming_windowed_agg(
        stream, "ts", 1800, 600, [("count", None, "n")], ["event_type"]
    )
    got = run_available_now(s, str(tmp_path / "ck"), "complete", table_name="t_slide")
    want = windowed_agg(events, "ts", 1800, 600, [("count", None, "n")], ["event_type"])
    ok, msg = rows_match(
        got.select("window_start", "event_type", "n").collect(),
        want.select("window_start", "event_type", "n").collect(),
    )
    assert ok, msg


def test_append_mode_emits_only_closed_windows(spark, events, events_stream_src, tmp_path):
    """Append mode + 0s watermark = the reference's in-order stream
    model: a window is emitted once the stream has passed its end; the
    trailing open window(s) stay in state."""
    stream = _stream(spark, events_stream_src)
    s = streaming_windowed_agg(stream, "ts", 3600, None, [("count", None, "n")])
    got = {(r.window_start, r.n) for r in
           run_available_now(s, str(tmp_path / "ck"), table_name="t_append").collect()}
    want = {(r.window_start, r.n) for r in
            windowed_agg(events, "ts", 3600, None, [("count", None, "n")]).collect()}
    assert got.issubset(want)
    held = want - got
    assert 0 < len(held) <= 2  # only the newest window(s) can be open
    assert min(w for w, _ in held) >= max(w for w, _ in got)


def test_stream_static_join_ysb_shape(spark, tables, events_stream_src, tmp_path):
    """YSB as a real stream: stream-static broadcast join then tumbling
    agg (ref YSB.cpp:153-202; stream×table join = StaticHashJoin §2.1#7)."""
    stream = _stream(spark, events_stream_src).filter(F.col("event_type") == "view")
    dim = tables["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = static_hash_join(stream, dim, "user_id")
    s = streaming_windowed_agg(joined, "ts", 3600, None, [("count", None, "n")], ["c_mktsegment"])
    got = run_available_now(s, str(tmp_path / "ck"), "complete", table_name="t_ysb")

    batch = static_hash_join(
        tables["events"].filter(F.col("event_type") == "view"), dim, "user_id"
    )
    want = windowed_agg(batch, "ts", 3600, None, [("count", None, "n")], ["c_mktsegment"])
    ok, msg = rows_match(
        got.select("window_start", "c_mktsegment", "n").collect(),
        want.select("window_start", "c_mktsegment", "n").collect(),
    )
    assert ok, msg


def test_checkpoint_restart_exactly_once(spark, events_stream_src, tmp_path):
    """Scabbard semantics (FileBackedCheckpointCoordinator.h:34-42):
    kill a query, restart from the checkpoint, no loss, no dupes."""
    path, schema = events_stream_src
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_once():
        stream = read_stream(spark, path, schema, max_files_per_trigger=1)
        agg = streaming_windowed_agg(stream, "ts", 3600, None, [("count", None, "n")])
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).count()

    n1 = run_once()
    # "restart" from the same checkpoint: input already committed → no
    # duplicate output (the Scabbard exactly-once guarantee)
    n2 = run_once()
    assert n1 > 0
    assert n2 == n1


def test_watermark_drops_late_rows(spark, tmp_path):
    """The reference assumes in-order streams and has no late-data
    handling (README.md:16) — our 0s watermark encodes that: a row
    older than the watermark is dropped. A larger watermark delay
    (allowed lateness) keeps it — the semantic knob the reference
    lacks."""
    import datetime as dt

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(rows):
        spark.createDataFrame(rows, "ts timestamp, v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic replay order

    # batch 1: in-order rows; batch 2: one more (the watermark a batch
    # uses is derived from the PREVIOUS batch's max event time, so the
    # late row goes a full two batches after the data that outdates it)
    write_file([(t0 + dt.timedelta(hours=1), 1), (t0 + dt.timedelta(hours=2), 2)])
    write_file([(t0 + dt.timedelta(hours=3), 5)])
    # batch 3: one LATE row back at 00:30
    write_file([(t0 + dt.timedelta(minutes=30), 3)])
    # batch 4: a future row; advances the watermark far enough to close
    # the 00:00 window even with 4h allowed lateness
    write_file([(t0 + dt.timedelta(hours=10), 4)])

    def run(delay, ck):
        stream = (
            spark.readStream.schema("ts timestamp, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = streaming_windowed_agg(
            stream, "ts", 3600, None, [("count", None, "n")], watermark=delay
        )
        got = run_available_now(agg, str(tmp_path / ck), "append", table_name=f"t_{ck}")
        return {r.window_start: r.n for r in got.collect()}

    strict = run("0 seconds", "ck0")
    lenient = run("4 hours", "ck4")
    w_0000 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())  # 00:00 window
    # strict (the reference's in-order model): late row dropped
    assert strict.get(w_0000) is None
    # allowed lateness: late row admitted into the 00:00 window
    assert lenient.get(w_0000) == 1


def test_streaming_row_window_per_key_matches_batch(spark, events, events_stream_src, tmp_path):
    """Count windows (ROW_BASED, WindowDefinition.h:13) via the
    applyInPandasWithState operator, per-key mode — the scalable shape."""
    stream = _stream(spark, events_stream_src, max_files=1)
    s = streaming_row_window_agg(
        stream, ["ts", "event_id"], 100,
        [("count", None, "n"), ("sum", "value", "sum_value"), ("max", "value", "max_value")],
        keys=["event_type"],
    )
    got = run_available_now(s, str(tmp_path / "ck"), table_name="t_rw")

    want_full = keyed_row_window_agg(
        events, ["ts", "event_id"], 100,
        [("count", None, "n"), ("sum", "value", "sum_value"), ("max", "value", "max_value")],
        ["event_type"],
    )
    want = want_full.filter(F.col("n") == 100)  # streaming emits complete windows only
    ok, msg = rows_match(
        got.select("event_type", "window_id", "n", "sum_value", "max_value").collect(),
        want.select("event_type", "window_id", "n", "sum_value", "max_value").collect(),
        float_tol=1e-6,
    )
    assert ok, msg


def test_streaming_theta_join_matches_batch(spark, events, events_stream_src, tmp_path):
    """Stream-stream theta join (ref ThetaJoin.h symmetric windowed
    join) vs the batch bucketed band join — same pairs."""
    from lightsaber_spark.operators import theta_join
    from lightsaber_spark.streaming.stream import streaming_theta_join

    def sides(df):
        l = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("l_ts"),
            F.col("value").alias("l_value"),
        )
        r = df.filter(F.col("event_type") == "click").select(
            F.col("ts").alias("r_ts"), F.col("value").alias("r_value")
        )
        return l, r

    sl, sr = sides(_stream(spark, events_stream_src))
    joined = streaming_theta_join(
        sl, sr, F.col("r_value") > F.col("l_value"), "l_ts", "r_ts", 120
    ).select("err_id", "r_ts", "r_value")
    got = run_available_now(joined, str(tmp_path / "ck"), table_name="t_sj")

    bl, br = sides(events)
    want = theta_join(
        bl, br, F.col("r_value") > F.col("l_value"),
        left_ts="l_ts", right_ts="r_ts", max_delta_sec=120,
    ).select("err_id", "r_ts", "r_value")
    ok, msg = rows_match(got.collect(), want.collect(), float_tol=1e-9)
    assert ok, msg


def test_streaming_session_windows_match_batch(spark, events, events_stream_src, tmp_path):
    """session_window works in Structured Streaming too (state-store
    session merging); complete mode ⇒ same sessions as batch."""
    from lightsaber_spark.streaming import session_window_agg

    stream = _stream(spark, events_stream_src).withWatermark("ts", "0 seconds")
    s = session_window_agg(stream, "ts", 1800, [("count", None, "n")], ["user_id"])
    got = run_available_now(s, str(tmp_path / "ck"), "complete", table_name="t_sess")
    want = session_window_agg(events, "ts", 1800, [("count", None, "n")], ["user_id"])
    cols = ["user_id", "session_start_us", "session_end_us", "n"]
    ok, msg = rows_match(
        got.select(*cols).collect(), want.select(*cols).collect()
    )
    assert ok, msg


def test_streaming_sliding_row_window_matches_batch(spark, events, events_stream_src, tmp_path):
    """Sliding count windows (size=200, slide=50) per key: the pane-
    deque stateful op vs the batch row_window_agg explode path."""
    from lightsaber_spark.operators.row_window import row_window_agg

    stream = _stream(spark, events_stream_src)
    s = streaming_row_window_agg(
        stream, ["ts", "event_id"], 200,
        [("count", None, "n"), ("sum", "value", "sum_value"), ("min", "value", "min_value")],
        keys=[], slide_rows=50,
    )
    got = run_available_now(s, str(tmp_path / "ck"), table_name="t_srw")

    want = row_window_agg(
        events, ["ts", "event_id"], 200, 50,
        [("count", None, "n"), ("sum", "value", "sum_value"), ("min", "value", "min_value")],
    ).filter(F.col("n") == 200)  # complete windows only
    ok, msg = rows_match(
        got.select("window_id", "n", "sum_value", "min_value").collect(),
        want.select("window_id", "n", "sum_value", "min_value").collect(),
        float_tol=1e-6,
    )
    assert ok, msg


def test_streaming_row_window_global(spark, events, events_stream_src, tmp_path):
    stream = _stream(spark, events_stream_src, max_files=1)
    s = streaming_row_window_agg(
        stream, ["ts", "event_id"], 1000, [("count", None, "n")], keys=[]
    )
    got = run_available_now(s, str(tmp_path / "ck"), table_name="t_rwg")
    n_rows = events.count()
    assert sorted(r.window_id for r in got.collect()) == list(range(n_rows // 1000))
    assert all(r.n == 1000 for r in got.collect())


def test_streaming_dedup_cross_batch(spark, events, tmp_path):
    """Re-delivered records across micro-batches: file 2 replays file 1
    verbatim; global streaming_dedup (unbounded state) must emit each
    event_id exactly once — equal to batch dropDuplicates."""
    src = str(tmp_path / "dup_src")
    ev = events.select("event_id", "ts", "user_id").sort("ts")
    ev.coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    ev.coalesce(1).write.mode("append").parquet(src + "/f1")  # second copy
    schema = spark.read.parquet(src + "/f1").schema
    stream = read_stream(spark, src + "/f1", schema, max_files_per_trigger=1)
    got = run_available_now(
        streaming_dedup(stream, ["event_id"]),
        str(tmp_path / "ck_dedup"), table_name="t_dedup",
    )
    ids = [r.event_id for r in got.select("event_id").collect()]
    want = [r.event_id for r in ev.select("event_id").distinct().collect()]
    assert sorted(ids) == sorted(want)
    assert len(ids) == len(set(ids))  # each exactly once


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Bounded-state mode: duplicates inside the re-delivery window are
    suppressed (dropDuplicatesWithinWatermark keeps state only within
    the watermark horizon)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for i in range(50):
        t = base + dt.timedelta(seconds=i)
        rows.append((i, t))
        rows.append((i, t))  # same-batch duplicate
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    src = str(tmp_path / "wm_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema, max_files_per_trigger=1)
    got = run_available_now(
        streaming_dedup(stream, ["id"], ts_col="ts", watermark="10 seconds"),
        str(tmp_path / "ck_wm"), table_name="t_dedup_wm",
    )
    ids = [r.id for r in got.collect()]
    assert sorted(ids) == list(range(50))


def test_streaming_nbq5_post_window_argmax(spark, events, events_stream_src, tmp_path):
    """NBQ5 as a stream: windowed count per key, then the per-window
    argmax as a SECOND stateful aggregation over the first one's
    window column (chained streaming aggregations; the reference
    injects this as a post-window C++ reduction, NBQ5.cpp:73-103).
    max_by keeps a single winner; the batch twin uses the same
    keep_ties=False semantics."""
    from lightsaber_spark.operators import post_window_argmax, windowed_agg

    stream = _stream(spark, events_stream_src)
    wm = stream.withWatermark("ts", "0 seconds")
    counts = wm.groupBy(
        F.window(F.col("ts"), "3600 seconds").alias("_w"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    # chained streaming aggregation: re-window on window_time so event
    # time (and the watermark) propagate into the second stateful op
    winners = counts.groupBy(
        F.window(F.window_time("_w"), "3600 seconds").alias("_w2")
    ).agg(
        F.max_by(F.col("user_id"), F.struct(F.col("n"), -F.col("user_id"))).alias("user_id"),
        F.max(F.col("n")).alias("n"),
    )
    s = winners.select(
        F.unix_micros(F.col("_w2.start")).alias("us"), "user_id", "n"
    ).withColumn("window_start", (F.col("us") / 1_000_000).cast("bigint")).drop("us")
    # chained stateful ops only compose in append mode (complete mode
    # re-emits closed windows, which would be late for the second agg)
    got = {(r.window_start, r.user_id, r.n) for r in
           run_available_now(s, str(tmp_path / "ck"), table_name="t_nbq5").collect()}

    batch_counts = windowed_agg(events, "ts", 3600, 3600, [("count", None, "n")], ["user_id"])
    # deterministic single winner: max n, then smallest user_id
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("user_id").asc())
    want = {(r.window_start, r.user_id, r.n) for r in (
        batch_counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("window_start", "user_id", "n")
    ).collect()}
    assert got.issubset(want)
    held = want - got
    # the trailing open window(s) stay in state (watermark lags a batch)
    assert 0 < len(held) <= 3
    assert min(w for w, _, _ in held) >= max(w for w, _, _ in got)


def test_streaming_left_outer_theta_join(spark, events, tmp_path):
    """LEFT OUTER stream-stream theta join (reference has inner only —
    SURVEY §2.7): matched rows equal the batch join; null rows appear
    exactly for unmatched left rows old enough that the watermark
    passed their band (final-rows caveat: the tail is withheld).
    Watermark advance lags one batch (CLAUDE.md), so the emission
    bound uses the second-to-last batch's max event time."""
    from lightsaber_spark.operators import theta_join
    from lightsaber_spark.streaming.stream import streaming_theta_join

    # three sequential in-order files => three micro-batches
    rows = events.sort("ts").select("event_id", "ts", "event_type", "value").toPandas()
    path = tmp_path / "ev3"
    path.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    third = len(rows) // 3
    splits = [rows.iloc[:third], rows.iloc[third : 2 * third], rows.iloc[2 * third :]]
    for i, chunk in enumerate(splits):
        tbl = pa.Table.from_pandas(chunk, preserve_index=False)
        # write µs timestamps — ns columns read back as bigint under
        # the session's nanosAsLong conf
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts",
            tbl.column("ts").cast(pa.timestamp("us", tz="UTC")),
        )
        pq.write_table(tbl, str(path / f"{i:02d}.parquet"))
    schema = spark.read.parquet(str(path)).schema
    stream = read_stream(spark, str(path), schema, max_files_per_trigger=1)

    def sides(df):
        l = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("l_ts"),
            F.col("value").alias("l_value"),
        )
        r = df.filter(F.col("event_type") == "click").select(
            F.col("ts").alias("r_ts"), F.col("value").alias("r_value")
        )
        return l, r

    sl, sr = sides(stream)
    joined = streaming_theta_join(
        sl, sr, F.col("r_value") > F.col("l_value"), "l_ts", "r_ts", 120,
        how="left_outer",
    ).select("err_id", "l_ts", "r_ts", "r_value")
    got = run_available_now(joined, str(tmp_path / "ck"), table_name="t_loj").collect()

    bl, br = sides(events)
    want_inner = {
        (r["err_id"], r["r_ts"], r["r_value"])
        for r in theta_join(
            bl, br, F.col("r_value") > F.col("l_value"),
            left_ts="l_ts", right_ts="r_ts", max_delta_sec=120,
        ).select("err_id", "r_ts", "r_value").collect()
    }
    got_inner = {(r["err_id"], r["r_ts"], r["r_value"]) for r in got if r["r_ts"] is not None}
    assert got_inner == want_inner

    # null rows: subset of batch-unmatched, and complete for rows whose
    # band closed two batches before the end
    matched_ids = {t[0] for t in want_inner}
    batch_null_ids = {
        r["err_id"] for r in bl.collect() if r["err_id"] not in matched_ids
    }
    got_nulls = {r["err_id"] for r in got if r["r_ts"] is None}
    assert got_nulls <= batch_null_ids
    import datetime as _dt

    wm_bound = splits[0]["ts"].max().to_pydatetime() - _dt.timedelta(seconds=121)
    must_emit = {
        r["err_id"]
        for r in bl.collect()
        if r["err_id"] not in matched_ids and r["l_ts"] < wm_bound
    }
    assert must_emit <= got_nulls
    assert len(got_nulls) > 0


def test_continuous_pane_rollup(spark, events, events_stream_src, tmp_path):
    """foreachBatch materialized rollup: streamed pane partials merged
    at read time equal the batch pane aggregate; a checkpointed re-run
    adds nothing (idempotent replay); compaction preserves results."""
    from lightsaber_spark.streaming.rollup import (
        compact,
        continuous_pane_rollup,
        rollup_view,
    )

    measures = [("sum", "value", "sum_v"), ("count", None, "n"),
                ("max", "value", "max_v")]
    keys = ["event_type"]
    out = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")

    def run():
        q = continuous_pane_rollup(
            _stream(spark, events_stream_src), "ts", 3600, measures, keys, out, ck
        )
        q.awaitTermination()

    run()
    got = rollup_view(spark, out, measures, keys)
    pane = (
        ((F.unix_micros("ts") - F.unix_micros("ts") % 3_600_000_000)
         / 3_600_000_000).cast("bigint") * 3600
    ).alias("pane_start")
    want = events.groupBy(pane, *keys).agg(
        F.sum("value").alias("sum_v"), F.count(F.lit(1)).alias("n"),
        F.max("value").alias("max_v"),
    )
    cols = ["pane_start", "event_type", "sum_v", "n", "max_v"]
    ok, msg = rows_match(got.select(*cols).collect(),
                         want.select(*cols).collect(), float_tol=1e-9)
    assert ok, msg

    # restart from the same checkpoint: input already committed
    run()
    ok, msg = rows_match(
        rollup_view(spark, out, measures, keys).select(*cols).collect(),
        want.select(*cols).collect(), float_tol=1e-9,
    )
    assert ok, msg

    compact(spark, out, measures, keys)
    ok, msg = rows_match(
        rollup_view(spark, out, measures, keys).select(*cols).collect(),
        want.select(*cols).collect(), float_tol=1e-9,
    )
    assert ok, msg


def test_streaming_chained_stateful_argmax(spark, events, events_stream_src, tmp_path):
    """NBQ5 as a true stream: two chained stateful aggregations (count
    per window+user, then per-window argmax) in ONE streaming query —
    emitted windows must equal the batch computation with the same
    deterministic tie rule (max over (n, key))."""
    from lightsaber_spark.streaming.stream import streaming_post_window_argmax

    stream = _stream(spark, events_stream_src, max_files=1)
    s = streaming_post_window_argmax(stream, "ts", 3600, "user_id")
    got = run_available_now(s, str(tmp_path / "ck"), "append", table_name="t_nbq5s")

    per_key = events.groupBy(
        F.window(F.col("ts"), "3600 seconds").alias("_w"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    want = (
        per_key.groupBy("_w")
        .agg(F.max(F.struct("n", F.col("user_id").alias("_k"))).alias("_win"))
        .select(
            F.unix_micros(F.col("_w.start")).alias("_us"),
            F.col("_win._k").alias("user_id"),
            F.col("_win.n").alias("n"),
        )
        .select((F.col("_us") / 1_000_000).cast("bigint").alias("window_start"),
                "user_id", "n")
    )
    got_rows = {tuple(r) for r in got.collect()}
    want_rows = {tuple(r) for r in want.collect()}
    # append mode holds un-closed tail windows in state; everything
    # emitted must be correct and only tail windows may be missing
    assert got_rows <= want_rows
    missing = {r[0] for r in want_rows - got_rows}
    emitted = {r[0] for r in got_rows}
    assert not emitted or all(m > min(emitted) for m in missing)
    assert len(got_rows) >= len(want_rows) - 2


def test_sliding_view_from_pane_rollup(spark, events, events_stream_src, tmp_path):
    """High-ratio sliding windows served from the maintained pane
    table: stream panes once (600 s), reconstruct window(3600, 600) at
    read time — must equal the batch sliding aggregate. The streaming
    state is O(panes); no per-window state, no re-ingestion."""
    from lightsaber_spark.streaming.rollup import (
        continuous_pane_rollup,
        sliding_view,
    )

    measures = [
        ("sum", "value", "sum_v"),
        ("count", None, "n"),
        # non-invertible measures: pane partials merge by min/max (the
        # streaming face of the batch van Herk path's semantics)
        ("min", "value", "mn"),
        ("max", "value", "mx"),
    ]
    keys = ["event_type"]
    out = str(tmp_path / "rollup_s")
    ck = str(tmp_path / "ck_s")
    q = continuous_pane_rollup(
        _stream(spark, events_stream_src), "ts", 600, measures, keys, out, ck
    )
    q.awaitTermination()

    got = sliding_view(spark, out, measures, keys, 3600, 600, 600)
    want = windowed_agg(
        events, "ts", 3600, 600,
        [("sum", "value", "sum_v"), ("count", None, "n"),
         ("min", "value", "mn"), ("max", "value", "mx")], keys,
    )
    cols = ["window_start", "event_type", "sum_v", "n", "mn", "mx"]
    ok, msg = rows_match(got.select(*cols).collect(),
                         want.select(*cols).collect(), float_tol=1e-9)
    assert ok, msg


def test_streaming_funnel_matches_batch(spark, events, events_stream_src, tmp_path):
    """Incremental per-user funnel state over a multi-batch replay must
    land exactly on the batch first-qualifying-event chain (both pick
    the minimal qualifying event per stage on an in-order stream)."""
    import datetime

    from lightsaber_spark.streaming.funnel import (
        funnel_final_positions,
        streaming_funnel,
    )

    stages = ("view", "click", "purchase")
    step = 24 * 3600
    # tiny Arrow batches: every user's per-batch rows span several
    # chunks, exercising the concat-before-sort path (a per-chunk-only
    # sort breaks batch equivalence for multi-chunk users)
    old_arrow = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    out = streaming_funnel(
        _stream(spark, events_stream_src), "ts", "user_id", "event_type",
        stages, step,
    )
    q = (
        out.writeStream.format("memory").queryName("funnel_updates")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_funnel"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_arrow)
    got = {
        r.user_id: (r.stage_reached, r.t0, r.t1, r.t2)
        for r in funnel_final_positions(spark.table("funnel_updates")).collect()
    }

    # batch reference: per-user minimal qualifying chain, exact µs
    utc = datetime.timezone.utc

    def us(dt):
        return int(dt.replace(tzinfo=utc).timestamp()) * 1_000_000 + dt.microsecond

    per_user = {}
    for r in events.select("user_id", "ts", "event_type").collect():
        per_user.setdefault(r.user_id, []).append((us(r.ts), r.event_type))
    step_us = step * 1_000_000
    for uid, evs in per_user.items():
        ts0 = [t for t, ty in evs if ty == "view"]
        want = [None, None, None]
        if ts0:
            want[0] = min(ts0)
            for j, stage in ((1, "click"), (2, "purchase")):
                prev = want[j - 1]
                if prev is None:
                    break
                nxt = [t for t, ty in evs if ty == stage and prev < t <= prev + step_us]
                if nxt:
                    want[j] = min(nxt)
        reached = sum(1 for v in want if v is not None)
        if reached == 0:
            assert uid not in got, f"user {uid} emitted without a view"
        else:
            assert got.get(uid) == (reached, *want), (
                f"user {uid}: streaming {got.get(uid)} != batch {(reached, *want)}"
            )


def test_streaming_funnel_checkpoint_restart(spark, events, tmp_path):
    """Custom-stateful-op state must survive a stop/restart: feed half
    the (in-order) events, stop, add the rest, restart from the same
    checkpoint — final funnel positions equal a single uninterrupted
    run (per-user stage times recovered, not recomputed from scratch)."""
    from lightsaber_spark.streaming.funnel import (
        funnel_final_positions,
        streaming_funnel,
    )

    ev = events.select("user_id", "ts", "event_type").sort("ts")
    rows = ev.count()
    first = ev.limit(rows // 2)
    schema = ev.schema

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def run_phase():
        stream = read_stream(spark, src, schema, max_files_per_trigger=1)
        fun = streaming_funnel(
            stream, "ts", "user_id", "event_type",
            ("view", "click", "purchase"), 24 * 3600,
        )

        def write(batch, _bid):
            batch.write.mode("append").parquet(out)

        q = (
            fun.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    first.coalesce(1).write.mode("append").parquet(src)
    run_phase()
    # the rest arrives later (still in order: second half has later ts)
    ev.exceptAll(first).coalesce(1).write.mode("append").parquet(src)
    run_phase()
    got = {
        r.user_id: (r.stage_reached, r.t0, r.t1, r.t2)
        for r in funnel_final_positions(spark.read.parquet(out)).collect()
    }

    # single uninterrupted run over the same data
    src2, out2, ck2 = (str(tmp_path / d) for d in ("src2", "out2", "ck2"))
    ev.coalesce(1).write.parquet(src2)
    stream = read_stream(spark, src2, schema, max_files_per_trigger=1)
    fun = streaming_funnel(
        stream, "ts", "user_id", "event_type",
        ("view", "click", "purchase"), 24 * 3600,
    )

    def write2(batch, _bid):
        batch.write.mode("append").parquet(out2)

    q = (
        fun.writeStream.foreachBatch(write2)
        .outputMode("update")
        .option("checkpointLocation", ck2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    want = {
        r.user_id: (r.stage_reached, r.t0, r.t1, r.t2)
        for r in funnel_final_positions(spark.read.parquet(out2)).collect()
    }
    assert got == want


def test_streaming_funnel_rejects_bad_stages(spark, events_stream_src):
    from lightsaber_spark.streaming.funnel import streaming_funnel

    s = _stream(spark, events_stream_src)
    with pytest.raises(ValueError, match="2 stages"):
        streaming_funnel(s, "ts", "user_id", "event_type", ("view",), 60)
    with pytest.raises(ValueError, match="distinct"):
        streaming_funnel(
            s, "ts", "user_id", "event_type", ("view", "click", "view"), 60
        )


def test_streaming_zscore_matches_batch_prev_window(spark, events, events_stream_src, tmp_path):
    """Streaming z-score outliers (O(1) state: events judged against
    the previous CLOSED window of their key) agree exactly with the
    batch twin — stats per (window, type) joined onto the NEXT
    adjacent window's events, same integer predicate. Update mode
    emits flags as events arrive, so no trailing-window holdback:
    equality, not subset."""
    from lightsaber_spark.streaming.anomaly import streaming_zscore_outliers

    size = 86400
    s = streaming_zscore_outliers(
        _stream(spark, events_stream_src), "ts", "event_type", "value", size
    )
    got = {
        (r.event_id, r.window_start, r.event_type, r.n_ref)
        for r in run_available_now(
            s, str(tmp_path / "ck_z"), table_name="t_zscore", output_mode="update"
        ).collect()
    }

    e = events.select(
        "event_id",
        "event_type",
        (F.unix_micros("ts") / (size * 1_000_000)).cast("bigint").alias("w"),
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
    ).withColumn("w", F.col("w") * size)
    st = e.groupBy("w", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"), F.sum(F.col("x") * F.col("x")).alias("q")
    ).filter(F.col("n") >= 10)
    ref = st.select(
        (F.col("w") + size).alias("w"), "event_type",
        F.col("n").alias("pn"), F.col("s").alias("ps"), F.col("q").alias("pq"),
    )
    j = e.join(ref, ["w", "event_type"])
    dev = F.col("pn") * F.col("x") - F.col("ps")
    var_n2 = F.col("pn") * F.col("pq") - F.col("ps") * F.col("ps")
    want = {
        (r.event_id, r.w, r.event_type, r.pn)
        for r in j.filter(dev * dev > F.lit(4) * var_n2)
        .select("event_id", "w", "event_type", "pn")
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_neardup_lsh_matches_batch_candidates(spark, tmp_path):
    """Streaming LSH near-dup flags = the batch retrieval stage's
    verdict: a doc is flagged iff it shares a band bucket with an
    earlier (smaller-id) doc — exactly the id_b side of
    minhash_lsh_candidates' (id_a < id_b) pairs. Signatures come from
    the per-row band-key UDF and must be bit-identical to the
    relational signature path for this to hold."""
    from lightsaber_spark.functions.dedup import (
        minhash_lsh_candidates,
        release_shingle_caches,
    )
    from lightsaber_spark.session import load_tables
    from lightsaber_spark.streaming.stream import streaming_neardup_lsh

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    src = str(tmp_path / "docs_stream")
    docs.sort("doc_id").coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema, max_files_per_trigger=1)

    s = streaming_neardup_lsh(stream)
    got = {
        r.doc_id
        for r in run_available_now(
            s, str(tmp_path / "ck_nd"), table_name="t_neardup", output_mode="update"
        ).collect()
    }

    try:
        want = {
            r.id_b for r in minhash_lsh_candidates(docs).select("id_b").collect()
        }
    finally:
        release_shingle_caches()
    assert got == want and len(want) > 0


def test_streaming_line_boilerplate_matches_batch_flagged_set(spark, tmp_path):
    """Streaming CCNet boilerplate detection must agree with the batch
    flagged-line set of line_dedup_stats/scrub on the same corpus: the
    set of flagged line hashes is identical after the stream drains,
    every emission carries line_df == min_df, and flagged_by_doc is
    the min_df-th distinct document in id order (verified against a
    pure-Python incremental model) — regardless of how the corpus is
    split into micro-batches."""
    import hashlib
    import time as _t

    from lightsaber_spark.streaming.stream import streaming_line_boilerplate

    footer_a = "(c) example corp - all rights reserved"
    footer_b = "unsubscribe: visit preferences"
    # digit-ENDED boilerplate at varying line positions: catches any
    # lambda that leaks the element index into trim's trim-chars arg
    footer_c = "900 support line 365"
    docs = []
    for i in range(30):
        parts = [f"body text {i}"]
        if i % 3 == 0:
            parts.append(footer_a)
        if i % 5 == 0:
            parts.append(footer_b)
        if i % 7 == 0:
            parts.append(footer_c)
        parts.append(f"trailer {i}")
        docs.append((i, "\n".join(parts)))

    src = str(tmp_path / "docs_src")
    for lo, hi in ((0, 10), (10, 20), (20, 30)):
        spark.createDataFrame(
            docs[lo:hi], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)  # distinct mtimes → deterministic replay order

    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    got = run_available_now(
        streaming_line_boilerplate(stream, min_df=5),
        str(tmp_path / "ck_lb"),
        table_name="t_lineboiler",
        output_mode="update",
    ).collect()

    def h60(line):
        return int(hashlib.md5(line.encode()).hexdigest()[:15], 16)

    # pure-Python incremental model over docs in id order
    model: dict[int, tuple[int, int]] = {}
    counts: dict[int, int] = {}
    for did, text in docs:
        for line in {ln.strip() for ln in text.split("\n")} - {""}:
            lh = h60(line)
            counts[lh] = counts.get(lh, 0) + 1
            if counts[lh] == 5:
                model[lh] = (did, 5)

    assert {r.lh: (r.flagged_by_doc, r.line_df) for r in got} == model
    # and the flagged SET equals the batch definition (df >= min_df)
    batch_flagged = {lh for lh, c in counts.items() if c >= 5}
    assert (
        {r.lh for r in got}
        == batch_flagged
        == {h60(footer_a), h60(footer_b), h60(footer_c)}
    )


def test_streaming_line_df_counts_matches_batch(spark, tmp_path):
    """The pure-JVM running doc-frequency aggregation must converge to
    the batch per-line doc frequencies after the stream drains (and so
    yield the same flagged set at any threshold)."""
    import hashlib
    import time as _t

    from lightsaber_spark.streaming.stream import streaming_line_df_counts

    footer = "all rights reserved"
    docs = [
        (i, f"body {i}\n{footer}" if i % 2 == 0 else f"body {i}\nuniq {i}")
        for i in range(20)
    ]
    src = str(tmp_path / "docs_src")
    for lo, hi in ((0, 10), (10, 20)):
        spark.createDataFrame(
            docs[lo:hi], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)

    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    got = {
        r.lh: r.line_df
        for r in run_available_now(
            streaming_line_df_counts(stream),
            str(tmp_path / "ck_ldf"),
            "complete",
            table_name="t_linedf",
        ).collect()
    }

    def h60(line):
        return int(hashlib.md5(line.encode()).hexdigest()[:15], 16)

    want: dict[int, int] = {}
    for _, text in docs:
        for line in {ln.strip() for ln in text.split("\n")} - {""}:
            want[h60(line)] = want.get(h60(line), 0) + 1
    assert got == want and got[h60(footer)] == 10


def test_streaming_line_scrub_matches_batch_scrub(spark, tmp_path):
    """Streaming scrub against a static flagged-line table must emit
    exactly the batch line_dedup_scrub rows (same n_kept, same
    clean_md5, all-boilerplate docs absent) when the flagged set is
    the batch-computed one — the production 'periodic detection job +
    streaming ingest scrub' split."""
    import time as _t

    from lightsaber_spark.functions.dedup import (
        line_dedup_scrub,
        release_shingle_caches,
        shingle_hash,
    )
    from lightsaber_spark.streaming.stream import streaming_line_scrub

    footer_a = "(c) example corp - all rights reserved"
    footer_b = "unsubscribe: visit preferences"
    docs = []
    for i in range(30):
        parts = [f"body text {i}"]
        if i % 3 == 0:
            parts.append(footer_a)
        if i % 5 == 0:
            parts.append(footer_b)
        if i == 7:
            parts = [footer_a, footer_b]  # all-boilerplate: drops out
        else:
            parts.append(f"trailer {i}")
        docs.append((i, "\n".join(parts)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # static flagged set, computed batch-side (df >= 5)
    flagged = (
        df.select(
            "doc_id", F.explode(F.split("text", "\n")).alias("_l")
        )
        .select("doc_id", F.trim("_l").alias("line"))
        .filter(F.col("line") != "")
        .select("doc_id", shingle_hash(F.col("line")).alias("lh"))
        .groupBy("lh")
        .agg(F.countDistinct("doc_id").alias("n"))
        .filter(F.col("n") >= 5)
        .select("lh")
    )

    src = str(tmp_path / "docs_src")
    for lo, hi in ((0, 15), (15, 30)):
        spark.createDataFrame(
            docs[lo:hi], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)

    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    got = {
        r.doc_id: (r.n_kept, r.clean_md5)
        for r in run_available_now(
            streaming_line_scrub(stream, flagged),
            str(tmp_path / "ck_ls"),
            table_name="t_linescrub",
            output_mode="update",
        ).collect()
    }
    try:
        want = {
            r.doc_id: (r.n_kept, r.clean_md5)
            for r in line_dedup_scrub(df, min_df=5).collect()
        }
    finally:
        release_shingle_caches()
    assert got == want and 7 not in got and len(want) == 29


def test_streaming_line_boilerplate_checkpoint_restart(spark, tmp_path):
    """The per-line doc-count state must survive a stop/restart: a
    line that accumulates df=3 in phase 1 and crosses min_df=5 in
    phase 2 is flagged with the correct crossing doc — provable only
    if the counts were recovered from the checkpoint."""
    import hashlib
    import time as _t

    from lightsaber_spark.streaming.stream import streaming_line_boilerplate

    footer_a = "(c) example corp - all rights reserved"   # 0,3,..,27
    footer_b = "unsubscribe: visit preferences"           # 0,5,..,25
    docs = []
    for i in range(30):
        parts = [f"body text {i}"]
        if i % 3 == 0:
            parts.append(footer_a)
        if i % 5 == 0:
            parts.append(footer_b)
        docs.append((i, "\n".join(parts)))

    src = str(tmp_path / "docs_src")
    sink = str(tmp_path / "out_lb_restart")
    ck = str(tmp_path / "ck_lb_restart")

    def drain(stream_docs):
        # memory sink can't resume from a checkpoint (CLAUDE.md) —
        # bridge the update-mode op to parquet via foreachBatch
        spark.createDataFrame(
            stream_docs, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)
        stream = read_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        )
        q = (
            streaming_line_boilerplate(stream, min_df=5)
            .writeStream.foreachBatch(
                lambda b, _bid: b.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain(docs[:15])   # footer_a df=5 (docs 0,3,6,9,12) -> flagged here
    drain(docs[15:])   # footer_b df: 3 in phase 1, crosses at doc 20

    def h60(line):
        return int(hashlib.md5(line.encode()).hexdigest()[:15], 16)

    got = {r.lh: r.flagged_by_doc for r in spark.read.parquet(sink).collect()}
    assert got == {h60(footer_a): 12, h60(footer_b): 20}


def test_streaming_asof_broadcast_enrichment(spark, events, events_stream_src, tmp_path):
    """asof_broadcast_join is fully stateless (broadcast of per-key
    sorted arrays + a per-row binary search), so the SAME operator
    runs unchanged on a stream — availableNow output equals the batch
    result exactly, no watermark holdback."""
    from lightsaber_spark.operators.joins import asof_broadcast_join
    from lightsaber_spark.session import load_tables

    orders = load_tables(spark, SF_DIR, ("orders",))["orders"].select(
        F.col("o_custkey").alias("cust"), "o_orderdate"
    )

    def build(left):
        out = asof_broadcast_join(
            left.select("event_id", F.col("user_id").alias("cust"), "ts"),
            orders, "ts", "o_orderdate", ["cust"], out_col="m_us",
        )
        return out.select("event_id", "m_us")

    got = {
        (r.event_id, r.m_us)
        for r in run_available_now(
            build(_stream(spark, events_stream_src)),
            str(tmp_path / "ck_asof"),
            table_name="t_asof_bc",
            output_mode="append",
        ).collect()
    }
    want = {(r.event_id, r.m_us) for r in build(events).collect()}
    assert got == want and len(want) > 0


def test_streaming_order_violation_monitor(spark, tmp_path):
    """The in-order contract guard: events whose timestamp regresses
    below their key's already-seen maximum ACROSS micro-batches are
    reported (with the offending max); in-order streams report
    nothing."""
    from lightsaber_spark.streaming.stream import streaming_order_violations

    def _ts(s):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    # batch 1: user 1 up to t=100; batch 2: regression to t=50 (user 1)
    # and a fine row for user 2
    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(100)), (2, _ts(20))], "user_id long, ts timestamp"
    )
    b2 = spark.createDataFrame(
        [(1, _ts(50)), (2, _ts(30))], "user_id long, ts timestamp"
    )
    b1.coalesce(1).write.parquet(src + "/b=1")
    b2.coalesce(1).write.parquet(src + "/b=2")
    schema = spark.read.parquet(src + "/b=1").schema
    stream = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)

    out = run_available_now(
        streaming_order_violations(stream, "ts", "user_id"),
        str(tmp_path / "ck_ord"),
        table_name="t_ord",
        output_mode="update",
    ).collect()
    got = {(r.user_id, r.ts_us, r.max_seen_us) for r in out}
    assert got == {(1, 50_000_000, 100_000_000)}


def test_streaming_asof_backward_matches_batch(spark, events, tmp_path):
    """Stream-stream backward as-of (one long of state per key) equals
    the batch union+scan asof_join on the same interleaved replay —
    update mode, so no trailing holdback: exact equality."""
    from lightsaber_spark.operators.joins import asof_join
    from lightsaber_spark.session import load_tables
    from lightsaber_spark.streaming.stream import streaming_asof_backward

    orders = load_tables(spark, SF_DIR, ("orders",))["orders"]
    left = events.select(
        F.col("user_id").alias("k"), F.col("ts"), F.lit(1).alias("side"),
        F.col("event_id").alias("rid"),
    )
    right = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(0).alias("side"), F.col("o_orderkey").alias("rid"),
    )
    both = left.unionByName(right)
    src = str(tmp_path / "asof_union")
    # two sequential in-order files → two micro-batches, state carries
    both.sort("ts", "side").coalesce(1).write.parquet(src + "/b=1")
    schema = spark.read.parquet(src + "/b=1").schema
    stream = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)

    got = {
        (r.rid, r.asof_ts_us)
        for r in run_available_now(
            streaming_asof_backward(stream, "ts", "k", "side", "rid"),
            str(tmp_path / "ck_ssasof"),
            table_name="t_ss_asof",
            output_mode="update",
        ).collect()
    }

    b = asof_join(
        events.select("event_id", F.col("user_id").alias("k"), "ts"),
        orders.select(F.col("o_custkey").alias("k"),
                      F.col("o_orderdate").cast("timestamp").alias("rts")),
        "ts", "rts", by=["k"],
    )
    want = {
        (r.event_id, r.m)
        for r in b.select("event_id", F.expr("unix_micros(rts)").alias("m")).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_gapfill_matches_batch_spine(spark, events, events_stream_src, tmp_path):
    """Streaming empty-window emission equals the batch per-key spine
    fill on every CLOSED window (each key's final window stays in
    state): zero-count interior windows must appear, with n = 0."""
    from lightsaber_spark.operators.window_agg import windowed_agg
    from lightsaber_spark.streaming.stream import streaming_gapfill_count

    size = 21600
    got = {
        (r.user_id, r.window_start, r.n)
        for r in run_available_now(
            streaming_gapfill_count(
                _stream(spark, events_stream_src), "ts", "user_id", size
            ),
            str(tmp_path / "ck_gf"),
            table_name="t_gapfill_s",
            output_mode="update",
        ).collect()
    }
    assert any(n == 0 for _, _, n in got), "no empty windows exercised"

    agg = windowed_agg(events, "ts", size, size, [("count", None, "n")], ["user_id"])
    per_key = {}
    for r in agg.collect():
        per_key.setdefault(r.user_id, {})[r.window_start] = r.n
    want = set()
    for u, wins in per_key.items():
        lo, hi = min(wins), max(wins)
        for w in range(lo, hi, size):        # hi excluded: un-closed
            want.add((u, w, wins.get(w, 0)))
    assert got == want


def test_streaming_sessions_close_on_timeout(spark, tmp_path):
    """A key that goes SILENT still gets its session emitted once the
    watermark passes last+gap (event-time timeout) — next-event closing
    can't do this. Key A sends two events then stops; key B's later
    traffic advances the watermark; A's session must emit without any
    further A event. In-state gap closing is exercised by B's far
    events splitting into two sessions."""
    from datetime import datetime, timezone

    from lightsaber_spark.streaming.sessions import streaming_sessions_timeout

    def _ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    src = str(tmp_path / "src")
    gap = 30
    # away from epoch 0: the initial watermark IS 1970-01-01, and a
    # stateful op drops rows at/below the watermark
    b1 = spark.createDataFrame(
        [(1, _ts(100)), (1, _ts(105))], "user_id long, ts timestamp"
    )
    b2 = spark.createDataFrame([(2, _ts(1000))], "user_id long, ts timestamp")
    b3 = spark.createDataFrame([(2, _ts(2000))], "user_id long, ts timestamp")
    for i, b in ((1, b1), (2, b2), (3, b3)):
        b.coalesce(1).write.parquet(src + f"/b={i}")
    schema = spark.read.parquet(src + "/b=1").schema
    stream = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)

    out = run_available_now(
        streaming_sessions_timeout(stream, "ts", "user_id", gap),
        str(tmp_path / "ck_sto"),
        table_name="t_sess_to",
        output_mode="update",
    ).collect()
    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n) for r in out}
    # A: closed by TIMEOUT (no further A events). B's t=2000 is beyond
    # gap from t=1000 → first B session closes in-state; B's second
    # session (t=2000) stays open (watermark never passes 2030).
    assert (1, 100 * 1_000_000, (105 + gap) * 1_000_000, 2) in got
    assert (2, 1000 * 1_000_000, (1000 + gap) * 1_000_000, 1) in got
    assert len(got) == 2


def test_streaming_gapfill_state_survives_restart(spark, tmp_path):
    """The gap-fill state (current window, count) recovers from the
    checkpoint: batch 1 runs and the query STOPS; a restarted query
    sees only batch 2, and the windows it emits prove the carried
    state — including empty windows spanning the restart boundary."""
    from datetime import datetime, timezone

    from lightsaber_spark.streaming.stream import streaming_gapfill_count

    def _ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    size = 100
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    # windows: [100,200) has 2 events; [200,300) empty; [400,500) next
    b1 = spark.createDataFrame(
        [(1, _ts(110)), (1, _ts(150))], "user_id long, ts timestamp"
    )
    b2 = spark.createDataFrame([(1, _ts(450))], "user_id long, ts timestamp")

    def run():
        schema = spark.read.parquet(src + "/b=1").schema
        stream = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)
        # parquet sink only accepts append, and an update-mode stateful
        # op rejects it — foreachBatch is the standard bridge (and its
        # batch-id makes the parquet writes replay-idempotent enough
        # for this availableNow test)
        q = (
            streaming_gapfill_count(stream, "ts", "user_id", size)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import os

        if not os.path.isdir(out):
            return set()
        return {
            (r.user_id, r.window_start, r.n)
            for r in spark.read.parquet(out).collect()
        }

    b1.coalesce(1).write.parquet(src + "/b=1")
    first = run()
    assert first == set()  # window [100,200) still open — nothing closed

    b2.coalesce(1).write.parquet(src + "/b=2")
    second = run()
    # the restarted query closes [100,200) with the RECOVERED count 2,
    # emits the empty [200,300) and [300,400) windows, holds [400,500)
    assert second == {(1, 100, 2), (1, 200, 0), (1, 300, 0)}


def test_streaming_float32_outputs_match_batch_bitwise(
    spark, events, events_stream_src, tmp_path
):
    """float32_output on the streaming twin: aggregate outputs arrive
    as float32 and are BIT-identical to the batch operator's float32
    path (both cast the same exact values with IEEE round-to-nearest —
    the reference's universal output type, Aggregation.h:53-87)."""
    ev = events.withColumn("value_c", F.round(F.col("value") * 100).cast("bigint"))
    aggs = [("sum", "value_c", "sum_cents_f"), ("count", None, "n_f")]
    stream = _stream(spark, events_stream_src).withColumn(
        "value_c", F.round(F.col("value") * 100).cast("bigint")
    )
    s = streaming_windowed_agg(
        stream, "ts", 3600, None, aggs, ["event_type"], float32_output=True
    )
    got = run_available_now(s, str(tmp_path / "ck"), "complete", table_name="t_f32")
    assert dict(got.dtypes)["sum_cents_f"] == "float"
    assert dict(got.dtypes)["n_f"] == "float"
    want = windowed_agg(ev, "ts", 3600, None, aggs, ["event_type"], float32_output=True)
    ok, msg = rows_match(
        got.select("window_start", "event_type", "sum_cents_f", "n_f").collect(),
        want.select("window_start", "event_type", "sum_cents_f", "n_f").collect(),
        float_tol=0.0,
    )
    assert ok, msg


def test_streaming_theta_equi_conjunct_joins_on_key(spark, events, events_stream_src, tmp_path):
    """Plan contract for the round-7 throughput finding: an equality
    conjunct of the theta predicate must be extracted into the
    symmetric-hash-join KEY (alongside the time bucket), not left as a
    post-join residual — otherwise each bucket degenerates to a nested
    scan and throughput collapses ~20x (STREAM_BENCH.md root cause)."""
    from lightsaber_spark.streaming.stream import streaming_theta_join

    l = _stream(spark, events_stream_src).select(
        F.col("ts").alias("l_ts"), F.col("value").alias("l_v")
    )
    r = _stream(spark, events_stream_src).select(
        F.col("ts").alias("r_ts"), F.col("value").alias("r_v")
    )
    j = streaming_theta_join(
        l, r,
        (F.col("l_v") % 101) == (F.col("r_v") % 101),
        "l_ts", "r_ts", 120,
    )
    q = (
        j.writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck_plan"))
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    # PySpark's StreamingQuery.explain prints rather than returns —
    # grab the executed plan from the JVM instead
    jplan = q._jsq.explainInternal(False)
    m = re.search(r"StreamingSymmetricHashJoin \[([^\]]*)\], \[([^\]]*)\]", jplan)
    assert m, jplan
    left_keys, right_keys = m.group(1), m.group(2)
    # Loose on purpose (round-7 advice): the rendered modulo text
    # varies across Spark versions ('(l_v % 101)' vs 'pmod(...)'), so
    # require the bucket column PLUS at least one more key expression
    # containing the conjunct's literal — not an exact rendering.
    for keys in (left_keys, right_keys):
        assert "_tj_bkt" in keys, keys
        exprs = [e for e in keys.split(", ") if e]
        assert len(exprs) >= 2, keys
        assert "101" in keys, keys


def test_streaming_neardup_lsh_checkpoint_restart(spark, tmp_path):
    """The LSH anchor state ((band, bucket) -> first claiming doc)
    must survive a stop/restart: feed the low-id half of the corpus,
    stop, add the high-id half, restart from the same checkpoint — the
    union of flags equals an uninterrupted batch verdict, and at least
    one phase-2 doc collides with a PHASE-1 anchor (i.e. the bucket
    claim was recovered from the checkpoint, not recomputed)."""
    from lightsaber_spark.functions.dedup import (
        minhash_lsh_candidates,
        release_shingle_caches,
    )
    from lightsaber_spark.session import load_tables
    from lightsaber_spark.streaming.stream import streaming_neardup_lsh

    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    first = docs.filter(F.col("doc_id") <= mid)
    second = docs.filter(F.col("doc_id") > mid)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = docs.schema

    def run_phase():
        stream = read_stream(spark, src, schema, max_files_per_trigger=1)
        s = streaming_neardup_lsh(stream)

        def write(batch, _bid):
            batch.write.mode("append").parquet(out)

        q = (
            s.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # in-order contract: ids must not regress across batches, so the
    # low-id half streams first
    first.sort("doc_id").coalesce(1).write.mode("append").parquet(src)
    run_phase()
    second.sort("doc_id").coalesce(1).write.mode("append").parquet(src)
    run_phase()

    flagged = spark.read.parquet(out)
    got = {r.doc_id for r in flagged.select("doc_id").collect()}
    cross = flagged.filter(
        (F.col("doc_id") > mid) & (F.col("anchor_id") <= mid)
    ).count()

    try:
        want = {
            r.id_b for r in minhash_lsh_candidates(docs).select("id_b").collect()
        }
    finally:
        release_shingle_caches()
    assert got == want and len(want) > 0
    assert cross > 0, (
        "no phase-2 doc collided with a phase-1 anchor — state was not "
        "recovered across the restart"
    )


def test_streaming_url_frontier_dedup(spark, tmp_path):
    """Crawl-frontier dedup: canonical_url (a pure Catalyst expression)
    composes with streaming_dedup inside a stateful streaming plan —
    different raw SPELLINGS of one page arriving in different
    micro-batches dedupe to a single emission per canonical URL, equal
    to the batch canonical distinct."""
    from lightsaber_spark.functions.urls import canonical_url

    spellings = [
        "http://www.example.com/p/{0}?utm_source=a",
        "https://example.com/p/{0}/",
        "HTTP://EXAMPLE.com/p/{0}#frag",
        "http://example.com/p/{0}?fbclid=x9",
    ]
    rows = [
        (p * 10 + s, spellings[s].format(p))
        for p in range(20)
        for s in range(4)
    ]
    df = spark.createDataFrame(rows, "visit_id long, url string")
    src = str(tmp_path / "frontier")
    # one spelling per file -> each page's duplicates arrive in FOUR
    # different micro-batches (cross-batch state, not in-batch dedup)
    for s in range(4):
        df.filter(F.col("visit_id") % 10 == s).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema, max_files_per_trigger=1)
    canon = stream.withColumn("canonical_url", canonical_url(F.col("url")))
    got = run_available_now(
        streaming_dedup(canon, ["canonical_url"]),
        str(tmp_path / "ck_frontier"),
        table_name="t_frontier",
    )
    out = [r.canonical_url for r in got.collect()]
    assert sorted(out) == sorted(f"example.com/p/{p}" for p in range(20))
    assert len(out) == len(set(out)) == 20


def test_streaming_url_canonical_dedup_matches_batch_and_restarts(spark, tmp_path):
    """r13 (VERDICT #4): the URL dedup family's streaming rung. The
    streaming op shares the batch query's per-row canonicalization core
    (canonicalized_docs), so the kept (canonical_url, domain,
    representative id) rows must equal the batch canonical_url_dedup
    over the same corpus — including across a checkpoint RESTART:
    phase 2 re-crawls of phase-1 pages are dropped from recovered
    state, new pages still emit."""
    import time as _t

    from lightsaber_spark.functions.urls import canonical_url_dedup
    from lightsaber_spark.streaming.stream import streaming_url_canonical_dedup

    spellings = [
        "http://www.example.com/p/{0}?utm_source=a",
        "https://example.com/p/{0}/",
        "HTTP://EXAMPLE.com/p/{0}#frag",
        "http://example.com/p/{0}?fbclid=x9",
    ]
    src = str(tmp_path / "crawl")
    ck = str(tmp_path / "ck_urls")
    out = str(tmp_path / "kept")

    def write_file(s, pages):
        rows = [(p * 10 + s, spellings[s].format(p)) for p in pages]
        spark.createDataFrame(rows, "visit_id long, url string").coalesce(
            1
        ).write.mode("append").parquet(src)
        _t.sleep(1.1)  # distinct mtimes → deterministic replay order

    def run_once():
        stream = read_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        )
        q = (
            streaming_url_canonical_dedup(stream, "url", "visit_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: spellings 0,1 of pages 0..14 (first arrival = min id)
    write_file(0, range(15))
    write_file(1, range(15))
    run_once()
    n_phase1 = spark.read.parquet(out).count()
    assert n_phase1 == 15

    # phase 2 (restart from checkpoint): re-crawled spellings 2,3 of
    # the SAME pages must be dropped from recovered state; pages
    # 15..19 are NEW (spellings 2,3 only) and must emit
    write_file(2, range(20))
    write_file(3, range(20))
    run_once()

    got = sorted(
        (r.visit_id, r.canonical_url, r.domain)
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.rep_doc_id, r.canonical_url, r.domain)
        for r in canonical_url_dedup(
            spark.read.parquet(src), "url", "visit_id"
        ).collect()
    )
    assert got == want and len(got) == 20


def test_streaming_two_stage_dag_matches_batch_with_restart(spark, tmp_path):
    """r13 VERDICT #5: the reference's ``connectTo`` chains STREAMING
    queries (/root/reference/src/utils/Query.h:111,
    QueryApplication.h:20-31); the repo's LRB3 twin was batch-only.
    This runs the full two-stage pipeline UNDER writeStream: stage 1
    windowed count per (hour window, user) → parquet bridge (the
    Spark-idiomatic connectTo: an exactly-once replayable sink feeding
    the next stage's source) → stage 2 tumbling row windows of 8 over
    (window_start, user_id) — and must equal the batch lrb3 shape
    (windowed_agg → row_window_agg) over the same events, INCLUDING a
    checkpoint restart of both stages mid-corpus."""
    import datetime as dt

    from lightsaber_spark.operators.row_window import row_window_agg

    src = str(tmp_path / "ev")
    mid = str(tmp_path / "bridge")
    out = str(tmp_path / "final")
    ck1, ck2 = str(tmp_path / "ck_stage1"), str(tmp_path / "ck_stage2")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    n_users, k = 10, 8

    def write_hour(h):
        rows = [
            (t0 + dt.timedelta(hours=h, seconds=60 * u + 1), u)
            for u in range(n_users)
        ]
        spark.createDataFrame(rows, "ts timestamp, user_id long").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic replay order

    def run_both():
        s1 = streaming_windowed_agg(
            read_stream(
                spark, src, "ts timestamp, user_id long", max_files_per_trigger=1
            ),
            "ts", 3600, None, [("count", None, "n")], ["user_id"],
        )
        q1 = (
            s1.writeStream.format("parquet")
            .option("path", mid)
            .option("checkpointLocation", ck1)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q1.awaitTermination()
        s2 = streaming_row_window_agg(
            read_stream(
                spark, mid,
                "window_start bigint, user_id bigint, n bigint",
                max_files_per_trigger=1,
            ),
            ["window_start", "user_id"], k,
            [("count", None, "n_rows"), ("sum", "n", "total_events")],
            keys=[],
        )
        q2 = (
            s2.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck2)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

    # phase 1: hours 0..3; the hour-3 window stays open (0s watermark)
    for h in range(4):
        write_hour(h)
    run_both()
    phase1_windows = {r.window_id for r in spark.read.parquet(out).collect()}
    assert phase1_windows  # stage 2 emitted complete windows already

    # phase 2 (restart BOTH stages from their checkpoints): hours 4..7
    # continue the stream; a far-future sentinel row closes every real
    # window (its own window never closes, so it never crosses the
    # bridge and needs no exclusion downstream)
    for h in range(4, 8):
        write_hour(h)
    spark.createDataFrame(
        [(t0 + dt.timedelta(hours=1000), 9999)], "ts timestamp, user_id long"
    ).coalesce(1).write.mode("append").parquet(src)
    run_both()

    # batch twin over the same corpus (sentinel excluded: its window
    # never emitted in the stream)
    ev = spark.read.parquet(src).filter(F.col("user_id") != 9999)
    stage1_b = windowed_agg(ev, "ts", 3600, 3600, [("count", None, "n")], ["user_id"])
    want = row_window_agg(
        stage1_b, ["window_start", "user_id"], k, None,
        [("count", None, "n_rows"), ("sum", "n", "total_events")],
    ).filter(F.col("n_rows") == k)  # streaming emits complete windows only

    got = spark.read.parquet(out)
    ok, msg = rows_match(
        got.select("window_id", "n_rows", "total_events").collect(),
        want.select("window_id", "n_rows", "total_events").collect(),
        float_tol=1e-9,
    )
    assert ok, msg
    # exactly-once across the restart: phase-1 windows were not re-emitted
    assert len({r.window_id for r in got.collect()}) == got.count()
    assert phase1_windows <= {r.window_id for r in got.collect()}


def test_streaming_gapfill_matches_batch_and_restarts(spark, tmp_path):
    """Streaming empty-window emission (the reference's continuous
    emission model, OperatorKernel.h:3830-3988): every tumbling window
    from the first event's window through the last watermark-closed
    window emits exactly once — count 0 / sum NULL where no row landed
    — matching the batch spine + gap_filled composition, INCLUDING
    across a checkpoint restart that spans a multi-window silence
    (the empty windows inside the gap emit once, from recovered
    state)."""
    import datetime as dt

    from lightsaber_spark.operators.window_agg import (
        gap_filled,
        window_spine,
        windowed_agg,
    )
    from lightsaber_spark.streaming.gapfill import streaming_gapfill_tumbling

    src = str(tmp_path / "ev")
    out = str(tmp_path / "filled")
    ck = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    size = 3600

    def write_hours(hours, null_values=False):
        rows = [
            (
                t0 + dt.timedelta(hours=h, minutes=m),
                None if null_values else float(100 * h + m),
            )
            for h in hours
            for m in (7, 23)
        ]
        spark.createDataFrame(rows, "ts timestamp, value double").coalesce(
            1
        ).write.mode("append").parquet(src)
        time.sleep(1.1)  # distinct mtimes → deterministic replay order

    def run_once():
        stream = read_stream(
            spark, src, "ts timestamp, value double", max_files_per_trigger=1
        ).withColumn("value_c", F.round(F.col("value") * 100).cast("bigint"))
        q = (
            streaming_gapfill_tumbling(stream, "ts", size, "value_c")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # phase 1: hours 1,2 then a silence; phase 2 (restart): hours 7,9
    # — the 4 empty windows inside the gap must emit exactly once.
    # Hour 2's rows carry NULL values: a window with rows but no
    # non-null value must emit sum_value NULL (SQL sum semantics),
    # not +0.0 — the streaming state tracks a non-null count.
    write_hours([1])
    write_hours([2], null_values=True)
    run_once()
    write_hours([7])
    write_hours([9])
    run_once()

    got = sorted(
        (r.window_start, r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    )
    assert len(got) == len({g[0] for g in got})  # exactly once per window

    ev = spark.read.parquet(src).withColumn(
        "value_c", F.round(F.col("value") * 100).cast("bigint")
    )
    agg = windowed_agg(
        ev, "ts", size, size, [("count", None, "n"), ("sum", "value_c", "sum_c")]
    ).select("window_start", "n", (F.col("sum_c") / 100.0).alias("sum_value"))
    spine = window_spine(ev, "ts", size, size)
    full = gap_filled(
        agg, spine, [("count", None, "n"), ("sum", "value_c", "sum_value")]
    )
    # streaming emits only windows the final watermark closed: the last
    # event sits inside the hour-9 window, which stays open
    max_us = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    want = sorted(
        (r.window_start, r.n, r.sum_value)
        for r in full.filter(
            (F.col("window_start") + size) * 1_000_000 <= max_us
        ).collect()
    )
    assert got == want, (got[:6], want[:6], len(got), len(want))
    # the silence really produced empty rows (hours 3,4,5,6 at n=0)
    zeros = [g for g in got if g[1] == 0]
    assert len(zeros) >= 4 and all(g[2] is None for g in zeros)
    # the all-NULL-value hour emitted rows>0 with sum_value NULL
    all_null = [g for g in got if g[1] > 0 and g[2] is None]
    assert len(all_null) == 1 and all_null[0][1] == 2


def test_streaming_gapfill_keyed_matches_batch_and_restarts(spark, tmp_path):
    """Keyed gapfill (r14 verdict #4): one spine PER KEY, starting at
    each key's first event's window — the form that distributes at
    100 TB (the global form funnels through one python partition).
    Two keys with different first-event hours and different silent
    gaps, a NULL-key row dropped input-side, a checkpoint restart in
    the middle; per-key output must equal per-key batch
    spine+gap_filled, emitted exactly once."""
    import datetime as dt

    from lightsaber_spark.operators.window_agg import (
        gap_filled,
        window_spine,
        windowed_agg,
    )
    from lightsaber_spark.streaming.gapfill import streaming_gapfill_tumbling

    src = str(tmp_path / "ev")
    out = str(tmp_path / "filled")
    ck = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    size = 3600

    def write(rows):
        spark.createDataFrame(
            rows, "uid string, ts timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    def ev(uid, h, m, v):
        return (uid, t0 + dt.timedelta(hours=h, minutes=m), v)

    def run_once():
        stream = read_stream(
            spark, src, "uid string, ts timestamp, value double",
            max_files_per_trigger=1,
        ).withColumn("value_c", F.round(F.col("value") * 100).cast("bigint"))
        q = (
            streaming_gapfill_tumbling(
                stream, "ts", size, "value_c", keys=["uid"]
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # key a starts hour 1 (gap hours 3-4), key b starts hour 2
    # (gap hours 3-6); NULL-key row must be dropped, not crash the
    # Arrow state fn (NaN-key gotcha)
    write([ev("a", 1, 7, 1.25), ev("b", 2, 30, 2.5), (None, t0, 9.0)])
    write([ev("a", 2, 10, 0.75), ev("a", 5, 0, 4.0)])
    run_once()
    write([ev("b", 7, 45, 1.0), ev("a", 8, 1, 2.0), ev("b", 8, 59, 3.0)])
    run_once()

    got = sorted(
        (r.uid, r.window_start, r.n, r.sum_value)
        for r in spark.read.parquet(out).collect()
    )
    assert len(got) == len({(g[0], g[1]) for g in got})  # exactly once

    ev_all = (
        spark.read.parquet(src)
        .filter(F.col("uid").isNotNull())
        .withColumn("value_c", F.round(F.col("value") * 100).cast("bigint"))
    )
    max_us = ev_all.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    want = []
    for uid in ("a", "b"):
        one = ev_all.filter(F.col("uid") == uid)
        agg = windowed_agg(
            one, "ts", size, size,
            [("count", None, "n"), ("sum", "value_c", "sum_c")],
        ).select(
            "window_start", "n", (F.col("sum_c") / 100.0).alias("sum_value")
        )
        spine = window_spine(one, "ts", size, size)
        full = gap_filled(
            agg, spine,
            [("count", None, "n"), ("sum", "value_c", "sum_value")],
        )
        want += [
            (uid, r.window_start, r.n, r.sum_value)
            for r in full.filter(
                (F.col("window_start") + size) * 1_000_000 <= max_us
            ).collect()
        ]
    assert got == sorted(want), (got[:8], sorted(want)[:8])
    # each key's spine starts at ITS first event and covers its gaps
    # (window_start is absolute epoch seconds; t0 = 2024-01-01 UTC)
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    a_rows = [g for g in got if g[0] == "a"]
    b_rows = [g for g in got if g[0] == "b"]
    assert a_rows[0][1] == base + 3600 and b_rows[0][1] == base + 7200
    assert sum(1 for g in a_rows if g[2] == 0) >= 2
    assert sum(1 for g in b_rows if g[2] == 0) >= 4


def _semantic_stream_fixture():
    """Synthetic embedding stream with planted near-dups: random base
    vectors plus exact copies scattered across the id range, so drops
    happen both within one micro-batch and across batches."""
    import numpy as np

    rng = np.random.RandomState(47)
    dim = 8
    base = [
        [float(x) / 1000.0 for x in rng.randint(-1000, 1000, dim)]
        for _ in range(12)
    ]
    rows = []
    for i in range(36):
        if i % 6 == 5:
            rows.append((i, base[i % 12]))  # exact copy of an earlier id
        else:
            rows.append(
                (i, [float(x) / 1000.0 for x in rng.randint(-1000, 1000, dim)])
            )
    cents = [
        (0, [int(round(x * 1_000_000)) for x in base[0]]),
        (1, [int(round(x * 1_000_000)) for x in base[1]]),
    ]
    return rows, cents


def _semantic_sequential_model(rows, cents, tau):
    """Independent Python model of the DECLARED streaming semantics:
    frozen-centroid assignment (argmax cosine, ties lowest cid), then
    per cell a sequential id-order greedy — keep iff no already-KEPT
    member is within tau."""
    import numpy as np

    cm = np.stack([np.asarray(v, dtype=np.float64) for _, v in sorted(cents)])
    cids = np.array([c for c, _ in sorted(cents)], dtype=np.int64)
    cn = np.sqrt((cm * cm).sum(axis=1))
    out = {}
    kept: dict[int, list] = {}
    for vid, v in sorted(rows):
        x = np.asarray(v, dtype=np.float64) * 1_000_000
        s = np.sign(x) * np.floor(np.abs(x) + 0.5)
        n = np.sqrt((s * s).sum())
        cos_c = (s @ cm.T) / (n * cn)
        cell = int(cids[np.argmax(cos_c)])
        dropped = False
        for k in kept.get(cell, []):
            kn = np.sqrt((k * k).sum())
            if (s @ k) / (n * kn) >= tau:
                dropped = True
                break
        if not dropped:
            kept.setdefault(cell, []).append(s)
        out[vid] = (cell, 0 if dropped else 1)
    return out


def test_streaming_semantic_dedup_matches_sequential_model(spark, tmp_path):
    """Streaming SemDeDup must equal the independent sequential model —
    and be micro-batch-split INVARIANT (1 file per trigger vs all at
    once give the same verdicts: in-batch fold == cross-batch state)."""
    import time as _t

    from lightsaber_spark.streaming.stream import streaming_semantic_dedup

    rows, cents = _semantic_stream_fixture()
    tau = 0.999999
    want = _semantic_sequential_model(rows, cents, tau)
    assert any(k == 0 for _, k in want.values()), "fixture must drop"
    assert any(k == 1 for _, k in want.values())

    src = str(tmp_path / "vec_src")
    # in-order contract: id ranges ascend across micro-batch files
    for lo, hi in ((0, 12), (12, 24), (24, 36)):
        spark.createDataFrame(
            rows[lo:hi], "vec_id long, embedding array<float>"
        ).coalesce(1).write.mode("append").parquet(src)
        _t.sleep(1.1)
    schema = spark.read.parquet(src).schema

    def run(max_files, name, ck):
        stream = read_stream(
            spark, src, schema, max_files_per_trigger=max_files
        )
        s = streaming_semantic_dedup(stream, cents, tau)
        got = run_available_now(
            s, str(tmp_path / ck), table_name=name, output_mode="update"
        )
        return {r.vec_id: (r.cell_id, r.keep) for r in got.collect()}

    got1 = run(1, "t_sem_stream1", "ck_sem1")
    assert got1 == want
    got3 = run(3, "t_sem_stream3", "ck_sem3")  # all files in one batch
    assert got3 == want


def test_streaming_semantic_dedup_checkpoint_restart(spark, tmp_path):
    """Kept-member state must survive a stop/restart: phase 1 streams
    the low ids, phase 2 (restarted from the same checkpoint) streams
    copies of phase-1 vectors — each copy must be DROPPED against a
    phase-1 kept member recovered from the checkpoint, and the union
    of verdicts equals the uninterrupted sequential model."""
    import time as _t

    from lightsaber_spark.streaming.stream import streaming_semantic_dedup

    rows, cents = _semantic_stream_fixture()
    phase1 = rows[:18]
    # phase 2: exact copies of phase-1 vectors under new (higher) ids
    phase2 = [(100 + i, v) for i, v in phase1[:6]]
    tau = 0.999999
    want = _semantic_sequential_model(phase1 + phase2, cents, tau)
    assert all(want[vid][1] == 0 for vid, _ in phase2), (
        "every phase-2 copy must drop against phase-1 state"
    )

    src = str(tmp_path / "vec_src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = spark.createDataFrame(
        phase1, "vec_id long, embedding array<float>"
    ).schema

    def run_phase():
        stream = read_stream(spark, src, schema, max_files_per_trigger=1)
        s = streaming_semantic_dedup(stream, cents, tau)

        def write(batch, _bid):
            batch.write.mode("append").parquet(out)

        q = (
            s.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        phase1, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(src)
    run_phase()
    _t.sleep(1.1)
    spark.createDataFrame(
        phase2, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("append").parquet(src)
    run_phase()

    got = {
        r.vec_id: (r.cell_id, r.keep)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_streaming_monitors_accept_string_keys(spark, tmp_path):
    """Review finding (r11 continuation): the order-violation monitor
    and streaming gap-fill hardcoded LongType keys (``int(key[0])``),
    crashing on the repo's canonical STRING grouping key (event_type).
    Both must carry the key's source type through."""
    from lightsaber_spark.streaming.stream import (
        streaming_gapfill_count,
        streaming_order_violations,
    )

    def _ts(s):
        from datetime import datetime, timezone

        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    src = str(tmp_path / "src")
    b1 = spark.createDataFrame(
        [("view", _ts(110)), ("view", _ts(200)), ("click", _ts(120))],
        "event_type string, ts timestamp",
    )
    b2 = spark.createDataFrame(
        [("view", _ts(150)), ("click", _ts(125))],
        "event_type string, ts timestamp",
    )
    b1.coalesce(1).write.parquet(src + "/b=1")
    b2.coalesce(1).write.parquet(src + "/b=2")
    schema = spark.read.parquet(src + "/b=1").schema

    stream = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)
    out = run_available_now(
        streaming_order_violations(stream, "ts", "event_type"),
        str(tmp_path / "ck_ord_s"),
        table_name="t_ord_s",
        output_mode="update",
    ).collect()
    assert {(r.event_type, r.ts_us, r.max_seen_us) for r in out} == {
        ("view", 150_000_000, 200_000_000)
    }

    stream2 = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)
    gf = run_available_now(
        streaming_gapfill_count(stream2, "ts", "event_type", 10),
        str(tmp_path / "ck_gf_s"),
        table_name="t_gf_s",
        output_mode="update",
    ).collect()
    rows = {(r.event_type, r.window_start, r.n) for r in gf}
    # view: window 110 (1 row) closes when t=200 arrives, emitting the
    # skipped windows 120..190 at n=0; the in-order-violating t=150
    # folds into the CURRENT window, which stays un-closed in state;
    # click never closes a window and emits nothing.
    assert ("view", 110, 1) in rows
    assert {w for (k, w, n) in rows if k == "view" and n == 0} == set(
        range(120, 200, 10)
    )
    assert not any(k == "click" for (k, _, _) in rows)


def test_streaming_semantic_dedup_custom_id_col(spark, tmp_path):
    """Review finding (r11 continuation): the stateful fn read
    ``pdf[id_col]`` but the upstream select aliases the id to
    ``vec_id``, so any non-default ``id_col`` crashed every
    micro-batch. Verdicts under a renamed id column must equal the
    default-named run."""
    from lightsaber_spark.streaming.stream import streaming_semantic_dedup

    rows, cents = _semantic_stream_fixture()
    tau = 0.999999
    want = _semantic_sequential_model(rows, cents, tau)

    src = str(tmp_path / "vec_src")
    spark.createDataFrame(
        [(i, v) for i, v in rows], "doc_id long, embedding array<float>"
    ).coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema, max_files_per_trigger=1)
    got = run_available_now(
        streaming_semantic_dedup(stream, cents, tau, id_col="doc_id"),
        str(tmp_path / "ck_sem_id"),
        table_name="t_sem_idcol",
        output_mode="update",
    )
    assert {r.vec_id: (r.cell_id, r.keep) for r in got.collect()} == want


def test_streaming_sessions_exact_gap_boundary_matches_batch(spark, tmp_path):
    """Pin the exact-gap merge boundary in BOTH engines (r11
    continuation): a review claimed the streaming `t - l <= gap` merge
    diverged from a strict batch rule, but empirically Spark's
    session_window also MERGES an event at exactly last + gap — the
    batch docstring was what was wrong. Both paths must merge the
    boundary event; also exercises a STRING key (the key now keeps its
    source type instead of a hardcoded LongType)."""
    from datetime import datetime, timezone

    from lightsaber_spark.streaming.sessions import (
        session_window_agg,
        streaming_sessions_timeout,
    )

    def _ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    gap = 30
    # u: exact-gap spacing (130 = 100 + gap) → TWO sessions;
    # v: one second inside the gap → ONE session
    rows = [("u", _ts(100)), ("u", _ts(130)), ("v", _ts(100)), ("v", _ts(129))]
    batch = spark.createDataFrame(rows, "k string, ts timestamp")
    want = {
        (r.k, r.session_start_us, r.session_end_us, r["n"])
        for r in session_window_agg(
            batch, "ts", gap, [("count", None, "n")], keys=["k"]
        ).collect()
    }
    # batch: the exact-gap event MERGES (end extends to 130 + gap)
    assert want == {
        ("u", 100_000_000, 160_000_000, 2),
        ("v", 100_000_000, 159_000_000, 2),
    }

    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = read_stream(spark, src, schema, max_files_per_trigger=1)
    out = run_available_now(
        streaming_sessions_timeout(stream, "ts", "k", gap),
        str(tmp_path / "ck_gapb"),
        table_name="t_sess_gapb",
        output_mode="update",
    ).collect()
    got = {(r.k, r.session_start_us, r.session_end_us, r.n) for r in out}
    # streaming merges the boundary event too, so NO session is closed
    # by a later same-key event — everything stays in state (watermark
    # 0s never passes it) and nothing is emitted; a strict rule would
    # have emitted u's split first session here
    assert got == set()


def test_compact_staged_swap_and_recovery(spark, tmp_path):
    """compact()'s r12 staged swap (r11 ADVICE): the merge is staged
    under _batch_id=-2 (invisible to rollup_view — concurrent readers
    never double-count), committed via ONE atomic _folds.<ids> marker
    naming the whole fold set (per-id markers would make a crash
    mid-loop look like a committed smaller fold), then swapped in.
    Crash repair is automatic: an uncommitted stage (no marker) is
    discarded; a committed one is rolled forward before the next fold."""
    import os
    import shutil

    from lightsaber_spark.streaming.rollup import _merge_aggs, compact, rollup_view

    measures = [("sum", "value", "sum_v"), ("count", None, "n")]
    keys = ["event_type"]
    out = str(tmp_path / "roll")
    cols = ["pane_start", "event_type", "sum_v", "n"]

    def write_batch(bid):
        df = spark.createDataFrame(
            [(0, "a", 1.0 * (bid + 1)), (0, "b", 2.0), (3600, "a", 3.0)],
            "pane_start long, event_type string, value double",
        )
        (
            df.groupBy("pane_start", "event_type")
            .agg(F.sum("value").alias("sum_v"), F.count(F.lit(1)).alias("n"))
            .withColumn("_batch_id", F.lit(bid))
            .write.mode("append").partitionBy("_batch_id").parquet(out)
        )

    def view_rows():
        return sorted(
            map(tuple, rollup_view(spark, out, measures, keys).select(*cols).collect())
        )

    def dirs():
        return sorted(d for d in os.listdir(out) if d.startswith("_batch_id="))

    for bid in (0, 1, 2):
        write_batch(bid)
    want0 = view_rows()

    # an UNCOMMITTED stage (crash mid-write: data, no markers) is
    # invisible to readers and discarded by the next compact
    stage = out + "/_batch_id=-2"
    shutil.copytree(out + "/_batch_id=0", stage)
    assert view_rows() == want0
    compact(spark, out, measures, keys)
    assert dirs() == ["_batch_id=-1", "_batch_id=2"]  # 0,1 folded, stage gone
    assert view_rows() == want0

    # a COMMITTED stage (markers present = crash after commit, before
    # swap) is still invisible, then rolled forward verbatim
    write_batch(3)
    want1 = view_rows()
    fold = [-1, 2]
    (
        spark.read.parquet(out)
        .filter(F.col("_batch_id").isin(fold))
        .groupBy("pane_start", *keys)
        .agg(*_merge_aggs(measures))
        .write.mode("overwrite").parquet(stage)
    )
    open(f"{stage}/_folds." + ".".join(str(i) for i in fold), "w").close()
    assert view_rows() == want1
    compact(spark, out, measures, keys)
    assert dirs() == ["_batch_id=-1", "_batch_id=3"]
    assert view_rows() == want1


def test_streaming_compression_replan_flips_and_matches_batch(spark, tmp_path):
    """r13 (VERDICT §2.9 gap): the CompressionMonitor loop — per
    micro-batch codec re-decision over a drifting stream. Micro-batch
    0 carries a constant column (base-delta wins); micro-batch 1 the
    same column drifts to a huge-range two-value alternation
    (base-delta inapplicable past 2^62 → dictionary wins) — the codec
    PROVABLY FLIPS mid-stream, and the durable codec log matches the
    batch compression_replan twin row for row at the same batch
    boundaries."""
    import time as _t

    from lightsaber_spark.functions.compression import compression_replan
    from lightsaber_spark.streaming.compression import (
        codec_flips,
        codec_log,
        continuous_compression_replan,
    )

    hi = 1 << 61
    rows0 = [(i, i, 7) for i in range(100)]  # ord, u monotone, v const
    rows1 = [(256 + i, 256 + i, hi if i % 2 == 0 else -hi) for i in range(100)]
    src = str(tmp_path / "comp_src")
    for chunk in (rows0, rows1):
        spark.createDataFrame(chunk, "ord long, u long, v long").coalesce(
            1
        ).write.mode("append").parquet(src)
        _t.sleep(1.1)  # distinct mtimes → deterministic replay order

    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    out = str(tmp_path / "codec_log")
    q = continuous_compression_replan(
        stream, ["u", "v"], "ord", out, str(tmp_path / "ck_comp")
    )
    q.awaitTermination()

    cols = ["batch_seq", "column_name", "codec", "est_bits", "plain_bits", "flipped"]
    got = sorted(map(tuple, codec_log(spark, out).select(*cols).collect()))
    want = sorted(
        map(
            tuple,
            compression_replan(
                spark.read.parquet(src), ["u", "v"], "ord", batch_rows=256
            )
            .select(*cols)
            .collect(),
        )
    )
    assert got == want

    flips = codec_flips(spark, out).collect()
    assert [(r.batch_seq, r.column_name, r.prev_codec, r.codec) for r in flips] == [
        (1, "v", "base_delta", "dictionary")
    ]
    # the monotone column never flips
    assert all(r.flipped == 0 for r in codec_log(spark, out).collect()
               if r.column_name == "u")


def test_compact_marker_body_and_torn_target_recovery(spark, tmp_path):
    """r12 ADVICE regressions on compact's commit marker:

    1. The fold-id set lives in the marker file's BODY, not its NAME —
       a name-encoded set of ~80 ten-digit ids (~880 chars) exceeds the
       255-byte filename component limit and wedged compact forever.
    2. Recovery of a committed stage must tolerate a TORN ``-1`` left
       by a crashed non-atomic publish (S3A per-file copy): renaming
       the stage into an EXISTING ``-1`` would silently NEST it
       (Hadoop rename-into-existing-dir returns true)."""
    import os
    import shutil

    from lightsaber_spark.streaming.rollup import _merge_aggs, compact, rollup_view

    measures = [("sum", "value", "sum_v"), ("count", None, "n")]
    keys = ["event_type"]
    out = str(tmp_path / "roll_long")
    cols = ["pane_start", "event_type", "sum_v", "n"]

    # 80 micro-batch partitions with 10-digit ids in ONE partitioned
    # write — the legacy name-encoded marker could not represent this
    ids = [1_000_000_000 + i for i in range(80)]
    rows = [(0, "a", float(i % 7), bid) for i, bid in enumerate(ids)]
    (
        spark.createDataFrame(
            rows, "pane_start long, event_type string, value double, _batch_id long"
        )
        .groupBy("pane_start", "event_type", "_batch_id")
        .agg(F.sum("value").alias("sum_v"), F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite").partitionBy("_batch_id").parquet(out)
    )

    def view_rows():
        return sorted(
            map(tuple, rollup_view(spark, out, measures, keys).select(*cols).collect())
        )

    want = view_rows()
    compact(spark, out, measures, keys)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("_batch_id="))
    assert dirs == ["_batch_id=-1", f"_batch_id={max(ids)}"]
    assert view_rows() == want
    # the marker was tidied off the published -1
    assert not os.path.exists(out + "/_batch_id=-1/_folds")

    # --- torn -1 recovery: stage + committed body marker + partial -1
    spark.createDataFrame(
        [(0, "a", 99.0, 1, max(ids) + 1)],
        "pane_start long, event_type string, sum_v double, n long, _batch_id long",
    ).write.mode("append").partitionBy("_batch_id").parquet(out)
    want2 = view_rows()
    stage = out + "/_batch_id=-2"
    fold = [-1, max(ids)]
    (
        spark.read.parquet(out)
        .filter(F.col("_batch_id").isin(fold))
        .groupBy("pane_start", *keys)
        .agg(*_merge_aggs(measures))
        .write.mode("overwrite").parquet(stage)
    )
    with open(f"{stage}/_folds", "w") as f:
        f.write(".".join(str(i) for i in sorted(fold)))
    # simulate the crashed publish: old -1 half-deleted/half-copied —
    # leave a stale dir where -1 should be after the prune step
    shutil.rmtree(out + "/_batch_id=-1")
    os.makedirs(out + "/_batch_id=-1")
    shutil.copy(
        next(
            f"{stage}/{n}" for n in os.listdir(stage) if n.endswith(".parquet")
        ),
        out + "/_batch_id=-1/part-torn.parquet",
    )
    compact(spark, out, measures, keys)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("_batch_id="))
    assert dirs == ["_batch_id=-1", f"_batch_id={max(ids) + 1}"]
    # no nested stage inside -1, and the view matches pre-crash state
    assert not os.path.exists(out + "/_batch_id=-1/_batch_id=-2")
    assert view_rows() == want2


def test_streaming_row_window_multi_chunk_matches_batch(spark, events, tmp_path):
    """r12 review regression: a group arrives as MULTIPLE Arrow chunks
    in shuffle ARRIVAL order, and the old per-chunk sort counted rows
    into windows in arrival order across chunk boundaries. Two
    triggers are both required to reproduce it: maxRecordsPerBatch=7
    (many chunks per group) AND a SHUFFLED source file (the real
    events parquet is already ts-ordered, so arrival order ==
    order_cols order and per-chunk sorting is a no-op — the first
    version of this test passed on the buggy code). Verified to FAIL
    on the pre-fix loop with this shape."""
    from lightsaber_spark.operators.row_window import keyed_row_window_agg

    src = str(tmp_path / "shuffled_src")
    events.orderBy(F.rand(42)).coalesce(1).write.parquet(src)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        stream = read_stream(
            spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
        )
        s = streaming_row_window_agg(
            stream, ["ts", "event_id"], 100,
            [("count", None, "n"), ("sum", "value", "sum_value")],
            keys=["event_type"],
        )
        got = run_available_now(s, str(tmp_path / "ck_mc"), table_name="t_rw_mc")
        # the batch twin sorts the SAME shuffled relation by order_cols
        want = keyed_row_window_agg(
            spark.read.parquet(src), ["ts", "event_id"], 100,
            [("count", None, "n"), ("sum", "value", "sum_value")],
            ["event_type"],
        ).filter(F.col("n") == 100)
        ok, msg = rows_match(
            got.select("event_type", "window_id", "n", "sum_value").collect(),
            want.select("event_type", "window_id", "n", "sum_value").collect(),
            float_tol=1e-6,
        )
        assert ok, msg
    finally:
        spark.conf.set(key, old)


def test_streaming_funnel_string_user_ids(spark, tmp_path):
    """r12 review regression: the funnel's out_schema hardcoded a
    LongType user field — string user ids crashed at the Arrow
    boundary. The key must keep its source type."""
    from datetime import datetime, timezone

    from lightsaber_spark.streaming.funnel import streaming_funnel

    def _ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    src = str(tmp_path / "fsrc")
    spark.createDataFrame(
        [("u-a", _ts(100), "view"), ("u-a", _ts(110), "cart"),
         ("u-b", _ts(100), "view")],
        "user string, ts timestamp, event_type string",
    ).coalesce(1).write.parquet(src)
    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    out = run_available_now(
        streaming_funnel(stream, "ts", "user", "event_type",
                         ["view", "cart"], 60),
        str(tmp_path / "ck_fs"),
        table_name="t_fun_str",
        output_mode="update",
    ).collect()
    got = {r.user: r.stage_reached for r in out}
    assert got == {"u-a": 2, "u-b": 1}


def test_streaming_zscore_long_key(spark, tmp_path):
    """r12 review regression: the z-score out_schema hardcoded a
    StringType key — a numeric key column crashed/coerced at the Arrow
    boundary. Keyed by a LONG column, the op must run and key values
    must round-trip as longs."""
    from datetime import datetime, timezone

    from lightsaber_spark.streaming.anomaly import streaming_zscore_outliers

    def _ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    rows = []
    eid = 0
    # window 1 (t in [100, 200)): 12 calm events per key; window 2:
    # one wild event per key -> flagged against window 1's stats
    for k in (7, 9):
        for i in range(12):
            rows.append((eid, k, _ts(100 + i), 1.0 + (i % 3) * 0.01)); eid += 1
        rows.append((eid, k, _ts(210), 500.0)); eid += 1
    src = str(tmp_path / "zsrc")
    spark.createDataFrame(
        rows, "event_id long, grp long, ts timestamp, value double"
    ).coalesce(1).write.parquet(src)
    stream = read_stream(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    out = run_available_now(
        streaming_zscore_outliers(stream, "ts", "grp", "value", 100, min_n=10),
        str(tmp_path / "ck_zl"),
        table_name="t_z_long",
        output_mode="update",
    ).collect()
    assert {r.grp for r in out} == {7, 9}
    assert all(isinstance(r.grp, int) for r in out)


def test_streaming_sessions_timeout_null_ts_dropped(spark, tmp_path):
    """r12 review regression: a NULL event time passes Spark's late-row
    filter and used to reach the fold as INT64_MIN (phantom pre-epoch
    session; a null-only key even killed the query via a rejected
    timeout timestamp). Null-ts rows are dropped input-side."""
    from datetime import datetime, timezone

    from lightsaber_spark.streaming.sessions import streaming_sessions_timeout

    def _ts(s):
        return datetime.fromtimestamp(s, tz=timezone.utc).replace(tzinfo=None)

    src = str(tmp_path / "nsrc")
    gap = 30
    b1 = spark.createDataFrame(
        [(1, _ts(100)), (1, None), (3, None)], "user_id long, ts timestamp"
    )
    b2 = spark.createDataFrame([(2, _ts(1000))], "user_id long, ts timestamp")
    for i, b in ((1, b1), (2, b2)):
        b.coalesce(1).write.parquet(src + f"/b={i}")
    schema = spark.read.parquet(src + "/b=1").schema
    stream = read_stream(spark, src + "/b=*", schema, max_files_per_trigger=1)
    out = run_available_now(
        streaming_sessions_timeout(stream, "ts", "user_id", gap),
        str(tmp_path / "ck_nto"),
        table_name="t_sess_null",
        output_mode="update",
    ).collect()
    got = {(r.user_id, r.session_start_us, r.session_end_us, r.n) for r in out}
    # user 1's real session closes by timeout with n=1 (null row gone);
    # user 3 (null-only) never opens a session; no pre-epoch phantoms
    assert got == {(1, 100 * 1_000_000, (100 + gap) * 1_000_000, 1)}


def test_rollup_partial_count_honors_src_col(spark):
    """r12 review regression: ('count', col, a) in a rollup measure
    spec must skip nulls like the batch F.count(col), not count rows."""
    from lightsaber_spark.streaming.rollup import _merge_aggs, _partial_aggs

    df = spark.createDataFrame(
        [(0, 1.0), (0, None), (0, 3.0), (3600, None)],
        "pane_start long, value double",
    )
    measures = [("count", "value", "n_v"), ("count", None, "n_all")]
    part = df.groupBy("pane_start").agg(*_partial_aggs(measures))
    merged = {
        r.pane_start: (r.n_v, r.n_all)
        for r in part.groupBy("pane_start").agg(*_merge_aggs(measures)).collect()
    }
    assert merged == {0: (2, 3), 3600: (0, 1)}
