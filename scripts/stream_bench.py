#!/usr/bin/env python
"""Streaming throughput smoke: measured tuples/s through the streaming
engine on local[32], using the repo's own instrumentation
(`monitoring.ThroughputListener` — the reference's [MON] analog) over
the bounded-batch rate source (`rate_micro_batch_source` — the
ring-buffer-ingest analog).

The reference's benchmarks are throughput-based (tuples/s per node);
BASELINE.md records no absolute numbers, so this artifact documents
OUR side with honest context: JVM + Python driver, micro-batch
scheduling overhead included, state-store windowed aggregation — not a
cache-resident C++ JIT loop. The interesting property is the SHAPE:
per-batch cost should be dominated by rows (throughput roughly flat as
rows/batch grows), and grouped windowed aggregation should sustain
millions of tuples/s on 32 cores.

Usage: python scripts/stream_bench.py [--rows-per-batch 1000000]
       [--batches 12] [--write STREAM_BENCH.md]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _measure(
    spark, name: str, make_stream, batches: int, output_mode: str = "append"
) -> dict:
    from lightsaber_spark.monitoring import ThroughputListener

    listener = ThroughputListener()
    spark.streams.addListener(listener)
    q = (
        make_stream()
        .writeStream.format("noop")
        .outputMode(output_mode)
        .option("checkpointLocation", f"/tmp/stream_bench_ck/{name}-{time.time_ns()}")
        .start()
    )
    try:
        while len(listener.metrics) < batches:
            time.sleep(0.2)
    finally:
        # stopping aborts the in-flight batch — the CANNOT_COMMIT /
        # NoopStreamingWrite-abort ERRORs it logs are expected noise,
        # not a failure: the measured batches all committed.
        q.stop()
        spark.streams.removeListener(listener)
    # drop the first two batches (codegen + state-store warmup)
    steady = [m for m in listener.metrics[2:batches] if m.num_input_rows > 0]
    rows = sum(m.num_input_rows for m in steady)
    secs = sum(
        m.duration_ms.get("triggerExecution", 0) for m in steady
    ) / 1000.0
    out = {
        "rows": rows,
        "secs": round(secs, 3),
        "rows_per_sec": round(rows / secs) if secs else None,
        "batches_measured": len(steady),
    }
    # state-operator metrics from the LAST STEADY batch — the same
    # batch population the rows/s figure is computed from, so the
    # attribution row cannot show a warm-up batch's state shape
    # (previously sampled from q.lastProgress at loop exit, which
    # could be any batch)
    state_ops = steady[-1].state_operators if steady else []
    if state_ops:
        # last steady batch's state-operator metrics: where the time
        # went (update vs removal vs commit) and how big state is —
        # the attribution data for stateful-shape floors
        out["state_last_batch"] = [
            {
                k: op.get(k)
                for k in (
                    "operatorName", "numRowsTotal", "numRowsUpdated",
                    "numRowsRemoved", "allUpdatesTimeMs",
                    "allRemovalsTimeMs", "commitTimeMs",
                    # NB: the progress JSON field is memoryUsedBytes —
                    # the old "stateMemory" key never existed and
                    # recorded null in every prior STREAM_BENCH row
                    "memoryUsedBytes",
                )
            }
            for op in state_ops
        ]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows-per-batch", type=int, default=1_000_000)
    ap.add_argument("--join-parts", type=int, default=8,
                    help="state partitions for the stream-stream join "
                         "shape (the round-7 optimum, measured before "
                         "local sessions switched checkpoint manager; "
                         "see the shape comment)")
    ap.add_argument("--dense-join-parts", type=int, default=16,
                    help="state partitions for the DENSE join shape — "
                         "its optimum differs from the sparse shape's "
                         "(state-churn parallelism vs commit cost; "
                         "measured round 8, before local sessions "
                         "switched checkpoint manager: 16 for hdfs, 32 "
                         "for rocksdb+changelog)")
    ap.add_argument("--batches", type=int, default=12)
    ap.add_argument("--write", default=None)
    ap.add_argument("--rocksdb", action="store_true",
                    help="use the RocksDB state-store provider instead "
                         "of the default HDFS-backed one")
    ap.add_argument("--shapes", default=None,
                    help="comma-separated subset of shapes to run "
                         "(default: all) — used by the batch-size sweep")
    ap.add_argument("--append", action="store_true",
                    help="append rows to --write instead of rewriting")
    ap.add_argument("--conf", action="append", default=[],
                    help="extra spark conf as key=value (repeatable) — "
                         "e.g. spark.sql.streaming.join.stateFormatVersion=3")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from lightsaber_spark import get_spark
    from lightsaber_spark.sources.readers import rate_micro_batch_source
    from lightsaber_spark.streaming.stream import streaming_windowed_agg

    spark = get_spark(app_name="stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    if args.rocksdb:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )

    def base(rows_per_batch: int | None = None):
        # start away from epoch 0 (initial-watermark gotcha, CLAUDE.md)
        s = rate_micro_batch_source(
            spark,
            rows_per_batch=rows_per_batch or args.rows_per_batch,
            num_partitions=32,
            start_timestamp_ms=100_000,
            advance_ms_per_batch=1000,
        )
        return s.select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 10).alias("key"),
            (F.col("value") % 1000).cast("double").alias("v"),
        )

    # Stream-stream theta join (SURVEY §3.3's second data path): two
    # rate streams, event time spread across a 600 s band domain so
    # each ±5 s join band holds a bounded row set, with a selective
    # residual theta predicate (value mod 1009 equality) — the
    # reference ThetaJoin benchmark shape (selective predicate over a
    # symmetric time window). Full-size batches: Catalyst extracts the
    # equi residual into the symmetric-hash-join key, so per-batch cost
    # is row ingest + state commit, NOT an in-band pair scan (the
    # smaller-batch shrink this shape used through round 6 was a
    # leftover from the pre-equi-key nested-loop plan, and parked the
    # measurement on the per-batch state-commit floor).
    def theta_side(rows_per_batch: int, alias: str, spread_ms: int):
        s = rate_micro_batch_source(
            spark,
            rows_per_batch=rows_per_batch,
            num_partitions=32,
            start_timestamp_ms=100_000,
            advance_ms_per_batch=1000,
        )
        return s.select(
            F.timestamp_millis(
                F.unix_millis(F.col("timestamp"))
                + (F.col("value") * 7) % spread_ms
            ).alias(f"{alias}_ts"),
            F.col("value").alias(f"{alias}_v"),
        )

    def theta_shape(spread_ms: int = 600_000, modulus: int = 1009):
        from lightsaber_spark.streaming.stream import streaming_theta_join

        left = theta_side(args.rows_per_batch, "l", spread_ms)
        right = theta_side(args.rows_per_batch, "r", spread_ms)
        return streaming_theta_join(
            left, right,
            (F.col("l_v") % modulus) == (F.col("r_v") % modulus),
            "l_ts", "r_ts", max_delta_sec=5, watermark="10 seconds",
        )

    def session_shape():
        from lightsaber_spark.streaming.sessions import session_window_agg

        # spread event time so sessions (30 s gap) actually close; the
        # watermark lets the state store evict closed sessions
        s = base().withColumn(
            "ts",
            F.timestamp_millis(
                F.unix_millis(F.col("ts")) + (F.col("v").cast("bigint") * 101) % 300_000
            ),
        ).withWatermark("ts", "10 seconds")
        return session_window_agg(
            s, "ts", 30, [("sum", "v", "sum_v"), ("count", None, "n")], ["key"]
        )

    def line_docs():
        # rate 'value' is monotone -> satisfies the line family's
        # ids-never-regress contract; 4 lines/doc: 2 unique (keyed by
        # value) + 2 from recurring pools of 100/37 — a crawl-like
        # unique-tail/boilerplate mix
        s = rate_micro_batch_source(
            spark,
            rows_per_batch=args.rows_per_batch,
            num_partitions=32,
            start_timestamp_ms=100_000,
            advance_ms_per_batch=1000,
        )
        return s.select(
            F.col("value").alias("doc_id"),
            F.concat_ws(
                "\n",
                F.format_string("body %d alpha", F.col("value")),
                F.format_string("boiler %d", F.col("value") % 100),
                F.format_string("notice %d", F.col("value") % 37),
                F.format_string("trailer %d beta", F.col("value")),
            ).alias("text"),
        )

    def line_boiler_shape():
        from lightsaber_spark.streaming.stream import streaming_line_boilerplate

        return streaming_line_boilerplate(line_docs(), min_df=5)

    def line_df_shape():
        from lightsaber_spark.streaming.stream import streaming_line_df_counts

        return streaming_line_df_counts(line_docs())

    # streaming SemDeDup (round 11): 64-dim vectors synthesized from a
    # bounded pattern pool (value % pool), so exact copies re-arrive
    # forever and the kept-member state saturates at pool size instead
    # of growing with the stream — the realistic long-run regime of
    # online dedup (most arrivals are suppressed). Batch size is capped
    # per shape: each row ships 64 floats through Arrow and the
    # batch-vs-kept GEMM is O(rows x kept x dim) per cell.
    _SEM_ROWS_PER_BATCH = 100_000
    _SEM_POOL, _SEM_DIM = 2_000, 64

    def _sem_pat(p: int) -> list[int]:
        return [
            int(round((((p * 31 + i * 17) % 1999) - 999) / 1000.0 * 1_000_000))
            for i in range(_SEM_DIM)
        ]

    def embedding_stream():
        s = rate_micro_batch_source(
            spark,
            rows_per_batch=_SEM_ROWS_PER_BATCH,
            num_partitions=32,
            start_timestamp_ms=100_000,
            advance_ms_per_batch=1000,
        )
        pat = F.col("value") % _SEM_POOL
        vec = F.transform(
            F.sequence(F.lit(0), F.lit(_SEM_DIM - 1)),
            lambda i: (((pat * 31 + i * 17) % 1999) - 999).cast("double")
            / 1000.0,
        )
        return s.select(F.col("value").alias("vec_id"), vec.alias("embedding"))

    def semantic_shape():
        from lightsaber_spark.streaming.stream import streaming_semantic_dedup

        cents = [(c, _sem_pat(c)) for c in range(8)]
        return streaming_semantic_dedup(embedding_stream(), cents, 0.999999)

    # streaming passage coverage (round 12): per-doc exact-substring
    # coverage vs a STATIC frozen corpus index (2000 docs × 40 tokens →
    # ~62K index rows). Each arriving doc shares its first 20 tokens
    # with one corpus pattern (11 hit k-grams) and ends in a unique
    # tail — the crawl-like partial-overlap regime. Stateless: cost is
    # the shingle Arrow UDF + the stream-static hash join; the state
    # store stays empty. rows/s counts DOCUMENTS (~26 tokens each).
    _PC_ROWS_PER_BATCH = 200_000
    _PC_POOL, _PC_CTOK, _PC_PREFIX = 2_000, 40, 20

    def passage_corpus_index():
        from lightsaber_spark.functions.dedup import (
            positional_shingles_udf,
            shingle_hash,
        )

        corpus = spark.createDataFrame(
            [
                (p, " ".join(f"tok{p}x{i}" for i in range(_PC_CTOK)))
                for p in range(_PC_POOL)
            ],
            "doc_id long, text string",
        )
        return (
            corpus.select(
                "doc_id",
                F.posexplode(
                    positional_shingles_udf(10)(F.col("text"))
                ).alias("pos", "_sh"),
            )
            .select(
                "doc_id",
                F.col("pos").cast("bigint").alias("pos"),
                shingle_hash(F.col("_sh")).alias("h"),
            )
            .persist()
        )

    def passage_docs():
        s = rate_micro_batch_source(
            spark,
            rows_per_batch=_PC_ROWS_PER_BATCH,
            num_partitions=32,
            start_timestamp_ms=100_000,
            advance_ms_per_batch=1000,
        )
        p = (F.col("value") % _PC_POOL).cast("int")
        prefix = F.concat_ws(
            " ", *[F.format_string(f"tok%dx{i}", p) for i in range(_PC_PREFIX)]
        )
        return s.select(
            F.col("value").alias("doc_id"),
            F.concat_ws(
                " ", prefix, F.format_string("uniq%d a b c d e", F.col("value"))
            ).alias("text"),
        )

    def passage_shape():
        from lightsaber_spark.streaming.stream import streaming_passage_coverage

        return streaming_passage_coverage(passage_docs(), passage_corpus_index(), k=10)

    # theta shape feeds --rows-per-batch rows per SIDE — its real
    # per-batch ingest (both sides) differs from the global figure and
    # must be reported per shape, not globally
    theta_rows_per_batch = 2 * args.rows_per_batch
    shapes = {
        # pure ingest+project: the data-movement ceiling (NoOp analog)
        "passthrough": (lambda: base(), args.rows_per_batch),
        # CM1 shape: tumbling grouped sum+count, state-store windowed agg
        "tumbling_sum_60s": (lambda: streaming_windowed_agg(
            base(), "ts", 60, None,
            [("sum", "v", "sum_v"), ("count", None, "n")], ["key"],
            watermark="10 seconds",
        ), args.rows_per_batch),
        # sliding (60,10): native window fan-out x6 + state
        "sliding_sum_60_10": (lambda: streaming_windowed_agg(
            base(), "ts", 60, 10,
            [("sum", "v", "sum_v")], ["key"],
            watermark="10 seconds",
        ), args.rows_per_batch),
        # stream-stream theta join (band-bucketized symmetric hash join
        # + residual predicate) — rows/s counts BOTH input sides. State
        # partitions (--join-parts): a stream-stream join runs FOUR
        # state-store instances per partition (2 sides x 2 internal
        # stores), each writing checkpoint files every batch. Round 7
        # measured per-store commit at 36/57/146/350 ms for 4/8/16/32
        # partitions and picked 8. The cause was not the disk: without
        # Hadoop's native library the default FileContext checkpoint
        # manager forked chmod/readlink processes for every checkpoint
        # file. Local sessions now use the FileSystem-based manager
        # (session.use_local_checkpoint_manager), so that optimum was
        # measured before the change and needs re-measuring.
        "theta_join_band_5s": (theta_shape, theta_rows_per_batch,
                               {"spark.sql.shuffle.partitions":
                                str(args.join_parts)}),
        # dense variant: 15 s event-time spread, so every row enters
        # state (the 600 s shape drops ~98 % as late) — the full
        # state-insert bound of the symmetric hash join. The residual
        # is exact value equality (values are unique per batch per
        # side), so each row joins its one twin: output stays ~n while
        # state insert/evict churn is the full 2n per batch.
        # Partitioning: unlike the sparse shape (commit-bound in round
        # 7, optimum 8), dense is bound by the PER-PARTITION
        # single-threaded state update+eviction walk, so it wants MORE
        # partitions — measured optimum 16 (hdfs) / 32 (rocksdb WITH
        # changelog checkpointing, which turns the 32 commits into
        # cheap appends); see STREAM_BENCH.md round-8 section. Both
        # optima predate the FileSystem-based local checkpoint manager.
        "theta_join_band_5s_dense": (
            lambda: theta_shape(15_000, modulus=1 << 62),
            theta_rows_per_batch,
            {"spark.sql.shuffle.partitions": str(args.dense_join_parts)}),
        # session windows (30 s gap) over spread event time
        "session_windows_30s": (session_shape, args.rows_per_batch),
        # CCNet line-boilerplate detection, py-state variant (crossing
        # events + flagging doc): keyed applyInPandasWithState, one
        # long of state per distinct line. rows/s counts DOCUMENTS;
        # the cost driver is PER-TOUCHED-GROUP python dispatch (every
        # new unique line is a group), not row volume — the structural
        # price of the python state API at high key cardinality.
        "line_boilerplate": (line_boiler_shape, args.rows_per_batch, {}, "update"),
        # same detection as a pure-JVM streaming aggregation (running
        # line_df per distinct line; flag set = filter(df >= k)
        # downstream) — the 100 TB scale path, no python anywhere
        "line_df_counts": (line_df_shape, args.rows_per_batch, {}, "update"),
        # streaming SemDeDup: frozen-centroid assignment (Arrow GEMM)
        # + per-cell kept-member state; pool-bounded state (see the
        # shape comment). rows/s counts VECTORS (64 floats each).
        "semantic_dedup": (semantic_shape, _SEM_ROWS_PER_BATCH, {}, "update"),
        # streaming exact-substring coverage: stateless stream-static
        # join + per-doc in-batch fold; rows/s counts DOCUMENTS
        "passage_coverage": (passage_shape, _PC_ROWS_PER_BATCH, {}, "update"),
    }
    if args.shapes:
        wanted = args.shapes.split(",")
        shapes = {n: shapes[n] for n in wanted}
    results = {}
    for name, entry in shapes.items():
        mk, per_batch = entry[0], entry[1]
        conf = entry[2] if len(entry) > 2 else {}
        mode = entry[3] if len(entry) > 3 else "append"
        saved = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            results[name] = _measure(spark, name, mk, args.batches,
                                      output_mode=mode)
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        results[name]["rows_per_batch"] = per_batch
        r = results[name]
        print(
            f"{name:20s} {r['rows']:>10} rows in {r['secs']:6.2f}s steady "
            f"-> {r['rows_per_sec']:>10} rows/s"
        )

    provider = "rocksdb" if args.rocksdb else "hdfs-backed"
    payload = {
        "rows_per_batch": args.rows_per_batch,
        "cores": 32,
        "provider": provider,
        "results": results,
    }
    if args.append and os.path.exists("STREAM_BENCH.json"):
        with open("STREAM_BENCH.json") as f:
            prior = json.load(f)
        prior = prior if isinstance(prior, list) else [prior]
        prior.append(payload)
        payload = prior
    with open("STREAM_BENCH.json", "w") as f:
        json.dump(payload, f)
    if args.write:
        lines = [] if args.append else [
            "# Streaming throughput smoke "
            "(generated by scripts/stream_bench.py — do not edit)",
            "",
            "`rate-micro-batch` source, 32 partitions on local[32]; "
            "steady-state batches only (first two dropped); measured by "
            "the repo's own `ThroughputListener` (the reference's [MON] "
            "analog, `Measurement.cpp:42-54`). Honest context: JVM "
            "micro-batch engine with state-store windowed aggregation — "
            "scheduling overhead included, not a cache-resident C++ JIT "
            "loop; the reference publishes no absolute numbers in-repo "
            "(BASELINE.md), so these document our absolute single-node "
            "streaming rates. The rows/batch sweep shows the micro-batch "
            "cost model directly: per-batch scheduling + state-commit "
            "overhead is ~fixed, so throughput scales with batch size "
            "(the throughput/latency trade micro-batching makes) — the "
            "per-ROW cost of the windowed aggregation itself is the "
            "8M-rows/batch row.",
            "",
            "## Stream-stream theta join: root cause of the round-5/6 "
            "72-77 K rows/s readings",
            "",
            "Two compounding measurement artifacts, both fixed in round "
            "7, plus one real tuning lever:",
            "",
            "1. **Batch size**: the shape fed `rows_per_batch // 10` "
            "rows per side (a leftover guard from the pre-equi-key "
            "nested-loop plan) AND the table reported the global "
            "rows/batch for it, so the recorded point sat at 100 K "
            "rows/side — entirely on the per-batch state-commit floor "
            "(~2.8 s/batch at 32 partitions regardless of rows). "
            "Catalyst extracts the equality conjunct of the theta "
            "predicate into the symmetric-hash-join key (plan shows "
            "`StreamingSymmetricHashJoin [_tj_bkt, (l_v % 1009)]`), so "
            "full-size batches are row-ingest-bound, not pair-scan-"
            "bound: the shape now feeds `--rows-per-batch` per side.",
            "2. **State-store instance count**: a stream-stream join "
            "runs FOUR state-store instances per partition (2 sides × "
            "KeyToNumValues + KeyWithIndexToValue); each writes "
            "checkpoint files every batch. Measured per-store commit in "
            "round 7: 36 / 57 / 146 / 350 ms at 4 / 8 / 16 / 32 "
            "partitions, so 32 partitions × 4 instances spent the whole "
            "batch in commit (44.8 s summed commit per batch). Round 7 "
            "blamed fsync on one local disk; the real cause was process "
            "spawns. Without Hadoop's native library, Spark's default "
            "FileContext checkpoint manager forks `chmod` and `readlink` "
            "processes for every checkpoint file (about 95 forks per "
            "micro-batch for one 4-partition aggregate). Local sessions "
            "now use the FileSystem-based manager, which forks no "
            "`readlink` (`session.use_local_checkpoint_manager`). The "
            "shape runs at `--join-parts` (default 8) state partitions, "
            "the round-7 sweet spot (0.55 M → 1.34 M rows/s at 800 K "
            "rows/side), measured BEFORE that change. RocksDB "
            "alternative: "
            "`spark.sql.streaming.join.stateFormatVersion=3` collapses "
            "the 4 instances into one column-family store (measured "
            "1.05 M rows/s at 32 partitions with changelog "
            "checkpointing).",
            "",
            "Also honest to note: this shape spreads event time over a "
            "600 s domain against a 10 s watermark, so in steady state "
            "~98 % of rows are dropped as late inside the join operator "
            "(state updates ≈ 2 % of ingest). A dense variant (15 s "
            "spread + exact-equality residual, so every row enters "
            "state and joins its one twin) measures the full "
            "state-insert path instead; both are reported below. The "
            "`--join-parts` optimum also shifts with batch size: 8 "
            "partitions was commit-floor-optimal at the 1 M-rows/side "
            "operating point but shuffle/memory-bound at 8 M rows/side "
            "(the 16 M-rows/batch sweep row); both readings predate the "
            "FileSystem-based local checkpoint manager.",
            "",
            "Round-8 dense findings (full matrix in the round-8 "
            "section when present; measured before the FileSystem-"
            "based local checkpoint manager): the DENSE shape is bound "
            "by the "
            "per-partition single-threaded state walk, not commit, so "
            "it runs at `--dense-join-parts` (16 hdfs / 32 rocksdb "
            "with changelog checkpointing — 3.6-3.9x the r7 row at "
            "the 8-12-batch protocol). Two caveats that protocol "
            "hides: state doesn't reach insert/evict equilibrium "
            "until ~batch 20 (33.6 M rows; sustained rocksdb rate "
            "137.8 K rows/s), and the hdfs-backed store OOMs a 24 g "
            "driver before batch ~15 at that state size — rocksdb is "
            "the only sustainable store for dense state on one node.",
            "",
            "| shape | state store | rows/batch | steady rows/s | rows | steady secs |",
            "|---|---|---|---|---|---|",
        ]
        for name, r in results.items():
            lines.append(
                f"| {name} | {provider} | {r['rows_per_batch']:,} "
                f"| {r['rows_per_sec']:,} "
                f"| {r['rows']:,} | {r['secs']} |"
            )
        with open(args.write, "a" if args.append else "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"wrote {args.write}")
    spark.stop()


if __name__ == "__main__":
    main()
