"""Structured Streaming layer.

The reference is a streaming engine end-to-end (SPSC ring ingest →
fused kernels → result forwarding, SURVEY.md §3.2); its batch behavior
is just a replayed stream. Here the mapping inverts: the batch
DataFrame plans ARE the semantics, and this module re-runs the same
plans as Structured Streaming:

  reference                              spark
  ---------                              -----
  in-order stream assumption             withWatermark(ts, "0 seconds")
  (README.md:16, no late-data handling)  (tight watermark; late = drop)
  circular-buffer replay driver          readStream file source /
  (BenchmarkQuery.h:144-240)             rate source / availableNow
  exactly-once via Scabbard checkpoints  checkpointLocation (built-in)
  (src/checkpoint/…)
  backpressure (ring full → retry)       maxFilesPerTrigger / rate limits
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from lightsaber_spark.operators.window_agg import AggSpec, _agg_exprs


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = 1,
    max_bytes_per_trigger: str | None = None,
) -> DataFrame:
    """File-based stream source (the batch fixtures replayed as a
    stream — the Spark analog of the reference's dataset replay driver,
    ``test/benchmarks/applications/BenchmarkQuery.h:144-240``).

    ``max_files_per_trigger`` / ``max_bytes_per_trigger`` bound the
    work admitted per micro-batch — the backpressure role of the
    reference's fixed-capacity ring buffer
    (``CircularQueryBuffer.h:35-54``): ingest can never outrun the
    query by more than one bounded batch, and a cold start over a deep
    backlog replays it as many bounded batches instead of one
    unbounded one."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if max_bytes_per_trigger is not None:
        reader = reader.option("maxBytesPerTrigger", max_bytes_per_trigger)
    return reader.load(path)


def streaming_windowed_agg(
    stream: DataFrame,
    ts_col: str,
    size_sec: int,
    slide_sec: int | None,
    aggs: Sequence[AggSpec],
    keys: Sequence[str] = (),
    watermark: str = "0 seconds",
    float32_output: bool = False,
) -> DataFrame:
    """The streaming twin of ``operators.windowed_agg``.

    Uses native ``F.window`` (required for streaming state GC — the
    state store needs the window column to expire state by watermark).
    The ``0 seconds`` default watermark encodes the reference's
    in-order-stream assumption (``README.md:16``): any late row is
    dropped, exactly as the reference would never see one.

    Output schema matches the batch operator (window_start bigint
    seconds, ``float32_output`` casts aggregate outputs to float32 —
    the reference's universal output type, ``Aggregation.h:53-87``) so
    streaming-vs-batch equivalence tests can diff results directly.
    """
    from lightsaber_spark.operators.window_agg import _cast_outputs

    slide_sec = slide_sec or size_sec
    wm = stream.withWatermark(ts_col, watermark)
    w = (
        F.window(F.col(ts_col), f"{size_sec} seconds")
        if slide_sec == size_sec
        else F.window(F.col(ts_col), f"{size_sec} seconds", f"{slide_sec} seconds")
    )
    out = wm.groupBy(w.alias("_w"), *keys).agg(*_agg_exprs(aggs))
    out = out.select(
        F.unix_micros(F.col("_w.start")).cast("bigint").alias("window_start_us"),
        *keys,
        *[F.col(a) for _, _, a in aggs],
    ).withColumn("window_start", F.expr("window_start_us DIV 1000000")) \
     .drop("window_start_us")
    return _cast_outputs(out, aggs, float32_output)


def streaming_post_window_argmax(
    stream: DataFrame,
    ts_col: str,
    size_sec: int,
    key_col: str,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming NBQ5 shape: two CHAINED stateful aggregations — count
    per (window, key), then the key with the max count per window — as
    one streaming query (Spark's multiple-stateful-operator support;
    the reference runs its post-window op inside the same streaming
    pipeline, ``NBQ5.cpp:42,73-103``).

    Stage 2 groups by the SAME event-time window struct stage 1 emitted,
    which is what lets the engine propagate the watermark through and
    GC both state stores. Ties break deterministically to the highest
    key (max over (n, key) pairs — mirror any batch comparison with the
    same rule). Append mode only: a window emits once, when the
    watermark passes its end."""
    wm = stream.withWatermark(ts_col, watermark)
    per_key = wm.groupBy(
        F.window(F.col(ts_col), f"{size_sec} seconds").alias("_w"),
        F.col(key_col),
    ).agg(F.count(F.lit(1)).alias("n"))
    winners = per_key.groupBy("_w").agg(
        F.max(F.struct(F.col("n"), F.col(key_col).alias("_k"))).alias("_win")
    )
    return winners.select(
        F.unix_micros(F.col("_w.start")).alias("_us"),
        F.col("_win._k").alias(key_col),
        F.col("_win.n").alias("n"),
    ).select(
        F.expr("_us DIV 1000000").alias("window_start"),
        key_col,
        "n",
    )


def streaming_theta_join(
    left: DataFrame,
    right: DataFrame,
    predicate,
    left_ts: str,
    right_ts: str,
    max_delta_sec: int,
    watermark: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream theta join — the reference's symmetric windowed
    nested-loop join (``ThetaJoin.h:18-819``, two ring buffers paired by
    ``JoinTaskDispatcher``) as a Structured Streaming join.

    ``how`` may be any stream-stream join type Spark supports
    (``inner``, ``left_outer``, ``right_outer``, ``full_outer``) — the
    reference only implements inner (SURVEY §2.7), the outer flavors
    come free here. Outer null rows are emitted only once the
    watermark passes the row's join band (state-store eviction time),
    so rows near the end of a bounded replay stay un-emitted — the
    same final-window caveat as append-mode aggregation.

    The event-time band (±max_delta_sec) plus watermarks on BOTH sides
    is what lets the state store evict rows (the reference's per-side
    window eviction, ``ThetaJoin.h:417-499``); the arbitrary theta
    predicate rides along as a residual filter. Spark additionally
    requires an EQUALITY predicate for stream-stream joins (symmetric
    hash join keys), so the band is bucketized exactly like the batch
    operator: both sides get a ``max_delta``-wide time bucket, the
    right side is exploded to bucket ±1, and the join key is the
    bucket — which also co-partitions state by time.

    Performance (measured round 7, local[32]): Catalyst extracts any
    equality conjunct of ``predicate`` into the symmetric-hash-join
    key alongside the bucket (verify: the plan's
    ``StreamingSymmetricHashJoin [keys...]`` line), so selective equi
    residuals cost hash lookups, not in-bucket scans. The throughput
    lever is STATE PARTITIONS: the join runs four state-store
    instances per partition (2 sides × KeyToNumValues +
    KeyWithIndexToValue), each writing checkpoint files every batch.
    Round 7 measured per-store commit growing with instance count
    (36→350 ms/store from 4→32 partitions) and picked 8 partitions
    (0.55M→1.34M rows/s at 800K rows/side/batch). The cost was not
    disk fsync but process spawns: without Hadoop's native library the
    default FileContext checkpoint manager forks ``chmod`` and
    ``readlink`` for every checkpoint file. Local sessions now use the
    FileSystem-based manager (``session.use_local_checkpoint_manager``),
    so that sweet spot was measured before the change and should be
    re-measured before it sizes ``spark.sql.shuffle.partitions``. On
    RocksDB,
    ``spark.sql.streaming.join.stateFormatVersion=3`` collapses the
    four instances into one column-family store (measured 1.05M rows/s
    at 32 partitions with changelog checkpointing).
    """
    us = 1_000_000
    d_us = max_delta_sec * us

    def bucket(c):
        # SQL DIV (trunc toward zero) — identical to the previous
        # (x - x % d) / d float form for every sign, without the
        # banned /+cast pattern (CLAUDE.md exactness invariant)
        return F.expr(f"unix_micros(`{c}`) DIV {d_us}")

    l_wm = left.withWatermark(left_ts, watermark).withColumn(
        "_tj_bkt", bucket(left_ts)
    )
    rb = bucket(right_ts)
    r_wm = right.withWatermark(right_ts, watermark).withColumn(
        "_tj_bkt", F.explode(F.array(rb - 1, rb, rb + 1))
    )
    lt, rt = F.col(left_ts), F.col(right_ts)
    band = (rt >= lt - F.expr(f"INTERVAL {max_delta_sec} SECONDS")) & (
        rt <= lt + F.expr(f"INTERVAL {max_delta_sec} SECONDS")
    )
    cond = (l_wm["_tj_bkt"] == r_wm["_tj_bkt"]) & band
    if predicate is not None:
        cond = cond & predicate
    return l_wm.join(r_wm, cond, how).drop("_tj_bkt")


def streaming_dedup(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming exact deduplication on ``keys`` — the streaming twin of
    the batch dedup ladder's exact rung (functions/dedup.py) and a
    first-class training-pipeline ingest op (drop re-delivered /
    re-crawled records as they arrive).

    With ``ts_col`` the state store keeps one entry per key only within
    the watermark horizon (``dropDuplicatesWithinWatermark``): bounded
    state, the 100 TB-ingest mode — duplicates are only suppressed while
    their first occurrence is younger than the watermark delay, exactly
    the re-delivery window guarantee at-least-once sources need. Without
    ``ts_col`` state is unbounded (global exact dedup, batch-replay
    parity)."""
    keys = list(keys)
    if ts_col is None:
        return stream.dropDuplicates(keys)
    wm = stream.withWatermark(ts_col, watermark)
    return wm.dropDuplicatesWithinWatermark(keys)


def streaming_url_canonical_dedup(
    stream: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming rung of the URL dedup family (r12 VERDICT #4 — the
    one dedup family that had batch only): canonicalize per micro-batch
    (the SAME pure-Catalyst per-row core as the batch
    ``canonical_url_dedup`` — ``functions/urls.py canonicalized_docs``,
    so spellings/PSL semantics cannot diverge between rungs), then keep
    the FIRST arrival per canonical URL across micro-batches.

    Emits ``(id_col, canonical_url, domain)`` for each KEPT document —
    the crawl-ingest shape (drop re-crawled spellings as they arrive).
    With id-ordered arrival the kept id equals the batch query's
    ``rep_doc_id`` (min id); the canonical-URL SET is arrival-order
    independent.

    State: one entry per distinct canonical URL (unbounded — global
    exact dedup, batch-replay parity). With ``ts_col`` the state is
    bounded to the watermark horizon via
    ``dropDuplicatesWithinWatermark`` — the 100 TB-ingest mode, same
    trade as :func:`streaming_dedup`."""
    from lightsaber_spark.functions.urls import canonicalized_docs

    carry = (ts_col,) if ts_col else ()
    c = canonicalized_docs(stream, url_col, id_col, carry)
    out = c.select(
        F.col("_id").alias(id_col),
        *([ts_col] if ts_col else []),
        "canonical_url",
        "domain",
    )
    if ts_col is None:
        return out.dropDuplicates(["canonical_url"])
    return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["canonical_url"]
    )


def streaming_html_link_frontier(
    stream: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    ts_col: str | None = None,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Crawl-frontier construction from a stream of raw HTML pages
    (r14 verdict #3): extract every double-quoted ``<a href>`` per
    page (``functions/html.py extract_hrefs`` — the same pattern as
    the batch ``html_link_extraction`` query), gate to absolute URLs
    (relative hrefs need base-URL resolution), then reuse
    :func:`streaming_url_canonical_dedup` so each CANONICAL url is
    emitted exactly once across micro-batches — the set of new pages
    to fetch. Extraction + explode are stateless per micro-batch; the
    only state is the canonical-URL dedup set (bounded to the
    watermark horizon when ``ts_col`` is given, the 100 TB-ingest
    mode). Emits ``(id_col, canonical_url, domain)`` — id = the page
    that FIRST linked to the url."""
    from lightsaber_spark.functions.html import extract_hrefs

    carry = [ts_col] if ts_col else []
    links = stream.select(
        F.col(id_col),
        *carry,
        F.explode(extract_hrefs(F.col(html_col))).alias("_href"),
    ).filter(F.col("_href").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"))
    return streaming_url_canonical_dedup(
        links, url_col="_href", id_col=id_col,
        ts_col=ts_col, watermark=watermark,
    )


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    table_name: str = "stream_result",
) -> DataFrame:
    """Run a streaming query to completion over all currently-available
    input (deterministic test trigger), collect via the memory sink,
    and return the result as a DataFrame.

    ``checkpoint_dir`` here is PER-RUN bookkeeping only: the memory
    sink cannot resume from a checkpoint (CLAUDE.md gotcha), so
    re-invoking with the same dir does NOT continue where the last run
    stopped. Scabbard-style exactly-once RESTART semantics
    (reference: FileBackedCheckpointCoordinator,
    ``src/checkpoint/FileBackedCheckpointCoordinator.h:34-42``) come
    from the same one-line option on a RESUMABLE sink — see the
    parquet-sink restart test (``test_checkpoint_restart``), where
    Spark's checkpoint replaces those ~2000 lines of C++."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)


def streaming_neardup_lsh(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate flagging: a document is
    flagged the moment ANY of its band buckets was already claimed by
    an earlier document — the streaming retrieval stage of the batch
    dedup ladder (``functions/dedup.py minhash_lsh_candidates``), with
    identical signatures (per-row band-key UDF, no aggregation needed).

    One stateless Arrow UDF + explode to (band, bucket), then a keyed
    stateful operator holding ONE long per (band, bucket): the anchor
    (first document to claim the bucket). Emits
    ``(doc_id, anchor_id, band)`` per collision — consumers distinct on
    ``doc_id`` for the flag set, or treat (anchor, doc) as candidate
    pairs for a downstream verifier. State is bounded by the number of
    DISTINCT buckets (≤ bands · corpus shingle diversity), not by
    stream length; in-order model: ids must not regress across batches
    (SURVEY §2.9), within a batch rows are folded in id order.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from lightsaber_spark.functions.dedup import minhash_band_keys_udf

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("anchor_id", LongType()),
            StructField("band", LongType()),
        ]
    )
    state_schema = StructType([StructField("anchor", LongType())])

    def fn(key, pdf_iter, state):
        anchor = state.get[0] if state.exists else None
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            ids = sorted(int(i) for i in pdf["doc_id"].to_numpy())
            for did in ids:
                if anchor is None:
                    anchor = did
                    state.update((anchor,))
                elif did != anchor:
                    rows.append([did, anchor, int(key[0])])
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)
        )

    banded = stream.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            minhash_band_keys_udf(n_hashes, bands, k, seed)(F.col(text_col))
        ).alias("band", "bucket"),
    )
    return banded.groupBy("band", "bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def streaming_semantic_dedup(
    stream: DataFrame,
    centroids: list[tuple[int, list[int]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming SemDeDup ingest — the streaming twin of
    :func:`~lightsaber_spark.functions.similarity.semantic_dedup_delta`
    (completing the streaming dedup ladder: exact digest, MinHash-LSH,
    line boilerplate, URL frontier, and now semantic). Each arriving
    vector is assigned to its FROZEN centroid cell (stateless Arrow
    GEMM against the broadcast matrix — reuse the corpus fit, never
    refit on a stream) and KEPT iff no already-kept member of its cell
    is within ``threshold`` cosine.

    Declared semantics — the SEQUENTIAL greedy variant of the paper's
    rule: processing order is id order (the in-order model, SURVEY
    §2.9 — ids must not regress across micro-batches), and comparison
    is against KEPT members only (an online system can only suppress
    against vectors it retained). The batch/delta operators instead
    rank by centroid-cosine and compare against ALL earlier-ranked
    members, so kept SETS can differ between the two — both are
    members of the paper's greedy family; the streaming semantics are
    pinned against an independent sequential Python model and are
    micro-batch-split invariant (pytest).

    State per cell: the kept members' ids + integer-scaled vectors —
    (dim + 1)·8 bytes per KEPT member (dim 64 ⇒ 520 B), the
    irreducible online-dedup state, bounded by the kept-set size and
    partitioned by cell exactly like the batch pair space. Each batch
    does ONE vectorized GEMM of its new rows against the cell's kept
    matrix (plus the sequential in-batch fold), all in exact
    integer-valued float64 — bit-identical arithmetic to the batch
    kernels. Emits ``(vec_id, cell_id, keep)`` per arrival in update
    mode."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from lightsaber_spark.functions.similarity import SCALE, ivf_cell_udf

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cell_id", LongType()),
            StructField("keep", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ids", ArrayType(LongType())),
            StructField("flat", ArrayType(LongType())),  # kept vectors, concat
        ]
    )

    def fn(key, pdf_iter, state):
        if state.exists:
            kept_ids = list(state.get[0])
            flat = list(state.get[1])
        else:
            kept_ids, flat = [], []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            y = m * SCALE
            s = np.sign(y) * np.floor(np.abs(y) + 0.5)  # HALF_UP, exact ints
            # the upstream select aliases id_col to "vec_id" — reading
            # pdf[id_col] here crashed every non-default id_col caller
            ids = pdf["vec_id"].to_numpy()
            order = np.argsort(ids, kind="stable")  # in-order fold
            dim = s.shape[1]
            kmat = (
                np.array(flat, dtype=np.float64).reshape(-1, dim)
                if flat
                else np.empty((0, dim))
            )
            knorm = np.sqrt((kmat * kmat).sum(axis=1))
            # one GEMM of the whole batch against the kept-state matrix,
            # then a sequential in-batch fold for rows kept this batch
            norms = np.sqrt((s * s).sum(axis=1))
            # vectorized batch-vs-state verdicts first: in the steady
            # regime most arrivals are suppressed by existing kept
            # members, so they must never enter the python fold (the
            # per-row loop runs ONLY for state-survivors — measured
            # 16.8K → ~35-42K vec/s on the saturated stream_bench
            # shape; the residual is Arrow transfer + list→matrix
            # conversion, see STREAM_BENCH.md round 11)
            if len(kmat):
                drop_state = (
                    ((s @ kmat.T) / (norms[:, None] * knorm[None, :]))
                    >= threshold
                ).any(axis=1)
            else:
                drop_state = np.zeros(len(s), dtype=bool)
            keep_flags = np.zeros(len(s), dtype=np.int64)
            # batch-kept matrix grown in place; python loop only over
            # rows the state GEMM did not already condemn
            kn_mat = np.empty((len(s), s.shape[1]))
            kn_norm = np.empty(len(s))
            kn_idx: list[int] = []  # indexes into s kept THIS batch
            for i in order:
                if drop_state[i]:
                    continue
                dropped = False
                if kn_idx:
                    nk = len(kn_idx)
                    cos = (s[i] @ kn_mat[:nk].T) / (norms[i] * kn_norm[:nk])
                    dropped = bool((cos >= threshold).any())
                if not dropped:
                    kn_mat[len(kn_idx)] = s[i]
                    kn_norm[len(kn_idx)] = norms[i]
                    kn_idx.append(int(i))
                    keep_flags[i] = 1
            if kn_idx:
                kept_ids.extend(int(ids[i]) for i in kn_idx)
                flat.extend(int(x) for x in s[kn_idx].ravel())
                state.update((kept_ids, flat))
            yield pd.DataFrame(
                {
                    "vec_id": ids.astype(np.int64),
                    "cell_id": np.full(len(s), int(key[0]), dtype=np.int64),
                    "keep": keep_flags,
                }
            )
            return
        cols = [f.name for f in out_schema.fields]
        yield pd.DataFrame(columns=cols)

    cell = ivf_cell_udf(centroids, centroids_scaled=True)
    assigned = stream.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        F.col(vec_col).alias(vec_col),
        cell(F.col(vec_col)).alias("cell_id"),
    )
    return assigned.groupBy("cell_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def _distinct_trimmed_lines(
    stream: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(doc_id, line)`` — one row per (document, distinct non-empty
    trimmed line). The single source of the stateless in-row explode
    shared by :func:`streaming_line_boilerplate` and its JVM
    df-counter twin :func:`streaming_line_df_counts`: STREAM_BENCH
    compares their outputs, so the line normalization must never
    drift between them (it was previously copy-pasted in both).

    Rows without a document identity are dropped: a NULL ``doc_id``
    arrives in the python fold as a NaN key and ``int()`` kills the
    query (r12 review class), and the batch twin's
    ``count_distinct(doc_id)`` skips nulls anyway — same contract."""
    return stream.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    # NOT bare F.trim: transform() sees its optional 2nd
                    # param (trim chars, Spark 3.5+) and passes the
                    # element INDEX there, stripping digits off line ends
                    F.transform(
                        F.split(F.col(text_col), "\n"), lambda x: F.trim(x)
                    ),
                    lambda x: x != F.lit(""),
                )
            )
        ).alias("line"),
    )


def streaming_line_boilerplate(
    stream: DataFrame,
    min_df: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming CCNet-style boilerplate detection: a line is flagged
    the moment its corpus doc-frequency reaches ``min_df`` — the
    incremental twin of the batch flagged-line set in
    ``functions/dedup.py line_dedup_stats`` / ``line_dedup_scrub``
    (same trim / empty-drop normalization, same 60-bit line hash, so
    the two flag sets are directly comparable).

    The explode is stateless: each document arrives as ONE row, so its
    DISTINCT non-empty trimmed lines are computed inside the row with
    array ops (no streaming-distinct state), then a keyed stateful
    operator per line hash holds a single running doc count — total
    state is one long per DISTINCT line, the same bound as the batch
    ``groupBy(lh)``, partitioned by line hash across the cluster (the
    shape the streaming LSH dedup already proves out at scale).

    Emits one row per line at its crossing batch:
    ``(lh, flagged_by_doc, line_df)`` where ``flagged_by_doc`` is the
    ``min_df``-th distinct document containing the line under the
    in-order model (ids must not regress across batches; within a
    batch rows fold in id order — SURVEY §2.9, same contract as
    :func:`streaming_neardup_lsh`).
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from lightsaber_spark.functions.dedup import shingle_hash

    out_schema = StructType(
        [
            StructField("lh", LongType()),
            StructField("flagged_by_doc", LongType()),
            StructField("line_df", LongType()),
        ]
    )
    state_schema = StructType([StructField("n_docs", LongType())])

    def fn(key, pdf_iter, state):
        count = state.get[0] if state.exists else 0
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            # one row per (doc, distinct line) by construction, so
            # every id here is a NEW distinct document for this line
            for did in sorted(int(i) for i in pdf["doc_id"].to_numpy()):
                count += 1
                if count == min_df:
                    rows.append([int(key[0]), did, count])
            state.update((count,))
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)
        )

    lines = _distinct_trimmed_lines(stream, id_col, text_col).select(
        "doc_id", shingle_hash(F.col("line")).alias("lh")
    )
    return lines.groupBy("lh").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def streaming_line_df_counts(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Running corpus doc-frequency per distinct line — the pure-JVM
    scale path of streaming line-boilerplate detection. Emits
    ``(lh, line_df)`` updates each batch; the current flagged set is
    ``filter(line_df >= min_df)``, which downstream ingest scrubbing
    consumes (:func:`streaming_line_scrub`).

    Same stateless in-row distinct-line explode as
    :func:`streaming_line_boilerplate`, but the cross-batch counting
    is a built-in streaming aggregation: state lives in the JVM state
    store (one long per distinct line) and no Python is involved, so
    throughput is not bound by per-touched-group Python dispatch —
    `STREAM_BENCH.md` measures the two variants against each other.
    The py-state variant remains the semantic-rich form (it emits the
    crossing EVENT with the flagging document); this one trades that
    for raw rate, which is the right trade on a crawl firehose.

    Counting rows equals counting distinct docs because the explode
    emits one row per (doc, distinct line) and each document arrives
    exactly once (the family's in-order unique-doc contract).

    State bound (100 TB): state is ONE LONG PER DISTINCT LINE with no
    watermark/eviction — over an unbounded crawl stream it grows
    O(corpus distinct lines) and never shrinks, which would make this
    the dominant state store in the pipeline. Production compaction
    routes: (a) the batch/stream-static split — run this (or the batch
    ``line_dedup_stats``) per ingest epoch, keep only the small
    ``line_df >= min_df`` flagged set, and let the always-on ingest
    path be :func:`streaming_line_scrub` against that static set
    (zero streaming state); or (b) a ``foreachBatch`` rollup that
    periodically folds rare-line counts (``line_df == 1`` long tail —
    the vast majority of state) into a compacted store and restarts
    the query from a snapshot per epoch. This query is the detection
    side of the split, not an always-on unbounded-stream resident."""
    from lightsaber_spark.functions.dedup import shingle_hash

    lines = _distinct_trimmed_lines(stream, id_col, text_col).select(
        shingle_hash(F.col("line")).alias("lh")
    )
    return lines.groupBy("lh").agg(
        F.count(F.lit(1)).cast("bigint").alias("line_df")
    )


def streaming_line_scrub(
    stream: DataFrame,
    flagged: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming application of a boilerplate-line blocklist: scrub
    each incoming document against a STATIC flagged-line table —
    the production split of line-level dedup at 100 TB, where a
    periodic batch job (or :func:`streaming_line_boilerplate`)
    refreshes the flagged set and the ingest stream scrubs against
    it. Emits the same ``(doc_id, n_kept, clean_md5)`` contract as
    the batch ``functions/dedup.py line_dedup_scrub``, so streamed
    output is directly comparable to the batch scrub under the same
    flagged set.

    ``flagged`` is a static DataFrame with an ``lh`` column (60-bit
    line hashes, :func:`functions.dedup.shingle_hash`). The plan is
    stateless end-to-end: the line explode is per-row, the blocklist
    lookup is a stream-static LEFT join + null filter (anti-join
    semantics; stream-static anti is not in Spark's supported list,
    the outer-join form is), and the per-doc reassembly groups rows
    that all live in the SAME micro-batch (each document arrives as
    one row, so its exploded lines never span batches) — the grouped
    stateful operator therefore never stores state (no
    ``state.update``), and the state store stays empty regardless of
    stream length.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from lightsaber_spark.functions.dedup import shingle_hash

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_kept", LongType()),
            StructField("clean_md5", StringType()),
        ]
    )
    state_schema = StructType([StructField("unused", LongType())])

    def fn(key, pdf_iter, state):
        import hashlib

        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values("pos")
            clean = "\n".join(pdf["line"])
            rows.append(
                [int(key[0]), len(pdf), hashlib.md5(clean.encode()).hexdigest()]
            )
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)
        )

    lines = (
        # identity-less rows dropped — same NaN-key contract as
        # _distinct_trimmed_lines (a NULL doc_id would kill the fold)
        stream.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_l"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.trim(F.col("_l")).alias("line"),
        )
        .filter(F.col("line") != "")
        .withColumn("lh", shingle_hash(F.col("line")))
    )
    blk = flagged.select("lh", F.lit(1).alias("_blk"))
    kept = (
        lines.join(blk, "lh", "left")
        .filter(F.col("_blk").isNull())
        .select("doc_id", "pos", "line")
    )
    return kept.groupBy("doc_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def streaming_passage_coverage(
    stream: DataFrame,
    corpus_index: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming per-document duplicated-passage coverage vs a STATIC
    frozen corpus index — the ingest-time twin of the batch
    ``passage_delta_vs_corpus`` (r12), completing the streaming rung
    across all four dedup families (exact digest, MinHash-banded,
    semantic, and now exact-substring). A crawl pipeline freezes the
    corpus index (``pipeline_queries._passage_index``, optionally
    parquet-materialized via ``$LIGHTSABER_PASSAGE_INDEX_DIR``) and
    every incoming document is scored against it as it arrives.

    Stateless end-to-end: positional k-shingles are per-row
    (``posexplode_outer`` keeps zero-shingle docs so they emit zeros,
    same as the batch contract), the index lookup is a stream-static
    LEFT join, and the per-doc aggregation groups rows that all live
    in the SAME micro-batch (one document arrives as one row, so its
    exploded shingles never span batches) — the grouped stateful
    operator never calls ``state.update`` and the state store stays
    empty regardless of stream length.

    ``corpus_index`` columns: ``(doc_id, pos, h)`` as built by
    ``_passage_index``. Output matches the batch query:
    ``(doc_id, n_tokens, n_dup_positions, n_covered, n_corpus_docs)``.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from lightsaber_spark.functions.dedup import (
        positional_shingles_udf,
        shingle_hash,
    )
    from lightsaber_spark.functions.text import token_count

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_tokens", LongType()),
            StructField("n_dup_positions", LongType()),
            StructField("n_covered", LongType()),
            StructField("n_corpus_docs", LongType()),
        ]
    )
    state_schema = StructType([StructField("unused", LongType())])

    def fn(key, pdf_iter, state):
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            n_tok = (
                int(pdf["n_tokens"].dropna().iloc[0])
                if pdf["n_tokens"].notna().any()
                else None
            )
            hits = pdf[pdf["c_doc"].notna()]
            pos = {int(p) for p in hits["d_pos"]}
            cov: set[int] = set()
            for p in pos:
                cov.update(range(p, p + k))
            # NULL doc ids form one null-key group — emit it as one
            # null-id row instead of crashing (the batch twin emits
            # each null-id doc separately through its left joins;
            # documented divergence for identity-less rows). The null
            # key arrives as NaN, not None, through the Arrow/pandas
            # boundary — pd.isna, not `is None` (r12 regression test).
            kid = None if pd.isna(key[0]) else int(key[0])
            rows.append(
                [kid, n_tok, len(pos), len(cov), int(hits["c_doc"].nunique())]
            )
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)
        )

    sh = stream.select(
        F.col(id_col).cast("long").alias("doc_id"),
        token_count(F.col(text_col)).alias("n_tokens"),
        F.posexplode_outer(
            positional_shingles_udf(k)(F.col(text_col))
        ).alias("d_pos", "_sh"),
    ).select(
        "doc_id",
        "n_tokens",
        F.col("d_pos").cast("bigint").alias("d_pos"),
        shingle_hash(F.col("_sh")).alias("h"),
    )
    idx = corpus_index.select("h", F.col("doc_id").alias("c_doc"))
    joined = sh.join(idx, "h", "left").select(
        "doc_id", "n_tokens", "d_pos", "c_doc"
    )
    return joined.groupBy("doc_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", "NoTimeout"
    )


def streaming_passage_coverage_foreach_batch(
    stream: DataFrame,
    corpus_index: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The pure-JVM scale path of :func:`streaming_passage_coverage`
    (same split as ``streaming_line_df_counts`` vs
    ``streaming_line_boilerplate``): the composable applyInPandas form
    above pays one python fn dispatch per ARRIVING DOC (~10.5K docs/s
    measured, STREAM_BENCH round-12 section), because every doc is its
    own group. Coverage is per-doc with no cross-batch state at all,
    so each micro-batch can instead run the IDENTICAL relational
    aggregation batch-side (``functions/dedup.py
    passage_coverage_vs_index`` — the single source shared with the
    batch ``passage_delta_vs_corpus`` query) with zero python groups
    and zero streaming state.

    Results land in ``out_path`` parquet partitioned by ``_batch_id``
    with dynamic partition overwrite, so a replayed micro-batch
    (checkpoint recovery) overwrites its own partition instead of
    duplicating rows — the same exactly-once recipe as
    ``streaming/rollup.py``. Returns the StreamingQuery (availableNow);
    await it, then read ``out_path`` as a normal table."""
    from lightsaber_spark.functions.dedup import passage_coverage_vs_index

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        handles: list[DataFrame] = []

        def _cache(df: DataFrame) -> DataFrame:
            df = df.persist()
            handles.append(df)
            return df

        res = passage_coverage_vs_index(
            batch_df, corpus_index, k=k, text_col=text_col, id_col=id_col,
            cache=_cache,
        ).withColumn("_batch_id", F.lit(int(batch_id)))
        old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            res.write.mode("overwrite").partitionBy("_batch_id").parquet(out_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
            for h in handles:
                h.unpersist()

    return (
        stream.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_order_violations(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
) -> DataFrame:
    """Monitor for the in-order contract every operator here assumes
    (SURVEY §2.9: the reference processes strictly in-order streams and
    has no late-data path). Emits one row per violation — an event
    whose timestamp regresses below the maximum already seen for its
    key — so a pipeline can alert (or quarantine) instead of silently
    folding bad state. State is ONE long (max ts) per key.

    Within a micro-batch rows are folded in event-time order (matching
    the operators' own convention), so only CROSS-batch regressions —
    the kind that actually corrupt carried state — are reported.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            # key keeps its SOURCE type — hardcoding LongType crashed
            # on string keys like event_type (review finding)
            StructField(key_col, stream.schema[key_col].dataType),
            StructField("ts_us", LongType()),
            StructField("max_seen_us", LongType()),
        ]
    )
    state_schema = StructType([StructField("max_us", LongType())])

    def fn(key, pdf_iter, state):
        max_us = state.get[0] if state.exists else None
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            ts_us = sorted(int(t) // 1000 for t in pdf[ts_col].astype("int64"))
            for t in ts_us:
                if max_us is not None and t < max_us:
                    rows.append([key[0], t, max_us])
                else:
                    max_us = t
            state.update((max_us,))
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)
        )

    return (
        stream.select(key_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "update", "NoTimeout")
    )


def streaming_asof_backward(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    side_col: str,
    id_col: str,
) -> DataFrame:
    """STREAM-STREAM as-of join (backward, the enrichment direction):
    the two streams arrive pre-unioned with a ``side_col`` tag
    (0 = reference/right, 1 = probe/left — the same union shape the
    batch ``asof_join`` scan uses), and every probe row emits the most
    recent reference timestamp at-or-before it for its key.

    Backward as-of needs only the LAST reference row per key — ONE
    long of state — which is why this direction streams with O(1)
    state while forward would have to buffer probes until a reference
    arrives. Within a batch rows fold in (ts, side) order (reference
    first on ties, matching the batch operator's at-or-before
    inclusion); across batches the in-order model applies per key
    (SURVEY §2.9 — pair with ``streaming_order_violations`` to observe
    violations).

    Spark's native stream-stream joins require an equality-plus-range
    predicate and hold full range-window state on both sides; the
    as-of "latest only" semantics collapses that to a scalar — a
    custom stateful operator is the right plan, not a join.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("asof_ts_us", LongType()),
        ]
    )
    state_schema = StructType([StructField("last_ref_us", LongType())])

    def fn(key, pdf_iter, state):
        last = state.get[0] if state.exists else None
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            recs = sorted(
                zip(
                    (int(t) // 1000 for t in pdf[ts_col].astype("int64")),
                    pdf[side_col].astype("int64"),
                    pdf[id_col].astype("int64"),
                )
            )
            for t, side, rid in recs:
                if side == 0:
                    last = t
                else:
                    rows.append([int(rid), last])
            state.update((last,))
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)
        )

    return (
        stream.select(key_col, ts_col, side_col, id_col)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "update", "NoTimeout")
    )


def streaming_gapfill_count(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    size_sec: int,
) -> DataFrame:
    """Streaming EMPTY-WINDOW emission — the reference's native gap
    fill (``OperatorKernel.h:3830-3988``: every tumbling window emits,
    zero rows or not), which Spark's built-in streaming windows do not
    do. Per key, when an event lands in a LATER window than the one
    being accumulated, the accumulated window closes and every skipped
    window in between emits with ``n = 0``.

    State per key is two longs (current window, running count) — the
    in-order model (SURVEY §2.9) is what makes window-close detection
    this cheap. The final un-closed window per key stays in state
    (exactly the append-mode holdback batch comparisons must exclude —
    see the equivalence test)."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            # key keeps its SOURCE type — hardcoding LongType crashed
            # on string keys like event_type (review finding)
            StructField(key_col, stream.schema[key_col].dataType),
            StructField("window_start", LongType()),
            StructField("n", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("cw", LongType()), StructField("cn", LongType())]
    )
    size_us = size_sec * 1_000_000
    # gap output is inherently one row per missed window; a single bad
    # clock (years-ahead event) used to materialize them ALL into one
    # Python list → executor OOM. Yield in bounded chunks instead —
    # pandas->Arrow batches stream to the JVM incrementally, so memory
    # stays O(chunk) however long the gap.
    chunk_rows = 1 << 16

    def fn(key, pdf_iter, state):
        cw, cn = state.get if state.exists else (None, 0)
        cols = [f.name for f in out_schema.fields]
        rows = []
        emitted = False
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            for t in sorted(int(t) // 1000 for t in pdf[ts_col].astype("int64")):
                w = (t // size_us) * size_sec
                if cw is None:
                    cw, cn = w, 1
                elif w == cw:
                    cn += 1
                elif w > cw:
                    rows.append([key[0], cw, cn])
                    for x in range(cw + size_sec, w, size_sec):
                        rows.append([key[0], x, 0])
                        if len(rows) >= chunk_rows:
                            yield pd.DataFrame(rows, columns=cols)
                            emitted = True
                            rows = []
                    cw, cn = w, 1
                # w < cw would be an in-order violation; the monitor
                # operator exists to surface those — here the row still
                # counts into the CURRENT window rather than corrupting
                # a closed one
                else:
                    cn += 1
            state.update((cw, cn))
        if rows or not emitted:
            yield (
                pd.DataFrame(rows, columns=cols)
                if rows
                else pd.DataFrame(columns=cols)
            )

    return (
        stream.select(key_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "update", "NoTimeout")
    )
