"""Streaming anomaly detection — z-score flagging with O(1) state.

The batch twin (``pipeline_queries.q_window_zscore_outliers``) judges
every event against its OWN tumbling window's population stats, which
needs the whole window before any event can be flagged. A stream can't
hold that without buffering every raw event in state, so the streaming
form uses the standard online variant: flag each event against the
PREVIOUS closed window's stats (one-window lag, the trade the
reference's monitoring pipelines make by judging against history).

State per (key) is six longs — the (n, Σx, Σx²) of the last closed
window and of the window being accumulated — independent of event
volume: the state-bounded shape streaming needs at 100 TB. The flag
test is the same division/sqrt-free integer predicate as the batch
query, ``(n·x − s)² > k²·(n·q − s²)``, so streaming and batch twins
agree bit-for-bit wherever both are defined (pinned by the
batch-equivalence test).

In-order model: per-key event time must not regress across
micro-batches (SURVEY §2.9, the reference's in-order assumption);
within a batch rows are sorted by event time before folding.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType


def streaming_zscore_outliers(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    size_sec: int,
    *,
    k_sigma: int = 2,
    min_n: int = 10,
) -> DataFrame:
    """Per-key tumbling-window z-score outliers, judged against the
    previous CLOSED window of the same key. Emits
    ``(event_id, window_start, <key>, n_ref)`` for each flagged event,
    where ``n_ref`` is the reference (previous) window's population —
    update output mode (rows emit as events arrive, no window-close
    wait). Value is folded in exact integer cents."""
    size_us = size_sec * 1_000_000

    out_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("window_start", LongType()),
            # key keeps its SOURCE type — hardcoded StringType is the
            # mirror image of the fixed hardcoded-LongType key bugs
            # (r12 review); only worked because the in-repo caller
            # keys by event_type
            StructField(key_col, stream.schema[key_col].dataType),
            StructField("n_ref", LongType()),
        ]
    )
    # prev window (n, s, q) + current window (start, n, s, q)
    state_schema = StructType(
        [
            StructField("pn", LongType()),
            StructField("ps", LongType()),
            StructField("pq", LongType()),
            StructField("cw", LongType()),
            StructField("cn", LongType()),
            StructField("cs", LongType()),
            StructField("cq", LongType()),
        ]
    )

    def fn(key, pdf_iter, state):
        pn, ps, pq, cw, cn, cs, cq = (
            state.get if state.exists else (0, 0, 0, None, 0, 0, 0)
        )
        out_rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            ts_us = (pdf[ts_col].astype("int64") // 1000).to_numpy()
            xs = pdf["_x"].to_numpy()
            ids = pdf["event_id"].to_numpy()
            for t, x, eid in zip(ts_us, xs, ids):
                # floor like the batch twin's _exact_bucket, pre-epoch
                # timestamps included
                w = (int(t) // size_us) * size_sec
                if cw is None:
                    cw = w
                elif w > cw:
                    # the accumulated window closed: it becomes the
                    # reference ONLY if it is the immediately preceding
                    # window (a fully-empty gap resets the reference —
                    # stats from long ago shouldn't judge now)
                    if w == cw + size_sec:
                        pn, ps, pq = cn, cs, cq
                    else:
                        pn, ps, pq = 0, 0, 0
                    cw, cn, cs, cq = w, 0, 0, 0
                x = int(x)
                if pn >= min_n:
                    dev = pn * x - ps
                    var_n2 = pn * pq - ps * ps
                    if dev * dev > k_sigma * k_sigma * var_n2:
                        out_rows.append([int(eid), w, key[0], pn])
                cn += 1
                cs += x
                cq += x * x
        state.update((pn, ps, pq, cw, cn, cs, cq))
        cols = [f.name for f in out_schema.fields]
        yield (
            pd.DataFrame(out_rows, columns=cols)
            if out_rows
            else pd.DataFrame(columns=cols)
        )

    return (
        # null value/ts rows are dropped BEFORE the stateful op: Arrow
        # would hand the long _x over as float64 + NaN and int(NaN)
        # kills the query (review finding); a null can't contribute to
        # window stats in any case
        stream.filter(
            F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(
            "event_id",
            ts_col,
            key_col,
            F.round(F.col(value_col) * 100).cast("bigint").alias("_x"),
        )
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "update", "NoTimeout")
    )
