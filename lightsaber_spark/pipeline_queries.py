"""Pipeline query catalog — dedup / similarity / text / multimodal /
session / as-of ops as driver-checkable queries with DuckDB oracles.

These are the beyond-parity operators a 100 TB training-data pipeline
needs (BASELINE.json north star). Implementations live in
``lightsaber_spark.functions``; this module binds each to the testdata
``documents`` / ``embeddings`` / ``events`` / ``orders`` tables and
generates the equivalent DuckDB SQL — including for MinHash-LSH and
hyperplane-LSH, whose hashing is deliberately md5-based so both engines
reproduce identical signatures.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from lightsaber_spark.session import load_tables
from lightsaber_spark.registry import query
from lightsaber_spark.functions.text import (
    BPE_RE,
    LANG_PATTERNS,
    STOPWORDS,
    WORD_RE,
    doc_fingerprint,
    language_id,
    repetition_stats,
    text_stats,
    token_count,
    tokens,
    winnow_fingerprints_udf,
)
from lightsaber_spark.functions.dedup import (
    MERSENNE_61,
    X_BITS,
    _lcg_constants,
    duplicate_groups,
    embedding_lsh_pairs,
    embedding_neardup_pairs,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from lightsaber_spark.functions.similarity import (
    SCALE,
    brute_force_topk,
    hyperplane_lsh_topk,
    ivf_topk,
    kmeans_fit_scaled,
    semantic_dedup,
    semantic_dedup_delta,
)
from lightsaber_spark.functions.multimodal import (
    decode_media,
    documents_as_media,
    extract_features,
    resize_media,
    sample_frames,
    synthetic_png_media,
)
from lightsaber_spark.operators import asof_join
from lightsaber_spark.streaming.sessions import session_window_agg


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ("documents",))["documents"]


def _embs(spark, sf_dir):
    return load_tables(spark, sf_dir, ("embeddings",))["embeddings"]


# Shared DuckDB oracle fragments (``staged_queries`` imports them too).
# Cross-engine invariants they encode (CLAUDE.md exactness policy):
# - tokenization = lowercase [a-z0-9]+ runs, identical regex semantics
#   in Spark (`regexp_extract_all`) and DuckDB;
# - 3-gram word shingles, space-joined, de-duplicated;
# - 60-bit hashing = md5-hex-prefix folded to BIGINT — bit-identical on
#   both engines and below 2^63 so no HUGEINT appears.
#
# NULL text yields an EMPTY token list, never NULL — the DuckDB twin
# of functions/text.tokens()'s coalesce (r13: without it, Spark's
# size(NULL) = -1 and DuckDB's len(NULL) = NULL silently diverged on
# null-text corpora; every TOKS consumer inherits the fix)
TOKS = (
    "COALESCE(regexp_extract_all(lower(text), '[a-z0-9]+'), "
    "CAST([] AS VARCHAR[]))"
)
SHINGLES = (
    "list_distinct(list_transform(range(greatest(len(t) - 2, 0)), "
    "i -> array_to_string(t[i+1:i+3], ' ')))"
)
H60 = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


def minhash_sig_parts(n_hashes: int = 32, bands: int = 8, seed: int = 42):
    """``(consts, r, mins, band_cols, stacked)`` — the shared SQL
    fragments of the MinHash signature recipe (LCG permutations over
    the 60-bit shingle hash folded to X_BITS, per-band md5 keys, the
    band/bucket unpivot). SINGLE-SOURCED here because five oracles
    (minhash LSH, minhash+Levenshtein, delta-vs-corpus, data card,
    calibration) used to regenerate these ~15 lines verbatim — any
    tweak to the recipe (seed, band separator, fold) had to be
    replicated five times or one oracle silently drifted from
    ``minhash_band_keys_udf`` (review finding; the ``_LINE_AUG_SQL``
    comment states the same single-sourcing rule)."""
    consts = _lcg_constants(n_hashes, seed)
    r = n_hashes // bands
    mins = ",\n           ".join(
        f"min(({a} * x + {b}) % {MERSENNE_61}) AS h{j}"
        for j, (a, b) in enumerate(consts)
    )
    band_cols = ",\n           ".join(
        "md5(concat_ws(',', "
        + ", ".join(f"h{b * r + j}" for j in range(r))
        + f")) AS band{b}"
        for b in range(bands)
    )
    stacked = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS bucket FROM banded"
        for b in range(bands)
    )
    return consts, r, mins, band_cols, stacked


_JACCARD_CTE = f"""
  toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
  sh AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM toks),
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
  pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
  jacc AS (
    SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM pairs JOIN sizes sa ON id_a = sa.doc_id
               JOIN sizes sb ON id_b = sb.doc_id
    WHERE n_common * 100000 >= 50000 * (sa.n + sb.n - n_common)
  )
"""

_JACCARD_CUT = 10

_JACCARD_CUT_CTE = f"""
  toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
  sh0 AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM toks),
  kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh0 GROUP BY 1)
           WHERE df <= {_JACCARD_CUT}),
  sh AS (SELECT sh0.* FROM sh0 JOIN kept USING (s)),
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
  pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
  jacc AS (
    SELECT id_a, id_b, n_common, sa.n AS n_a, sb.n AS n_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM pairs JOIN sizes sa ON id_a = sa.doc_id
               JOIN sizes sb ON id_b = sb.doc_id
    WHERE n_common * 100000 >= 50000 * (sa.n + sb.n - n_common)
  )
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@query(
    "text_stats_per_doc",
    f"""
    WITH t AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           CASE WHEN length(text) > 0 THEN
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
               * 1.0 / length(text) ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, x -> x IN ({", ".join("'" + s + "'" for s in STOPWORDS)})))
               * 1.0 / len(toks) ELSE 0.0 END AS stopword_ratio,
           CASE WHEN len(toks) > 0 THEN
             CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               * 1.0 / len(toks) ELSE 0.0 END AS mean_token_len
    FROM t
    """,
)
def q_text_stats(spark, sf_dir):
    """Per-document cheap text features (chars/tokens/punct/stopwords)
    in one Arrow pass."""
    d = text_stats(_docs(spark, sf_dir))
    return d.select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len")


@query(
    "text_repetition_stats",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tk AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY 1, 2),
    ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS mc
           FROM tc GROUP BY 1),
    bg0 AS (SELECT doc_id,
                   CASE WHEN len(toks) >= 2 THEN
                     list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
                   ELSE [] END AS bgs
            FROM t),
    bk AS (SELECT doc_id, unnest(bgs) AS bg FROM bg0),
    bc AS (SELECT doc_id, bg, count(*) AS c FROM bk GROUP BY 1, 2),
    bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb, CAST(max(c) AS BIGINT) AS mb
           FROM bc GROUP BY 1)
    SELECT ts.doc_id, n_tokens,
           n_distinct * 1.0 / n_tokens AS type_token_ratio,
           mc * 1.0 / n_tokens AS top_token_ratio,
           mb * 1.0 / nb AS top_bigram_ratio
    FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
    """,
)
def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition filters (type/token ratio, top-token and
    top-bigram fractions) — exact integer ratios, explode+agg plan."""
    return repetition_stats(_docs(spark, sf_dir))


@query(
    "text_langid",
    f"""
    SELECT doc_id, (list_aggregate([
      {", ".join(
        "{'c': len(regexp_extract_all(lower(COALESCE(text, '')), '" + pat.replace("'", "''") + "')), 'l': '" + lang + "'}"
        for lang, pat in sorted(LANG_PATTERNS.items())
      )}
    ], 'max')).l AS lang_pred
    FROM documents
    """,
)
def q_langid(spark, sf_dir):
    """Marker-pattern language ID: per-language hit counts,
    deterministic argmax."""
    return _docs(spark, sf_dir).select(
        "doc_id", language_id(F.col("text")).alias("lang_pred")
    )


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id, {H60.format(x=NORM)} AS fingerprint FROM documents
    """,
)
def q_fingerprint(spark, sf_dir):
    """60-bit md5 content fingerprint of normalized text (cross-engine
    identical)."""
    return _docs(spark, sf_dir).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )


@query(
    "text_token_count_by_source",
    """
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z]+|[0-9]|[^a-z0-9 ]'))) AS BIGINT)
             AS total_tokens,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def q_token_count(spark, sf_dir):
    """BPE-ish regex token totals per source (the corpus token-budget
    number)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("source").agg(
        F.sum(token_count(F.col("text"), BPE_RE)).alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "documents_quality_gate",
    f"""
    WITH t AS (
      SELECT source, {TOKS} AS toks,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
      FROM documents
    ),
    f AS (
      SELECT source FROM t
      WHERE len(toks) >= 20
        AND n_punct * 1000 <= 150 * n_chars
        AND len(list_filter(toks, x -> x IN ({", ".join("'" + s + "'" for s in STOPWORDS)})))
              * 1000 <= 600 * len(toks)
    )
    SELECT source, count(*) AS n_kept FROM f GROUP BY 1
    """,
)
def q_quality_gate(spark, sf_dir):
    """Pretraining quality gate: integer-permille thresholds on
    tokens/punct/stopwords — bit-stable keep set."""
    from lightsaber_spark.functions.text import quality_filter

    kept = quality_filter(_docs(spark, sf_dir))
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@query(
    "text_winnow_fingerprints",
    f"""
    WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_transform(range(greatest(len(t) - 2, 0)),
                                 i -> array_to_string(t[i+1:i+3], ' ')) AS s
           FROM toks),
    hs AS (SELECT doc_id,
                  list_transform(s, x -> {H60.format(x='x')}) AS h
           FROM sh),
    w AS (SELECT doc_id, CASE
            WHEN len(h) = 0 THEN []
            WHEN len(h) <= 4 THEN [list_min(h)]
            ELSE list_distinct(list_transform(range(len(h) - 3),
                                              j -> list_min(h[j+1:j+4])))
          END AS fps FROM hs)
    SELECT doc_id, unnest(fps) AS fp FROM w
    """,
)
def q_winnow(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprints: k=3-word shingles, frame
    width 4, min-per-frame, distinct."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.explode(winnow_fingerprints_udf(3, 4)(F.col("text"))).alias("fp"),
    )


# ---------------------------------------------------------------------------
# Deduplication ladder
# ---------------------------------------------------------------------------
@query(
    "dedup_exact_groups",
    f"""
    WITH aug AS (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 1000000, text FROM documents
                 WHERE doc_id % 25 = 1)
    SELECT md5({NORM}) AS digest, min(doc_id) AS representative,
           count(*) AS n_members
    FROM aug GROUP BY 1 HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact-dup groups over the corpus augmented with exact copies of
    every 25th doc (re-keyed +1e6): the shipped corpus itself has NO
    exact duplicates at any scale, so the un-augmented query was
    vacuously green (0 rows on both engines) — every group here is a
    (original, copy) pair the aggregation must actually find."""
    docs = _docs(spark, sf_dir)
    aug = docs.select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 25 == 1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return exact_dup_groups(aug)


@query(
    "dedup_keep_representatives",
    f"""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             min(doc_id) OVER (PARTITION BY md5({NORM})) AS rep
      FROM documents) t
    WHERE doc_id = rep
    """,
)
def q_dedup_keep_representatives(spark, sf_dir):
    """The consuming half of exact dedup: the cleaned corpus itself
    (unique docs + one representative per duplicate group)."""
    from lightsaber_spark.functions.dedup import keep_representatives

    return keep_representatives(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )


_FOOTER_A = "subscribe to our newsletter today"
_FOOTER_B = "all rights reserved"

# the ONE definition of the footer-injected oracle corpus — both
# line-dedup oracles interpolate this, mirroring how both Spark
# wrappers share _aug_boilerplate_docs (tweak the recipe in one place
# or the twins silently diverge)
_LINE_AUG_SQL = f"""
      SELECT doc_id,
             concat_ws(chr(10), text,
               CASE WHEN doc_id % 3 = 0 THEN '{_FOOTER_A}' END,
               CASE WHEN doc_id % 5 = 0 THEN '{_FOOTER_B}' END,
               'ref id ' || CAST(doc_id AS VARCHAR)) AS text
      FROM documents"""


@query(
    "text_line_dedup_stats",
    f"""
    WITH aug AS ({_LINE_AUG_SQL}),
    ln AS (SELECT doc_id, trim(l) AS line
           FROM aug, unnest(string_split(text, chr(10))) AS t(l)),
    nz AS (SELECT doc_id, {H60.format(x='line')} AS lh,
                  CAST(length(line) AS BIGINT) AS len
           FROM ln WHERE line <> ''),
    dfs AS (SELECT lh, count(DISTINCT doc_id) AS line_df FROM nz GROUP BY lh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN line_df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boilerplate,
           CAST(count(*) - sum(CASE WHEN line_df >= 5 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN line_df >= 5 THEN len ELSE 0 END) AS BIGINT)
             AS chars_removed
    FROM nz JOIN dfs USING (lh)
    GROUP BY doc_id
    """,
)
def q_text_line_dedup_stats(spark, sf_dir):
    """Line-level boilerplate dedup (CCNet, Wenzek et al. 2019 /
    RefinedWeb): per-document stats of lines whose corpus-wide doc
    frequency >= 5 — the standard crawl-cleaning pass the round-7
    verdict named as the one missing LLM-pipeline operator. The
    shipped corpus is single-line with no cross-doc repeats, so (same
    pattern as ``dedup_exact_groups``) the query injects deterministic
    boilerplate: footer A on every 3rd doc, footer B on every 5th, a
    unique ``ref id N`` trailer on every doc — the operator must flag
    exactly the footers and keep body + trailer lines."""
    from lightsaber_spark.functions.dedup import line_dedup_stats

    return line_dedup_stats(_aug_boilerplate_docs(spark, sf_dir), min_df=5)


def _aug_boilerplate_docs(spark, sf_dir):
    """The shared footer-injected corpus both line-dedup queries run
    over (footer A every 3rd doc, footer B every 5th, unique trailer
    on all — see ``text_line_dedup_stats``)."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.when(did % 3 == 0, F.lit(_FOOTER_A)),
            F.when(did % 5 == 0, F.lit(_FOOTER_B)),
            F.concat(F.lit("ref id "), did.cast("string")),
        ).alias("text"),
    )


@query(
    "text_line_dedup_scrub",
    f"""
    WITH aug AS ({_LINE_AUG_SQL}),
    parts AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM aug),
    ln AS (SELECT doc_id,
                  CAST(unnest(range(len(p))) AS BIGINT) AS pos,
                  trim(unnest(p)) AS line
           FROM parts),
    nz AS (SELECT doc_id, pos, line, {H60.format(x='line')} AS lh
           FROM ln WHERE line <> ''),
    flagged AS (SELECT lh FROM nz GROUP BY lh
                HAVING count(DISTINCT doc_id) >= 5),
    kept AS (SELECT doc_id, pos, line FROM nz
             WHERE lh NOT IN (SELECT lh FROM flagged))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
    FROM kept GROUP BY 1
    """,
)
def q_text_line_dedup_scrub(spark, sf_dir):
    """The removal half of ``text_line_dedup_stats``: materialize the
    boilerplate-scrubbed corpus (kept lines re-joined in original
    order), md5-verified per document — same construction as
    ``dedup_passage_scrub_k10`` does for passage-level removal."""
    from lightsaber_spark.functions.dedup import line_dedup_scrub

    return line_dedup_scrub(_aug_boilerplate_docs(spark, sf_dir), min_df=5)


@query(
    "chunk_documents_ctx32",
    """
    WITH t AS (SELECT doc_id,
                      CAST(len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+')) AS BIGINT)
                        AS n
               FROM documents),
    c AS (SELECT doc_id, n,
                 unnest(generate_series(0, (greatest(n - 32, 0) + 23) // 24))
                   AS chunk_idx
          FROM t)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * 24 AS BIGINT) AS tok_start,
           CAST(least(32, n - chunk_idx * 24) AS BIGINT) AS n_tokens_chunk
    FROM c
    """,
)
def q_chunk_documents(spark, sf_dir):
    """Sliding-context document chunking (ctx 32 tokens, stride 24 →
    8-token overlap): the long-document splitting step before packing.
    Map-side explode only — no shuffle at any scale."""
    from lightsaber_spark.functions.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), ctx_len=32, stride=24)


@query(
    "funnel_view_click_purchase",
    """
    WITH a AS (SELECT user_id, min(ts) AS t_a FROM events
               WHERE event_type = 'view' GROUP BY 1),
    b AS (SELECT e.user_id, min(e.ts) AS t_b
          FROM events e JOIN a ON e.user_id = a.user_id
          WHERE e.event_type = 'click' AND e.ts > a.t_a
            AND e.ts <= a.t_a + INTERVAL 24 HOUR GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS t_c
          FROM events e JOIN b ON e.user_id = b.user_id
          WHERE e.event_type = 'purchase' AND e.ts > b.t_b
            AND e.ts <= b.t_b + INTERVAL 24 HOUR GROUP BY 1)
    SELECT (SELECT count(*) FROM a) AS n_view,
           (SELECT count(*) FROM b) AS n_view_click,
           (SELECT count(*) FROM c) AS n_view_click_purchase
    """,
)
def q_funnel(spark, sf_dir):
    """Ordered-funnel conversion (view → click → purchase, each step
    within 24h of the previous): per stage, the count of users whose
    first stage-k event happens strictly after — and within the window
    of — their first qualifying stage-(k−1) event. Each stage is one
    keyed aggregate + one equi-join on user_id (AQE broadcasts the
    converted-user set when it is small); no event self-join or
    session reconstruction."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    step = F.expr("INTERVAL 24 HOURS")

    def first_after(etype, prev):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias("t"))
        # no broadcast hint: the per-stage user set scales with user
        # cardinality (stage 1 is EVERY viewer), so a forced broadcast
        # would OOM at corpus scale — AQE picks broadcast when the set
        # is actually small, shuffle hash join otherwise
        return (
            e.join(prev.select("user_id", F.col("t").alias("_pt")), "user_id")
            .filter((F.col("ts") > F.col("_pt")) & (F.col("ts") <= F.col("_pt") + step))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    a = first_after("view", None)
    b = first_after("click", a)
    c = first_after("purchase", b)
    counts = [
        # join key must be NULLABLE: a non-nullable literal constant-
        # folds and Catalyst degrades the 1-row equi-join to a nested
        # loop (same gotcha as tpch_q11 / bm25 — see queries.py)
        df.agg(F.count(F.lit(1)).alias(n)).withColumn(
            "_k", F.when(F.col(n) >= 0, F.lit(0)).cast("bigint")
        )
        for df, n in ((a, "n_view"), (b, "n_view_click"), (c, "n_view_click_purchase"))
    ]
    out = counts[0]
    for d in counts[1:]:
        out = out.join(F.broadcast(d), "_k")
    return out.drop("_k")


@query(
    "text_context_length_histogram",
    """
    WITH t AS (SELECT greatest(
                 len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z]+|[0-9]|[^a-z0-9 ]')),
                 1) AS n FROM documents)
    SELECT CAST(power(2, CAST(floor(log2(n)) AS BIGINT)) AS BIGINT) AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1
    """,
)
def q_context_length_histogram(spark, sf_dir):
    """Token-length distribution in power-of-2 buckets — the packing/
    context-budget diagnostic (how much of the corpus needs truncation
    at a given context length). Single map-side-combinable agg."""
    d = _docs(spark, sf_dir)
    n = F.greatest(token_count(F.col("text"), BPE_RE), F.lit(1))
    bucket = F.pow(
        F.lit(2.0), F.floor(F.log2(n)).cast("bigint")
    ).cast("bigint")
    return d.select(bucket.alias("bucket_lo"), n.alias("_n")).groupBy(
        "bucket_lo"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n").cast("bigint").alias("total_tokens"),
    )


@query(
    "dedup_ngram_jaccard",
    # Oracle is the plain all-pairs Jaccard SQL; the Spark side uses
    # LOSSLESS prefix filtering (All-Pairs/PPJoin), so this parity row
    # is the proof that the pruned join reproduces the full exact
    # result bit-for-bit. The uncut Σdf²-unbounded all-pairs impl
    # (ngram_jaccard_pairs with max_doc_freq=∞) is deliberately NOT
    # registered — it survives as the pytest-only equivalence verifier
    # (round-2 verdict: no registered query with unbounded pair work).
    f"WITH {_JACCARD_CTE} SELECT * FROM jacc",
)
def q_dedup_ngram(spark, sf_dir):
    """Near-dup pairs by exact 3-gram Jaccard >= 0.5 via the PPJoin
    prefix+positional-filtered inverted index."""
    from lightsaber_spark.functions.dedup import ngram_jaccard_pairs_prefix

    return ngram_jaccard_pairs_prefix(_docs(spark, sf_dir), threshold=0.5, k=3)


def _minhash_oracle(n_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    consts, r, mins, band_cols, stacked = minhash_sig_parts(
        n_hashes, bands, seed
    )
    return f"""
    WITH {_JACCARD_CTE},
    xs AS (SELECT doc_id, ({H60.format(x='s')}) % {X_BITS} AS x FROM sh),
    sig AS (SELECT doc_id,
           {mins}
           FROM xs GROUP BY 1),
    banded AS (SELECT doc_id,
           {band_cols}
           FROM sig),
    stacked AS ({stacked}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM stacked a JOIN stacked b
               ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT j.* FROM jacc j JOIN cand c USING (id_a, id_b)
    """


@query("dedup_minhash_lsh", _minhash_oracle())
def q_dedup_minhash(spark, sf_dir):
    """MinHash(32)+LSH(8 bands) candidates verified by exact Jaccard —
    banded equi-join retrieval, never all-pairs."""
    return minhash_lsh_pairs(
        _docs(spark, sf_dir), threshold=0.5, n_hashes=32, bands=8, k=3
    )


@query(
    "dedup_simhash",
    f"""
    WITH tk AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
    h AS (SELECT doc_id, {H60.format(x='tok')} AS h FROM tk),
    bits AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
             FROM h, range(60) t(b) GROUP BY 1, 2),
    sh AS (SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS BIGINT)
             AS simhash
           FROM bits GROUP BY 1)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup retrieval: 4x15-bit pigeonhole bands,
    hamming<=3 by equi-join only."""
    out = simhash_pairs(_docs(spark, sf_dir), max_hamming=3)
    return out.withColumn("hamming", F.col("hamming").cast("bigint"))


@query(
    "dedup_duplicate_groups",
    f"""
    WITH RECURSIVE {_JACCARD_CUT_CTE},
    edges AS (SELECT id_a AS v, id_b AS u FROM jacc
              UNION SELECT id_b, id_a FROM jacc),
    walk(v, l) AS (
      SELECT DISTINCT v, v FROM edges
      UNION
      SELECT e.v, w.l FROM edges e JOIN walk w ON e.u = w.v
    )
    SELECT v AS member, min(l) AS representative
    FROM walk GROUP BY 1
    """,
    eager=True,  # iterative CC, localCheckpoint per round
)
def q_dup_groups(spark, sf_dir):
    """Pairs → connected components → representative per member (the
    keep/drop decision step of a dedup pipeline). Oracle is the exact
    transitive closure via recursive CTE; the Spark side converges by
    min-label propagation + pointer jumping. Pairs come from the
    df-cut inverted index (the scale-safe default — the cutoff is part
    of the declared semantics, mirrored in the oracle; a no-op at
    small sf where max shingle df < the cutoff)."""
    pairs = ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, k=3, max_doc_freq=_JACCARD_CUT
    )
    return duplicate_groups(pairs)


@query(
    "dedup_fuzzy_keep_representatives",
    f"""
    WITH RECURSIVE {_JACCARD_CUT_CTE},
    edges AS (SELECT id_a AS v, id_b AS u FROM jacc
              UNION SELECT id_b, id_a FROM jacc),
    walk(v, l) AS (
      SELECT DISTINCT v, v FROM edges
      UNION
      SELECT e.v, w.l FROM edges e JOIN walk w ON e.u = w.v
    ),
    g AS (SELECT v AS member, min(l) AS representative FROM walk GROUP BY 1)
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT member FROM g WHERE member != representative)
    """,
    eager=True,  # calls duplicate_groups
)
def q_fuzzy_keep_representatives(spark, sf_dir):
    """The FUZZY-dedup corpus materialization: near-dup pairs →
    connected components → keep each cluster's min-id representative
    plus all unclustered docs (the fuzzy analog of
    ``dedup_keep_representatives``, which handles exact duplicates).
    One anti-join against the (small) non-representative member set —
    the corpus itself is never re-shuffled."""
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, k=3, max_doc_freq=_JACCARD_CUT)
    groups = duplicate_groups(pairs)
    drop = groups.filter(F.col("member") != F.col("representative")).select(
        F.col("member").alias("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


# x::DOUBLE before scaling: DuckDB would otherwise multiply in float32
# while Spark computes in double, flipping round() on some elements
_INT_DOT = (
    "list_sum(list_transform({a}, (x,i) -> "
    f"round(x::DOUBLE * {SCALE})::BIGINT * round({{b}}[i]::DOUBLE * {SCALE})::BIGINT))"
)
_COS = (
    f"{_INT_DOT.format(a='{a}', b='{b}')} / "
    f"(sqrt({_INT_DOT.format(a='{a}', b='{a}')}) * sqrt({_INT_DOT.format(a='{b}', b='{b}')}))"
)


@query(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_COS.format(a='a.embedding', b='b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= 0.35
    """,
    eager=True,  # centroid-bucketed GEMM setup
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding near-dup pairs above a cosine threshold via the EXACT
    blocked-GEMM all-pairs path (`blocked_allpairs_cosine`) — the
    semantics anchor the oracle's literal a×b join mirrors. This is
    O(n²) by design and test-scale-only at full-corpus inputs; the
    production route is `dedup_embedding_lsh` (banded candidates +
    exact verify of candidates only), for which THIS query is the
    exact reference. (The docstring used to claim the LSH route here —
    wrong; review finding.)"""
    return embedding_neardup_pairs(_embs(spark, sf_dir), threshold=0.35)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@query(
    "sim_brute_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS vq FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS.format(a='vq', b='c.embedding')} AS cosine
      FROM q JOIN embeddings c ON query_id != c.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_sim_brute(spark, sf_dir):
    """Exact cosine top-k for a bounded query set: blocked integer
    GEMM, per-partition local top-k."""
    e = _embs(spark, sf_dir)
    out = brute_force_topk(e.filter(F.col("vec_id") < 10), e, k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _hyperplane_sig_sql(vec: str, n_planes: int = 8, salt: str = "lsh") -> str:
    bits = []
    for p in range(n_planes):
        w = (
            f"((('0x' || substr(md5('{salt}_{p}_' || (i - 1)), 1, 15))::BIGINT % 2) * 2 - 1)"
        )
        dot = f"list_sum(list_transform({vec}, (x,i) -> round(x::DOUBLE * {SCALE})::BIGINT * {w}))"
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END)")
    return "(" + " + ".join(bits) + ")"


_TK_BANDS = 4


@query(
    "sim_lsh_topk",
    f"""
    WITH sigs AS (SELECT vec_id, embedding,
           {", ".join(f"{_hyperplane_sig_sql('embedding', 8, salt=f'lsh{b}')} AS s{b}"
                      for b in range(_TK_BANDS))}
                  FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS vq,
                 {", ".join(f"s{b}" for b in range(_TK_BANDS))}
          FROM sigs WHERE vec_id < 50),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS.format(a='vq', b='c.embedding')} AS cosine
      FROM q JOIN sigs c
        ON ({" OR ".join(f"q.s{b} = c.s{b}" for b in range(_TK_BANDS))})
       AND query_id != c.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def q_sim_lsh(spark, sf_dir):
    """Banded (OR-amplified) hyperplane-LSH ANN: a pair is a candidate
    iff it collides in ≥1 of 4 independent 8-bit signatures — the same
    banding as the embedding near-dup path; single-bucket retrieval had
    near-zero recall on this weakly-clustered corpus. The oracle's
    OR-join is the declarative twin of the Spark side's stacked
    (band, sig) equi-join + distinct."""
    e = _embs(spark, sf_dir)
    out = hyperplane_lsh_topk(
        e.filter(F.col("vec_id") < 50), e, k=5, n_planes=8, dim=64, bands=_TK_BANDS
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# LSH-prefiltered embedding near-dup — the scale path completing the
# dedup ladder (removes its last O(n²) default; the blocked-GEMM
# `dedup_embedding_cosine` above stays as the exact verifier).
_ND_BANDS = 4


@query(
    "dedup_embedding_lsh",
    f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_hyperplane_sig_sql('embedding', 8, salt=f'nd{b}')} AS s{b}"
                        for b in range(_ND_BANDS))}
      FROM embeddings),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS va, b.embedding AS vb
      FROM sigs a JOIN sigs b
        ON a.vec_id < b.vec_id
       AND ({" OR ".join(f"a.s{b} = b.s{b}" for b in range(_ND_BANDS))}))
    SELECT id_a, id_b, {_COS.format(a='va', b='vb')} AS cosine
    FROM cand
    WHERE {_COS.format(a='va', b='vb')} >= 0.35
    """,
    eager=True,  # shared similarity setup
)
def q_dedup_embedding_lsh(spark, sf_dir):
    """4 independent 8-plane md5-derived signature bands → candidate
    equi-join on (band, sig) → exact integer-scaled cosine verify of
    candidates only (mirrors ``minhash_lsh_pairs``' band→bucket→verify
    structure). The oracle reproduces the banding exactly, so recall
    differences can never show up in the compare."""
    return embedding_lsh_pairs(
        _embs(spark, sf_dir), threshold=0.35, n_planes=8, bands=_ND_BANDS
    )


@query(
    "sim_ivf_topk",
    f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                  WHERE vec_id < 8),
    assign AS (
      SELECT e.vec_id, e.embedding, cid,
             row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COS.format(a='e.embedding', b='cv')} DESC, cid ASC) AS rn
      FROM embeddings e CROSS JOIN cent
    ),
    cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS vq, cid FROM assign
          WHERE vec_id < 30 AND rn <= 2),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS.format(a='vq', b='c.embedding')} AS cosine
      FROM q JOIN cells c ON q.cid = c.cid AND query_id != c.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    eager=True,  # collects the tiny centroid set
)
def q_sim_ivf(spark, sf_dir):
    """Multi-probe IVF (n_probe=2): each query searches its two nearest
    cells — the standard recall/cost knob; oracle probes rn <= 2 of the
    same deterministic centroid ranking."""
    e = _embs(spark, sf_dir)
    out = ivf_topk(e.filter(F.col("vec_id") < 30), e, k=5, n_cells=8, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


# integer-integer cosine over two already-scaled bigint vectors
_COS_II = (
    "(list_sum(list_transform({a}, (x,i) -> x * {b}[i])) / "
    "(sqrt(list_sum(list_transform({a}, (x,i) -> x * {a}[i]))) * "
    "sqrt(list_sum(list_transform({b}, (x,i) -> x * {b}[i])))))"
)

# one Lloyd round in SQL: assign (argmax cosine, ties -> lowest cid),
# then per-dimension HALF_UP integer mean — mirrors kmeans_fit_scaled
_KM_ASSIGN = """
    {out} AS (SELECT e.vec_id, e.sv, cid,
              row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY {cos} DESC, cid ASC) AS rn
       FROM e CROSS JOIN {cents})"""
_KM_UPDATE = """
    {sums} AS (SELECT cid, i, sum(sv[i]) AS s, count(*) AS n
       FROM {assign}, range(1, 65) t(i) WHERE rn = 1 GROUP BY 1, 2),
    {out} AS (SELECT cid,
              list(CAST(CASE WHEN s >= 0 THEN (2*s + n) // (2*n)
                             ELSE -((2*(-s) + n) // (2*n)) END AS BIGINT)
                   ORDER BY i) AS cv
       FROM {sums} GROUP BY cid)"""


@query(
    "sim_ivf_kmeans_topk",
    f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> round(x::DOUBLE * {SCALE})::BIGINT) AS sv
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, sv AS cv FROM e WHERE vec_id < 4),
    {_KM_ASSIGN.format(out='a0', cents='c0', cos=_COS_II.format(a='e.sv', b='cv'))},
    {_KM_UPDATE.format(sums='m0', assign='a0', out='c1')},
    {_KM_ASSIGN.format(out='a1', cents='c1', cos=_COS_II.format(a='e.sv', b='cv'))},
    {_KM_UPDATE.format(sums='m1', assign='a1', out='c2')},
    {_KM_ASSIGN.format(out='assign', cents='c2', cos=_COS_II.format(a='e.sv', b='cv'))},
    cells AS (SELECT vec_id, sv, cid FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, sv AS qv, cid FROM assign
          WHERE vec_id < 20 AND rn = 1),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS_II.format(a='qv', b='c.sv')} AS cosine
      FROM q JOIN cells c ON q.cid = c.cid AND query_id != c.vec_id)
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
    eager=True,  # k-means fit (bounded k)
)
def q_sim_ivf_kmeans(spark, sf_dir):
    """IVF over TRAINED centroids: deterministic integer Lloyd k-means
    (k=4, 2 fixed rounds, lowest-id seeds) fit on the corpus, then the
    standard cell-join search. The oracle unrolls both Lloyd rounds in
    SQL — assignment, per-dimension HALF_UP integer means, re-assign —
    so the fit itself is verified bit-for-bit, not just the search.

    Round count vs convergence, MEASURED (round 7, sf0.1 embeddings,
    2000 vecs): 155/2000 assignments (7.8%) still move between the
    round-1 and round-2 centroids — the fit is NOT assignment-stable
    after one round, so dropping to iters=1 would change the trained
    index materially. 2 rounds stays."""
    e = _embs(spark, sf_dir)
    cents = kmeans_fit_scaled(e, k=4, iters=2)
    out = ivf_topk(
        e.filter(F.col("vec_id") < 20), e, k=5, n_probe=1, centroids=cents
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_SEMDEDUP_TAU = 0.35

# scaled-embedding source select (append a WHERE to slice it)
_SCALED_EMB = (
    "SELECT vec_id, list_transform(embedding, "
    f"x -> round(x::DOUBLE * {SCALE})::BIGINT) AS sv FROM embeddings"
)


def _semdedup_ctes() -> str:
    """The SemDeDup oracle core over a caller-defined CTE ``e``:
    deterministic integer Lloyd fit (k=4, 2 rounds, seeds ``vec_id <
    4`` within ``e`` — exactly ``kmeans_fit_scaled``'s rule applied to
    the source relation), final assignment with centroid cosine,
    diversity-first rank, and the upper-triangular drop rule. Ends
    with CTEs ``c2`` (frozen centroids), ``ranked``, and ``drp`` —
    single-sourced for ``dedup_semantic_groups`` (e = all embeddings)
    and ``dedup_semantic_delta`` (e = the corpus split), so the fit
    and drop rule can't drift between the batch and delta oracles."""
    return f"""
    c0 AS (SELECT vec_id AS cid, sv AS cv FROM e WHERE vec_id < 4),
    {_KM_ASSIGN.format(out='a0', cents='c0', cos=_COS_II.format(a='e.sv', b='cv'))},
    {_KM_UPDATE.format(sums='m0', assign='a0', out='c1')},
    {_KM_ASSIGN.format(out='a1', cents='c1', cos=_COS_II.format(a='e.sv', b='cv'))},
    {_KM_UPDATE.format(sums='m1', assign='a1', out='c2')},
    fin AS (SELECT e.vec_id, e.sv, cid,
                   {_COS_II.format(a='e.sv', b='cv')} AS ccos,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_COS_II.format(a='e.sv', b='cv')} DESC,
                                cid ASC) AS rn
            FROM e CROSS JOIN c2),
    ranked AS (SELECT vec_id, sv, cid, ccos,
                      CAST(row_number() OVER (PARTITION BY cid
                          ORDER BY ccos ASC, vec_id ASC) AS BIGINT) AS rnk
               FROM fin WHERE rn = 1),
    drp AS (SELECT DISTINCT b.vec_id
            FROM ranked a JOIN ranked b
              ON a.cid = b.cid AND a.rnk < b.rnk
            WHERE {_COS_II.format(a='a.sv', b='b.sv')} >= {_SEMDEDUP_TAU})"""


@query(
    "dedup_semantic_groups",
    f"""
    WITH e AS ({_SCALED_EMB}),
    {_semdedup_ctes()}
    SELECT r.vec_id, r.cid AS cell_id, r.rnk,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM ranked r LEFT JOIN drp d ON r.vec_id = d.vec_id
    """,
    eager=True,  # k-means fit, the same bounded centroid class
)
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means cells (the trained
    deterministic integer Lloyd fit of ``sim_ivf_kmeans_topk``), then
    within each cell drop every member whose pairwise cosine to an
    earlier-ranked member (centroid-cosine ASC — the paper keeps
    low-centroid-similarity examples for diversity) reaches the
    threshold. Pair space is cell-local by construction (the IVF trick
    applied to dedup); the oracle unrolls the fit AND the greedy
    upper-triangular drop rule, so keep/drop decisions are verified
    bit-for-bit, not just counts."""
    return semantic_dedup(
        _embs(spark, sf_dir), threshold=_SEMDEDUP_TAU, k=4, iters=2
    )


def _semdedup_corpus_state(spark, sf_dir, corpus, materialize_dir=None):
    """Frozen corpus state for incremental SemDeDup — the 2-round
    Lloyd fit plus the kept-member id set of the corpus dedup, i.e.
    exactly what a production pipeline carries between crawls.

    Default (unset): both are derived fresh per build. The corpus-side
    recompute dominates the registered query's measured cost (~all of
    3.35 s warm at sf0.1, `ROUND12_PERF_NOTES.md`) and stays in the
    default path ON PURPOSE so the DuckDB oracle can unroll the fit
    and drop rule bit-for-bit — don't "optimize" it away.

    For repeated ingest batches over the SAME corpus (scheduled crawl
    dedup at 100 TB), pass ``materialize_dir`` or set
    ``$LIGHTSABER_SEMDEDUP_CORPUS_DIR`` to write both relations to
    parquet ONCE — the same ``_SUCCESS``-guarded escape hatch as the
    passage index and the pagerank pair list (unset everywhere
    in-repo, so default behavior is unchanged). Sizes: centroids are
    k rows (the bounded-collect class the fit already is), kept ids
    one bigint per kept member — the dedup store a pipeline persists
    anyway. Subsequent batches then pay only the O(|delta| · cell)
    delta stage."""
    if materialize_dir is None:
        materialize_dir = os.environ.get("LIGHTSABER_SEMDEDUP_CORPUS_DIR")

    def fit():
        return kmeans_fit_scaled(corpus, k=4, iters=2)

    def kept_ids(cents):
        base = semantic_dedup(
            corpus, threshold=_SEMDEDUP_TAU, centroids=cents
        )
        return base.filter(F.col("keep") == 1).select("vec_id")

    if not materialize_dir:
        cents = fit()
        # r15 OPT: hand the delta stage the corpus run's OWN scaled
        # vectors + cell assignments (with_vectors) instead of kept
        # ids alone — the old id-join shape re-scanned the corpus and
        # re-ran the centroid-GEMM assignment over every kept member
        # (identical values by construction). Returns pre_assigned=
        # True so the caller passes kept_pre_assigned to
        # semantic_dedup_delta.
        base = semantic_dedup(
            corpus, threshold=_SEMDEDUP_TAU, centroids=cents,
            with_vectors=True,
        )
        kept = base.filter(F.col("keep") == 1).select(
            "vec_id", "_sv", "cell_id"
        )
        return cents, kept, True

    from lightsaber_spark.session import materialize_parquet_once

    # the cache key must encode EVERY parameter the frozen state
    # depends on, not just the corpus location (review finding: an
    # sf_dir-only key silently reused the old tau/k's kept set after a
    # parameter change — the same reason the passage index bakes k
    # into its path)
    ident = f"{sf_dir}|tau={_SEMDEDUP_TAU}|k=4|iters=2|split=mod10"
    tag = hashlib.md5(ident.encode()).hexdigest()[:12]
    root = materialize_dir.rstrip("/")
    cents_pq = materialize_parquet_once(
        spark,
        lambda: spark.createDataFrame(
            [(int(c), [int(x) for x in v]) for c, v in fit()],
            "cid BIGINT, cv ARRAY<BIGINT>",
        ),
        f"{root}/semdedup_cents_{tag}",
    )
    # k rows — the same bounded collect class as the fit itself;
    # sorted by cid to reproduce kmeans_fit_scaled's ordering (ties in
    # the assignment UDFs break by centroid id)
    cents = sorted(
        (int(r["cid"]), [int(x) for x in r["cv"]])
        for r in cents_pq.collect()
    )
    kept_pq = materialize_parquet_once(
        spark, lambda: kept_ids(cents), f"{root}/semdedup_kept_{tag}"
    )
    # hatch path: the parquet store holds kept IDS only (one bigint per
    # member, the minimal dedup store) — the delta stage re-assigns the
    # kept rows against the frozen centroids as before (pre_assigned
    # False)
    return cents, corpus.join(kept_pq, "vec_id"), False


@query(
    "dedup_semantic_delta",
    f"""
    WITH e AS ({_SCALED_EMB} WHERE vec_id % 10 <> 0),
    delt AS ({_SCALED_EMB} WHERE vec_id % 10 = 0),
    {_semdedup_ctes()},
    kept AS (SELECT r.vec_id, r.sv, r.cid FROM ranked r
             LEFT JOIN drp d ON r.vec_id = d.vec_id WHERE d.vec_id IS NULL),
    dfin AS (SELECT delt.vec_id, delt.sv, cid,
                    {_COS_II.format(a='delt.sv', b='cv')} AS ccos,
                    row_number() OVER (PARTITION BY delt.vec_id
                        ORDER BY {_COS_II.format(a='delt.sv', b='cv')} DESC,
                                 cid ASC) AS rn
             FROM delt CROSS JOIN c2),
    dranked AS (SELECT vec_id, sv, cid, ccos,
                       CAST(row_number() OVER (PARTITION BY cid
                           ORDER BY ccos ASC, vec_id ASC) AS BIGINT) AS rnk
                FROM dfin WHERE rn = 1),
    prior AS (SELECT vec_id, sv, cid, CAST(0 AS BIGINT) AS rnk FROM kept
              UNION ALL
              SELECT vec_id, sv, cid, rnk FROM dranked),
    ddrp AS (SELECT DISTINCT b.vec_id
             FROM prior a JOIN dranked b
               ON a.cid = b.cid AND a.rnk < b.rnk
             WHERE {_COS_II.format(a='a.sv', b='b.sv')} >= {_SEMDEDUP_TAU})
    SELECT r.vec_id, r.cid AS cell_id, r.rnk,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM dranked r LEFT JOIN ddrp d ON r.vec_id = d.vec_id
    """,
    eager=True,  # reuses the frozen corpus fit
    watch=True,  # semantic-dedup fit paths, a bench headline query
)
def q_dedup_semantic_delta(spark, sf_dir):
    """Incremental SemDeDup for ingest (the delta twin the exact and
    MinHash ladders already have via ``dedup_delta_vs_corpus``): the
    corpus split (vec_id % 10 != 0) is fit and deduped once — the
    existing-corpus state a real pipeline carries between crawls —
    then the DELTA batch (vec_id % 10 == 0) is assigned to the FROZEN
    centroids (no per-batch re-clustering) and a delta vector drops
    iff a KEPT corpus member of its cell, or an earlier-ranked member
    of the same batch, is within the threshold. The oracle unrolls the
    corpus fit + drop rule through the shared ``_semdedup_ctes`` chain
    and the frozen-assignment + kept-union drop rule on top, so every
    delta keep/drop decision is verified bit-for-bit. Naturally
    non-vacuous: 13/50 delta drops at sf0.001, 20/50 at sf0.01.

    Scale shape: delta work is O(|delta| x cell size) — assignment is
    a broadcast-centroid GEMM (no shuffle), the pair stage is
    delta-vs-(kept + earlier-delta) within cells only, never
    corpus x corpus again (``semantic_dedup_delta`` docstring). The
    corpus fit + corpus dedup recomputed here for the oracle's sake
    can be frozen to parquet via ``$LIGHTSABER_SEMDEDUP_CORPUS_DIR``
    (``_semdedup_corpus_state`` — unset by default), after which
    repeated ingest batches pay only the delta stage."""
    e = _embs(spark, sf_dir)
    corpus = e.filter(F.col("vec_id") % 10 != 0)
    delta = e.filter(F.col("vec_id") % 10 == 0)
    cents, kept, pre = _semdedup_corpus_state(spark, sf_dir, corpus)
    return semantic_dedup_delta(
        kept, delta, cents, threshold=_SEMDEDUP_TAU, kept_pre_assigned=pre
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas; deterministic stub codec)
# ---------------------------------------------------------------------------
@query(
    "multimodal_decode_stub",
    """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) // 640) % 480 + 1 AS INTEGER) AS height
    FROM documents
    """,
)
def q_multimodal_decode(spark, sf_dir):
    """Declared-stub media decode: mapInPandas plumbing
    (schema/batching) with deterministic fake dims."""
    return decode_media(documents_as_media(_docs(spark, sf_dir)))


@query(
    "multimodal_decode_real",
    """
    WITH p AS (SELECT doc_id, doc_id % 61 + 4 AS w, doc_id % 37 + 3 AS h
               FROM documents),
    xs AS (SELECT doc_id, w, h, unnest(range(w)) AS x FROM p),
    xy AS (SELECT doc_id, w, h, x, unnest(range(h)) AS y FROM xs)
    SELECT doc_id AS media_id,
           CAST(max(w) AS INTEGER) AS width,
           CAST(max(h) AS INTEGER) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((doc_id + x + y) % 251) AS BIGINT) AS pixel_sum
    FROM xy GROUP BY doc_id
    """,
    watch=True,  # real PNG codec on python workers, a bench headline query
)
def q_multimodal_decode_real(spark, sf_dir):
    """REAL codec end-to-end: one genuine PNG per document (stdlib
    encoder, alternating Sub/Up filtered scanlines, CRC-checked chunks)
    decoded by the stdlib PNG decoder (signature + CRC verify, IHDR
    dims, inflate, unfilter). The oracle predicts dimensions and the
    exact pixel sum from the deterministic gradient — if any stage of
    the container parse or unfilter math were wrong, pixel_sum would
    diverge."""
    # r15 OPT (guide §4.1/§8): fused single-Python-pass encode→decode —
    # the PNG blobs never round-trip Python→JVM→Python; same real
    # codec, bit-identical output (fusion-equivalence pytest)
    from lightsaber_spark.functions.multimodal import synthetic_png_decoded

    return synthetic_png_decoded(_docs(spark, sf_dir))


@query(
    "multimodal_features",
    f"""
    SELECT doc_id AS media_id,
           {", ".join(
               f"('0x' || substr(md5(text), {2*i+1}, 2))::BIGINT AS f{i}" for i in range(16)
           )}
    FROM documents
    """,
)
def q_multimodal_features(spark, sf_dir):
    """Deterministic 16-dim feature extraction from binary payloads
    (mapInPandas batch shape)."""
    out = extract_features(documents_as_media(_docs(spark, sf_dir)))
    return out.select("media_id", *[F.col(f"feature.f{i}").alias(f"f{i}") for i in range(16)])


@query(
    "multimodal_resize_stub",
    """
    WITH b AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents)
    SELECT media_id,
           32 AS out_bytes,
           md5(array_to_string(
             list_transform(range(32), i -> substr(text, (i * n) // 32 + 1, 1)),
             '')) AS digest
    FROM b
    """,
)
def q_multimodal_resize(spark, sf_dir):
    """Stride-downsample stub over byte payloads (documents are ASCII,
    so the DuckDB char-level oracle reproduces the byte math exactly)."""
    return resize_media(documents_as_media(_docs(spark, sf_dir)), target_bytes=32)


@query(
    "multimodal_frame_sample",
    """
    WITH b AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
    f AS (SELECT media_id, text, n,
                 unnest(generate_series(0, (n + 63) // 64 - 1, 2)) AS frame_idx
          FROM b)
    SELECT media_id, frame_idx,
           CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS INTEGER) AS n_bytes,
           md5(substr(text, frame_idx * 64 + 1, 64)) AS digest
    FROM f
    """,
)
def q_multimodal_frames(spark, sf_dir):
    """Every-2nd-frame sampler over 64-byte frames (one media row →
    many frame rows)."""
    return sample_frames(
        documents_as_media(_docs(spark, sf_dir)), frame_size=64, every_n=2
    )


# ---------------------------------------------------------------------------
# Session windows (executable SESSION type — dead enum in the reference,
# WindowDefinition.h:14,55-58) and as-of join
# ---------------------------------------------------------------------------
# Gaps-and-islands sessionization over events — shared by the
# session_windows_per_user oracle AND _SESS_DUR_SRC (single-sourced so
# the gap rule can't drift between the two; review finding). Ends with
# CTE ``s`` carrying (user_id, us, sid). BOUNDARY: an event at exactly
# last + gap MERGES (`> gap` starts a new session) — Spark's
# session_window rule, pinned empirically by
# test_streaming_sessions_exact_gap_boundary_matches_batch; the old
# `>=` here split the exact-gap pair no fixture happens to contain.
_SESSIONIZE_CTES = """
    o AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    d AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)),
    s AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM d)"""


@query(
    "session_windows_per_user",
    f"""
    WITH {_SESSIONIZE_CTES}
    SELECT user_id, min(us) AS session_start_us,
           max(us) + 1800000000 AS session_end_us, count(*) AS n
    FROM s GROUP BY user_id, sid
    """,
)
def q_sessions(spark, sf_dir):
    """Session windows (1800 s gap) per user — gaps-and-islands; live
    here though a dead enum in the reference."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    out = session_window_agg(ev, "ts", 1800, [("count", None, "n")], ["user_id"])
    return out.select("user_id", "session_start_us", "session_end_us", "n")


@query(
    "asof_event_last_order",
    """
    SELECT e.event_id, epoch_us(o.o_orderdate) AS last_order_us
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def q_asof(spark, sf_dir):
    """As-of join: each event's latest order at-or-before its
    timestamp (union + carry-forward scan, no pair space)."""
    t = load_tables(spark, sf_dir, ("orders", "events"))
    left = t["events"].select("event_id", F.col("user_id").alias("cust"), "ts")
    right = t["orders"].select(
        F.col("o_custkey").alias("cust"),
        "o_orderdate",
        F.col("o_orderdate").cast("timestamp").alias("_od"),
    ).withColumn("last_order_us", F.unix_micros("_od")).drop("_od")
    out = asof_join(left, right, "ts", "o_orderdate", by=["cust"], direction="backward")
    return out.filter(F.col("last_order_us").isNotNull()).select(
        "event_id", "last_order_us"
    )


# TPC-H o_orderdate (1995-2001) never overlaps events.ts (2024-01),
# so a raw tolerance-bounded or forward as-of is vacuously empty
# (ADVICE r2). Both queries below therefore join against a SYNTHETIC
# order timestamp that folds o_orderdate into the events month with
# exact integer-µs arithmetic — deterministic, identical in both
# engines, and (thanks to the o_orderkey intra-day spread) dense enough
# that tolerance nulling and the forward scan both do real work.
# 1_704_067_200_000_000 µs = 2024-01-01T00:00:00Z; 2_592_000_000_000 µs
# = 30 days.
_SYNTH_ORDER_TS_SQL = """(SELECT o_custkey,
        make_timestamp(1704067200000000
          + (epoch_us(o_orderdate) % 2592000000000)
          + (o_orderkey % 86400000) * 1000) AS o_ts
      FROM orders)"""


def _synth_orders(spark, sf_dir):
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    synth_us = (
        F.lit(1_704_067_200_000_000)
        + F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        % F.lit(2_592_000_000_000)
        + (F.col("o_orderkey") % F.lit(86_400_000)) * F.lit(1000)
    )
    return orders.select(
        F.col("o_custkey").alias("cust"), F.timestamp_micros(synth_us).alias("o_ts")
    )


@query(
    "asof_event_last_order_3d",
    f"""
    SELECT event_id, last_order_us FROM (
      SELECT e.event_id, epoch_us(o.o_ts) AS last_order_us,
             epoch_us(e.ts) AS ev_us
      FROM events e ASOF JOIN {_SYNTH_ORDER_TS_SQL} o
        ON e.user_id = o.o_custkey AND o.o_ts <= e.ts)
    WHERE ev_us - last_order_us <= 259200000000
    """,
)
def q_asof_tolerance(spark, sf_dir):
    """Tolerance-bounded as-of: last (synthetic-ts) order within 3 days
    before each event — matches beyond the tolerance are nulled and
    dropped: the staleness-capped enrichment shape, non-vacuous by
    construction (events and synthetic orders interleave)."""
    t = load_tables(spark, sf_dir, ("events",))
    left = t["events"].select("event_id", F.col("user_id").alias("cust"), "ts")
    right = _synth_orders(spark, sf_dir).withColumn(
        "last_order_us", F.unix_micros("o_ts")
    )
    out = asof_join(
        left, right, "ts", "o_ts", by=["cust"],
        direction="backward", tolerance_sec=259_200,
    )
    return out.filter(F.col("last_order_us").isNotNull()).select(
        "event_id", "last_order_us"
    )


@query(
    "asof_event_next_order",
    f"""
    SELECT e.event_id, epoch_us(o.o_ts) AS next_order_us
    FROM events e ASOF JOIN {_SYNTH_ORDER_TS_SQL} o
      ON e.user_id = o.o_custkey AND o.o_ts >= e.ts
    """,
)
def q_asof_forward(spark, sf_dir):
    """Forward as-of: the first (synthetic-ts) order at or after each
    event — the other half of the carry-scan (same union + window plan,
    reversed ordering), non-vacuous by construction. DuckDB's ASOF JOIN
    with `>=` is the oracle."""
    t = load_tables(spark, sf_dir, ("events",))
    left = t["events"].select("event_id", F.col("user_id").alias("cust"), "ts")
    right = _synth_orders(spark, sf_dir).withColumn(
        "next_order_us", F.unix_micros("o_ts")
    )
    out = asof_join(left, right, "ts", "o_ts", by=["cust"], direction="forward")
    return out.filter(F.col("next_order_us").isNotNull()).select(
        "event_id", "next_order_us"
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / dataset splitting (functions/sampling.py) —
# the reproducible-training-data primitives: the keep/route decision is
# md5(key), so the sample is stable under partitioning, retries, and
# engine (exact DuckDB twins), and keyed sampling is leakage-safe
# (all rows of a user land together).
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.sampling import (
    hash_sample,
    hash_split,
    sample_oracle_pred,
    split_oracle_expr,
)


@query(
    "sample_events_by_user_10pct",
    f"""
    SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
    FROM events
    WHERE {sample_oracle_pred(["user_id"], 0.1)}
    GROUP BY 1
    """,
)
def q_hash_sample(spark, sf_dir):
    """Deterministic keyed 10% sample: md5(user) threshold —
    partition- and retry-stable, leakage-safe."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    s = hash_sample(ev, 0.1, ["user_id"])
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "split_documents_train_val_test",
    f"""
    SELECT {split_oracle_expr(["doc_id"], [0.8, 0.1, 0.1])} AS split_id,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 split routing by md5(doc_id) —
    reproducible across runs and engines."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    s = hash_split(docs, [0.8, 0.1, 0.1], ["doc_id"])
    return s.groupBy("split_id").agg(F.count(F.lit(1)).alias("n_docs"))


from lightsaber_spark.functions.sampling import (
    stratified_oracle_sql,
    stratified_sample_exact,
)


@query(
    "stratified_sample_docs_per_lang",
    stratified_oracle_sql(
        "documents", 50, ["lang"], ["doc_id"], ["doc_id", "lang"]
    ),
)
def q_stratified_sample(spark, sf_dir):
    """Exactly 50 docs per language (deterministic n-smallest-hash
    selection): the eval-set construction primitive."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return stratified_sample_exact(docs, 50, ["lang"], ["doc_id"]).select(
        "doc_id", "lang"
    )


from lightsaber_spark.functions.sampling import mixture_oracle_pred, mixture_sample

# training-mixture weights: upsampled "curated" sources, a default
# floor for the long tail — the standard corpus re-weighting shape
_MIX_RATES = {"src0": 0.9, "src1": 0.5, "src2": 0.25}


@query(
    "mixture_sample_by_source",
    f"""
    SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
    FROM documents
    WHERE {mixture_oracle_pred(["doc_id"], _MIX_RATES, "source", default_rate=0.1)}
    GROUP BY 1
    """,
)
def q_mixture_sample(spark, sf_dir):
    """Deterministic dataset-mixture sampling: per-source keep rates
    (md5-keyed → partition/retry-stable; lower-rate samples are subsets
    of higher-rate ones, so mixture weights can be retuned without
    resampling unrelated rows)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    s = mixture_sample(docs, _MIX_RATES, "source", ["doc_id"], default_rate=0.1)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
    )


from lightsaber_spark.functions.sampling import (
    upsample_by_weight,
    upsample_oracle_parts,
)

# oversampling weights (>1 = epoch repetition with a deterministic
# fractional extra copy; <1 degenerates to mixture keep/drop)
_UP_WEIGHTS = {"src0": 2.5, "src1": 1.25, "src2": 0.5}


@query(
    "upsample_documents_by_source",
    f"""
    WITH b AS (SELECT doc_id, source,
                      {upsample_oracle_parts(["doc_id"], _UP_WEIGHTS, "source",
                                             default_weight=1.0)} AS n
               FROM documents),
    e AS (SELECT doc_id, source, unnest(generate_series(0, n - 1)) AS epoch
          FROM b WHERE n >= 1)
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM e
    """,
)
def q_upsample_by_source(spark, sf_dir):
    """Mixture weights ABOVE 1 (epoch repetition): each doc emits
    ⌊w⌋/⌈w⌉ copies with expected multiplicity exactly its source's
    weight, each copy tagged with an epoch index for downstream
    shuffled packing. Map-side explode — no shuffle at any scale."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    up = upsample_by_weight(docs, _UP_WEIGHTS, "source", ["doc_id"])
    return up.select("doc_id", "source", "epoch")


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk) — the pretraining assembly step;
# chunk-parallel distributed prefix sum, not a global-sort window
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.packing import pack_sequences
from lightsaber_spark.functions.text import token_count as _tok_count


@query(
    "pack_sequences_ctx512",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens AS tok_offset
          FROM t WHERE n_tokens > 0)
    SELECT doc_id, n_tokens, CAST(tok_offset AS BIGINT) AS tok_offset,
           CAST(tok_offset // 512 AS BIGINT) AS seq_first,
           CAST((tok_offset + n_tokens - 1) // 512 AS BIGINT) AS seq_last
    FROM c
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing into 512-token context windows. The
    oracle is the one-line global-window cumsum; the Spark side is the
    chunk-parallel prefix sum (range partition → per-chunk totals →
    broadcast offsets) that never sorts the corpus into one task."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    with_counts = docs.select(
        "doc_id", _tok_count(F.col("text")).alias("_n_toks")
    )
    return pack_sequences(with_counts, 512, "_n_toks", "doc_id")


@query(
    "pack_sequences_shuffled_ctx512",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens,
                      ('0x'||substr(md5('pk' || ',' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                        AS _ord
               FROM documents),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY _ord, doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens AS off
          FROM t WHERE n_tokens > 0)
    SELECT doc_id, n_tokens, CAST(off AS BIGINT) AS tok_offset,
           CAST(off // 512 AS BIGINT) AS seq_first,
           CAST((off + n_tokens - 1) // 512 AS BIGINT) AS seq_last
    FROM c
    """,
)
def q_pack_sequences_shuffled(spark, sf_dir):
    """Shuffle-then-pack: documents packed in deterministic md5-hash
    order (the pretraining practice — decorrelates adjacent corpus
    docs across batches) while staying a pure function of the data;
    same chunk-parallel prefix plan, ordered by the hash key."""
    from lightsaber_spark.functions.sampling import _key_hash

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    with_counts = docs.select(
        "doc_id", _tok_count(F.col("text")).alias("_n_toks")
    )
    return pack_sequences(
        with_counts, 512, "_n_toks", "doc_id",
        order_col=_key_hash(["doc_id"], salt="pk"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — shingle overlap against an eval set
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.dedup import contamination_check


@query(
    "decontaminate_vs_eval_set",
    f"""
    WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM toks),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
    corp AS (SELECT doc_id, s FROM sh WHERE doc_id >= 10),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY 1),
    hits AS (SELECT corp.doc_id, count(*) AS n_shared
             FROM corp JOIN ev USING (s) GROUP BY 1)
    SELECT sizes.doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
           coalesce(n_shared, 0) * 1.0 / n_shingles AS contamination
    FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    """,
)
def q_decontaminate(spark, sf_dir):
    """Per-document k-shingle overlap with the (broadcast) eval set —
    the pre-training hygiene check that keeps benchmarks out of the
    training mixture. Eval set here = doc_id < 10 (deterministic)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return contamination_check(
        docs.filter(F.col("doc_id") >= 10), docs.filter(F.col("doc_id") < 10)
    )


# ---------------------------------------------------------------------------
# End-to-end training-data pipeline: quality gate → exact dedup →
# train split → sequence packing, as ONE lazy composed plan
# ---------------------------------------------------------------------------
_QUALITY_PRED = f"""
      len({TOKS}) >= 20
      AND len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) * 1000 <= 150 * length(text)
      AND len(list_filter({TOKS}, x -> x IN ({", ".join("'" + s + "'" for s in STOPWORDS)})))
            * 1000 <= 600 * len({TOKS})"""


@query(
    "pipeline_quality_dedup_split_pack",
    f"""
    WITH q AS (SELECT doc_id, text FROM documents WHERE {_QUALITY_PRED}),
    d AS (SELECT doc_id, text,
                 min(doc_id) OVER (PARTITION BY md5({NORM})) AS rep
          FROM q),
    s AS (SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
          FROM d
          WHERE doc_id = rep
            AND ({split_oracle_expr(["doc_id"], [0.9, 0.05, 0.05])}) = 0),
    c AS (SELECT doc_id, n_tokens,
                 sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens AS off
          FROM s WHERE n_tokens > 0)
    SELECT doc_id, n_tokens, CAST(off AS BIGINT) AS tok_offset,
           CAST(off // 512 AS BIGINT) AS seq_first,
           CAST((off + n_tokens - 1) // 512 AS BIGINT) AS seq_last
    FROM c
    """,
    eager=True,  # composes duplicate_groups
)
def q_pipeline_end_to_end(spark, sf_dir):
    """The whole training-data assembly line as one composed lazy plan:
    quality gate (exact integer thresholds) → exact-dedup survivors
    (min-id representative per normalized-text digest) → deterministic
    90% train split (md5-keyed) → packing into 512-token context
    windows. Every stage is an operator this repo ships individually;
    the composition stays one Catalyst plan — filters push to the scan,
    the only shuffles are the dedup digest partition and the packing
    prefix sum."""
    from pyspark.sql import Window

    from lightsaber_spark.functions.text import normalize_text, quality_filter
    from lightsaber_spark.functions.sampling import hash_split

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    q = quality_filter(docs)
    w = Window.partitionBy("_dg")
    kept = (
        q.withColumn("_dg", F.md5(normalize_text(F.col("text"))))
        .withColumn("_rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_rep"))
    )
    train = hash_split(kept, [0.9, 0.05, 0.05], ["doc_id"]).filter(
        F.col("split_id") == 0
    )
    counts = train.select("doc_id", _tok_count(F.col("text")).alias("_n"))
    return pack_sequences(counts, 512, "_n", "doc_id")


# ---------------------------------------------------------------------------
# BM25-style relevance ranking (log-free → cross-engine bit-exact)
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.text import bm25_select, term_tf_table

BM25_TERMS = ("window", "spark", "dup")  # two common + one rare term
_BM25_TF_DUCK = ",\n         ".join(
    f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
    for i, t in enumerate(BM25_TERMS)
)


@query(
    "text_bm25_topk",
    f"""
    WITH bm25_base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         {_BM25_TF_DUCK}
      FROM (SELECT doc_id, {TOKS} AS toks FROM documents)
    )
    {bm25_select("bm25_base", BM25_TERMS, 20)}
    """,
)
def q_bm25_topk(spark, sf_dir):
    """Top-20 documents for a fixed term query under log-free BM25.
    One corpus pass for all statistics (broadcast back on a constant
    key) + TakeOrderedAndProject top-k; the scoring arithmetic tree is
    shared with the scalar-subquery oracle so the IEEE doubles are
    bit-identical (idf kept as a rational ratio — no
    transcendentals)."""
    from lightsaber_spark.functions.text import bm25_topk

    base = term_tf_table(_docs(spark, sf_dir), BM25_TERMS)
    return bm25_topk(base, BM25_TERMS, 20)


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) — fixed-width token-count
# vectors for downstream ML featurization.
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.text import feature_hash_vector_udf


@query(
    "text_feature_hash_vectors",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id, array_to_string(list_transform(range(16),
             i -> len(list_filter(toks,
                  x -> ('0x'||substr(md5(x),1,15))::BIGINT % 16 = i))), ',') AS vec
    FROM t
    """,
)
def q_feature_hash(spark, sf_dir):
    """16-bucket hashed count vector per document — md5-bucketed so
    both engines build identical vectors. Arrow-batched hot path
    (``feature_hash_vector_udf``); the interpreted-HOF twin
    ``feature_hash_vector`` stays as the in-repo reference form.

    The vector is emitted CSV-serialized (``array_join``) because the
    driver's canonicalizer hashes scalar cells — a raw ``array<bigint>``
    column is unhashable there (CORRECTNESS_r02). The array-returning
    functions stay the internal API."""
    vec = feature_hash_vector_udf(16)(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.array_join(vec.cast("array<string>"), ",").alias("vec"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard with a document-frequency cutoff — the 100 TB valve.
# The inverted-index self-join's work is Σ df(shingle)², which a
# Zipfian corpus concentrates in a tiny hot head; dropping shingles
# with df > cutoff bounds per-shingle work at cutoff² while near-dup
# pairs (which share RARE shingles too) still collide. The cutoff is
# part of the declared semantics here, applied identically in the
# oracle — at small sf (max df 7) it's a no-op, so the correctness
# gate still compares full Jaccard; at sf0.1 it prunes ~63% of the
# pair work.
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard_df_cut",
    f"WITH {_JACCARD_CUT_CTE} SELECT * FROM jacc",
)
def q_dedup_ngram_cut(spark, sf_dir):
    """Jaccard near-dup with document-frequency cutoff on the inverted
    index — the Sigma-df^2-bounded scale default."""
    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, k=3, max_doc_freq=_JACCARD_CUT
    )


# ---------------------------------------------------------------------------
# Corpus n-gram statistics, column profiling, PII redaction, and
# edit-distance-verified fuzzy dedup (round 3 additions)
# ---------------------------------------------------------------------------

_TOP_BIGRAMS_K = 50


@query(
    "corpus_top_bigrams",
    f"""
    WITH t AS (SELECT {TOKS} AS toks FROM documents),
    g0 AS (SELECT CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS gs FROM t),
    g AS (SELECT unnest(gs) AS ngram FROM g0),
    c AS (SELECT ngram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
    SELECT ngram, cnt FROM c ORDER BY cnt DESC, ngram LIMIT {_TOP_BIGRAMS_K}
    """,
)
def q_corpus_top_bigrams(spark, sf_dir):
    """Corpus-wide bigram frequency top-k (n-gram LM statistics): one
    map-side-combinable hash aggregate + TakeOrderedAndProject. The
    (cnt DESC, ngram ASC) order is strict (ngram unique post-agg), so
    the k-boundary is deterministic on both engines."""
    from lightsaber_spark.functions.text import corpus_ngram_counts

    counts = corpus_ngram_counts(_docs(spark, sf_dir), n=2)
    return counts.orderBy(F.desc("cnt"), F.asc("ngram")).limit(_TOP_BIGRAMS_K)


@query(
    "profile_events_columns",
    """
    WITH w AS (SELECT CAST(count(*) AS BIGINT) AS n,
        CAST(count(*) - count(event_id) AS BIGINT) AS nulls_event_id,
        CAST(count(DISTINCT event_id) AS BIGINT) AS dist_event_id,
        CAST(count(*) - count(ts) AS BIGINT) AS nulls_ts,
        CAST(count(DISTINCT ts) AS BIGINT) AS dist_ts,
        CAST(count(*) - count(user_id) AS BIGINT) AS nulls_user_id,
        CAST(count(DISTINCT user_id) AS BIGINT) AS dist_user_id,
        CAST(count(*) - count(event_type) AS BIGINT) AS nulls_event_type,
        CAST(count(DISTINCT event_type) AS BIGINT) AS dist_event_type,
        CAST(count(*) - count(value) AS BIGINT) AS nulls_value,
        CAST(count(DISTINCT value) AS BIGINT) AS dist_value,
        CAST(count(*) - count(props) AS BIGINT) AS nulls_props,
        CAST(count(DISTINCT props) AS BIGINT) AS dist_props
      FROM events)
    SELECT 'event_id' AS column_name, n AS n_rows, nulls_event_id AS n_nulls, dist_event_id AS n_distinct FROM w
    UNION ALL SELECT 'ts', n, nulls_ts, dist_ts FROM w
    UNION ALL SELECT 'user_id', n, nulls_user_id, dist_user_id FROM w
    UNION ALL SELECT 'event_type', n, nulls_event_type, dist_event_type FROM w
    UNION ALL SELECT 'value', n, nulls_value, dist_value FROM w
    UNION ALL SELECT 'props', n, nulls_props, dist_props FROM w
    """,
)
def q_profile_events(spark, sf_dir):
    """ANALYZE-style exact column profile of ``events`` — one scan, one
    multi-distinct aggregate (single Expand + hash agg in the plan)."""
    from lightsaber_spark.functions.profiling import profile_columns

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return profile_columns(ev)


def _pii_oracle() -> str:
    from lightsaber_spark.functions.text import PII_PATTERNS

    em, ph, ip = (PII_PATTERNS[k][0] for k in ("email", "phone", "ipv4"))
    synth = (
        "text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' tel 555-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.' || CAST((doc_id // 256) % 256 AS VARCHAR) || '.7' ELSE '' END"
    )
    # progressive semantics (mirror redact_pii): each kind is counted
    # on the text with the EARLIER kinds already replaced
    red = "t"
    counts = []
    for name, pat, tag in (
        ("n_email", em, "<EMAIL>"),
        ("n_phone", ph, "<PHONE>"),
        ("n_ipv4", ip, "<IP>"),
    ):
        counts.append(
            f"  CAST(len(regexp_extract_all({red}, '{pat}')) AS BIGINT) AS {name},\n"
        )
        red = "regexp_replace(" + red + ", '" + pat + "', '" + tag + "', 'g')"
    return (
        "WITH s AS (SELECT doc_id, " + synth + " AS t FROM documents)\n"
        "SELECT doc_id,\n"
        + "".join(counts)
        + "  " + red + " AS redacted\n"
        "FROM s"
    )


@query("pii_redact_stats", _pii_oracle())
def q_pii_redact(spark, sf_dir):
    """PII scrubbing: per-doc match counts + redacted text. The corpus
    is synthetic word-soup with no natural PII, so deterministic PII
    spans are injected first (same construction in the oracle — the
    ``synthetic_png_media`` precedent), making every count non-vacuous
    by construction. Redaction itself is pure Catalyst regexp
    (map-only, whole-stage codegen)."""
    from lightsaber_spark.functions.text import redact_pii

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" tel 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit("."),
                F.expr("CAST((doc_id div 256) % 256 AS STRING)"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
    )
    out = redact_pii(d.select("doc_id", synth.alias("text")))
    return out.select("doc_id", "n_email", "n_phone", "n_ipv4", "redacted")


def duckdb_url_canon_ctes(src: str, include_private: bool = False) -> str:
    """The DuckDB canonicalization pipeline as a CTE chain: reads
    ``(doc_id, url)`` rows from relation ``src`` and ends with CTE
    ``c`` exposing ``(doc_id, canonical_url, domain)``. The single
    source of the engine twin of ``functions/urls.py`` — used by the
    ``url_canonical_dedup`` oracle AND the exhaustive cross-engine
    escape test (``tests/test_urls.py``), so the two can't drift.
    Stages: ``norm`` (RFC 3986 percent-normalization — the 1-based
    indexed ``list_transform`` twin of ``pct_normalize``),
    ``b``/``h0``/``h1``/``h`` (scheme/fragment/userinfo/default-port/
    host-case, then www-stripping guarded by the PSL exception names
    AND by the remainder-is-a-public-suffix check), ``pq``/``cp``
    (path slashes, tracking-param filter + sort), ``c`` (canonical
    string + PSL-ladder registrable domain over the FULL generated
    ICANN tables, r13: exceptions (3- then 2-label) → four-label →
    three-label + 2-label wildcard bases → two-label + 1-label
    wildcard bases → default)."""
    from lightsaber_spark.functions.urls import (
        _PSL_SETS,
        TRACKING_PARAM_NAMES,
        TRACKING_PREFIX,
    )

    def lst(key: str) -> str:
        return ", ".join(f"'{s}'" for s in _PSL_SETS[key])

    p = include_private
    names = ", ".join(f"'{n}'" for n in TRACKING_PARAM_NAMES)
    suffixes = lst("p_suf2" if p else "suf2")
    exceptions = lst("exc2")
    exceptions3 = lst("exc3")
    wildcards = lst("wild1")
    wildcards2 = lst("p_wild2" if p else "wild2")
    three_label = lst("p_suf3" if p else "suf3")
    four_label = lst("p_suf4" if p else "suf4")
    plen = len(TRACKING_PREFIX)
    l5 = "'([^.]+\\.[^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$'"
    l6 = "'([^.]+\\.[^.]+\\.[^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$'"
    # private-mode EXTRA branches, spliced into the h (www-guard) and
    # c (domain ladder) CASEs below; empty strings in ICANN mode
    h_private = ""
    c_private_deep5 = ""
    c_wild3_or = ""
    if p:
        h_private = f"""
               WHEN barehost IN ({lst("p_suf5")}) THEN rawhost
               WHEN regexp_matches(barehost, '^[^.]+(\\.[^.]+){{3}}$')
                    AND regexp_extract(barehost, '([^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({lst("p_wild3")})
               THEN rawhost
               WHEN regexp_matches(barehost, '^[^.]+(\\.[^.]+){{4}}$')
                    AND regexp_extract(barehost, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({lst("p_wild4")})
               THEN rawhost"""
        # `*.B` matches only hosts STRICTLY deeper than the base — the
        # wildcard arms require one more label than the base (the
        # Spark ladder carries the same guard; r13 private sweep)
        c_private_deep5 = f"""
                WHEN regexp_extract(host, {l5}, 1) IN ({lst("p_suf5")})
                  OR (regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({lst("p_wild4")})
                      AND regexp_extract(host, {l5}, 1) <> '')
                THEN CASE WHEN regexp_extract(host, {l6}, 1) <> ''
                          THEN regexp_extract(host, {l6}, 1)
                          ELSE host END"""
        c_wild3_or = (
            f"\n                  OR (regexp_extract(host, "
            f"'([^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({lst('p_wild3')})"
            f"\n                      AND regexp_extract(host, "
            f"'([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) <> '')"
        )
    return f"""
    norm AS (SELECT doc_id,
        array_to_string(list_transform(string_split(url, '%'), (p, i) ->
          CASE WHEN i = 1 THEN p
               WHEN regexp_matches(p, '^[0-9A-Fa-f]{{2}}') THEN
                 CASE WHEN (('0x' || upper(substring(p, 1, 2)))::INT BETWEEN 48 AND 57)
                        OR (('0x' || upper(substring(p, 1, 2)))::INT BETWEEN 65 AND 90)
                        OR (('0x' || upper(substring(p, 1, 2)))::INT BETWEEN 97 AND 122)
                        OR ('0x' || upper(substring(p, 1, 2)))::INT IN (45, 46, 95, 126)
                   THEN chr(('0x' || upper(substring(p, 1, 2)))::INT) || substring(p, 3)
                   ELSE '%' || upper(substring(p, 1, 2)) || substring(p, 3) END
               ELSE '%' || p END), '') AS url
      FROM {src}),
    b AS (SELECT doc_id,
          regexp_replace(regexp_replace(url,
              '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS body
          FROM norm),
    h0 AS (SELECT doc_id,
          lower(regexp_replace(
              regexp_replace(regexp_extract(body, '^([^/?#]+)', 1),
                             '^[^@]*@', ''),
              ':(80|443)$', '')) AS rawhost,
          regexp_extract(body, '^[^/?#]+(.*)$', 1) AS rest FROM b),
    h1 AS (SELECT doc_id, rawhost, rest,
          regexp_replace(rawhost, '^www\\.', '') AS barehost FROM h0),
    h AS (SELECT doc_id,
          CASE WHEN rawhost IN ({exceptions}) THEN rawhost
               WHEN NOT contains(barehost, '.') THEN rawhost
               WHEN barehost IN ({suffixes}) THEN rawhost
               WHEN barehost IN ({three_label}) THEN rawhost
               WHEN barehost IN ({four_label}) THEN rawhost
               WHEN regexp_matches(barehost, '^[^.]+\\.[^.]+$')
                    AND regexp_extract(barehost, '([^.]+)$', 1) IN ({wildcards})
                    AND barehost NOT IN ({exceptions}) THEN rawhost
               WHEN regexp_matches(barehost, '^[^.]+\\.[^.]+\\.[^.]+$')
                    AND regexp_extract(barehost, '([^.]+\\.[^.]+)$', 1) IN ({wildcards2})
                    AND barehost NOT IN ({exceptions3}) THEN rawhost{h_private}
               ELSE barehost END AS host,
          rest FROM h1),
    pq AS (SELECT doc_id, host,
           regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/+$', '') AS path,
           regexp_extract(rest, '\\?(.*)$', 1) AS qs FROM h),
    cp AS (SELECT doc_id, host, path,
           list_sort(list_filter(string_split(qs, '&'),
             p -> p <> '' AND substring(p, 1, {plen}) <> '{TRACKING_PREFIX}'
                  AND split_part(p, '=', 1) NOT IN ({names}))) AS params
           FROM pq),
    c AS (SELECT doc_id,
           host || path || CASE WHEN len(params) > 0
                THEN '?' || array_to_string(params, '&') ELSE '' END AS canonical_url,
           CASE WHEN regexp_matches(host, '^\\d{{1,3}}(\\.\\d{{1,3}}){{3}}(:\\d+)?$')
                  OR host LIKE '[%' THEN host
                WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({exceptions3})
                THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) IN ({exceptions})
                THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1){c_private_deep5}
                WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({four_label}){c_wild3_or}
                THEN CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
                          THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1)
                          ELSE host END
                WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) IN ({three_label})
                  OR (regexp_extract(host, '([^.]+\\.[^.]+)$', 1) IN ({wildcards2})
                      AND regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) <> '')
                THEN CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
                          THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+\\.[^.]+)$', 1)
                          ELSE host END
                WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) IN ({suffixes})
                  OR (regexp_extract(host, '([^.]+)$', 1) IN ({wildcards})
                      AND regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> '')
                THEN CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1) <> ''
                          THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                          ELSE host END
                WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> ''
                THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                ELSE host END AS domain
          FROM cp)"""


def _url_oracle() -> str:
    """Oracle twin of ``url_canonical_dedup``: the same deterministic
    URL synthesis (scheme/case/www/trailing-slash/param-order/tracking/
    fragment/percent-escape/ccTLD noise keyed off doc_id), then the
    shared canonicalization pipeline :func:`duckdb_url_canon_ctes`."""
    return f"""
    WITH parts AS (SELECT doc_id, source,
        CASE WHEN doc_id % 4 < 2 THEN 'id=' || CAST(doc_id % 3 AS VARCHAR) END AS kept,
        CASE WHEN doc_id % 7 = 0 THEN 'utm_source=feed' END AS utm,
        CASE WHEN doc_id % 9 = 0 THEN 'fbclid=x' || CAST(doc_id AS VARCHAR) END AS fb
      FROM documents),
    raw AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN 'HTTPS'
             WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
        || '://'
        || CASE WHEN doc_id % 17 = 0 THEN 'u' || CAST(doc_id AS VARCHAR) || '@'
           ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
        || CASE WHEN doc_id % 33 IN (0, 12) THEN ''
                WHEN doc_id % 11 = 0 THEN upper(source) ELSE source END
        || CASE WHEN doc_id % 33 = 0 THEN 'foo.ck'
                WHEN doc_id % 33 = 12 THEN 'co.uk'
                WHEN doc_id % 19 = 0 THEN '.www.ck'
                WHEN doc_id % 21 = 0 THEN '.co.uk'
                WHEN doc_id % 21 = 7 THEN '.k12.ca.us'
                WHEN doc_id % 21 = 14 THEN '.foo.ck'
                ELSE '.example.com' END
        || CASE WHEN doc_id % 13 = 0 THEN ':80' ELSE '' END
        || '/p/' || CAST(doc_id % 40 AS VARCHAR)
        || CASE WHEN doc_id % 14 = 0 THEN '/x%7ey'
                WHEN doc_id % 14 = 7 THEN '/x~y'
                WHEN doc_id % 23 = 0 THEN '/f%2fg'
                WHEN doc_id % 25 = 0 THEN '/b%zzq'
                ELSE '' END
        || CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END
        || CASE WHEN q <> '' THEN '?' || q ELSE '' END
        || CASE WHEN doc_id % 10 = 0 THEN '#sec' || CAST(doc_id % 2 AS VARCHAR)
           ELSE '' END AS url
      FROM (SELECT *, CASE WHEN doc_id % 8 < 4 THEN concat_ws('&', kept, utm, fb)
                           ELSE concat_ws('&', utm, fb, kept) END AS q
            FROM parts)),
    {duckdb_url_canon_ctes("raw")}
    SELECT canonical_url, domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS rep_doc_id
    FROM c GROUP BY 1, 2
    """


@query("url_canonical_dedup", _url_oracle())
def q_url_canonical_dedup(spark, sf_dir):
    """Canonical-URL dedup — the crawl-ingest step upstream of text
    dedup. The corpus has no URL column, so a deterministic raw URL is
    synthesized per document first (scheme/host-case/www/trailing-slash/
    param-order/tracking-param/fragment/percent-escape/ccTLD noise
    keyed off doc_id — the ``pii_redact_stats`` fixture-extension
    precedent; same construction in the oracle), then canonicalized
    (``functions/urls.py``: RFC 3986 percent-normalization, drop
    scheme+fragment, fold host case, strip www./trailing slashes, drop
    utm_*/fbclid-class params, sort survivors) and exact-deduped on the
    canonical string, with the public-suffix-aware registrable domain.
    Pure Catalyst expressions end-to-end: map-only canonicalization +
    one hash aggregation — the cheapest dedup in the pipeline, which
    is why crawl ingest runs it first."""
    from lightsaber_spark.functions.urls import canonical_url_dedup

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    kept = F.when(did % 4 < 2, F.concat(F.lit("id="), (did % 3).cast("string")))
    utm = F.when(did % 7 == 0, F.lit("utm_source=feed"))
    fb = F.when(did % 9 == 0, F.concat(F.lit("fbclid=x"), did.cast("string")))
    qs = F.when(did % 8 < 4, F.concat_ws("&", kept, utm, fb)).otherwise(
        F.concat_ws("&", utm, fb, kept)
    )
    url = F.concat(
        F.when(did % 5 == 0, F.lit("HTTPS"))
        .when(did % 2 == 0, F.lit("https"))
        .otherwise(F.lit("http")),
        F.lit("://"),
        F.when(
            did % 17 == 0, F.concat(F.lit("u"), did.cast("string"), F.lit("@"))
        ).otherwise(F.lit("")),
        F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        # %33 ∈ {0,12} ⊂ %3=0: bare-suffix hosts that always carry
        # www. — the registrable site IS www.<suffix>, exercising the
        # keep-branch of the www guard in both engines
        F.when((did % 33 == 0) | (did % 33 == 12), F.lit(""))
        .when(did % 11 == 0, F.upper(F.col("source")))
        .otherwise(F.col("source")),
        # ccTLD noise: PSL exception (www.ck), two-label registry
        # (co.uk), three-label US locality (k12.ca.us), wildcard (*.ck)
        F.when(did % 33 == 0, F.lit("foo.ck"))
        .when(did % 33 == 12, F.lit("co.uk"))
        .when(did % 19 == 0, F.lit(".www.ck"))
        .when(did % 21 == 0, F.lit(".co.uk"))
        .when(did % 21 == 7, F.lit(".k12.ca.us"))
        .when(did % 21 == 14, F.lit(".foo.ck"))
        .otherwise(F.lit(".example.com")),
        F.when(did % 13 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        (did % 40).cast("string"),
        # percent-escape noise: unreserved escape (decodes to /x~y),
        # its decoded twin, a reserved escape (uppercases, stays
        # encoded), and an invalid escape (literal passthrough)
        F.when(did % 14 == 0, F.lit("/x%7ey"))
        .when(did % 14 == 7, F.lit("/x~y"))
        .when(did % 23 == 0, F.lit("/f%2fg"))
        .when(did % 25 == 0, F.lit("/b%zzq"))
        .otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        F.when(
            did % 10 == 0, F.concat(F.lit("#sec"), (did % 2).cast("string"))
        ).otherwise(F.lit("")),
    )
    return canonical_url_dedup(d.select("doc_id", url.alias("url")))


#: the r13 full-PSL query's host shapes — one per DEEP rule class the
#: generated tables added beyond the r12 hand dict: four-label suffix,
#: two-label wildcard base, three-label exception (alone and with a
#: subdomain), an ACE IDN registry suffix — plus the shallow classes
#: for contrast (plain, two-label, www-noise, three-label, one-label
#: wildcard, two-label exception, IP literal)
_DEEP_PSL_HOSTS = (
    "example.com",            # default rule
    "sub.example.co.uk",      # two-label suffix
    "www.foo.co.uk",          # www noise above a registrable site
    "district.k12.ca.us",     # three-label suffix
    "x.pvt.k12.ma.us",        # FOUR-label suffix (pvt.k12.ma.us)
    "a.shop.foo.ck",          # one-label wildcard (*.ck)
    "b.x.bar.kawasaki.jp",    # two-label wildcard (*.kawasaki.jp)
    "city.kawasaki.jp",       # three-label EXCEPTION, bare
    "docs.city.kawasaki.jp",  # three-label EXCEPTION, subdomain
    "www.ck",                 # two-label exception (www IS the site)
    "foo.xn--55qx5d.cn",      # IDN registry suffix (公司.cn as ACE)
    "192.168.1.1",            # IP literal: no registrable domain
)


def _deep_psl_oracle() -> str:
    hosts_case = " ".join(
        f"WHEN doc_id % 12 = {i} THEN '{h}'"
        for i, h in enumerate(_DEEP_PSL_HOSTS)
    )
    return f"""
    WITH raw AS (SELECT doc_id,
        'http://' || CASE {hosts_case} END
        || '/p/' || CAST(doc_id % 5 AS VARCHAR)
        || CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x' ELSE '' END AS url
      FROM documents),
    {duckdb_url_canon_ctes("raw")}
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS rep_doc_id
    FROM c GROUP BY 1
    """


@query("url_deep_psl_domains", _deep_psl_oracle())
def q_url_deep_psl_domains(spark, sf_dir):
    """Registrable-domain rollup over the DEEP PSL rule classes the
    r13 full-table generation added (psl_data.py — four-label
    suffixes, two-label wildcard bases, three-label exceptions, ACE
    IDN registries): a deterministic host per doc_id cycles through
    one shape per class (``_DEEP_PSL_HOSTS``), then the shared
    canonicalization core groups by registrable domain. The driver
    oracle runs the SAME synthesis through the DuckDB ladder — the
    deep branches are exercised by the cross-engine value hash, not
    just pytest. Map-only canonicalization + one hash agg."""
    from lightsaber_spark.functions.urls import canonicalized_docs

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    host = F.when(did % 12 == 0, F.lit(_DEEP_PSL_HOSTS[0]))
    for i, h in enumerate(_DEEP_PSL_HOSTS[1:], start=1):
        host = host.when(did % 12 == i, F.lit(h))
    url = F.concat(
        F.lit("http://"),
        host,
        F.lit("/p/"),
        (did % 5).cast("string"),
        F.when(did % 3 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
    )
    c = canonicalized_docs(d.select("doc_id", url.alias("url")), "url", "doc_id")
    return c.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("_id").cast("bigint").alias("rep_doc_id"),
    )


def _private_psl_oracle() -> str:
    return f"""
    WITH raw AS (SELECT doc_id,
        'http://' ||
        CASE doc_id % 10
          WHEN 0 THEN 'user' || CAST(doc_id % 7 AS VARCHAR) || '.github.io'
          WHEN 1 THEN 'www.github.io'
          WHEN 2 THEN 'a.user3.github.io'
          WHEN 3 THEN 'blog' || CAST(doc_id % 5 AS VARCHAR) || '.blogspot.com'
          WHEN 4 THEN 'x.y.compute.amazonaws.com'
          WHEN 5 THEN 'b.s3.dualstack.ap-south-1.amazonaws.com'
          WHEN 6 THEN 'sub.example.co.uk'
          WHEN 7 THEN 'a.shop.foo.ck'
          WHEN 8 THEN 'www.user' || CAST(doc_id % 3 AS VARCHAR) || '.github.io'
          ELSE 'q.w.compute.amazonaws.com.cn'
        END || '/p/' || CAST(doc_id % 4 AS VARCHAR) AS url
      FROM documents),
    {duckdb_url_canon_ctes("raw", include_private=True)}
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS rep_doc_id
    FROM c GROUP BY 1
    """


@query("url_private_psl_domains", _private_psl_oracle())
def q_url_private_psl_domains(spark, sf_dir):
    """PRIVATE-section PSL rollup (r13 opt-in,
    ``registrable_domain(include_private=True)``): hosted-content
    platforms become suffixes, so ``user1.github.io`` and
    ``user2.github.io`` are DIFFERENT registrable domains (the
    ICANN-only default groups every GitHub Pages site under one
    ``github.io`` key — the mis-grouping a crawl-dedup user hits
    first on hosted content). Host shapes cover each private rule
    class: depth-2/3 plain (github.io, blogspot), depth-5 plain (S3
    dualstack buckets), base-depth-3 and -4 wildcards
    (``*.compute.amazonaws.com[.cn]``), the www-guard over a private
    suffix (``www.github.io`` keeps its www; ``www.userN.github.io``
    strips it), with ICANN shapes mixed in (merged-rule semantics).
    The oracle runs the SAME synthesis through the private-mode DuckDB
    ladder. Uses the STAGED frame form (registrable_domains_frame):
    the inline expression form's branch-local tail copies push the
    private-table CASE past codegen limits and the plan falls back to
    per-row interpretation — measured 36 s vs ~0.5 s warm at sf0.1
    (r13; the same staging lesson as canonical_url_dedup's _raw_host
    boundary)."""
    from lightsaber_spark.functions.urls import registrable_domains_frame

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    m = did % 10
    host = (
        F.when(m == 0, F.concat(F.lit("user"), (did % 7).cast("string"),
                                F.lit(".github.io")))
        .when(m == 1, F.lit("www.github.io"))
        .when(m == 2, F.lit("a.user3.github.io"))
        .when(m == 3, F.concat(F.lit("blog"), (did % 5).cast("string"),
                               F.lit(".blogspot.com")))
        .when(m == 4, F.lit("x.y.compute.amazonaws.com"))
        .when(m == 5, F.lit("b.s3.dualstack.ap-south-1.amazonaws.com"))
        .when(m == 6, F.lit("sub.example.co.uk"))
        .when(m == 7, F.lit("a.shop.foo.ck"))
        .when(m == 8, F.concat(F.lit("www.user"), (did % 3).cast("string"),
                               F.lit(".github.io")))
        .otherwise(F.lit("q.w.compute.amazonaws.com.cn"))
    )
    url = F.concat(F.lit("http://"), host, F.lit("/p/"), (did % 4).cast("string"))
    doms = registrable_domains_frame(
        d.select("doc_id", url.alias("url")),
        "url",
        "doc_id",
        include_private=True,
    )
    return doms.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("rep_doc_id"),
    )


def _html_extraction_oracle() -> str:
    from lightsaber_spark.functions.html import duckdb_html_to_text

    et = duckdb_html_to_text("html")
    return f"""
    WITH raw AS (SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
        || '<style>p {{ margin: 0; }}</style>'
        || CASE WHEN doc_id % 3 = 0
                THEN '<script>var v = 1 < 2; // ' || CAST(doc_id AS VARCHAR) || '</script>'
                ELSE '' END
        || '</head><body>'
        || CASE WHEN doc_id % 4 = 0
                THEN '<!-- crawler ' || CAST(doc_id AS VARCHAR) || ' -->'
                ELSE '' END
        || '<h1>' || source || ' &amp; co</h1>'
        || '<p>' || COALESCE(text, '') || '</p>'
        || CASE WHEN doc_id % 5 = 0
                THEN '<div class="ad">SPONSORED&nbsp;&quot;' || CAST(doc_id % 7 AS VARCHAR)
                     || '&#39;&quot; &lt;promo&gt;</div>'
                ELSE '' END
        || '<ul><li>nav</li><li >about</li></ul></body></html>' AS html
      FROM documents),
    ext AS (SELECT doc_id, length(html) AS n_raw, {et} AS et FROM raw)
    SELECT doc_id,
           CAST(n_raw AS BIGINT) AS n_raw_chars,
           CAST(length(et) AS BIGINT) AS n_chars,
           (CAST(length(et) AS BIGINT) * 1000) // greatest(n_raw, 1)
             AS text_permille,
           CAST(len(regexp_extract_all(lower(et), '[a-z0-9]+')) AS BIGINT)
             AS n_tokens,
           {H60.format(x="et")} AS text_h
    FROM ext
    """


@query("html_text_extraction", _html_extraction_oracle())
def q_html_text_extraction(spark, sf_dir):
    """HTML → text extraction — the crawl-ingest stage UPSTREAM of the
    whole text ladder (quality gates, dedup, packing all assume plain
    text; a real 100 TB pipeline starts from raw crawled HTML). The
    corpus has no HTML column, so a deterministic page is synthesized
    per document (title/style/script/comment/heading/ad-block/nav
    boilerplate keyed off doc_id, the document's text as body — the
    url_canonical_dedup fixture-extension precedent; identical
    synthesis in the oracle), then stripped by the pure-Catalyst
    pipeline in ``functions/html.py`` (script/style/comment removal,
    block tags → newlines, inline tags → spaces, entity decode,
    whitespace normalization — each stage mirrored token-for-token in
    the DuckDB twin). Output fingerprints the extraction per doc:
    extracted length, token count, md5-prefix text hash. Map-only,
    zero Python, zero shuffles — scan-shaped at any scale."""
    from lightsaber_spark.functions.dedup import shingle_hash
    from lightsaber_spark.functions.html import html_to_text

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    ds = did.cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), ds, F.lit("</title>"),
        F.lit("<style>p { margin: 0; }</style>"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("<script>var v = 1 < 2; // "), ds,
                     F.lit("</script>")),
        ).otherwise(F.lit("")),
        F.lit("</head><body>"),
        F.when(
            did % 4 == 0,
            F.concat(F.lit("<!-- crawler "), ds, F.lit(" -->")),
        ).otherwise(F.lit("")),
        F.lit("<h1>"), F.col("source"), F.lit(" &amp; co</h1>"),
        F.lit("<p>"), F.coalesce(F.col("text"), F.lit("")), F.lit("</p>"),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit('<div class="ad">SPONSORED&nbsp;&quot;'),
                (did % 7).cast("string"),
                F.lit("&#39;&quot; &lt;promo&gt;</div>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("<ul><li>nav</li><li >about</li></ul></body></html>"),
    )
    extracted = d.select(
        "doc_id",
        F.length(html).alias("n_raw"),
        html_to_text(html).alias("et"),
    )
    # text_permille = extracted/raw density — the classic boilerplate
    # signal (ad/nav-heavy pages score low). Integer division on BOTH
    # engines (DIV / //): DuckDB's float→BIGINT cast rounds where
    # Spark's truncates (CLAUDE.md gotcha), so never a quotient+cast.
    return extracted.select(
        "doc_id",
        F.col("n_raw").cast("bigint").alias("n_raw_chars"),
        F.length("et").cast("bigint").alias("n_chars"),
        F.expr(
            "(CAST(length(et) AS BIGINT) * 1000) DIV greatest(n_raw, 1)"
        ).alias("text_permille"),
        F.size(F.regexp_extract_all(F.lower("et"), F.lit("[a-z0-9]+"), F.lit(0)))
        .cast("bigint")
        .alias("n_tokens"),
        shingle_hash(F.col("et")).alias("text_h"),
    )


# --------------------------------------------------------------------------
# HTML hyperlink extraction → crawl graph (r14 verdict #3): the OTHER
# half of crawl ingest — the r14 text stage feeds the quality/dedup
# ladder, the link stage feeds frontier construction and domain-graph
# signals. Shared deterministic page-with-links synthesis keyed off
# doc_id (the url_canonical_dedup precedent), exercised link shapes:
# always-present varied-host link (optional www./tracking params),
# relative href (extracted; dropped by the absolute-only gate
# downstream), single-quoted href (NOT extracted — double-quote-only
# scope, identically on both engines), uppercase <A HREF="HTTP://...">
# (case-variant tag + scheme + :80 port), no-href <a name=...> anchor
# (not a link).
# --------------------------------------------------------------------------

def _link_page_spark() -> F.Column:
    did = F.col("doc_id")

    def s(c):
        return c.cast("string")

    scheme_a = (
        F.when(did % 5 == 0, F.lit("HTTPS"))
        .when(did % 2 == 0, F.lit("https"))
        .otherwise(F.lit("http"))
    )
    www_a = F.when(did % 3 == 0, F.lit("www.")).otherwise(F.lit(""))
    host_a = (
        F.when(did % 6 == 0, F.lit("example.com"))
        .when(did % 6 == 1, F.lit("foo.co.uk"))
        .when(did % 6 == 2, F.lit("blog.example.com"))
        .when(did % 6 == 3, F.lit("shop.foo.ck"))
        .when(did % 6 == 4, F.lit("district.k12.ca.us"))
        .otherwise(F.concat(F.col("source"), F.lit(".net")))
    )
    q_a = (
        F.when(did % 4 == 0, F.concat(F.lit("?utm_source=x&id="), s(did % 5)))
        .when(did % 4 == 2, F.concat(F.lit("?id="), s(did % 5),
                                     F.lit("&utm_campaign=c")))
        .otherwise(F.lit(""))
    )
    return F.concat(
        F.lit("<html><body><h1>"), F.col("source"), F.lit("</h1><p>"),
        F.coalesce(F.col("text"), F.lit("")), F.lit("</p>"),
        F.lit('<a href="'), scheme_a, F.lit("://"), www_a, host_a,
        F.lit("/l/"), s(did % 40), q_a,
        F.lit('">Read <b>more</b> &amp; t'), s(did % 7), F.lit("</a>"),
        F.when(
            did % 2 == 0,
            F.concat(F.lit('<a href="/local/'), s(did % 9),
                     F.lit('">local '), s(did % 9), F.lit("</a>")),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.lit("<a href='https://skip.example.org/x'>skipped</a>"),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit('<A HREF="HTTP://News.Example.com:80/u/'),
                s(did % 6), F.lit('?utm_source=f&id='), s(did % 3),
                F.lit('">UP '), s(did % 3), F.lit("</A>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit('<a name="top">top</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</body></html>"),
    )


_LINK_PAGE_SQL = """
        '<html><body><h1>' || source || '</h1><p>' || COALESCE(text, '')
        || '</p><a href="'
        || CASE WHEN doc_id % 5 = 0 THEN 'HTTPS'
                WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END
        || '://'
        || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
        || CASE WHEN doc_id % 6 = 0 THEN 'example.com'
                WHEN doc_id % 6 = 1 THEN 'foo.co.uk'
                WHEN doc_id % 6 = 2 THEN 'blog.example.com'
                WHEN doc_id % 6 = 3 THEN 'shop.foo.ck'
                WHEN doc_id % 6 = 4 THEN 'district.k12.ca.us'
                ELSE source || '.net' END
        || '/l/' || CAST(doc_id % 40 AS VARCHAR)
        || CASE WHEN doc_id % 4 = 0
                THEN '?utm_source=x&id=' || CAST(doc_id % 5 AS VARCHAR)
                WHEN doc_id % 4 = 2
                THEN '?id=' || CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=c'
                ELSE '' END
        || '">Read <b>more</b> &amp; t' || CAST(doc_id % 7 AS VARCHAR) || '</a>'
        || CASE WHEN doc_id % 2 = 0
                THEN '<a href="/local/' || CAST(doc_id % 9 AS VARCHAR)
                     || '">local ' || CAST(doc_id % 9 AS VARCHAR) || '</a>'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN '<a href=''https://skip.example.org/x''>skipped</a>'
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN '<A HREF="HTTP://News.Example.com:80/u/'
                     || CAST(doc_id % 6 AS VARCHAR)
                     || '?utm_source=f&id=' || CAST(doc_id % 3 AS VARCHAR)
                     || '">UP ' || CAST(doc_id % 3 AS VARCHAR) || '</A>'
                ELSE '' END
        || CASE WHEN doc_id % 11 = 0 THEN '<a name="top">top</a>' ELSE '' END
        || '</body></html>'
"""

#: absolute-URL gate for frontier/graph edges — any scheme://; applied
#: to the RAW href on both engines (relative links need the base URL
#: to resolve, out of scope for the graph rollup)
_ABS_URL_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"


def _link_extraction_oracle() -> str:
    from lightsaber_spark.functions.html import (
        duckdb_clean_anchor,
        duckdb_extract_links,
    )

    hrefs, anchors = duckdb_extract_links("html")
    return f"""
    WITH raw AS (SELECT doc_id, {_LINK_PAGE_SQL} AS html FROM documents),
    l AS (SELECT doc_id, {hrefs} AS hr, {anchors} AS an FROM raw),
    e AS (SELECT doc_id, unnest(hr) AS href, unnest(an) AS an,
                 unnest(range(len(hr))) AS pos
          FROM l)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, href,
           {duckdb_clean_anchor("an")} AS anchor
    FROM e
    """


@query("html_link_extraction", _link_extraction_oracle())
def q_html_link_extraction(spark, sf_dir):
    """Hyperlink extraction from raw HTML — the frontier half of crawl
    ingest (the r14 ``html_text_extraction`` stage is the text half).
    One regex pattern with two capture groups extracts positionally
    aligned href/anchor arrays (``functions/html.py extract_hrefs`` /
    ``extract_anchors``), zipped and exploded to one row per link;
    anchor bodies (which carry inline tags and entities) are cleaned
    AFTER the explode so the cleanup chain stays a codegen'd column
    pipeline. Single-quoted hrefs and href-less ``<a name=...>``
    anchors are skipped identically on both engines (documented
    double-quote scope). Map-only + explode — scan-shaped, no
    shuffle at any scale."""
    from lightsaber_spark.functions.html import (
        clean_anchor_text,
        extract_anchors,
        extract_hrefs,
    )

    d = _docs(spark, sf_dir)
    page = _link_page_spark()
    links = d.select(
        "doc_id",
        extract_hrefs(page).alias("hr"),
        extract_anchors(page).alias("an"),
    )
    return links.select(
        "doc_id",
        F.posexplode(F.arrays_zip("hr", "an")).alias("pos", "z"),
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("z.hr").alias("href"),
        clean_anchor_text(F.col("z.an")).alias("anchor"),
    )


def _crawl_graph_oracle() -> str:
    from lightsaber_spark.functions.html import duckdb_extract_links

    hrefs, _ = duckdb_extract_links("html")
    return f"""
    WITH raw0 AS (SELECT doc_id, {_LINK_PAGE_SQL} AS html FROM documents),
    l AS (SELECT doc_id, unnest({hrefs}) AS href FROM raw0),
    raw AS (SELECT doc_id, href AS url FROM l
            WHERE regexp_matches(href, '{_ABS_URL_RE}')),
    {duckdb_url_canon_ctes("raw")}
    SELECT d.source || '.com' AS src_domain, c.domain AS dst_domain,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_docs
    FROM c JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """


@query("crawl_graph_domains", _crawl_graph_oracle())
def q_crawl_graph_domains(spark, sf_dir):
    """Crawl-graph rollup: registrable-domain edges from each page's
    outbound links — the domain-graph signal CCNet-class pipelines use
    for source quality (link farms, SEO clusters) and crawl scheduling.
    Composes three green families end-to-end: HTML link extraction →
    absolute-URL gate on the RAW href (relative links need base-URL
    resolution, out of scope) → the full URL canonicalization /
    PSL-registrable-domain ladder — then one hash aggregation to
    ``(src_domain, dst_domain)`` edges with link and distinct-doc
    counts. The source side keys off the document's own source feed
    (``source || '.com'``). Map-only + explode + one shuffle on the
    edge key — the 100 TB shape. The domain ladder runs through
    ``canonicalized_docs`` (the staged core shared with
    ``url_canonical_dedup``): calling ``registrable_domain`` raw in a
    multi-consumer select re-pays the big-literal PSL InSet
    ColumnNode→JVM conversion per select (CLAUDE.md gotcha — measured
    60 s vs 4 s here) and loses the projected host boundary."""
    from lightsaber_spark.functions.html import extract_hrefs
    from lightsaber_spark.functions.urls import canonicalized_docs

    d = _docs(spark, sf_dir)
    page = _link_page_spark()
    links = d.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".com")).alias("src_domain"),
        F.explode(extract_hrefs(page)).alias("href"),
    ).filter(F.col("href").rlike(_ABS_URL_RE))
    c = canonicalized_docs(
        links, url_col="href", id_col="doc_id", carry_cols=("src_domain",)
    )
    return c.groupBy(
        "src_domain", F.col("domain").alias("dst_domain")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.countDistinct("_id").cast("bigint").alias("n_docs"),
    )


# --------------------------------------------------------------------------
# Frozen-table BPE encode (r14 verdict #7) — strong-checks the BPE
# APPLY step that bpe_tokenize_docs leaves rows-only (its table is
# learned per-corpus; this one ships a frozen table like production
# tokenizers), shrinking what the rows-only pair leaves unchecked to
# the learner itself.
# --------------------------------------------------------------------------


def _bpe_frozen_oracle() -> str:
    from lightsaber_spark.functions.text import duckdb_bpe_encode_frozen

    enc = duckdb_bpe_encode_frozen("w")
    h = H60.format(x="w || ':' || e")
    return f"""
    WITH occ AS (SELECT doc_id, unnest({TOKS}) AS w FROM documents),
    vocab AS (SELECT DISTINCT w FROM occ),
    enc AS (SELECT w, {enc} AS e FROM vocab),
    env AS (SELECT w,
            CAST(len(string_split(e, '||')) - 2 AS BIGINT) AS n_sub,
            ({h}) % 1000000000 AS h
            FROM enc)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_sub) AS BIGINT) AS n_subwords,
           CAST(sum(h) AS BIGINT) AS enc_h
    FROM occ JOIN env USING (w)
    GROUP BY 1
    """


@query("bpe_encode_frozen", _bpe_frozen_oracle())
def q_bpe_encode_frozen(spark, sf_dir):
    """BPE encoding under a FROZEN merge table
    (``functions/bpe_frozen.py``, learned once from the sf0.001 corpus
    by the deterministic ``learn_bpe_merges`` and checked in — the
    production-tokenizer shape: train once, freeze, apply everywhere).
    Encoding runs per WORD TYPE (distinct words), not per occurrence —
    the 100 TB form: the Zipf-bounded vocab takes the 50-stage
    replace chain (``bpe_encode_frozen_expr``, pure Catalyst, zero
    Python), then one equi-join fans results back to occurrences and
    one aggregation rolls up per doc (word count, subword count,
    order-independent bounded hash of the encodings). The greedy-loop
    equivalence argument and the double-separator trick live in
    ``functions/text.py``; freezing provenance is pinned by calling
    ``frozen_bpe_sha`` below so regeneration moves this query's
    staleness hash (generated data constants are not chased)."""
    from lightsaber_spark.functions.bpe_frozen import frozen_bpe_sha
    from lightsaber_spark.functions.dedup import shingle_hash
    from lightsaber_spark.functions.text import bpe_encode_frozen_expr, tokens

    _ = frozen_bpe_sha()  # staleness anchor for the generated table
    d = _docs(spark, sf_dir)
    occ = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    vocab = occ.select("w").distinct()
    env = vocab.select(
        "w", bpe_encode_frozen_expr(F.col("w")).alias("e")
    ).select(
        "w",
        (F.size(F.split("e", r"\|\|")) - 2).cast("bigint").alias("n_sub"),
        (
            shingle_hash(F.concat(F.col("w"), F.lit(":"), F.col("e")))
            % 1000000000
        ).alias("h"),
    )
    return (
        occ.join(env, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
            F.sum("h").cast("bigint").alias("enc_h"),
        )
    )


# --------------------------------------------------------------------------
# Learned quality classifier (r14 verdict #2) — the fastText-class
# rung: train a tiny integer linear model on a labeled subset
# (teacher = a held-out linear quality gate), score the whole corpus
# with the frozen weights. Trainer in functions/classifier.py
# (quantized-centroid init + damped batch perceptron, fixed rounds);
# the ENTIRE fit unrolls into the DuckDB oracle below — the
# k-means-unrolled-oracle pattern — so the driver strong-checks the
# training, not just the scoring.
# --------------------------------------------------------------------------

_QL_K = 8          # hash buckets (features f0..f7)
_QL_ROUNDS = 4     # fixed refinement rounds (static dataflow)
_QL_SHIFT = 2      # damping exponent (measured stable; 0 oscillates)

#: teacher rule — an integer linear gate over (capped token count,
#: type-token ratio, alpha share), thresholds centered on the corpus
#: distributions (~49% positive at sf0.01)
_QL_TEACHER = "2*f{k} + f{k1} + 3*(f{k2} - 800) >= 640"


def _learned_quality_oracle(
    k: int = _QL_K, rounds: int = _QL_ROUNDS, shift: int = _QL_SHIFT
) -> str:
    d = k + 3

    def bucket(j: int) -> str:
        return (
            f"CAST((len(list_filter(toks, x -> "
            f"('0x'||substr(md5(x),1,15))::BIGINT % {k} = {j})) * 1000)"
            f" // greatest(len(toks),1) AS BIGINT)"
        )

    feat0 = ", ".join(
        [f"{bucket(j)} AS f{j}" for j in range(k)]
        + [
            f"CAST(least(len(toks), 1000) AS BIGINT) AS f{k}",
            f"CAST((len(list_distinct(toks)) * 1000)"
            f" // greatest(len(toks),1) AS BIGINT) AS f{k + 1}",
            f"CAST((length(regexp_replace(tx, '[^A-Za-z]', '', 'g')) * 1000)"
            f" // greatest(length(tx),1) AS BIGINT) AS f{k + 2}",
        ]
    )
    teacher = _QL_TEACHER.format(k=k, k1=k + 1, k2=k + 2)
    sums = ", ".join(
        [
            f"CAST(sum(CASE WHEN y = 1 THEN f{j} ELSE 0 END) AS BIGINT)"
            f" AS s1_{j}"
            for j in range(d)
        ]
        + [
            f"CAST(sum(CASE WHEN y = 0 THEN f{j} ELSE 0 END) AS BIGINT)"
            f" AS s0_{j}"
            for j in range(d)
        ]
        + [
            "CAST(greatest(sum(y), 1) AS BIGINT) AS n1",
            "CAST(greatest(sum(1 - y), 1) AS BIGINT) AS n0",
            "CAST(count(*) AS BIGINT) AS n",
        ]
    )
    # HALF_UP integer means (features are non-negative, so no sign
    # dance needed); // truncates identically on both engines
    means = ", ".join(
        f"CAST((2*s1_{j} + n1) // (2*n1) AS BIGINT) AS m1_{j}, "
        f"CAST((2*s0_{j} + n0) // (2*n0) AS BIGINT) AS m0_{j}"
        for j in range(d)
    )
    sq1 = " + ".join(f"m1_{j}*m1_{j}" for j in range(d))
    sq0 = " + ".join(f"m0_{j}*m0_{j}" for j in range(d))
    w0 = (
        "SELECT "
        + ", ".join(
            f"CAST(2*(m1_{j} - m0_{j}) AS BIGINT) AS w{j}" for j in range(d)
        )
        + f", CAST(({sq0}) - ({sq1}) AS BIGINT) AS b, n FROM m"
    )

    def margin(alias: str) -> str:
        return (
            " + ".join(f"{alias}.w{j}*f{j}" for j in range(d))
            + f" + {alias}.b"
        )

    round_ctes = []
    for t in range(rounds):
        prev = f"w{t}" if t else "w0"
        denom = f"(g.n * {2 ** (t + shift)})"
        grads = ", ".join(
            [
                f"CAST(sum(f{j} * e) AS BIGINT) AS g{j}"
                for j in range(d)
            ]
            + ["CAST(sum(e) AS BIGINT) AS gb", "any_value(n) AS n"]
        )
        # e = y - pred against the previous round's weights; DuckDB //
        # truncates toward zero (negative gradients included) — the
        # exact twin of classifier._tdiv
        round_ctes.append(
            f"""e{t} AS (SELECT tr.*, w.n,
           (y - CASE WHEN {margin('w')} > 0 THEN 1 ELSE 0 END) AS e
           FROM tr, {prev} w),
    g{t} AS (SELECT {grads} FROM e{t}),
    w{t + 1} AS (SELECT
           {", ".join(f"CAST(w.w{j} + (2*g.g{j}) // {denom} AS BIGINT) AS w{j}" for j in range(d))},
           CAST(w.b + (2*g.gb) // {denom} AS BIGINT) AS b, g.n AS n
           FROM {prev} w, g{t} g)"""
        )
    rounds_sql = ",\n    ".join(round_ctes)
    return f"""
    WITH t AS (SELECT doc_id, COALESCE(text, '') AS tx, {TOKS} AS toks
               FROM documents),
    feat0 AS (SELECT doc_id, {feat0} FROM t),
    feat AS (SELECT *, CASE WHEN {teacher} THEN 1 ELSE 0 END AS y
             FROM feat0),
    tr AS (SELECT * FROM feat WHERE doc_id % 4 < 3),
    c0 AS (SELECT {sums} FROM tr),
    m AS (SELECT {means}, n FROM c0),
    w0 AS ({w0}),
    {rounds_sql}
    SELECT doc_id, CAST(y AS BIGINT) AS label,
           CAST(CASE WHEN {margin('w')} > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS pred,
           CAST({margin('w')} AS BIGINT) AS margin
    FROM feat, w{rounds} w
    """


@query(
    "quality_learned_classifier",
    _learned_quality_oracle(),
    eager=True,  # perceptron fit: rounds + 1 one-row collects
    watch=True,  # build-heavy fit, a bench headline query
)
def q_quality_learned_classifier(spark, sf_dir):
    """Learned quality scorer — the missing rung between the
    rule-based gates (``documents_quality_gate``,
    ``quality_linear_score_topk``) and a production CCNet/fastText
    classifier: train a tiny integer linear model on a labeled subset
    (here the teacher is a held-out linear quality gate over token
    count / type-token ratio / alpha share — the classifier sees those
    plus 8 hashed token-bucket shares and must RECOVER the gate), then
    score every document with the frozen weights as one lazy map.

    Trainer: ``functions/classifier.py centroid_perceptron_fit`` —
    quantized-centroid init + ``_QL_ROUNDS`` damped batch-perceptron
    rounds, every step exact integer arithmetic, each round one
    bounded collect of d+2 integers (the ``kmeans_fit_scaled`` class;
    ``tests/test_lazy_build.py`` whitelist). The DuckDB oracle unrolls
    the ENTIRE fit (centroid means, every refinement round) so the
    driver strong-checks training and scoring end-to-end. Scoring at
    100 TB is a map with 12 integer multiply-adds per row; training
    cost is ``rounds + 1`` aggregations over the train subset, each
    collapsing to one row."""
    from lightsaber_spark.functions.classifier import (
        centroid_perceptron_fit,
        margin_expr,
        quality_feature_frame,
    )

    from lightsaber_spark.functions.dedup import register_cache

    k = _QL_K
    fcols = [f"f{j}" for j in range(k + 3)]
    feats = quality_feature_frame(_docs(spark, sf_dir), k=k)
    # r15 OPT (guide §5): persist the FULL featurized frame once and
    # share it between the fit and corpus-wide scoring. Before, the
    # fit persisted only the 3/4 train slice and the scoring plan
    # re-ran the Arrow featurizer over all documents — 1.75 corpus
    # featurization passes per run; now exactly one. The cached rows
    # are d+2 integers each (narrow; spills rather than OOMs), the
    # register_cache lifecycle unpersists per bench/parity pass.
    labeled = register_cache(
        feats.withColumn(
            "y",
            F.when(
                2 * F.col(f"f{k}") + F.col(f"f{k + 1}")
                + 3 * (F.col(f"f{k + 2}") - 800)
                >= 640,
                1,
            )
            .otherwise(0)
            .cast("bigint"),
        )
    )
    train = labeled.filter(F.col("doc_id") % 4 < 3)
    w = centroid_perceptron_fit(
        train, fcols, "y", rounds=_QL_ROUNDS, shift=_QL_SHIFT, persist=False
    )
    m = margin_expr(w, fcols)
    return labeled.select(
        "doc_id",
        F.col("y").alias("label"),
        F.when(m > 0, 1).otherwise(0).cast("bigint").alias("pred"),
        m.cast("bigint").alias("margin"),
    )


_LEV_PERMILLE = 400
# hot-bucket valve: > largest genuine family at every shipped scale
# (max observed bucket: 5 at sf0.01, 16 at sf0.1, ~160 in the 10×
# smoke corpus) — a no-op on the correctness gates, a bound at 100 TB
_LEV_MAX_BUCKET = 256


def _minhash_lev_oracle(n_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    consts, r, mins, band_cols, stacked = minhash_sig_parts(
        n_hashes, bands, seed
    )
    return f"""
    WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM toks),
    xs AS (SELECT doc_id, ({H60.format(x='s')}) % {X_BITS} AS x FROM sh),
    sig AS (SELECT doc_id,
           {mins}
           FROM xs GROUP BY 1),
    banded AS (SELECT doc_id,
           {band_cols}
           FROM sig),
    stacked AS ({stacked}),
    keepb AS (SELECT band, bucket
              FROM (SELECT band, bucket, count(*) AS c FROM stacked GROUP BY 1, 2)
              WHERE c <= {_LEV_MAX_BUCKET}),
    kept AS (SELECT s.* FROM stacked s JOIN keepb USING (band, bucket)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM kept a JOIN kept b
               ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
    FROM cand c JOIN documents a ON c.id_a = a.doc_id
                JOIN documents b ON c.id_b = b.doc_id
    WHERE levenshtein(a.text, b.text) * 1000
          <= {_LEV_PERMILLE} * greatest(length(a.text), length(b.text))
    """


@query("dedup_minhash_levenshtein", _minhash_lev_oracle())
def q_dedup_minhash_lev(spark, sf_dir):
    """Fuzzy dedup with an edit-distance verifier: banded-MinHash
    retrieval (equi-joins only) → JVM ``levenshtein`` on candidates
    only, kept at normalized distance <= 40%. Complements the
    Jaccard verifier: order-sensitive (shuffled near-dups score far
    apart here), and the O(len²) cost is confined to the candidate
    set."""
    from lightsaber_spark.functions.dedup import minhash_levenshtein_pairs

    return minhash_levenshtein_pairs(
        _docs(spark, sf_dir),
        max_dist_permille=_LEV_PERMILLE,
        max_bucket=_LEV_MAX_BUCKET,
    )


_PMI_MIN_CNT = 5


@query(
    "collocations_pmi_topk",
    f"""
    WITH t AS (SELECT {TOKS} AS toks FROM documents),
    u0 AS (SELECT unnest(toks) AS w FROM t),
    uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cw FROM u0 GROUP BY 1),
    n AS (SELECT CAST(sum(cw) AS BIGINT) AS nt FROM uni),
    g0 AS (SELECT CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
                  ELSE [] END AS gs FROM t),
    bi AS (SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(gs) AS ngram FROM g0) GROUP BY 1
           HAVING count(*) >= {_PMI_MIN_CNT})
    SELECT ngram, cnt, c1.cw AS cnt_w1, c2.cw AS cnt_w2,
           cnt * nt * 1.0 / (c1.cw * c2.cw) AS pmi_score
    FROM bi, n
    JOIN uni c1 ON split_part(ngram, ' ', 1) = c1.w
    JOIN uni c2 ON split_part(ngram, ' ', 2) = c2.w
    ORDER BY pmi_score DESC, ngram LIMIT {_TOP_BIGRAMS_K}
    """,
)
def q_collocations_pmi(spark, sf_dir):
    """Collocation extraction: top-k bigrams by log-free PMI — the
    rational score ``cnt(xy)·N / (cnt(x)·cnt(y))`` is monotone in PMI
    and stays exact: integer products (< 2^53) then ONE IEEE division,
    identical on both engines. Unigram/bigram tables are map-side-combinable aggregates; the scalar token total joins in as a 1-row
    broadcast; the top-k is TakeOrderedAndProject."""
    from lightsaber_spark.functions.dedup import register_cache
    from lightsaber_spark.functions.text import corpus_ngram_counts

    docs = _docs(spark, sf_dir)
    # the unigram table feeds THREE consumers (nt + both join sides);
    # AQE exchange reuse is unreliable, so persist it (query-scoped
    # cache lifecycle — released by the harness after materialization)
    uni = register_cache(
        corpus_ngram_counts(docs, n=1).select(
            F.col("ngram").alias("w"), F.col("cnt").alias("cw")
        )
    )
    nt = uni.agg(F.sum("cw").cast("bigint").alias("nt"))
    bi = corpus_ngram_counts(docs, n=2).filter(F.col("cnt") >= _PMI_MIN_CNT)
    out = (
        bi.crossJoin(F.broadcast(nt))
        .join(
            uni.withColumnRenamed("w", "_w1").withColumnRenamed("cw", "cnt_w1"),
            F.split_part(F.col("ngram"), F.lit(" "), F.lit(1)) == F.col("_w1"),
        )
        .join(
            uni.withColumnRenamed("w", "_w2").withColumnRenamed("cw", "cnt_w2"),
            F.split_part(F.col("ngram"), F.lit(" "), F.lit(2)) == F.col("_w2"),
        )
        .select(
            "ngram",
            "cnt",
            "cnt_w1",
            "cnt_w2",
            (
                F.col("cnt") * F.col("nt") * F.lit(1.0)
                / (F.col("cnt_w1") * F.col("cnt_w2"))
            ).alias("pmi_score"),
        )
    )
    return out.orderBy(F.desc("pmi_score"), F.asc("ngram")).limit(_TOP_BIGRAMS_K)


_PASSAGE_K = 10


@query(
    "duplicated_passages_k10",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
                range(greatest(len(toks) - {_PASSAGE_K - 1}, 0)),
                i -> array_to_string(toks[i + 1:i + {_PASSAGE_K}], ' ')))) AS s
            FROM t)
    SELECT {H60.format(x='s')} AS passage_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM sh0 GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    """,
)
def q_duplicated_passages(spark, sf_dir):
    """Exact-substring-dedup approximation (Lee et al. 2021): every
    10-token run shared by >= 2 documents, as a passage table keyed by
    the 60-bit md5 hash. One explode + one hash aggregate."""
    from lightsaber_spark.functions.dedup import duplicated_passages

    return duplicated_passages(_docs(spark, sf_dir), k=_PASSAGE_K, min_docs=2)


@query(
    "multimodal_audio_decode_real",
    """
    WITH d AS (SELECT doc_id, doc_id % 200 + 50 AS n FROM documents),
    s AS (SELECT doc_id, n, ((doc_id + 1) * (i + 7)) % 4001 - 2000 AS v
          FROM d, range(0, 250) t(i) WHERE i < n)
    SELECT doc_id AS media_id,
           CAST(8000 * (doc_id % 3 + 1) AS BIGINT) AS sample_rate,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(abs(v)) AS BIGINT) AS amp_sum,
           CAST(sum(v * v) AS BIGINT) AS energy
    FROM s GROUP BY doc_id
    """,
    watch=True,  # real WAV codec on python workers, a bench headline query
)
def q_multimodal_audio_decode(spark, sf_dir):
    """REAL audio codec end-to-end: one genuine RIFF/WAVE PCM16 file
    per document (stdlib encoder) decoded by the stdlib WAV parser
    (magic + size verification, fmt/data chunk walk, int16 unpack) into
    exact integer signal stats. The oracle predicts sample counts,
    Σ|s| and Σs² from the closed-form waveform — any container-parse
    or sign-extension error diverges."""
    # r15 OPT (guide §4.1/§8): fused single-Python-pass encode→decode
    # (see multimodal_decode_real); bit-identical
    from lightsaber_spark.functions.multimodal import synthetic_wav_decoded

    return synthetic_wav_decoded(_docs(spark, sf_dir))


@query(
    "bpe_tokenize_docs",  # no SQL oracle: iterative merge learning
    eager=True,  # merge-table learning (bounded)
)
def q_bpe_tokenize(spark, sf_dir):
    """Real BPE tokenization end-to-end: merges learned from the corpus
    word-type table (Sennrich et al. 2016; deterministic count-desc /
    pair-asc tie-break), applied per document with the Arrow-batched
    greedy encoder. Driver-checked rows-only (the merge loop is
    iterative, not SQL-expressible); the strong checks are the pytest
    invariants: hand-computed merges on a known corpus, lossless
    detokenization, and monotone token counts.

    Documented EAGER exception (like ``ivf_topk``): learning collects
    the word-type frequency table (vocabulary-bounded, not
    corpus-bounded) at build time.
    """
    from lightsaber_spark.functions.dedup import shingle_hash
    from lightsaber_spark.functions.text import (
        bpe_tokenize_udf,
        learn_bpe_merges,
        token_count,
    )

    docs = _docs(spark, sf_dir)
    merges = learn_bpe_merges(docs, n_merges=40, min_count=2)
    toks = bpe_tokenize_udf(merges)(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_word_tokens"),
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        shingle_hash(F.concat_ws(" ", toks)).alias("tokens_hash"),
    )


@query(
    "text_collapse_repeats",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS l FROM documents),
    c AS (SELECT doc_id, l, list_filter(l, (x, i) -> i = 1 OR l[i-1] <> x) AS o FROM t)
    SELECT doc_id,
           array_to_string(o, ' ') AS cleaned,
           CAST(len(l) AS BIGINT) AS n_before,
           CAST(len(o) AS BIGINT) AS n_after
    FROM c
    """,
)
def q_collapse_repeats(spark, sf_dir):
    """Consecutive-duplicate-token collapse per document (crawl-artifact
    cleaning) — Arrow-batched, map-only; non-vacuous on this corpus
    (the synthetic word soup contains genuine runs)."""
    from lightsaber_spark.functions.text import collapse_repeats_udf

    s = collapse_repeats_udf()(F.col("text")).alias("s")
    return _docs(spark, sf_dir).select("doc_id", s).select(
        "doc_id", "s.cleaned", "s.n_before", "s.n_after"
    )


@query(
    "window_zscore_outliers",
    """
    WITH e AS (SELECT event_id, event_type,
                      (epoch_us(ts) // 86400000000) * 86400 AS window_start,
                      CAST(round(value * 100) AS BIGINT) AS x
               FROM events),
    st AS (SELECT window_start, event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x) AS BIGINT) AS s,
                  CAST(sum(x * x) AS BIGINT) AS q
           FROM e GROUP BY 1, 2
           HAVING count(*) >= 10)
    SELECT e.event_id, e.window_start, e.event_type, st.n AS n_pop
    FROM e JOIN st USING (window_start, event_type)
    WHERE (st.n * e.x - st.s) * (st.n * e.x - st.s)
          > 4 * (st.n * st.q - st.s * st.s)
    """,
)
def q_window_zscore_outliers(spark, sf_dir):
    """Windowed anomaly detection: events more than 2 population
    standard deviations from their (tumbling 1-day window × event_type)
    mean. The z-score test is algebraically cleared of division and
    sqrt — ``(n·x − s)² > k²·(n·q − s²)`` over integer cents — so the
    flagging is EXACT on both engines (no float epsilon at the
    boundary). Plan: one map-side-combinable stats aggregate + an
    equi-join of events to their window's stats row; windows with
    n < 10 are skipped (z-scores are meaningless on tiny populations).
    Integer headroom: |terms| ≤ n²·max(x)² — fine for window-bounded
    n·max(x) < 3·10⁹ (here n ~ 10³, x ~ 10⁴)."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    e = ev.select(
        "event_id",
        "event_type",
        _exact_bucket(epoch_us(ev, "ts"), 86400).alias("window_start"),
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
    )
    st = (
        e.groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("q"),
        )
        .filter(F.col("n") >= 10)
    )
    j = e.join(st, ["window_start", "event_type"])
    dev = F.col("n") * F.col("x") - F.col("s")
    var_n2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return j.filter(dev * dev > F.lit(4) * var_n2).select(
        "event_id", "window_start", "event_type", F.col("n").alias("n_pop")
    )


# ---------------------------------------------------------------------------
# Embedding column statistics — per-dimension profile of an
# array<float> embedding column (training-data QA: dead dims, scale
# drift, outliers). Pure Catalyst: one posexplode + one
# map-side-combinable hash aggregate keyed on the tiny dim domain.
# ---------------------------------------------------------------------------
@query(
    "embedding_dim_stats",
    f"""
    WITH u AS (SELECT CAST(unnest(range(len(embedding))) AS BIGINT) AS dim,
                      CAST(round(CAST(unnest(embedding) AS DOUBLE) * {SCALE})
                           AS BIGINT) AS x
               FROM embeddings)
    SELECT dim, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(x * x) AS BIGINT) AS q,
           CAST(min(x) AS BIGINT) AS mn, CAST(max(x) AS BIGINT) AS mx
    FROM u GROUP BY 1
    """,
)
def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension count/sum/sum-of-squares/min/max over the scaled
    (×1e6, HALF_UP — the GEMM-kernel convention) integer embedding
    values: mean and variance are recoverable exactly as s/n and
    (n·q − s²)/n². The zipped parallel-unnest oracle mirrors
    posexplode's 0-based ordinal. Integer headroom: |x| ≲ 1e6·|v|, so
    q ≤ rows·1e12·max|v|² — bigint-safe through ~1e6 rows per dim per
    partial; the final sum is exact bigint arithmetic either way."""
    e = _embs(spark, sf_dir).select(
        F.posexplode("embedding").alias("dim", "v")
    )
    x = F.round(F.col("v").cast("double") * SCALE).cast("bigint")
    return (
        e.select(F.col("dim").cast("bigint").alias("dim"), x.alias("x"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("s"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
        )
    )


# ---------------------------------------------------------------------------
# Linear quality scorer — fixed-weight model over the cheap text
# features (the learned-classifier stage of a pretraining pipeline,
# with integer weights so the score — and therefore the top-k
# boundary — is exact on both engines).
# ---------------------------------------------------------------------------
_QSCORE_STOP_IN = ", ".join("'" + s + "'" for s in STOPWORDS)


@query(
    "quality_linear_score_topk",
    f"""
    WITH t AS (
      SELECT doc_id, {TOKS} AS toks, length(text) AS n_chars,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           CAST(5 * len(toks) + n_chars
                - 3 * len(list_filter(toks, x -> x IN ({_QSCORE_STOP_IN})))
                - 2 * n_punct AS BIGINT) AS score
    FROM t ORDER BY score DESC, doc_id LIMIT 100
    """,
)
def q_quality_linear_score(spark, sf_dir):
    """score = 5·tokens + chars − 3·stopwords − 2·punct (integer
    weights × integer features → exact; ties broken by doc_id so the
    k-boundary is deterministic). Plan: one narrow projection pass +
    TakeOrderedAndProject — no shuffle beyond the top-k merge.

    r16: the token array is STAGED as its own projected column — the
    inline form tokenized twice per row (size + stopword filter;
    HOF references are CodegenFallback, so nothing dedupes them —
    the r13 collocations class; CollapseProject keeps the non-cheap
    multiply-referenced alias)."""
    t = F.col("text")
    toks = F.col("_toks")
    score = (
        F.lit(5) * F.size(toks).cast("bigint")
        + F.length(t).cast("bigint")
        - F.lit(3)
        * F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("bigint")
        - F.lit(2)
        * F.size(
            F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
        ).cast("bigint")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text", tokens(F.col("text")).alias("_toks"))
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Rare-token profile — per-document count of corpus-rare tokens
# (document frequency ≤ 10% of the corpus): the df side of TF-IDF
# turned into a quality signal (OCR garbage / gibberish detector).
# Rarity is RELATIVE to corpus size (df·10 ≤ n_docs, exact integer
# compare) so the query is non-vacuous at every scale — the shipped
# synthetic corpus has a closed ~31-token vocabulary with min df 25,
# where any absolute threshold would return zero rows on both engines
# (the vacuous-green trap from the round-2 advice).
# ---------------------------------------------------------------------------
@query(
    "text_rare_token_counts",
    f"""
    WITH dt AS (SELECT doc_id, unnest(list_distinct({TOKS})) AS tok
                FROM documents),
    dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfreq
              FROM dt GROUP BY 1)
    SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_rare
    FROM dt JOIN dfreq USING (tok)
    WHERE dfreq.dfreq * 10 <= (SELECT count(*) FROM documents)
    GROUP BY 1
    """,
)
def q_rare_token_counts(spark, sf_dir):
    """Documents × their count of distinct tokens whose document
    frequency is ≤ 10% of the corpus. Per-doc dedup is LOCAL
    (array_distinct before the explode — no distinct shuffle); one df
    aggregate keyed on token, a broadcast of the one-row corpus count,
    and one shuffle join back. On a real Zipfian corpus the rare side
    is tail-sized (most of the vocabulary), so doc→token stays a
    shuffle join, not a broadcast."""
    docs = _docs(spark, sf_dir)
    from lightsaber_spark.functions.dedup import register_cache

    # dt feeds BOTH the df aggregate and the join probe — persist it
    # (register_cache lifecycle) or the corpus tokenize+explode runs
    # twice (CLAUDE.md multiply-referenced-subplan rule; review
    # finding — the sibling collocations/data-card queries already do)
    dt = register_cache(
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
        )
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    rare = (
        dt.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dfreq"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("dfreq") * 10 <= F.col("n_docs"))
        .select("tok")
    )
    return (
        dt.join(rare, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rare"))
    )


# ---------------------------------------------------------------------------
# Passage-coverage dedup — the REMOVAL side of exact-substring dedup
# (Lee et al. 2021): per document, how many token positions sit inside
# a k-gram shared with another document. duplicated_passages_k10 finds
# the passages; this measures the cut.
# ---------------------------------------------------------------------------
_PASSAGE_INDEX_CACHE: dict[
    tuple[int, str, str, int, "str | None"], "DataFrame"
] = {}

#: max DISTINCT sibling sessions (other live sessions of the same
#: application) whose cached index entries are kept — bounds executor
#: memory under session churn in one long-lived SparkContext without
#: evicting a single busy sibling's own set of (sf_dir, k) indexes
#: (see the `_passage_index` lifecycle note)
_PASSAGE_SIBLING_CAP = 2


def release_passage_index() -> int:
    """Explicit release hook for the shared passage index: unpersist
    and drop every cached entry, returning how many were released.
    Harnesses that run the passage queries once (or 100 TB jobs that
    prefer the parquet materialization below) call this to reclaim the
    corpus-sized persist immediately instead of at session death."""
    n = 0
    for df in _PASSAGE_INDEX_CACHE.values():
        try:
            df.unpersist()
        except Exception:
            pass
        n += 1
    _PASSAGE_INDEX_CACHE.clear()
    return n


def _passage_index(spark, sf_dir, k, materialize_dir=None):
    """Shared persisted positional-shingle index ``(doc_id, pos, h)``
    over documents — built ONCE per (session, sf_dir, k) and reused by
    ALL passage queries: ``dedup_passage_coverage_k10``,
    ``dedup_passage_scrub_k10``, and ``passage_delta_vs_corpus`` (the
    delta query FILTERS the shared index down to its corpus subset —
    a second doc-filtered index would double the passage family's
    corpus-sized persisted footprint and re-run the shingle UDF over
    90 % of the corpus; r12 review finding)
    (previously each built the identical index: the repo's own
    multiply-referenced-subplan rule, applied across the query
    boundary). Deliberately OUTSIDE the per-query ``register_cache``
    lifecycle — the harnesses release that after every query, which
    would defeat cross-query sharing.

    Scale note (100 TB): the persisted footprint is one 60-bit hash +
    two bigints PER CORPUS TOKEN POSITION (~24 B/token) — fine at
    bench scale, corpus-sized at 100 TB. Past the point where the
    index no longer fits the cluster's storage-memory fraction
    (roughly: corpus tokens × 24 B > executors × storage memory),
    pass ``materialize_dir`` (or set ``$LIGHTSABER_PASSAGE_INDEX_DIR``)
    to write the index to parquet once and stream it from disk instead
    of ``persist()`` — or call :func:`release_passage_index` after the
    passage queries to reclaim the memory eagerly.

    Cache lifecycle: keyed by ``(id(spark), applicationId, sf_dir, k,
    materialize_dir)`` — ``id(spark)`` because a FRESH SparkSession can
    share one SparkContext (same applicationId) while its cached
    DataFrames are bound to the dead session; the RESOLVED
    ``materialize_dir`` so switching representations mid-session
    (e.g. setting ``$LIGHTSABER_PASSAGE_INDEX_DIR`` after a persisted
    build) builds the requested representation instead of silently
    returning the other one. Stale entries are pruned (best-effort
    ``unpersist()``) only when their owning session is actually DEAD —
    a second live SparkSession in the same process keeps its own entry
    rather than the two sessions thrashing each other's index.

    Churn bound (r10 ADVICE): an ABANDONED session sharing a live
    SparkContext is indistinguishable from a working sibling (its
    context never stops), so session churn in one long-lived context
    would otherwise accumulate persisted corpus-sized indexes forever.
    Other SESSIONS in the same application are therefore capped at
    :data:`_PASSAGE_SIBLING_CAP` distinct sibling sessions (oldest
    sessions' entries unpersisted first; a single live sibling holding
    several (sf_dir, k) indexes keeps them all — the cap is per
    session, not per entry, per the r10 advice follow-up). A still-live
    sibling that lost its entries transparently rebuilds them; only the
    persist is dropped, never correctness."""
    from lightsaber_spark.functions.dedup import (
        positional_shingles_udf,
        shingle_hash,
    )

    if materialize_dir is None:
        materialize_dir = os.environ.get("LIGHTSABER_PASSAGE_INDEX_DIR")
    app = spark.sparkContext.applicationId
    key = (id(spark), app, sf_dir, k, materialize_dir)
    got = _PASSAGE_INDEX_CACHE.get(key)
    if got is not None:
        return got

    def _session_dead(df) -> bool:
        # a stopped SparkContext nulls its _jsc; attribute errors on a
        # torn-down session also mean dead
        try:
            return df.sparkSession.sparkContext._jsc is None
        except Exception:
            return True

    for old in [
        x
        for x in _PASSAGE_INDEX_CACHE
        if x[:2] != key[:2] and _session_dead(_PASSAGE_INDEX_CACHE[x])
    ]:
        try:
            _PASSAGE_INDEX_CACHE[old].unpersist()
        except Exception:
            pass
        del _PASSAGE_INDEX_CACHE[old]
    # live-sibling churn bound (dict is insertion-ordered: oldest
    # first). The cap counts DISTINCT sibling SESSIONS, not entries
    # (r10 ADVICE): one live sibling legitimately holding several
    # (sf_dir, k) indexes keeps them all — only entries belonging to
    # sessions beyond the newest _PASSAGE_SIBLING_CAP are evicted.
    sib_sessions: list[int] = []
    for x in _PASSAGE_INDEX_CACHE:
        if x[0] != id(spark) and x[1] == app and x[0] not in sib_sessions:
            sib_sessions.append(x[0])
    evict = set(sib_sessions[: max(0, len(sib_sessions) - _PASSAGE_SIBLING_CAP)])
    for old in [x for x in _PASSAGE_INDEX_CACHE if x[0] in evict]:
        try:
            _PASSAGE_INDEX_CACHE[old].unpersist()
        except Exception:
            pass
        del _PASSAGE_INDEX_CACHE[old]
    idx = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(
                positional_shingles_udf(k)(F.col("text"))
            ).alias("pos", "_sh"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            shingle_hash(F.col("_sh")).alias("h"),
        )
    )
    if materialize_dir:
        # 100 TB path: one parquet write, then disk-backed scans — no
        # executor-memory persist of a corpus-sized relation. _SUCCESS-
        # guarded reuse; keyed by the sf_dir PATH (regenerating the
        # data under the same path requires deleting the dir first).
        from lightsaber_spark.session import materialize_parquet_once

        path = materialize_dir.rstrip("/") + (
            f"/passage_index_k{k}_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
        )
        plan = idx
        idx = materialize_parquet_once(spark, lambda: plan, path)
    else:
        idx = idx.persist()
    _PASSAGE_INDEX_CACHE[key] = idx
    return idx

@query(
    "dedup_passage_coverage_k10",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id,
                  CAST(unnest(range(greatest(len(toks) - {_PASSAGE_K - 1}, 0)))
                       AS BIGINT) AS pos,
                  unnest(list_transform(
                      range(greatest(len(toks) - {_PASSAGE_K - 1}, 0)),
                      i -> {H60.format(x=f"array_to_string(toks[i + 1:i + {_PASSAGE_K}], ' ')")}))
                    AS h
           FROM t),
    dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    hit AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (h)),
    cov AS (SELECT DISTINCT doc_id, pos + j AS cp
            FROM hit, range({_PASSAGE_K}) u(j)),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered
            FROM cov GROUP BY 1),
    dp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_positions
           FROM hit GROUP BY 1)
    SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           per.n_covered, dp.n_dup_positions
    FROM t JOIN per USING (doc_id) JOIN dp USING (doc_id)
    """,
)
def q_passage_coverage(spark, sf_dir):
    """Per-doc duplicated-passage coverage: n_dup_positions (k-gram
    starts shared with >= 2 docs) and n_covered (distinct token
    positions inside any such k-gram — what substring removal would
    cut). Positional shingles via an Arrow UDF (the Catalyst
    transform-over-slice form would inline the token array into every
    element — the O(n²) HOF trap, CLAUDE.md); the dup-passage table
    comes from one map-combinable aggregate and the coverage union is
    an exact interval explode + distinct. Work is linear in corpus
    tokens × k — no pair space anywhere."""
    # ONE Arrow-UDF pass: the dup-passage table is derived from the
    # positional shingles themselves (count_distinct ignores repeats,
    # so it equals duplicated_passages' per-doc-distinct form), and
    # `sh` feeds both that aggregate and the hit join — the SHARED
    # persisted index also serves dedup_passage_scrub_k10
    sh = _passage_index(spark, sf_dir, _PASSAGE_K)
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("h")
    )
    hit = sh.join(dup, "h").select("doc_id", "pos")
    cov = (
        hit.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_PASSAGE_K - 1))
            ).alias("cp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_covered"))
    )
    dp = hit.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_positions")
    )
    # every doc surviving the inner joins has >= 1 shingle, for which
    # n_tokens = n_positional_shingles + (k - 1) exactly — derived from
    # the already-persisted index instead of a second full-text regex
    # pass over the corpus
    n_tok = sh.groupBy("doc_id").agg(
        (F.count(F.lit(1)) + F.lit(_PASSAGE_K - 1)).cast("bigint").alias("n_tokens")
    )
    return n_tok.join(cov, "doc_id").join(dp, "doc_id").select(
        "doc_id", "n_tokens", "n_covered", "n_dup_positions"
    )


# ---------------------------------------------------------------------------
# Integer-exact surprisal score — an information-content proxy for
# perplexity-style quality filtering, with NO floats: per-token
# surprisal = bits(n_docs) − bits(df(token)), where bits(x) =
# length(bin(x)) = ⌊log2 x⌋ + 1, identical in both engines.
# ---------------------------------------------------------------------------
@query(
    "text_surprisal_topk",
    f"""
    WITH occ AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
    dfreq AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              FROM occ GROUP BY 1),
    nb AS (SELECT CAST(length(bin(count(*))) AS BIGINT) AS total_bits
           FROM documents)
    SELECT occ.doc_id,
           CAST(sum(nb.total_bits - length(bin(dfreq.df))) AS BIGINT) AS surprisal
    FROM occ JOIN dfreq USING (tok), nb
    GROUP BY 1 ORDER BY surprisal DESC, doc_id LIMIT 50
    """,
)
def q_surprisal_topk(spark, sf_dir):
    """Top-50 documents by summed token surprisal — rare-token-heavy
    docs rank first, the df side of a unigram LM without any float
    log (⌊log2⌋ via binary-string length, bit-identical across
    engines). One occurrence explode, one df aggregate, one shuffle
    join back, scalar corpus-bits attach (benign one-row broadcast),
    TakeOrderedAndProject for the k-boundary (ties broken by
    doc_id)."""
    docs = _docs(spark, sf_dir)
    from lightsaber_spark.functions.dedup import register_cache

    # occ feeds BOTH the df aggregate and the join probe — persist it
    # (same rule as q_rare_token_counts above)
    occ = register_cache(
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    dfreq = occ.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    nb = docs.agg(
        F.length(F.bin(F.count(F.lit(1)))).cast("bigint").alias("total_bits")
    )
    return (
        occ.join(dfreq, "tok")
        .crossJoin(F.broadcast(nb))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("total_bits") - F.length(F.bin(F.col("df"))).cast("bigint")
            )
            .cast("bigint")
            .alias("surprisal")
        )
        .orderBy(F.desc("surprisal"), F.asc("doc_id"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Incremental ingest: dedup a DELTA batch against the existing corpus
# (the production shape — each new crawl dedupes against what's
# already kept, never corpus×corpus again). Delta = doc_id % 10 == 0.
# ---------------------------------------------------------------------------
def _delta_oracle(n_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    consts, r, mins, band_cols, stacked = minhash_sig_parts(
        n_hashes, bands, seed
    )
    return f"""
    WITH {_JACCARD_CTE},
    xs AS (SELECT doc_id, ({H60.format(x='s')}) % {X_BITS} AS x FROM sh),
    sig AS (SELECT doc_id,
           {mins}
           FROM xs GROUP BY 1),
    banded AS (SELECT doc_id,
           {band_cols}
           FROM sig),
    stacked AS ({stacked}),
    near AS (SELECT DISTINCT a.doc_id
             FROM stacked a JOIN stacked b
               ON a.band = b.band AND a.bucket = b.bucket
             WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
    cdg AS (SELECT DISTINCT md5({NORM}) AS dg FROM documents
            WHERE doc_id % 10 <> 0),
    delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id % 50 = 1),
    ddg AS (SELECT doc_id, md5({NORM}) AS dg FROM delta),
    dnear AS (SELECT doc_id FROM near
              UNION
              -- an exact copy of a corpus doc shares ALL its band
              -- buckets, so it is a near-candidate whenever it has
              -- >= 1 shingle (>= k tokens) at all
              SELECT doc_id + 1000000 FROM toks
              WHERE doc_id % 50 = 1 AND len(t) >= 3)
    SELECT d.doc_id,
           CAST(CASE WHEN cdg.dg IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS exact_dup,
           CAST(CASE WHEN dnear.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS near_candidate
    FROM ddg d
    LEFT JOIN cdg ON d.dg = cdg.dg
    LEFT JOIN dnear ON d.doc_id = dnear.doc_id
    """


@query("dedup_delta_vs_corpus", _delta_oracle())
def q_delta_vs_corpus(spark, sf_dir):
    """Flag each delta document (doc_id % 10 == 0) as an exact dup
    (normalized-md5 digest seen in the corpus) and/or a near-dup
    CANDIDATE (shares a MinHash band bucket with any corpus doc — the
    retrieval stage; a verifier would follow in the full ladder).

    Scale shape: delta×corpus only, never corpus×corpus — the digest
    check is an equi-join on a 128-bit hash and the near check is the
    banded equi-join, both linear in delta size for a fixed corpus
    index (which a real pipeline keeps materialized between crawls).
    Band keys come from the per-row Arrow UDF
    (``minhash_band_keys_udf`` — bit-identical to the relational
    signature path, so one code path serves batch, delta, and
    streaming ingest)."""
    from lightsaber_spark.functions.dedup import (
        minhash_band_keys_udf,
        register_cache,
    )
    from lightsaber_spark.functions.multimodal import _spread_ids
    from lightsaber_spark.functions.text import normalize_text

    # the Arrow band-key UDF is the cost: spread the single-partition
    # parquet input across cores and pin the projection once — delta,
    # corpus, and both UDF passes all branch from it (same pattern and
    # ~30% measured win as corpus_data_card)
    docs = register_cache(
        _spread_ids(_docs(spark, sf_dir).select("doc_id", "text"))
    )
    is_delta = F.col("doc_id") % 10 == 0
    # the shipped corpus has no exact duplicates at any scale, so the
    # delta batch is augmented with exact COPIES of corpus docs
    # (re-keyed +1e6) — both flags stay non-vacuous on both engines
    # (the vacuous-green trap from the round-2 advice)
    delta = docs.filter(is_delta).select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 50 == 1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    corpus = docs.filter(~is_delta)

    dg = lambda d: d.select(  # noqa: E731
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("dg")
    )
    cdg = dg(corpus).select("dg").distinct()
    exact = (
        dg(delta)
        .join(cdg.withColumn("_hit", F.lit(1)), "dg", "left")
        .select("doc_id", F.coalesce(F.col("_hit"), F.lit(0)).cast("bigint").alias("exact_dup"))
    )

    bk = minhash_band_keys_udf(32, 8, 3, 42)
    bands_of = lambda d: d.select(  # noqa: E731
        "doc_id", F.posexplode(bk(F.col("text"))).alias("band", "bucket")
    )
    near = (
        bands_of(delta)
        .join(
            bands_of(corpus).select("band", "bucket").distinct(),
            ["band", "bucket"],
        )
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("near_candidate"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental EXACT-SUBSTRING ingest — the delta rung of the Lee-et-al
# passage family (the one dedup family that still re-indexed the whole
# corpus per run, r11 verdict #5): per delta document, duplicated-
# passage coverage vs the FROZEN corpus index only. Same delta
# convention as dedup_delta_vs_corpus (doc_id % 10 == 0, plus re-keyed
# exact copies of corpus docs so full-coverage hits are non-vacuous).
# ---------------------------------------------------------------------------
def _passage_delta_oracle(k: int = 10) -> str:
    kg = f"greatest(len(toks) - {k - 1}, 0)"
    pos_sh = (
        f"CAST(unnest(range({kg})) AS BIGINT) AS pos, "
        f"unnest(list_transform(range({kg}), i -> "
        + H60.format(x=f"array_to_string(toks[i + 1:i + {k}], ' ')")
        + ")) AS h"
    )
    return f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    csh AS (SELECT doc_id, {pos_sh} FROM t WHERE doc_id % 10 <> 0),
    delta AS (SELECT doc_id, toks FROM t WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 1000000, toks FROM t WHERE doc_id % 50 = 1),
    dsh AS (SELECT doc_id, {pos_sh} FROM delta),
    hit AS (SELECT d.doc_id, d.pos, c.doc_id AS c_doc
            FROM dsh d JOIN csh c USING (h)),
    dpos AS (SELECT DISTINCT doc_id, pos FROM hit),
    ndup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_positions
             FROM dpos GROUP BY 1),
    cov AS (SELECT DISTINCT doc_id, pos + j AS cp
            FROM dpos, range({k}) u(j)),
    ncov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered
             FROM cov GROUP BY 1),
    ncd AS (SELECT doc_id, CAST(count(DISTINCT c_doc) AS BIGINT) AS n_corpus_docs
            FROM hit GROUP BY 1)
    SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(ndup.n_dup_positions, 0) AS BIGINT) AS n_dup_positions,
           CAST(coalesce(ncov.n_covered, 0) AS BIGINT) AS n_covered,
           CAST(coalesce(ncd.n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs
    FROM delta d
    LEFT JOIN ndup USING (doc_id)
    LEFT JOIN ncov USING (doc_id)
    LEFT JOIN ncd USING (doc_id)
    """


@query("passage_delta_vs_corpus", _passage_delta_oracle(_PASSAGE_K))
def q_passage_delta_vs_corpus(spark, sf_dir):
    """Per-DELTA-document duplicated-passage coverage vs the frozen
    corpus: for each delta doc, how many of its k-gram start positions
    (``n_dup_positions``), covered token positions (``n_covered``) and
    distinct corpus documents (``n_corpus_docs``) collide with the
    corpus-side positional-shingle index. Docs with zero hits are
    emitted with zeros — the per-batch ingest report.

    Scale shape (the whole point, vs ``duplicated_passages_k10``
    re-indexing corpus∪delta per run): the SHARED full passage index
    (``_passage_index`` — one persist serves the whole passage family;
    freezable to parquet via ``$LIGHTSABER_PASSAGE_INDEX_DIR``) is
    FILTERED to the corpus subset, and the per-batch cost is that scan
    joined against the delta's shingles. The join strategy is left to
    AQE: a true ingest batch is broadcast-sized and AQE picks the
    broadcast at runtime, but THIS query's benchmark delta is
    corpus-proportional (12 % of docs), so a forced broadcast hint
    would collect corpus-scale shingles to the driver at the 100×
    rungs — the exact failure the hint-free plan avoids (r12 review
    finding). At 100 TB, bucket the materialized index by ``h`` so
    only the delta side shuffles. The hit set (delta×corpus collisions
    only) is persisted and every output aggregate derives from it.

    Reference scope: exact-substring dedup per Lee et al. 2021
    (arXiv:2107.06499), delta-ingest form; no reference-engine analog
    (the reference has no text operators at all — SURVEY §2.8)."""
    from lightsaber_spark.functions.dedup import (
        passage_coverage_vs_index,
        register_cache,
    )

    docs = _docs(spark, sf_dir)
    cidx = _passage_index(spark, sf_dir, _PASSAGE_K).filter(
        F.col("doc_id") % 10 != 0
    )
    is_delta = F.col("doc_id") % 10 == 0
    delta = docs.filter(is_delta).select("doc_id", "text").unionAll(
        docs.filter(F.col("doc_id") % 50 == 1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return passage_coverage_vs_index(
        delta, cidx, k=_PASSAGE_K, cache=register_cache
    )


# ---------------------------------------------------------------------------
# Batch-assembly efficiency audit — padding waste of the three standard
# sequence-assembly strategies at a given context length, as one
# integer-exact aggregate pass (the number that justifies packing).
# ---------------------------------------------------------------------------
_PAD_CTX = 512


@query(
    "packing_padding_waste",
    f"""
    WITH t AS (SELECT least(len(regexp_extract_all(lower(COALESCE(text, '')),
                       '[a-z]+|[0-9]|[^a-z0-9 ]')), {_PAD_CTX}) AS n
               FROM documents),
    p AS (SELECT n,
                 CASE WHEN n <= 1 THEN 1
                      ELSE 1::BIGINT << CAST(length(bin(n - 1)) AS INT) END
                   AS pow2
          FROM t WHERE n > 0)
    SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(sum({_PAD_CTX} - n) AS BIGINT) AS naive_pad,
           CAST(sum(least(pow2, {_PAD_CTX}) - n) AS BIGINT) AS bucket_pad,
           CAST(((sum(n) + {_PAD_CTX - 1}) // {_PAD_CTX}) * {_PAD_CTX} - sum(n)
                AS BIGINT) AS packed_pad
    FROM p
    """,
)
def q_padding_waste(spark, sf_dir):
    """Padding tokens wasted per assembly strategy at ctx=512:
    one-doc-per-sequence (pad every truncated doc to ctx), pow2
    length-bucketed batching (pad to the next power of two, capped at
    ctx), and concat-and-chunk packing (only the final window's tail —
    the pack_sequences strategy). Token counts use the BPE-ish regex
    (the same as text_token_count_by_source); pow2 via binary-string
    length, so the whole audit is integer-exact. One narrow projection
    + one aggregate; no shuffle beyond the scalar fold."""
    n = F.least(token_count(F.col("text"), BPE_RE), F.lit(_PAD_CTX))
    p = (
        _docs(spark, sf_dir)
        .select(n.alias("n"))
        .filter(F.col("n") > 0)
        .withColumn(
            "pow2",
            F.when(F.col("n") <= 1, F.lit(1).cast("bigint")).otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(length(bin(n - 1)) AS INT))")
            ),
        )
    )
    ctx = F.lit(_PAD_CTX).cast("bigint")
    agg = p.agg(
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(ctx - F.col("n")).cast("bigint").alias("naive_pad"),
        F.sum(F.least(F.col("pow2"), ctx) - F.col("n"))
        .cast("bigint")
        .alias("bucket_pad"),
    )
    # integer DIV, not float division — a corpus-scale token sum can
    # exceed 2^53, where double rounding would corrupt the ceil
    return agg.select(
        "total_tokens",
        "naive_pad",
        "bucket_pad",
        F.expr(
            f"CAST((total_tokens + {_PAD_CTX - 1}) DIV {_PAD_CTX} * {_PAD_CTX}"
            " - total_tokens AS BIGINT)"
        ).alias("packed_pad"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization QA — the compression step ANN serving
# applies before indexing, audited per vector. Symmetric per-vector
# scale q_i = round(v_i·127 / amax): |q| ≤ 127 by construction, and
# every float op (f32→f64 widen, ·127, ÷amax, HALF_UP round) is an
# exactly-specified IEEE operation evaluated in the same order on both
# engines, so the quantized values — and their sums — hash-match.
# ---------------------------------------------------------------------------
@query(
    "embedding_quantize_int8_stats",
    """
    WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v, max(abs(v)) OVER (PARTITION BY vec_id) AS amax
          FROM u),
    q AS (SELECT vec_id, amax, CAST(round(v * 127 / amax) AS BIGINT) AS qi
          FROM m WHERE amax > 0)
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
           CAST(round(amax * 1000000) AS BIGINT) AS amax_micro,
           CAST(sum(qi) AS BIGINT) AS sum_q,
           CAST(sum(qi * qi) AS BIGINT) AS sumsq_q
    FROM q GROUP BY 1, amax
    """,
)
def q_embedding_quantize(spark, sf_dir):
    """Per-vector int8 quantization stats (dims, scale in micro-units,
    Σq, Σq²). One posexplode, one window max over vec_id, then the
    aggregate REUSES the window's hash partitioning — a single shuffle
    end-to-end. Zero vectors (amax = 0) are skipped, matching the
    oracle's guard."""
    u = _embs(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("_d", "v")
    ).select("vec_id", F.col("v").cast("double").alias("v"))
    from pyspark.sql import Window as W

    amax = F.max(F.abs(F.col("v"))).over(W.partitionBy("vec_id"))
    q = (
        u.withColumn("amax", amax)
        .filter(F.col("amax") > 0)
        .withColumn("qi", F.round(F.col("v") * 127 / F.col("amax")).cast("bigint"))
    )
    return q.groupBy("vec_id", "amax").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.sum("qi").cast("bigint").alias("sum_q"),
        F.sum(F.col("qi") * F.col("qi")).cast("bigint").alias("sumsq_q"),
    ).select(
        "vec_id",
        "n_dims",
        F.round(F.col("amax") * 1_000_000).cast("bigint").alias("amax_micro"),
        "sum_q",
        "sumsq_q",
    )


@query(
    "multimodal_video_frames_real",
    """
    WITH d AS (SELECT doc_id AS media_id, doc_id % 13 + 4 AS w,
                      doc_id % 9 + 3 AS h, doc_id % 5 + 2 AS nf
               FROM documents WHERE doc_id % 10 = 0),
    fr AS (SELECT media_id, w, h, i AS frame_idx
           FROM d, range(0, 7) t(i) WHERE i < nf AND i % 2 = 0),
    px AS (SELECT media_id, frame_idx, w, h,
                  (media_id + 3 * frame_idx + x + y) % 251 AS p
           FROM fr, range(0, 17) X(x), range(0, 12) Y(y)
           WHERE x < w AND y < h)
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(sum(p) AS BIGINT) AS pixel_sum
    FROM px GROUP BY 1, 2, 3, 4
    """,
    watch=True,  # real video demux + PNG decode, a bench headline query
)
def q_multimodal_video_frames(spark, sf_dir):
    """REAL video keyframe extraction end-to-end: one genuine
    multi-frame container (LSVC: length-prefixed real PNG frames) per
    sampled document, demuxed with bounds/magic verification, every
    2nd frame decoded by the real PNG decoder (CRC + inflate +
    unfilter) into exact integer pixel stats. The oracle predicts
    width/height/pixel-sum per sampled frame from the closed-form
    pixel function — any demux offset error, CRC slip, or filter bug
    diverges. One-row→many-frames mapInPandas; no driver hop."""
    # r15 OPT (guide §4.1/§8): fused single-Python-pass mux→demux→
    # decode (see multimodal_decode_real); bit-identical
    from lightsaber_spark.functions.multimodal import synthetic_video_frames

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 == 0)
    return synthetic_video_frames(docs, every_n=2)


# ---------------------------------------------------------------------------
# Session-duration quantiles — operator COMPOSITION: session windows
# (gaps-and-islands state op) feeding the deterministic bottom-k
# quantile sketch, end to end in one lazy plan.
# ---------------------------------------------------------------------------
from lightsaber_spark.functions.sketches import (
    bottomk_quantiles_oracle_sql as _bq_sql,
    bottomk_sample_quantiles as _bq,
)

_SESS_DUR_SRC = f"""(
    WITH {_SESSIONIZE_CTES}
    SELECT 'all' AS grp,
           CAST(max(us) - min(us) AS BIGINT) AS duration_us,
           CAST(min(us) * 1000 + user_id % 1000 AS BIGINT) AS tb_id
    FROM s GROUP BY user_id, sid
)"""


@query(
    "session_duration_quantiles",
    f"""
    SELECT grp, p50 AS p50_us, p90 AS p90_us, p99 AS p99_us FROM (
    {_bq_sql(_SESS_DUR_SRC, ["grp"], "duration_us", "tb_id", k=256)}
    )
    """,
)
def q_session_duration_quantiles(spark, sf_dir):
    """p50/p90/p99 of session duration (µs, 1800 s gap) over all users:
    the session-window operator's output flows straight into the
    bottom-k quantile sketch — no materialization between. The
    tiebreak id (start_us·1000 + user_id%1000) is unique per session
    and identical in the oracle, so the sampled order statistics are
    bit-equal."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    sess = session_window_agg(ev, "ts", 1800, [("count", None, "n")], ["user_id"])
    dur = sess.select(
        F.lit("all").alias("grp"),
        (
            F.col("session_end_us") - F.lit(1_800_000_000) - F.col("session_start_us")
        ).cast("bigint").alias("duration_us"),
        (
            F.col("session_start_us") * 1000 + F.col("user_id") % 1000
        ).cast("bigint").alias("tb_id"),
    )
    q = _bq(dur, ["grp"], "duration_us", "tb_id", k=256)
    return q.select(
        "grp",
        F.col("p50").alias("p50_us"),
        F.col("p90").alias("p90_us"),
        F.col("p99").alias("p99_us"),
    )


@query(
    "asof_broadcast_last_order",
    """
    SELECT e.event_id, epoch_us(o.o_orderdate) AS last_order_us
    FROM events e ASOF LEFT JOIN orders o
      ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    """,
)
def q_asof_broadcast(spark, sf_dir):
    """The broadcast-dimension as-of plan (operators/joins.py
    asof_broadcast_join): per-key sorted timestamp arrays broadcast to
    every task, Arrow-batched binary search per event — the LEFT side
    never shuffles, which is also what makes the same operator the
    STREAMING as-of enrichment (all ops stateless; see the streaming
    equivalence test). Must agree row-for-row with DuckDB's native
    ASOF LEFT JOIN."""
    from lightsaber_spark.operators.joins import asof_broadcast_join

    t = load_tables(spark, sf_dir, ("orders", "events"))
    left = t["events"].select("event_id", F.col("user_id").alias("cust"), "ts")
    right = t["orders"].select(F.col("o_custkey").alias("cust"), "o_orderdate")
    out = asof_broadcast_join(
        left, right, "ts", "o_orderdate", ["cust"], out_col="last_order_us"
    )
    return out.select("event_id", "last_order_us")


# ---------------------------------------------------------------------------
# Corpus data card — the per-source summary a dataset release ships:
# volume, quality-gate survival, token budget, and near-dup exposure,
# composed from the existing operators in ONE lazy plan.
# ---------------------------------------------------------------------------
def _data_card_oracle(n_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    consts, r, mins, band_cols, stacked = minhash_sig_parts(
        n_hashes, bands, seed
    )
    return f"""
    WITH {_JACCARD_CTE},
    xs AS (SELECT doc_id, ({H60.format(x='s')}) % {X_BITS} AS x FROM sh),
    sig AS (SELECT doc_id,
           {mins}
           FROM xs GROUP BY 1),
    banded AS (SELECT doc_id,
           {band_cols}
           FROM sig),
    stacked AS ({stacked}),
    near AS (SELECT DISTINCT a.doc_id FROM stacked a JOIN stacked b
             ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id <> b.doc_id),
    feat AS (SELECT source, doc_id, length(text) AS n_chars,
                    len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z]+|[0-9]|[^a-z0-9 ]'))
                      AS n_bpe,
                    {TOKS} AS toks,
                    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
             FROM documents),
    keep AS (SELECT source, doc_id FROM feat
             WHERE len(toks) >= 20
               AND n_punct * 1000 <= 150 * n_chars
               AND len(list_filter(toks, x -> x IN ({_QSCORE_STOP_IN})))
                     * 1000 <= 600 * len(toks))
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(k.doc_id) AS BIGINT) AS n_kept,
           CAST(sum(f.n_bpe) AS BIGINT) AS total_tokens,
           CAST(sum(f.n_chars) AS BIGINT) AS total_chars,
           CAST(count(nr.doc_id) AS BIGINT) AS n_neardup
    FROM feat f
    LEFT JOIN keep k USING (source, doc_id)
    LEFT JOIN near nr ON f.doc_id = nr.doc_id
    GROUP BY 1
    """


@query("corpus_data_card", _data_card_oracle())
def q_corpus_data_card(spark, sf_dir):
    """Per-source release summary: document count, quality-gate
    survivors, exact BPE-regex token budget, character volume, and
    near-dup exposure (docs sharing any MinHash band bucket with
    another doc — the retrieval-stage flag). Every signal reuses the
    corresponding operator (quality_filter, token_count, the per-row
    band-key UDF) and the whole card is one lazy Catalyst plan: one
    corpus scan for features + one for signatures, aggregates keyed on
    the small source domain."""
    from lightsaber_spark.functions.dedup import minhash_band_keys_udf
    from lightsaber_spark.functions.multimodal import _spread_ids
    from lightsaber_spark.functions.text import quality_filter

    # three CPU-dense per-doc passes (BPE token count, quality metrics,
    # band-key UDF) read the corpus directly — spread a small single-
    # partition parquet input across cores first (same pattern as the
    # media encode pipelines; a DuckDB-written small file is ONE row
    # group, so input-split tuning cannot parallelize it), and persist
    # the spread projection ONCE: feat, keep, and bands each consume it,
    # and without the pin each would re-run the scan + full-text
    # repartition shuffle (multiply-referenced-subplan rule)
    from lightsaber_spark.functions.dedup import register_cache

    docs = register_cache(
        _spread_ids(_docs(spark, sf_dir).select("source", "doc_id", "text"))
    )
    feat = docs.select(
        "source",
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        token_count(F.col("text"), BPE_RE).alias("n_bpe"),
    )
    keep = quality_filter(docs).select("source", "doc_id").withColumn(
        "_k", F.lit(1)
    )
    # the Arrow-UDF signature subplan feeds the group aggregate AND the
    # flag join — pin one materialization (multiply-referenced-subplan
    # rule)
    bands = register_cache(
        docs.select(
            "doc_id",
            F.posexplode(minhash_band_keys_udf(32, 8, 3, 42)(F.col("text"))).alias(
                "band", "bucket"
            ),
        )
    )
    # a doc emits exactly ONE bucket per band, so a (band, bucket)
    # group with >= 2 rows necessarily holds >= 2 DISTINCT docs:
    # "shares a band bucket with another doc" is a group-count
    # semi-join, not a self-join — linear in bucket occupancy where
    # the pair join is quadratic in near-dup family size
    crowded = (
        bands.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("band", "bucket")
    )
    near = (
        bands.join(crowded, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_n", F.lit(1))
    )
    return (
        feat.join(keep, ["source", "doc_id"], "left")
        .join(near, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce(F.col("_k"), F.lit(0))).cast("bigint").alias("n_kept"),
            F.sum("n_bpe").cast("bigint").alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum(F.coalesce(F.col("_n"), F.lit(0))).cast("bigint").alias("n_neardup"),
        )
    )


# ---------------------------------------------------------------------------
# Passage SCRUB — materialize the exact-substring removal itself:
# every token position covered by a cross-doc duplicated k-gram is cut,
# and the cleaned text is re-assembled in order, verified by md5.
# ---------------------------------------------------------------------------
@query(
    "dedup_passage_scrub_k10",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    tp AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS BIGINT) AS pos,
                  unnest(toks) AS tok
           FROM t),
    sh AS (SELECT doc_id,
                  CAST(unnest(range(greatest(len(toks) - {_PASSAGE_K - 1}, 0)))
                       AS BIGINT) AS pos,
                  unnest(list_transform(
                      range(greatest(len(toks) - {_PASSAGE_K - 1}, 0)),
                      i -> {H60.format(x=f"array_to_string(toks[i + 1:i + {_PASSAGE_K}], ' ')")}))
                    AS h
           FROM t),
    dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    cov AS (SELECT DISTINCT sh.doc_id, sh.pos + j AS cp
            FROM sh JOIN dup USING (h), range({_PASSAGE_K}) u(j)),
    clean AS (SELECT tp.doc_id, tp.pos, tp.tok
              FROM tp LEFT JOIN cov
                ON tp.doc_id = cov.doc_id AND tp.pos = cov.cp
              WHERE cov.cp IS NULL)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_clean,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
    FROM clean GROUP BY 1
    """,
)
def q_passage_scrub(spark, sf_dir):
    """The REMOVAL itself (Lee et al. 2021 applied): cut every token
    position inside a cross-doc duplicated 10-gram and re-assemble
    what's left in original order — verified by md5 of the cleaned
    token stream, so a single mis-cut or mis-ordered token diverges.
    Docs whose every token is covered drop out (no clean tokens);
    untouched docs pass through whole. The positional token explode
    is pure Catalyst (posexplode of the token array); coverage comes
    from the SAME shared persisted positional-shingle index as the
    coverage query (``_passage_index`` — one build serves both)."""
    docs = _docs(spark, sf_dir)
    tp = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "tok")
    sh = _passage_index(spark, sf_dir, _PASSAGE_K)
    dup = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("h")
    )
    cov = (
        sh.join(dup, "h")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_PASSAGE_K - 1))
            ).alias("cp"),
        )
        .distinct()
    )
    clean = tp.join(
        cov,
        (tp["doc_id"] == cov["doc_id"]) & (tp["pos"] == cov["cp"]),
        "left_anti",
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "tok")))
    return clean.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clean"),
        F.md5(
            F.array_join(F.transform(ordered, lambda x: x["tok"]), " ")
        ).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Vocabulary growth (Heaps' law) — distinct-token count as a function
# of corpus prefix size: the curve a tokenizer/vocab budget decision
# reads. Token first-occurrence decile → one aggregate + a 10-row
# cumulative sum.
# ---------------------------------------------------------------------------
@query(
    "vocab_growth_by_decile",
    f"""
    WITH nd AS (SELECT count(*) AS n FROM documents),
    t0 AS (SELECT doc_id, {TOKS} AS t FROM documents),
    dt AS (SELECT doc_id, unnest({SHINGLES}) AS tok FROM t0),
    fo AS (SELECT tok,
                  CAST(min(doc_id * 10 // (SELECT n FROM nd)) AS BIGINT)
                    AS first_decile
           FROM dt GROUP BY 1),
    per AS (SELECT least(first_decile, 9) AS decile,
                   CAST(count(*) AS BIGINT) AS new_tokens
            FROM fo GROUP BY 1)
    SELECT CAST(decile AS BIGINT) AS decile, new_tokens,
           CAST(sum(new_tokens) OVER (ORDER BY decile
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS vocab_size
    FROM per
    """,
)
def q_vocab_growth(spark, sf_dir):
    """Heaps-law curve over the 3-gram SHINGLE vocabulary (the token
    vocabulary of the synthetic corpus is closed — 31 types — so
    shingles are the unit with real growth): per corpus decile (by
    doc_id), how many shingles appear for the FIRST time and the
    cumulative vocabulary size. One Arrow-UDF shingle explode, one min
    aggregate keyed on shingle, then a 10-row running sum. Integer
    decile arithmetic matches the oracle exactly."""
    docs = _docs(spark, sf_dir)
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    from lightsaber_spark.functions.dedup import word_shingles_udf

    dt = docs.select(
        "doc_id", F.explode(word_shingles_udf(3)(F.col("text"))).alias("tok")
    )
    fo = (
        dt.crossJoin(F.broadcast(n))
        .groupBy("tok")
        .agg(
            # integer DIV on both engines (DuckDB CAST-of-float ROUNDS
            # while Spark cast truncates — // sidesteps both)
            F.min(F.expr("CAST(doc_id * 10 DIV n AS BIGINT)")).alias(
                "first_decile"
            )
        )
    )
    per = (
        fo.select(F.least(F.col("first_decile"), F.lit(9)).alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_tokens"))
    )
    from pyspark.sql import Window as W

    return per.select(
        F.col("decile").cast("bigint").alias("decile"),
        "new_tokens",
        F.sum("new_tokens")
        .over(W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("vocab_size"),
    )
