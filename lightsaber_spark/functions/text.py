"""Text analysis for large-scale training-data pipelines.

Beyond-parity surface (the reference has NO string functions at all —
SURVEY.md §2.2): language ID, quality scoring, token counting, document
fingerprinting. All pure Catalyst expressions (no UDFs): at 100 TB these
run inside whole-stage codegen with full pushdown.

Cross-engine determinism: every operation bottoms out in integer counts,
md5 (bit-identical everywhere), or integer-ratio doubles — so DuckDB
oracles can reproduce results exactly.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — required so pandas-UDF type hints resolve
from pyspark.sql import Column, DataFrame, Window, functions as F

# word tokens: ASCII alphanumerics (identical semantics in Java regex and
# RE2); BPE-ish tokens additionally split digit runs and symbol runs
WORD_RE = "[a-z0-9]+"
BPE_RE = "[a-z]+|[0-9]|[^a-z0-9 ]"

STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with",
)

# language marker patterns (tiny heuristic; deterministic; patterns are
# written to behave identically under Java regex and RE2)
LANG_PATTERNS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is)\b",
    "de": r"\b(der|die|und|das|ist)\b",
    "fr": r"\b(le|la|et|les|des)\b",
    "es": r"\b(el|los|que|por|una)\b",
    "zh": "[一-鿿]",  # CJK ideograph count
}


def winnow_fingerprints_udf(k: int = 3, window: int = 4):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the standard rolling-hash fingerprint scheme): hash every k-word
    shingle *in order*, slide a ``window``-wide frame over the hash
    sequence, keep the minimum of each frame, return the distinct
    selected hashes. Guarantees any shared run of ≥ window+k-1 tokens
    between two documents shares ≥ 1 fingerprint.

    Arrow-batched; hashes are the same 60-bit md5-prefix integers used
    everywhere else, so a DuckDB oracle reproduces them exactly.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tok_re = _re.compile(r"[a-z0-9]+")

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    @pandas_udf("array<bigint>")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text → empty doc, not a job kill
                t = ""
            toks = tok_re.findall(t.lower())
            n = max(len(toks) - (k - 1), 0)
            hs = np.fromiter(
                (h60(" ".join(toks[i : i + k])) for i in range(n)),
                dtype=np.int64, count=n,
            )
            if len(hs) == 0:
                out.append([])
                continue
            if len(hs) <= window:
                out.append([int(hs.min())])
                continue
            frames = np.lib.stride_tricks.sliding_window_view(hs, window)
            out.append(sorted({int(x) for x in frames.min(axis=1)}))
        return pd.Series(out)

    return _fp


def normalize_text(c: Column) -> Column:
    """lowercase + whitespace collapse — the canonical form every dedup
    / fingerprint op hashes."""
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def tokens(c: Column, pattern: str = WORD_RE) -> Column:
    """Array of tokens (lowercased match of ``pattern``). NULL text
    yields an EMPTY array, never NULL: without the coalesce every
    downstream ``F.size`` would be -1 on null text (Spark's size(NULL))
    while DuckDB's len(NULL) is NULL — the shared oracle fragment
    ``pipeline_queries.TOKS`` carries the same COALESCE so both engines
    implement empty-doc semantics."""
    return F.coalesce(
        F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(0)),
        F.array().cast("array<string>"),
    )


def token_count(c: Column, pattern: str = WORD_RE) -> Column:
    return F.size(tokens(c, pattern)).cast("bigint")


def chunk_documents(
    df,
    ctx_len: int,
    stride: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    pattern: str = WORD_RE,
):
    """Split each document into fixed-context chunks: chunk ``c`` covers
    tokens ``[c·stride, c·stride + ctx_len)`` — the sliding-context
    splitting step for long documents (``stride < ctx_len`` gives
    overlapping chunks so no span longer than the overlap is lost at a
    boundary). Emits ``(id, chunk_idx, tok_start, n_tokens_chunk)``;
    a token-empty document still emits one empty chunk (chunk count is
    ``1 + ceil(max(n - ctx_len, 0) / stride)``, exact integers).

    Scale: pure map-side ``explode`` over a per-row token count — no
    shuffle, rows multiply only by their own chunk counts."""
    if ctx_len <= 0:
        raise ValueError("ctx_len must be positive")
    stride = ctx_len if stride is None else stride
    if not 0 < stride <= ctx_len:
        raise ValueError("stride must be in (0, ctx_len]")
    n = token_count(F.col(text_col), pattern)
    out = (
        # NULL text emits NO rows, matching the oracle's
        # generate_series(0, NULL) (review finding: size(NULL) = -1
        # used to fabricate a chunk with n_tokens_chunk = -1)
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), n.alias("_n"))
        # ceil(over / stride) via SQL DIV — exact integer math at any
        # magnitude (CLAUDE.md: integer quotients never via float '/')
        .withColumn(
            "_oc",
            F.greatest(F.col("_n") - F.lit(ctx_len), F.lit(0))
            + F.lit(stride - 1),
        )
        .withColumn("_nc", F.expr(f"_oc DIV {stride}") + F.lit(1))
        .select(
            F.col(id_col),
            F.col("_n"),
            F.explode(
                F.sequence(F.lit(0).cast("bigint"), F.col("_nc") - 1)
            ).alias("chunk_idx"),
        )
    )
    tok_start = F.col("chunk_idx") * F.lit(stride)
    return out.select(
        id_col,
        "chunk_idx",
        tok_start.alias("tok_start"),
        F.least(F.lit(ctx_len).cast("bigint"), F.col("_n") - tok_start).alias(
            "n_tokens_chunk"
        ),
    )


def text_stats_counts_udf():
    """One-pass Arrow-batched counter for :func:`text_stats`
    (``arrow=True``): a single tokenize per document yields all five
    integer counts, where the expression form re-scans the text per
    feature. Counts are plain integers, so downstream ratios are
    bit-identical to the expression form and the DuckDB oracle.

    MEASURED at sf0.1 (short documents): no win — ~0.43s either way, so
    the pure-Catalyst form stays the default per the repo rule (Python
    only where measured faster). The one-pass shape is kept because its
    advantage grows with document LENGTH (each expression feature is
    O(doc) rescans + Arrow transfer is amortized); re-measure before
    using on long-document corpora."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tok_re = _re.compile(r"[a-z0-9]+")
    punct_re = _re.compile(r"[^A-Za-z0-9\s]")
    stop = set(STOPWORDS)

    @pandas_udf(
        "struct<n_chars:bigint,n_tokens:bigint,n_punct:bigint,"
        "n_stop:bigint,n_token_chars:bigint>"
    )
    def _st(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            if t is None:  # null text → empty doc, not a job kill
                t = ""
            toks = tok_re.findall(t.lower())
            rows.append((
                len(t),
                len(toks),
                len(punct_re.findall(t)),
                sum(1 for x in toks if x in stop),
                sum(map(len, toks)),
            ))
        return pd.DataFrame(
            rows, columns=["n_chars", "n_tokens", "n_punct", "n_stop", "n_token_chars"]
        )

    return _st


def text_stats(df: DataFrame, text_col: str = "text", arrow: bool = False) -> DataFrame:
    """Quality-scoring features: char/token counts, punctuation ratio,
    stopword ratio, mean token length — the standard cheap quality
    gates for pretraining corpora. Ratios are integer/integer divisions
    (order-independent, oracle-exact).

    Default is the pure-Catalyst expression form (whole-stage codegen,
    no Python); ``arrow=True`` switches to the one-pass Arrow counter
    (bit-identical; see :func:`text_stats_counts_udf` for when that
    pays)."""
    if arrow:
        # materialize the struct in an inner projection so the UDF is
        # evaluated ONCE per row, then derive the five outputs from it
        with_s = df.select("*", text_stats_counts_udf()(F.col(text_col)).alias("_ts"))
        n_chars = F.col("_ts.n_chars")
        n_tokens = F.col("_ts.n_tokens")
        n_punct = F.col("_ts.n_punct")
        n_stop = F.col("_ts.n_stop")
        n_token_chars = F.col("_ts.n_token_chars")
    else:
        # NULL text = empty doc, matching the arrow form's ""
        # substitution (r13 review: size(NULL) = -1 made the two
        # forms disagree on null text, breaking the bit-identical
        # claim) and the DuckDB COALESCE.
        #
        # r16: the token array is STAGED as a projected column — the
        # old inline form re-ran tokens(t) (a full-text
        # regexp_extract_all) in n_tokens, n_stop AND n_token_chars,
        # and the final select's when() guards referenced n_tokens
        # twice more: up to 7 tokenizations per row, none deduped
        # because the HOF references are CodegenFallback (the r13
        # collocations class). CollapseProject keeps the non-cheap
        # multiply-referenced alias, so the staged form tokenizes
        # exactly once per row. Same expressions → identical values.
        t = F.coalesce(F.col(text_col), F.lit(""))
        with_s = df.select("*", tokens(t).alias("_toks"))
        toks = F.col("_toks")
        n_chars = F.length(t).cast("bigint")
        n_tokens = F.size(toks).cast("bigint")
        n_punct = F.size(
            F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
        ).cast("bigint")
        n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("bigint")
        n_token_chars = F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        )
    # second staging level: each count computed ONCE, the ratio select
    # references only the cheap integer columns
    staged = with_s.select(
        "*",
        n_chars.alias("_nc"),
        n_tokens.alias("_nt"),
        n_punct.alias("_np"),
        n_stop.alias("_ns"),
        n_token_chars.alias("_ntc"),
    )
    _nc, _nt = F.col("_nc"), F.col("_nt")
    out = staged.select(
        *[F.col(c) for c in df.columns],
        _nc.alias("n_chars_computed"),
        _nt.alias("n_tokens"),
        # guarded like its siblings: 0/0 on an empty text would give
        # NULL here vs IEEE division in DuckDB (review finding)
        F.when(_nc > 0, F.col("_np") / _nc).otherwise(F.lit(0.0)).alias("punct_ratio"),
        F.when(_nt > 0, F.col("_ns") / _nt).otherwise(F.lit(0.0)).alias("stopword_ratio"),
        F.when(_nt > 0, F.col("_ntc") / _nt).otherwise(F.lit(0.0)).alias("mean_token_len"),
    )
    return out


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_punct_permille: int = 150,
    max_stopword_permille: int = 600,
) -> DataFrame:
    """The quality GATE: keep documents passing the standard cheap
    pretraining filters. All comparisons are exact integer arithmetic
    (``n_punct·1000 ≤ max‰·n_chars``) — no float thresholds, so the
    keep/drop decision is bit-stable across engines and data orders.
    NULL text = empty doc (dropped by the token floor) — the explicit
    form of what the old size(NULL) = -1 accident happened to do."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    toks = tokens(t)
    n_chars = F.length(t).cast("bigint")
    n_tokens = F.size(toks).cast("bigint")
    n_punct = F.size(
        F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    ).cast("bigint")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("bigint")
    return df.filter(
        (n_tokens >= min_tokens)
        & (n_punct * 1000 <= F.lit(max_punct_permille) * n_chars)
        & (n_stop * 1000 <= F.lit(max_stopword_permille) * n_tokens)
    )


def language_id(c: Column) -> Column:
    """Marker-pattern language heuristic: count hits per language, take
    the argmax (ties → lexicographically larger code, consistent with
    array_max struct ordering in both Spark and DuckDB). NULL text =
    empty doc (all-zero counts → the tie code), keeping both engines'
    struct comparisons NULL-free (r13 review)."""
    lc = F.lower(F.coalesce(c, F.lit("")))
    entries = []
    for lang, pat in sorted(LANG_PATTERNS.items()):
        cnt = F.size(F.regexp_extract_all(lc, F.lit(pat), F.lit(0)))
        entries.append(F.struct(cnt.alias("c"), F.lit(lang).alias("l")))
    return F.array_max(F.array(*entries))["l"]


def doc_fingerprint(c: Column) -> Column:
    """60-bit content fingerprint: md5 of the normalized text, upper 15
    hex digits as bigint. Deterministic across engines
    (DuckDB: ``('0x'||substr(md5(x),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(normalize_text(c)), 1, 15), 16, 10).cast("bigint")


# ---------------------------------------------------------------------------
# BM25-style relevance (logarithm-free, cross-engine exact)
# ---------------------------------------------------------------------------

def _bm25_score_expr(terms, k1: float, b: float,
                     n_docs: str, avgdl: str, df_fmt: str) -> str:
    """The shared scoring expression. The arithmetic TREE is fixed here
    — both engines must evaluate the same IEEE ops in the same order
    for bit-identical doubles — while the corpus statistics (N, avgdl,
    per-term df) are spliced in as whatever reference the caller uses
    (scalar subqueries in the oracle, pre-joined stat columns in the
    Spark plan)."""
    parts = []
    for i, _ in enumerate(terms):
        df_i = df_fmt.format(i=i)
        idf = f"((({n_docs} - {df_i}) + 0.5) / ({df_i} + 0.5))"
        tfn = (
            f"((CAST(tf{i} AS DOUBLE) * {k1 + 1.0}) / "
            f"(CAST(tf{i} AS DOUBLE) + ({k1} * ({1.0 - b} + ({b} * "
            f"(CAST(dl AS DOUBLE) / {avgdl}))))))"
        )
        parts.append(f"({idf} * {tfn})")
    return " + ".join(parts)


def bm25_select(relation: str, terms, k: int = 20,
                k1: float = 1.2, b: float = 0.75) -> str:
    """SQL computing a BM25-style score over ``relation(doc_id, dl,
    tf0..tfN)`` — one tf column per query term, dl = document length.

    The classic idf ``log((N-df+0.5)/(df+0.5))`` is used WITHOUT the
    log: the ratio is monotone in the same direction, and dropping the
    transcendental keeps every operation rational IEEE-double
    arithmetic over exact integers — so the top-k (ties broken by
    doc_id) is strongly checkable against :func:`bm25_topk`. Corpus
    statistics are scalar subqueries here (fine for an oracle; each
    rescans the relation — the Spark side uses the one-pass form).
    """
    score = _bm25_score_expr(
        terms, k1, b,
        n_docs=f"(SELECT CAST(count(*) AS DOUBLE) FROM {relation})",
        avgdl=(f"(SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) "
               f"FROM {relation})"),
        df_fmt=(f"(SELECT CAST(count(*) AS DOUBLE) FROM {relation} "
                "WHERE tf{i} > 0)"),
    )
    return f"""
    SELECT doc_id, score, rnk FROM (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM (SELECT doc_id, {score} AS score FROM {relation}) s
    ) r WHERE rnk <= {k}
    """


def bm25_topk(base: DataFrame, terms, k: int = 20,
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Scale-path BM25 top-k over a ``term_tf_table`` frame.

    One aggregation pass computes ALL corpus statistics (N, Σdl,
    per-term df) and broadcasts the single stat row back on a constant
    key (a broadcast HASH join — never a nested loop); the scoring
    expression is the same arithmetic tree as :func:`bm25_select`, so
    results stay bit-identical to the scalar-subquery oracle. Top-k is
    ``ORDER BY … LIMIT k`` (TakeOrderedAndProject: per-partition heaps
    + one driver merge, no single-partition window sort)."""
    stats = base.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("bigint")).alias(f"_df{i}")
            for i, _ in enumerate(terms)
        ],
    ).withColumn("_k", F.when(F.col("_n") >= 0, F.lit(0)).cast("bigint"))
    score = _bm25_score_expr(
        terms, k1, b,
        n_docs="CAST(_n AS DOUBLE)",
        avgdl="(CAST(_sumdl AS DOUBLE) / CAST(_n AS DOUBLE))",
        df_fmt="CAST(_df{i} AS DOUBLE)",
    )
    # the constant key must survive constant folding on BOTH sides or
    # Catalyst rewrites the equality into a one-sided filter and plans
    # a nested loop: a when() without otherwise is NULLABLE and hence
    # opaque to the simplifier on both sides. (This was `dl * 0` until
    # r13: the tokens() NULL-coalesce made dl non-nullable, x*0 folded
    # to 0, and the plan regressed to a nested loop — caught by
    # test_no_nested_loop_join.)
    scored = (
        base.withColumn(
            "_k", F.when(F.col("dl") >= 0, F.lit(0)).cast("bigint")
        )
        .join(F.broadcast(stats), "_k")
        .select("doc_id", F.expr(score).alias("score"))
    )
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return topk.withColumn("rnk", F.row_number().over(w))


def term_tf_table(df: DataFrame, terms, text_col: str = "text") -> DataFrame:
    """Per-document term frequencies for a fixed query-term list:
    ``(doc_id, dl, tf0..tfN)``. Fixed columns instead of an exploded
    posting list — the per-term sum order is then written in the plan,
    which keeps double addition order-independent-by-construction.

    NULL text counts as an empty document (dl = 0, tf = 0): Spark's
    size(NULL) = -1 would feed dl/tf = -1 into the scoring arithmetic
    while DuckDB's len(NULL) is NULL — a latent cross-engine
    divergence masked by the catalog's non-null corpus (r13 review;
    same class as the chunk_documents guard). :func:`tokens` carries
    the empty-array coalesce internally, so no extra wrap here.

    r16: the token array is STAGED as its own projected column first.
    Inlining ``tokens(text)`` into dl + every per-term filter re-ran
    the regexp_extract_all 1+len(terms)× per row — higher-order
    functions are interpreted (CodegenFallback), so codegen
    subexpression elimination never dedupes them (the collocations_pmi
    r13 class). CollapseProject keeps the non-cheap multiply-referenced
    alias, so the staged form tokenizes exactly once per row."""
    base = df.select(
        F.col("doc_id"), tokens(F.col(text_col)).alias("_toks")
    )
    cols = [F.col("doc_id"), F.size("_toks").cast("bigint").alias("dl")]

    # one-arg lambda via factory: a two-parameter lambda would be
    # interpreted by F.filter as (element, index)
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    for i, t in enumerate(terms):
        cols.append(
            F.size(F.filter(F.col("_toks"), _eq(t)))
            .cast("bigint")
            .alias(f"tf{i}")
        )
    return base.select(*cols)


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition quality signals per document:
    type-token ratio (distinct/total tokens), most-frequent-token
    fraction, most-frequent-bigram fraction — the standard filters for
    degenerate/boilerplate text in pretraining corpora.

    All three are exact integer ratios (max-count / total-count), so a
    DuckDB oracle reproduces them bit-for-bit; the plan is two
    explode+aggregate pipelines joined on doc id — map-side-combinable
    aggregations, no UDFs, scales linearly in corpus tokens."""
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_t"))

    ex = base.select(id_col, F.explode("_t").alias("_tok"))
    tok_counts = ex.groupBy(id_col, "_tok").agg(F.count(F.lit(1)).alias("_c"))
    tok_stats = tok_counts.groupBy(id_col).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("_c").alias("_mc"),
    )

    big = base.select(
        id_col,
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 2),
                    lambda i: F.concat_ws(
                        " ", F.element_at("_t", i + 1), F.element_at("_t", i + 2)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_bg"),
    )
    bg_counts = big.groupBy(id_col, "_bg").agg(F.count(F.lit(1)).alias("_c"))
    bg_stats = bg_counts.groupBy(id_col).agg(
        F.sum("_c").alias("_nb"), F.max("_c").alias("_mb")
    )

    return (
        tok_stats.join(bg_stats, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (F.col("n_distinct") / F.col("n_tokens")).alias("type_token_ratio"),
            (F.col("_mc") / F.col("n_tokens")).alias("top_token_ratio"),
            (F.col("_mb") / F.col("_nb")).alias("top_bigram_ratio"),
        )
    )


def feature_hash_vector(c: Column, k: int = 16) -> Column:
    """Hashing-trick token-count vector (``array<bigint>`` of length
    ``k``): bucket = 60-bit md5 hash of the token mod ``k``, value =
    token count in the bucket. Deterministic across engines (DuckDB
    twin: ``list_transform(range(k), i -> len(list_filter(toks, x ->
    h60(x) % k = i)))``).

    The nested higher-order-function form is O(k·tokens) interpreted —
    it exists as the oracle-anchor / reference implementation; the hot
    path is :func:`feature_hash_vector_udf` (Arrow-batched, hashes each
    distinct token once — ~10× faster, bit-identical output)."""
    toks = tokens(c)
    h = lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")  # noqa: E731
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.size(
            F.filter(toks, lambda x: h(x) % k == i.cast("bigint"))
        ).cast("bigint"),
    )


def feature_hash_vector_udf(k: int = 16):
    """Arrow-batched hashing-trick vectorizer — the 100 TB hot path for
    :func:`feature_hash_vector` (same bucket function, bit-identical
    output, verified by the same DuckDB HOF oracle).

    Each *distinct* token in the batch is md5-hashed exactly once via a
    batch-local memo (Zipfian text ⇒ the memo hit-rate is high), then
    counts are accumulated with one ``np.add.at`` scatter per document —
    O(tokens + k) per doc instead of the interpreted HOF's O(k·tokens)
    Catalyst-expression evaluations."""
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tok_re = _re.compile(r"[a-z0-9]+")

    @pandas_udf("array<bigint>")
    def _fh(texts: pd.Series) -> pd.Series:
        memo: dict[str, int] = {}

        def bucket(tok: str) -> int:
            b = memo.get(tok)
            if b is None:
                b = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % k
                memo[tok] = b
            return b

        out = []
        for t in texts:
            if t is None:  # null text → empty doc, not a job kill
                t = ""
            vec = np.zeros(k, dtype=np.int64)
            ids = np.fromiter(
                (bucket(tok) for tok in tok_re.findall(t.lower())),
                dtype=np.int64,
            )
            if len(ids):
                np.add.at(vec, ids, 1)
            out.append(vec.tolist())
        return pd.Series(out)

    return _fh


def ngrams_udf(n: int, pattern: str = WORD_RE):
    """Arrow-batched in-order n-gram extractor (NON-distinct — every
    occurrence counts, unlike ``word_shingles_udf``'s set semantics)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    tok_re = _re.compile(pattern)

    @pandas_udf("array<string>")
    def _ng(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text → empty doc, not a job kill
                t = ""
            toks = tok_re.findall(t.lower())
            out.append(
                [" ".join(toks[i : i + n]) for i in range(max(len(toks) - (n - 1), 0))]
            )
        return pd.Series(out)

    return _ng


def corpus_ngram_counts(
    df: DataFrame, n: int = 2, text_col: str = "text", pattern: str = WORD_RE
) -> DataFrame:
    """Corpus-wide n-gram frequency table ``(ngram, cnt)`` — the n-gram
    LM / contamination-statistics primitive.

    One tokenize + explode + hash aggregate: the groupBy is map-side
    combinable (partial counts per partition, one shuffle on the n-gram
    key), so at 100 TB the shuffle carries distinct n-grams per
    partition, not token instances. Top-k consumers should follow with
    ``orderBy(...).limit(k)`` which plans as TakeOrderedAndProject (no
    global sort materialization).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if n == 1:
        # one regex eval per row, exploded JVM-side
        gram = F.explode(tokens(F.col(text_col), pattern)).alias("ngram")
    else:
        # NOT transform(sequence(...), i -> element_at(toks, i+j)):
        # Catalyst inlines the token-array expression into every
        # element_at, re-running the regex O(n_tokens·n) times per doc
        # (measured 50× slower). Arrow batch instead — the same
        # UDF-beats-interpreted-HOF rule as word_shingles_udf.
        gram = F.explode(ngrams_udf(n, pattern)(F.col(text_col))).alias("ngram")
    return (
        df.select(gram)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# PII patterns written to the Java-regex ∩ RE2 common subset (char
# classes + bounded quantifiers + \b only — no lookaround, no backrefs)
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-z0-9._]+@[a-z0-9-]+\.[a-z]{2,}", "<EMAIL>"),
    "phone": (r"\b555-[0-9]{4}\b", "<PHONE>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
}


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Scrub PII spans and count them: adds ``n_<kind>`` (match count,
    bigint) per pattern and ``redacted`` (text with every match replaced
    by its tag). Pure Catalyst (``regexp_count``/``regexp_replace``) —
    whole-stage codegen, no UDF, trivially map-only at any scale.

    Patterns must stay in the Java/RE2 common subset so the DuckDB
    oracle (``regexp_replace(..., 'g')``) matches byte-for-byte.
    Replacement ORDER is part of the contract: kinds apply in dict
    order, and each ``n_<kind>`` is counted on the text AFTER the
    earlier kinds were replaced — so the counts describe exactly the
    spans that carry that kind's tag in ``redacted`` (a span consumed
    by an earlier replacement is neither tagged nor counted twice).
    """
    pats = PII_PATTERNS if patterns is None else patterns
    out = df
    red = F.col(text_col)
    for kind, (pat, tag) in pats.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(red, F.lit(pat)).cast("bigint")
        )
        red = F.regexp_replace(red, pat, tag)
    return out.withColumn("redacted", red)


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_count: int = 1,
) -> list[tuple[str, str]]:
    """Learn byte-pair-encoding merges (Sennrich et al. 2016) from a
    corpus: ONE distributed aggregate builds the word-type frequency
    table (the classic BPE working set — distinct words + counts, with
    ``min_count`` as the size valve), which is collected and iterated
    driver-side exactly as the reference algorithm does. The collect is
    bounded by vocabulary size, not corpus size — the standard split
    for tokenizer training at 100 TB (count distributed, merge-loop
    local, result broadcast).

    The merge loop is INCREMENTAL (the standard BPE-trainer
    optimization, same as Sennrich's reference ``learn_bpe``): pair
    counts and a pair→words inverted index are built once, and each
    merge rewrites ONLY the word types containing the merged pair,
    applying count deltas for the pairs those rewrites destroy/create.
    Per merge that is O(occurrences of the merged pair), not
    O(|vocab|·word_len) — at web-scale vocabularies (10⁷+ types) the
    difference is minutes vs hours on the driver.

    Fully deterministic: ties broken by (count DESC, pair ASC). Words
    carry the classic ``</w>`` end marker, so merges never cross word
    boundaries and detokenization is lossless.
    """
    rows = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .collect()
    )
    # word-type working set: list of [symbols, count]; pair stats +
    # inverted index maintained incrementally across merges
    words: list[list] = [
        [tuple(list(r["w"]) + ["</w>"]), int(r["c"])] for r in rows
    ]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, (sym, c) in enumerate(words):
        for p in zip(sym, sym[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # overlapping-occurrence zip counting can drive a stale index
        # entry to count 0; selection considers positive counts only
        # (identical to a fresh recount, which never yields 0)
        best, best_key = None, None
        for p, c in pair_counts.items():
            if c <= 0:
                continue
            key = (-c, p)
            if best_key is None or key < best_key:
                best, best_key = p, key
        if best is None:
            break
        merges.append(best)
        merged = best[0] + best[1]
        for wi in sorted(pair_words.get(best, ())):
            sym, c = words[wi]
            if best[0] not in sym:  # stale index entry (already rewritten)
                continue
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new = tuple(out)
            if new == sym:
                continue
            for p in zip(sym, sym[1:]):
                pair_counts[p] -= c
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(wi)
            words[wi][0] = new
            for p in zip(new, new[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + c
                pair_words.setdefault(p, set()).add(wi)
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return merges


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy BPE apply for one word (chars + ``</w>``): repeatedly
    merge the lowest-rank adjacent pair until none applies — the
    standard inference loop."""
    sym = list(word) + ["</w>"]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i, pair in enumerate(zip(sym, sym[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        # merge every occurrence of the chosen pair left-to-right
        pair = (sym[best_i], sym[best_i + 1])
        out, i = [], 0
        while i < len(sym):
            if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
                out.append(sym[i] + sym[i + 1])
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def bpe_tokenize_udf(merges: list[tuple[str, str]]):
    """Arrow-batched BPE tokenizer: applies the (broadcast-small) merge
    list greedily per word, memoized per word type within the batch —
    the apply-side of :func:`learn_bpe_merges`. Returns the full
    subword array; callers take ``size(...)`` / hashes as needed."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    tok_re = _re.compile(r"[a-z0-9]+")

    @pandas_udf("array<string>")
    def _bpe(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}
        out = []
        for t in texts:
            if t is None:  # null text → empty doc, not a job kill
                t = ""
            toks: list[str] = []
            for w in tok_re.findall(t.lower()):
                enc = memo.get(w)
                if enc is None:
                    enc = bpe_encode_word(w, ranks)
                    memo[w] = enc
                toks.extend(enc)
            out.append(toks)
        return pd.Series(out)

    return _bpe


def collapse_repeats_udf(pattern: str = WORD_RE):
    """Arrow-batched consecutive-duplicate-token collapse — the crawl-
    artifact cleaner ("buy buy buy now now" → "buy now"). Returns a
    struct of the cleaned (space-joined, normalized) text and the
    before/after token counts; deterministic, oracle-exact (DuckDB
    ``list_filter`` with an index lambda reproduces it)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    tok_re = _re.compile(pattern)

    @pandas_udf("struct<cleaned:string,n_before:bigint,n_after:bigint>")
    def _cr(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            if t is None:  # null text → empty doc, not a job kill
                t = ""
            toks = tok_re.findall(t.lower())
            out = [w for j, w in enumerate(toks) if j == 0 or toks[j - 1] != w]
            rows.append((" ".join(out), len(toks), len(out)))
        return pd.DataFrame(rows, columns=["cleaned", "n_before", "n_after"])

    return _cr


# --------------------------------------------------------------------------
# Frozen-table BPE encoding (r14 verdict #7) — pure-expression greedy
# BPE apply, cross-engine exact. The greedy loop (bpe_encode_word:
# repeatedly merge the lowest-rank adjacent pair) is equivalent to
# applying the learned merges in RANK ORDER, one full left-to-right
# pass each — a learned table can only reference a merged symbol in
# HIGHER-rank rules than the rules that created it, so when rule k
# runs, no lower-rank rule is applicable and rule k can never
# re-enable one. Each pass is ONE string replace over a
# double-separator encoding: symbols carry "||" boundaries
# ("||a||b||c||</w>||") and the pattern "|A||B|" → "|AB|" consumes
# only the INNER bars, so boundaries survive for the next overlapping
# occurrence and left-to-right non-overlapping replace semantics
# equal the greedy scan exactly (verified against bpe_encode_word on
# adversarial same-char runs and merged-symbol chains — the naive
# single-separator encoding mis-associates odd runs ≥ 5).
# --------------------------------------------------------------------------

def bpe_encode_frozen_expr(word_col: Column) -> Column:
    """Encoded form of one word under the FROZEN merge table
    (``functions/bpe_frozen.py``): the double-separator subword string
    ``||s1||s2||...||``. Pure Catalyst — one regexp char-split plus
    one ``replace`` per merge, zero Python."""
    from lightsaber_spark.functions.bpe_frozen import FROZEN_MERGES

    enc = F.concat(
        F.lit("||"),
        F.regexp_replace(word_col, "(.)", "$1||"),
        F.lit("</w>||"),
    )
    for a, b in FROZEN_MERGES:
        enc = F.replace(
            enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
        )
    return enc


def duckdb_bpe_encode_frozen(expr: str) -> str:
    """DuckDB twin of :func:`bpe_encode_frozen_expr` (RE2 backref
    spelling ``\\1``; merge symbols are ``[a-z0-9]``+``</w>`` so no
    quoting hazards)."""
    from lightsaber_spark.functions.bpe_frozen import FROZEN_MERGES

    enc = (
        f"'||' || regexp_replace({expr}, '(.)', '\\1||', 'g') || '</w>||'"
    )
    for a, b in FROZEN_MERGES:
        enc = f"replace({enc}, '|{a}||{b}|', '|{a}{b}|')"
    return enc
