"""Invariant tests for the text featurization ops (BM25, feature
hashing, df-cutoff Jaccard) — structural properties the oracle-parity
hash check can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from lightsaber_spark.functions.text import (
    bm25_select,
    feature_hash_vector,
    term_tf_table,
    token_count,
)


def test_feature_hash_mass_conservation(tables):
    """Every token lands in exactly one bucket: sum(vec) == n_tokens."""
    docs = tables["documents"]
    bad = (
        docs.select(
            token_count(F.col("text")).alias("n"),
            F.aggregate(
                feature_hash_vector(F.col("text"), 16),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("s"),
        )
        .filter(F.col("n") != F.col("s"))
        .count()
    )
    assert bad == 0


def test_bm25_rank_contract(tables):
    """Ranks are 1..k unique and scores are non-increasing in rank."""
    from lightsaber_spark.functions.text import bm25_topk

    terms = ("window", "spark", "dup")
    base = term_tf_table(tables["documents"], terms)
    rows = bm25_topk(base, terms, 20).orderBy("rnk").collect()
    assert [r["rnk"] for r in rows] == list(range(1, 21))
    scores = [r["score"] for r in rows]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    assert all(s >= 0.0 for s in scores)


def test_jaccard_df_cutoff_noop_below_cutoff(tables):
    """A cutoff above the corpus's max shingle df must not change the
    result set (the valve only engages on hot shingles)."""
    from lightsaber_spark.functions.dedup import ngram_jaccard_pairs

    docs = tables["documents"]
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, 0.5, k=3).collect()
    }
    cut = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, 0.5, k=3, max_doc_freq=10**9).collect()
    }
    assert exact == cut


def test_jaccard_prefix_filter_lossless(tables):
    """Prefix filtering (the registered scale path) returns exactly the
    uncut all-pairs result — full rows, not just the pair set."""
    from lightsaber_spark.functions.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    docs = tables["documents"]
    for tau in (0.3, 0.5, 0.8):
        exact = {tuple(r) for r in ngram_jaccard_pairs(docs, tau, k=3).collect()}
        pref = {
            tuple(r) for r in ngram_jaccard_pairs_prefix(docs, tau, k=3).collect()
        }
        assert exact == pref, f"tau={tau}"


def test_feature_hash_udf_matches_hof(tables):
    """The Arrow-batched hot path and the interpreted-HOF reference
    form are bit-identical (same md5 buckets, same counts)."""
    from lightsaber_spark.functions.text import feature_hash_vector_udf

    docs = tables["documents"].limit(200)
    both = docs.select(
        feature_hash_vector(F.col("text"), 16).alias("a"),
        feature_hash_vector_udf(16)(F.col("text")).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def test_pack_sequences_invariants(tables):
    """Packed stream is gapless and ordered: offsets are the exclusive
    cumsum of token counts in id order; sequence spans are consistent;
    total stream length = sum of token counts."""
    from lightsaber_spark.functions.packing import pack_sequences
    from lightsaber_spark.functions.text import token_count

    docs = tables["documents"].select(
        "doc_id", token_count(F.col("text")).alias("n")
    )
    out = pack_sequences(docs, 512, "n", "doc_id", n_chunks=7).orderBy("doc_id")
    rows = out.collect()
    assert rows, "non-empty corpus must pack"
    expect_off = 0
    for r in rows:
        assert r.tok_offset == expect_off
        assert r.seq_first == r.tok_offset // 512
        assert r.seq_last == (r.tok_offset + r.n_tokens - 1) // 512
        assert r.seq_first <= r.seq_last
        expect_off += r.n_tokens
    total = docs.filter(F.col("n") > 0).agg(F.sum("n")).collect()[0][0]
    assert expect_off == total
    # chunk count must not change the packing (pure function of data)
    alt = pack_sequences(docs, 512, "n", "doc_id", n_chunks=3).orderBy("doc_id")
    assert [tuple(r) for r in alt.collect()] == [tuple(r) for r in rows]


def test_mixture_sample_subset_property(tables):
    """Raising a group's rate only ADDS rows (hash keep-sets nest), so
    mixture weights can be retuned without resampling other groups."""
    from lightsaber_spark.functions.sampling import mixture_sample

    docs = tables["documents"]
    lo = mixture_sample(docs, {"src0": 0.2, "src1": 0.5}, "source", ["doc_id"], 0.1)
    hi = mixture_sample(docs, {"src0": 0.6, "src1": 0.5}, "source", ["doc_id"], 0.1)
    lo_ids = {r.doc_id for r in lo.select("doc_id").collect()}
    hi_ids = {r.doc_id for r in hi.select("doc_id").collect()}
    assert lo_ids <= hi_ids
    # untouched groups are byte-identical between the two mixtures
    lo_other = {r.doc_id for r in lo.filter(F.col("source") != "src0").collect()}
    hi_other = {r.doc_id for r in hi.filter(F.col("source") != "src0").collect()}
    assert lo_other == hi_other


def test_contamination_bounds_and_self_overlap(tables):
    """Contamination is in [0,1]; eval docs checked against themselves
    are fully contaminated."""
    from lightsaber_spark.functions.dedup import contamination_check

    docs = tables["documents"]
    ev = docs.filter(F.col("doc_id") < 10)
    out = contamination_check(docs.filter(F.col("doc_id") >= 10), ev)
    assert out.filter(
        (F.col("contamination") < 0) | (F.col("contamination") > 1)
    ).count() == 0
    self_out = contamination_check(ev, ev)
    assert self_out.filter(F.col("contamination") != 1.0).count() == 0


def test_kmeans_centroids_deterministic_and_bounded(tables):
    """Same fit twice -> identical centroids; centroid count <= k and
    never exceeds the corpus; components stay in the scaled range."""
    from lightsaber_spark.functions.similarity import SCALE, kmeans_fit_scaled

    emb = tables["embeddings"]
    c1 = kmeans_fit_scaled(emb, k=4, iters=2)
    c2 = kmeans_fit_scaled(emb, k=4, iters=2)
    assert c1 == c2
    assert 1 <= len(c1) <= 4
    lo = emb.agg(F.min(F.array_min("embedding"))).collect()[0][0] * SCALE
    hi = emb.agg(F.max(F.array_max("embedding"))).collect()[0][0] * SCALE
    for _cid, vec in c1:
        assert len(vec) == 64
        assert all(lo - 1 <= x <= hi + 1 for x in vec)


def test_text_stats_arrow_matches_expression(tables):
    """The one-pass Arrow counter and the Catalyst expression form are
    bit-identical (same integer counts -> same ratio doubles)."""
    from lightsaber_spark.functions.text import text_stats

    cols = ["doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_token_len"]
    a = text_stats(tables["documents"], arrow=True).select(cols)
    b = text_stats(tables["documents"], arrow=False).select(cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_hash_sample_partition_stability(tables):
    """The md5 keep-set is a pure function of the data: identical under
    any repartitioning (the property df.sample() lacks)."""
    from lightsaber_spark.functions.sampling import hash_sample

    ev = tables["events"].select("event_id", "user_id")
    a = {r.event_id for r in hash_sample(ev.repartition(3), 0.2, ["user_id"]).collect()}
    b = {r.event_id for r in hash_sample(ev.repartition(11), 0.2, ["user_id"]).collect()}
    assert a == b and a
    # keyed: every kept user keeps ALL their events (leakage-safe)
    kept_users = {r.user_id for r in hash_sample(ev, 0.2, ["user_id"]).select("user_id").distinct().collect()}
    n_kept = hash_sample(ev, 0.2, ["user_id"]).count()
    n_all_of_kept = ev.filter(F.col("user_id").isin(*kept_users)).count()
    assert n_kept == n_all_of_kept


def test_scaled_dot_udf_matches_fold(tables):
    """The Arrow dot and the JVM fold are bit-identical on scaled
    integer vectors (the exactness argument both GEMM kernels rest on)."""
    from lightsaber_spark.functions.similarity import (
        _scaled_dot,
        scaled_dot_udf,
        scaled_vec,
    )

    e = tables["embeddings"].limit(300).select(
        scaled_vec(F.col("embedding")).alias("v")
    )
    both = e.select(
        _scaled_dot(F.col("v"), F.col("v")).cast("double").alias("a"),
        scaled_dot_udf()(F.col("v"), F.col("v")).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def test_chunk_documents_edges(spark):
    """Chunk arithmetic at the boundaries: empty doc → one empty chunk;
    n == ctx → one full chunk; n == ctx+1 → two chunks with the second
    holding the overlap tail; coverage is gapless at stride < ctx."""
    from lightsaber_spark.functions.text import chunk_documents

    rows = [
        (1, ""),                       # 0 tokens
        (2, " ".join(["tok"] * 8)),    # n == ctx
        (3, " ".join(["tok"] * 9)),    # n == ctx + 1
        (4, " ".join(["tok"] * 23)),   # multi-chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.tok_start, r.n_tokens_chunk)
        for r in chunk_documents(df, ctx_len=8, stride=6).collect()
    }
    assert got[(1, 0)] == (0, 0) and (1, 1) not in got
    assert got[(2, 0)] == (0, 8) and (2, 1) not in got
    assert got[(3, 0)] == (0, 8) and got[(3, 1)] == (6, 3)
    # n=23: chunks at 0,6,12,18 — last covers tokens 18..22
    assert [got[(4, i)] for i in range(4)] == [(0, 8), (6, 8), (12, 8), (18, 5)]
    assert (4, 4) not in got
    # every token index covered by at least one chunk
    covered = set()
    for (d, _c), (s, m) in got.items():
        if d == 4:
            covered |= set(range(s, s + m))
    assert covered == set(range(23))

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, ctx_len=8, stride=9)
    with _pytest.raises(ValueError):
        chunk_documents(df, ctx_len=0)


def test_corpus_ngram_counts_mass(tables, spark):
    """Σ bigram counts == Σ per-doc max(n_tokens - 1, 0); unigram total
    == token total (nothing dropped or double-counted by the HOF)."""
    from lightsaber_spark.functions.text import corpus_ngram_counts, token_count

    docs = tables["documents"]
    bi = corpus_ngram_counts(docs, n=2).agg(F.sum("cnt")).collect()[0][0]
    expect = (
        docs.select(F.greatest(token_count(F.col("text")) - 1, F.lit(0)).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert bi == expect
    uni = corpus_ngram_counts(docs, n=1).agg(F.sum("cnt")).collect()[0][0]
    tot = docs.select(token_count(F.col("text")).alias("n")).agg(F.sum("n")).collect()[0][0]
    assert uni == tot


def test_profile_columns_exact(spark):
    from lightsaber_spark.functions.profiling import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")], "k int, v string"
    )
    rows = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["v"]["n_rows"] == 4
    assert rows["k"]["n_nulls"] == 1 and rows["v"]["n_nulls"] == 1
    assert rows["k"]["n_distinct"] == 2 and rows["v"]["n_distinct"] == 2


def test_redact_pii_counts_and_idempotence(spark):
    from lightsaber_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at bob.smith@example-site.org or call 555-0042 now"),
            (1, "server 10.0.255.7 and 192.168.1.1 but not 1234.5.6.7890"),
            (2, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_phone"] == 1 and out[0]["n_ipv4"] == 0
    assert "<EMAIL>" in out[0]["redacted"] and "<PHONE>" in out[0]["redacted"]
    assert "@" not in out[0]["redacted"].replace("<EMAIL>", "")
    # \b guards: 1234.5.6.7890 has 4-digit runs -> no IPv4 match
    assert out[1]["n_ipv4"] == 2
    assert out[2]["redacted"] == "clean text with no pii at all"
    # redaction is idempotent: re-redacting the redacted text changes nothing
    red = redact_pii(
        redact_pii(df).select("doc_id", F.col("redacted").alias("text"))
    ).collect()
    for r in red:
        assert r["redacted"] == r["text"]


def test_minhash_levenshtein_subset_of_candidates(tables):
    """Every emitted pair is an LSH candidate pair, distances respect
    the permille bound, and the pair set is non-vacuous on the corpus."""
    from lightsaber_spark.functions.dedup import (
        minhash_levenshtein_pairs,
        minhash_lsh_candidates,
    )

    docs = tables["documents"]
    pairs = minhash_levenshtein_pairs(docs, max_dist_permille=400).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["edit_dist"] * 1000 <= 400 * r["max_len"]
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs} <= cands


def test_bpe_learn_matches_hand_computed(spark):
    """Sennrich-style toy corpus: merges and encodings verified by hand."""
    from lightsaber_spark.functions.text import (
        bpe_encode_word,
        bpe_tokenize_udf,
        learn_bpe_merges,
    )

    # word types: low x5, lowest x2  (single doc, space-separated)
    df = spark.createDataFrame(
        [("low low low low low lowest lowest",)], "text string"
    )
    merges = learn_bpe_merges(df, n_merges=4)
    # pair counts round 1: (l,o)=7, (o,w)=7, (w,</w>)=5, (w,e)=2, ... ->
    # tie (l,o)/(o,w) broken lexicographically: (l,o) first
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")
    assert merges[2] == ("low", "</w>")
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert bpe_encode_word("low", ranks) == ["low</w>"]
    assert bpe_encode_word("lowest", ranks)[0] == "low"
    # unseen word degrades to chars + marker, never fails
    out = bpe_encode_word("zq", {})
    assert out == ["z", "q", "</w>"]
    # Spark apply matches the local encoder
    enc = (
        spark.createDataFrame([("low lowest zq",)], "text string")
        .select(bpe_tokenize_udf(merges)(F.col("text")).alias("t"))
        .collect()[0]["t"]
    )
    expect = (
        bpe_encode_word("low", ranks)
        + bpe_encode_word("lowest", ranks)
        + bpe_encode_word("zq", ranks)
    )
    assert enc == expect


def test_bpe_tokenize_docs_content_matches_python_model(spark):
    """`bpe_tokenize_docs` is rows-only at the driver by design (the
    merge loop is iterative); this pin checks CONTENT instead: the full
    per-doc (n_word_tokens, n_bpe_tokens, tokens_hash) map from the
    REGISTERED query must equal an independent pure-Python model —
    word counts via collections.Counter, an independently written merge
    loop, greedy per-word encode, and a hashlib twin of shingle_hash.
    Order-independent (dict compare keyed by doc_id), exact."""
    import hashlib
    import re
    from collections import Counter

    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from conftest import SF_DIR
    from lightsaber_spark.functions.text import bpe_encode_word

    got = {
        r["doc_id"]: (r["n_word_tokens"], r["n_bpe_tokens"], r["tokens_hash"])
        for r in entry.queries()["bpe_tokenize_docs"](spark, SF_DIR).collect()
    }

    t = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pydict()
    tok_re = re.compile("[a-z0-9]+")
    doc_words = {
        d: tok_re.findall(x.lower()) for d, x in zip(t["doc_id"], t["text"])
    }

    # independent merge learner (count desc / pair asc; min_count=2,
    # n_merges=40 — the registered query's parameters)
    counts = Counter(w for ws in doc_words.values() for w in ws)
    vocab = {
        tuple(list(w) + ["</w>"]): c for w, c in counts.items() if c >= 2
    }
    merges = []
    for _ in range(40):
        pairs = Counter()
        for sym, c in vocab.items():
            for p in zip(sym, sym[1:]):
                pairs[p] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        nxt = {}
        for sym, c in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best:
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + c
        vocab = nxt
    ranks = {m: i for i, m in enumerate(merges)}

    want = {}
    for d, ws in doc_words.items():
        bpe = [s for w in ws for s in bpe_encode_word(w, ranks)]
        h = int(hashlib.md5(" ".join(bpe).encode()).hexdigest()[:15], 16)
        want[d] = (len(ws), len(bpe), h)

    assert got == want


def test_bpe_detokenization_lossless(tables):
    """concat(bpe tokens) with </w> -> spaces reproduces the word
    sequence exactly, and more merges never increase the token count."""
    from lightsaber_spark.functions.text import (
        bpe_tokenize_udf,
        learn_bpe_merges,
        tokens,
    )

    docs = tables["documents"].limit(50)
    merges = learn_bpe_merges(docs, n_merges=30, min_count=2)
    rows = docs.select(
        tokens(F.col("text")).alias("words"),
        bpe_tokenize_udf(merges)(F.col("text")).alias("bpe"),
        bpe_tokenize_udf(merges[:10])(F.col("text")).alias("bpe10"),
    ).collect()
    for r in rows:
        joined = "".join(r["bpe"]).replace("</w>", " ").split()
        assert joined == r["words"]
        assert len(r["bpe"]) <= len(r["bpe10"])


def test_redact_pii_progressive_counts(spark):
    """A span consumed by an earlier kind is neither tagged nor counted
    by a later kind: counts describe the redacted output exactly."""
    from lightsaber_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [(0, "reach 555-0042@example.com ok")], "doc_id long, text string"
    )
    r = redact_pii(df).collect()[0]
    # email pattern eats '0042@example.com'; the leftover '555-' is no
    # longer followed by 4 digits, so n_phone counts 0 — matching the
    # single <EMAIL> tag in the output
    assert r["n_email"] == 1 and r["n_phone"] == 0
    assert r["redacted"] == "reach 555-<EMAIL> ok"


def test_profile_columns_odd_names(spark):
    from lightsaber_spark.functions.profiling import profile_columns

    df = spark.createDataFrame([(1, "x"), (None, "y")], ["my col", "a.b"])
    rows = {r["column_name"]: r for r in profile_columns(df).collect()}
    assert rows["my col"]["n_nulls"] == 1
    assert rows["a.b"]["n_distinct"] == 2


def test_minhash_bucket_valve(tables):
    """max_bucket above every bucket size is a no-op; max_bucket=0
    drops all retrieval; invalid bands fail before any cache registers."""
    import pytest

    from lightsaber_spark.functions.dedup import (
        _SHINGLE_CACHES,
        minhash_lsh_candidates,
        minhash_lsh_pairs,
        release_shingle_caches,
    )

    docs = tables["documents"]
    base = {tuple(r) for r in minhash_lsh_candidates(docs).collect()}
    capped = {
        tuple(r) for r in minhash_lsh_candidates(docs, max_bucket=10**6).collect()
    }
    assert base == capped
    assert minhash_lsh_candidates(docs, max_bucket=0).count() == 0
    release_shingle_caches()
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, threshold=0.5, n_hashes=32, bands=5)
    assert not _SHINGLE_CACHES  # fail-fast left no cache behind


def test_bpe_tokenize_docs_content_pin(spark, tables):
    """`bpe_tokenize_docs` is one of the two no-oracle-by-design
    registered queries (the merge loop is iterative, not
    SQL-expressible), so the driver only checks rows. This pin checks
    CONTENT: every (doc_id, tokens_hash) the Spark query emits must
    equal a pure-Python re-derivation — greedy `bpe_encode_word` over
    the regex word stream, md5-folded exactly like `shingle_hash` —
    plus one order-independent corpus checksum so a future regression
    can't hide in unsorted comparisons."""
    import hashlib
    import re

    from lightsaber_spark.functions.text import bpe_encode_word, learn_bpe_merges
    from lightsaber_spark.pipeline_queries import _docs
    from lightsaber_spark.registry import catalog
    from tests.conftest import SF_DIR

    out = {
        r["doc_id"]: (r["n_word_tokens"], r["n_bpe_tokens"], r["tokens_hash"])
        for r in catalog()[0]["bpe_tokenize_docs"](spark, SF_DIR).collect()
    }
    docs = {r["doc_id"]: r["text"] for r in tables["documents"].collect()}
    assert set(out) == set(docs)

    merges = learn_bpe_merges(_docs(spark, SF_DIR), n_merges=40, min_count=2)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    word_re = re.compile(r"[a-z0-9]+")
    memo: dict[str, list[str]] = {}
    checksum_spark = 0
    checksum_model = 0
    for doc_id, text in docs.items():
        words = word_re.findall(text.lower())
        toks: list[str] = []
        for w in words:
            if w not in memo:
                memo[w] = bpe_encode_word(w, ranks)
            toks.extend(memo[w])
        h = int(hashlib.md5(" ".join(toks).encode()).hexdigest()[:15], 16)
        n_words, n_bpe, tokens_hash = out[doc_id]
        assert n_words == len(words), doc_id
        assert n_bpe == len(toks), doc_id
        assert tokens_hash == h, doc_id
        checksum_model = (checksum_model + doc_id * h) % (2**61 - 1)
        checksum_spark = (checksum_spark + doc_id * tokens_hash) % (2**61 - 1)
    assert checksum_spark == checksum_model


def test_term_tf_table_null_text_cross_engine(spark):
    """r13 review: NULL text must count as an EMPTY document (dl = 0,
    tf = 0) on both engines. Without the coalesce, Spark's
    size(NULL) = -1 fed dl/tf = -1 into BM25 scoring while DuckDB's
    len(NULL) was NULL — divergent garbage either way, masked by the
    catalog's non-null corpus."""
    import duckdb
    from pyspark.sql import functions as F

    from lightsaber_spark.functions.text import term_tf_table

    df = spark.createDataFrame(
        [(1, "the window spark window"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.dl, r.tf0, r.tf1)
        for r in term_tf_table(df, ("window", "spark")).collect()
    )
    assert got == [(1, 4, 2, 1), (2, 0, 0, 0), (3, 0, 0, 0)]

    toks = (
        "regexp_extract_all(lower(text), '[a-z0-9]+')"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(doc_id BIGINT, text VARCHAR);"
        "INSERT INTO t VALUES (1, 'the window spark window'), (2, NULL), (3, '')"
    )
    want = sorted(
        map(tuple, con.execute(f"""
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'window')) AS BIGINT) AS tf0,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf1
        FROM (SELECT doc_id, COALESCE({toks}, CAST([] AS VARCHAR[])) AS toks
              FROM t)
        """).fetchall())
    )
    assert got == want


def test_bpe_frozen_encode_equals_greedy_loop(spark, tables):
    """The pure-expression frozen-table encode (50 chained replaces
    over the double-separator encoding, rank order) must equal the
    reference greedy loop (bpe_encode_word: repeatedly merge the
    lowest-rank adjacent pair) for EVERY word type in the corpus —
    the equivalence argument behind the bpe_encode_frozen oracle.
    Also pinned on the adversarial shapes where the single-separator
    encoding breaks (odd same-char runs, merged-symbol chains)."""
    from lightsaber_spark.functions.bpe_frozen import FROZEN_MERGES
    from lightsaber_spark.functions.text import (
        bpe_encode_frozen_expr,
        bpe_encode_word,
        tokens,
    )

    ranks = {tuple(m): i for i, m in enumerate(FROZEN_MERGES)}
    docs = tables["documents"]
    vocab = docs.select(
        F.explode(tokens(F.col("text"))).alias("w")
    ).distinct()
    extra = spark.createDataFrame(
        [("aaaaa",), ("eeeee",), ("ererer",), ("eee",), ("owowow",)],
        "w string",
    )
    got = {
        r["w"]: [s for s in r["e"].split("||") if s]
        for r in vocab.unionByName(extra)
        .select("w", bpe_encode_frozen_expr(F.col("w")).alias("e"))
        .collect()
    }
    assert len(got) > 30  # fixture vocab + adversarial extras
    for w, enc in got.items():
        assert enc == bpe_encode_word(w, ranks), w
