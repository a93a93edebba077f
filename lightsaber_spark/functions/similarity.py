"""Similarity search over embedding columns.

Beyond-parity surface: brute-force cosine top-k as the correctness
baseline, and a deterministic random-hyperplane LSH bucketing as the
scale path (candidates via equi-join on bucket signature instead of an
all-pairs cross join).

Determinism contract: embeddings are float32; elements are scaled to
exact integers (×10^6) so dot products / norms are order-independent
bigints and results reproduce bit-identically in the DuckDB oracle
(two-arg list_transform lambda + list_sum).

Input contract (whole cosine family, batch and oracle alike): vectors
must have a non-zero scaled norm. A zero vector makes every cosine
0/0 — numpy NaN vs DuckDB NULL (verified: DuckDB float 0.0/0.0 is
NULL). Threshold predicates happen to agree (NaN >= t is False, NULL
>= t drops the row), but rank/sort positions diverge (NaN vs NULL
ordering), so zero vectors would not fail loudly — they would silently
de-sync any ranked oracle. The testdata embeddings are non-zero by
construction; a real ingest should drop or epsilon-floor zero vectors
upstream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

SCALE = 1_000_000


def _int_dot(a: Column, b: Column) -> Column:
    """Σ round(a_i·10^6)·round(b_i·10^6) as exact bigint."""
    prods = F.zip_with(
        a, b,
        lambda x, y: (F.round(x.cast("double") * SCALE).cast("bigint")
                      * F.round(y.cast("double") * SCALE).cast("bigint")),
    )
    return F.aggregate(prods, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def _int_norm2(a: Column) -> Column:
    return _int_dot(a, a)


def int_cosine(a: Column, b: Column) -> Column:
    """Cosine similarity on integer-scaled vectors: exact integer dot /
    sqrt of exact integer norms — deterministic across engines."""
    return _int_dot(a, b) / (F.sqrt(_int_norm2(a)) * F.sqrt(_int_norm2(b)))


def scaled_vec(a: Column) -> Column:
    """Integer-scaled copy of a float vector (compute once per row,
    before any pairwise op — scaling inside an O(n²) join would redo
    per-element rounding for every pair)."""
    return F.transform(a, lambda x: F.round(x.cast("double") * SCALE).cast("bigint"))


def _scaled_dot(a: Column, b: Column) -> Column:
    """Dot of two already-scaled bigint vectors (interpreted HOF fold).

    MEASURED faster than the Arrow twin (:func:`scaled_dot_udf`) inside
    candidate-scoring joins: the fold stays JVM-side, while the UDF
    must ship both 64-element arrays JVM->Python per candidate — the
    transfer exceeds the interpretation cost (sim_lsh_topk 1.1s fold vs
    1.4s Arrow at sf0.1). Prefer the UDF only where vectors already
    cross the Python boundary (see the GEMM kernels)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )


def scaled_dot_udf():
    """Arrow-batched dot of two already-scaled bigint vectors. Exact:
    every product (≤ ~10^14) and partial sum (≤ ~10^16) is an integer
    below 2^53, so the float64 einsum equals the bigint fold
    bit-for-bit and any downstream division matches the oracle.

    NOT used in the scoring joins — measured SLOWER there than the
    interpreted fold (see :func:`_scaled_dot`): Arrow must transfer
    both vectors per candidate row. Kept for call sites where the
    vectors are already Python-side."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return _dot


def _prep(df: DataFrame, id_col: str, vec_col: str, out_id: str) -> DataFrame:
    """(id, scaled vector, precomputed norm) — the pairwise-ready form."""
    s = df.select(F.col(id_col).alias(out_id), scaled_vec(F.col(vec_col)).alias("_sv"))
    return s.withColumn("_norm", F.sqrt(_scaled_dot(F.col("_sv"), F.col("_sv"))))


def derive_n_blocks(
    n_rows: int, dim: int, target_block_bytes: int
) -> int:
    """Tile count so ONE tile-pair task fits ``target_block_bytes``,
    bounding BOTH allocations the kernel makes:

    - the input tile matrix, ≈ (n_rows / n_blocks) · dim float64 —
      ceil(n_rows · dim · 8 / target);
    - the pairwise cosine matrix C, ≈ (n_rows / n_blocks)² float64
      (review finding: the original derivation budgeted only the
      input tiles, so low-dim relations derived huge row blocks whose
      C alone was hundreds of times the target) —
      ceil(n_rows / isqrt(target / 8)).

    The auto-derivation companion to ``target_cell_size`` (r10 verdict
    #4) — a fixed tile count on a growing relation silently overshoots
    executor memory, exactly as a fixed k re-inflates the pair space.
    At the SemDeDup paper's shape (cells of ~10⁴ rows × 768 dims ≈
    61 MB) a 16 MB target derives 7 tiles (the C bound caps blocks at
    ~1448 rows); a 10⁶-row relation derives 691 instead of silently
    building 2 GB tiles with 8.6 GB cosine matrices."""
    import math

    rows_cap = max(1, math.isqrt(target_block_bytes // 8))
    return max(
        1,
        math.ceil(n_rows * dim * 8 / target_block_bytes),
        math.ceil(n_rows / rows_cap),
    )


def _peek_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from one row — a bounded eager action (single-row
    limit) in the same documented class as the fit/count collects."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d").isNotNull() & (F.col("d") >= 0))
        .first()
    )
    if row is None:  # empty relation, or nothing but null vectors
        return 1
    return int(row["d"])


def blocked_allpairs_cosine(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    target_block_bytes: int | None = None,
    corpus_size: int | None = None,
) -> DataFrame:
    """All-pairs cosine >= threshold via block-nested-loop GEMM.

    The row-level cross join evaluates the dot product expression per
    pair — O(n²) Catalyst expression evals. This kernel instead tiles
    the n×n pair space into (n_blocks choose 2)+n_blocks block pairs:
    each row is replicated to its n_blocks partner groups (shuffle is
    n·n_blocks rows — linear), and each group computes one vectorized
    BLAS matmul over its two sub-matrices (``applyInPandas``).

    Exactness: scaled elements are integers ≤ ~10^7, so every product
    (≤10^14) and 64-term partial sum stays < 2^53 — float64 GEMM is
    EXACT integer arithmetic, reproducing the SQL bigint fold and the
    DuckDB oracle bit-for-bit. Rounding replicates Spark/DuckDB
    HALF_UP (numpy's own round is half-to-even).

    At 100 TB scale: n_blocks² tasks, each a dense GEMM — compute-bound
    and embarrassingly parallel; raise n_blocks so each tile fits in
    executor memory (tile rows ≈ n / n_blocks) — or pass
    ``target_block_bytes`` and n_blocks is DERIVED via
    :func:`derive_n_blocks` from the relation size (``corpus_size`` if
    supplied, else one count) and the peeked vector width. Tiling is
    plan-shape only, never semantics (pinned by the block-count
    invariance tests), so the oracle is unaffected.
    """
    import numpy as np
    import pandas as pd

    if target_block_bytes is not None:
        n = corpus_size if corpus_size is not None else df.count()
        n_blocks = derive_n_blocks(n, _peek_dim(df, vec_col), target_block_bytes)
    base = df.select(
        F.col(id_col).cast("bigint").alias("_id"), F.col(vec_col).alias("_v")
    )
    b = base.withColumn("_blk", F.pmod(F.col("_id"), F.lit(n_blocks)).cast("int"))
    rep = (
        b.withColumn("_p", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("_gi", F.least("_blk", "_p"))
        .withColumn("_gj", F.greatest("_blk", "_p"))
    )

    def _scaled_mat(col) -> "np.ndarray":
        m = np.stack([np.asarray(v, dtype=np.float64) for v in col])
        y = m * SCALE
        return np.sign(y) * np.floor(np.abs(y) + 0.5)  # HALF_UP, exact ints

    def fn(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = int(key[0]), int(key[1])
        cols = ["id_a", "id_b", "cosine"]
        blk = pdf["_blk"].to_numpy()
        if gi == gj:
            sub = pdf
            S = _scaled_mat(sub["_v"])
            ids = sub["_id"].to_numpy()
            norms = np.sqrt((S * S).sum(axis=1))
            C = (S @ S.T) / (norms[:, None] * norms[None, :])
            mask = (ids[:, None] < ids[None, :]) & (C >= threshold)
            ia, ib = np.nonzero(mask)
            return pd.DataFrame(
                {"id_a": ids[ia], "id_b": ids[ib], "cosine": C[ia, ib]}
            )[cols]
        a, c = pdf[blk == gi], pdf[blk == gj]
        if len(a) == 0 or len(c) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})[cols]
        Sa, Sc = _scaled_mat(a["_v"]), _scaled_mat(c["_v"])
        ia_ids, ic_ids = a["_id"].to_numpy(), c["_id"].to_numpy()
        na = np.sqrt((Sa * Sa).sum(axis=1))
        nc = np.sqrt((Sc * Sc).sum(axis=1))
        C = (Sa @ Sc.T) / (na[:, None] * nc[None, :])
        ia, ic = np.nonzero(C >= threshold)
        u, v = ia_ids[ia], ic_ids[ic]
        return pd.DataFrame(
            {
                "id_a": np.minimum(u, v),
                "id_b": np.maximum(u, v),
                "cosine": C[ia, ic],
            }
        )[cols]

    return rep.groupBy("_gi", "_gj").applyInPandas(
        fn, "id_a bigint, id_b bigint, cosine double"
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (excluding
    self-matches by id).

    The query set is collected driver-side (top-k seekers are small by
    definition — for large query sets use the LSH/IVF paths) and
    embedded as a matrix; each corpus partition computes one GEMM
    against it and keeps only its LOCAL top-k per query (exact: the
    global top-k is a subset of the union of per-partition top-k).
    Shuffle volume is partitions·|Q|·k rows instead of |corpus|·|Q| —
    the corpus is scanned once, never shuffled, and the float64-on-
    integers GEMM is exact (see CLAUDE.md). Ties break by neighbor id
    ascending.

    The small-query-set contract is ENFORCED: more than
    ``max_query_rows`` query vectors raises instead of silently
    ballooning the driver and every executor's broadcast matrix — route
    big query sets to :func:`hyperplane_lsh_topk` / :func:`ivf_topk`."""
    q_rows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(q_rows) > max_query_rows:
        raise ValueError(
            f"brute_force_topk query set exceeds max_query_rows="
            f"{max_query_rows}; use the LSH/IVF paths for large query sets"
        )
    if not q_rows:
        # empty query set → empty result (np.stack on [] would raise
        # an opaque ValueError); schema matches the populated path
        return queries.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, cosine double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    y = qm * SCALE
    qs = np.sign(y) * np.floor(np.abs(y) + 0.5)
    qn = np.sqrt((qs * qs).sum(axis=1))

    def part(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ym = m * SCALE
            s = np.sign(ym) * np.floor(np.abs(ym) + 0.5)
            norms = np.sqrt((s * s).sum(axis=1))
            cos = (qs @ s.T) / (qn[:, None] * norms[None, :])  # (nq, nb)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(q_ids)):
                row = cos[qi]
                mask = ids != q_ids[qi]
                cand_n, cand_c = ids[mask], row[mask]
                if len(cand_c) > k:
                    # exact local top-k with (cos desc, id asc) ties
                    order = np.lexsort((cand_n, -cand_c))[:k]
                else:
                    order = np.argsort(-cand_c, kind="stable")
                out_q.extend([q_ids[qi]] * len(cand_n[order]))
                out_n.extend(cand_n[order])
                out_c.extend(cand_c[order])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    scored = corpus.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        part, "query_id bigint, neighbor_id bigint, cosine double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("_rk").alias("rank"))
    )


def _plane_matrix(n_planes: int, dim: int, salt: str):
    """±1 plane weights, identical to the expression/oracle derivation:
    sign(p, i) = md5('{salt}_{p}_{i}')[:15 hex] % 2 * 2 - 1."""
    import hashlib

    import numpy as np

    w = np.empty((dim, n_planes), dtype=np.float64)
    for p in range(n_planes):
        for i in range(dim):
            h = int(hashlib.md5(f"{salt}_{p}_{i}".encode()).hexdigest()[:15], 16)
            w[i, p] = float(h % 2 * 2 - 1)
    return w


def hyperplane_signature_udf(
    n_planes: int = 8, dim: int = 64, salt: str = "lsh", scaled: bool = False
):
    """Arrow-batched signature computation: one (batch × dim) · (dim ×
    n_planes) matmul per batch instead of n_planes interpreted
    higher-order folds per row (~20× faster). Exact: all dots are
    integer-valued floats far below 2^53, so sign bits match the
    expression form and the DuckDB oracle bit-for-bit."""
    import numpy as np
    import pandas as pd

    w = _plane_matrix(n_planes, dim, salt)
    weights = (2.0 ** np.arange(n_planes)).astype(np.float64)

    @F.pandas_udf("bigint")
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if not scaled:
            y = m * SCALE
            m = np.sign(y) * np.floor(np.abs(y) + 0.5)
        bits = (m @ w) > 0
        return pd.Series((bits @ weights).astype(np.int64))

    return _sig


def hyperplane_band_signatures_udf(
    n_planes: int, bands: int, dim: int = 64, salt: str = "lsh",
    scaled: bool = False,
):
    """All ``bands`` independent signatures in ONE Arrow UDF returning
    ``array<bigint>`` (index = band): the per-band plane matrices
    (salts ``{salt}0..{salt}{bands-1}`` — bit-identical to calling
    :func:`hyperplane_signature_udf` per band) are hstacked so each
    batch pays a single list→matrix conversion and a single
    (batch × dim)·(dim × planes·bands) matmul instead of ``bands``
    separate UDF round-trips — the conversion dominates signature
    cost, so this is ~bands× cheaper on the corpus side of every
    banded query."""
    import numpy as np
    import pandas as pd

    w = np.hstack([
        _plane_matrix(n_planes, dim, f"{salt}{b}") for b in range(bands)
    ])  # (dim, n_planes*bands)
    weights = (2.0 ** np.arange(n_planes)).astype(np.float64)

    @F.pandas_udf("array<bigint>")
    def _sigs(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if not scaled:
            y = m * SCALE
            m = np.sign(y) * np.floor(np.abs(y) + 0.5)
        bits = (m @ w) > 0  # (n, planes*bands)
        per_band = bits.reshape(len(m), bands, n_planes)  # row-major split
        sigs = (per_band @ weights).astype(np.int64)  # (n, bands)
        return pd.Series(list(sigs))

    return _sigs


def _centroid_matrix(centroids, centroids_scaled: bool):
    cents = sorted(centroids)
    ids = np.array([c for c, _ in cents], dtype=np.int64)
    m = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    if not centroids_scaled:
        y = m * SCALE
        m = np.sign(y) * np.floor(np.abs(y) + 0.5)
    return ids, m, np.sqrt((m * m).sum(axis=1))


def _centroid_payload(centroids, centroids_scaled: bool):
    """(broadcast, inline) centroid distribution — exactly one is set.

    The k×dim matrix used to ride in each assigner UDF's pickled
    closure, which re-ships it with EVERY task and hits cloudpickle's
    practical bound around k·dim ≈ 10^7 elements (~80 MB float64) —
    below the SemDeDup paper's 50k cells × 768 dims. With an active
    SparkSession the matrix now travels as a ``SparkContext.broadcast``
    instead: the closure carries only the broadcast handle (a few
    bytes), each executor fetches the blocks once via the torrent
    mechanism, and ``bc.value`` caches per worker process — the
    standard 100 TB shape for a shared read-only matrix. Broadcast
    lifetime: k·dim·8 bytes per fit, reclaimed with the session (or
    eagerly via ``destroy()``); the fixture-scale fits are a few KB.

    No active session (plain unit-test construction) falls back to the
    closure-inline payload — identical arithmetic either way."""
    payload = _centroid_matrix(centroids, centroids_scaled)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return None, payload
    return spark.sparkContext.broadcast(payload), None


def ivf_cell_udf(
    centroids: list[tuple[int, list[float]]],
    centroids_scaled: bool = False,
    vecs_scaled: bool = False,
):
    """Cell assigner: exact argmax-cosine against a small centroid set
    (ties → lowest centroid id, matching a ``row_number() ... ORDER BY
    cos DESC, cid ASC`` oracle). One GEMM per Arrow batch; the centroid
    matrix ships as a Spark broadcast variable (see
    :func:`_centroid_payload`) — the UDF closure carries only the
    handle, so paper-scale k (50k cells × 768 dims) no longer hits the
    closure-pickle bound.
    ``centroids_scaled=True`` means centroid vectors are already exact
    scaled integers (e.g. from :func:`kmeans_fit_scaled`);
    ``vecs_scaled=True`` means the INPUT vectors are too — rescaling
    them again would push dot-product terms past 2^53 and silently
    forfeit the exact-integer-GEMM guarantee (cosine is scale-invariant,
    so only exactness, i.e. tie-breaking, is at stake)."""
    bc, inline = _centroid_payload(centroids, centroids_scaled)

    @F.pandas_udf("bigint")
    def _cell(vecs: pd.Series) -> pd.Series:
        ids, cm, cnorm = bc.value if bc is not None else inline
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if vecs_scaled:
            s = x
        else:
            y = x * SCALE
            s = np.sign(y) * np.floor(np.abs(y) + 0.5)
        norms = np.sqrt((s * s).sum(axis=1))
        cos = (s @ cm.T) / (norms[:, None] * cnorm[None, :])
        return pd.Series(ids[np.argmax(cos, axis=1)])

    # lifecycle handle: at paper-scale k the broadcast is ~100s of MB,
    # so callers that supersede an assigner (the Lloyd loop builds one
    # per iteration) destroy the old round's blocks eagerly instead of
    # waiting for session GC
    _cell._ls_broadcast = bc
    return _cell


def ivf_cells_udf(
    centroids: list[tuple[int, list[float]]],
    n_probe: int,
    centroids_scaled: bool = False,
    vecs_scaled: bool = False,
):
    """Multi-probe cell assigner: the ``n_probe`` nearest centroid ids
    per vector (cosine desc, centroid id asc on ties — stable argsort
    over the id-ordered centroid matrix). Same exact integer-scaled
    arithmetic as :func:`ivf_cell_udf`, so probe 1 equals its argmax —
    and the same broadcast-variable distribution."""
    bc, inline = _centroid_payload(centroids, centroids_scaled)

    @F.pandas_udf("array<bigint>")
    def _cells(vecs: pd.Series) -> pd.Series:
        ids, cm, cnorm = bc.value if bc is not None else inline
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if vecs_scaled:
            s = x
        else:
            y = x * SCALE
            s = np.sign(y) * np.floor(np.abs(y) + 0.5)
        norms = np.sqrt((s * s).sum(axis=1))
        cos = (s @ cm.T) / (norms[:, None] * cnorm[None, :])
        order = np.argsort(-cos, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([ids[row].tolist() for row in order])

    _cells._ls_broadcast = bc
    return _cells


def ivf_cell_ccos_udf(
    centroids: list[tuple[int, list[float]]],
    centroids_scaled: bool = False,
    vecs_scaled: bool = False,
):
    """Cell assigner that also returns the winning cosine: struct
    ``(cid, ccos)`` per vector — the ranking signal SemDeDup sorts by
    (:func:`semantic_dedup`). Identical arithmetic and tie-breaking to
    :func:`ivf_cell_udf` (argmax over the id-sorted centroid matrix =
    cosine desc, centroid id asc), so its ``cid`` matches that UDF and
    an ``rn = 1`` oracle row bit-for-bit. Centroids travel by broadcast
    variable (:func:`_centroid_payload`), not closure pickle."""
    bc, inline = _centroid_payload(centroids, centroids_scaled)

    @F.pandas_udf("cid bigint, ccos double")
    def _cell(vecs: pd.Series) -> pd.DataFrame:
        ids, cm, cnorm = bc.value if bc is not None else inline
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if vecs_scaled:
            s = x
        else:
            y = x * SCALE
            s = np.sign(y) * np.floor(np.abs(y) + 0.5)
        norms = np.sqrt((s * s).sum(axis=1))
        cos = (s @ cm.T) / (norms[:, None] * cnorm[None, :])
        idx = np.argmax(cos, axis=1)
        return pd.DataFrame(
            {"cid": ids[idx], "ccos": cos[np.arange(len(idx)), idx]}
        )

    _cell._ls_broadcast = bc
    return _cell


def semantic_dedup(
    corpus: DataFrame,
    threshold: float,
    k: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 4,
    centroids: list[tuple[int, list[int]]] | None = None,
    target_cell_size: int | None = None,
    corpus_size: int | None = None,
    target_block_bytes: int | None = None,
    with_vectors: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    by clustering embeddings and dropping near-identical members
    WITHIN each cluster — the IVF trick applied to dedup, so the pair
    space is cell-local instead of corpus².

    Procedure (the paper's released greedy rule, made deterministic):

    1. k-means cells via :func:`kmeans_fit_scaled` (deterministic
       integer Lloyd; pass ``centroids`` to reuse a fit);
    2. assign each vector to its cell and record the cosine to its
       centroid (:func:`ivf_cell_ccos_udf`);
    3. rank cell members by (centroid-cosine ASC, id ASC) — the
       paper keeps LOW-centroid-similarity examples to favor
       diversity, so they come first;
    4. drop a member iff ANY earlier-ranked member of its cell has
       pairwise cosine >= ``threshold`` (the paper's upper-triangular
       max-similarity test — against all earlier members, not just
       kept ones, so no sequential dependency and the whole step is
       one relational pass).

    Pairwise step is the cell-tiled GEMM of
    :func:`blocked_allpairs_cosine` with the rank mask replacing the
    id mask — exact integer-scaled float64 arithmetic throughout, so a
    DuckDB oracle (unrolled k-means fit + the same join) reproduces
    keep/drop decisions bit-for-bit.

    Returns one row per vector: ``(vec_id, cell_id, rnk, keep)`` with
    ``keep`` 1/0 as bigint.

    100 TB shape: assignment is a per-row GEMM against a broadcast
    centroid matrix (no shuffle); the pair space is Σ(cell size)² —
    raise ``k`` (the paper uses 50k clusters) so cells stay bounded,
    and ``n_blocks`` so each GEMM tile fits executor memory. The only
    collect is the k-means fit's k·dim centroid table (bounded, the
    documented :func:`kmeans_fit_scaled` contract). The k knob is
    MEASURED (round 9, 200k vectors = 100× embeddings): k=4 141.3 s
    vs k=40 50.8 s with equivalent dedup output — scale k with the
    corpus, per ``ROUND10_PERF_NOTES.md``.

    ``target_cell_size`` is the scale-safety knob the measurement asks
    for: pass it (optionally with ``corpus_size``, a caller-supplied
    row-count estimate — omitted, the corpus is counted once at build
    time, an eager scalar action in the same bounded class as the
    k-means fit) and ``k`` is DERIVED as ceil(n / target_cell_size),
    overriding the ``k`` argument. A fixed default k on a growing
    corpus silently re-inflates the intra-cell pair space (~n²/k);
    deriving k from n keeps expected cell size — and therefore
    per-cell GEMM cost — constant as the corpus grows. Ignored when
    ``centroids`` is passed (a reused fit dictates its own k).

    ``target_block_bytes`` closes the companion manual knob (r10
    verdict #4): when set, ``n_blocks`` is DERIVED via
    :func:`derive_n_blocks` from the EXPECTED cell size (⌈n / k⌉ rows ×
    peeked dim × 8 B) so per-tile memory stays bounded at paper-scale
    cells where a fixed n_blocks=4 would overshoot (10⁴ × 768 ≈ 61 MB
    cells derive today's 4 tiles at a 16 MB target; 100× that derives
    ~400 instead of four 1.5 GB tiles). Tiling is plan-shape only —
    results are bit-identical for ANY n_blocks (the block-count
    invariance test), so the oracle is unaffected."""
    import math

    from pyspark.sql import Window

    from lightsaber_spark.functions.dedup import register_cache

    n: int | None = corpus_size
    if centroids is None and target_cell_size is not None:
        n = n if n is not None else corpus.count()
        k = max(1, math.ceil(n / target_cell_size))
    if target_block_bytes is not None:
        n = n if n is not None else corpus.count()
        k_eff = len(centroids) if centroids is not None else k
        cell_rows = max(1, math.ceil(n / max(1, k_eff)))
        n_blocks = derive_n_blocks(
            cell_rows, _peek_dim(corpus, vec_col), target_block_bytes
        )
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit_scaled(
            corpus, k=k, iters=iters, vec_col=vec_col, id_col=id_col
        )
    )
    cc = ivf_cell_ccos_udf(cents, centroids_scaled=True)
    assigned = corpus.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        scaled_vec(F.col(vec_col)).alias("_sv"),
        cc(F.col(vec_col)).alias("_a"),
    ).select(
        "vec_id",
        "_sv",
        F.col("_a.cid").alias("cell_id"),
        F.col("_a.ccos").alias("_ccos"),
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.col("_ccos").asc(), F.col("vec_id").asc()
    )
    # ranked feeds both the pair stage and the final keep join —
    # multiply-referenced subplan with a pandas UDF inside: persist
    # (register_cache lifecycle; AQE exchange reuse is not reliable)
    ranked = register_cache(
        assigned.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    )
    rep = (
        ranked.withColumn(
            "_blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
        )
        .withColumn("_p", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("_gi", F.least("_blk", "_p"))
        .withColumn("_gj", F.greatest("_blk", "_p"))
    )

    def _mat(sub: "pd.DataFrame"):
        S = np.stack([np.asarray(v, dtype=np.float64) for v in sub["_sv"]])
        return S, np.sqrt((S * S).sum(axis=1))

    def fn(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = int(key[1]), int(key[2])
        if gi == gj:
            S, n = _mat(pdf)
            C = (S @ S.T) / (n[:, None] * n[None, :])
            r = pdf["rnk"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            drop = ((r[:, None] > r[None, :]) & (C >= threshold)).any(axis=1)
            return pd.DataFrame({"vec_id": ids[drop]})
        a, b = pdf[pdf["_blk"] == gi], pdf[pdf["_blk"] == gj]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        Sa, na = _mat(a)
        Sb, nb = _mat(b)
        C = (Sa @ Sb.T) / (na[:, None] * nb[None, :])
        ra, rb = a["rnk"].to_numpy(), b["rnk"].to_numpy()
        ia, ib = a["vec_id"].to_numpy(), b["vec_id"].to_numpy()
        ii, jj = np.nonzero(C >= threshold)
        # row_number within a cell is unique, so one side is strictly
        # later-ranked — that member is the dropped one
        later = np.where(ra[ii] > rb[jj], ia[ii], ib[jj])
        return pd.DataFrame({"vec_id": np.unique(later)})

    dropped = (
        rep.groupBy("cell_id", "_gi", "_gj")
        .applyInPandas(fn, "vec_id bigint")
        .distinct()
    )
    return ranked.join(
        dropped.withColumn("_d", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell_id",
        "rnk",
        F.when(F.col("_d").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
        # r15 OPT: with_vectors exposes the already-scaled/assigned
        # vector so a delta consumer can reuse this run's assignment
        # instead of re-scanning + re-assigning the kept corpus (an
        # extra full GEMM pass); the registered batch query keeps the
        # default 4-column contract
        *(["_sv"] if with_vectors else []),
    )


def semantic_dedup_delta(
    corpus_kept: DataFrame,
    delta: DataFrame,
    centroids: list[tuple[int, list[int]]],
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int = 4,
    target_block_bytes: int | None = None,
    kept_pre_assigned: bool = False,
) -> DataFrame:
    """Incremental SemDeDup for ingest batches (the delta twin of
    :func:`semantic_dedup` — exact and MinHash dedup both have one,
    ``dedup_delta_vs_corpus``): dedup a DELTA batch against the KEPT
    corpus without re-clustering the corpus.

    Production shape: each new crawl is assigned to the FROZEN
    ``centroids`` of the existing fit (:func:`ivf_cell_ccos_udf` —
    reuse, never refit per batch), and a delta vector is dropped iff

    - any KEPT corpus member of its cell has pairwise cosine >=
      ``threshold`` (the corpus store only retains kept members —
      dropped ones are gone, so they can't suppress new arrivals), OR
    - any EARLIER-RANKED member of the same delta batch does (ranked
      by centroid-cosine ASC, id ASC within the cell — the same
      diversity-first order as the batch rule; against all earlier
      delta members, kept or not, exactly as :func:`semantic_dedup`
      compares against all earlier cell members).

    Both inputs carry ``(id_col, vec_col)``; ids must be globally
    unique across the two (the GEMM blocking keys on id). Returns one
    row per DELTA vector: ``(vec_id, cell_id, rnk, keep)`` where
    ``rnk`` is the delta-batch-local rank (corpus members implicitly
    rank earlier than every delta member).

    Composition law (pinned in pytest): when the corpus run kept
    everything and delta members rank after corpus members in every
    cell (ccos ordering), corpus-run ∘ delta-increment is bit-identical
    to one batch :func:`semantic_dedup` over corpus ∪ delta with the
    same frozen centroids, with ``rnk`` offset by the cell's corpus
    population. (In general the two differ only through members the
    corpus run DROPPED — kept-only comparison is the production
    semantics; a batch rerun also compares against dropped members.)

    100 TB shape: same as the batch operator — broadcast-centroid
    assignment (no shuffle), pair space cell-local AND delta-vs-(kept ∪
    delta) only, never corpus × corpus again; the per-cell GEMM tiles
    by ``n_blocks`` (or ``target_block_bytes``, derived from the
    expected KEPT cell size). Work per ingest batch is
    O(|delta| · cell_size), linear in batch size for a fixed corpus."""
    import math

    from pyspark.sql import Window

    from lightsaber_spark.functions.dedup import register_cache

    if target_block_bytes is not None:
        n = corpus_kept.count() + delta.count()
        cell_rows = max(1, math.ceil(n / max(1, len(centroids))))
        n_blocks = derive_n_blocks(
            cell_rows, _peek_dim(delta, vec_col), target_block_bytes
        )
    cc = ivf_cell_ccos_udf(centroids, centroids_scaled=True)
    d = delta.select(
        F.col(id_col).cast("bigint").alias("vec_id"),
        scaled_vec(F.col(vec_col)).alias("_sv"),
        cc(F.col(vec_col)).alias("_a"),
    ).select(
        "vec_id",
        "_sv",
        F.col("_a.cid").alias("cell_id"),
        F.col("_a.ccos").alias("_ccos"),
    )
    w = Window.partitionBy("cell_id").orderBy(
        F.col("_ccos").asc(), F.col("vec_id").asc()
    )
    # feeds both the pair stage and the final keep join — persist the
    # pandas-UDF subplan (register_cache lifecycle, CLAUDE.md rule)
    ranked = register_cache(
        d.withColumn("rnk", F.row_number().over(w).cast("bigint"))
    )
    if kept_pre_assigned:
        # r15 OPT (guide §1.2 "don't compute things you throw away"):
        # the caller already carries (vec_id, _sv, cell_id) from the
        # corpus run's OWN assignment (semantic_dedup with_vectors) —
        # re-scanning the kept corpus and re-running the broadcast-
        # centroid GEMM here would recompute identical values (same
        # frozen centroids, same scaled vectors, assignment documented
        # deterministic). One full corpus pass + one ArrowEvalPython
        # node removed from the delta plan.
        kept = corpus_kept.select(
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "_sv",
            "cell_id",
            F.lit(0).cast("bigint").alias("rnk"),
        )
    else:
        # reuse the SAME assigner (and its single centroid broadcast)
        # for the kept side — a second ivf_cell_udf would pin a
        # duplicate k×dim broadcast per executor (~300 MB at paper
        # scale; review finding). ivf_cell_ccos_udf's cid is documented
        # bit-identical to ivf_cell_udf's; the winning cosine is simply
        # unused here.
        kept = corpus_kept.select(
            F.col(id_col).cast("bigint").alias("vec_id"),
            scaled_vec(F.col(vec_col)).alias("_sv"),
            cc(F.col(vec_col)).alias("_a"),
        ).select(
            "vec_id",
            "_sv",
            F.col("_a.cid").alias("cell_id"),
            F.lit(0).cast("bigint").alias("rnk"),  # all corpus ranks earlier
        )
    allrows = ranked.select("vec_id", "_sv", "cell_id", "rnk").unionAll(kept)
    rep = (
        allrows.withColumn(
            "_blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
        )
        .withColumn("_p", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))))
        .withColumn("_gi", F.least("_blk", "_p"))
        .withColumn("_gj", F.greatest("_blk", "_p"))
    )

    def _mat(sub: "pd.DataFrame"):
        S = np.stack([np.asarray(v, dtype=np.float64) for v in sub["_sv"]])
        return S, np.sqrt((S * S).sum(axis=1))

    empty = pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})

    def _side_drops(x: "pd.DataFrame", Sy, ny, ry) -> "np.ndarray":
        """ids of x's DELTA rows (rnk > 0) suppressed by any
        strictly-earlier-ranked row of the (S, norm, rnk) side. Only
        delta rows can ever drop (kept corpus rows carry rnk 0, never
        strictly later than anything), so the GEMM's left operand is
        the delta slice alone — |delta_block| x |block| work, the
        O(|delta| . cell) contract, NOT |block|^2 (kept x kept
        verdicts were computed and discarded before round 11's
        continuation fixed this)."""
        m = x["rnk"].to_numpy() > 0
        if not m.any():
            return np.array([], dtype=np.int64)
        Sx, nx = _mat(x[m])
        C = (Sx @ Sy.T) / (nx[:, None] * ny[None, :])
        rx = x["rnk"].to_numpy()[m]
        hit = ((rx[:, None] > ry[None, :]) & (C >= threshold)).any(axis=1)
        return x["vec_id"].to_numpy()[m][hit]

    def fn(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        gi, gj = int(key[1]), int(key[2])
        if gi == gj:
            if not (pdf["rnk"].to_numpy() > 0).any():
                return empty  # all-kept tile: nothing can drop
            S, n = _mat(pdf)
            return pd.DataFrame(
                {"vec_id": _side_drops(pdf, S, n, pdf["rnk"].to_numpy())}
            )
        a, b = pdf[pdf["_blk"] == gi], pdf[pdf["_blk"] == gj]
        if len(a) == 0 or len(b) == 0:
            return empty
        out = []
        # each direction: the other block is the suppressor side (a
        # strictly-later rank drops; kept-kept ties (0, 0) drop neither)
        if (a["rnk"].to_numpy() > 0).any():
            Sb, nb = _mat(b)
            out.append(_side_drops(a, Sb, nb, b["rnk"].to_numpy()))
        if (b["rnk"].to_numpy() > 0).any():
            Sa, na = _mat(a)
            out.append(_side_drops(b, Sa, na, a["rnk"].to_numpy()))
        if not out:
            return empty
        return pd.DataFrame({"vec_id": np.unique(np.concatenate(out))})

    dropped = (
        rep.groupBy("cell_id", "_gi", "_gj")
        .applyInPandas(fn, "vec_id bigint")
        .distinct()
    )
    return ranked.join(
        dropped.withColumn("_d", F.lit(1)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell_id",
        "rnk",
        F.when(F.col("_d").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("keep"),
    )


def _half_up_div(s: int, n: int) -> int:
    """round(s / n) with HALF_UP (away-from-zero) on exact integers —
    the same rounding Spark and DuckDB apply, reproducible as
    ``(2·|s| + n) // (2·n)`` with the sign restored."""
    q = (2 * abs(s) + n) // (2 * n)
    return q if s >= 0 else -q


def kmeans_fit_scaled(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, list[int]]]:
    """Deterministic Lloyd k-means over integer-scaled vectors — the
    trained-centroid fit for :func:`ivf_topk` (replacing the lowest-id
    stand-in). Every step is exact integer arithmetic, so an unrolled
    SQL oracle reproduces the fit bit-for-bit:

    - init: the vectors with ``id < k`` (deterministic seed set; with
      the catalog's dense 0-based ids these ARE the k lowest-id
      vectors — the rule is id-based, not rank-based, because the SQL
      oracle twins mirror it literally as ``vec_id < k``; an id space
      without such ids raises rather than silently under-seeding);
    - assign: argmax cosine via one Arrow GEMM per batch (float64 on
      integers < 2^53 — exact; ties → lowest centroid id);
    - update: per-dimension mean as HALF_UP(Σcomponent / members),
      computed by a (cell, dim) aggregation — k·dim output rows, the
      only driver-side state (documented bounded collect, like the
      centroid set itself). Empty cells drop out, exactly as a
      GROUP BY emits no row for them.

    Iteration count is fixed (no convergence test) so the computation
    is a static dataflow — at 100 TB each round is one shuffle of
    k·dim partial sums, the standard scalable k-means shape."""
    from pyspark.storagelevel import StorageLevel

    sv = corpus.select(
        F.col(id_col).alias("_id"), scaled_vec(F.col(vec_col)).alias("_sv")
    )
    # The fit re-aggregates the SAME (id, scaled vector) relation once
    # per round plus the seed collect — 1 + iters full passes over the
    # corpus scan + per-element rounding without a cache (guide §5:
    # reused AND expensive to recompute). Persist for the fit's
    # lifetime only (narrow: id + int vector; spills rather than OOMs
    # at corpus scale); callers' scoring/assignment plans are built on
    # the UNcached corpus, exactly as before. Same r15 precedent as
    # the classifier's persisted train frame (classifier.py).
    sv = sv.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init = sv.filter(F.col("_id") < k).collect()
        if not init:
            raise ValueError(
                f"kmeans_fit_scaled: no seed vectors — the deterministic "
                f"seed rule is ids < k (k={k}, the cross-engine-expressible "
                f"form the SQL oracles mirror as 'vec_id < {k}'), and this "
                f"corpus has no such ids. Densify ids from 0 (or remap) "
                f"before fitting; a sparse id space would otherwise fit "
                f"fewer than k cells silently."
            )
        cents = sorted((r["_id"], [int(x) for x in r["_sv"]]) for r in init)
        for _ in range(iters):
            cell = ivf_cell_udf(cents, centroids_scaled=True, vecs_scaled=True)
            parts = (
                sv.select(cell(F.col("_sv")).alias("_cid"),
                          F.posexplode("_sv").alias("_pos", "_x"))
                .groupBy("_cid", "_pos")
                .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            )
            acc: dict[int, dict[int, int]] = {}
            for r in parts.collect():
                acc.setdefault(r["_cid"], {})[r["_pos"]] = _half_up_div(r["_s"], r["_n"])
            cents = sorted(
                (cid, [dims[p] for p in range(len(dims))]) for cid, dims in acc.items()
            )
            # this round's assigner is superseded — reclaim its k·dim
            # broadcast eagerly (at paper-scale k each round pins ~100s of
            # MB on every executor until session GC otherwise)
            if getattr(cell, "_ls_broadcast", None) is not None:
                cell._ls_broadcast.destroy()
    finally:
        sv.unpersist()
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probe: int = 1,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus is partitioned
    into cells by nearest centroid; a query probes its ``n_probe``
    nearest cells and re-ranks candidates by exact cosine — ``n_probe``
    is the standard IVF recall/cost knob (candidates grow ~linearly
    with it; recall approaches brute force).

    Default centroids are the corpus vectors with the ``n_cells``
    lowest ids — a deterministic stand-in; pass ``centroids`` (scaled
    integer vectors, e.g. a :func:`kmeans_fit_scaled` fit) to search
    trained cells with the same assigner.
    The scale shape: assignment is a per-row GEMM against a broadcast
    centroid matrix (no shuffle), search is an equi-join on cell id —
    the pair space shrinks by ~n_cells/n_probe versus brute force."""
    if centroids is None:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_cells)
            .select(F.col(id_col), F.col(vec_col))
            .collect()
        )
        cents = [(r[0], list(r[1])) for r in cent_rows]
        scaled_cents = False
    else:
        cents, scaled_cents = centroids, True
    cell = ivf_cell_udf(cents, centroids_scaled=scaled_cents)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        scaled_vec(F.col(vec_col)).alias("_sv"),
        cell(F.col(vec_col)).alias("_cell"),
    ).withColumn("_norm", F.sqrt(_scaled_dot(F.col("_sv"), F.col("_sv"))))
    if n_probe == 1:
        qcell = cell(F.col(vec_col)).alias("_cell")
        q = queries.select(
            F.col(id_col).alias("query_id"),
            scaled_vec(F.col(vec_col)).alias("_qv"),
            qcell,
        )
    else:
        cells = ivf_cells_udf(cents, n_probe, centroids_scaled=scaled_cents)
        q = queries.select(
            F.col(id_col).alias("query_id"),
            scaled_vec(F.col(vec_col)).alias("_qv"),
            F.explode(cells(F.col(vec_col))).alias("_cell"),
        )
    q = q.withColumn("_qn", F.sqrt(_scaled_dot(F.col("_qv"), F.col("_qv"))))
    scored = (
        q.join(c, ["_cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _scaled_dot(F.col("_qv"), F.col("_sv")) / (F.col("_qn") * F.col("_norm")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("_rk").alias("rank"))
    )


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 1,
    salt: str = "lsh",
) -> DataFrame:
    """Approximate top-k: candidates collide with the query in ≥1 LSH
    band (equi-join on (band, signature) — the scale path replacing the
    cross join), ranked by exact integer cosine.

    ``bands = 1`` is a single bucket (AND-amplified: only near-twins
    collide — low recall on weakly-clustered corpora). ``bands > 1``
    OR-amplifies with independent ``n_planes``-bit signatures (salts
    ``{salt}0..{salt}{bands-1}``): recall rises with bands, candidate
    count with n_planes down — the same banding
    :func:`~lightsaber_spark.functions.dedup.embedding_lsh_pairs` uses.
    Shuffle volume stays linear (ids through the band join; vectors are
    re-joined only for surviving candidate pairs)."""
    from pyspark.sql import Window

    from lightsaber_spark.functions.dedup import register_cache

    # each _prep (per-row scale transform + norm fold over the full
    # relation) feeds both the band-signature stage and the candidate
    # rescoring join — pin one materialization per side (AQE exchange
    # reuse is not reliable across the explode/join chain, CLAUDE.md)
    q = register_cache(
        _prep(queries, id_col, vec_col, "query_id").withColumnsRenamed(
            {"_sv": "_qv", "_norm": "_qn"}
        )
    )
    c = register_cache(_prep(corpus, id_col, vec_col, "neighbor_id"))
    if bands == 1:
        # salt "{salt}0" (not bare "{salt}") so the single band IS band
        # 0 of every wider configuration: candidate sets nest and
        # recall is strictly monotone in `bands`, not just in
        # expectation
        sig = hyperplane_signature_udf(n_planes, dim, salt=f"{salt}0", scaled=True)
        cand = (
            q.withColumn("_sig", sig(F.col("_qv")))
            .select("query_id", "_sig")
            .join(c.withColumn("_sig", sig(F.col("_sv"))).select("neighbor_id", "_sig"), ["_sig"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
        )
    else:
        sigs_udf = hyperplane_band_signatures_udf(
            n_planes, bands, dim, salt=salt, scaled=True
        )

        def band_sigs(df_, id_out, vcol):
            return df_.select(
                id_out, F.posexplode(sigs_udf(F.col(vcol))).alias("band", "sig")
            )

        q_sigs = band_sigs(q, "query_id", "_qv")
        c_sigs = band_sigs(c, "neighbor_id", "_sv")
        cand = (
            q_sigs.join(c_sigs, ["band", "sig"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
    scored = (
        cand.join(q.select("query_id", "_qv", "_qn"), "query_id")
        .join(c.select("neighbor_id", "_sv", "_norm"), "neighbor_id")
        .withColumn(
            "cosine",
            _scaled_dot(F.col("_qv"), F.col("_sv")) / (F.col("_qn") * F.col("_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("_rk").alias("rank"))
    )
