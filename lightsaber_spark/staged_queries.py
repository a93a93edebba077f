"""Sketch, graph, sampling, robust-statistics, corpus-analysis and
media-hash queries of the catalog.

They register through ``registry.query`` like every other query;
``registry.catalog()`` imports this module after ``queries`` and
``pipeline_queries``, whose shared DuckDB oracle fragments the MinHash
calibration oracle reuses.

Contents (15 queries), by family:

- Sketches: ``hll_distinct_users_by_type`` and
  ``window_hll_distinct_users`` — HyperLogLog with exact integer
  register math (functions/hll.py), strong-checkable where built-in
  HLL++ (``window_approx_distinct_users``) can only be rows-checked.
- Iterative graph: ``pagerank_customer_supplier`` — integer-scaled
  PageRank (operators/iterative.py), the importance-propagation
  counterpart of the connected-components engine.
- Sampling/mixtures: ``weighted_poisson_sample_by_source``
  (length-proportional Poisson keep), ``mixture_temperature_targets``
  (alpha=0.5 quotas; IEEE sqrt is correctly rounded, so the one float
  step is cross-engine exact), ``mixture_apply_quotas`` (materialized
  sample with an order-independent modular membership checksum).
- Robust stats / data quality: ``mad_outlier_bounds_by_type``
  (median/MAD in exact cents), ``referential_integrity_audit``
  (per-FK orphan counts), ``lateness_profile`` (event-time disorder vs
  arrival order — the evidence behind a watermark delay).
- Corpus analysis: ``source_ngram_overlap_matrix`` (cross-source
  3-gram Jaccard), ``event_transition_matrix`` (per-user Markov
  transition counts), ``minhash_jaccard_calibration`` (MinHash
  estimate vs exact Jaccard on every LSH candidate).
- Time series: ``ohlc_bars_by_type`` (open/high/low/close per window,
  deterministic tie order, no float arithmetic).
- Multimodal, STRONG-checked: ``media_ahash_spectrum`` and
  ``audio_fingerprint_spectrum`` — the real PNG/WAV codec + perceptual
  hash + banded-retrieval stacks against pure-arithmetic oracles over
  the closed-form synthetic media.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lightsaber_spark.functions.hll import hll_distinct, hll_oracle_sql
from lightsaber_spark.operators.iterative import pagerank, pagerank_oracle_sql
from lightsaber_spark.pipeline_queries import H60, SHINGLES, TOKS, minhash_sig_parts
from lightsaber_spark.registry import query
from lightsaber_spark.session import load_tables


# ---------------------------------------------------------------------------
# HyperLogLog distinct users per event_type — exact-register HLL next to
# the catalog's KMV (`kmv_distinct_users_by_type`): HLL state is m bytes
# per group vs KMV's k hashes, the right trade at very large group
# counts. n_exact rides along so the driver row also pins the sketch's
# accuracy envelope at sweep scale.
# ---------------------------------------------------------------------------


@query(
    "hll_distinct_users_by_type",
    f"""
WITH _est AS ({hll_oracle_sql("events", ["event_type"], "user_id", m=256,
                              out_col="n_users_hll")}),
_ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT _est.event_type, reg_sum, buckets_seen, n_users_hll, n_exact
FROM _est JOIN _ex ON _est.event_type = _ex.event_type
""",
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL (m=256) distinct-user estimate per event_type, registers
    folded as exact BIGINTs so the DuckDB twin reproduces the estimate
    bit for bit (see functions/hll.py for the exactness contract)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    est = hll_distinct(ev, ["event_type"], "user_id", m=256,
                       out_col="n_users_hll")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "event_type")


# ---------------------------------------------------------------------------
# PageRank over the customer↔supplier purchase graph.
# ---------------------------------------------------------------------------

_PR_EDGES_SQL = """
SELECT 2 * c AS src, 2 * s + 1 AS dst FROM (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey) p
UNION ALL
SELECT 2 * s + 1 AS src, 2 * c AS dst FROM (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey) p
"""


def _pagerank_pairs(spark, sf_dir, materialize_dir=None):
    """The distinct (custkey, suppkey) pair list — the setup relation
    that dominates the query's cost (the orders⋈lineitem derivation is
    ~40 % of warm wall time, measured round 9 at sf0.1: 3.1-3.3 s
    derived vs 1.8-2.4 s from parquet).

    Default (unset): derived fresh and localCheckpoint-ed per build —
    the sanctioned eager-setup exception (CLAUDE.md). For repeated runs
    over the same corpus (cross-round bench, scheduled re-ranks at
    100 TB), pass ``materialize_dir`` or set
    ``$LIGHTSABER_PAGERANK_PAIRS_DIR`` to write the pair list to
    parquet ONCE and stream it from disk afterwards — the same
    ``_SUCCESS``-guarded escape hatch as the passage index (unset
    everywhere in-repo, so default behavior is unchanged)."""
    import hashlib
    import os

    if materialize_dir is None:
        materialize_dir = os.environ.get("LIGHTSABER_PAGERANK_PAIRS_DIR")

    def build():
        t = load_tables(spark, sf_dir, ("orders", "lineitem"))
        return (
            t["orders"]
            .join(
                t["lineitem"],
                t["orders"].o_orderkey == t["lineitem"].l_orderkey,
            )
            .select(
                F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
            )
            .distinct()
        )

    if materialize_dir:
        from lightsaber_spark.session import materialize_parquet_once

        path = materialize_dir.rstrip("/") + (
            f"/pagerank_pairs_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
        )
        return materialize_parquet_once(spark, build, path)
    return build().localCheckpoint()


@query(
    "pagerank_customer_supplier",
    f"""
WITH _ranked AS ({pagerank_oracle_sql(_PR_EDGES_SQL, iterations=4)})
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS role,
       node // 2 AS entity_key, rank_scaled
FROM _ranked
ORDER BY rank_scaled DESC, node ASC
LIMIT 20
""",
    eager=True,  # setup-only localCheckpoint
)
def pagerank_customer_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by 4-iteration integer-scaled PageRank over the
    symmetrized customer↔supplier graph (edge iff a lineitem links
    them). Node ids are 2*custkey / 2*suppkey+1 to keep the two key
    spaces disjoint; ties broken by node id so LIMIT is deterministic.

    Reference parity: the reference has no graph operator — this is
    part of the beyond-reference pipeline surface (supplier-importance
    ranking), exercising the iterative-fixpoint engine shape
    (operators/iterative.py) the same way duplicate_groups exercises
    connected components."""
    # pairs feeds BOTH union branches of the symmetrized edge list —
    # localCheckpoint it so the fact-table join + distinct runs once
    # (AQE exchange reuse is not reliable across union branches), and
    # let pagerank skip its own |E|-row edge checkpoint: the pair list
    # is HALF the edge rows, so materializing pairs instead of edges
    # cuts the setup write volume in half and drops one full
    # materialization (measured round 7: warm 5.5 s -> ~2.7 s, sf0.1).
    pairs = _pagerank_pairs(spark, sf_dir)
    fwd = pairs.select(
        (2 * F.col("c")).alias("src"), (2 * F.col("s") + 1).alias("dst")
    )
    edges = fwd.union(
        pairs.select(
            (2 * F.col("s") + 1).alias("src"), (2 * F.col("c")).alias("dst")
        )
    )
    # |V| ≤ |customer| + |supplier| — dimension-bounded however many
    # orders/lineitems arrive, so the broadcast-ranks iteration applies
    ranks = pagerank(
        edges, iterations=4, dim_bounded_nodes=True, edges_materialized=True
    )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("role"),
            F.expr("node div 2").alias("entity_key"),
            "rank_scaled",
            "node",
        )
        .orderBy(F.col("rank_scaled").desc(), F.col("node").asc())
        .limit(20)
        .drop("node")
    )


# ---------------------------------------------------------------------------
# Length-proportional Poisson sampling — the token-budget downsampling
# primitive: P(keep doc) = min(1, n_chars / 20000), decided by the
# md5 hash of doc_id, so the sample is reproducible, cluster-size-
# independent, and embarrassingly parallel (pure map-side filter).
# ---------------------------------------------------------------------------

_WPS_COND = "h % 20000 < LEAST(n_chars, 20000)"


@query(
    "weighted_poisson_sample_by_source",
    f"""
WITH _h AS (
  SELECT source, n_chars,
         ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS docs_total,
       CAST(SUM(CASE WHEN {_WPS_COND} THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_sampled,
       CAST(SUM(CASE WHEN {_WPS_COND} THEN n_chars ELSE 0 END) AS BIGINT)
         AS chars_sampled
FROM _h GROUP BY source
""",
)
def weighted_poisson_sample_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source yield of a length-proportional Poisson sample
    (keep iff md5(doc_id) % 20000 < min(n_chars, 20000)) — deterministic
    weighted downsampling for token-budget mixture construction, in the
    md5-keyed family of functions/sampling.py."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    keep = (h % 20000) < F.least(F.col("n_chars"), F.lit(20000))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(
            "docs_sampled"
        ),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_sampled"),
    )


# ---------------------------------------------------------------------------
# Robust outliers: median / MAD in exact integer cents. The doubling
# trick (med2 = sum of the two middle values = 2*median) keeps
# even-count medians integral; the outlier test |x - med| > 3*MAD is
# compared as 2*dev2 > 3*mad4 — all-integer, so both engines agree on
# every boundary case.
# ---------------------------------------------------------------------------


@query(
    "mad_outlier_bounds_by_type",
    """
WITH _c AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE value IS NOT NULL
),
_o AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, event_id)
              AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM _c
),
_m AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN v ELSE 0 END)
            + SUM(CASE WHEN rn = (n + 2) // 2 THEN v ELSE 0 END) AS BIGINT)
           AS med2,
         CAST(MAX(n) AS BIGINT) AS n
  FROM _o GROUP BY event_type
),
_d AS (
  SELECT _c.event_type, ABS(2 * v - med2) AS dev2, n
  FROM _c JOIN _m ON _c.event_type = _m.event_type
),
_do AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev2) AS rn
  FROM _d
),
_mad AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
            + SUM(CASE WHEN rn = (n + 2) // 2 THEN dev2 ELSE 0 END) AS BIGINT)
           AS mad4
  FROM _do GROUP BY event_type
)
SELECT _m.event_type,
       med2 / 200.0 AS median_value,
       mad4 / 400.0 AS mad_value,
       _m.n AS n,
       CAST(SUM(CASE WHEN 2 * dev2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM _d JOIN _m ON _d.event_type = _m.event_type
        JOIN _mad ON _d.event_type = _mad.event_type
GROUP BY _m.event_type, med2, mad4, _m.n
""",
)
def mad_outlier_bounds_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / MAD robust outlier counts per event_type in exact
    integer cents — the robust companion to window_zscore_outliers
    (mean/stddev z-scores break down under the heavy tails this is
    meant to find). Exact distributed selection, same two-pass shape as
    exact_median_value_by_type; windows are partitioned by event_type
    so the sort is partition-parallel."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # NULL values are excluded in BOTH engines: the sort key `v` would
    # otherwise rank NULLS FIRST in Spark but NULLS LAST in DuckDB,
    # shifting every median/MAD rank differently per engine (review
    # finding — latent; shipped fixtures carry no null values)
    c = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("event_type")
    o = c.withColumn(
        "rn", F.row_number().over(w.orderBy("v", "event_id"))
    ).withColumn("n", F.count(F.lit(1)).over(w))
    mid_lo = F.expr("(n + 1) div 2")
    mid_hi = F.expr("(n + 2) div 2")
    m = o.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("rn") == mid_lo, F.col("v")).otherwise(0))
            + F.sum(F.when(F.col("rn") == mid_hi, F.col("v")).otherwise(0))
        )
        .cast("bigint")
        .alias("med2"),
        F.max("n").cast("bigint").alias("n"),
    )
    d = c.join(m, "event_type").select(
        "event_type", F.abs(2 * F.col("v") - F.col("med2")).alias("dev2"), "n"
    )
    do = d.withColumn("rn", F.row_number().over(w.orderBy("dev2")))
    mad = do.groupBy("event_type").agg(
        (
            F.sum(F.when(F.col("rn") == mid_lo, F.col("dev2")).otherwise(0))
            + F.sum(F.when(F.col("rn") == mid_hi, F.col("dev2")).otherwise(0))
        )
        .cast("bigint")
        .alias("mad4")
    )
    return (
        d.join(mad, "event_type")
        .join(m.select("event_type", "med2"), "event_type")
        .groupBy("event_type", "med2", "mad4", "n")
        .agg(
            F.sum(
                F.when(2 * F.col("dev2") > 3 * F.col("mad4"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            (F.col("med2") / F.lit(200.0)).alias("median_value"),
            (F.col("mad4") / F.lit(400.0)).alias("mad_value"),
            "n",
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Windowed HLL — upgrades the catalog's weak-checked
# window_approx_distinct_users (Spark approx_count_distinct, whose HLL++
# internals no SQL oracle can reproduce): the exact-register HLL makes
# the windowed sketch STRONG-checkable. Same 6h tumbling bucketing as
# window_kmv_distinct_users, so the two sketch families sit side by
# side on identical windows.
# ---------------------------------------------------------------------------

@query(
    "window_hll_distinct_users",
    hll_oracle_sql(
        "(SELECT (epoch_us(ts) // 21600000000) * 21600 AS window_start, "
        "user_id FROM events)",
        ["window_start"], "user_id", m=256, out_col="n_users_hll",
    ),
)
def window_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL (m=256) distinct-user estimate per 6h tumbling window with
    exact integer registers — bounded state (m bytes/window) at 100 TB,
    and bit-identical to the DuckDB twin (see functions/hll.py)."""
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    w = ev.withColumn("window_start", _exact_bucket(epoch_us(ev, "ts"), 21600))
    return hll_distinct(w, ["window_start"], "user_id", m=256,
                        out_col="n_users_hll")


# ---------------------------------------------------------------------------
# Temperature-based mixture targets (alpha = 0.5): per-source sampling
# quotas proportional to sqrt(char mass) — the standard low-resource
# upsampling rule for multilingual / multi-source training mixtures
# (cf. XLM-R's p_i^alpha sampling). Exactness: IEEE sqrt is correctly
# rounded (unlike pow/ln), FLOOR makes the weight an integer, and the
# quota is integer `div` against the exact integer weight sum — every
# step reproduces bit-for-bit on both engines.
# ---------------------------------------------------------------------------


#: Mixture budget (docs) — ONE definition shared by the quota rule's
#: two consumers (targets + apply), Spark and oracle alike.
_MIX_BUDGET = 100000

#: Shared oracle CTE fragment: per-source stats → sqrt weights →
#: integer-div quotas. The single source of truth for the quota rule
#: on the DuckDB side (both mixture oracles embed it).
_MIX_TARGET_CTES = f"""_src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_n,
         CAST(SUM(n_chars) AS BIGINT) AS chars_total
  FROM documents GROUP BY source
),
_w AS (
  SELECT *, CAST(FLOOR(SQRT(CAST(chars_total AS DOUBLE))) AS BIGINT)
              AS weight
  FROM _src
),
_t AS (
  SELECT source, docs_n, chars_total, weight,
         CAST(({_MIX_BUDGET} * weight) // (SELECT SUM(weight) FROM _w)
              AS BIGINT) AS target_docs
  FROM _w
)"""


def _mixture_targets_df(docs: DataFrame) -> DataFrame:
    """Spark single source of truth for the alpha=0.5 quota rule:
    (source, docs_n, chars_total, weight, target_docs)."""
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_n"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
    )
    w = per_src.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("chars_total").cast("double"))).cast("bigint"),
    )
    total = w.agg(F.sum("weight").alias("_tw"))
    return w.crossJoin(F.broadcast(total)).select(
        "source", "docs_n", "chars_total", "weight",
        F.expr(f"({_MIX_BUDGET} * weight) div _tw").cast("bigint").alias(
            "target_docs"
        ),
    )


@query(
    "mixture_temperature_targets",
    f"""
WITH {_MIX_TARGET_CTES}
SELECT source, docs_n, chars_total, weight, target_docs FROM _t
""",
)
def mixture_temperature_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quotas for a 100k-doc training mixture at
    temperature alpha=0.5 (weight = floor(sqrt(total chars)), quota =
    100000*w div sum(w)) — flattens the source distribution so
    low-resource sources are upsampled, in the deterministic md5/integer
    family of functions/sampling.py."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return _mixture_targets_df(docs)


# ---------------------------------------------------------------------------
# Cross-source n-gram contamination matrix: 3-gram Jaccard between every
# source pair. Same shingle machinery (and tokenization pins) as the
# dedup ladder, aggregated to source level — the "is my web crawl
# leaking into my books split?" diagnostic. Scale: the joined relation
# is DISTINCT (source, shingle), bounded by vocab x #sources, and each
# shingle contributes at most #sources^2 pair rows — equi-join-shaped,
# never all-pairs over documents.
# ---------------------------------------------------------------------------

_SRC_OVERLAP_ORACLE = """
WITH toks AS (
  SELECT source, regexp_extract_all(lower(COALESCE(text, '')), '[a-z0-9]+') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT source,
         unnest(list_distinct(list_transform(range(greatest(len(t) - 2, 0)),
                i -> array_to_string(t[i+1:i+3], ' ')))) AS s
  FROM toks
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       n_shared * 1.0 / (sa.n + sb.n - n_shared) AS jaccard
FROM pairs JOIN sizes sa ON source_a = sa.source
           JOIN sizes sb ON source_b = sb.source
"""


@query("source_ngram_overlap_matrix", _SRC_OVERLAP_ORACLE)
def source_ngram_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard similarity between every pair of document sources
    (shared-shingle equi-join over the DISTINCT per-source shingle set —
    the corpus-level analog of dedup_ngram_jaccard's per-document
    join). The shingle extraction is the same Arrow-batched UDF as the
    dedup ladder, so its tokenization parity pins carry over."""
    from lightsaber_spark.functions.dedup import (
        register_cache,
        word_shingles_udf,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sh = register_cache(
        docs.select(
            "source", F.explode(word_shingles_udf(3)(F.col("text"))).alias("s")
        ).distinct()
    )
    sizes = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = sh.select(F.col("source").alias("source_a"), "s")
    b = sh.select(F.col("source").alias("source_b"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        pairs.join(
            sizes.select(F.col("source").alias("source_a"),
                         F.col("n").alias("n_a")),
            "source_a",
        )
        .join(
            sizes.select(F.col("source").alias("source_b"),
                         F.col("n").alias("n_b")),
            "source_b",
        )
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            (
                F.col("n_shared") * F.lit(1.0)
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Quota application: materialize the temperature-sampled corpus. Docs
# are ranked inside each source by md5(doc_id) (a deterministic uniform
# shuffle) and the first target_docs survive — so the selected SET is
# reproducible across cluster sizes and retries, and an
# order-independent modular checksum of the selected ids lets the
# oracle pin the exact membership, not just the counts.
# ---------------------------------------------------------------------------


@query(
    "mixture_apply_quotas",
    f"""
WITH {_MIX_TARGET_CTES},
_r AS (
  SELECT source, doc_id, n_chars,
         ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT,
                    doc_id) AS rk
  FROM documents
)
SELECT _r.source, MAX(_t.target_docs) AS target_docs,
       CAST(COUNT(*) AS BIGINT) AS docs_selected,
       CAST(SUM(n_chars) AS BIGINT) AS chars_selected,
       CAST(SUM(h % 1000000007) AS BIGINT) AS ids_checksum
FROM _r JOIN _t ON _r.source = _t.source
WHERE rk <= _t.target_docs
GROUP BY _r.source
""",
)
def mixture_apply_quotas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the alpha=0.5 temperature quotas: keep the first
    target_docs documents of each source in md5(doc_id) order (a
    deterministic uniform shuffle — same family as
    functions/sampling.py's md5-keyed splits). Emits per-source counts,
    char mass, and a modular checksum of the selected ids
    (sum of h % 1e9+7 — order-independent and overflow-safe at any
    corpus size), so the oracle verifies exact sample MEMBERSHIP."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    targets = _mixture_targets_df(docs).select("source", "target_docs")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    ranked = docs.select("source", "doc_id", "n_chars", h.alias("h")).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("source").orderBy("h", "doc_id")
        ),
    )
    return (
        ranked.join(F.broadcast(targets), "source")
        .where(F.col("rk") <= F.col("target_docs"))
        .groupBy("source")
        .agg(
            F.max("target_docs").alias("target_docs"),
            F.count(F.lit(1)).cast("bigint").alias("docs_selected"),
            F.sum("n_chars").cast("bigint").alias("chars_selected"),
            F.sum(F.col("h") % F.lit(1000000007))
            .cast("bigint")
            .alias("ids_checksum"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash calibration: for every LSH candidate pair, the signature-based
# Jaccard ESTIMATE (matching components / n_hashes — the unbiased
# MinHash estimator) next to the EXACT shingle Jaccard. This is the
# accuracy-evidence query for the whole LSH family: at 100 TB the
# verify stage is the expensive part, and this table is what tells you
# whether est_jaccard alone (free at retrieval time) is calibrated well
# enough to skip or pre-rank verification.
# ---------------------------------------------------------------------------


def _minhash_calibration_oracle(
    n_hashes: int = 32, bands: int = 8, seed: int = 42
) -> str:
    from lightsaber_spark.functions.dedup import X_BITS

    consts, r, mins, band_cols, stacked = minhash_sig_parts(
        n_hashes, bands, seed
    )
    matches = " + ".join(
        f"CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END"
        for j in range(n_hashes)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, unnest({SHINGLES}) AS s FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
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
               ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id),
    common AS (SELECT c.id_a, c.id_b, count(*) AS n_common
               FROM cand c
               JOIN sh a ON a.doc_id = c.id_a
               JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s
               GROUP BY 1, 2),
    m AS (SELECT c.id_a, c.id_b, {matches} AS n_match
          FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
                      JOIN sig sb ON sb.doc_id = c.id_b)
    SELECT m.id_a, m.id_b,
           CAST(n_match AS BIGINT) AS n_match,
           n_match * 1.0 / {n_hashes} AS est_jaccard,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
    FROM m JOIN common co ON m.id_a = co.id_a AND m.id_b = co.id_b
           JOIN sizes sa ON m.id_a = sa.doc_id
           JOIN sizes sb ON m.id_b = sb.doc_id
    """


@query("minhash_jaccard_calibration", _minhash_calibration_oracle())
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) estimate vs exact 3-gram Jaccard on every LSH(8-band)
    candidate pair — estimator-calibration table for the LSH retrieval
    family (``functions/dedup.py:minhash_lsh_pairs``). Candidates come
    from the banded equi-join; both the estimate (component matches)
    and the exact verify run only on candidates, so the whole query is
    equi-join-shaped."""
    from lightsaber_spark.functions.dedup import (
        _jaccard_for_pairs,
        minhash_lsh_candidates,
        minhash_signature,
        shingle_arrays,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    arr = shingle_arrays(docs)
    cands = minhash_lsh_candidates(docs, 32, 8, 3, _arr=arr)
    sig = minhash_signature(docs, 32, 3, _arr=arr)
    n_match = sum(
        (F.when(F.col(f"_a_h{j}") == F.col(f"_b_h{j}"), 1).otherwise(0))
        for j in range(32)
    )
    sig_a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{j}").alias(f"_a_h{j}") for j in range(32)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{j}").alias(f"_b_h{j}") for j in range(32)],
    )
    est = (
        cands.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", n_match.cast("bigint").alias("n_match"))
        .withColumn(
            "est_jaccard", F.col("n_match") * F.lit(1.0) / F.lit(32)
        )
    )
    exact = _jaccard_for_pairs(docs, cands, 0.0, 3, "text", "doc_id", _arr=arr)
    return est.join(exact, ["id_a", "id_b"]).select(
        "id_a", "id_b", "n_match", "est_jaccard",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "jaccard",
    )


# ---------------------------------------------------------------------------
# OHLC downsampling: open/high/low/close + count per 6h window per
# event_type — the telemetry/financial resampling operator. open/close
# are SELECTED raw values (no arithmetic, so doubles compare exactly)
# at deterministic positions: first/last by (ts, event_id), the same
# total order in both engines.
# ---------------------------------------------------------------------------


@query(
    "ohlc_bars_by_type",
    """
WITH _b AS (
  SELECT event_type, event_id, ts, value,
         (epoch_us(ts) // 21600000000) * 21600 AS window_start
  FROM events
),
_r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY window_start, event_type
                            ORDER BY ts, event_id) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY window_start, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM _b
)
SELECT window_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value
FROM _r GROUP BY window_start, event_type
""",
)
def ohlc_bars_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars per 6h tumbling window per event_type: open/close are
    the first/last raw values by the deterministic (ts, event_id) total
    order (row_number, partition-parallel windows), high/low are
    min/max — pure selection, no float arithmetic, so every output
    compares exactly. The time-series downsampling companion to the
    windowed-agg core (`operators/window_agg.py`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from lightsaber_spark.operators.window_agg import _exact_bucket, epoch_us

    b = ev.withColumn("window_start", _exact_bucket(epoch_us(ev, "ts"), 21600))
    w = Window.partitionBy("window_start", "event_type")
    r = b.withColumn(
        "rn_a", F.row_number().over(w.orderBy("ts", "event_id"))
    ).withColumn(
        "rn_d",
        F.row_number().over(
            w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        ),
    )
    return r.groupBy("window_start", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit: orphan counts for every foreign key in
# the schema — the data-quality gate a pipeline runs before training
# joins. Anti-join per FK (broadcast for dimension-sized parents),
# one output row per check.
# ---------------------------------------------------------------------------

_RI_CHECKS = [
    # (check name, child table, child key, parent table, parent key)
    ("lineitem_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("lineitem_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
]


@query(
    "referential_integrity_audit",
    "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans
FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}"""
        for name, child, ck, parent, pk in _RI_CHECKS
    ),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-row counts for every foreign key in the TPC-H-ish schema
    (left join per FK, parents broadcast where dimension-sized) — the
    standard pre-join data-quality gate. One row per check."""
    t = load_tables(
        spark, sf_dir, ("lineitem", "orders", "supplier", "part",
                        "customer", "nation"),
    )
    outs = []
    for name, child, ck, parent, pk in _RI_CHECKS:
        parent_keys = t[parent].select(pk)
        if parent not in ("orders", "lineitem"):
            parent_keys = F.broadcast(parent_keys)
        joined = t[child].select(ck).join(
            parent_keys, t[child][ck] == parent_keys[pk], "left"
        )
        outs.append(
            joined.agg(
                F.lit(name).alias("check_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col(pk).isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out


# ---------------------------------------------------------------------------
# Event-transition matrix: per-user consecutive event_type bigram
# counts in (ts, event_id) order — the Markov-chain / journey-mining
# operator next to funnel_view_click_purchase. Lag windows are
# partitioned per user, so the sort is partition-parallel.
# ---------------------------------------------------------------------------


@query(
    "event_transition_matrix",
    """
WITH _o AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
  WHERE ts IS NOT NULL
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n
FROM _o WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive event_types per
    user (deterministic (ts, event_id) order): the user-journey mining
    companion to the funnel query."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # NULL ts excluded in BOTH engines — the lag ordering would rank
    # NULLS FIRST in Spark vs NULLS LAST in DuckDB, changing which
    # bigram each event forms (review finding — latent; fixtures carry
    # no null ts)
    o = ev.filter(F.col("ts").isNotNull()).withColumn(
        "prev_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    )
    return (
        o.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ---------------------------------------------------------------------------
# Lateness profile: how out-of-order is the stream, really? Treat
# event_id as arrival order, event time as ts; lateness of an event =
# running max of event time at its arrival minus its own event time.
# The resulting histogram is WHAT YOU READ to choose a watermark delay
# (reference: the in-order model of SURVEY §2.9 assumes lateness 0 and
# drops the rest; Spark lets you pick the bound — this measures it).
# ---------------------------------------------------------------------------


@query(
    "lateness_profile",
    """
WITH _a AS (
  SELECT event_type, epoch_us(ts) AS t_us,
         MAX(epoch_us(ts)) OVER (PARTITION BY event_type
                                 ORDER BY event_id
                                 ROWS UNBOUNDED PRECEDING) AS hwm_us
  FROM events
),
_l AS (SELECT event_type, hwm_us - t_us AS late_us FROM _a)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN late_us = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_in_order,
       CAST(SUM(CASE WHEN late_us > 0 AND late_us <= 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1s,
       CAST(SUM(CASE WHEN late_us > 1000000 AND late_us <= 60000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_60s,
       CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_more,
       CAST(MAX(late_us) AS BIGINT) AS max_late_us
FROM _l GROUP BY event_type
""",
)
def lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile per event_type: lateness of each
    event vs the running event-time high-water mark in arrival
    (event_id) order, bucketed {0, ≤1s, ≤60s, >60s} + max — the
    measurement that turns the reference's assume-in-order model
    (SURVEY §2.9) into an evidence-based watermark delay. Integer-µs
    arithmetic throughout (`epoch_us`)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from lightsaber_spark.operators.window_agg import epoch_us

    a = ev.select(
        "event_type",
        epoch_us(ev, "ts").alias("t_us"),
        "event_id",
    ).withColumn(
        "hwm_us",
        F.max("t_us").over(
            Window.partitionBy("event_type")
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    late = (F.col("hwm_us") - F.col("t_us")).alias("late_us")
    lt = a.select("event_type", late)
    c = F.col("late_us")
    return lt.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(c == 0, 1).otherwise(0)).cast("bigint").alias(
            "n_in_order"
        ),
        F.sum(F.when((c > 0) & (c <= 1000000), 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_1s"),
        F.sum(F.when((c > 1000000) & (c <= 60000000), 1).otherwise(0))
        .cast("bigint")
        .alias("n_late_60s"),
        F.sum(F.when(c > 60000000, 1).otherwise(0)).cast("bigint").alias(
            "n_late_more"
        ),
        F.max("late_us").cast("bigint").alias("max_late_us"),
    )


# ---------------------------------------------------------------------------
# Multimodal near-dup, STRONG-checked: the synthetic PNGs are
# closed-form (pixel(x,y) = (doc_id+x+y) % 251, multimodal.py
# synthetic_png_media), so a DuckDB oracle can reproduce the perceptual
# hash by PURE ARITHMETIC — no codec — while the Spark side runs the
# full real pipeline (PNG encode → chunk/CRC/inflate decode → integer
# aHash → banded Hamming retrieval). Matching spectra prove the whole
# codec+hash+retrieval stack end-to-end, upgrading multimodal dedup
# from pytest-pinned to oracle-checked. Output is the pair-count
# spectrum by Hamming distance (pairs aggregated over DISTINCT hashes
# with multiplicities — what a production pHash dedup materializes).
# ---------------------------------------------------------------------------


def _spectrum_sql_tail(sig_col: str, max_hamming: int = 8) -> str:
    """Shared oracle tail: distinct-signature pair spectrum by Hamming
    distance (the all-pairs form over the tiny distinct-hash relation —
    equivalent to the Spark side's lossless banded retrieval). Embed
    after a CTE named ``fp`` with columns (doc_id, {sig_col})."""
    return f"""
hg AS (SELECT {sig_col}, COUNT(*) AS cnt FROM fp GROUP BY 1),
pairs AS (
  SELECT bit_count(xor(a.{sig_col}, b.{sig_col})) AS hamming,
         a.cnt * b.cnt AS np
  FROM hg a JOIN hg b ON a.{sig_col} < b.{sig_col}
),
spec0 AS (
  SELECT 0 AS hamming, CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT) AS n_pairs
  FROM hg HAVING SUM(cnt * (cnt - 1) // 2) > 0
),
specn AS (
  SELECT hamming, CAST(SUM(np) AS BIGINT) AS n_pairs
  FROM pairs WHERE hamming <= {max_hamming} GROUP BY 1
)
SELECT CAST(hamming AS BIGINT) AS hamming, n_pairs
FROM (SELECT * FROM spec0 UNION ALL SELECT * FROM specn)
"""


def _signature_pair_spectrum(
    sig: DataFrame, sig_col: str, n_bits: int, max_hamming: int = 8
) -> DataFrame:
    """Shared Spark side of the spectrum: distinct signatures with
    multiplicities, banded Hamming retrieval between distinct values
    (lossless: 16 bands > max_hamming), pair counts weighted by
    multiplicity products, plus the within-signature zero-distance row
    (cnt·(cnt−1)/2). Output: (hamming, n_pairs)."""
    from lightsaber_spark.functions.dedup import register_cache
    from lightsaber_spark.functions.hamming import banded_hamming_pairs

    # distinct-signature groups feed the banded self-join (both sides)
    # and the dup-row aggregate — persist once. r15 OPT (guide §2.4):
    # the multiplicities ride THROUGH the banded join (carry_cols)
    # instead of being re-joined onto the pair table per side — two
    # joins (and their exchanges) removed from the plan.
    hg = register_cache(
        sig.groupBy(sig_col).agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = banded_hamming_pairs(
        hg, sig_col, sig_col, n_bits=n_bits, n_bands=16,
        max_hamming=max_hamming, carry_cols=("cnt",),
    )
    specn = (
        pairs.groupBy("hamming")
        .agg(
            F.sum(F.col("cnt_a") * F.col("cnt_b")).cast("bigint").alias("n_pairs")
        )
    )
    spec0 = (
        hg.agg(
            F.sum(F.expr("cnt * (cnt - 1) div 2")).cast("bigint").alias(
                "n_pairs"
            )
        )
        .select(F.lit(0).cast("bigint").alias("hamming"), "n_pairs")
        .where(F.col("n_pairs") > 0)
    )
    return spec0.union(
        specn.select(F.col("hamming").cast("bigint"), "n_pairs")
    )


def _media_ahash_oracle() -> str:
    # signed-64 fold: bit 63 contributes -2^63 (two's complement).
    # SUM, not MAX: each (by, bx) occurs once per doc, and MAX would
    # prefer the ELSE 0 over the NEGATIVE bit-63 contribution.
    fold = " + ".join(
        [
            f"SUM(CASE WHEN by*8+bx = {i} AND bit = 1 THEN "
            + (f"CAST({1 << i} AS BIGINT)" if i < 63
               else "CAST(-9223372036854775808 AS BIGINT)")
            + " ELSE 0 END)"
            for i in range(64)
        ]
    )
    return f"""
WITH ids AS (
  SELECT doc_id, doc_id % 61 + 4 AS w, doc_id % 37 + 3 AS h FROM documents
),
px AS (
  SELECT doc_id, w, h, x, y, (doc_id + x + y) % 251 AS v,
         (8 * x + 7) // w AS bx, (8 * y + 7) // h AS by
  FROM ids JOIN range(64) tx(x) ON x < w JOIN range(42) ty(y) ON y < h
),
tot AS (SELECT doc_id, SUM(v) AS total, COUNT(*) AS n_total
        FROM px GROUP BY 1),
blk AS (SELECT doc_id, by, bx, SUM(v) AS s, COUNT(*) AS n_blk
        FROM px GROUP BY 1, 2, 3),
bits AS (
  SELECT b.doc_id, by, bx,
         CASE WHEN s * n_total >= total * n_blk THEN 1 ELSE 0 END AS bit
  FROM blk b JOIN tot t ON b.doc_id = t.doc_id
),
fp AS (SELECT doc_id, CAST({fold} AS BIGINT) AS ahash FROM bits GROUP BY 1),
{_spectrum_sql_tail("ahash")}"""


@query(
    "media_ahash_spectrum",
    _media_ahash_oracle(),
    watch=True,  # real PNG codec + perceptual hash, a bench headline query
)
def media_ahash_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup spectrum over the REAL codec pipeline:
    encode each document id as a genuine PNG (multimodal.py), decode it
    with the real chunk/CRC/inflate decoder, aHash it
    (image_dedup.ahash_bits — pure integer), then count image pairs at
    each Hamming distance <= 8 via the banded equi-join over DISTINCT
    hashes weighted by multiplicity. The DuckDB twin computes the same
    spectrum from the closed-form pixel arithmetic WITHOUT touching a
    byte of PNG — equality proves the codec+hash+retrieval stack."""
    from lightsaber_spark.functions.image_dedup import synthetic_png_ahash

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r15 OPT (guide §4.1/§8): fused single-Python-pass encode→decode→
    # aHash — the PNG blobs no longer round-trip Python→JVM→Python
    # between two mapInPandas pools; bit-identical signatures
    # (fusion-equivalence pytest)
    sig = synthetic_png_ahash(docs)
    return _signature_pair_spectrum(sig, "ahash", n_bits=64)


# ---------------------------------------------------------------------------
# Audio fingerprint spectrum, STRONG-checked — same construction as
# media_ahash_spectrum for the WAV stack: synthetic clips are
# closed-form (s_i = ((id+1)(i+7)) % 4001 - 2000, multimodal.py
# synthetic_wav_media), so the oracle reproduces the energy-delta
# fingerprints (audio_dedup.py) by pure arithmetic while Spark runs
# RIFF encode -> chunk-walking decode -> integer fingerprint -> banded
# Hamming retrieval. Clips are 50-249 samples, so frame=16 yields
# 3-15 full frames per clip.
# ---------------------------------------------------------------------------

_AFS_FRAME = 16


def _audio_fp_oracle() -> str:
    return f"""
WITH ids AS (
  SELECT doc_id, doc_id % 200 + 50 AS n FROM documents
),
smp AS (
  SELECT doc_id, n, i, ((doc_id + 1) * (i + 7)) % 4001 - 2000 AS s,
         i // {_AFS_FRAME} AS f
  FROM ids JOIN range(249) t(i) ON i < n
),
-- full frames only (the fingerprint iterates complete windows)
en AS (
  SELECT doc_id, f, SUM(s * s) AS e
  FROM smp WHERE (f + 1) * {_AFS_FRAME} <= n
  GROUP BY 1, 2
),
bits AS (
  SELECT a.doc_id, a.f AS i,
         CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < 32
),
fp0 AS (
  SELECT doc_id, CAST(SUM(bit * (1::BIGINT << i)) AS BIGINT) AS fingerprint
  FROM bits GROUP BY 1
),
-- clips with a single frame have no deltas: fingerprint 0
fp AS (
  SELECT ids.doc_id, COALESCE(fp0.fingerprint, 0) AS fingerprint
  FROM ids LEFT JOIN fp0 ON ids.doc_id = fp0.doc_id
),
{_spectrum_sql_tail("fingerprint")}"""


@query(
    "audio_fingerprint_spectrum",
    _audio_fp_oracle(),
    watch=True,  # real WAV codec + fingerprint, a bench headline query
)
def audio_fingerprint_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-delta fingerprint pair spectrum over the REAL WAV codec:
    encode each doc id as a genuine RIFF/WAVE clip, decode it with the
    verifying chunk-walker, fingerprint it (audio_dedup.py, frame=16),
    and count clip pairs at each Hamming distance <= 8 over distinct
    fingerprints with multiplicities — against a pure-arithmetic DuckDB
    twin (no codec). The audio analog of media_ahash_spectrum."""
    from lightsaber_spark.functions.audio_dedup import synthetic_wav_fingerprint

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # r15 OPT (guide §4.1/§8): fused single-Python-pass encode→decode→
    # fingerprint (see media_ahash_spectrum); bit-identical
    sig = synthetic_wav_fingerprint(
        docs, frame=_AFS_FRAME, n_bits=32
    ).select("media_id", "fingerprint")
    return _signature_pair_spectrum(sig, "fingerprint", n_bits=32)
