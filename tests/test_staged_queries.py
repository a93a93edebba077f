"""Unit pins for the engine pieces behind the queries of
``lightsaber_spark/staged_queries.py`` (functions/hll.py,
operators/iterative.py, the MAD query), plus their share of the
catalog-wide oracle compare."""

from __future__ import annotations

import math

import pytest

from lightsaber_spark import registry
from tests.conftest import SF_DIR
from tests.test_oracle_parity import check_oracle_parity

_STAGED = sorted(
    n for n, fn in registry.catalog()[0].items()
    if fn.__module__ == "lightsaber_spark.staged_queries"
)


@pytest.mark.parametrize("name", _STAGED)
def test_staged_oracle_parity(name, spark, duck):
    """The same check as ``test_oracle_parity[name]``."""
    check_oracle_parity(name, spark, duck)


def test_staged_no_hugeint_or_decimal_outputs(duck):
    """The HUGEINT/DECIMAL type audit of
    ``test_no_hugeint_or_decimal_oracle_outputs``, applied to the staged
    module's oracles."""
    oracles = registry.catalog()[1]
    bad = []
    for name in _STAGED:
        desc = duck.execute(f"DESCRIBE ({oracles[name]})").fetchall()
        for col, typ, *_ in desc:
            if "HUGEINT" in typ or "DECIMAL" in typ:
                bad.append((name, col, typ))
    assert not bad, f"type-unsafe oracle outputs: {bad}"


# ---------------------------------------------------------------------------
# functions/hll.py unit pins
# ---------------------------------------------------------------------------


def test_hll_registers_max_merge(spark, events):
    """Partition-wise registers max-merged == whole-input registers —
    the mergeability contract that lets HLL compose with windows and
    incremental ingest (same pin as KMV's in test_sketches.py)."""
    from pyspark.sql import functions as F

    from lightsaber_spark.functions.hll import hll_registers

    whole = hll_registers(events, ["event_type"], "user_id", m=64)
    lo = events.where(F.col("event_id") % 2 == 0)
    hi = events.where(F.col("event_id") % 2 == 1)
    merged = (
        hll_registers(lo, ["event_type"], "user_id", m=64)
        .union(hll_registers(hi, ["event_type"], "user_id", m=64))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    a = sorted(map(tuple, whole.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


def test_hll_estimate_accuracy_large_n(spark):
    """Raw HLL (m=256) standard error is ~1.04/sqrt(m) ≈ 6.5 %; at
    n=20000 distinct (n >> m, where the raw estimator is unbiased) the
    estimate must land well within 3 sigma (20 %)."""
    from pyspark.sql import functions as F

    from lightsaber_spark.functions.hll import hll_distinct

    df = spark.range(20000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    row = hll_distinct(df, ["g"], "v", m=256, out_col="est").collect()[0]
    assert abs(row["est"] - 20000) / 20000 < 0.20, row["est"]


def test_hll_estimate_exact_integer_fold(spark):
    """reg_sum is the exact integer harmonic-mean denominator:
    recompute it in Python from the registers and compare."""
    from lightsaber_spark.functions.hll import hll_distinct, hll_registers

    from lightsaber_spark.functions.hll import rho_max

    m = 64
    r_max = rho_max(m)
    df = spark.range(500).selectExpr("'g' AS g", "id AS v")
    regs = {
        r["bucket"]: r["rho"]
        for r in hll_registers(df, ["g"], "v", m=m).collect()
    }
    expected = sum(1 << (r_max - rho) for rho in regs.values()) + (
        m - len(regs)
    ) * (1 << r_max)
    row = hll_distinct(df, ["g"], "v", m=m).collect()[0]
    assert row["reg_sum"] == expected
    assert row["buckets_seen"] == len(regs)


# ---------------------------------------------------------------------------
# operators/iterative.py unit pins
# ---------------------------------------------------------------------------


def test_pagerank_star_graph_center_wins(spark):
    """On a symmetrized star (center 0 — leaves 1..8) the center must
    out-rank every leaf, and all leaves tie exactly (integer math is
    deterministic, so ties are equalities, not approximations)."""
    rows = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    edges = spark.createDataFrame(rows, "src INT, dst INT")
    from lightsaber_spark.operators.iterative import pagerank

    r = {
        row["node"]: row["rank_scaled"]
        for row in pagerank(edges, iterations=4).collect()
    }
    leaves = {r[i] for i in range(1, 9)}
    assert len(leaves) == 1
    assert r[0] > leaves.pop()


def test_pagerank_mass_conservation(spark):
    """Total rank stays within truncation loss of the scale: every
    `div` drops < 1 unit, so with V nodes and 4 iterations the loss is
    bounded and the total must sit in (0.99 * scale, scale]."""
    rows = [(i, (i + 1) % 10) for i in range(10)]
    rows += [((i + 1) % 10, i) for i in range(10)]
    edges = spark.createDataFrame(rows, "src INT, dst INT")
    from pyspark.sql import functions as F

    from lightsaber_spark.operators.iterative import pagerank

    scale = 10**12
    total = (
        pagerank(edges, iterations=4, scale=scale)
        .agg(F.sum("rank_scaled"))
        .collect()[0][0]
    )
    assert 0.99 * scale < total <= scale


# ---------------------------------------------------------------------------
# MAD query cross-check against numpy (independent of the oracle)
# ---------------------------------------------------------------------------


def test_mad_matches_numpy(spark, events):
    import numpy as np

    from lightsaber_spark.staged_queries import mad_outlier_bounds_by_type

    out = {
        r["event_type"]: r
        for r in mad_outlier_bounds_by_type(spark, SF_DIR).collect()
    }
    pdf = events.select("event_type", "value").toPandas()
    for etype, grp in pdf.groupby("event_type"):
        v = np.round(grp["value"].to_numpy() * 100).astype(np.int64)
        med = np.median(v)  # numpy: mean of two middles — matches med2/2
        mad = np.median(np.abs(v - med))
        row = out[etype]
        assert math.isclose(row["median_value"], med / 100.0, rel_tol=1e-12)
        assert math.isclose(row["mad_value"], mad / 100.0, rel_tol=1e-12)
        n_out = int(np.sum(np.abs(v - med) > 3 * mad))
        assert row["n_outliers"] == n_out
        assert row["n"] == len(v)


def test_hll_registers_match_python_model(spark):
    """Registers computed by a pure-Python md5 model must equal the
    Spark registers exactly — an oracle independent of both engines'
    SQL layers."""
    import hashlib

    from lightsaber_spark.functions.hll import hll_registers, rho_max

    m = 64
    vals = list(range(300))
    df = spark.createDataFrame([(v,) for v in vals], "v LONG").selectExpr(
        "'g' AS g", "v"
    )
    got = {
        (r["bucket"], ): r["rho"]
        for r in hll_registers(df, ["g"], "v", m=m).collect()
    }
    model: dict[tuple, int] = {}
    for v in vals:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        bucket, w = h % m, h // m
        rho = rho_max(m) if w == 0 else (w & -w).bit_length()
        model[(bucket,)] = max(model.get((bucket,), 0), rho)
    assert got == model


def test_pagerank_matches_python_model(spark):
    """The Spark integer PageRank must equal a pure-Python replica of
    the same recurrence on a seeded random graph — bit-for-bit, every
    node."""
    import random

    rng = random.Random(7)
    n_nodes = 30
    edge_set = set()
    for _ in range(120):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edge_set.add((a, b))
            edge_set.add((b, a))
    edges = sorted(edge_set)
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    scale, iters = 10**12, 4

    deg: dict[int, int] = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    rank = {v: scale // len(nodes) for v in nodes}
    for _ in range(iters):
        contrib: dict[int, int] = {v: 0 for v in nodes}
        for a, b in edges:
            contrib[b] += rank[a] // deg[a]
        rank = {
            v: (15 * (scale // len(nodes))) // 100 + (85 * contrib[v]) // 100
            for v in nodes
        }

    from lightsaber_spark.operators.iterative import pagerank

    df = spark.createDataFrame(edges, "src INT, dst INT")
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, iterations=iters, scale=scale).collect()
    }
    assert got == rank


@pytest.mark.parametrize(
    "vals,n_outliers",
    [
        ([100], 0),                  # n=1: med=v, MAD=0, dev=0 -> not > 0
        ([100, 100, 100, 100], 0),   # constant: MAD=0, all dev=0
        ([100, 101], 0),             # n=2: med=100.5, MAD=0.5
        ([0, 0, 0, 0, 0, 0, 0, 1000], 1),  # single spike over zero MAD? no:
        # med=0, devs=[0x7,1000], MAD=0 -> 1000 > 0 -> 1 outlier
    ],
)
def test_mad_edge_cases(spark, tmp_path, vals, n_outliers):
    """Degenerate shapes (singleton, constant, even-count, zero-MAD
    spike) through the full query path via a tiny parquet dir."""
    import pathlib

    import duckdb

    from lightsaber_spark.staged_queries import mad_outlier_bounds_by_type

    d = tmp_path / f"sf_mad_{len(vals)}_{n_outliers}"
    d.mkdir()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ev AS SELECT row_number() OVER () AS event_id, "
        "TIMESTAMP '2024-01-01 00:10:00' + INTERVAL (row_number() OVER ()) "
        "SECOND AS ts, 1::BIGINT AS user_id, 'a' AS event_type, "
        "v / 100.0 AS value, '' AS props "
        f"FROM (SELECT unnest({vals}) AS v)"
    )
    con.execute(f"COPY ev TO '{d}/events.parquet' (FORMAT PARQUET)")

    got = mad_outlier_bounds_by_type(spark, str(d)).collect()
    assert len(got) == 1 and got[0]["n_outliers"] == n_outliers

    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    rel = con.execute(registry.ORACLE_SQL["mad_outlier_bounds_by_type"])
    cols = [dd[0] for dd in rel.description]
    want = rel.fetchall()
    assert len(want) == 1
    wr = dict(zip(cols, want[0]))
    gr = got[0]
    for col in ("event_type", "median_value", "mad_value", "n", "n_outliers"):
        assert gr[col] == wr[col], (col, gr[col], wr[col])


def test_hll_small_m_cross_engine(spark, duck):
    """The generalized rho_max (61 - log2 m) path at m=16: Spark vs the
    DuckDB oracle must still agree bit-for-bit (a fixed 53-cap would
    make the fold shift negative for small m on adversarial hashes)."""
    from lightsaber_spark.functions.hll import hll_distinct, hll_oracle_sql

    got = sorted(
        map(
            tuple,
            hll_distinct(
                spark.range(1000).selectExpr("'g' AS g", "id AS v"),
                ["g"], "v", m=16, out_col="est",
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            duck.execute(
                hll_oracle_sql(
                    "(SELECT 'g' AS g, range AS v FROM range(1000))",
                    ["g"], "v", m=16, out_col="est",
                )
            ).fetchall(),
        )
    )
    assert got == want
