"""Local mirror of the driver's correctness gate.

For every entry in ``__spark_entry__.queries()`` with an
``oracle_sql()`` twin, run the Spark query and the DuckDB oracle on the
same sf directory, reorder columns by sorted name (the driver sorts
columns by name before hashing), and compare rows order-insensitively
with EXACT float equality (the driver hashes values exactly).

Default sf0.001 for speed; set LSSPARK_TEST_SF_DIR=/root/testdata/sf0.01
to rehearse the exact driver gate.
"""

from __future__ import annotations


import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(r):
        return tuple((x is None, repr(x)) for x in r)

    return sorted([tuple(r[i] for i in order) for r in rows], key=key)


def _cell_eq(x, y):
    # The real driver hashes values EXACTLY; an ulp of cross-engine
    # drift would pass isclose yet fail the sweep. Every registered
    # query's exactness policy (integer cents / md5-fold / integer µs)
    # is designed for bit-identical floats — hold them to it.
    if isinstance(x, float) or isinstance(y, float):
        if x is None or y is None:
            return x is y
        return repr(float(x)) == repr(float(y))
    return x == y


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_oracle_parity(name, spark, duck):
    check_oracle_parity(name, spark, duck)


def check_oracle_parity(name, spark, duck):
    """Spark rows of ``name`` equal its oracle's, columns by name, floats
    exactly; a query with an oracle must return at least one row."""
    fn = QUERIES[name]
    sdf = fn(spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    if name not in ORACLES:
        # intentionally weak-checked (approx sketches etc.) — the driver
        # records rows-only for these; locally assert it runs and is sane
        assert len(s_rows) >= 0 and s_cols
        return
    rel = duck.execute(ORACLES[name])
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch {sorted(s_cols)} vs {sorted(d_cols)}"
    )
    a, b = _canon(s_rows, s_cols), _canon(d_rows, d_cols)
    assert len(a) == len(b) > 0, f"{name}: rowcount {len(a)} vs {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        for c, (x, y) in zip(sorted(s_cols), zip(ra, rb)):
            assert _cell_eq(x, y), (
                f"{name}: row {i} col {c}: spark={x!r} duck={y!r}\n"
                f"  spark row: {ra}\n  duck row:  {rb}"
            )


def test_no_hugeint_or_decimal_oracle_outputs(duck):
    """The driver's value hash is TYPE-sensitive (CLAUDE.md): any
    DuckDB oracle OUTPUT column typed HUGEINT (un-cast integer sum,
    window sum) or DECIMAL hash-mismatches even when values are equal.
    Audit every registered oracle's DESCRIBE — no Spark needed."""
    import __spark_entry__ as entrymod

    bad = []
    for name, sql in entrymod.oracle_sql().items():
        cols = duck.execute(f"DESCRIBE ({sql})").fetchall()
        for col, typ, *_ in cols:
            if "HUGEINT" in typ or "DECIMAL" in typ:
                bad.append(f"{name}: {col} is {typ}")
    assert not bad, "un-cast oracle aggregate outputs:\n" + "\n".join(bad)


def test_query_and_oracle_column_names_align(spark, duck):
    """Driver compare sorts columns by NAME before hashing — a Spark/
    oracle alias mismatch fails even with identical values. Check the
    full catalog's schemas statically (lazy Spark schema, DuckDB
    DESCRIBE; no execution)."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    bad = []
    for name, sql in oracles.items():
        duck_cols = sorted(r[0] for r in duck.execute(f"DESCRIBE ({sql})").fetchall())
        spark_cols = sorted(queries[name](spark, SF_DIR).columns)
        if duck_cols != spark_cols:
            bad.append(f"{name}: spark={spark_cols} duck={duck_cols}")
    assert not bad, "column-name mismatches:\n" + "\n".join(bad)


def test_sessionize_oracle_merges_exact_gap_like_spark(spark):
    """The shared sessionization CTE (_SESSIONIZE_CTES) must merge an
    event at exactly last + gap, because Spark's session_window does
    (pinned empirically in test_streaming). The old `>=` break rule
    split that pair — a latent cross-engine divergence no fixture
    happened to contain (review finding, r11 continuation)."""
    import duckdb

    from pyspark.sql import functions as F

    from lightsaber_spark.pipeline_queries import _SESSIONIZE_CTES
    from lightsaber_spark.streaming.sessions import session_window_agg

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:30:00"),  # exactly gap (1800 s) later
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:30:00.000001"),  # 1 µs past the gap: splits
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {
        (r.user_id, r.session_start_us, r["n"])
        for r in session_window_agg(
            df, "ts", 1800, [("count", None, "n")], keys=["user_id"]
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({u}, TIMESTAMP '{t}')" for u, t in rows
        )
        + ") t(user_id, ts)"
    )
    sql = (
        "WITH " + _SESSIONIZE_CTES.replace("epoch_us(ts)", "epoch_us(ts)::BIGINT")
        + " SELECT user_id, min(us) AS session_start_us, "
        "CAST(count(*) AS BIGINT) AS n FROM s GROUP BY user_id, sid"
    )
    want = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert got == want
    # user 1 merged into ONE session of 2; user 2 split into two
    assert (1, 1704067200000000, 2) in got
    assert sum(1 for u, *_ in got if u == 2) == 2


def test_json_props_cast_gate_pins_cross_engine_divergence(spark):
    """The json_props_stats regex gate is the cross-engine contract
    (r11 ADVICE): on non-integral strings the bare casts genuinely
    disagree — DuckDB TRY_CAST('12.5' AS BIGINT) ROUNDS to 13, Spark
    try_cast nulls, and Spark's plain cast under this deployment's
    default-ANSI config would THROW. Gated identically, both engines
    must agree on a fixture exercising every class: integer, negative
    integer, decimal string, non-numeric, missing key, null props."""
    import duckdb

    from pyspark.sql import functions as F

    props = [
        ('{"k": "7"}',),
        ('{"k": "-3"}',),
        ('{"k": "12.5"}',),   # the divergent class the gate excludes
        ('{"k": "x"}',),
        ('{"k": "12\\n"}',),  # trailing newline: Java $ would admit it
        ('{"j": "9"}',),      # no $.k
        (None,),
    ]
    df = spark.createDataFrame(props, "props string").withColumn(
        "_ks", F.get_json_object(F.col("props"), "$.k")
    )
    k = F.when(
        F.col("_ks").rlike(r"\A-?[0-9]+\z"), F.expr("try_cast(_ks AS bigint)")
    )
    got = df.agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_with_k")
    ).collect()[0]
    con = duckdb.connect()
    vals = ", ".join("(NULL)" if p[0] is None else f"('{p[0]}')" for p in props)
    want = con.execute(
        f"""
        WITH e AS (
          SELECT CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                          '\\A-?[0-9]+\\z')
                      THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                 END AS k
          FROM (VALUES {vals}) t(props))
        SELECT CAST(sum(k) AS BIGINT), count(k) FROM e
        """
    ).fetchone()
    assert (got.sum_k, got.n_with_k) == (want[0], want[1]) == (4, 2)
    # and the divergences the gate protects against are real:
    assert con.execute(
        "SELECT TRY_CAST('12.5' AS BIGINT)"
    ).fetchone()[0] == 13
    assert spark.sql("SELECT try_cast('12.5' AS BIGINT)").collect()[0][0] is None
    # Java's $ matches before a trailing newline (RE2's does not) —
    # the reason the gate anchors with \A..\z instead of ^..$
    assert spark.sql(r"SELECT '12\n' rlike '^-?[0-9]+$'").collect()[0][0] is True
    assert spark.sql(r"SELECT '12\n' rlike '\\A-?[0-9]+\\z'").collect()[0][0] is False
