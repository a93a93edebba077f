import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("LSSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from lightsaber_spark import get_spark

    # r16 (VERDICT r15 #2 — suite wall-time): tests run at local[8],
    # not local[$SPARK_GRAFT_CPUS]. Test-scale stages are per-task-
    # overhead-bound, so more cores only add scheduling tax: measured
    # on tests/test_sketches.py same-host back-to-back, local[32]
    # 256 s / local[8] 182 s / local[4] 236 s. The bench keeps the
    # driver's local[$SPARK_GRAFT_CPUS] contract — this pins only the
    # correctness suite's parallelism.
    # get_spark's 24g driver default is for the bench host. One session
    # serves the whole suite, and with a heap cap above physical memory
    # the JVM grows past the RAM of a 16 GB host (measured 14.8 GB RSS)
    # until the kernel OOM-kills it and every later test fails. 6g
    # holds the suite's live data at test scale.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark(
        app_name="lightsaber-tests", shuffle_partitions=8, master="local[8]"
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tables(spark):
    from lightsaber_spark.session import load_tables

    return load_tables(spark, SF_DIR)


@pytest.fixture(scope="session")
def events(tables):
    return tables["events"].cache()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def rows_match(spark_rows, duck_rows, float_tol=1e-9):
    """Order-insensitive comparison with float tolerance."""
    import math

    def key(r):
        return tuple((x is None, str(x)) for x in r)

    a = sorted([tuple(r) for r in spark_rows], key=key)
    b = sorted([tuple(r) for r in duck_rows], key=key)
    if len(a) != len(b):
        return False, f"rowcount {len(a)} vs {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=float_tol, abs_tol=float_tol):
                    return False, f"row {i}: {ra} vs {rb}"
            elif x != y:
                return False, f"row {i}: {ra} vs {rb}"
    return True, ""
