"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes batch/buffer sizes per query
(BASELINE.md; reference scripts/lightsaber-bench/run-benchmarks-lightsaber.sh).
On Spark the equivalent envelope is AQE + sane shuffle-partition and
file-split sizing; everything else (fusion, codegen, partial agg) is
built into Catalyst/Tungsten (SURVEY.md §4).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lightsaber-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    Defaults are chosen so the SAME code runs on ``local[N]`` for tests
    and on a multi-executor cluster at 100 TB:

    - AQE on (runtime shuffle coalescing, skew-join splitting) — replaces
      the reference's hand-tuned per-query thread/batch configs.
    - UTC session timezone so event-time epoch arithmetic is
      deterministic across engines (DuckDB oracle parity).
    - Arrow enabled for the (rare) pandas-UDF paths.
    - 128 MB file split target: large enough to amortize task overhead
      at 100 TB (≈800k tasks), small enough to parallelize local tests.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r16 (VERDICT r15 #5 + ADVICE): the r15 static
        # ``preferSortMergeJoin=false`` is REVERTED to the default.
        # Measured: with the 64 MB broadcast threshold it changed the
        # join-node composition of ZERO of the 175 catalog plans at
        # sf0.1 (scan committed in OPTIMIZATION_r16.md), so it bought
        # nothing locally — while enabling ESTIMATE-based shuffled-hash
        # selection whose non-spillable per-partition build map is an
        # OOM risk at 100 TB when estimates are wrong or keys skewed.
        # The AQE threshold below is kept: it converts SMJ→SHJ only
        # from RUNTIME partition sizes (every post-shuffle partition
        # provably under 64 MB), which is the safe middle tier on any
        # cluster size.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return use_local_checkpoint_manager(builder.getOrCreate())


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def use_local_checkpoint_manager(spark: SparkSession) -> SparkSession:
    """On a ``local`` / ``local[...]`` master, write streaming checkpoints
    through Spark's FileSystem-based manager instead of its FileContext
    default. Without Hadoop's native library the local filesystem shells
    out for file operations, and the FileContext rename path forks about
    8 ``readlink`` processes per checkpoint file (about 75 per
    micro-batch on a 4-partition stateful query, most of its
    state-commit and WAL time); the FileSystem path forks none (both
    still fork ``chmod`` on create). On ``file:`` both publish a temp
    file by rename(2),
    Hadoop ``.crc`` files are still written, and the state store still
    wraps the manager in its own checksum layer, so nothing is checked
    less. Cluster masters keep the FileContext default (atomic rename
    over an existing file on HDFS). An explicitly set manager wins."""
    master = spark.sparkContext.master
    if (master == "local" or master.startswith("local[")) and \
            spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    return spark


# testdata columns stored as parquet timestamp[ns]; with nanosAsLong they
# read as bigint nanoseconds and are normalized back to TimestampType.
_NANOS_TS_COLS = {"events": ["ts"]}


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs this engine depends on. Needed when
    the SparkSession is provided by a host (e.g. the verify driver)
    rather than built by :func:`get_spark`."""
    from pyspark.sql import functions as F  # noqa: F401

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # r16: AQE runtime SMJ→SHJ tier only (see get_spark — the static
    # preferSortMergeJoin=false was reverted as a measured no-op with
    # at-scale OOM risk); runtime-settable for host-provided sessions
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        str(64 * 1024 * 1024),
    )
    return spark


# session → {(abs sf_dir, table) → DataFrame}. A DataFrame is just a
# plan over an immutable testdata path, so re-deriving it (parquet
# footer read + ns-normalization analysis, measured ~110 ms/table warm)
# once per QUERY BUILD was pure overhead — across a 171-query catalog
# pass that is tens of seconds. Weak-keyed by the owning SparkSession:
# DataFrames are session-bound, entries die with their session (never
# key a process cache by id() — the PSL-cache lesson), and a restarted
# context can never be served another session's frames. Trade-off: a
# cached frame pins its file listing — append-after-load to the SAME
# dir in one session won't be seen. Testdata dirs are immutable by
# contract (TESTDATA.md); mutable inputs go through spark.read direct.
_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the TESTDATA parquet tables as a dict of DataFrames and
    register them as temp views (mirrors the driver's DuckDB view setup).
    Timestamp[ns] columns are normalized to TimestampType (µs, matching
    DuckDB's read of the same files). Cached per (session, dir, table)."""
    from pyspark.sql import functions as F

    configure_runtime(spark)
    names = names or (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    cache = _TABLE_CACHE.setdefault(spark, {})
    base = os.path.abspath(sf_dir)
    out = {}
    for n in names:
        df = cache.get((base, n))
        if df is None:
            df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
            for c in _NANOS_TS_COLS.get(n, []):
                if dict(df.dtypes).get(c) == "bigint":
                    df = df.withColumn(
                        c, F.timestamp_micros(F.expr(f"{c} div 1000"))
                    )
            cache[(base, n)] = df
        # re-register every call: callers alternating sf_dirs in one
        # session (scale_smoke base vs scaled) rebind the view each time
        df.createOrReplaceTempView(n)
        out[n] = df
    return out


def materialize_parquet_once(spark: SparkSession, build, path: str,
                             _pre_rename_hook=None):
    """One-time parquet materialization with ``_SUCCESS``-guarded reuse
    — the 100 TB escape hatch for relations too big (or too expensive)
    to persist in executor memory across consumers/jobs.

    ``build`` is a zero-arg callable returning the DataFrame to write;
    it is invoked ONLY when no complete prior write exists at ``path``.
    Completeness is checked via the sink's ``_SUCCESS`` marker through
    the Hadoop FS API (works for hdfs://, s3a://, file:// and bare
    local paths alike — a driver-local isdir() would accept a
    partially-written output after a mid-write kill and never match a
    remote URI). Returns the parquet-backed DataFrame either way.

    Callers key ``path`` by their input identity (e.g. an sf_dir md5):
    regenerating the input under the same path requires deleting the
    materialized dir first.

    Concurrency (r9 ADVICE): the write goes to a private temp dir and
    is PUBLISHED by a directory rename, so a reader can never observe
    a half-written ``path`` — it sees either nothing or a complete
    output (in the narrow recheck→delete window below, a complete
    output can still transiently VANISH and be rebuilt — a retryable
    read failure, never corruption). When two drivers race, exactly
    one rename lands; the loser discards its temp dir and uses the
    winner's output if its marker is complete, else fails loudly
    (never silently mixes two writes).
    Rename-as-commit assumes an atomic-rename filesystem (local, HDFS);
    on S3-class stores front this with a cloud committer, the standard
    caveat for rename-published output."""
    # normalize a trailing slash so the temp dir is always a SIBLING of
    # dest (r10 ADVICE: "path/" + tmp_name would nest the temp dir
    # INSIDE dest and trip the race check spuriously)
    path = path.rstrip("/") or path
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    marker = hpath(path + "/_SUCCESS")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(marker):
        dest = hpath(path)
        # a dir without the marker is a dead partial write — clear it
        # so the rename below can land. A winner may have PUBLISHED in
        # the window since the top marker check (r10 ADVICE), so
        # re-check and adopt a complete output instead of deleting it.
        if fs.exists(dest):
            if fs.exists(marker):
                return spark.read.parquet(path)
            fs.delete(dest, True)
        import uuid

        tmp_name = f"__tmp-{uuid.uuid4().hex}"
        tmp = f"{path}{tmp_name}"
        build().write.mode("overwrite").parquet(tmp)

        def _lost_race():
            fs.delete(hpath(tmp), True)
            if not fs.exists(marker):
                raise RuntimeError(
                    f"materialize_parquet_once: lost the publish race for "
                    f"{path} but no complete output (_SUCCESS) exists — "
                    f"a concurrent writer crashed mid-publish or the dir "
                    f"was created externally; delete it and retry"
                )

        # Hadoop rename(src, dst) with an EXISTING dst dir moves src
        # INSIDE it instead of failing, so dest existence is the race
        # signal — checked before renaming and re-verified after: a
        # dest created inside the tiny check→rename window swallows
        # our temp dir as a nested child, which must be removed
        # UNCONDITIONALLY (review finding: the old marker-gated
        # cleanup skipped it when the winner had already published
        # complete, permanently leaking a duplicate parquet tree
        # inside the published path), then the same
        # adopt-or-fail-loudly decision. `_pre_rename_hook` is a
        # test-only seam for planting a winner inside that window.
        if fs.exists(dest):
            _lost_race()
        else:
            if _pre_rename_hook is not None:
                _pre_rename_hook()  # the check→rename window
            if not fs.rename(hpath(tmp), dest):
                _lost_race()
                return spark.read.parquet(path)
            nested = hpath(path + "/" + path.rsplit("/", 1)[-1] + tmp_name)
            if fs.exists(nested):
                fs.delete(nested, True)
                _lost_race()
            elif not fs.exists(marker):
                raise RuntimeError(
                    f"materialize_parquet_once: published {path} but its "
                    f"_SUCCESS marker is missing and no nested rename "
                    f"occurred — the temp write itself was incomplete; "
                    f"delete the dir and retry"
                )
    return spark.read.parquet(path)
