"""Local sessions write streaming checkpoints through Spark's
FileSystem-based manager (``session.use_local_checkpoint_manager``):
the rule is scoped to local masters, and the checkpoint checks the
default FileContext manager gives — Hadoop ``.crc`` files and the state
store's own checksum files — are still written and still verified."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from lightsaber_spark.session import (
    CHECKPOINT_MANAGER_CONF,
    FS_CHECKPOINT_MANAGER,
    use_local_checkpoint_manager,
)


class _Conf(dict):
    def get(self, key, default=None):
        return dict.get(self, key, default)

    def set(self, key, value):
        self[key] = value


def _session(master, **conf):
    """Just the two attributes the helper reads — no JVM."""
    return SimpleNamespace(sparkContext=SimpleNamespace(master=master), conf=_Conf(conf))


@pytest.mark.parametrize("master", ["local", "local[4]", "local[8,2]", "local[*]"])
def test_local_masters_get_fs_manager(master):
    s = use_local_checkpoint_manager(_session(master))
    assert s.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]"]
)
def test_cluster_masters_keep_spark_default(master):
    s = use_local_checkpoint_manager(_session(master))
    assert s.conf.get(CHECKPOINT_MANAGER_CONF) is None


def test_explicit_manager_is_kept():
    mine = "com.example.MyCheckpointFileManager"
    s = use_local_checkpoint_manager(_session("local[4]", **{CHECKPOINT_MANAGER_CONF: mine}))
    assert s.conf.get(CHECKPOINT_MANAGER_CONF) == mine


def test_test_session_carries_fs_manager(spark):
    assert spark.sparkContext.master == "local[8]"
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER


def _count_by_key(spark, src, ck):
    df = (
        spark.readStream.schema("k long").parquet(src + "/b=*")
        .groupBy("k").agg(F.count("*").alias("n"))
    )
    q = (
        df.writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.mark.parametrize("drop_hadoop_crc", [False, True])
def test_state_checksums_written_and_verified(spark, tmp_path, drop_hadoop_crc):
    """One committed batch leaves, per delta, Spark's ``N.delta.crc`` and
    Hadoop's ``.N.delta.crc``. A flipped byte in a committed delta fails
    the restart: Hadoop's checksum catches it first; with Hadoop's
    ``.crc`` gone, the state store's own checksum still does. (Under
    Spark's FileContext default the restart fails on the state store's
    checksum alone: Hadoop's ``.crc`` is not verified on that read.)"""
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    spark.range(100).selectExpr("id % 7 AS k").write.parquet(src + "/b=1")
    _count_by_key(spark, src, ck)

    parts = os.path.join(ck, "state", "0")
    partitions = [p for p in os.listdir(parts) if p.isdigit()]
    assert len(partitions) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    for p in partitions:
        files = set(os.listdir(os.path.join(parts, p)))
        assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= files, (p, files)

    d = os.path.join(parts, "0")
    delta = os.path.join(d, "1.delta")
    data = bytearray(open(delta, "rb").read())
    data[len(data) // 2] ^= 0xFF
    with open(delta, "wb") as f:
        f.write(bytes(data))
    if drop_hadoop_crc:
        os.remove(os.path.join(d, ".1.delta.crc"))

    spark.range(100).selectExpr("id % 7 AS k").write.parquet(src + "/b=2")
    want = "CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED" if drop_hadoop_crc \
        else "org.apache.hadoop.fs.ChecksumException"
    # the cause sits below CANNOT_LOAD_STATE_STORE; the JVM trace names it
    spark.conf.set("spark.sql.pyspark.jvmStacktrace.enabled", "true")
    try:
        with pytest.raises(Exception) as err:
            _count_by_key(spark, src, ck)
        msg = str(err.value)
    finally:
        spark.conf.unset("spark.sql.pyspark.jvmStacktrace.enabled")
    assert "CANNOT_LOAD_STATE_STORE" in msg and want in msg, msg[:2000]
