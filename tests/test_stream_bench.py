"""``scripts/stream_bench.py`` only ever appends to its result files."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stream_bench():
    path = os.path.join(REPO, "scripts", "stream_bench.py")
    spec = importlib.util.spec_from_file_location("stream_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _record(rows_per_sec: int) -> dict:
    return {
        "rows_per_batch": 1000,
        "master": "local[4]",
        "default_parallelism": 4,
        "provider": "hdfs-backed",
        "results": {
            "passthrough": {
                "rows": 10_000, "secs": 0.5, "rows_per_sec": rows_per_sec,
                "batches_measured": 10, "rows_per_batch": 1000,
            },
        },
    }


def test_append_run_grows_both_files(tmp_path):
    append_run = _stream_bench().append_run
    js, md = str(tmp_path / "s.json"), str(tmp_path / "s.md")
    first, second = _record(20_000), _record(30_000)

    append_run(first, js, md)
    with open(js) as f:
        assert json.load(f) == [first]
    append_run(second, js, md)

    with open(js) as f:
        runs = json.load(f)
    assert runs == [first, second]
    with open(md) as f:
        text = f.read()
    assert text.count("# Streaming throughput smoke") == 1
    assert text.index("| 20,000 |") < text.index("| 30,000 |")
    assert text.count("Run on `local[4]` (default parallelism 4)") == 2
    assert not os.path.exists(js + ".tmp")


def test_append_run_without_markdown(tmp_path):
    append_run = _stream_bench().append_run
    js = str(tmp_path / "s.json")
    append_run(_record(1), js)
    append_run(_record(2), js)
    with open(js) as f:
        assert [r["results"]["passthrough"]["rows_per_sec"] for r in json.load(f)] == [1, 2]
    assert os.listdir(tmp_path) == ["s.json"]


def test_measure_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """``_measure`` checkpoints each shape in a fresh directory and
    removes it once the query stops."""
    import tempfile

    from pyspark.sql import functions as F

    from lightsaber_spark.sources.readers import rate_micro_batch_source

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(*a, **k):
        made.append(real_mkdtemp(*a, **k))
        return made[-1]

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)

    def stream():
        return rate_micro_batch_source(
            spark, rows_per_batch=100, num_partitions=1,
            start_timestamp_ms=100_000, advance_ms_per_batch=1000,
        ).select(F.col("timestamp").alias("ts"), F.col("value"))

    out = _stream_bench()._measure(spark, "tiny_passthrough", stream, 3)

    assert out["batches_measured"] >= 1
    assert len(made) == 1 and "tiny_passthrough" in os.path.basename(made[0])
    assert not os.path.exists(made[0])
    assert not [p for p in os.listdir(tmp_path) if "tiny_passthrough" in p]
