"""The query registry and the driver's sweep order — no Spark session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from lightsaber_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_registering_a_name_twice_raises():
    queries, oracles = registry.catalog()
    fn, sql = queries["cm1_sliding_sum_by_type"], oracles["cm1_sliding_sum_by_type"]
    with pytest.raises(ValueError, match="cm1_sliding_sum_by_type"):
        registry.query("cm1_sliding_sum_by_type", "SELECT 1")(lambda spark, sf_dir: None)
    assert queries["cm1_sliding_sum_by_type"] is fn
    assert oracles["cm1_sliding_sum_by_type"] == sql


def test_sweep_order_rotates_oldest_green_first(monkeypatch):
    """With nothing vouched, the sweep after the canonical queries runs
    never-green first, then by last green round, oldest first; a vouched
    query goes behind every unvouched one."""
    import __spark_entry__ as e

    mapping = {n: None for n in ("q_r8", "q_new", "q_r3", "q_r12", "q_r3b")}
    monkeypatch.setattr(
        e, "_last_green_round", lambda: {"q_r8": 8, "q_r3": 3, "q_r12": 12, "q_r3b": 3}
    )
    monkeypatch.setattr(e, "_VOUCH_CACHE", ({}, {}))
    assert list(e._ordered(mapping)) == ["q_new", "q_r3", "q_r3b", "q_r8", "q_r12"]

    monkeypatch.setattr(e, "_VOUCH_CACHE", ({"q_r3": "h"}, {"q_r3": {"hash": "h"}}))
    assert list(e._ordered(mapping)) == ["q_new", "q_r3b", "q_r8", "q_r12", "q_r3"]


def test_catalog_is_complete_whichever_module_is_imported_first():
    code = (
        "import json\n"
        "import lightsaber_spark.staged_queries\n"
        "from lightsaber_spark import registry\n"
        "q, o = registry.catalog()\n"
        "print(json.dumps([len(q), len(o), sorted(set(q) - set(o))]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True,
        check=True, timeout=300,
    ).stdout
    assert json.loads(out.splitlines()[-1]) == [
        175, 173, ["bpe_tokenize_docs", "window_approx_distinct_users"]
    ]
