"""Driver contract for the spark-graft builder (PySpark target).

Thin facade over :mod:`lightsaber_spark.registry` — the query catalog
(SURVEY.md §2/§5 parity queries + beyond-parity pipeline ops), each
with a DuckDB oracle twin.

ORDER is part of the contract: the driver's correctness sweep may cap
how many queries it checks per round, so the dicts below are emitted
highest-information-first (see ``_ordered``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from lightsaber_spark import registry

registry.catalog()

# The reference's own benchmark suite (SURVEY §5), registered with
# ``canonical=True`` — always first.
_CANONICAL = list(registry.CANONICAL)

# Staleness is MECHANIZED (round-3 verdict #2): a green driver row
# vouches for a query only while the query's implementation hash
# (lightsaber_spark.staleness.impl_hash — callable source + transitive
# lightsaber_spark call closure + oracle SQL) matches the hash recorded
# in QUERY_HASHES.json at the time of that green row.  Any rewrite —
# of the query wrapper OR of an engine function it calls — changes the
# hash and automatically rotates the query to the front of the sweep;
# scripts/record_hashes.py re-records after the next driver sweep
# greens it.  This replaces round-3's hand-maintained _FORCE_RECHECK
# list (whose 13 entries are now expressed as absent/old hash records).


def _vouch_state() -> tuple[dict[str, str], dict[str, dict]]:
    from lightsaber_spark.staleness import current_hashes, recorded_hashes

    global _VOUCH_CACHE
    if _VOUCH_CACHE is None:
        _VOUCH_CACHE = (current_hashes(), recorded_hashes())
    return _VOUCH_CACHE


_VOUCH_CACHE: tuple[dict[str, str], dict[str, dict]] | None = None


def _last_green_round() -> dict[str, int]:
    """Rotation rule, codified (per round-2 verdict #9): scan every
    driver-written CORRECTNESS_r*.json in the repo root and record, per
    query, the most recent round with a green row (hash_match true; for
    no-oracle-by-design queries the driver's weaker rows-only check,
    err == 'no_oracle' with a recorded row count). Queries never green
    — including past FAILURES, not just never-swept — sort first."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if green:
                last[name] = max(last.get(name, -1), rnd)
    return last


def _ordered(mapping: dict) -> dict:
    """Canonical reference-benchmark queries first, then everything else
    by ``(tier, last green round, registration index)``. Tiers:
    never-green (no driver row EVER — the judge's top verification ask)
    before unvouched greens (implementation changed since the row, or
    never hash-recorded — see _vouch_state) before vouched greens. New
    queries have no CORRECTNESS row → front. Within a tier the oldest
    green round comes first, so when nothing is vouched the sweep still
    rotates through the least recently verified queries. The driver's
    sweep cap (~50) truncates the tail, so this order is what
    guarantees the highest-information queries get their row first."""
    from lightsaber_spark.staleness import is_vouched

    last = _last_green_round()
    current, recorded = _vouch_state()
    reg_index = {n: i for i, n in enumerate(mapping)}

    def key(n: str) -> tuple[int, int, int]:
        if n not in last:
            return (0, -1, reg_index[n])
        return (2 if is_vouched(n, current, recorded) else 1, last[n], reg_index[n])

    rest = sorted((n for n in mapping if n not in _CANONICAL), key=key)
    order = [n for n in _CANONICAL if n in mapping] + rest
    return {n: mapping[n] for n in order}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (CM1 analog: sliding windowed sum, pane-optimized)
    on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.SPARK_QUERIES["cm1_sliding_sum_by_type"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(registry.SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _ordered(registry.ORACLE_SQL)
