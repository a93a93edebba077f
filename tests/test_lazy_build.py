"""Mechanized 'queries stay lazy' invariant (CLAUDE.md): building a
registered query must trigger NO distributed work — driver actions at
build time are the anti-pattern that turns a declarative catalog into
hidden eager jobs at 100 TB. The only allowed build-time jobs are
1-task parquet footer/schema reads (load_tables) and the documented
bounded-eager queries registered with ``eager=True`` (each a bounded
class — k-centroid collect, merge-table learn, iterative CC/pagerank
localCheckpoint, frozen-state reload, or a composition that calls one
of those; the reason sits on each decorator).

Before r14 this rule was prose + review; a per-query job-group probe
makes it a failing test. Method: each build runs under its own Spark
job group; any job in that group with MORE than one task is a real
distributed action (schema reads are single-task), so a query not flagged
``eager`` with one fails."""

from __future__ import annotations

import pytest

from lightsaber_spark import registry
from tests.conftest import SF_DIR


def test_catalog_builds_are_lazy(spark):
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders = []
    for name, fn in entrymod.queries().items():
        if name in registry.EAGER:
            continue
        group = f"lazy-{name}"
        sc.setJobGroup(group, name)
        try:
            fn(spark, SF_DIR)
        finally:
            sc.setJobGroup(None, None)
        for j in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            tasks = 0
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
            if tasks > 1:
                offenders.append(f"{name}: build job {j} ran {tasks} tasks")
    assert not offenders, (
        "queries not flagged eager ran distributed work at BUILD time "
        "(CLAUDE.md lazy invariant):\n" + "\n".join(offenders)
    )


def test_whitelisted_eager_builds_are_bounded(spark):
    """The eager flag itself stays honest: every documented eager build
    must finish its build-time jobs over the testdata without touching
    a job bigger than the input partition count (a bounded collect or
    checkpoint, never a blow-up)."""
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    default_par = sc.defaultParallelism
    queries = entrymod.queries()
    for name in sorted(registry.EAGER):
        group = f"eager-{name}"
        sc.setJobGroup(group, name)
        try:
            queries[name](spark, SF_DIR)
        finally:
            sc.setJobGroup(None, None)
        for j in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = tracker.getStageInfo(s)
                assert st is None or st.numTasks <= 4 * default_par, (
                    f"{name}: build stage {s} has {st.numTasks} tasks — "
                    "the bounded-eager contract broke"
                )
