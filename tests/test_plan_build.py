"""Guards on the cost of building a query plan (``engine.plan``): store
loads are memoised per generation, the events store is loaded only for
an EVENTS query, and one plan build stays within a pinned budget of
py4j round trips."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import DataFrameReader

from dqe_spark import engine
from dqe_spark.sources import store as ST
from tests.conftest import SF_SMOKE

_RANGE = "BETWEEN 1704153600000 AND 1704240000000"
METRIC_Q = f"SELECT avg('events'.'click' BUCKET 'events', 1m) {_RANGE}"
EVENTS_Q = (
    f"SELECT EVENTS FROM 'events' WHERE 'event_type' == 'click' AND 'k' > 10 "
    f"{_RANGE}"
)

#: py4j round trips for one warm plan build, measured at 124 (metric)
#: and 47 (events) with a 4-core local session; with PySpark's
#: per-Column call-site capture on they were 294 and 247
PY4J_BUDGET = {METRIC_Q: 160, EVENTS_Q: 70}


@pytest.fixture(scope="module")
def stores(spark):
    """The smoke metric and events stores, built if missing and dropped
    again afterwards if built here (other tests expect the view path)."""
    built = []
    for ingest, out in (
        (ST.ingest, ST._store_dir(SF_SMOKE)),
        (ST.ingest_events, ST._events_dir(SF_SMOKE)),
    ):
        if not (out / "_SUCCESS").exists():
            ingest(spark, SF_SMOKE)
            built.append(out)
    yield
    for out in built:
        ST.drop(out)


class _Counts:
    """Counts ``DataFrameReader.parquet`` calls, py4j round trips and
    the Spark jobs of one job group while active."""

    def __init__(self, spark, monkeypatch):
        self.sc = spark.sparkContext
        self.parquet = self.py4j = 0
        read, gw = DataFrameReader.parquet, type(self.sc._gateway._gateway_client)
        send = gw.send_command

        def counted_read(*a, **k):
            self.parquet += 1
            return read(*a, **k)

        def counted_send(*a, **k):
            self.py4j += 1
            return send(*a, **k)

        monkeypatch.setattr(DataFrameReader, "parquet", counted_read)
        monkeypatch.setattr(gw, "send_command", counted_send)

    def plan(self, spark, dql: str, group: str) -> int:
        """Plan ``dql`` under job group ``group``; the group's job count."""
        self.sc.setJobGroup(group, group)
        try:
            engine.plan(spark, dql, SF_SMOKE)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def test_second_plan_reads_no_parquet_and_runs_no_job(spark, stores, monkeypatch):
    """A plan after a store load (memo cleared, so the first plan reads
    parquet and runs its listing jobs) reuses the loaded relation: the
    second plan of the same metric query calls no
    ``DataFrameReader.parquet`` and submits no Spark job."""
    ST.invalidate_load_memo()
    c = _Counts(spark, monkeypatch)
    assert c.plan(spark, METRIC_Q, "plan-guard-cold") > 0
    assert c.parquet > 0
    c.parquet = 0
    assert c.plan(spark, METRIC_Q, "plan-guard-warm") == 0
    assert c.parquet == 0


def test_events_store_is_loaded_only_for_events_queries(spark, stores, monkeypatch):
    """A query without an EVENTS selector never calls ``load_events``;
    one with it (here as a named statement next to a metric one) loads
    it once."""
    calls = []
    load_events = engine.load_events
    monkeypatch.setattr(
        engine, "load_events", lambda *a: calls.append(a) or load_events(*a)
    )
    engine.plan(spark, METRIC_Q, SF_SMOKE)
    engine.plan(
        spark,
        f"SELECT avg('events'.* BUCKET 'events', 5m) AS a, "
        f"max('events'.'view' BUCKET 'events', 1h) {_RANGE}",
        SF_SMOKE,
    )
    assert calls == []
    mixed = (
        f"SELECT EVENTS FROM 'events' WHERE 'event_type' == 'click' AS e, "
        f"avg('events'.'click' BUCKET 'events', 1m) {_RANGE}"
    )
    assert [r.kind for r in engine.plan(spark, mixed, SF_SMOKE)] == [
        "events",
        "metrics",
    ]
    assert len(calls) == 1


@pytest.mark.parametrize("dql", list(PY4J_BUDGET), ids=["metric", "events"])
def test_plan_build_py4j_budget(spark, stores, monkeypatch, dql):
    """One warm plan build stays within its py4j round-trip budget
    (``GatewayClient.send_command`` calls, as perfbench counts them).
    A per-Column call-site capture or a store load creeping back into
    the build path exceeds it. Cyclic GC is held off while counting:
    a collection frees py4j objects, each one a round trip of its own."""
    engine.plan(spark, dql, SF_SMOKE)
    gc.collect()
    c = _Counts(spark, monkeypatch)
    gc.disable()
    try:
        engine.plan(spark, dql, SF_SMOKE)
    finally:
        gc.enable()
    assert 0 < c.py4j <= PY4J_BUDGET[dql], c.py4j
