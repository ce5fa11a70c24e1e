"""Error-string parity (src/dqe.erl:129-150), no_results, and the
query-timeout path of engine.collect."""

from __future__ import annotations

import pytest

from dqe_spark import engine
from dqe_spark.dql.compiler import PlanError
from tests.conftest import SF_SMOKE

JAN1 = 1704067200000
FEB1 = 1706745600000


def _err(spark, dql):
    with pytest.raises(PlanError) as ei:
        engine.run(spark, dql, SF_SMOKE)
    return engine.error_string(ei.value)


def test_unknown_variable(spark):
    msg = _err(spark, f"SELECT avg(nosuch, 1m) BETWEEN {JAN1} AND {FEB1}")
    assert msg == "Variable 'nosuch' referenced but not defined!"


def test_unknown_function(spark):
    msg = _err(
        spark,
        f"SELECT frobnicate('events'.'click' BUCKET 'events') BETWEEN {JAN1} AND {FEB1}",
    )
    assert msg == "Not recognized function frobnicate(metric)."


def test_resolution_conflict(spark):
    msg = _err(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1m) + "
        f"avg('events'.'view' BUCKET 'events', 5m) BETWEEN {JAN1} AND {FEB1}",
    )
    assert msg == "Combination functions can't have mix resolutions as children."


def test_no_results(spark):
    # far-future range: plan succeeds, zero rows everywhere
    with pytest.raises(engine.NoResults) as ei:
        engine.collect(
            spark,
            "SELECT avg('events'.'click' BUCKET 'events', 1m) "
            f"BETWEEN {FEB1 + 10} AND {FEB1 + 100000}",
            SF_SMOKE,
        )
    assert engine.error_string(ei.value) == "No results were returned for the query."


def test_collect_ok_and_timeout(spark):
    out = engine.collect(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
        timeout_s=120,
    )
    (res, rows), = out
    assert res.kind == "metrics" and len(rows) > 0

    with pytest.raises(engine.QueryTimeout):
        engine.collect(
            spark,
            f"SELECT avg('events'.* BUCKET 'events', 1m) BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
            timeout_s=0.001,
        )


@pytest.mark.parametrize("delay_s", [0.0, 2.0], ids=["running", "submitted_late"])
def test_timeout_cancels_a_plan_time_job(spark, monkeypatch, delay_s):
    """A Spark job the compiler starts at plan time is bounded by
    ``timeout_s`` and cancelled: whether it is running when the timeout
    fires or is submitted after it, it fails instead of running to
    completion, and collect raises QueryTimeout on time."""
    import time

    from dqe_spark.dql.compiler import Compiler

    dql = f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}"
    engine.plan(spark, dql, SF_SMOKE)  # warm: the store loads take < 1 s
    sc = spark.sparkContext
    st = sc.statusTracker()
    seen: dict = {}
    compile_ = Compiler.compile

    def slow_compile(self, ast):
        seen["group"] = group = sc.getLocalProperty("spark.jobGroup.id")
        seen["before"] = set(st.getJobIdsForGroup(group) if group else ())
        time.sleep(delay_s)
        try:
            sc.parallelize([0], 1).map(lambda x: time.sleep(30) or x).count()
        except Exception as e:
            seen["err"] = e
        seen["done"] = time.monotonic()
        return compile_(self, ast)

    monkeypatch.setattr(Compiler, "compile", slow_compile)
    t0 = time.monotonic()
    with pytest.raises(engine.QueryTimeout):
        engine.collect(spark, dql, SF_SMOKE, timeout_s=1)
    assert time.monotonic() - t0 < 10
    while "done" not in seen and time.monotonic() - t0 < 25:
        time.sleep(0.1)
    assert "err" in seen and seen["done"] - t0 < 10
    # no job of the query's group from the slow one on ran to
    # completion: the later collect job is cancelled as it is submitted
    jobs = set(st.getJobIdsForGroup(seen["group"])) - seen["before"]
    assert {st.getJobInfo(j).status for j in jobs} <= {"FAILED"}


def test_explain_dry_run(spark):
    plans = engine.explain(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    (name,) = plans
    assert "avg(" in name and "HashAggregate" in plans[name]

    ru = engine.explain(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
        use_rollups=True,
    )
    assert "rollup_" in next(iter(ru.values()))


def test_percentile_out_of_range(spark):
    # int 90 → 45.0 after the reference's halving quirk: plan-time error,
    # not a runtime Spark failure
    with pytest.raises(PlanError, match="out of range"):
        engine.run(
            spark,
            f"SELECT percentile('events'.'click' BUCKET 'events', 90, 1h) "
            f"BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )


def test_combinator_rejects_consts_and_multiseries(spark):
    # two series + a window constant: no such overload
    with pytest.raises(PlanError, match="function not found"):
        engine.run(
            spark,
            "SELECT avg('events'.'click' BUCKET 'events', "
            f"'events'.'view' BUCKET 'events', 5m) BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )
    # ordered fold over a glob (multi-series) input: plan-time rejection
    with pytest.raises(PlanError, match="single-series"):
        engine.run(
            spark,
            "SELECT avg('events'.* BUCKET 'events', 1m) / "
            f"avg('events'.'click' BUCKET 'events', 1m) BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )


def test_combinator_confidence_is_mean(spark):
    from pyspark.sql import functions as F

    (res,) = engine.run(
        spark,
        "SELECT avg('events'.'click' BUCKET 'events', 1h) + "
        f"avg('events'.'view' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    # confidence() over the combined frame sees real values, not 1.0
    (res2,) = engine.run(
        spark,
        "SELECT confidence(avg('events'.'click' BUCKET 'events', 1h) + "
        f"avg('events'.'view' BUCKET 'events', 1h)) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    vals = [r["value"] for r in res2.df.collect()]
    assert vals and any(v != 1.0 for v in vals)
    assert all(v is None or 0.0 <= v <= 1.0 for v in vals)


def test_glob_not_found(spark):
    # glob that matches no metric: the reference raises at expand time
    # with this exact phrasing (src/dqe.erl:133-135)
    with pytest.raises(engine.GlobNotFound) as ei:
        engine.collect(
            spark,
            f"SELECT avg('nosuchprefix'.* BUCKET 'events', 1m) BETWEEN {JAN1} AND {FEB1}",
            SF_SMOKE,
        )
    assert engine.error_string(ei.value) == "No series matches 'nosuchprefix'.'*'!"


def test_glob_found_no_error(spark):
    # matching globs must not trip the not-found check
    out = engine.collect(
        spark,
        f"SELECT avg('events'.* BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
    )
    assert sum(len(rows) for _, rows in out) > 0


def test_slow_query_debug_artifact(spark, tmp_path):
    # slow_ms=0 forces every query over the threshold; artifact lands in
    # the store debug folder with the query text + physical plans
    # (reference: 5s default, priv/dqe.schema:18-21; src/dqe.erl:282-322)
    from dqe_spark.sources.store import STORE_ROOT

    before = set((STORE_ROOT / "debug").glob("*.log")) if (STORE_ROOT / "debug").exists() else set()
    engine.collect(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
        slow_ms=0,
    )
    after = set((STORE_ROOT / "debug").glob("*.log"))
    new = after - before
    assert len(new) == 1
    text = next(iter(new)).read_text()
    assert "BUCKET 'events'" in text and "## statement:" in text
    for p in new:
        p.unlink()  # keep the store clean for repeated runs


def test_debug_flag_forces_artifact(spark):
    from dqe_spark.sources.store import STORE_ROOT

    before = set((STORE_ROOT / "debug").glob("*.log")) if (STORE_ROOT / "debug").exists() else set()
    engine.collect(
        spark,
        f"SELECT avg('events'.'click' BUCKET 'events', 1h) BETWEEN {JAN1} AND {FEB1}",
        SF_SMOKE,
        debug=True,
        slow_ms=None,
    )
    new = set((STORE_ROOT / "debug").glob("*.log")) - before
    assert len(new) == 1
    for p in new:
        p.unlink()
