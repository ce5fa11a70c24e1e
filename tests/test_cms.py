"""Portable Count-Min sketch (operators/sketches.py CMS section):
the additive-merge losslessness the ladder rests on, the one-sided
error contract (never undercounts, overcount bounded by ε·N), and the
serving-path plan guard for the watchlist query."""

from __future__ import annotations

from pyspark.sql import functions as F

from dqe_spark.operators import sketches as SK
from dqe_spark.sources.store import drop
from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _toy(spark):
    rows = [
        ("a", h * 3_600_000, f"u{i % 40}")
        for h in range(30)
        for i in range(h + 1)
    ] + [("b", 0, "u1"), ("b", 0, None)]
    return spark.createDataFrame(rows, "k STRING, wts LONG, v STRING")


def test_cms_merge_hourly_to_day_equals_direct_day_build(spark):
    """Counters are additive, so sum-merging hour cells to a day must
    equal sketching at day grain directly — the invariant that lets
    the ladder serve ANY window from one base resolution."""
    DAY = 86_400_000
    df = _toy(spark)
    hourly = SK.cms_registers(df, ["k", "wts"], "v")
    merged = SK.cms_merge(
        hourly.withColumn("wts", F.col("wts") - F.col("wts") % F.lit(DAY)),
        ["k", "wts"],
    )
    direct = SK.cms_registers(
        df.withColumn("wts", F.col("wts") - F.col("wts") % F.lit(DAY)),
        ["k", "wts"],
        "v",
    )
    got = {tuple(r) for r in merged.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want


def test_cms_probe_never_undercounts_and_bounds_overcount(spark):
    """CMS error is one-sided: est ≥ exact always; over a cell of N
    items the expected overcount is N/W per row, and min over D rows
    keeps the realized error well under ε·N = (e/W)·N — assert the
    hard floor exactly and the ceiling with slack."""
    df = _toy(spark).where(F.col("v").isNotNull())
    regs = SK.cms_registers(df, ["k"], "v")
    probe = df.select("v").distinct()
    est = {
        (r["k"], r["v"]): r["est_count"]
        for r in SK.cms_probe(regs, ["k"], probe, "v").collect()
    }
    exact = {
        (r["k"], r["v"]): r["n"]
        for r in df.groupBy("k", "v").agg(F.count("*").alias("n")).collect()
    }
    n_cell = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    for cell_key, true in exact.items():
        e = est[cell_key]
        assert e >= true, f"{cell_key}: CMS undercounted {e} < {true}"
        budget = max(3, int(2.72 / SK.CMS_W * n_cell[cell_key[0]]) + 1)
        assert e - true <= budget, (
            f"{cell_key}: overcount {e - true} exceeds ε·N budget {budget}"
        )
    # absent keys probe to collisions only — tiny, never negative
    ghost = SK.cms_probe(
        regs, ["k"], spark.createDataFrame([("zzz-never",)], "v STRING"), "v"
    ).collect()
    for r in ghost:
        assert 0 <= r["est_count"] <= 3


def test_cms_register_shape_is_bounded(spark):
    """≤ D·W rows per cell by construction; with few distinct values
    the relation is ∝ D·distinct (sparse — the reason the relation
    layout serves fine where the HLL needed packing)."""
    df = _toy(spark)
    regs = SK.cms_registers(df, ["k"], "v")
    per_cell = {
        r["k"]: r["n"]
        for r in regs.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    n_distinct = {
        r["k"]: r["n"]
        for r in df.where(F.col("v").isNotNull())
        .groupBy("k")
        .agg(F.count_distinct("v").alias("n"))
        .collect()
    }
    for k, n in per_cell.items():
        assert n <= SK.CMS_D * SK.CMS_W
        assert n <= SK.CMS_D * n_distinct[k]  # ≤, == absent collisions


def test_watchlist_serve_plan_reads_store_not_raw(spark):
    from dqe_spark.entry import all_queries

    df = all_queries()["events_watchlist_cms_serve"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "events.parquet" not in plan
    assert "rollup_cms" in plan
    assert "cms_watchlist" in plan
    assert "EvalPython" not in plan and "CartesianProduct" not in plan


def test_cms_increment_merge_equals_rebuild(spark, tmp_path):
    """Landing new events via merge_cms_increment must equal a
    from-scratch rebuild — counts are additive, so the touched-
    partition sum-merge is lossless."""
    from pyspark.sql import functions as F

    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_events

    ev = load_events(spark, SF_SMOKE)
    part_a = ev.where(F.col("event_id") % 5 != 0)
    part_b = ev.where(F.col("event_id") % 5 == 0)

    # record the full-corpus store, rebuild it from part A only,
    # merge part B through the increment path, compare, restore.
    R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)
    store = R._cms_dir(SF_SMOKE, 3_600_000)
    full = {
        (r["event_type"], r["wts"], r["d"], r["pos"]): r["c"]
        for r in spark.read.parquet(str(store)).collect()
    }
    # rebuild from A by writing partials manually through the same API
    from dqe_spark.operators.sketches import cms_registers

    regs_a = cms_registers(
        part_a.select(
            "event_type",
            (F.col("ts_ms") - F.col("ts_ms") % F.lit(3_600_000)).alias("wts"),
            "user_id",
        ),
        ["event_type", "wts"],
        "user_id",
    )
    R._atomic_write(regs_a, store, part_cols=("event_type",))
    R.merge_cms_increment(spark, part_b, SF_SMOKE, 3_600_000)
    merged = {
        (r["event_type"], r["wts"], r["d"], r["pos"]): r["c"]
        for r in spark.read.parquet(str(store)).collect()
    }
    try:
        assert merged == full
    finally:
        R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)


def test_expire_cms_and_pdistinct_ladders(spark):
    """TTL parity for the round-8 sketch stores: 'cms' and 'pdistinct'
    are expire_rollup_before ladders like every other level — windows
    strictly older than the aligned cutoff disappear, survivors are
    byte-identical, the store stays atomic-loadable."""
    from pyspark.sql import functions as F

    from dqe_spark.sources import rollup as R

    res = 3_600_000
    for ladder, build, dir_of in (
        ("cms", R.build_cms_rollup, R._cms_dir),
        ("pdistinct", R.build_portable_distinct_rollup, R._pdistinct_dir),
    ):
        build(spark, SF_SMOKE, res, force=True)
        out = dir_of(SF_SMOKE, res)
        before = spark.read.parquet(str(out))
        lo, hi = before.agg(F.min("wts"), F.max("wts")).first()
        cutoff = (lo + hi) // 2 + 17
        aligned = cutoff - (cutoff % res)
        want = {
            tuple(r)
            for r in before.where(F.col("wts") >= aligned)
            .drop("regs")  # packed arrays aren't hashable; compare keys
            .collect()
        }
        assert R.expire_rollup_before(spark, SF_SMOKE, cutoff, res, ladder)
        after = spark.read.parquet(str(out))
        got = {tuple(r) for r in after.drop("regs").collect()}
        assert got == want and got, ladder
        assert after.agg(F.min("wts")).first()[0] >= aligned
        build(spark, SF_SMOKE, res, force=True)  # restore


def test_auto_cms_width_policy():
    """Width = pow2 keeping mean counter load ≤ CMS_TARGET_LOAD,
    clamped to [CMS_W, CMS_W_MAX] — the auto_buckets contract applied
    to the last fixed-parameter sketch (round-8 'What's missing' #1)."""
    assert SK.auto_cms_width(0) == SK.CMS_W
    assert SK.auto_cms_width(SK.CMS_W * SK.CMS_TARGET_LOAD) == SK.CMS_W
    assert (
        SK.auto_cms_width(SK.CMS_W * SK.CMS_TARGET_LOAD + 1) == 2 * SK.CMS_W
    )
    assert SK.auto_cms_width(1 << 62) == SK.CMS_W_MAX
    prev = 0
    for n in (10, 10**6, 10**7, 10**8, 10**9):
        w = SK.auto_cms_width(n)
        assert w >= prev and w & (w - 1) == 0
        prev = w


def test_cms_error_budget_holds_across_width_doubling(spark):
    """The point of auto width: at 2W the εN = (e/W)·N overcount
    budget HALVES and still holds, estimates stay one-sided — so a
    store migrated to a wider layout keeps (tightens) its calibration."""
    df = _toy(spark).where(F.col("v").isNotNull())
    exact = {
        (r["k"], r["v"]): r["n"]
        for r in df.groupBy("k", "v").agg(F.count("*").alias("n")).collect()
    }
    n_cell = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    probe = df.select("v").distinct()
    for w in (SK.CMS_W, 2 * SK.CMS_W):
        regs = SK.cms_registers(df, ["k"], "v", w=w)
        est = {
            (r["k"], r["v"]): r["est_count"]
            for r in SK.cms_probe(regs, ["k"], probe, "v", w=w).collect()
        }
        for cell_key, true in exact.items():
            e = est[cell_key]
            assert e >= true
            budget = max(3, int(2.72 / w * n_cell[cell_key[0]]) + 1)
            assert e - true <= budget, (w, cell_key, e, true)


def test_cms_oracle_replays_at_stored_width(spark, duck):
    """A store built at a non-floor width serves through its _WIDTH
    marker and the DuckDB oracle replays BIT-EXACT at that width —
    the migration contract's correctness half."""
    from dqe_spark.operators.sketches import cms_merge, cms_probe
    from dqe_spark.sources import rollup as R

    W2 = 2 * SK.CMS_W
    store = R._cms_dir(SF_SMOKE, 3_600_000)
    had = (store / "_SUCCESS").exists()
    try:
        R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True, w=W2)
        assert R.cms_width(SF_SMOKE, 3_600_000) == W2
        DAY = 86_400_000
        regs = R.load_cms_rollup(spark, SF_SMOKE, 3_600_000)
        watch = R.load_cms_watchlist(spark, SF_SMOKE)
        dregs = cms_merge(
            regs.withColumn(
                "wts", F.col("wts") - F.col("wts") % F.lit(DAY)
            ),
            ["event_type", "wts"],
        )
        got = cms_probe(
            dregs, ["event_type", "wts"], watch, "user_id",
            out="est_events", w=W2,
        )
        ctes = SK.cms_oracle_ctes(
            "SELECT event_type, "
            "(epoch_ns(ts) // 1000000 // 86400000) * 86400000 AS wts, "
            "user_id FROM events",
            ["event_type", "wts"],
            "user_id",
            "SELECT user_id FROM events WHERE user_id IS NOT NULL "
            "GROUP BY 1 ORDER BY count(*) DESC, user_id ASC LIMIT 20",
            w=W2,
        )
        from tests.oracle_util import compare

        compare(
            got,
            duck,
            f"WITH {ctes} SELECT event_type, wts, user_id, "
            "est_count AS est_events FROM cms_est",
        )
    finally:
        if had:
            R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)
        else:
            drop(store)


def test_cms_width_migration_is_loud_and_rebuilds(spark, capsys, monkeypatch):
    """An increment that pushes the heaviest cell past the stored
    width's load budget triggers the loud rebuild-at-wider-width path;
    the migrated store carries the new _WIDTH marker and the increment
    rows. (Counters hashed mod W cannot re-hash to 2W, so unlike
    gram_store's rebucket this goes back to the events source + the
    in-hand increment — the single-increment-in-flight contract the
    docstring states.)"""
    from dqe_spark.sources import rollup as R
    from dqe_spark.sources.metric_store import load_events

    store = R._cms_dir(SF_SMOKE, 3_600_000)
    had = (store / "_SUCCESS").exists()
    try:
        # a deliberately narrow store + a floor/budget shrunk to the
        # smoke corpus's tiny cells (≤3 events/hour), so the increment
        # check actually fires at this scale
        R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True, w=2)
        assert R.cms_width(SF_SMOKE, 3_600_000) == 2
        monkeypatch.setattr(SK, "CMS_TARGET_LOAD", 1)
        monkeypatch.setattr(SK, "CMS_W", 1)
        ev = load_events(spark, SF_SMOKE).limit(50)
        R.merge_cms_increment(spark, ev, SF_SMOKE, 3_600_000)
        assert R.cms_width(SF_SMOKE, 3_600_000) > 2
        out = capsys.readouterr().out
        assert "under-sized" in out and "rebuilding at width" in out
    finally:
        monkeypatch.undo()
        if had:
            R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)
        else:
            drop(store)


def test_expire_cms_preserves_width_marker(spark):
    """TTL expiry publishes a new generation — the _WIDTH
    marker MUST ride along (round-9 advisor, high): the kept rows were
    hashed at that width, and losing the marker would fall every later
    probe (and merge_cms_increment) back to the floor — silently wrong
    counter positions."""
    from dqe_spark.sources import rollup as R

    W2 = 2 * SK.CMS_W
    res = 3_600_000
    store = R._cms_dir(SF_SMOKE, res)
    had = (store / "_SUCCESS").exists()
    try:
        R.build_cms_rollup(spark, SF_SMOKE, res, force=True, w=W2)
        assert R.cms_width(SF_SMOKE, res) == W2
        before = spark.read.parquet(str(store))
        lo, hi = before.agg(F.min("wts"), F.max("wts")).first()
        cutoff = (lo + hi) // 2 + 17
        aligned = cutoff - (cutoff % res)
        want = {
            tuple(r) for r in before.where(F.col("wts") >= aligned).collect()
        }
        assert R.expire_rollup_before(spark, SF_SMOKE, cutoff, res, "cms")
        # the marker survived the rewrite and survivors are identical
        assert R.cms_width(SF_SMOKE, res) == W2
        got = {tuple(r) for r in spark.read.parquet(str(store)).collect()}
        assert got == want and got
    finally:
        if had:
            R.build_cms_rollup(spark, SF_SMOKE, res, force=True)
        else:
            drop(store)


def test_cms_oracle_width_gate_is_loud(spark):
    """The static registry oracles replay at the CMS_W floor; the
    engine probes at the store's _WIDTH. If a gate corpus ever
    auto-sizes past the floor, the registry entries must fail with a
    WIDTH message (round-9 verdict #1) — never an opaque value-hash
    mismatch. Fakes a wider marker and asserts both front doors bark."""
    import pytest

    from dqe_spark.entry import all_queries
    from dqe_spark.queries_ext import assert_cms_oracle_width
    from dqe_spark.sources import rollup as R

    R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)
    marker = R._cms_dir(SF_SMOKE, 3_600_000) / "_WIDTH"
    original = marker.read_text()
    try:
        marker.write_text(str(2 * SK.CMS_W))
        with pytest.raises(RuntimeError, match="width"):
            assert_cms_oracle_width(spark, SF_SMOKE)
        for name in ("events_watchlist_cms_serve", "dql_watchlist"):
            with pytest.raises(RuntimeError, match="width"):
                all_queries()[name](spark, SF_SMOKE)
    finally:
        marker.write_text(original)
    # restored: both entries plan again
    assert_cms_oracle_width(spark, SF_SMOKE)
    assert all_queries()["events_watchlist_cms_serve"](spark, SF_SMOKE)


def test_expire_invalidates_retention_memo(spark):
    """expire_rollup_before drops the memoized day registers (round-9
    advisor, medium): a live session's checkpointed _DREG_MEMO was
    built from the pre-expiry pdistinct store, so keeping it would
    serve retention windows that were just TTL-expired."""
    from dqe_spark.sources import rollup as R

    res = 3_600_000
    R.build_portable_distinct_rollup(spark, SF_SMOKE, res, force=True)
    R.invalidate_retention_memo()
    R.portable_retention_1d(spark, SF_SMOKE).collect()
    assert R._DREG_MEMO
    try:
        R.expire_rollup_before(spark, SF_SMOKE, 0, res, "pdistinct")
        assert not R._DREG_MEMO
    finally:
        R.build_portable_distinct_rollup(spark, SF_SMOKE, res, force=True)
