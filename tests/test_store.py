"""Materialized metric store: ingest idempotency, plan shape
(partition pruning), and row-level equality with the view derivation."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_ts_schema_contract(spark, tmp_path):
    """Data-generation drift guard: the metric derivation must analyze
    and yield ts_ms:long for BOTH historical encodings of events.ts —
    int64 nanoseconds and timestamp[us] (the round-2 regression was a
    silent flip between the two; see VERDICT round 2)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dqe_spark.sources.metric_store import _derive_metrics_view

    base = {
        "event_id": [1, 2],
        "user_id": [10, 11],
        "event_type": ["click", "view"],
        "value": [1.5, 2.5],
        "props": ["{}", "{}"],
    }
    ms = [1_700_000_000_000, 1_700_000_060_000]

    for sub, ts_arr in (
        ("ts_long", pa.array([m * 1_000_000 for m in ms], pa.int64())),
        ("ts_us", pa.array([m * 1_000 for m in ms], pa.timestamp("us"))),
    ):
        d = tmp_path / sub
        d.mkdir()
        tbl = pa.table({**{k: pa.array(v) for k, v in base.items()}, "ts": ts_arr})
        pq.write_table(tbl, d / "events.parquet")
        m = _derive_metrics_view(spark, str(d))
        assert dict(m.dtypes)["ts_ms"] == "bigint"
        got = sorted(r["ts_ms"] for r in m.select("ts_ms").collect())
        assert got == ms, f"{sub}: {got} != {ms}"


def test_ingest_and_parity(spark):
    from dqe_spark.sources import store
    from dqe_spark.sources.metric_store import _derive_metrics_view

    p1 = store.ingest(spark, SF_SMOKE)
    p2 = store.ingest(spark, SF_SMOKE)  # idempotent
    assert p1 == p2 and (p1 / "_SUCCESS").exists()

    mat = store.load(spark, SF_SMOKE)
    view = _derive_metrics_view(spark, SF_SMOKE)
    cols = ["bucket", "metric", "host", "dc", "user", "ts_ms", "value", "confidence"]
    a = sorted(map(tuple, mat.select(*cols).collect()))
    b = sorted(map(tuple, view.select(*cols).collect()))
    assert a == b


def test_partition_pruning(spark):
    from pyspark.sql import functions as F

    from dqe_spark.sources import store
    from dqe_spark.sources.metric_store import load_metrics

    store.ingest(spark, SF_SMOKE)
    df = load_metrics(spark, SF_SMOKE).where(F.col("metric") == "events.click")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "events.click" in plan


def test_date_layout_parity_and_pruning(spark):
    """The 100 TB store shape: partitioned by (bucket, dt) with
    (metric, ts)-sorted files. Must (a) hold the same rows as the view
    derivation, (b) turn a DQL time range into dt PARTITION pruning via
    the compiler's restated predicate, and (c) answer a windowed query
    identically to the default layout."""
    from pyspark.sql import functions as F

    from dqe_spark import engine
    from dqe_spark.dql.compiler import Compiler
    from dqe_spark.dql.parser import parse
    from dqe_spark.sources import store
    from dqe_spark.sources.metric_store import (
        BUCKET_RESOLUTION_MS,
        _derive_metrics_view,
        load_events,
    )

    JAN1, JAN3 = 1704067200000, 1704067200000 + 2 * 86_400_000
    p = store.ingest(spark, SF_SMOKE, layout="date")
    try:
        mat = store.load(spark, SF_SMOKE, layout="date")
        assert mat is not None and "dt" in mat.columns

        cols = ["bucket", "metric", "host", "dc", "user", "ts_ms", "value",
                "confidence"]
        a = sorted(map(tuple, mat.select(*cols).collect()))
        b = sorted(map(tuple, _derive_metrics_view(spark, SF_SMOKE).select(*cols).collect()))
        assert a == b

        comp = Compiler(
            metrics=mat,
            events=load_events(spark, SF_SMOKE),
            resolutions=BUCKET_RESOLUTION_MS,
        )
        (res,) = comp.compile(parse(
            "SELECT avg('events'.'click' BUCKET 'events', 1m) "
            f"BETWEEN {JAN1} AND {JAN3}"
        ))
        plan = res.df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "PartitionFilters" in plan and "dt" in plan and "2024-01-0" in plan

        (want,) = engine.run(
            spark,
            "SELECT avg('events'.'click' BUCKET 'events', 1m) "
            f"BETWEEN {JAN1} AND {JAN3}",
            SF_SMOKE,
        )
        assert sorted(map(tuple, res.df.collect())) == sorted(
            map(tuple, want.df.collect())
        )
    finally:
        store.drop(p)


def test_salted_agg_equals_plain(spark):
    from pyspark.sql import functions as F

    from dqe_spark.operators.windows import (
        agg_sum,
        salted_window_agg,
        window_agg,
    )
    from dqe_spark.sources.metric_store import load_metrics
    from tests.conftest import SF_SMOKE

    m = load_metrics(spark, SF_SMOKE)
    plain = window_agg(m, 3_600_000, agg_sum("value"), "v")
    salted = salted_window_agg(m, 3_600_000, "sum", "value", "v")
    a = {(r["metric"], r["wts"], r["v"]) for r in plain.collect()}
    b = {(r["metric"], r["wts"], r["v"]) for r in salted.collect()}
    # float association may differ across salt partials — compare at
    # the engine's defensive rounding minus one digit
    ar = {(m_, w, round(v, 3)) for m_, w, v in a}
    br = {(m_, w, round(v, 3)) for m_, w, v in b}
    assert ar == br and ar

    # plan shape: two aggregations, the first keyed by the salt
    plan = salted._jdf.queryExecution().toString()
    assert "__salt" in plan


def test_bucketed_layout_parity_and_plans(spark):
    """Bucketed store: (1) row parity with the view derivation,
    (2) per-series windowed aggregation has NO Exchange (bucket
    columns ⊆ grouping keys), (3) a dropped catalog entry re-registers
    from the DDL + files alone (cross-session persistence), (4) metric
    equality prunes to a subset of buckets."""
    from pyspark.sql import functions as F

    from dqe_spark.sources import store
    from dqe_spark.sources.metric_store import _derive_metrics_view
    from tests.conftest import SF_SMOKE

    table = store.ingest_bucketed(spark, SF_SMOKE, buckets=8)
    b = spark.table(table)
    view = _derive_metrics_view(spark, SF_SMOKE)
    cols = ["bucket", "metric", "host", "ts_ms", "value"]
    assert sorted(map(tuple, b.select(cols).collect())) == sorted(
        map(tuple, view.select(cols).collect())
    )

    def plan_of(df):
        je = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
        return je.explainString(mode("formatted"))

    agg = b.groupBy(
        "metric", (F.col("ts_ms") - F.col("ts_ms") % 60000).alias("wts")
    ).agg(F.avg("value").alias("v"))
    p = plan_of(agg)
    assert "Exchange" not in p, p
    assert agg.count() > 0

    # cross-session: drop the catalog entry, re-register from files
    spark.sql(f"DROP TABLE `{table}`")
    b2 = store.load_bucketed(spark, SF_SMOKE)
    p2 = plan_of(
        b2.groupBy("metric").agg(F.sum("value").alias("s"))
    )
    assert "Exchange" not in p2, p2

    # bucket pruning on metric equality
    p3 = plan_of(b2.where(F.col("metric") == "events.click").select("ts_ms"))
    assert "SelectedBucketsCount" in p3, p3


def test_expire_before_drops_only_old_partitions(spark):
    from dqe_spark.sources import store

    out = store.ingest(spark, SF_SMOKE, layout="date", force=True)
    parts_before = sorted(dt for _, dt, _ in store._date_partitions(out))
    assert len(parts_before) > 3
    # cutoff mid-range, mid-day: the cutoff's own day must survive
    cut_day = parts_before[len(parts_before) // 2]
    from datetime import datetime, timezone

    cutoff_ms = int(
        datetime.strptime(cut_day, "%Y-%m-%d")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1000
    ) + 12 * 3_600_000
    dropped = store.expire_before(SF_SMOKE, cutoff_ms)
    remaining = sorted(dt for _, dt, _ in store._date_partitions(out))
    assert remaining == [dt for dt in parts_before if dt >= cut_day]
    assert len(dropped) == len(parts_before) - len(remaining) > 0
    # store still loads; no row at/after the cutoff was lost
    df = store.load(spark, SF_SMOKE, layout="date")
    assert df.where(F.col("ts_ms") >= cutoff_ms).count() > 0
    assert df.agg(F.min("dt")).first()[0] == cut_day
    store.ingest(spark, SF_SMOKE, layout="date", force=True)  # restore


def test_compact_rewrites_fragmented_partitions_only(spark):
    from dqe_spark.sources import store

    out = store.ingest(spark, SF_SMOKE, layout="date", force=True)
    df_before = store.load(spark, SF_SMOKE, layout="date").select(
        "bucket", "metric", "ts_ms", "value", "dt"
    )
    chk = df_before.agg(
        F.count("*"), F.sum("ts_ms"), F.round(F.sum("value"), 2)
    ).first()

    # fragment ONE partition: rewrite it as many tiny files
    tgt = next(d for _, _, d in store._date_partitions(out))
    frag = spark.read.parquet(str(tgt))
    n = frag.count()
    tmp = out.parent / "_frag_tmp"
    frag.repartition(16).write.mode("overwrite").parquet(str(tmp))
    import shutil

    shutil.rmtree(tgt)
    shutil.copytree(tmp, tgt)
    shutil.rmtree(tmp)
    assert len(list(tgt.glob("*.parquet"))) > 8

    healthy = [
        d for _, _, d in store._date_partitions(out) if d != tgt
    ]
    mtimes = {str(d): max(f.stat().st_mtime_ns for f in d.iterdir()) for d in healthy}

    rewritten = store.compact(spark, SF_SMOKE, max_files=8)
    assert rewritten == [str(tgt)]
    assert len(list(tgt.glob("*.parquet"))) == 1
    assert spark.read.parquet(str(tgt)).count() == n
    # healthy partitions untouched; content identical
    after = {str(d): max(f.stat().st_mtime_ns for f in d.iterdir()) for d in healthy}
    assert mtimes == after
    df_after = store.load(spark, SF_SMOKE, layout="date").select(
        "bucket", "metric", "ts_ms", "value", "dt"
    )
    assert df_after.agg(
        F.count("*"), F.sum("ts_ms"), F.round(F.sum("value"), 2)
    ).first() == chk
    assert store.compact(spark, SF_SMOKE, max_files=8) == []  # idempotent
    store.ingest(spark, SF_SMOKE, layout="date", force=True)  # restore


def test_events_store_parity_and_pruning(spark):
    """Materialized event store: row-identical to the view derivation;
    a DQL events query's time bound becomes dt PartitionFilters."""
    from dqe_spark import engine
    from dqe_spark.sources import store
    from dqe_spark.sources.metric_store import _derive_events_view, load_events

    out = store.ingest_events(spark, SF_SMOKE, force=True)
    try:
        mat = load_events(spark, SF_SMOKE)
        assert "dt" in mat.columns  # store path active
        view = _derive_events_view(spark, SF_SMOKE)
        cols = view.columns
        a = sorted(map(tuple, mat.select(*cols).collect()))
        b = sorted(map(tuple, view.collect()))
        assert a == b

        (res,) = engine.run(
            spark,
            "SELECT EVENTS FROM 'events' WHERE 'event_type' == 'error' "
            "BETWEEN 1704067200000 AND 1704153600000",
            SF_SMOKE,
        )
        plan = res.df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
        assert "dt" in pf
        assert res.df.count() > 0
    finally:
        store.drop(out)  # other tests expect view path


def test_lifecycle_applies_to_events_store(spark):
    from dqe_spark.sources import store

    out = store.ingest_events(spark, SF_SMOKE, force=True)
    try:
        parts = sorted(dt for _, dt, _ in store._date_partitions(out))
        cut_day = parts[len(parts) // 2]
        from datetime import datetime, timezone

        cutoff_ms = int(
            datetime.strptime(cut_day, "%Y-%m-%d")
            .replace(tzinfo=timezone.utc)
            .timestamp()
            * 1000
        )
        dropped = store.expire_before(SF_SMOKE, cutoff_ms, dirname=store.EVENTS_DIRNAME)
        assert dropped and sorted(
            dt for _, dt, _ in store._date_partitions(out)
        ) == [d for d in parts if d >= cut_day]
        # fragment + compact the events store
        tgt = next(d for _, _, d in store._date_partitions(out))
        frag = spark.read.parquet(str(tgt))
        n = frag.count()
        import shutil

        tmp = out.parent / "_frag_ev_tmp"
        frag.repartition(12).write.mode("overwrite").parquet(str(tmp))
        shutil.rmtree(tgt)
        shutil.copytree(tmp, tgt)
        shutil.rmtree(tmp)
        rewritten = store.compact(
            spark, SF_SMOKE, max_files=8, dirname=store.EVENTS_DIRNAME
        )
        assert rewritten == [str(tgt)]
        assert len(list(tgt.glob("*.parquet"))) == 1
        assert spark.read.parquet(str(tgt)).count() == n
    finally:
        store.drop(out)  # other tests expect view path


def test_bucketed_relation_colocated_join(spark):
    """lineitem and orders bucketed by their join keys sort-merge-join
    with ZERO Exchange and ZERO Sort (bucket count matches, data
    sorted within buckets); results equal the plain join; a dropped
    catalog entry re-registers from the stored DDL."""
    from pyspark.sql import functions as F

    from dqe_spark.sources import store
    from tests.conftest import SF_SMOKE

    t1 = store.ingest_bucketed_relation(spark, SF_SMOKE, "lineitem", "l_orderkey")
    t2 = store.ingest_bucketed_relation(spark, SF_SMOKE, "orders", "o_orderkey")
    li, o = spark.table(t1), spark.table(t2)
    j = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)

    def plan_of(df):
        je = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
        return je.explainString(mode("formatted"))

    plan = plan_of(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert "(Sort" not in plan.split("SortMergeJoin")[0], plan

    got = j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    )
    raw = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").join(
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, raw.collect()))

    # cross-session persistence: drop the catalog entry, reload from DDL
    spark.sql(f"DROP TABLE `{t1}`")
    li2 = store.load_bucketed_relation(spark, SF_SMOKE, "lineitem")
    j2 = li2.hint("merge").join(o, li2.l_orderkey == o.o_orderkey)
    assert "Exchange" not in plan_of(j2)


def test_auto_buckets_scaling():
    """auto_buckets: power of two, ~target rows per bucket, clamped —
    and monotone in n_rows (growth can only raise the count)."""
    from dqe_spark.sources.store import auto_buckets

    assert auto_buckets(0, 1000, lo=8) == 8
    assert auto_buckets(7_999, 1000, lo=8) == 8
    assert auto_buckets(9_000, 1000, lo=8) == 16
    assert auto_buckets(1_000_000, 1000, lo=8) == 1024
    assert auto_buckets(10**12, 1000, lo=8) == 1 << 16  # hi clamp
    prev = 0
    for n in range(0, 200_000, 7_777):
        cur = auto_buckets(n, 1000, lo=8)
        assert cur >= prev
        prev = cur
