"""Rollup store: pre-aggregated partials for window-aggregate queries.

The reference re-reads raw points for every query; its only scale lever
is the backend's chunked reads (src/dqe_get.erl:25-36). At 100 TB the
decisive lever is PRE-AGGREGATION: materialize per-(bucket, metric,
base-window) partials once, and answer any coarser window aggregate
from the rollup instead of the raw store — a 1 h avg over a 1 s
resolution bucket reads 3600× fewer rows from a 1 m rollup.

The rollup stores RE-AGGREGABLE partials, never finished answers:

    (bucket, metric, wts, cnt, sum, sum_sq, min, max, sum_conf)

so every §2.4 aggregate that distributes over unions derives from it:
sum = Σ sum, count = Σ cnt, avg = Σ sum / Σ cnt, min = min(min),
max = max(max), var = Σ sum_sq/n − (Σ sum/n)² (stddev = √var).
Percentiles/median come from the companion HISTOGRAM rollup (exact
per-window value counts — see `build_hist_rollup`); only the
first/last-crossing family still requires raw points.

Layout mirrors the metric store (partition pruning + ts-sorted rows):
    _store/<sf>/rollup_<res>ms/bucket=<b>/metric=<m>/part-*.parquet
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.sources.store import (
    STORE_ROOT,
    current,
    invalidate_load_memo,
    publish,
    read_current,
    session_load_memo,
)

#: window aggregates answerable from the partials
_DISTRIBUTIVE = {"sum", "avg", "min", "max", "count", "variance", "stddev"}


def supports(agg: str) -> bool:
    return agg in _DISTRIBUTIVE


def _rollup_dir(sf_dir: str, res_ms: int) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / f"rollup_{res_ms}ms"


def point_partials(
    points: DataFrame, res_ms: int = 60_000, dims: tuple[str, ...] = ()
) -> DataFrame:
    """Mergeable partials for a batch of points — the SINGLE partials
    aggregation shared by the full build, the incremental merge, and
    (shape-wise) the streaming maintenance path. ``dims`` adds tag
    grouping columns to the partial key (the tagged rollup below).

    DECIMAL sums: source values are fixed-decimal, so partial sums stay
    EXACT — re-aggregated answers are then bit-identical to a raw scan
    (no float-association drift between rollup-path and raw-path
    results). Σx² makes variance/stddev distributive too; 2-decimal
    inputs → 4-decimal squares, still exact in DECIMAL."""
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    dec = F.col("value").cast("decimal(18,2)")
    return (
        points.select("bucket", "metric", *dims, wts, "value", "confidence")
        .groupBy("bucket", "metric", *dims, "wts")
        .agg(
            F.count("value").alias("cnt"),
            F.sum(dec).alias("sum"),
            F.sum(dec * dec).alias("sum_sq"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.sum(F.col("confidence").cast("decimal(18,2)")).alias("sum_conf"),
        )
    )


def _atomic_write(
    partials: DataFrame,
    out: Path,
    part_cols: tuple[str, ...] = ("bucket", "metric"),
    sort_cols: tuple[str, ...] = ("wts",),
    markers: dict[str, str] | None = None,
) -> Path:
    """Publish ``partials`` as a new generation of ``out``
    (store.publish). ``markers`` (e.g. ``{"_WIDTH": "8192"}``) are
    sidecar layout files written INTO the generation before it is
    published: a reader can never observe a ``_SUCCESS``-complete
    store whose marker is missing — a store whose rows were hashed at
    a non-default layout but whose marker fell back to the default
    reads garbage positions silently."""
    laid = (
        partials.repartition(*part_cols)
        if part_cols
        else partials.coalesce(1)
    ).sortWithinPartitions(*sort_cols)
    writer = laid.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)

    def write(gen: Path) -> None:
        writer.parquet(str(gen))
        for name, value in (markers or {}).items():
            (gen / name).write_text(value)

    return publish(out, write)


def _sidecar_markers(store: Path) -> dict[str, str]:
    """The layout-marker sidecar files of an existing store
    (``_WIDTH``, ``_B``, ``_BUCKETS``, …): plain all-uppercase
    ``_``-files other than Spark's ``_SUCCESS``. A rewrite of the
    store (TTL expiry, compaction) MUST carry these through — the rows
    it rewrites were hashed at the marker's layout."""
    return {
        p.name: p.read_text()
        for p in store.glob("_*")
        if p.is_file()
        and p.name != "_SUCCESS"
        and p.name[1:].isupper()
    }


def build_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 60_000, force: bool = False
) -> Path:
    """Materialize the base rollup from the metric store (idempotent;
    published through store.publish like every store)."""
    from dqe_spark.sources.metric_store import load_metrics

    out = _rollup_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    return _atomic_write(point_partials(load_metrics(spark, sf_dir), res_ms), out)


#: canonical column types build_rollup's writer produces — the merge
#: casts back to these so incrementally-rewritten partitions stay
#: schema-identical to untouched ones (mixed decimal widths across
#: parquet footers would poison later reads)
_PARTIAL_TYPES = {
    "cnt": "long", "sum": "decimal(28,2)", "sum_sq": "decimal(38,4)",
    "min": "double", "max": "double", "sum_conf": "decimal(28,2)",
}


def merge_rollup_increment(
    spark: SparkSession,
    new_points: DataFrame,
    sf_dir: str,
    res_ms: int = 60_000,
) -> Path:
    """Fold newly-landed points into the materialized rollup WITHOUT a
    full rebuild: partials are mergeable by construction (cnt/sums add,
    min/max fold), so the update reads and rewrites only the
    (bucket, metric) partitions the increment touches — at 100 TB an
    hourly backfill costs proportional to the new data, not the store.

    Dynamic partition overwrite replaces exactly the affected
    directories; the merged frame is localCheckpoint'ed first so the
    write doesn't read from the path it overwrites. This is the batch
    twin of streaming.stream_rollup_partials (late/backfill data beyond
    the stream's watermark lands here)."""
    invalidate_load_memo()
    out = _rollup_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        build_rollup(spark, sf_dir, res_ms)
        return out
    live = str(current(out))
    inc = point_partials(new_points, res_ms)
    affected = inc.select("bucket", "metric").distinct()
    existing = spark.read.parquet(live).join(
        F.broadcast(affected), ["bucket", "metric"], "left_semi"
    )
    merged = (
        existing.unionByName(inc)
        .groupBy("bucket", "metric", "wts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum_conf").alias("sum_conf"),
        )
        .select(
            "bucket", "metric", "wts",
            *[F.col(c).cast(t).alias(c) for c, t in _PARTIAL_TYPES.items()],
        )
        .localCheckpoint(eager=True)
    )
    (
        merged.repartition("bucket", "metric")
        .sortWithinPartitions("wts")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "metric")
        .parquet(live)
    )
    return out


def cascade_rollup(
    spark: SparkSession,
    sf_dir: str,
    from_res_ms: int = 60_000,
    to_res_ms: int = 3_600_000,
    force: bool = False,
) -> Path:
    """Build a coarser rollup FROM a finer one — partials re-aggregate
    exactly (cnt/sum/sum_sq/sum_conf add; min/max fold), so the
    hierarchy costs one pass over the finer rollup, never a raw scan.
    This is how a 1s→1m→1h→1d ladder stays cheap to maintain at
    100 TB: each level reads only the level below."""
    if to_res_ms % from_res_ms != 0:
        raise ValueError("coarse resolution must be a multiple of the fine one")
    out = _rollup_dir(sf_dir, to_res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    fine = load_rollup(spark, sf_dir, from_res_ms)
    wts = (F.col("wts") - (F.col("wts") % F.lit(to_res_ms))).alias("w2")
    partials = (
        fine.select(
            "bucket", "metric", wts, "cnt", "sum", "sum_sq", "min", "max", "sum_conf"
        )
        .groupBy("bucket", "metric", "w2")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum_conf").alias("sum_conf"),
        )
        .withColumnRenamed("w2", "wts")
    )
    return _atomic_write(partials, out)


def load_rollup(spark: SparkSession, sf_dir: str, res_ms: int = 60_000) -> DataFrame:
    p = _rollup_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        build_rollup(spark, sf_dir, res_ms)
    return read_current(spark, p)


def partial_value_expr(agg: str) -> Column:
    """The merged-partials aggregate expression for one §2.4 window
    aggregate — the SINGLE definition of the partials algebra, shared
    by rollup_window_agg and the DQL compiler's rollup rewrite.

    Sums divide as double AFTER the exact decimal accumulation, so
    both engines perform one identical float division. Variance is
    population variance via `(n·Σx² − (Σx)²) / n²` with the NUMERATOR
    kept in DECIMAL: the naive `Σx²/n − (Σx/n)²` in double suffers
    catastrophic cancellation (a mostly-zero window with one large
    value flips the 3rd decimal vs var_pop). For 2-decimal inputs the
    numerator is an exact scale-4 decimal — one float division at the
    end, clamped at zero for the all-equal-values case. Decimal widths
    are chosen so every intermediate stays ≤ precision 38 (exact, no
    Spark precision-loss rounding) while maximizing the domain:
    |Σv| < 10^16 (sx100 decimal(18,0), squared → (37,0)),
    Σv² < 10^20 (sxx100 decimal(24,0)), n < 10^11 (decimal(11,0));
    n·sxx100 → (36,0), numerator difference → (38,0). With ANSI off a
    width overflow is a SILENT NULL, so these bounds are asserted by
    tests/test_rollup.py::test_partial_variance_wide_domain."""
    if not supports(agg):
        raise ValueError(f"aggregate {agg!r} is not distributive over rollups")
    n = F.sum("cnt")
    sx = F.sum("sum").cast("double")
    # integer-domain 4dp rounding, bit-identical to the raw-scan path
    # (windows.avg4_exact / windows._var_exact): Σv4 = Σv·10⁴ and the
    # v100-unit numerator derive EXACTLY from the decimal partials
    ns = "sum(cnt)"
    s4 = "CAST(CAST(sum(sum) AS DECIMAL(20,2)) * 10000 AS DECIMAL(27,0))"
    q = (
        f"CASE WHEN {s4} >= 0 THEN (2 * {s4} + {ns}) div (2 * {ns}) "
        f"ELSE -((2 * -({s4}) + {ns}) div (2 * {ns})) END"
    )
    avg = F.expr(f"CAST(({q}) AS DOUBLE) / 10000.0")
    sxx100 = "CAST(CAST(sum(sum_sq) AS DECIMAL(24,4)) * 10000 AS DECIMAL(24,0))"
    sx100 = "CAST(CAST(sum(sum) AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))"
    numer = (
        f"(CAST({ns} AS DECIMAL(11,0)) * {sxx100} - {sx100} * {sx100})"
    )
    nsq = f"(CAST({ns} AS DECIMAL(11,0)) * CAST({ns} AS DECIMAL(11,0)))"
    var = F.greatest(
        F.expr(
            f"CAST(((2 * {numer} + {nsq}) div (2 * {nsq})) AS DOUBLE) / 10000.0"
        ),
        F.lit(0.0),
    )
    return {
        "sum": sx,
        "count": n.cast("double"),
        "avg": avg,
        "min": F.min("min"),
        "max": F.max("max"),
        "variance": var,
        "stddev": F.sqrt(var),
    }[agg]


def rewindow(window_ms: int, wts: str = "wts") -> Column:
    """Coarser window-start column over rollup rows."""
    return F.col(wts) - (F.col(wts) % F.lit(window_ms))


def rollup_window_agg(
    rollup: DataFrame,
    window_ms: int,
    agg: str,
    out: str = "value",
    rollup_res_ms: int = 60_000,
    ndigits: int = 4,
) -> DataFrame:
    """Answer a §2.4 window aggregate from rollup partials. The target
    window must be a multiple of the rollup resolution — the planner
    picks the coarsest rollup that divides the window and falls back to
    raw points otherwise."""
    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    g = rollup.select(
        "bucket", "metric", rewindow(window_ms).alias("wts2"),
        "cnt", "sum", "sum_sq", "min", "max",
    ).groupBy("bucket", "metric", "wts2")
    return (
        g.agg(F.round(partial_value_expr(agg), ndigits).alias(out))
        .withColumnRenamed("wts2", "wts")
    )


# ---------------------------------------------------------------------------
# Histogram rollup: exact percentiles from partials.
#
# Source values are fixed 2-decimal, so a per-window count histogram
# keyed by v100 = round(value·100) loses NOTHING — it is the window's
# exact value multiset in mergeable form (counts add across windows
# and levels, like cnt/sum). Percentile/median then derive exactly:
# index = p·(n−1), linear interpolation between the covering values —
# the same definition as Spark's percentile() and DuckDB's
# quantile_cont. Long-form layout (one row per distinct value per
# window) keeps it a plain parquet table with the same partition
# pruning as the other rollups; per-window cardinality is bounded by
# the value domain, not the point count.
# ---------------------------------------------------------------------------


def _hist_dir(sf_dir: str, res_ms: int) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / f"rollup_hist_{res_ms}ms"


def build_hist_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 60_000, force: bool = False
) -> Path:
    from dqe_spark.sources.metric_store import load_metrics

    out = _hist_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    m = load_metrics(spark, sf_dir)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    v100 = F.round(F.col("value") * 100).cast("long").alias("v100")
    partials = (
        m.select("bucket", "metric", wts, v100)
        .groupBy("bucket", "metric", "wts", "v100")
        .agg(F.count("*").alias("cnt"))
    )
    return _atomic_write(partials, out, sort_cols=("wts", "v100"))


def load_hist_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 60_000
) -> DataFrame:
    p = _hist_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        build_hist_rollup(spark, sf_dir, res_ms)
    return read_current(spark, p)


def hist_rollup_percentile(
    hist: DataFrame,
    window_ms: int,
    p: float,
    out: str = "value",
    rollup_res_ms: int = 60_000,
    ndigits: int = 4,
) -> DataFrame:
    """Exact p-percentile per (metric, window) from histogram partials:
    merge counts to the target window, one cumulative-count window pass,
    interpolate between the two covering values. Two shuffles total,
    both keyed (metric, window) — rows in play = distinct values per
    window, not points."""
    from pyspark.sql import Window

    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    c = (
        hist.select("bucket", "metric", rewindow(window_ms).alias("w2"), "v100", "cnt")
        .groupBy("bucket", "metric", "w2", "v100")
        .agg(F.sum("cnt").alias("cnt"))
    )
    grp = ["bucket", "metric", "w2"]
    wcum = (
        Window.partitionBy(*grp)
        .orderBy("v100")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*grp)
    c = (
        c.withColumn("cum", F.sum("cnt").over(wcum))
        .withColumn("n", F.sum("cnt").over(wall))
        .withColumn("pos", F.lit(float(p)) * (F.col("n") - 1))
        .withColumn("lo", F.floor("pos"))
        .withColumn("hi", F.ceil("pos"))
    )
    covers_lo = (F.col("cum") - F.col("cnt") <= F.col("lo")) & (
        F.col("lo") < F.col("cum")
    )
    covers_hi = (F.col("cum") - F.col("cnt") <= F.col("hi")) & (
        F.col("hi") < F.col("cum")
    )
    res = c.groupBy(*grp).agg(
        F.max(F.when(covers_lo, F.col("v100"))).alias("v_lo"),
        F.max(F.when(covers_hi, F.col("v100"))).alias("v_hi"),
        F.first(F.col("pos") - F.col("lo")).alias("frac"),
    )
    # interpolate on the /100 values (quantile_cont's exact shape)
    vlo = F.col("v_lo") / 100.0
    vhi = F.col("v_hi") / 100.0
    val = vlo + F.col("frac") * (vhi - vlo)
    return res.select(
        "bucket",
        "metric",
        F.col("w2").alias("wts"),
        F.round(val, ndigits).alias(out),
    )


# --------------------------------------------------------------- distinct

def _distinct_dir(sf_dir: str, res_ms: int) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / f"rollup_distinct_{res_ms}ms"


def build_distinct_rollup(
    spark: SparkSession,
    sf_dir: str,
    res_ms: int = 3_600_000,
    force: bool = False,
    lg_k: int = 12,
) -> Path:
    """HLL-sketch distinct-count partials per (event_type, window).

    Distinct counts do NOT decompose exactly (|A ∪ B| ≠ |A| + |B|), so
    unlike the scalar rollup there is no exact mergeable partial — the
    scalable answer is an Apache DataSketches HLL binary per cell
    (``hll_sketch_agg``, lgConfigK=12 → ~1.6 % relative std. error,
    ≤4 KB/row). Coarser windows and multi-type unions then merge
    partials with ``hll_union_agg`` — "distinct users per service per
    day over a year" reads partials, never the 100 TB of points.
    Accuracy vs exact is asserted in tests/test_rollup.py."""
    from dqe_spark.sources.metric_store import load_events

    out = _distinct_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    ev = load_events(spark, sf_dir)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    partials = (
        ev.select("event_type", wts, "user_id")
        .groupBy("event_type", "wts")
        .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sketch"))
    )
    return _atomic_write(partials, out, part_cols=("event_type",))


def load_distinct_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 3_600_000
) -> DataFrame:
    p = _distinct_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        build_distinct_rollup(spark, sf_dir, res_ms)
    return read_current(spark, p)


def distinct_rollup_agg(
    sketches: DataFrame,
    window_ms: int,
    rollup_res_ms: int = 3_600_000,
    out: str = "approx_users",
) -> DataFrame:
    """Answer a coarser-window distinct-count query from sketch
    partials: one keyed shuffle over (event_type, window) cells whose
    payload is KB-sized sketches, independent of point count."""
    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    return (
        sketches.select("event_type", rewindow(window_ms).alias("wts"), "sketch")
        .groupBy("event_type", "wts")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(out))
    )


def merge_distinct_increment(
    spark: SparkSession,
    new_events: DataFrame,
    sf_dir: str,
    res_ms: int = 3_600_000,
    lg_k: int = 12,
) -> Path:
    """Fold newly-landed events into the distinct rollup: HLL sketches
    are union-mergeable, so the increment is sketch-agg the new points
    and hll_union_agg against the stored cells — same shape as
    merge_rollup_increment, cost proportional to the new data."""
    invalidate_load_memo()
    out = _distinct_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        build_distinct_rollup(spark, sf_dir, res_ms)
        return out
    live = str(current(out))
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    inc = (
        new_events.select("event_type", wts, "user_id")
        .groupBy("event_type", "wts")
        .agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sketch"))
    )
    touched = inc.select("event_type").distinct()
    existing = spark.read.parquet(live).join(
        F.broadcast(touched), "event_type", "left_semi"
    )
    merged = (
        existing.unionByName(inc)
        .groupBy("event_type", "wts")
        .agg(F.hll_union_agg("sketch", F.lit(True)).alias("sketch"))
        .localCheckpoint(eager=True)
    )
    (
        merged.repartition("event_type")
        .sortWithinPartitions("wts")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(live)
    )
    return out


# ------------------------------------------------- portable distinct

def _pdistinct_dir(sf_dir: str, res_ms: int) -> Path:
    return (
        STORE_ROOT
        / Path(sf_dir.rstrip("/")).name
        / f"rollup_pdistinct_{res_ms}ms"
    )


def build_portable_distinct_rollup(
    spark: SparkSession,
    sf_dir: str,
    res_ms: int = 3_600_000,
    force: bool = False,
) -> Path:
    """Portable-HLL partials per (event_type, window): the
    oracle-replayable twin of build_distinct_rollup (see
    operators/sketches.py for the determinism contract). Stored in the
    PACKED layout — ONE row per cell, (event_type, wts, regs) with
    regs a bucket-sorted sparse array<struct<bucket,r>> — so a serve
    reads one row per cell instead of up to 4,096 register rows
    (round-7 verdict #1). Build is still one groupBy with map-side partial max
    plus a per-cell pack; the register relation stays the interchange
    form (streaming twin, oracles) via sketches.hll_unpack.
    """
    from dqe_spark.operators.sketches import hll_pack, hll_registers
    from dqe_spark.sources.metric_store import load_events

    out = _pdistinct_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    invalidate_retention_memo()
    ev = load_events(spark, sf_dir)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    regs = hll_registers(
        ev.select("event_type", wts, "user_id"),
        ["event_type", "wts"],
        "user_id",
    )
    return _atomic_write(
        hll_pack(regs, ["event_type", "wts"]), out, part_cols=("event_type",)
    )


def load_portable_distinct_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 3_600_000
) -> DataFrame:
    p = _pdistinct_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        build_portable_distinct_rollup(spark, sf_dir, res_ms)

    def _load() -> DataFrame:
        df = spark.read.parquet(str(current(p)))
        # stale on-disk layouts rebuild in place: the pre-round-8
        # register relation (no regs column) and the short-lived dense
        # int-array pack (regs: array<int> not array<struct<bucket,r>>)
        if "regs" not in df.columns or not dict(df.dtypes)[
            "regs"
        ].startswith("array<struct"):
            build_portable_distinct_rollup(spark, sf_dir, res_ms, force=True)
            df = spark.read.parquet(str(current(p)))
        return df

    return session_load_memo(spark, ("store", str(current(p))), _load)


def portable_distinct_agg(
    registers: DataFrame,
    window_ms: int,
    rollup_res_ms: int = 3_600_000,
    out: str = "approx_users",
) -> DataFrame:
    """Coarser-window distinct estimate from PACKED portable-HLL
    partials: one keyed shuffle over (event_type, window) cells — ONE
    array row each, independent of point count. The element-wise
    greatest merge is lossless (max is associative per bucket), so the
    day answer equals a sketch built at day grain directly; the
    estimate is the deterministic expression the DuckDB oracle replays
    bit-for-bit from the register relation (packed and relation forms
    produce identical integers — operators/sketches.py). Physical
    shape: posexplode → map-side partial max → integer Z/V, all
    whole-stage codegen (hll_merge_estimate_packed)."""
    from dqe_spark.operators.sketches import hll_merge_estimate_packed

    if window_ms % rollup_res_ms != 0:
        raise ValueError(
            f"window {window_ms}ms is not a multiple of rollup {rollup_res_ms}ms"
        )
    return hll_merge_estimate_packed(
        registers.select(
            "event_type", rewindow(window_ms).alias("wts"), "regs"
        ),
        ["event_type", "wts"],
        out,
    )


def merge_portable_distinct_increment(
    spark: SparkSession,
    new_events: DataFrame,
    sf_dir: str,
    res_ms: int = 3_600_000,
) -> Path:
    """Fold newly-landed events into the portable packed store:
    sketch + pack the new points, element-wise max-merge against the
    stored cells of the touched event_types — cost proportional to the
    new data, and the result equals a from-scratch rebuild (max is
    idempotent and associative; pinned in tests/test_rollup.py)."""
    invalidate_load_memo()
    from dqe_spark.operators.sketches import (
        hll_merge_packed,
        hll_pack,
        hll_registers,
    )

    out = _pdistinct_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        build_portable_distinct_rollup(spark, sf_dir, res_ms)
        return out
    live = str(current(out))
    invalidate_retention_memo()
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    inc = hll_pack(
        hll_registers(
            new_events.select("event_type", wts, "user_id"),
            ["event_type", "wts"],
            "user_id",
        ),
        ["event_type", "wts"],
    )
    touched = inc.select("event_type").distinct()
    existing = spark.read.parquet(live).join(
        F.broadcast(touched), "event_type", "left_semi"
    )
    merged = hll_merge_packed(
        existing.unionByName(inc), ["event_type", "wts"]
    ).localCheckpoint(eager=True)
    (
        merged.repartition("event_type")
        .sortWithinPartitions("wts")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(live)
    )
    return out


# ----------------------------------------------------------------- tagged

#: tag dimensions carried by the tagged rollup — the view's plain tag
#: columns. At 100 TB these are low-cardinality dims, so the tagged
#: partial count is |metrics| × (observed dim combos) per window — a
#: small constant factor over the plain rollup, bought once at ingest.
TAGGED_DIMS = ("host", "dc", "user")


def _tagged_dir(sf_dir: str, res_ms: int) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / f"rollup_tagged_{res_ms}ms"


def build_tagged_rollup(
    spark: SparkSession,
    sf_dir: str,
    res_ms: int = 60_000,
    force: bool = False,
    dims: tuple[str, ...] = TAGGED_DIMS,
) -> Path:
    """Tagged rollup: the plain partials PLUS the tag dimension
    columns in the key, enabling exact rewrite of window aggregates
    carrying tag WHERE predicates ("avg latency WHERE dc='east' over a
    year") from partials instead of points. Dim predicates stay plain
    column filters → parquet PushedFilters on the partial scan."""
    from dqe_spark.sources.metric_store import load_metrics

    out = _tagged_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    return _atomic_write(
        point_partials(load_metrics(spark, sf_dir), res_ms, dims=dims), out
    )


def cascade_tagged_rollup(
    spark: SparkSession,
    sf_dir: str,
    from_res_ms: int = 60_000,
    to_res_ms: int = 3_600_000,
    force: bool = False,
    dims: tuple[str, ...] = TAGGED_DIMS,
) -> Path:
    """Coarser tagged level cascaded from a finer one — same exact
    re-aggregation as cascade_rollup, with the dims in the key. Each
    ladder level reads only the level below, never raw points."""
    if to_res_ms % from_res_ms != 0:
        raise ValueError("coarse resolution must be a multiple of the fine one")
    out = _tagged_dir(sf_dir, to_res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    fine = load_tagged_rollup(spark, sf_dir, from_res_ms)
    wts = (F.col("wts") - (F.col("wts") % F.lit(to_res_ms))).alias("w2")
    partials = (
        fine.select(
            "bucket", "metric", *dims, wts,
            "cnt", "sum", "sum_sq", "min", "max", "sum_conf",
        )
        .groupBy("bucket", "metric", *dims, "w2")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum_conf").alias("sum_conf"),
        )
        .withColumnRenamed("w2", "wts")
    )
    return _atomic_write(partials, out)


def load_tagged_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 60_000
) -> DataFrame:
    p = _tagged_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        if res_ms % 60_000 == 0 and res_ms > 60_000:
            cascade_tagged_rollup(spark, sf_dir, 60_000, res_ms)
        else:
            build_tagged_rollup(spark, sf_dir, res_ms)
    return read_current(spark, p)


# ------------------------------------------------------------ tagged hist

def _tagged_hist_dir(sf_dir: str, res_ms: int) -> Path:
    return (
        STORE_ROOT
        / Path(sf_dir.rstrip("/")).name
        / f"rollup_tagged_hist_{res_ms}ms"
    )


def build_tagged_hist_rollup(
    spark: SparkSession,
    sf_dir: str,
    res_ms: int = 60_000,
    force: bool = False,
    dims: tuple[str, ...] = TAGGED_DIMS,
) -> Path:
    """Tagged HISTOGRAM rollup: per-window exact value counts (v100 =
    round(value·100), same algebra as build_hist_rollup) with the tag
    dims in the key — closes the one shape the tagged scalar rollup
    cannot serve: tag-filtered percentile/median. A dim WHERE filters
    partials (plain-column PushedFilters), counts then merge across the
    surviving dim combos into the window's exact value multiset.

    Size: |metrics| × observed dim combos × windows × distinct values —
    the most granular ladder level, still bounded by the VALUE DOMAIN
    per window rather than the point count. At 100 TB keep it at the
    base resolution only and answer coarser windows by re-merging
    counts (rewindow), exactly like the plain hist ladder."""
    from dqe_spark.sources.metric_store import load_metrics

    out = _tagged_hist_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    m = load_metrics(spark, sf_dir)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    v100 = F.round(F.col("value") * 100).cast("long").alias("v100")
    partials = (
        m.select("bucket", "metric", *dims, wts, v100)
        .groupBy("bucket", "metric", *dims, "wts", "v100")
        .agg(F.count("*").alias("cnt"))
    )
    return _atomic_write(partials, out, sort_cols=("wts", "v100"))


def load_tagged_hist_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 60_000
) -> DataFrame:
    p = _tagged_hist_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        build_tagged_hist_rollup(spark, sf_dir, res_ms)
    return read_current(spark, p)


# ---------------------------------------------------- incremental merges
#
# Every ladder level is incrementally maintainable — partials are
# mergeable by construction (cnt/sum/sum_sq/sum_conf add, min/max fold,
# histogram counts add), so an hourly backfill rewrites only the
# (bucket, metric) partitions the increment touches: cost proportional
# to the NEW data, never the store. Same dynamic-partition-overwrite +
# localCheckpoint shape as merge_rollup_increment.


def _merge_touched_partitions(
    spark: SparkSession,
    out: Path,
    inc: DataFrame,
    group_cols: list[str],
    agg_exprs: list,
    cast_types: dict[str, str] | None = None,
    sort_cols: tuple[str, ...] = ("wts",),
) -> Path:
    """Shared increment fold: read only the (bucket, metric) partitions
    the increment touches, re-aggregate existing ∪ inc, dynamically
    overwrite exactly those directories."""
    invalidate_load_memo()
    live = str(current(out))
    affected = inc.select("bucket", "metric").distinct()
    existing = spark.read.parquet(live).join(
        F.broadcast(affected), ["bucket", "metric"], "left_semi"
    )
    merged = existing.unionByName(inc).groupBy(*group_cols).agg(*agg_exprs)
    if cast_types:
        merged = merged.select(
            *group_cols,
            *[F.col(c).cast(t).alias(c) for c, t in cast_types.items()],
        )
    merged = merged.localCheckpoint(eager=True)
    (
        merged.repartition("bucket", "metric")
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket", "metric")
        .parquet(live)
    )
    return out


def merge_hist_increment(
    spark: SparkSession,
    new_points: DataFrame,
    sf_dir: str,
    res_ms: int = 60_000,
) -> Path:
    """Fold new points into the HISTOGRAM rollup: per-(window, v100)
    counts simply add."""
    out = _hist_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        return build_hist_rollup(spark, sf_dir, res_ms)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    v100 = F.round(F.col("value") * 100).cast("long").alias("v100")
    inc = (
        new_points.select("bucket", "metric", wts, v100)
        .groupBy("bucket", "metric", "wts", "v100")
        .agg(F.count("*").alias("cnt"))
    )
    return _merge_touched_partitions(
        spark, out, inc,
        ["bucket", "metric", "wts", "v100"],
        [F.sum("cnt").alias("cnt")],
        cast_types={"cnt": "long"},
        sort_cols=("wts", "v100"),
    )


def merge_tagged_increment(
    spark: SparkSession,
    new_points: DataFrame,
    sf_dir: str,
    res_ms: int = 60_000,
    dims: tuple[str, ...] = TAGGED_DIMS,
) -> Path:
    """Fold new points into the TAGGED scalar rollup — the plain
    partial algebra with the dim columns in the key."""
    out = _tagged_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        return build_tagged_rollup(spark, sf_dir, res_ms, dims=dims)
    inc = point_partials(new_points, res_ms, dims=dims)
    return _merge_touched_partitions(
        spark, out, inc,
        ["bucket", "metric", *dims, "wts"],
        [
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.sum("sum_sq").alias("sum_sq"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum_conf").alias("sum_conf"),
        ],
        cast_types=_PARTIAL_TYPES,
    )


def merge_tagged_hist_increment(
    spark: SparkSession,
    new_points: DataFrame,
    sf_dir: str,
    res_ms: int = 60_000,
    dims: tuple[str, ...] = TAGGED_DIMS,
) -> Path:
    """Fold new points into the TAGGED histogram rollup."""
    out = _tagged_hist_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        return build_tagged_hist_rollup(spark, sf_dir, res_ms, dims=dims)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    v100 = F.round(F.col("value") * 100).cast("long").alias("v100")
    inc = (
        new_points.select("bucket", "metric", *dims, wts, v100)
        .groupBy("bucket", "metric", *dims, "wts", "v100")
        .agg(F.count("*").alias("cnt"))
    )
    return _merge_touched_partitions(
        spark, out, inc,
        ["bucket", "metric", *dims, "wts", "v100"],
        [F.sum("cnt").alias("cnt")],
        cast_types={"cnt": "long"},
        sort_cols=("wts", "v100"),
    )


# ------------------------------------------------------------- retention

#: ladder-level directory resolvers retention applies to
_LADDER_DIRS = {
    "rollup": _rollup_dir,
    "hist": _hist_dir,
    "tagged": _tagged_dir,
    "tagged_hist": _tagged_hist_dir,
    "distinct": _distinct_dir,
    "pdistinct": _pdistinct_dir,
    # lambda: _cms_dir is defined below this table (the CMS section)
    "cms": lambda sf_dir, res_ms: _cms_dir(sf_dir, res_ms),
}

#: ladders keyed by event_type instead of (bucket, metric)
_EVENT_LADDERS = {"distinct", "pdistinct", "cms"}


def expire_rollup_before(
    spark: SparkSession,
    sf_dir: str,
    cutoff_ms: int,
    res_ms: int,
    ladder: str = "rollup",
) -> Path | None:
    """TTL for a ladder level: drop every partial window strictly older
    than the cutoff (aligned DOWN to the level's resolution, so a
    window containing the cutoff is always kept).

    The ladder stores partition by (bucket, metric) — time spans every
    partition, so retention here is a filter-rewrite of the whole
    level. That is the DESIGN POINT, not a compromise: rollups are the
    long-horizon store (raw points expire first via the metric store's
    partition-unlink `expire_before`; each ladder level is 60–1440×
    smaller than the level below), so the typical TTL ladder — raw 30d,
    1m one year, 1h forever — rewrites only the small stores and
    unlinks the big one. Published as a new generation, same as the
    builders. Returns the store path, or None if the level does not
    exist."""
    # a live session may hold checkpointed day registers built from
    # the pre-expiry pdistinct store — drop them too, or retention
    # keeps serving windows that were just TTL-expired
    invalidate_retention_memo()
    if ladder not in _LADDER_DIRS:
        raise ValueError(f"unknown ladder {ladder!r}: {sorted(_LADDER_DIRS)}")
    out = _LADDER_DIRS[ladder](sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        return None
    aligned = cutoff_ms - (cutoff_ms % res_ms)
    kept = spark.read.parquet(str(current(out))).where(F.col("wts") >= aligned)
    part_cols = (
        ("event_type",) if ladder in _EVENT_LADDERS else ("bucket", "metric")
    )
    sort_cols = ("wts", "v100") if ladder.endswith("hist") else ("wts",)
    return _atomic_write(
        kept,
        out,
        part_cols=part_cols,
        sort_cols=sort_cols,
        # carry the layout markers (CMS _WIDTH) through the rewrite:
        # the kept rows were hashed at that layout, and losing the
        # marker would fall every later probe back to the floor width
        markers=_sidecar_markers(out),
    )


# ----------------------------------------------------- CMS frequency

def _cms_dir(sf_dir: str, res_ms: int) -> Path:
    return (
        STORE_ROOT / Path(sf_dir.rstrip("/")).name / f"rollup_cms_{res_ms}ms"
    )


def _cms_watch_dir(sf_dir: str) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / "cms_watchlist"


#: watchlist size: the serving probe set is deliberately tiny — a
#: monitoring caller brings a bounded key set, never "all keys".
CMS_WATCH_K = 20


def cms_width(sf_dir: str, res_ms: int = 3_600_000) -> int:
    """The counter width the on-disk CMS store was hashed with — read
    from its ``_WIDTH`` marker (a pre-marker store is the legacy fixed
    CMS_W layout). Every probe and every oracle replay MUST use this
    width: positions are h mod W, so a width mismatch reads garbage
    counters, the same contract as gram_store's _BUCKETS marker."""
    from dqe_spark.operators.sketches import CMS_W

    marker = _cms_dir(sf_dir, res_ms) / "_WIDTH"
    return int(marker.read_text()) if marker.exists() else CMS_W


def build_cms_rollup(
    spark: SparkSession,
    sf_dir: str,
    res_ms: int = 3_600_000,
    force: bool = False,
    w: int | None = None,
) -> Path:
    """Portable Count-Min partials per (event_type, window) over
    user_id — the frequency member of the sketch ladder (HLL =
    distinct, HDR histogram = percentile, CMS = per-key count).
    Stored as the counter relation (event_type, wts, d, pos, c):
    ≤ D·W rows per cell by construction, ∝ D·active-users below that
    — at hourly grain the relation IS sparse, so the HLL round-7
    packing lesson doesn't bite a serve here. Merges to any coarser
    window by SUM (lossless for the additive semantic).

    ``w=None`` AUTO-SIZES the width from the heaviest cell's event
    count (sketches.auto_cms_width: mean counter load ≤
    CMS_TARGET_LOAD, so the εN overshoot is an absolute budget at any
    corpus size — round-8 "What's missing" #1, the last
    fixed-parameter sketch). The sizing pass is one map-side-combined
    count over (event_type, wts) — |cells| output rows. The chosen
    width is pinned in the store's ``_WIDTH`` marker."""
    from dqe_spark.operators.sketches import auto_cms_width, cms_registers
    from dqe_spark.sources.metric_store import load_events

    out = _cms_dir(sf_dir, res_ms)
    if not force and (out / "_SUCCESS").exists():
        return out
    ev = load_events(spark, sf_dir)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    src = ev.select("event_type", wts, "user_id")
    if w is None:
        n_max = (
            src.where(F.col("user_id").isNotNull())
            .groupBy("event_type", "wts")
            .count()
            .agg(F.max("count"))
            .first()[0]
        )
        w = auto_cms_width(int(n_max or 0))
    regs = cms_registers(src, ["event_type", "wts"], "user_id", w=w)
    # _WIDTH is published inside the generation (the _B pattern of
    # build_dsir_model): a crash can never leave a _SUCCESS-complete
    # auto-width store that reads back at the floor
    return _atomic_write(
        regs, out, part_cols=("event_type",), markers={"_WIDTH": str(w)}
    )


def build_cms_watchlist(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> Path:
    """The bounded probe set a CMS serve answers for: the top-K users
    by exact total event count at BUILD time (ties broken by smaller
    user_id — fully deterministic, so the oracle reselects the same
    set). Built once alongside the sketch store; a production caller
    would land its own watchlist instead."""
    from dqe_spark.sources.metric_store import load_events

    out = _cms_watch_dir(sf_dir)
    if not force and (out / "_SUCCESS").exists():
        return out
    ev = load_events(spark, sf_dir)
    top = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id").asc())
        .limit(CMS_WATCH_K)
        .select("user_id")
    )
    return _atomic_write(top, out, part_cols=(), sort_cols=("user_id",))


def load_cms_rollup(
    spark: SparkSession, sf_dir: str, res_ms: int = 3_600_000
) -> DataFrame:
    p = _cms_dir(sf_dir, res_ms)
    if not (p / "_SUCCESS").exists():
        build_cms_rollup(spark, sf_dir, res_ms)
    return read_current(spark, p)


def load_cms_watchlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _cms_watch_dir(sf_dir)
    if not (p / "_SUCCESS").exists():
        build_cms_watchlist(spark, sf_dir)
    return read_current(spark, p)


def merge_cms_increment(
    spark: SparkSession,
    new_events: DataFrame,
    sf_dir: str,
    res_ms: int = 3_600_000,
) -> Path:
    """Fold newly-landed events into the CMS store: sketch the new
    points AT THE STORED WIDTH, SUM-merge against the stored counters
    of the touched event_types — cost proportional to the new data,
    result equals a from-scratch rebuild (counts are additive; pinned
    in tests/test_cms.py). Same touched-partition dynamic-overwrite
    contract as every other ladder.

    Width migration: if the merged store's heaviest cell outgrows the
    stored width's load budget, the store is LOUDLY rebuilt at the
    wider layout — counters hashed mod W cannot be re-hashed to 2W,
    so unlike gram_store's rebucket this migration goes back to the
    events source of record (then re-folds the in-hand increment).
    The check reads per-cell totals from the d=0 counter row (Σc over
    one hash row IS the cell's event count — no raw scan)."""
    invalidate_load_memo()
    from dqe_spark.operators.sketches import (
        auto_cms_width,
        cms_merge,
        cms_registers,
    )

    out = _cms_dir(sf_dir, res_ms)
    if not (out / "_SUCCESS").exists():
        build_cms_rollup(spark, sf_dir, res_ms)
        return out
    live = str(current(out))
    w = cms_width(sf_dir, res_ms)
    wts = (F.col("ts_ms") - (F.col("ts_ms") % F.lit(res_ms))).alias("wts")
    inc = cms_registers(
        new_events.select("event_type", wts, "user_id"),
        ["event_type", "wts"],
        "user_id",
        w=w,
    )
    touched = inc.select("event_type").distinct()
    existing = spark.read.parquet(live).join(
        F.broadcast(touched), "event_type", "left_semi"
    )
    merged = cms_merge(
        existing.unionByName(inc), ["event_type", "wts"]
    ).localCheckpoint(eager=True)
    n_max = (
        merged.where(F.col("d") == 0)
        .groupBy("event_type", "wts")
        .agg(F.sum("c").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    want = auto_cms_width(int(n_max or 0))
    if want > w:
        print(
            f"[rollup] CMS store {out} width {w} under-sized for its "
            f"heaviest cell ({n_max} events): rebuilding at width {want} "
            "from the events source + this increment (counters cannot "
            "re-hash across widths)"
        )
        build_cms_rollup(spark, sf_dir, res_ms, force=True, w=want)
        return merge_cms_increment(spark, new_events, sf_dir, res_ms)
    (
        merged.repartition("event_type")
        .sortWithinPartitions("wts")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(live)
    )
    return out


#: per-session memo of the checkpointed day-register/day-estimate
#: relations: they are a pure function of (application, store dir) and
#: sketch-bounded (≤ m rows per day cell), so repeated retention
#: serves — any horizon — skip the unpack+merge+checkpoint the first
#: call paid. Keyed by applicationId so a new session never sees a
#: dead checkpoint; invalidated by the store builders/mergers below.
_DREG_MEMO: dict[tuple, tuple[DataFrame, DataFrame]] = {}


def invalidate_retention_memo() -> None:
    """Drop memoized day registers — called whenever the portable
    distinct store changes under a live session (rebuild, increment),
    so a serve never reads a stale checkpoint."""
    _DREG_MEMO.clear()


def portable_retention_1d(
    spark: SparkSession,
    sf_dir: str,
    offset_days: int = 1,
    checkpoint: bool = True,
) -> DataFrame:
    """Day-over-day returning-user estimates from the packed
    portable-HLL store alone (the engine body of the
    rollup_retention_1d_serve registry query and the DQL
    ``retention()`` front door): day registers by max-merge, the
    union sketch per consecutive-day pair via an exploded pair key,
    then inclusion–exclusion on the rounded estimates, clamped at 0.
    ``offset_days`` sets the horizon: 1 = day-over-day, 7 = weekly
    return rate — the pair key just explodes with a different stride,
    so every horizon costs the same three register folds.
    Output: (event_type, day1, day2, day1_users, day2_users,
    union_users, returning_users, retention_bp). No raw-events scan —
    register algebra end to end (see operators/sketches.py for why
    every number replays bit-exact in DuckDB)."""
    from dqe_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_unpack,
    )

    DAY = 86_400_000
    # the day-register relation feeds FOUR consumers (two day-estimate
    # sides and the pair union); without a materialization barrier
    # Spark recomputes the unpack+merge per branch (14 exchanges
    # measured). Registers are sketch-bounded (≤ m rows per day cell
    # at ANY corpus size), so an eager localCheckpoint is safe and
    # keeps the serve one store read. The checkpointed relations are
    # memoized per (application, store dir): a warm serve pays only
    # the pair-key folds, not the unpack+merge — any offset_days
    # horizon shares the same memo entry (the horizon only enters at
    # the pair explode below).
    # ``checkpoint=False`` keeps full lineage in the plan so the
    # serving-path guard can assert store-only scans; the default
    # serves through the barriers.
    memo_key = (
        spark.sparkContext.applicationId,
        str(current(_pdistinct_dir(sf_dir, 3_600_000))),
    )
    if checkpoint and memo_key in _DREG_MEMO:
        dreg, dest = _DREG_MEMO[memo_key]
    else:
        sk = load_portable_distinct_rollup(spark, sf_dir, 3_600_000)
        hreg = hll_unpack(sk, ["event_type", "wts"])
        _bar = (
            (lambda df: df.localCheckpoint(eager=True))
            if checkpoint
            else (lambda df: df)
        )
        dreg = _bar(
            hll_merge(
                hreg.withColumn(
                    "wts", F.col("wts") - F.col("wts") % F.lit(DAY)
                ),
                ["event_type", "wts"],
            )
        )
        dest = _bar(
            hll_estimate(dreg, ["event_type", "wts"], "approx_users")
        )
        if checkpoint:
            _DREG_MEMO[memo_key] = (dreg, dest)
    OFF = offset_days * DAY
    preg = hll_merge(
        dreg.select(
            "event_type",
            F.explode(
                F.array(F.col("wts"), F.col("wts") - F.lit(OFF))
            ).alias("p"),
            "bucket",
            "r",
        ),
        ["event_type", "p"],
    )
    pest = hll_estimate(preg, ["event_type", "p"], "union_users")
    d1 = dest.select(
        "event_type",
        F.col("wts").alias("day1"),
        F.col("approx_users").alias("day1_users"),
    )
    d2 = dest.select(
        "event_type",
        (F.col("wts") - F.lit(OFF)).alias("day1"),
        F.col("approx_users").alias("day2_users"),
    )
    ret = F.greatest(
        F.col("day1_users") + F.col("day2_users") - F.col("union_users"),
        F.lit(0).cast("long"),
    )
    return (
        d1.join(d2, ["event_type", "day1"])
        .join(pest.withColumnRenamed("p", "day1"), ["event_type", "day1"])
        .select(
            "event_type",
            "day1",
            (F.col("day1") + F.lit(OFF)).alias("day2"),
            "day1_users",
            "day2_users",
            "union_users",
            ret.alias("returning_users"),
            # greatest(.., 1): if sketch noise ever rounds a day
            # estimate to 0, Spark's div would yield NULL while
            # DuckDB's // raises — guard BOTH dialects identically so
            # the degenerate cell stays hash-comparable.
            F.expr(
                "greatest(day1_users + day2_users - union_users, "
                "CAST(0 AS BIGINT)) * 10000 div greatest(day1_users, 1)"
            ).alias("retention_bp"),
        )
    )
