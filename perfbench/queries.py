"""Seeded DQL query mixes and their DuckDB restatements.

Each query is a ``Query``: the DQL text, whether it runs with
``use_rollups``, the engine output columns to compare, and the same
computation written as DuckDB SQL over ``METRICS_ORACLE_CTE`` (the
engine's own events-to-metrics mapping, restated in SQL). All ranges
are hour-aligned, so every rollup-eligible query can take the rewrite.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from datagen import DAY_MS, DAYS, EVENT_TYPES, HOUR_MS, JAN1_MS

from dqe_spark.sources.metric_store import METRICS_ORACLE_CTE as P

#: exact 4-decimal average, as the engine computes it (integer
#: arithmetic in 1e-4 units, rounded half away from zero)
EXACT_AVG = (
    "CAST((CASE WHEN sum(CAST(round(value * 10000) AS HUGEINT)) >= 0 "
    "THEN (2 * sum(CAST(round(value * 10000) AS HUGEINT)) + count(value)) // (2 * count(value)) "
    "ELSE -((2 * -(sum(CAST(round(value * 10000) AS HUGEINT))) + count(value)) // (2 * count(value))) "
    "END) AS DOUBLE) / 10000.0"
)
AGG_SQL = {
    "avg": EXACT_AVG,
    "sum": "round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)",
    "max": "round(max(value), 4)",
}
WINDOW_MS = {"1m": 60_000, "5m": 300_000, "1h": HOUR_MS}
SERIES = ("metric", "ts_ms", "value")


@dataclass(frozen=True)
class Query:
    label: str
    dql: str
    rollups: bool
    cols: tuple[str, ...]
    oracle: str


def _range(rng: random.Random, hours: int, first_day: int = 1) -> tuple[int, int]:
    last_start = DAYS * 24 - hours
    start = JAN1_MS + rng.randrange(first_day * 24, last_start + 1) * HOUR_MS
    return start, start + hours * HOUR_MS


def _between(s: int, e: int) -> str:
    return f"BETWEEN {s} AND {e}"


def _in_range(s: int, e: int) -> str:
    return f"ts_ms >= {s} AND ts_ms < {e}"


def _windowed(agg_sql: str, w: str, where: str) -> str:
    wm = WINDOW_MS[w]
    return P + (
        f"SELECT metric, (ts_ms // {wm}) * {wm} AS ts_ms, {agg_sql} AS value "
        f"FROM metrics WHERE {where} GROUP BY 1, 2"
    )


def series(rng, agg: str, w: str, hours: int, rollups: bool, glob: bool = False) -> Query:
    m = rng.choice(EVENT_TYPES)
    s, e = _range(rng, hours)
    sel = "'events'.*" if glob else f"'events'.'{m}'"
    pred = "metric LIKE 'events.%'" if glob else f"metric = 'events.{m}'"
    return Query(
        f"{agg}_{w}{'_glob' if glob else ''}",
        f"SELECT {agg}({sel} BUCKET 'events', {w}) {_between(s, e)}",
        rollups,
        SERIES,
        _windowed(AGG_SQL[agg], w, f"{pred} AND {_in_range(s, e)}"),
    )


def percentile(rng, p: float, w: str, hours: int, rollups: bool, glob: bool = False) -> Query:
    m = rng.choice(EVENT_TYPES)
    s, e = _range(rng, hours)
    sel = "'events'.*" if glob else f"'events'.'{m}'"
    pred = "metric LIKE 'events.%'" if glob else f"metric = 'events.{m}'"
    return Query(
        f"p{int(p * 100)}_{w}{'_glob' if glob else ''}",
        f"SELECT percentile({sel} BUCKET 'events', {p}, {w}) {_between(s, e)}",
        rollups,
        SERIES,
        _windowed(f"round(quantile_cont(value, {p}), 4)", w, f"{pred} AND {_in_range(s, e)}"),
    )


def tag_where(rng, agg: str, w: str, hours: int) -> Query:
    """A dim-only tag predicate, which the tagged rollup answers."""
    m = rng.choice(EVENT_TYPES)
    dc = rng.choice(("east", "west"))
    s, e = _range(rng, hours)
    return Query(
        f"{agg}_{w}_where",
        f"SELECT {agg}('events'.'{m}' FROM 'events' WHERE 'dc' = '{dc}', {w}) {_between(s, e)}",
        True,
        SERIES,
        _windowed(AGG_SQL[agg], w, f"metric = 'events.{m}' AND dc = '{dc}' AND {_in_range(s, e)}"),
    )


def group_by(rng, w: str, hours: int, tags: tuple[str, ...] = ("host",)) -> Query:
    m = rng.choice(EVENT_TYPES)
    s, e = _range(rng, hours)
    wm = WINDOW_MS[w]
    by = ", ".join(f"$'{t}'" for t in tags)
    keys = ", ".join(tags)
    return Query(
        f"group_{'_'.join(tags)}_{w}",
        f"SELECT avg('events'.'{m}' FROM 'events' GROUP BY {by} USING avg, {w}) {_between(s, e)}",
        False,
        (*(f"g_{t}" for t in tags), "ts_ms", "value"),
        P
        + f"SELECT {keys}, (ts_ms // {wm}) * {wm} AS ts_ms, {EXACT_AVG} AS value "
        f"FROM metrics WHERE metric = 'events.{m}' AND {_in_range(s, e)} "
        f"GROUP BY {', '.join(str(i) for i in range(1, len(tags) + 2))}",
    )


def quotient(rng, hours: int) -> Query:
    a, b = rng.sample(EVENT_TYPES, 2)
    s, e = _range(rng, hours)

    def side(m: str) -> str:
        return (
            f"SELECT (ts_ms // 60000) * 60000 AS wts, {EXACT_AVG} AS value FROM metrics "
            f"WHERE metric = 'events.{m}' AND {_in_range(s, e)} GROUP BY 1"
        )

    return Query(
        "quotient_1m",
        f"SELECT avg('events'.'{a}' BUCKET 'events', 1m) / "
        f"avg('events'.'{b}' BUCKET 'events', 1m) {_between(s, e)}",
        False,
        ("ts_ms", "value"),
        P
        + f", a AS ({side(a)}), b AS ({side(b)}) "
        "SELECT a.wts AS ts_ms, "
        "round(a.value / CASE WHEN b.value = 0 THEN 1.0 ELSE b.value END, 4) AS value "
        "FROM a JOIN b USING (wts)",
    )


def shifted(rng, hours: int) -> Query:
    m = rng.choice(EVENT_TYPES)
    s, e = _range(rng, hours)
    return Query(
        "shift_1d_1h",
        f"SELECT avg('events'.'{m}' BUCKET 'events' SHIFT BY 1d, 1h) {_between(s, e)}",
        False,
        SERIES,
        P
        + f"SELECT metric, ((ts_ms + {DAY_MS}) // {HOUR_MS}) * {HOUR_MS} AS ts_ms, "
        f"{EXACT_AVG} AS value FROM metrics WHERE metric = 'events.{m}' "
        f"AND {_in_range(s - DAY_MS, e - DAY_MS)} GROUP BY 1, 2",
    )


def top_k(rng, hours: int) -> Query:
    top = rng.random() < 0.5
    s, e = _range(rng, hours)
    order = "DESC" if top else "ASC"
    return Query(
        f"{'top' if top else 'bottom'}2_1h",
        f"SELECT avg('events'.* BUCKET 'events', 1h) {_between(s, e)} "
        f"{'TOP' if top else 'BOTTOM'} 2 BY avg",
        False,
        SERIES,
        P
        + f", w AS (SELECT metric, (ts_ms // {HOUR_MS}) * {HOUR_MS} AS wts, "
        f"{EXACT_AVG} AS value FROM metrics WHERE {_in_range(s, e)} GROUP BY 1, 2), "
        "winners AS (SELECT metric FROM w GROUP BY metric "
        f"ORDER BY avg(value) {order}, metric ASC LIMIT 2) "
        "SELECT metric, wts AS ts_ms, value FROM w "
        "WHERE metric IN (SELECT metric FROM winners)",
    )


def events(rng, hours: int) -> Query:
    t = rng.choice(EVENT_TYPES)
    k = rng.randrange(20, 80)
    s, e = _range(rng, hours)
    return Query(
        "events_where",
        f"SELECT EVENTS FROM 'events' WHERE 'event_type' == '{t}' AND 'k' > {k} "
        f"{_between(s, e)}",
        False,
        ("event_id", "ts_ms", "value"),
        "SELECT event_id, epoch_ns(ts) // 1000000 AS ts_ms, value FROM events "
        f"WHERE event_type = '{t}' AND CAST(json_extract_string(props, '$.k') AS BIGINT) > {k} "
        f"AND epoch_ns(ts) // 1000000 >= {s} AND epoch_ns(ts) // 1000000 < {e}",
    )


def points(rng, hours: int) -> Query:
    m = rng.choice(EVENT_TYPES)
    host = f"h{rng.randrange(3)}"
    s, e = _range(rng, hours)
    return Query(
        "raw_points",
        f"SELECT 'events'.'{m}' FROM 'events' WHERE 'host' = '{host}' {_between(s, e)}",
        False,
        SERIES,
        P
        + "SELECT metric, ts_ms, round(value, 4) AS value FROM metrics "
        f"WHERE metric = 'events.{m}' AND host = '{host}' AND {_in_range(s, e)}",
    )


def dashboard_mix(seed: int) -> list[Query]:
    """Ten short dashboard queries over the sf0.1 store; three of them
    (about a third) run with ``use_rollups=True``."""
    rng = random.Random(f"dashboard:{seed}")
    return [
        series(rng, "avg", "1m", 6, False),
        series(rng, "sum", "5m", 24, True),
        percentile(rng, 0.99, "1h", 7 * 24, True),
        series(rng, "max", "5m", 24, False, glob=True),
        tag_where(rng, "avg", "1h", 3 * 24),
        group_by(rng, "1m", 6),
        quotient(rng, 6),
        shifted(rng, 3 * 24),
        top_k(rng, 3 * 24),
        events(rng, 24),
    ]


def scan_mix(seed: int) -> list[Query]:
    """Long-range raw-resolution queries over the 10x events store,
    with fine windows so execution and result collection dominate."""
    rng = random.Random(f"scan:{seed}")
    return [
        percentile(rng, 0.99, "5m", 28 * 24, False, glob=True),
        series(rng, "max", "1m", 7 * 24, False, glob=True),
        series(rng, "sum", "1h", 28 * 24, False, glob=True),
        group_by(rng, "5m", 14 * 24, ("host", "dc")),
        points(rng, 3 * 24),
        percentile(rng, 0.5, "1m", 7 * 24, False),
    ]


def sequence(queries: list, seed: int, n: int) -> list[int]:
    """The closed-loop order: ``n`` indices into ``queries``, each
    block of len(queries) a fresh seeded shuffle."""
    rng = random.Random(f"order:{seed}")
    out: list[int] = []
    while len(out) < n:
        block = list(range(len(queries)))
        rng.shuffle(block)
        out.extend(block)
    return out[:n]
