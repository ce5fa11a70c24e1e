"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen  # noqa: E402
import oracle  # noqa: E402
import queries as Q  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from stats import tail  # noqa: E402


def test_tail_keeps_ten_samples_above():
    xs = [float(i) for i in range(100)]
    value, pct, above = tail(list(reversed(xs)))
    assert (value, pct, above) == (89.0, 90.0, 10)
    assert sum(x > value for x in xs) == 10


def test_tail_smallest_sample_count_with_a_percentile():
    value, pct, above = tail([5.0] + [1.0] * 10)
    assert (value, above) == (1.0, 10)
    assert round(pct, 2) == round(100 / 11, 2)


def test_tail_falls_back_to_max_when_too_few_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_same_seed_same_queries_and_batches():
    for mix in (Q.dashboard_mix, Q.scan_mix):
        assert mix(7) == mix(7)
        assert [q.dql for q in mix(7)] != [q.dql for q in mix(8)]
    assert Q.sequence(list(range(5)), 3, 12) == Q.sequence(list(range(5)), 3, 12)
    assert Q.sequence(list(range(5)), 3, 12) != Q.sequence(list(range(5)), 4, 12)
    h1, b1 = datagen.ingest_batch(7, 1, 100)
    h2, b2 = datagen.ingest_batch(7, 1, 100)
    assert h1 == h2 and b1.equals(b2)
    h3, b3 = datagen.ingest_batch(8, 1, 100)
    assert (h1, b1.column("value")) != (h3, b3.column("value"))


def test_same_seed_same_tables():
    for gen in (datagen.events, datagen.documents, datagen.embeddings):
        assert gen(7, 300).equals(gen(7, 300))
        assert not gen(7, 300).equals(gen(8, 300))


def test_dashboard_mix_rollup_share():
    mix = Q.dashboard_mix(1)
    assert 0.25 <= sum(q.rollups for q in mix) / len(mix) <= 0.4
    for q in mix:
        assert "WITH metrics AS" in q.oracle or q.label == "events_where"


def test_oracle_flags_a_wrong_row():
    want = [("events.click", 60_000, 11985.04), ("events.view", 60_000, 3.5)]
    assert oracle.mismatch(list(reversed(want)), want) is None
    assert oracle.mismatch([("events.click", 60_000, 11985.04 + 1e-5), want[1]], want) is None
    stale = [("events.click", 60_000, 1985.04), want[1]]
    assert "expected" in oracle.mismatch(stale, want)
    assert oracle.mismatch(want[:1], want) == "1 rows, expected 2"
    assert oracle.mismatch([("events.view", 60_000, None)], [("events.view", 60_000, 0.0)])


def test_oracle_against_duckdb(tmp_path):
    datagen.write(datagen.events(3, 2_000), tmp_path / "events.parquet")
    con = oracle.connect(str(tmp_path), ("events",))
    sql = "SELECT event_type, count(*) FROM events GROUP BY 1"
    rows = con.execute(sql).fetchall()
    assert oracle.mismatch(rows, con.execute(sql).fetchall()) is None
    wrong = [(t, n + 1) if i == 0 else (t, n) for i, (t, n) in enumerate(rows)]
    assert oracle.mismatch(wrong, rows) is not None


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.query_id = "q0"
    with tr.span("query"):
        with tr.span("engine.plan"):
            tr.py4j += 3
            with tr.span("dql.parser.parse"):
                tr.py4j += 2
        with tr.span("exec.collect"):
            pass
    st = {s["name"]: s for s in self_times(tr.spans)}
    q = st["query"]
    kids = st["engine.plan"]["dur"] + st["exec.collect"]["dur"]
    assert abs(q["self"] - (q["dur"] - kids)) < 1e-12
    assert st["engine.plan"]["py4j"] == 5 and st["engine.plan"]["py4j_self"] == 3
    assert all(s["query"] == "q0" for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("query"):
        pass
    assert tr.spans == []


def test_benchmark_json_matches_printed_metrics():
    import json

    import run

    b = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(run.SETUP_ROUNDS)
