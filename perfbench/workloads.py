"""The benchmark's workloads: inputs, set-up, operations and checks.

A workload owns one data directory (``.perfbench/data/perfbench_<name>``)
and, because the engine derives store paths from that directory's
name, the store tree ``_store/perfbench_<name>``. Both are deleted and
rebuilt on every set-up round, so no run ever sees another run's (or
another seed's) stores, and the ``_store/sf0.*`` trees the tests use
are never touched.
"""

from __future__ import annotations

import random
import shutil
import time
from statistics import median
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import datagen
import oracle
import queries as Q


@dataclass
class Op:
    """One checked operation. ``run`` is the timed call and returns
    (result DataFrames, raw result); ``rows`` turns the raw result into
    tuples after the clock stopped; ``check`` maps those to None or a
    mismatch reason. ``ok`` and ``n_rows`` hold the outcome of the
    check, which timed repeats are held to."""

    label: str
    run: Callable[[], tuple[list, object]]
    rows: Callable[[object], list[tuple]]
    check: Callable[[list[tuple]], str | None]
    ok: bool = True
    n_rows: int = -1


def _engine_op(label: str, spark, dql: str, sf_dir: str, rollups: bool, cols, check) -> Op:
    from dqe_spark import engine

    def run():
        out = engine.collect(spark, dql, sf_dir, use_rollups=rollups)
        return [res.df for res, _ in out], out

    def rows(out):
        return [tuple(r[c] for c in cols) for _, rs in out for r in rs]

    return Op(label, run, rows, check)


@dataclass
class Workload:
    name: str
    root: Path
    seed: int

    @property
    def sf_dir(self) -> str:
        return str(self.root / ".perfbench" / "data" / f"perfbench_{self.name}")

    def store_dir(self) -> Path:
        from dqe_spark.sources.store import STORE_ROOT

        return STORE_ROOT / f"perfbench_{self.name}"

    def clean(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        shutil.rmtree(self.store_dir(), ignore_errors=True)

    # overridden per workload
    def data(self) -> None: ...

    def stores(self, spark) -> None: ...

    def ops(self, spark, tracer) -> list[Op]:
        return []


def _dql_op(spark, sf_dir: str, q: Q.Query, con) -> Op:
    def check(rows):
        return oracle.mismatch(rows, con.execute(q.oracle).fetchall())

    return _engine_op(q.label, spark, q.dql, sf_dir, q.rollups, q.cols, check)


def _metric_stores(spark, sf: str) -> None:
    """The metric store plus every rollup the DQL rewrite reads: the
    1m plain, histogram, tagged and tagged-histogram levels and the 1h
    levels cascaded from them."""
    from dqe_spark.sources import rollup, store

    store.ingest(spark, sf, force=True)
    for build in (
        rollup.build_rollup,
        rollup.build_hist_rollup,
        rollup.build_tagged_rollup,
        rollup.build_tagged_hist_rollup,
    ):
        build(spark, sf, 60_000, force=True)
    rollup.cascade_rollup(spark, sf, 60_000, 3_600_000, force=True)
    rollup.cascade_tagged_rollup(spark, sf, 60_000, 3_600_000, force=True)


class Dashboard(Workload):
    """Short dashboard queries over the sf0.1 store; a third of them
    through the rollup rewrite."""

    mix = staticmethod(Q.dashboard_mix)

    def data(self):
        d = Path(self.sf_dir)
        datagen.write(datagen.events(self.seed), d / "events.parquet")

    def stores(self, spark):
        from dqe_spark.sources import store

        _metric_stores(spark, self.sf_dir)
        store.ingest_events(spark, self.sf_dir, force=True)

    def ops(self, spark, tracer):
        con = oracle.connect(self.sf_dir, ("events",))
        return [_dql_op(spark, self.sf_dir, q, con) for q in self.mix(self.seed)]


class Scan(Dashboard):
    """Long-range raw-resolution queries over the 10x events store."""

    mix = staticmethod(Q.scan_mix)

    def data(self):
        base = Path(self.sf_dir) / "base"
        datagen.write(datagen.events(self.seed), base / "events.parquet")
        datagen.replicate_events(self.root, base, Path(self.sf_dir))
        shutil.rmtree(base)

    def stores(self, spark):
        from dqe_spark.sources import store

        store.ingest(spark, self.sf_dir, force=True)


CORPUS_QUERIES = (
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "neardup_hybrid",
    "text_quality",
    "knn_srp",
)


class Corpus(Workload):
    """One pass of the training-data pipeline over documents and
    embeddings, each operator as its registry query."""

    def data(self):
        d = Path(self.sf_dir)
        datagen.write(datagen.documents(self.seed), d / "documents.parquet")
        datagen.write(datagen.embeddings(self.seed), d / "embeddings.parquet")

    def ops(self, spark, tracer):
        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        con = oracle.connect(self.sf_dir, ("documents", "embeddings"))
        order = list(CORPUS_QUERIES)
        random.Random(f"corpus:{self.seed}").shuffle(order)
        out = []
        for name in order:

            def run(name=name):
                with tracer.span("engine.plan"):
                    df = queries[name](spark, self.sf_dir)
                with tracer.span("exec.collect"):
                    return [df], df.collect()

            def check(rows, name=name):
                return oracle.mismatch(rows, con.execute(oracles[name]).fetchall())

            out.append(Op(name, run, lambda rs: [tuple(r) for r in rs], check))
        return out


class Ingest(Workload):
    """Hourly batches landing in a store that is read back at once:
    each cycle appends a late batch inside an existing hour, rebuilds
    the metric store, folds the batch into every 1m rollup, then reads
    the batch's hour at 1m and 1h through the raw store and through
    the rollups and checks each answer against sums of the rows the
    benchmark itself wrote."""

    def data(self):
        d = Path(self.sf_dir) / "events.parquet"
        ev = datagen.events(self.seed)
        datagen.write(ev, d / "part-00000.parquet")
        self.rows = [ev]

    def stores(self, spark):
        _metric_stores(spark, self.sf_dir)
        self.cycle = 0

    def land(self, spark) -> tuple[int, float, int, int]:
        """Append one batch and bring every store up to date. Returns
        (hour, seconds, batch bytes, store bytes written)."""
        from dqe_spark.sources import metric_store, rollup, store

        self.cycle += 1
        first_id = sum(t.num_rows for t in self.rows)
        hour, batch = datagen.ingest_batch(self.seed, self.cycle, first_id)
        self.rows.append(batch)
        batch_dir = Path(self.sf_dir).parent / f"perfbench_{self.name}_batch"
        shutil.rmtree(batch_dir, ignore_errors=True)
        datagen.write(batch, batch_dir / "events.parquet")
        t_wall = time.time()
        t0 = time.perf_counter()
        part = Path(self.sf_dir) / "events.parquet" / f"part-{self.cycle:05d}.parquet"
        shutil.copyfile(batch_dir / "events.parquet", part)
        store.ingest(spark, self.sf_dir, force=True)
        points = metric_store.load_metrics(spark, str(batch_dir))
        for merge in (
            rollup.merge_rollup_increment,
            rollup.merge_hist_increment,
            rollup.merge_tagged_increment,
            rollup.merge_tagged_hist_increment,
        ):
            merge(spark, points, self.sf_dir, 60_000)
        dt = time.perf_counter() - t0
        written = sum(
            f.stat().st_size
            for f in self.store_dir().rglob("*")
            if f.is_file() and f.stat().st_mtime >= t_wall
        )
        return hour, dt, part.stat().st_size, written

    def expected(self, hour: int) -> dict[tuple[str, int, int], float]:
        """{(metric, window ms, window start): sum} over every row
        written so far, for the batch's hour at 1m and 1h."""
        import numpy as np
        import pyarrow as pa

        t = pa.concat_tables(self.rows)
        ts_ms = t.column("ts").cast(pa.int64()).to_numpy() // 1000
        keep = (ts_ms >= hour) & (ts_ms < hour + datagen.HOUR_MS)
        etype = np.asarray(t.column("event_type").to_pylist(), dtype=object)[keep]
        val = t.column("value").to_numpy()[keep]
        ts_ms = ts_ms[keep]
        out: dict = {}
        for w in (60_000, datagen.HOUR_MS):
            for m, wts, v in zip(etype, ts_ms - ts_ms % w, val):
                k = (f"events.{m}", w, int(wts))
                out[k] = out.get(k, 0.0) + float(v)
        return out

    def reads(self, spark, hour: int) -> list[Op]:
        want = self.expected(hour)
        ops = []
        for w, wms in (("1m", 60_000), ("1h", datagen.HOUR_MS)):
            for ru in (False, True):
                dql = (
                    f"SELECT sum('events'.* BUCKET 'events', {w}) "
                    f"BETWEEN {hour} AND {hour + datagen.HOUR_MS}"
                )

                def check(rows, wms=wms):
                    exp = [(m, t, round(v, 4)) for (m, w2, t), v in want.items() if w2 == wms]
                    return oracle.mismatch(rows, exp)

                label = f"sum_{w}_{'rollup' if ru else 'raw'}"
                ops.append(_engine_op(label, spark, dql, self.sf_dir, ru, Q.SERIES, check))
        return ops


WORKLOADS = {"dashboard": Dashboard, "scan": Scan, "ingest": Ingest, "corpus": Corpus}


def setup(w: Workload, spark, rounds: int) -> dict:
    """``rounds`` full set-ups (delete, generate, build stores); the
    median of each phase is what set-up costs."""
    from dqe_spark.sources.store import invalidate_load_memo

    data_s, store_s = [], []
    for _ in range(rounds):
        w.clean()
        t0 = time.perf_counter()
        w.data()
        t1 = time.perf_counter()
        w.stores(spark)
        invalidate_load_memo()
        t2 = time.perf_counter()
        data_s.append(t1 - t0)
        store_s.append(t2 - t1)
    return {"data_s": median(data_s), "store_s": median(store_s),
            "data_rounds": data_s, "store_rounds": store_s}
