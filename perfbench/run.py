#!/usr/bin/env python3
"""Workload benchmark for dqe_spark.

Run from the repository root:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

One process, ``local[4]``, one client thread, closed loop. The run
sets up the workload (Spark session, seeded data, store builds,
warm-up), checks every distinct operation once against DuckDB, then
repeats the operations for ``--seconds`` and prints one JSON line: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run first repeats the untraced loop, so the
tracing overhead is measured in the same process. The full record
(metadata, per-query numbers, spans) goes to
``.perfbench/runs/<workload>-s<seed>-t<trace>.json``; a readable
summary goes to standard error. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time
from statistics import median
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
}
#: reported in the record and the stderr table, not on the JSON line.
#: A run has 6-20 timed samples, so the tail rule lands on the median
#: or falls back to the maximum; peak_rss_mb varies 12-29% between runs
#: of one workload (JVM heap growth), more than any bound may be.
EXTRA_UNITS = {
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
    "docs_per_s": "1/s",
    "write_p50_s": "s",
    "error_rate": "share",
    "query_tail_pct": "%",
    "samples": "count",
    "query_tail_samples_above": "count",
    "measured_wall_s": "s",
    "cycles": "count",
}
PER_LAYER = {
    "dql.parser.parse_s": "s",
    "dql.compiler.compile_s": "s",
    "dql.compiler.py4j_calls": "count",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "sources.load_py4j_calls": "count",
    "engine.plan_s": "s",
    "engine.plan_py4j_calls": "count",
    "engine.plan_eager_jobs": "count",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.text_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.collect_s": "s",
    "exec.task_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_rows": "count",
    "exec.result_rows": "count",
    "exec.input_rows_per_result_row": "ratio",
    "jvm.gc_s": "s",
    "query.build_share": "share",
    "query.exec_share": "share",
    "trace.coverage": "share",
    "trace.overhead_s": "s",
    "setup.session_s": "s",
    "setup.data_s": "s",
    "setup.store_s": "s",
    "setup.warmup_s": "s",
}
#: extra per-layer numbers only the ingest workload produces
INGEST_LAYER = {
    "sources.store.ingest_s": "s",
    "sources.rollup.merge_s": "s",
    "write.bytes_per_user_byte": "ratio",
    "store.bytes_per_user_byte": "ratio",
}
#: set-up rounds (data generation + store builds) per run; set-up
#: time takes their median. The dashboard's store build (about 25 s
#: cold) runs once: a second one would not fit the run-time budget.
SETUP_ROUNDS = {"dashboard": 1, "scan": 1, "ingest": 1, "corpus": 3}
#: whole timed passes a run makes at least: the median of one
#: dashboard pass (10 samples) moved 25% between runs, that of two
#: passes 12%
MIN_PASSES = {"dashboard": 2, "scan": 2, "corpus": 1}
CPUS = "4"


class CheckError(RuntimeError):
    """An output check could not run: the run has no valid result."""


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("dashboard", "scan", "ingest", "corpus"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(root: Path) -> dict:
    """Keep every file Spark and Python write inside the checkout and
    make the engine importable by Python workers."""
    work = root / ".perfbench"
    tmp = work / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "spark").mkdir(parents=True)
    before = {k: os.environ.get(k) for k in ("SPARK_GRAFT_CPUS", "PYTHONPATH")}
    paths = [str(root), str(HERE)] + ([before["PYTHONPATH"]] if before["PYTHONPATH"] else [])
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_DRIVER_JAVA_OPTS=f"-XX:+ExplicitGCInvokesConcurrent -Djava.io.tmpdir={tmp}",
        SPARK_LOCAL_DIRS=str(tmp / "spark"),
        TMPDIR=str(tmp),
        PYTHONPATH=os.pathsep.join(paths),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
        ),
    )
    sys.path.insert(0, str(root))
    return before


def metadata(spark, args, env_before: dict) -> dict:
    import duckdb
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_CPUS_env": env_before["SPARK_GRAFT_CPUS"],
        "spark_master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "jdk": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


# --------------------------------------------------------------- running ops


class Runner:
    """Runs checked operations and keeps the counts."""

    def __init__(self, spark, tracer):
        self.spark = spark
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.records: list[dict] = []
        self._epoch0 = time.time() - time.perf_counter()

    def call(self, op, check: bool) -> float:
        """Run ``op`` once; returns its latency. With ``check`` the
        result is compared with the oracle and the verdict kept on the
        op; otherwise the op counts as failed when its checked verdict
        was a failure or its row count differs from the checked one."""
        tr = self.tracer
        qid = f"q{len(self.records)}"
        if tr.enabled:
            tr.query_id = qid
            self.spark.sparkContext.setJobGroup(qid, op.label, False)
        ok, err, dfs, rows = True, None, [], []
        t0 = time.perf_counter()
        try:
            with tr.span("query"):
                dfs, out = op.run()
        except Exception as e:  # a failed operation, not a benchmark fault
            ok, err = False, f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        if ok:
            rows = op.rows(out)
        if ok and check:
            try:
                err = op.check(rows)
            except Exception as e:
                raise CheckError(f"check of {op.label} could not run: {e}") from e
            op.ok, op.n_rows = err is None, len(rows)
            ok = op.ok
        elif ok and not (op.ok and len(rows) == op.n_rows):
            ok, err = False, f"{len(rows)} rows, checked run had {op.n_rows}"
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{op.label}: {err}")
        rec = {"qid": qid, "label": op.label, "s": dt, "ok": ok, "rows": len(rows)}
        if tr.enabled:
            tr.query_id = None
            rec.update(self.harvest(qid, dfs))
        self.records.append(rec)
        return dt

    def harvest(self, qid: str, dfs: list) -> dict:
        """Catalyst phases and stage metrics of one traced query, read
        after its span closed (so these py4j calls are not counted)."""
        from py4j.protocol import Py4JError

        sc = self.spark.sparkContext
        out = {"analysis_ms": 0, "optimization_ms": 0, "planning_ms": 0}
        for df in dfs:
            try:
                phases = df._jdf.queryExecution().tracker().phases()
            except Py4JError:
                continue
            for name in ("analysis", "optimization", "planning"):
                p = phases.get(name)
                if p.isDefined():
                    out[f"{name}_ms"] += p.get().durationMs()
        plan_end = max(
            (s["end"] for s in self.tracer.spans
             if s["query"] == qid and s["name"] == "engine.plan" and s["end"] is not None),
            default=None,
        )
        plan_end_ms = None if plan_end is None else (self._epoch0 + plan_end) * 1000
        status = sc._jsc.sc().statusStore()
        stages, eager = set(), 0
        for jid in sc.statusTracker().getJobIdsForGroup(qid):
            job = status.job(jid)
            sub = job.submissionTime()
            if plan_end_ms is not None and sub.isDefined() and sub.get().getTime() <= plan_end_ms:
                eager += 1
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        agg = dict(stages=0, tasks=0, task_s=0.0, shuffle_bytes=0, spill_bytes=0, input_rows=0)
        for sid in stages:
            try:
                st = status.lastStageAttempt(sid)
            except Py4JError:  # a stage that never ran has no attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            agg["stages"] += 1
            agg["tasks"] += st.numTasks()
            agg["task_s"] += st.executorRunTime() / 1000.0
            agg["shuffle_bytes"] += st.shuffleWriteBytes()
            agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            agg["input_rows"] += st.inputRecords()
        out.update(agg, eager_jobs=eager)
        return out


def timed_loop(runner: Runner, ops, order, seconds: float, min_passes: int) -> dict:
    """Closed loop over ``order`` in whole passes over ``ops``, until
    ``seconds`` have passed and ``min_passes`` are done. Returns
    latencies and wall time."""
    lat, i = [], 0
    t0 = time.perf_counter()
    while i < min_passes * len(ops) or i % len(ops) or time.perf_counter() - t0 < seconds:
        lat.append(runner.call(ops[order(i)], check=False))
        i += 1
    return {"lat": lat, "wall": time.perf_counter() - t0, "n": i}


def replay(runner: Runner, ops, order, n: int) -> dict:
    return {"lat": [runner.call(ops[order(i)], check=False) for i in range(n)]}


def ingest_loop(runner: Runner, w, spark, seconds: float, cycles: int | None = None) -> dict:
    """Land batches and read them back until ``seconds`` have passed
    (or for exactly ``cycles`` cycles)."""
    lat, writes, checks, user_bytes, written = [], [], 0.0, 0, 0
    t0 = time.perf_counter()
    n = 0
    while n < cycles if cycles else n == 0 or time.perf_counter() - t0 < seconds:
        runner.attempted += 1
        runner.tracer.query_id = f"w{len(runner.records)}"
        try:
            with runner.tracer.span("write"):
                hour, dt, ub, wb = w.land(spark)
        except Exception as e:
            runner.failed += 1
            runner.errors.append(f"land: {type(e).__name__}: {str(e)[:300]}")
            break
        finally:
            runner.tracer.query_id = None
        writes.append(dt)
        user_bytes += ub
        written += wb
        for op in w.reads(spark, hour):
            c0 = time.perf_counter()
            lat.append(runner.call(op, check=True))
            checks += time.perf_counter() - c0 - lat[-1]
        n += 1
    wall = time.perf_counter() - t0 - checks - sum(writes)
    return {"lat": lat, "wall": wall, "n": len(lat), "writes": writes, "cycles": n,
            "user_bytes": user_bytes, "written_bytes": written}


# --------------------------------------------------------------- metrics


def layer_metrics(tracer, records: list[dict], gc_s: float) -> dict:
    from spans import self_times

    qids = {r["qid"] for r in records}
    n = max(1, len(records))
    st = [s for s in self_times(tracer.spans) if s["query"] in qids]
    by_name: dict[str, list[dict]] = {}
    for s in st:
        by_name.setdefault(s["name"], []).append(s)

    def total(name, key="self"):
        return sum(s[key] for s in by_name.get(name, []))

    names = {s["id"]: s["name"] for s in st}

    def outer(name, key="dur"):
        """Sum over the spans of ``name`` not nested in another one."""
        return sum(
            1 if key == "count" else s[key]
            for s in by_name.get(name, [])
            if names.get(s["parent"]) != name
        )

    def rsum(key):
        return sum(r.get(key, 0) for r in records)

    wall = total("query", "dur") or 1.0
    roots = total("query", "self")
    m = {
        "dql.parser.parse_s": total("dql.parser.parse") / n,
        "dql.compiler.compile_s": total("dql.compiler.compile") / n,
        "dql.compiler.py4j_calls": total("dql.compiler.compile", "py4j_self") / n,
        "sources.load_s": total("sources.load") / n,
        "sources.load_calls": outer("sources.load", "count") / n,
        "sources.load_py4j_calls": total("sources.load", "py4j_self") / n,
        "engine.plan_s": total("engine.plan") / n,
        "engine.plan_py4j_calls": outer("engine.plan", "py4j") / n,
        "engine.plan_eager_jobs": rsum("eager_jobs") / n,
        "operators.dedup_s": total("operators.dedup") / n,
        "operators.similarity_s": total("operators.similarity") / n,
        "operators.text_s": total("operators.text") / n,
        "catalyst.analysis_ms": rsum("analysis_ms") / n,
        "catalyst.optimization_ms": rsum("optimization_ms") / n,
        "catalyst.planning_ms": rsum("planning_ms") / n,
        "exec.collect_s": total("exec.collect") / n,
        "exec.task_s": rsum("task_s") / n,
        "exec.stages": rsum("stages") / n,
        "exec.tasks": rsum("tasks") / n,
        "exec.shuffle_bytes": rsum("shuffle_bytes") / n,
        "exec.spill_bytes": rsum("spill_bytes") / n,
        "exec.input_rows": rsum("input_rows") / n,
        "exec.result_rows": rsum("rows") / n,
        "exec.input_rows_per_result_row": rsum("input_rows") / max(1, rsum("rows")),
        "jvm.gc_s": gc_s / n,
        "query.build_share": outer("engine.plan") / wall,
        "query.exec_share": outer("exec.collect") / wall,
        "trace.coverage": (wall - roots) / wall,
    }
    return m


def ingest_layers(tracer, w, results: list[dict]) -> dict:
    from spans import self_times

    st = [s for s in self_times(tracer.spans) if str(s["query"]).startswith("w")]
    cycles = max(1, sum(r["cycles"] for r in results))

    def self_s(name):
        return sum(s["self"] for s in st if s["name"] == name) / cycles

    def size(p: Path) -> int:
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())

    return {
        "sources.store.ingest_s": self_s("sources.store.ingest"),
        "sources.rollup.merge_s": self_s("sources.rollup.merge"),
        "write.bytes_per_user_byte": sum(r["written_bytes"] for r in results)
        / max(1, sum(r["user_bytes"] for r in results)),
        "store.bytes_per_user_byte": size(w.store_dir())
        / max(1, size(Path(w.sf_dir) / "events.parquet")),
    }


# --------------------------------------------------------------- main


def run(args, spark, session_s: float, root: Path, env_before: dict) -> dict:
    import datagen
    import queries as Q
    import workloads as W
    from spans import Tracer, install
    from stats import tail

    tracer = Tracer()
    w = W.WORKLOADS[args.workload](args.workload, root, args.seed)
    setup = W.setup(w, spark, SETUP_ROUNDS[args.workload])
    runner = Runner(spark, tracer)
    ingest = args.workload == "ingest"

    # warm-up: every distinct operation once, checked against DuckDB
    if ingest:
        warm = ingest_loop(runner, w, spark, 0, cycles=1)
        warmup_s = sum(warm["lat"]) + sum(warm["writes"])
    else:
        ops = w.ops(spark, tracer)
        warmup_s = sum(runner.call(op, check=True) for op in ops)
        if args.workload == "corpus":  # the seed set the pipeline's order
            order = lambda i: i % len(ops)  # noqa: E731
        else:
            seq = Q.sequence(ops, args.seed, 10_000)
            order = seq.__getitem__

    first = len(runner.records)
    if ingest:
        res = ingest_loop(runner, w, spark, args.seconds)
    else:
        res = timed_loop(runner, ops, order, args.seconds, MIN_PASSES[args.workload])
    measured = runner.records[first:]
    lat = res["lat"]
    tail_s, tail_pct, tail_above = tail(lat)
    e2e = {
        "setup_s": session_s + setup["data_s"] + setup["store_s"] + warmup_s,
        "query_p50_s": median(lat),
        "queries_per_s": sum(r["ok"] for r in measured) / res["wall"],
    }
    extra = {
        "query_tail_s": tail_s,
        "peak_rss_mb": peak_rss_mb(spark),
        "samples": len(lat),
        "query_tail_pct": tail_pct,
        "query_tail_samples_above": tail_above,
        "error_rate": runner.failed / max(1, runner.attempted),
        "measured_wall_s": res["wall"],
        "setup_rounds": setup,
    }
    if args.workload == "corpus":
        extra["docs_per_s"] = datagen.N_DOCS * (res["n"] // len(ops)) / res["wall"]
    if ingest:
        extra["write_p50_s"] = median(res["writes"])
        extra["cycles"] = res["cycles"]

    layers = {}
    if args.trace:
        # two traced passes with an untraced one between them, so that
        # warming up across passes does not pass for tracing overhead
        def again():
            if ingest:
                return ingest_loop(runner, w, spark, 0, cycles=res["cycles"])
            return replay(runner, ops, order, res["n"])

        lat_u, traced_res, traced, gc_s = list(lat), [], [], 0.0
        for k in range(2):
            if k:
                lat_u += again()["lat"]
            install(tracer, spark)
            first = len(runner.records)
            g0 = gc_ms(spark)
            traced_res.append(again())
            gc_s += (gc_ms(spark) - g0) / 1000.0
            tracer.unpatch()
            traced += runner.records[first:]
        layers = layer_metrics(tracer, traced, gc_s)
        lat_t = [x for r in traced_res for x in r["lat"]]
        layers["trace.overhead_s"] = median(lat_t) - median(lat_u)
        if ingest:
            extra.update(ingest_layers(tracer, w, traced_res))
    layers.update({
        "setup.session_s": session_s,
        "setup.data_s": setup["data_s"],
        "setup.store_s": setup["store_s"],
        "setup.warmup_s": warmup_s,
    })
    return {
        "meta": metadata(spark, args, env_before),
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors[:50],
        "end_to_end": e2e,
        "per_layer": layers,
        "extra": extra,
        "queries": runner.records,
        "spans": tracer.spans,
    }


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "dqe_spark" / "engine.py").is_file() or not (root / "__spark_entry__.py").is_file():
        print("perfbench: no dqe_spark checkout here; run from the repository root", file=sys.stderr)
        return 2
    env_before = prepare_env(root)
    t0 = time.perf_counter()
    from dqe_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        rec = run(args, spark, session_s, root, env_before)
    except Exception as e:
        traceback.print_exc()
        print(f"perfbench: no result: {e}", file=sys.stderr)
        stop(spark)
        return 3
    stop(spark)

    out = root / ".perfbench" / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(rec, indent=1, default=str))
    for name, v in {**rec["end_to_end"], **rec["per_layer"], **rec["extra"]}.items():
        if not isinstance(v, dict):
            unit = {**END_TO_END, **PER_LAYER, **INGEST_LAYER, **EXTRA_UNITS}.get(name, "")
            print(f"{args.workload:>9} {name:<34} {v:>14.6g} {unit}", file=sys.stderr)
    for e in rec["errors"]:
        print(f"{args.workload:>9} FAILED {e}", file=sys.stderr)
    wanted, values = (PER_LAYER, rec["per_layer"]) if args.trace else (END_TO_END, rec["end_to_end"])
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
