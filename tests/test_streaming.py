"""Structured Streaming: the streamed windowed aggregate must agree
with the batch engine over the same (drained) input."""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_stream_matches_batch(spark):
    from dqe_spark.streaming.ingest import (
        stream_metrics,
        windowed_stream_agg,
        write_to_store,
    )

    tmp = Path(tempfile.mkdtemp(prefix="dqe_stream_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")

    try:
        metrics = stream_metrics(spark, str(landing))
        agg = windowed_stream_agg(metrics, window="1 minute", watermark="5 minutes")
        q = write_to_store(agg, str(out), str(ckpt), available_now=True)
        q.awaitTermination(120)

        got = spark.read.parquet(str(out)).where(F.col("metric") == "events.click")
        from dqe_spark.queries_parity import aggr_avg_1m

        expect = aggr_avg_1m(spark, SF_SMOKE)
        a = {(r["metric"], r["wts"], r["value"]) for r in got.collect()}
        b = {(r["metric"], r["wts"], r["avg_value"]) for r in expect.collect()}
        # append-mode emits only windows the watermark has closed; with
        # availableNow + a final commit, all windows flush.
        assert a == b
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_metrics_both_ts_encodings(spark, tmp_path):
    """stream_metrics must accept landing files with ts as int64 nanos
    (STREAM_SCHEMA_NANOS) or timestamp[us] (STREAM_SCHEMA) and yield
    identical event-time rows — the streaming twin of the batch
    ts_ms_col drift guard."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dqe_spark.streaming.ingest import (
        STREAM_SCHEMA,
        STREAM_SCHEMA_NANOS,
        stream_metrics,
    )

    base = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 11], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.5, 2.5], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    ms = [1_700_000_000_000, 1_700_000_060_000]
    results = {}
    for sub, schema, ts_arr in (
        ("nanos", STREAM_SCHEMA_NANOS,
         pa.array([m * 1_000_000 for m in ms], pa.int64())),
        ("micros", STREAM_SCHEMA,
         pa.array([m * 1_000 for m in ms], pa.timestamp("us"))),
    ):
        landing = tmp_path / sub
        landing.mkdir()
        pq.write_table(pa.table({**base, "ts": ts_arr}),
                       landing / "batch0.parquet")
        out, ckpt = tmp_path / f"{sub}_out", tmp_path / f"{sub}_ckpt"
        q = (
            stream_metrics(spark, str(landing), schema=schema)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        results[sub] = sorted(
            (r["metric"], r["ts"].isoformat(), r["value"])
            for r in spark.read.parquet(str(out)).collect()
        )
    assert results["nanos"] == results["micros"] and len(results["nanos"]) == 2


def test_stream_clean_corpus_matches_batch(spark, tmp_path):
    """Drained streaming clean pass == batch clean pass over the same
    document files (stateless narrow projection, so exact equality)."""
    from dqe_spark.operators.text import clean_corpus
    from dqe_spark.sources.metric_store import load_table
    from dqe_spark.streaming.ingest import stream_clean_corpus

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", landing / "batch0.parquet")
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = (
        stream_clean_corpus(spark, str(landing))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    want = sorted(
        map(tuple, clean_corpus(load_table(spark, SF_SMOKE, "documents")).collect())
    )
    assert got == want and got


def test_densify(spark):
    from dqe_spark.operators.densify import densify
    from dqe_spark.operators.windows import agg_avg, window_agg
    from dqe_spark.sources.metric_store import load_metrics

    JAN5 = 1704067200000 + 4 * 86_400_000
    end = JAN5 + 86_400_000
    m = load_metrics(spark, SF_SMOKE).where(
        (F.col("metric") == "events.click")
        & (F.col("ts_ms") >= JAN5)
        & (F.col("ts_ms") < end)
    )
    agg = window_agg(m, 60_000, agg_avg("value"), "avg_value")
    dense = densify(agg, JAN5, end, 60_000)
    assert dense.count() == 1440  # every minute of the day present
    assert dense.where(F.col("avg_value").isNull()).count() > 0
    # non-null rows are exactly the aggregate rows
    assert dense.where(F.col("avg_value").isNotNull()).count() == agg.count()


def test_stream_rollup_matches_batch_rollup(spark):
    """Drained streaming partials must equal the batch-built rollup
    (same windows, same mergeable values), proving streamed and
    backfilled rollups are interchangeable to the query layer."""
    from dqe_spark.sources.rollup import load_rollup
    from dqe_spark.streaming.ingest import stream_metrics, stream_rollup_partials

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamru_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")
    try:
        agg = stream_rollup_partials(stream_metrics(spark, str(landing)))
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r["metric"], r["wts"]): (r["cnt"], float(r["sum"]), r["min"], r["max"])
            for r in spark.read.parquet(str(out)).collect()
        }
        want = {
            (r["metric"], r["wts"]): (r["cnt"], float(r["sum"]), r["min"], r["max"])
            for r in load_rollup(spark, SF_SMOKE, 60_000).collect()
        }
        # append mode can't emit windows the watermark never closed:
        # anything within the final watermark horizon may be absent —
        # the batch backfill path owns those (documented contract)
        assert got and all(got[k] == want[k] for k in got)
        horizon = max(w for _, w in want) - 6 * 60_000
        missing = set(want) - set(got)
        assert all(w >= horizon for _, w in missing)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dedup_drops_replays(spark):
    """At-least-once delivery simulated by landing the same file twice:
    the watermark-bounded dedup must make the duplicated stream agree
    with the batch answer over the single copy."""
    from dqe_spark.streaming.ingest import (
        stream_dedup,
        stream_metrics,
        windowed_stream_agg,
        write_to_store,
    )

    tmp = Path(tempfile.mkdtemp(prefix="dqe_stream_dd_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    # same events land twice (replayed delivery)
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "replay0.parquet")

    try:
        metrics = stream_dedup(stream_metrics(spark, str(landing)))
        # the dedup already set the stream's watermark; don't redefine
        agg = windowed_stream_agg(metrics, window="1 minute", watermark=None)
        q = write_to_store(agg, str(out), str(ckpt), available_now=True)
        q.awaitTermination(120)

        got = spark.read.parquet(str(out)).where(F.col("metric") == "events.click")
        from dqe_spark.queries_parity import aggr_avg_1m

        expect = aggr_avg_1m(spark, SF_SMOKE)
        a = {(r["metric"], r["wts"], r["value"]) for r in got.collect()}
        b = {(r["metric"], r["wts"], r["avg_value"]) for r in expect.collect()}
        assert a == b
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_stateless_corpus_ops_match_batch(spark, tmp_path):
    """dedup_lines and the deterministic % sample are stateless narrow
    ops, so they compose onto a file stream unchanged: a drained stream
    equals the batch run over the same files."""
    from dqe_spark.operators.sampling import sample_fraction_deterministic
    from dqe_spark.operators.text import dedup_lines
    from dqe_spark.sources.metric_store import load_table
    from dqe_spark.streaming.ingest import DOCS_SCHEMA

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/documents.parquet", landing / "b0.parquet")
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    stream = spark.readStream.schema(DOCS_SCHEMA).parquet(str(landing))
    q = (
        sample_fraction_deterministic(dedup_lines(stream), 10)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    batch = sample_fraction_deterministic(
        dedup_lines(load_table(spark, SF_SMOKE, "documents")), 10
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and got


def test_stream_distinct_matches_batch_sketches(spark):
    """Drained streaming HLL partials estimate identically to the
    batch-built distinct rollup on the same cells (same sketch
    algorithm and lgConfigK); windows the watermark never closed
    belong to the batch backfill (same contract as the rollup)."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.streaming.ingest import stream_distinct_partials

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamdx_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")
    try:
        agg = stream_distinct_partials(spark, str(landing))
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r["event_type"], r["wts"]): r["est"]
            for r in spark.read.parquet(str(out))
            .select(
                "event_type", "wts",
                F.hll_sketch_estimate("sketch").alias("est"),
            )
            .collect()
        }
        R.build_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)
        want = {
            (r["event_type"], r["wts"]): r["est"]
            for r in R.load_distinct_rollup(spark, SF_SMOKE, 3_600_000)
            .select(
                "event_type", "wts",
                F.hll_sketch_estimate("sketch").alias("est"),
            )
            .collect()
        }
        assert got and all(got[k] == want[k] for k in got)
        horizon = max(w for _, w in want) - 7 * 3_600_000
        missing = set(want) - set(got)
        assert all(w >= horizon for _, w in missing)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_portable_registers_match_batch_bitwise(spark):
    """Drained portable-HLL registers are BIT-IDENTICAL to the batch
    build's for closed windows — max is the streaming aggregate, so
    there is no estimate-level tolerance here at all; windows the
    watermark never closed belong to the batch increment backfill."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.streaming.ingest import stream_portable_distinct_registers

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streampdx_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")
    try:
        agg = stream_portable_distinct_registers(spark, str(landing))
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r["event_type"], r["wts"], r["bucket"]): r["r"]
            for r in spark.read.parquet(str(out)).collect()
        }
        from dqe_spark.operators.sketches import hll_unpack

        R.build_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000, force=True)
        # the batch store persists the PACKED layout; unpack restores
        # the register relation the stream emits, bit-for-bit
        want = {
            (r["event_type"], r["wts"], r["bucket"]): r["r"]
            for r in hll_unpack(
                R.load_portable_distinct_rollup(spark, SF_SMOKE, 3_600_000),
                ["event_type", "wts"],
            ).collect()
        }
        assert got and all(got[k] == want[k] for k in got)
        horizon = max(w for _, w, _ in want) - 7 * 3_600_000
        missing = set(want) - set(got)
        assert all(w >= horizon for _, w, _ in missing)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_tagged_and_hist_partials_match_batch(spark):
    """Drained streaming TAGGED and HISTOGRAM partials must equal the
    batch-built ladders — streamed and backfilled partials stay
    interchangeable for every store the query rewrite reads."""
    from dqe_spark.sources.rollup import (
        load_hist_rollup,
        load_tagged_hist_rollup,
        load_tagged_rollup,
    )
    from dqe_spark.streaming.ingest import (
        stream_hist_partials,
        stream_metrics,
        stream_tagged_rollup_partials,
    )

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamth_"))
    landing = tmp / "landing"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")

    def drain(agg, name):
        out, ckpt = tmp / f"out_{name}", tmp / f"ckpt_{name}"
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(str(out))

    dims = ("host", "dc", "user")
    cases = [
        (
            stream_tagged_rollup_partials(
                stream_metrics(spark, str(landing), with_dims=True)
            ),
            load_tagged_rollup(spark, SF_SMOKE, 60_000),
            ("metric", *dims, "wts"),
            lambda r: (r["cnt"], float(r["sum"]), r["min"], r["max"]),
            "tagged",
        ),
        (
            stream_hist_partials(stream_metrics(spark, str(landing))),
            load_hist_rollup(spark, SF_SMOKE, 60_000),
            ("metric", "wts", "v100"),
            lambda r: r["cnt"],
            "hist",
        ),
        (
            stream_hist_partials(
                stream_metrics(spark, str(landing), with_dims=True), dims=dims
            ),
            load_tagged_hist_rollup(spark, SF_SMOKE, 60_000),
            ("metric", *dims, "wts", "v100"),
            lambda r: r["cnt"],
            "tagged_hist",
        ),
    ]
    try:
        for agg, batch, key_cols, val, name in cases:
            got = {
                tuple(r[k] for k in key_cols): val(r)
                for r in drain(agg, name).collect()
            }
            want = {
                tuple(r[k] for k in key_cols): val(r) for r in batch.collect()
            }
            # append mode cannot emit windows the final watermark never
            # closed; batch backfill owns those (same contract as
            # test_stream_rollup_matches_batch_rollup)
            assert got and all(got[k] == want[k] for k in got), name
            wts_i = key_cols.index("wts")
            horizon = max(k[wts_i] for k in want) - 6 * 60_000
            missing = set(want) - set(got)
            assert all(k[wts_i] >= horizon for k in missing), name
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_index_documents_matches_rebuild(spark):
    """Index built from half the corpus + the other half STREAMED in
    (foreachBatch merge) equals the one-shot full rebuild, posting for
    posting including tf and positions; doc stats follow."""
    from dqe_spark.sources import text_index as TI
    from dqe_spark.streaming.ingest import stream_index_documents

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    p = TI._index_dir(SF_SMOKE)

    def snapshot():
        return sorted(
            (r["doc_id"], r["token"], r["tf"], tuple(r["positions"]))
            for r in spark.read.parquet(str(p)).collect()
        )

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamidx_"))
    landing, ckpt = tmp / "landing", tmp / "ckpt"
    landing.mkdir()
    try:
        TI.build_text_index(spark, SF_SMOKE, force=True)
        want = snapshot()

        TI.build_text_index(
            spark, SF_SMOKE, force=True, docs=docs.where(F.col("doc_id") < cut)
        )
        docs.where(F.col("doc_id") >= cut).write.mode("overwrite").parquet(
            str(landing)
        )
        q = (
            stream_index_documents(spark, str(landing), SF_SMOKE, str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert snapshot() == want
        ds = spark.read.parquet(str(p / "_docstats"))
        assert ds.count() == docs.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        TI.build_text_index(spark, SF_SMOKE, force=True)  # restore


def test_stream_minhash_store_matches_rebuild(spark):
    """Signature store built from half the corpus + the other half
    STREAMED in equals the one-shot full build, band key for band key;
    the incremental probe then sees streamed docs as corpus members."""
    from dqe_spark.sources import minhash_store as MS
    from dqe_spark.streaming.ingest import stream_dedup_index_documents

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    p = MS._store_dir(SF_SMOKE)

    def snapshot():
        return sorted(
            (r["doc_id"], r["band"], r["key"])
            for r in spark.read.parquet(str(p)).collect()
        )

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streammh_"))
    landing, ckpt = tmp / "landing", tmp / "ckpt"
    landing.mkdir()
    try:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
        want = snapshot()

        MS.build_minhash_store(
            spark, SF_SMOKE, docs=docs.where(F.col("doc_id") < cut), force=True
        )
        docs.where(F.col("doc_id") >= cut).write.mode("overwrite").parquet(
            str(landing)
        )
        q = (
            stream_dedup_index_documents(spark, str(landing), SF_SMOKE, str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert snapshot() == want
        sh = spark.read.parquet(str(p / "_shingles"))
        assert sh.count() == docs.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        MS.build_minhash_store(spark, SF_SMOKE, force=True)  # restore


def test_stream_ann_vectors_served_knn_sees_streamed(spark):
    """ANN index built from part of the corpus + the rest STREAMED in:
    the index holds every vector exactly once (upsert), and served kNN
    equals the same queries against a batch merge of the same split —
    the streaming twin IS the batch increment."""
    from dqe_spark.sources import ann_store as AS
    from dqe_spark.streaming.ingest import stream_ann_vectors

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cut = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    base, late = emb.where(F.col("vec_id") < cut), emb.where(F.col("vec_id") >= cut)

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamann_"))
    landing, ckpt = tmp / "landing", tmp / "ckpt"
    landing.mkdir()
    qv = emb.where(F.col("vec_id") == 7).select("embedding")

    def snapshot():
        p = AS.ann_path(SF_SMOKE)
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in spark.read.parquet(str(p / "index")).collect()
        )

    try:
        # batch reference: build from base, merge late in one increment
        AS.ingest_ann(spark, SF_SMOKE, force=True, source=base)
        AS.merge_ann_increment(spark, SF_SMOKE, late)
        want = snapshot()
        want_knn = [tuple(r) for r in AS.knn_pq_probed(spark, SF_SMOKE, qv, 10).collect()]

        # streaming twin: same base build, late vectors arrive as a stream
        AS.ingest_ann(spark, SF_SMOKE, force=True, source=base)
        late.write.mode("overwrite").parquet(str(landing))
        q = (
            stream_ann_vectors(spark, str(landing), SF_SMOKE, str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert snapshot() == want
        got_knn = [tuple(r) for r in AS.knn_pq_probed(spark, SF_SMOKE, qv, 10).collect()]
        assert got_knn == want_knn
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        AS.ingest_ann(spark, SF_SMOKE, force=True)  # restore


def test_stream_gram_store_matches_rebuild(spark):
    """Gram store built from half the corpus + the other half STREAMED
    in (foreachBatch last-write-wins merge) equals the one-shot full
    build, gram row for gram row; the landing-time cut-list probe then
    sees streamed docs as corpus members."""
    from dqe_spark.sources import gram_store as GS
    from dqe_spark.streaming.ingest import stream_gram_store_documents

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    p = GS._store_dir(SF_SMOKE)

    def snapshot():
        return sorted(
            (r["doc_id"], r["p"], r["gram"])
            for r in spark.read.parquet(str(p)).collect()
        )

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamgram_"))
    landing, ckpt = tmp / "landing", tmp / "ckpt"
    landing.mkdir()
    try:
        GS.build_gram_store(spark, SF_SMOKE, force=True)
        want = snapshot()

        GS.build_gram_store(
            spark, SF_SMOKE, force=True, docs=docs.where(F.col("doc_id") < cut)
        )
        docs.where(F.col("doc_id") >= cut).write.mode("overwrite").parquet(
            str(landing)
        )
        q = (
            stream_gram_store_documents(spark, str(landing), SF_SMOKE, str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert snapshot() == want

        # the probe sees a streamed doc's text as corpus content
        streamed = docs.where(F.col("doc_id") >= cut).orderBy("doc_id").first()
        base_max = docs.agg(F.max("doc_id")).first()[0]
        probe = spark.createDataFrame(
            [(base_max + 1, streamed["text"])], "doc_id long, text string"
        )
        hits = GS.spans_against_store(spark, SF_SMOKE, probe).collect()
        assert hits and all(r["doc_id"] == base_max + 1 for r in hits)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        GS.build_gram_store(spark, SF_SMOKE, force=True)  # restore


def test_stream_cms_counters_match_batch_bitwise(spark):
    """Drained CMS counters are BIT-IDENTICAL to the batch build's for
    closed windows — counts are additive and both paths see the same
    rows; open windows belong to the merge_cms_increment backfill."""
    from dqe_spark.sources import rollup as R
    from dqe_spark.streaming.ingest import stream_cms_counters

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamcms_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")
    try:
        agg = stream_cms_counters(spark, str(landing))
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            (r["event_type"], r["wts"], r["d"], r["pos"]): r["c"]
            for r in spark.read.parquet(str(out)).collect()
        }
        R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)
        want = {
            (r["event_type"], r["wts"], r["d"], r["pos"]): r["c"]
            for r in spark.read.parquet(
                str(R._cms_dir(SF_SMOKE, 3_600_000))
            ).collect()
        }
        assert got and all(got[k] == want[k] for k in got)
        horizon = max(w for _, w, _, _ in want) - 7 * 3_600_000
        missing = set(want) - set(got)
        assert all(w >= horizon for _, w, _, _ in missing)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_interval_join_matches_batch_range_join(spark):
    """Drained stream-stream interval-join pairs equal the batch
    literal range join row-for-row — the streaming twin of
    range_agg_join's registry query (pairs; the batch twin aggregates
    them). Watermark + radius bound the join state on both sides."""
    from pyspark.sql import functions as F

    from dqe_spark.sources.metric_store import load_events
    from dqe_spark.streaming.ingest import stream_click_near_error_pairs

    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamrj_"))
    landing, out, ckpt = tmp / "landing", tmp / "out", tmp / "ckpt"
    landing.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", landing / "batch0.parquet")
    try:
        pairs = stream_click_near_error_pairs(spark, str(landing))
        q = (
            pairs.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["error_id"], r["click_ts_ms"], r["click_value"])
            for r in spark.read.parquet(str(out)).collect()
        }
        ev = load_events(spark, SF_SMOKE).select(
            "event_id", "user_id", "ts_ms", "event_type", "value"
        )
        e = ev.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("u"),
            F.col("ts_ms").alias("ets"),
        )
        c = ev.where(F.col("event_type") == "click")
        want = {
            (r["error_id"], r["ts_ms"], r["value"])
            for r in e.join(
                c,
                (F.col("u") == F.col("user_id"))
                & (F.abs(F.col("ts_ms") - F.col("ets")) <= 300_000),
            ).collect()
        }
        # closed-window pairs must all be present and correct; pairs
        # near the stream's end may be held back by the watermark
        assert got <= want
        horizon = max(t for _, t, _ in want) - 7 * 3_600_000
        missing = want - got
        assert all(t >= horizon for _, t, _ in missing)
        assert len(got) >= 0.5 * len(want)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dsir_model_matches_batch_build(spark):
    """DSIR model maintained by the complete-mode stream part equals a
    batch build over the union, count for count — and a selection
    served from the merged model is bit-identical to the inline
    full-corpus selection. Re-draining (foreachBatch replay) leaves
    the model unchanged: the stream part overwrites wholesale, so
    at-least-once delivery cannot double-count."""
    from dqe_spark.operators import text as T
    from dqe_spark.sources import dsir_store as DS
    from dqe_spark.streaming.ingest import stream_dsir_model

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    base, late = docs.where(F.col("doc_id") % 3 != 0), docs.where(
        F.col("doc_id") % 3 == 0
    )
    tmp = Path(tempfile.mkdtemp(prefix="dqe_streamdsir_"))
    landing, ckpt = tmp / "landing", tmp / "ckpt"
    landing.mkdir()

    def model_counts():
        return {
            r["bucket"]: (r["ct"], r["cr"])
            for r in DS.load_dsir_model(spark, SF_SMOKE, "en").collect()
        }

    try:
        # batch reference over the FULL corpus
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)
        want = model_counts()
        inline = [
            tuple(r)
            for r in T.dsir_select(docs, F.col("lang") == "en", k=30).collect()
        ]
        # base part from A only + stream part from B
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True, docs=base)
        late.write.mode("overwrite").parquet(str(landing))
        q = (
            stream_dsir_model(spark, str(landing), SF_SMOKE, str(ckpt), "en")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert model_counts() == want
        served = [
            tuple(r)
            for r in T.dsir_select(
                docs,
                F.col("lang") == "en",
                k=30,
                model=DS.load_dsir_model(spark, SF_SMOKE, "en"),
            ).collect()
        ]
        assert served == inline
        # replay the same landed data through a FRESH checkpoint: the
        # complete-mode overwrite is idempotent
        q2 = (
            stream_dsir_model(
                spark, str(landing), SF_SMOKE, str(tmp / "ckpt2"), "en"
            )
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(180)
        assert model_counts() == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        from dqe_spark.sources.store import drop

        drop(DS._stream_dir(SF_SMOKE, "en"))
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)  # restore


def test_stream_cms_counters_derives_width_from_store(
    spark, tmp_path, capsys, monkeypatch
):
    """The streaming CMS twin must emit counters at the maintained
    store's _WIDTH (round-9 advisor, low: positions are h mod W, so a
    floor-width stream against an auto-sized store sum-merges into
    garbage). With sf_dir given, the width comes from the marker — the
    doubled width literal shows up in the position expressions; with
    neither w nor sf_dir, the floor is used and a loud warning prints."""
    from dqe_spark.operators import sketches as SK
    from dqe_spark.sources import rollup as R
    from dqe_spark.streaming.ingest import stream_cms_counters

    landing = tmp_path / "landing"
    landing.mkdir()
    W2 = 2 * SK.CMS_W
    from tests.conftest import SF_SMOKE

    had = (R._cms_dir(SF_SMOKE, 3_600_000) / "_SUCCESS").exists()
    real_pos = SK.cms_pos_expr
    widths: list[int] = []

    def rec(h, d, dialect, w=SK.CMS_W):
        widths.append(w)
        return real_pos(h, d, dialect, w)

    try:
        R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True, w=W2)
        monkeypatch.setattr(SK, "cms_pos_expr", rec)
        stream_cms_counters(spark, str(landing), sf_dir=SF_SMOKE)
        assert set(widths) == {W2}
        # explicit w wins over the marker
        widths.clear()
        stream_cms_counters(
            spark, str(landing), w=SK.CMS_W, sf_dir=SF_SMOKE
        )
        assert set(widths) == {SK.CMS_W}
        capsys.readouterr()
        widths.clear()
        stream_cms_counters(spark, str(landing))
        out = capsys.readouterr().out
        assert "floor" in out and "_WIDTH" in out
        assert set(widths) == {SK.CMS_W}
    finally:
        monkeypatch.undo()
        if had:
            R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)
