"""Positional k-gram store (sources/gram_store.py): incremental merge
equals full rebuild, the landing-time probe equals the batch cut list,
re-landing is last-write-wins, purge equals rebuild, and per-bucket
file counts stay bounded across increments."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, file_inodes


def _snapshot(spark, p):
    return sorted(
        (r["doc_id"], r["p"], r["gram"])
        for r in spark.read.parquet(str(p)).collect()
    )


def test_increment_equals_full_build(spark):
    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    p = GS._store_dir(SF_SMOKE)

    GS.build_gram_store(spark, SF_SMOKE, force=True)
    want = _snapshot(spark, p)

    GS.build_gram_store(
        spark, SF_SMOKE, docs=docs.where(F.col("doc_id") < cut), force=True
    )
    GS.merge_gram_increment(
        spark, SF_SMOKE, docs.where(F.col("doc_id") >= cut)
    )
    assert _snapshot(spark, p) == want

    # idempotent re-land
    GS.merge_gram_increment(
        spark, SF_SMOKE, docs.where(F.col("doc_id") >= cut)
    )
    assert _snapshot(spark, p) == want


def test_probe_equals_batch_cut_list(spark):
    """spans_against_store(new) == duplicate_substring_spans over the
    union, restricted to the new ids — when new ids land AFTER the
    corpus (higher doc_ids, the natural landing order) and don't
    duplicate each other, the batch owner rule (min doc_id) and the
    store-is-canonical probe rule coincide."""
    from dqe_spark.operators.dedup import duplicate_substring_spans
    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base_max = docs.agg(F.max("doc_id")).first()[0]
    some_text = docs.orderBy("doc_id").limit(1).first()["text"]
    new = spark.createDataFrame(
        [
            (base_max + 1, f"fresh preamble {some_text} fresh epilogue"),
            (base_max + 2, "totally novel content nothing shared here xyzzy"),
        ],
        "doc_id long, text string",
    )
    GS.build_gram_store(spark, SF_SMOKE, force=True)
    got = sorted(
        tuple(r) for r in GS.spans_against_store(spark, SF_SMOKE, new).collect()
    )
    want = sorted(
        tuple(r)
        for r in duplicate_substring_spans(
            docs.select("doc_id", "text").unionByName(new)
        )
        .where(F.col("doc_id") > base_max)
        .collect()
    )
    assert got == want
    assert got and got[0][0] == base_max + 1  # the planted dup is found
    assert all(r[0] != base_max + 2 for r in got)  # the novel doc is clean


def test_reland_changed_doc_equals_rebuild(spark):
    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = GS._store_dir(SF_SMOKE)
    victim = docs.orderBy("doc_id").first()["doc_id"]
    changed = docs.where(F.col("doc_id") == victim).withColumn(
        "text", F.concat(F.lit("entirely rewritten body now "), F.col("text"))
    )
    updated = docs.where(F.col("doc_id") != victim).unionByName(changed)
    try:
        GS.build_gram_store(spark, SF_SMOKE, force=True)
        GS.merge_gram_increment(spark, SF_SMOKE, changed)
        got = _snapshot(spark, p)
        GS.build_gram_store(spark, SF_SMOKE, docs=updated, force=True)
        assert got == _snapshot(spark, p)
    finally:
        GS.build_gram_store(spark, SF_SMOKE, force=True)


def test_purge_equals_rebuild_without_docs(spark):
    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = GS._store_dir(SF_SMOKE)
    victims = [r["doc_id"] for r in docs.orderBy("doc_id").limit(3).collect()]
    try:
        GS.build_gram_store(spark, SF_SMOKE, force=True)
        GS.purge_doc_ids(spark, SF_SMOKE, victims)
        got = _snapshot(spark, p)
        GS.build_gram_store(
            spark, SF_SMOKE,
            docs=docs.where(~F.col("doc_id").isin(victims)), force=True,
        )
        assert got == _snapshot(spark, p)
    finally:
        GS.build_gram_store(spark, SF_SMOKE, force=True)


def test_increment_file_counts_stay_bounded(spark):
    """N successive increments must not grow per-bucket file counts
    linearly (the rewrite replaces touched buckets, never appends) —
    the same bounded-file property pinned for the text index, the
    minhash store and the ANN store."""
    from pathlib import Path

    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = GS._store_dir(SF_SMOKE)

    def files_per_bucket():
        return {
            d.name: len(list(d.glob("*.parquet")))
            for d in Path(p).glob("gb=*")
        }

    try:
        GS.build_gram_store(spark, SF_SMOKE, force=True)
        before = files_per_bucket()
        base_max = docs.agg(F.max("doc_id")).first()[0]
        for i in range(3):
            inc = spark.createDataFrame(
                [(base_max + 1 + i, f"increment body number {i} with words "
                                    f"alpha beta gamma delta epsilon {i}")],
                "doc_id long, text string",
            )
            GS.merge_gram_increment(spark, SF_SMOKE, inc)
        after = files_per_bucket()
        assert all(
            after[b] <= max(2, 2 * before.get(b, 1)) for b in after
        ), (before, after)
    finally:
        GS.build_gram_store(spark, SF_SMOKE, force=True)


def test_spans_against_store_restores_default(spark):
    """Leave the store in its default full-corpus state for any later
    test/registry consumer."""
    from dqe_spark.sources import gram_store as GS

    GS.build_gram_store(spark, SF_SMOKE, force=True)
    assert (GS._store_dir(SF_SMOKE) / "_SUCCESS").exists()


def test_probe_plan_prunes_store_partitions(spark):
    """The landing-time probe's store scan must carry a dynamic
    partition-pruning expression on gb — the 'never re-read the
    corpus' claim as a plan assertion (a small increment touches only
    the buckets its grams hash to)."""
    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    GS.build_gram_store(spark, SF_SMOKE, force=True)
    new = (
        docs.limit(1)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    plan = (
        GS.spans_against_store(spark, SF_SMOKE, new)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    store_scans = [
        ln for ln in plan.splitlines() if "_store" in ln and "grams" in ln
    ]
    assert store_scans, "no gram-store scan in the probe plan"
    assert any("dynamicpruning" in ln.lower() for ln in store_scans), (
        "gram-store scan lost its dynamic partition-pruning filter:\n"
        + "\n".join(store_scans)
    )


def test_autoscale_rebucket_keeps_increment_cost_proportional(spark):
    """Round-7 verdict next-round #2: as the store grows across a
    bucket-count doubling, (a) the layout re-buckets loudly and equals
    a fresh build at the new count, (b) a subsequent small increment
    rewrites only the buckets its grams hash to — ∝ increment, not
    ∝ store — and (c) the probe still prunes and still matches a fresh
    computation. Uses a tiny target_rows so the doubling happens at
    smoke scale; uses a VARIANT store so the canonical one is
    untouched."""
    from pathlib import Path

    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    first = docs.where(F.col("doc_id") < cut)
    rest = docs.where(F.col("doc_id") >= cut)
    var = "autoscale_test"
    p = GS._store_dir(SF_SMOKE, var)

    n_grams_all = GS._grams_of(docs).count()
    # target chosen so the FULL corpus wants ≥2× the floor count but
    # the first half sits at the floor — the merge crosses a doubling
    target = max(1, n_grams_all // (GS.N_GRAM_BUCKETS * 2))

    GS.build_gram_store(
        spark, SF_SMOKE, docs=first, variant=var, force=True,
        target_rows=target,
    )
    n0 = GS._n_buckets(p)
    GS.merge_gram_increment(
        spark, SF_SMOKE, rest, target_rows=target, variant=var
    )
    n1 = GS._n_buckets(p)
    assert n1 > n0, (n0, n1)  # the growth crossed a doubling

    # (a) post-rebucket store == fresh build at the same count
    got = _snapshot(spark, p)
    GS.build_gram_store(
        spark, SF_SMOKE, docs=docs, variant=var, force=True, n_buckets=n1
    )
    assert got == _snapshot(spark, p)

    # (b) a 1-doc increment touches only its own buckets: count the
    # partition dirs whose files change inode across the merge
    base_max = docs.agg(F.max("doc_id")).first()[0]
    inc = spark.createDataFrame(
        [(base_max + 77, "tiny increment with a handful of new words")],
        "doc_id long, text string",
    )
    inc_buckets = {
        r["gb"] for r in GS._grams_of(inc, n_buckets=n1).select("gb").collect()
    }
    before = {d.name: file_inodes(d) for d in Path(p).glob("gb=*")}
    GS.merge_gram_increment(
        spark, SF_SMOKE, inc, target_rows=target, variant=var
    )
    after = {d.name: file_inodes(d) for d in Path(p).glob("gb=*")}
    rewritten = {b for b in after if after[b] != before.get(b)}
    assert rewritten <= {f"gb={b}" for b in inc_buckets}, (
        rewritten, inc_buckets,
    )
    assert len(rewritten) < n1  # strictly fewer than the store's buckets

    # (c) the probe hashes with the new layout and matches fresh spans
    from dqe_spark.operators.dedup import duplicate_substring_spans

    some_text = docs.orderBy("doc_id").limit(1).first()["text"]
    new = spark.createDataFrame(
        [(base_max + 200, f"lead {some_text} tail")],
        "doc_id long, text string",
    )
    got_spans = sorted(
        tuple(r)
        for r in GS.spans_against_store(
            spark, SF_SMOKE, new, variant=var
        ).collect()
    )
    want_spans = sorted(
        tuple(r)
        for r in duplicate_substring_spans(
            docs.select("doc_id", "text")
            .unionByName(inc)
            .unionByName(new)
        )
        .where(F.col("doc_id") == base_max + 200)
        .collect()
    )
    assert got_spans == want_spans and got_spans

    from dqe_spark.sources.store import drop

    drop(p)


def test_expire_docs_before_equals_rebuild_from_filtered_corpus(spark):
    """Gram-store TTL (round-7 verdict #6): post-TTL store equals a
    fresh build from the age-filtered corpus — the same invariant the
    rollup ladders pin for expire_rollup_before — and the probe over
    the aged store no longer sees expired docs as owners."""
    from dqe_spark.sources import gram_store as GS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cutoff = int(docs.agg(F.expr("percentile_approx(doc_id, 0.3)")).first()[0])
    p = GS._store_dir(SF_SMOKE)
    try:
        GS.build_gram_store(spark, SF_SMOKE, force=True)
        GS.expire_docs_before(spark, SF_SMOKE, cutoff)
        got = _snapshot(spark, p)
        assert got and all(d >= cutoff for d, _, _ in got)
        GS.build_gram_store(
            spark, SF_SMOKE,
            docs=docs.where(F.col("doc_id") >= cutoff), force=True,
        )
        assert got == _snapshot(spark, p)

        # idempotent: a second TTL at the same cutoff is a no-op
        GS.expire_docs_before(spark, SF_SMOKE, cutoff)
        assert got == _snapshot(spark, p)

        # TTL of everything leaves an empty (but loadable) store
        GS.expire_docs_before(spark, SF_SMOKE, 10**18)
        from pathlib import Path

        assert not list(Path(p).glob("gb=*"))
    finally:
        GS.build_gram_store(spark, SF_SMOKE, force=True)
