"""MinHash signature store (sources/minhash_store.py): incremental
merge equals full rebuild, the probe finds planted near-dups without
re-reading the corpus, and re-landing is idempotent."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _snapshot(spark, p):
    return sorted(
        (r["doc_id"], r["band"], r["key"])
        for r in spark.read.parquet(str(p)).collect()
    )


def test_increment_equals_full_build(spark):
    from dqe_spark.sources import minhash_store as MS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    p = MS._store_dir(SF_SMOKE)

    MS.build_minhash_store(spark, SF_SMOKE, force=True)
    want = _snapshot(spark, p)
    n_sh = spark.read.parquet(str(p / "_shingles")).count()

    MS.build_minhash_store(
        spark, SF_SMOKE, docs=docs.where(F.col("doc_id") < cut), force=True
    )
    MS.merge_minhash_increment(
        spark, SF_SMOKE, docs.where(F.col("doc_id") >= cut)
    )
    assert _snapshot(spark, p) == want
    assert spark.read.parquet(str(p / "_shingles")).count() == n_sh

    # idempotent re-land
    MS.merge_minhash_increment(
        spark, SF_SMOKE, docs.where(F.col("doc_id") >= cut)
    )
    assert _snapshot(spark, p) == want


def test_reland_changed_doc_equals_rebuild(spark):
    """Re-landing a doc whose TEXT CHANGED is last-write-wins: the
    merged store equals a from-scratch build over the updated corpus —
    no stale band keys, deterministic shingle set."""
    from dqe_spark.sources import minhash_store as MS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = MS._store_dir(SF_SMOKE)
    victim = docs.orderBy("doc_id").first()["doc_id"]
    changed = docs.where(F.col("doc_id") == victim).withColumn(
        "text", F.concat(F.lit("entirely rewritten body now "), F.col("text"))
    )
    updated = docs.where(F.col("doc_id") != victim).unionByName(changed)
    try:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
        MS.merge_minhash_increment(spark, SF_SMOKE, changed)
        got_bands = _snapshot(spark, p)
        got_sh = sorted(
            (r["doc_id"], tuple(sorted(r["shs"])))
            for r in spark.read.parquet(str(p / "_shingles")).collect()
        )
        MS.build_minhash_store(spark, SF_SMOKE, docs=updated, force=True)
        assert got_bands == _snapshot(spark, p)
        want_sh = sorted(
            (r["doc_id"], tuple(sorted(r["shs"])))
            for r in spark.read.parquet(str(p / "_shingles")).collect()
        )
        assert got_sh == want_sh
    finally:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)  # restore


def test_probe_finds_planted_neardup(spark):
    from dqe_spark.sources import minhash_store as MS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    MS.build_minhash_store(spark, SF_SMOKE, force=True)
    try:
        # new doc = a stored doc with one word changed -> high jaccard
        src = docs.orderBy("doc_id").first()
        toks = src["text"].split()
        toks[len(toks) // 2] = "zzzmutation"
        new = spark.createDataFrame(
            [(999_999, " ".join(toks)), (999_998, "totally unrelated words only")],
            "doc_id long, text string",
        )
        hits = MS.neardup_against_store(spark, SF_SMOKE, new, 0.5).collect()
        pairs = {(r.new_id, r.store_id) for r in hits}
        assert (999_999, src["doc_id"]) in pairs
        assert not [r for r in hits if r.new_id == 999_998]
        assert all(0.5 <= r.jaccard <= 1.0 for r in hits)
    finally:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)  # restore


def test_reland_vacating_sole_bucket_leaves_no_stale_keys(spark):
    """Dynamic partition overwrite only rewrites bb partitions PRESENT
    in the output — so when a re-landed doc was the ONLY occupant of an
    old bucket and its new text hashes elsewhere, that bucket has zero
    merged rows and would silently keep its stale band keys unless the
    store deletes empty touched partitions explicitly. Single-doc
    corpus makes every old bucket sole-occupant, forcing the hole."""
    from dqe_spark.sources import minhash_store as MS

    p = MS._store_dir(SF_SMOKE)
    v1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    v2 = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten eleven")],
        "doc_id long, text string",
    )
    try:
        MS.build_minhash_store(spark, SF_SMOKE, docs=v1, force=True)
        old = {(r["band"], r["key"]) for r in spark.read.parquet(str(p)).collect()}
        MS.merge_minhash_increment(spark, SF_SMOKE, v2)
        got = _snapshot(spark, p)
        MS.build_minhash_store(spark, SF_SMOKE, docs=v2, force=True)
        assert got == _snapshot(spark, p)
        # the scenario actually exercised the hole: no v1 band key
        # survives in the merged store
        assert not (old & {(b, k) for _, b, k in got})

        # purge has the same hole: removing the sole occupant of a
        # bucket must delete the partition, not skip it
        MS.build_minhash_store(spark, SF_SMOKE, docs=v1.unionByName(v2.withColumn("doc_id", F.lit(2))), force=True)
        MS.purge_doc_ids(spark, SF_SMOKE, v1.select("doc_id"))
        got2 = _snapshot(spark, p)
        MS.build_minhash_store(
            spark, SF_SMOKE, docs=v2.withColumn("doc_id", F.lit(2)), force=True
        )
        assert got2 == _snapshot(spark, p)
    finally:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)  # restore


def test_purge_equals_rebuild_without_docs(spark):
    """Purging ids from BOTH doc stores equals rebuilding each from the
    filtered corpus, and purged docs vanish from search results."""
    from dqe_spark.sources import minhash_store as MS
    from dqe_spark.sources import text_index as TI

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    victims = docs.select("doc_id").where(F.col("doc_id") % 17 == 3)
    vset = {r["doc_id"] for r in victims.collect()}
    kept_docs = docs.where(~F.col("doc_id").isin(vset))

    try:
        # minhash store
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
        MS.purge_doc_ids(spark, SF_SMOKE, victims)
        got = _snapshot(spark, MS._store_dir(SF_SMOKE))
        MS.build_minhash_store(spark, SF_SMOKE, docs=kept_docs, force=True)
        assert got == _snapshot(spark, MS._store_dir(SF_SMOKE))

        # text index
        TI.build_text_index(spark, SF_SMOKE, force=True)
        TI.purge_doc_ids(spark, SF_SMOKE, victims)
        p = TI._index_dir(SF_SMOKE)
        left = {r["doc_id"] for r in spark.read.parquet(str(p)).select("doc_id").distinct().collect()}
        assert not (left & vset)
        hits = {r.doc_id for r in TI.keyword_search(spark, SF_SMOKE, ["the"]).collect()}
        assert not (hits & vset)
        ds = {r["doc_id"] for r in spark.read.parquet(str(p / "_docstats")).collect()}
        assert not (ds & vset)
        TI.build_text_index(spark, SF_SMOKE, force=True, docs=kept_docs)
        want_left = {
            r["doc_id"]
            for r in spark.read.parquet(str(p)).select("doc_id").distinct().collect()
        }
        assert left == want_left
    finally:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
        TI.build_text_index(spark, SF_SMOKE, force=True)


def test_autoscale_rebucket_equals_fresh_build(spark):
    """Band-store twin of the gram-store autoscale pin: growth across
    a bucket-count doubling re-buckets loudly, the migrated store
    equals a fresh build at the new count, and the probe still finds
    a planted near-dup through the new layout. Variant store — the
    canonical one is untouched."""
    from dqe_spark.operators.dedup import MINHASH_BANDS
    from dqe_spark.sources import minhash_store as MS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    first = docs.where(F.col("doc_id") < cut)
    rest = docs.where(F.col("doc_id") >= cut)
    var = "autoscale_test"
    p = MS._store_dir(SF_SMOKE, var)

    n_docs = docs.count()
    # full corpus wants ≥2× the floor; the first half sits at the floor
    target = max(1, (n_docs * MINHASH_BANDS) // (MS.N_KEY_BUCKETS * 2))

    MS.build_minhash_store(
        spark, SF_SMOKE, docs=first, variant=var, force=True,
        target_rows=target,
    )
    n0 = MS._n_buckets(p)
    MS.merge_minhash_increment(
        spark, SF_SMOKE, rest, target_rows=target, variant=var
    )
    n1 = MS._n_buckets(p)
    assert n1 > n0, (n0, n1)

    got = _snapshot(spark, p)
    MS.build_minhash_store(
        spark, SF_SMOKE, docs=docs, variant=var, force=True, n_buckets=n1
    )
    assert got == _snapshot(spark, p)

    # probe through the migrated layout finds a planted near-dup
    base_max = docs.agg(F.max("doc_id")).first()[0]
    some_text = docs.orderBy("doc_id").limit(1).first()["text"]
    new = spark.createDataFrame(
        [(base_max + 1, some_text + " tail")], "doc_id long, text string"
    )
    hits = MS.neardup_against_store(
        spark, SF_SMOKE, new, 0.5, variant=var
    ).collect()
    assert any(r["new_id"] == base_max + 1 for r in hits)

    from dqe_spark.sources.store import drop

    drop(p)


def test_expire_docs_before_equals_rebuild_from_filtered_corpus(spark):
    """Minhash-store TTL: post-TTL store (bands AND shingle sidecar)
    equals a fresh build from the age-filtered corpus — the lifecycle
    invariant the gram store and rollup ladders pin."""
    from dqe_spark.sources import minhash_store as MS

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cutoff = int(docs.agg(F.expr("percentile_approx(doc_id, 0.3)")).first()[0])
    p = MS._store_dir(SF_SMOKE)
    try:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
        MS.expire_docs_before(spark, SF_SMOKE, cutoff)
        got = _snapshot(spark, p)
        got_sh = sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(p / "_shingles")).collect()
        )
        assert got and all(r[0] >= cutoff for r in got)
        assert got_sh and all(d >= cutoff for d in got_sh)
        MS.build_minhash_store(
            spark, SF_SMOKE,
            docs=docs.where(F.col("doc_id") >= cutoff), force=True,
        )
        assert got == _snapshot(spark, p)
        assert got_sh == sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(p / "_shingles")).collect()
        )
    finally:
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
