"""Persisted DSIR model (sources/dsir_store.py): store-served
selection equals the inline two-pass fit, increments sum-merge
losslessly, and the layout marker governs the hashing."""

from __future__ import annotations

from pyspark.sql import functions as F

from dqe_spark.operators import text as T
from dqe_spark.sources import dsir_store as DS
from tests.conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_store_served_selection_equals_inline(spark):
    """dsir_select(model=persisted counts) must return the EXACT rows
    of the inline fit — the store holds the same additive counts the
    fit computes, and every downstream number is integer-deterministic."""
    docs = _docs(spark)
    DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)
    inline = T.dsir_select(docs, F.col("lang") == "en", k=50).collect()
    served = T.dsir_select(
        docs,
        F.col("lang") == "en",
        k=50,
        model=DS.load_dsir_model(spark, SF_SMOKE, "en"),
    ).collect()
    assert [tuple(r) for r in inline] == [tuple(r) for r in served]
    assert len(served) == 50


def test_increment_merge_equals_full_rebuild(spark):
    """Model counts are additive: build from part A, merge part B
    through the increment path, equals the full-corpus build."""
    from dqe_spark.sources.store import publish

    docs = _docs(spark)
    part_a = docs.where(F.col("doc_id") % 3 != 0)
    part_b = docs.where(F.col("doc_id") % 3 == 0)
    store = DS._dsir_dir(SF_SMOKE, "en")
    try:
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)
        full = {
            r["bucket"]: (r["ct"], r["cr"])
            for r in spark.read.parquet(str(store)).collect()
        }
        # rebuild from A only (published through the same primitive)
        b = DS.DSIR_B
        model_a = T.dsir_model_counts(
            T.dsir_bucket_counts(part_a, F.col("lang") == "en", b)
        )

        def seed(gen):
            model_a.coalesce(1).write.mode("overwrite").parquet(str(gen))
            (gen / "_B").write_text(str(b))

        publish(store, seed)
        DS.merge_dsir_increment(spark, part_b, SF_SMOKE, "en")
        merged = {
            r["bucket"]: (r["ct"], r["cr"])
            for r in spark.read.parquet(str(store)).collect()
        }
        assert merged == full and full
        assert DS.dsir_b(SF_SMOKE, "en") == b
    finally:
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)


def test_load_is_memoized_and_invalidated(spark):
    from dqe_spark.sources import store as ST

    DS.build_dsir_model(spark, SF_SMOKE, "en")
    a = DS.load_dsir_model(spark, SF_SMOKE, "en")
    assert DS.load_dsir_model(spark, SF_SMOKE, "en") is a
    DS.merge_dsir_increment(spark, _docs(spark).limit(0), SF_SMOKE, "en")
    b = DS.load_dsir_model(spark, SF_SMOKE, "en")
    assert b is not a
    ST.invalidate_load_memo()


def test_selection_internally_consistent_at_B_and_2B(spark):
    """DSIR's B is FIXED BY DESIGN (unlike the CMS width): the hashed
    feature space is corpus-independent, B only trades weight bias vs
    variance. What must hold is INTERNAL consistency at any single B —
    store-served selection equals the inline fit at that same B — for
    both the default and a doubled layout (round-9 verdict #5)."""
    docs = _docs(spark)
    try:
        for b in (DS.DSIR_B, 2 * DS.DSIR_B):
            DS.build_dsir_model(
                spark, SF_SMOKE, "en", n_buckets=b, force=True
            )
            assert DS.dsir_b(SF_SMOKE, "en") == b
            inline = T.dsir_select(
                docs, F.col("lang") == "en", n_buckets=b, k=40
            ).collect()
            served = T.dsir_select(
                docs,
                F.col("lang") == "en",
                n_buckets=b,
                k=40,
                model=DS.load_dsir_model(spark, SF_SMOKE, "en"),
            ).collect()
            assert [tuple(r) for r in inline] == [tuple(r) for r in served]
            assert len(served) == 40
    finally:
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)


def test_front_doors_hash_pool_at_the_stores_B(spark):
    """The registry serve and the DQL front door must hash pool grams
    at the STORE's _B marker, not the 4096 default (round-9 advisor,
    medium): positions are hash % B, so a mismatch scores against
    garbage buckets. Rebuild the store at 2B and both doors must equal
    the inline selection at 2B."""
    from dqe_spark.entry import all_queries

    docs = _docs(spark)
    B2 = 2 * DS.DSIR_B
    qs = all_queries()
    try:
        DS.build_dsir_model(spark, SF_SMOKE, "en", n_buckets=B2, force=True)
        want = [
            tuple(r)
            for r in T.dsir_select(
                docs, F.col("lang") == "en", n_buckets=B2, k=100
            ).collect()
        ]
        got_reg = [
            tuple(r)
            for r in qs["text_dsir_select"](spark, SF_SMOKE).collect()
        ]
        assert got_reg == want
        got_dql = [
            tuple(r) for r in qs["dql_dsir"](spark, SF_SMOKE).collect()
        ]
        assert got_dql == want
    finally:
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)
