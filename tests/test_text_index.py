"""Inverted token index (sources/text_index.py): pruned search plans,
exactness vs a full-text scan, idempotent build."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _full_scan_ids(spark, terms, mode="all"):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    toks = F.array_distinct(F.split(F.lower(F.col("text")), "[^a-z0-9]+"))
    conds = [F.array_contains(toks, t) for t in terms]
    cond = conds[0]
    for c in conds[1:]:
        cond = (cond & c) if mode == "all" else (cond | c)
    return {r["doc_id"] for r in docs.where(cond).select("doc_id").collect()}


def test_search_matches_full_scan(spark):
    from dqe_spark.sources import text_index as TI

    TI.build_text_index(spark, SF_SMOKE, force=True)
    for terms, mode in (
        (["dup", "vector"], "all"),
        (["dup"], "all"),
        (["dup", "vector"], "any"),
    ):
        got = {
            r["doc_id"]
            for r in TI.keyword_search(spark, SF_SMOKE, terms, mode).collect()
        }
        assert got == _full_scan_ids(spark, terms, mode), (terms, mode)
    assert 0 < len(_full_scan_ids(spark, ["dup"])) < 100  # selective term


def test_search_normalizes_terms(spark):
    """Query terms are normalized to the index token rule: 'Vector'
    matches like 'vector', and a multi-token term ('dup-vector') means
    all of its tokens (advisor r3, low: un-normalized terms silently
    returned zero hits)."""
    import pytest

    from dqe_spark.sources import text_index as TI

    TI.build_text_index(spark, SF_SMOKE, force=True)

    def ids(terms, mode="all"):
        return {
            r["doc_id"]
            for r in TI.keyword_search(spark, SF_SMOKE, terms, mode).collect()
        }

    base = _full_scan_ids(spark, ["vector"])
    assert base and ids(["Vector"]) == base
    assert ids(["  VECTOR\t"]) == base
    # a hyphenated term = AND of its tokens, in both modes
    both = _full_scan_ids(spark, ["dup", "vector"], "all")
    assert ids(["dup-vector"], "all") == both
    assert ids(["dup-vector"], "any") == both
    # 'any' of a multi-token term and a plain term
    want_any = both | _full_scan_ids(spark, ["needle"])
    assert ids(["dup-vector", "Needle"], "any") == want_any
    # a term with no indexable tokens is an explicit error, not 0 rows
    with pytest.raises(ValueError, match="no indexable tokens"):
        TI.keyword_search(spark, SF_SMOKE, ["!!!"])


def test_search_plan_prunes_buckets(spark):
    from dqe_spark.sources import text_index as TI

    TI.build_text_index(spark, SF_SMOKE)
    df = TI.keyword_search(spark, SF_SMOKE, ["dup", "vector"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "tb" in pf


def test_build_is_idempotent(spark):
    from dqe_spark.sources import text_index as TI

    p1 = TI.build_text_index(spark, SF_SMOKE)
    p2 = TI.build_text_index(spark, SF_SMOKE)
    assert p1 == p2 and TI.index_path(SF_SMOKE) is not None


def test_merge_increment_equals_full_build(spark):
    """Index built on half the corpus + increment of the other half
    must equal the one-shot full build, posting for posting."""
    from dqe_spark.sources import text_index as TI

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cut = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).first()[0]
    TI.build_text_index(spark, SF_SMOKE, force=True)
    p = TI._index_dir(SF_SMOKE)
    want = sorted(
        (r["doc_id"], r["token"])
        for r in spark.read.parquet(str(p)).select("doc_id", "token").collect()
    )

    TI.build_text_index(
        spark, SF_SMOKE, force=True, docs=docs.where(F.col("doc_id") < cut)
    )
    TI.merge_index_increment(spark, SF_SMOKE, docs.where(F.col("doc_id") >= cut))
    got = sorted(
        (r["doc_id"], r["token"])
        for r in spark.read.parquet(str(p)).select("doc_id", "token").collect()
    )
    assert got == want
    # idempotent re-land: merging the same docs again changes nothing
    TI.merge_index_increment(spark, SF_SMOKE, docs.where(F.col("doc_id") >= cut))
    again = sorted(
        (r["doc_id"], r["token"])
        for r in spark.read.parquet(str(p)).select("doc_id", "token").collect()
    )
    assert again == want
    TI.build_text_index(spark, SF_SMOKE, force=True)  # restore


def test_bm25_plan_prunes_buckets_and_variants(spark):
    """bm25_search keeps keyword_search's pruning (K term buckets out
    of 64 in PartitionFilters), its log-idf variant ranks single-term
    queries identically to the rational default (monotone idf
    transform), and scores decrease down the ranking."""
    from dqe_spark.sources import text_index as TI

    TI.build_text_index(spark, SF_SMOKE, force=True)
    df = TI.bm25_search(spark, SF_SMOKE, ["dup", "vector"], k=5)
    je = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString
    plan = je.explainString(mode("formatted"))
    assert "PartitionFilters" in plan
    import re as _re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "tb" in ln]
    assert pf, plan

    rows = df.collect()
    assert rows and all(
        rows[i].score >= rows[i + 1].score for i in range(len(rows) - 1)
    )
    a = [r.doc_id for r in TI.bm25_search(spark, SF_SMOKE, ["dup"], k=8).collect()]
    b = [
        r.doc_id
        for r in TI.bm25_search(spark, SF_SMOKE, ["dup"], k=8, idf="log").collect()
    ]
    assert a == b

    import pytest as _pytest

    with _pytest.raises(ValueError):
        TI.bm25_search(spark, SF_SMOKE, [])
    with _pytest.raises(ValueError):
        TI.bm25_search(spark, SF_SMOKE, ["dup"], idf="bogus")


def test_old_layout_index_upgrades_once(spark):
    """A pre-tf index (no tf column, no _docstats) rebuilds from the
    corpus on next use; an INCREMENT against it fails loudly instead of
    rebuilding from the new docs alone (which would drop history)."""
    import pytest

    from dqe_spark.sources import text_index as TI
    from dqe_spark.sources.store import drop

    TI.build_text_index(spark, SF_SMOKE, force=True)
    p = TI._index_dir(SF_SMOKE)
    # forge the old layout: strip tf from the postings, drop _docstats
    old = spark.read.parquet(str(p)).select("doc_id", "token", "tb").collect()
    old_df = spark.createDataFrame(old, "doc_id long, token string, tb int")
    drop(p)  # the forged index is a legacy real directory
    (
        old_df.repartition("tb")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(str(p))
    )
    (p / "_BUCKETS").write_text(str(TI.N_BUCKETS_DEFAULT))
    assert "tf" not in spark.read.parquet(str(p)).columns

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(RuntimeError, match="predates the tf layout"):
        TI.merge_index_increment(spark, SF_SMOKE, docs.limit(5))

    # corpus-sourced build upgrades in place
    TI.build_text_index(spark, SF_SMOKE)
    assert "tf" in spark.read.parquet(str(p)).columns
    assert (p / "_docstats" / "_SUCCESS").exists()
    assert TI.bm25_search(spark, SF_SMOKE, ["dup"], k=3).count() > 0


def test_phrase_search_positions(spark):
    """Positional adjacency on crafted docs: matches counted, word
    order honored, repeated-word phrases handled, single-token phrases
    rejected."""
    from dqe_spark.sources import text_index as TI

    rows = [
        (1, "fast hash join beats slow hash join here"),
        (2, "join hash is not hash-join reversed"),  # 'hash-join' IS adjacent
        (3, "hash only"),
        (4, "echo echo echo"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    TI.build_text_index(spark, SF_SMOKE, force=True, docs=docs)
    try:
        got = {
            r.doc_id: r.n_matches
            for r in TI.phrase_search(spark, SF_SMOKE, "hash join").collect()
        }
        assert got == {1: 2, 2: 1}
        rep = {
            r.doc_id: r.n_matches
            for r in TI.phrase_search(spark, SF_SMOKE, "echo echo").collect()
        }
        assert rep == {4: 2}
        import pytest

        with pytest.raises(ValueError, match="at least two"):
            TI.phrase_search(spark, SF_SMOKE, "hash")
    finally:
        TI.build_text_index(spark, SF_SMOKE, force=True)  # restore corpus index



def test_increment_file_counts_stay_bounded(spark):
    """N successive small increments must NOT accrete small files:
    every merge shuffles the touched bucket's rows into one task and
    dynamic-overwrites the bucket dir, so per-bucket file count stays
    at 1 regardless of merge count (round-4 verdict, next-round #7) —
    and search results equal a from-scratch rebuild."""
    from dqe_spark.sources import minhash_store as MS
    from dqe_spark.sources import text_index as TI

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)

    def bucket_files(p, prefix):
        return {
            d.name: len(list(d.glob("*.parquet")))
            for d in p.iterdir()
            if d.is_dir() and d.name.startswith(prefix)
        }

    try:
        TI.build_text_index(spark, SF_SMOKE, docs=half, force=True)
        MS.build_minhash_store(spark, SF_SMOKE, docs=half, force=True)
        for i in range(4):  # four small increments each
            inc = rest.where(F.col("doc_id") % 8 == 2 * i + 1)
            TI.merge_index_increment(spark, SF_SMOKE, inc)
            MS.merge_minhash_increment(spark, SF_SMOKE, inc)
        ti_files = bucket_files(TI._index_dir(SF_SMOKE), "tb=")
        ms_files = bucket_files(MS._store_dir(SF_SMOKE), "bb=")
        assert ti_files and max(ti_files.values()) == 1, ti_files
        assert ms_files and max(ms_files.values()) == 1, ms_files
        got = sorted(
            tuple(r)
            for r in TI.bm25_search(
                spark, SF_SMOKE, ["dup", "hash", "join"], k=10
            ).collect()
        )
        TI.build_text_index(spark, SF_SMOKE, force=True)
        want = sorted(
            tuple(r)
            for r in TI.bm25_search(
                spark, SF_SMOKE, ["dup", "hash", "join"], k=10
            ).collect()
        )
        assert got == want
    finally:
        TI.build_text_index(spark, SF_SMOKE, force=True)
        MS.build_minhash_store(spark, SF_SMOKE, force=True)
