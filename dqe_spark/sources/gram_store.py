"""Persisted positional k-gram store: incremental EXACT-SUBSTRING
dedup of NEWLY LANDED documents against the indexed corpus — without
re-reading or re-hashing the corpus.

This is the substring complement of the MinHash store
(minhash_store.py): where that answers "which stored docs is this new
doc NEAR-duplicate of", this answers "which token spans of this new
doc already exist verbatim in the corpus" (the Lee-et-al. cut list
for streaming ingest — new text gets its duplicated spans marked or
excised at landing time, with the corpus as the canonical owner).

Layout (same conventions as the minhash/text-index/rollup stores):

    _store/<sf>/grams/gb=<b>/part-*.parquet   (doc_id, p, gram)
    _store/<sf>/grams/_BUCKETS                (the layout's N)

  * ``gb`` = crc32(gram) mod N, where N is AUTO-SIZED at build time
    (store.auto_buckets: power of two targeting ~GRAM_TARGET_ROWS
    rows per bucket, floor N_GRAM_BUCKETS) and pinned in the
    ``_BUCKETS`` marker so every probe hashes with the layout that is
    actually on disk. The probe joins on (gb, gram); with a small
    increment, dynamic partition pruning reads only the buckets the
    new documents' grams hash to.
  * increments, purges and TTL rewrite only the touched buckets, in a
    new generation (store.publish_replacing: bytes rewritten ∝ the
    touched buckets, plus one hardlink per carried file), with
    last-write-wins per doc_id (a re-landed changed doc leaves no
    stale grams). When growth pushes the auto size past the
    stored layout, the merge re-buckets FIRST (rebucket_gram_store —
    a loud, full, but log-amortized rewrite: counts double, so it
    happens O(log growth) times) and the increment itself stays
    ∝ increment (pinned in tests/test_gram_store.py).

Hashing is the positional-md5 scheme from operators/dedup.py
(positional_grams), so the DuckDB oracle replays the full pipeline
(`dedup_substring_incr`).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.operators.dedup import merge_position_islands, positional_grams
from dqe_spark.operators.partitioning import spread
from dqe_spark.sources.store import (
    STORE_ROOT,
    auto_buckets,
    current,
    publish,
    publish_replacing,
)

K_GRAM = 5
#: floor of the auto-sized layout (also the legacy fixed count — a
#: pre-marker store on disk reads back as 64).
N_GRAM_BUCKETS = 64
#: auto-sizing target: ~4M gram rows per bucket (~40 B/row ≈ 160 MB
#: raw per bucket) — at 100 TB the count grows with the corpus instead
#: of pinning 1/64th of all grams in one bucket.
GRAM_TARGET_ROWS = 4_000_000


def _store_dir(sf_dir: str, variant: str | None = None) -> Path:
    """``variant`` names an independent sibling store (fixture subsets,
    A/B layouts) — e.g. grams__mod10ne7 — so no caller ever mutates
    the canonical corpus store to stand in for a different one
    (advisor r7 #2: the old _SUBSET marker scheme left the shared
    store holding a subset that later consumers silently read)."""
    name = "grams" if variant is None else f"grams__{variant}"
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / name


def _n_buckets(p: Path) -> int:
    marker = p / "_BUCKETS"
    return int(marker.read_text()) if marker.exists() else N_GRAM_BUCKETS


def _grams_of(
    docs: DataFrame, k: int = K_GRAM, n_buckets: int = N_GRAM_BUCKETS
) -> DataFrame:
    """(doc_id, p, gram, gb) positional grams with their bucket —
    map-only. ``n_buckets`` must be the TARGET STORE's layout count
    (read from its _BUCKETS marker) or the probe join misses."""
    _, grams = positional_grams(docs, k)
    return grams.withColumn(
        "gb", F.pmod(F.crc32(F.col("gram")), F.lit(n_buckets)).cast("int")
    )


def _write_buckets(df: DataFrame, dest: Path) -> None:
    (
        df.repartition("gb")
        .sortWithinPartitions("gram", "doc_id", "p")
        .write.mode("overwrite")
        .partitionBy("gb")
        .parquet(str(dest))
    )


def _write_layout(df: DataFrame, dest: Path, n_buckets: int) -> None:
    _write_buckets(df, dest)
    (dest / "_BUCKETS").write_text(str(n_buckets))


def _replace_buckets(p: Path, touched: list[int], rows: DataFrame) -> Path:
    """Publish ``rows`` as the new content of the ``touched`` buckets
    (store.publish_replacing): a touched bucket left without rows is
    absent, every other bucket is carried by hardlink."""
    return publish_replacing(
        p, [f"gb={b}" for b in touched], lambda gen: _write_buckets(rows, gen)
    )


def build_gram_store(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    k: int = K_GRAM,
    force: bool = False,
    n_buckets: int | None = None,
    target_rows: int = GRAM_TARGET_ROWS,
    variant: str | None = None,
) -> Path:
    """Materialize the corpus's positional grams (idempotent, published
    through store.publish). ``docs`` overrides the corpus source;
    ``n_buckets=None`` auto-sizes from the gram count; ``variant``
    builds an independent sibling store (fixtures never mutate the
    canonical one)."""
    out = _store_dir(sf_dir, variant)
    if (out / "_SUBSET").exists():
        # one-time migration: a pre-round-8 fixture left the CANONICAL
        # store holding a marked subset — rebuild it from the corpus
        # (subset fixtures now live in their own variant directories)
        print(f"[gram_store] {out} holds a stale _SUBSET fixture; rebuilding")
        force, docs = True, None
    if not force and (out / "_SUCCESS").exists():
        return out
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if n_buckets is None:
        # auto-size: materialize once (checkpoint), count, then re-key
        # if the chosen layout differs from the default hash
        grams = _grams_of(spread(docs), k).localCheckpoint(eager=True)
        n_buckets = auto_buckets(
            grams.count(), target_rows, lo=N_GRAM_BUCKETS
        )
    else:
        grams = _grams_of(spread(docs), k)
    if n_buckets != N_GRAM_BUCKETS:
        # _grams_of hashed with the default; re-key for the chosen layout
        grams = grams.withColumn(
            "gb", F.pmod(F.crc32(F.col("gram")), F.lit(n_buckets)).cast("int")
        )
    return publish(out, lambda gen: _write_layout(grams, gen, n_buckets))


def rebucket_gram_store(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int,
    variant: str | None = None,
) -> Path:
    """Migrate the store to a new bucket count: one full re-keyed
    rewrite FROM THE STORE ITSELF (no corpus re-read, no re-hashing of
    grams — only crc32 % N changes). Loud by design: this is the
    O(store) step that buys back O(increment) rewrites, and it runs
    only when the auto size crosses a power of two — O(log growth)
    times over a store's life."""
    p = _store_dir(sf_dir, variant)
    cur = _n_buckets(p)
    if cur == n_buckets:
        return p
    print(
        f"[gram_store] re-bucketing {p}: {cur} -> {n_buckets} buckets "
        f"(full rewrite, amortized over the growth that triggered it)"
    )
    rekeyed = (
        spark.read.parquet(str(current(p)))
        .select("doc_id", "p", "gram")
        .withColumn(
            "gb", F.pmod(F.crc32(F.col("gram")), F.lit(n_buckets)).cast("int")
        )
    )
    return publish(p, lambda gen: _write_layout(rekeyed, gen, n_buckets))


def merge_gram_increment(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    k: int = K_GRAM,
    target_rows: int = GRAM_TARGET_ROWS,
    variant: str | None = None,
) -> Path:
    """Fold new documents into the gram store with LAST-WRITE-WINS per
    doc_id (same contract and cost shape as merge_minhash_increment:
    old rows of re-landed docs anti-joined out, rewrite touches only
    the buckets the new keys hash to ∪ the re-landed docs' old
    buckets; the touched-bucket list is driver-sized by the INCREMENT,
    never by the store — each new gram maps to one bucket). Published
    as a new generation (_replace_buckets).

    Growth check first: if the merged size pushes auto_buckets past
    the stored layout, re-bucket BEFORE merging (loud full rewrite,
    O(log growth) occurrences) so the increment rewrite itself stays
    ∝ increment at every store size."""
    build_gram_store(
        spark,
        sf_dir,
        docs=new_docs,
        k=k,
        target_rows=target_rows,
        variant=variant,
    )
    p = _store_dir(sf_dir, variant)
    inc_rows = _grams_of(spread(new_docs), k).count()
    stored_rows = spark.read.parquet(str(current(p))).count()  # column-pruned scan
    desired = auto_buckets(
        stored_rows + inc_rows, target_rows, lo=N_GRAM_BUCKETS
    )
    if desired > _n_buckets(p):
        rebucket_gram_store(spark, sf_dir, desired, variant)
    nb = _n_buckets(p)
    inc = _grams_of(spread(new_docs), k, nb)
    new_ids = new_docs.select("doc_id").distinct()
    stored = spark.read.parquet(str(current(p)))
    stale_gb = stored.join(F.broadcast(new_ids), "doc_id", "left_semi").select(
        "gb"
    )
    touched_gb = sorted(
        r["gb"]
        for r in inc.select("gb").unionByName(stale_gb).distinct().collect()
    )
    existing = stored.where(F.col("gb").isin(touched_gb)).join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    merged = (
        existing.select("doc_id", "p", "gram", "gb").unionByName(inc).distinct()
    )
    return _replace_buckets(p, touched_gb, merged)


def spans_against_store(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    k: int = K_GRAM,
    variant: str | None = None,
) -> DataFrame:
    """The cut list of ``new_docs`` against the INDEXED corpus: token
    spans of each new doc whose k-grams already exist verbatim in a
    DIFFERENT stored document (the store is canonical — landing-time
    semantics of duplicate_substring_spans, where the corpus always
    out-owns the newcomer). New docs are hashed fresh; the store is
    probed via the (gb, gram) bucket join and never re-read in full.

    Output: (doc_id, span_start, span_tokens) over the new docs."""
    p = current(_store_dir(sf_dir, variant))
    nb = _grams_of(spread(new_docs), k, _n_buckets(p)).select(
        "doc_id", "p", "gram", "gb"
    )
    sb = spark.read.parquet(str(p)).select(
        F.col("doc_id").alias("store_id"), "gram", "gb"
    )
    cuts = (
        nb.join(sb, ["gb", "gram"])
        .where(F.col("store_id") != F.col("doc_id"))
        .select("doc_id", "p")
        .distinct()
    )
    return merge_position_islands(cuts, k)


def _drop_rows_where(spark: SparkSession, p: Path, gone) -> Path:
    """Shared rewrite for purge and TTL: remove rows matching ``gone``,
    touching only the buckets that actually hold such rows
    (_replace_buckets), so the store equals a rebuild from the
    filtered corpus."""
    stored = spark.read.parquet(str(current(p)))
    touched = sorted(
        r["gb"] for r in stored.where(gone).select("gb").distinct().collect()
    )
    if not touched:
        return p
    kept = stored.where(F.col("gb").isin(touched)).where(~gone)
    return _replace_buckets(p, touched, kept)


def purge_doc_ids(
    spark: SparkSession,
    sf_dir: str,
    doc_ids: list[int],
    variant: str | None = None,
) -> Path:
    """Takedown: remove every gram row of the given doc_ids, touching
    only the buckets that actually hold their rows (same contract as
    the minhash/text-index purges: the rewritten store equals a
    rebuild from the filtered corpus)."""
    p = _store_dir(sf_dir, variant)
    return _drop_rows_where(
        spark, p, F.col("doc_id").isin([int(i) for i in doc_ids])
    )


def expire_docs_before(
    spark: SparkSession,
    sf_dir: str,
    doc_id_cutoff: int,
    variant: str | None = None,
) -> Path:
    """Age-out (TTL) for the gram store — the lifecycle the rollup
    ladders already have (rollup.expire_rollup_before; round-7 verdict
    #6). Documents carry no timestamp, so retention is expressed on
    the landing order: every gram row of doc_id < cutoff is dropped.
    Same touched-bucket rewrite as purge —
    post-TTL store == rebuild from the age-filtered corpus (pinned in
    tests/test_gram_store.py). Grams hash uniformly, so an age-out
    usually touches every bucket — that is the design point shared
    with the rollup ladders: the gram store is the SMALL long-horizon
    derivative; the raw corpus expires first via partition unlink."""
    p = _store_dir(sf_dir, variant)
    return _drop_rows_where(
        spark, p, F.col("doc_id") < int(doc_id_cutoff)
    )
