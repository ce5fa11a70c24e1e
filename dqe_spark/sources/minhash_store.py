"""Persisted MinHash signature store: incremental near-duplicate
detection of NEWLY LANDED documents against the indexed corpus —
without re-reading or re-hashing the corpus.

This is the daily dedup workflow at 100 TB: the corpus's band keys and
shingle sets are computed once and persisted; each increment only
hashes the new documents, probes the band store for candidates, and
exact-verifies those candidates against the stored shingle sets.

Layout (same conventions as the text index / rollup stores):

    _store/<sf>/minhash/bb=<b>/part-*.parquet   (doc_id, band, key)
    _store/<sf>/minhash/_shingles/              (doc_id, shs)
    _store/<sf>/minhash/_BUCKETS                (the layout's N)

  * ``bb`` = crc32(key) mod N, where N is AUTO-SIZED at build time
    (store.auto_buckets: power of two targeting ~KEY_TARGET_ROWS band
    rows per bucket, floor N_KEY_BUCKETS) and pinned in ``_BUCKETS``
    so probes hash with the on-disk layout. The candidate probe joins
    on (bb, band, key); with a small increment, dynamic partition
    pruning reads only the buckets the new documents' keys hash to.
    Growth past the layout re-buckets loudly first
    (rebucket_minhash_store, O(log growth) occurrences), keeping each
    increment rewrite ∝ increment.
  * ``_shingles`` backs exact Jaccard verification of candidates —
    only candidate doc_ids are ever fetched (semi-join sized by the
    candidate set, not the corpus).
  * increments and purges rewrite only the touched buckets and the
    shingle sidecar, in a new generation (store.publish_replacing:
    bytes rewritten ∝ the touched buckets plus the sidecar, one
    hardlink per carried file); re-landing an unchanged doc is
    absorbed by distinct.

Hashing is the md5-derived scheme from operators/dedup.py, so the
DuckDB oracle replays the full pipeline (`dedup_minhash_incr`).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    _minhash_digest_cols,
    _minhash_lane_cols,
    shingle_sets,
)
from dqe_spark.operators.partitioning import spread
from dqe_spark.sources.store import (
    STORE_ROOT,
    auto_buckets,
    current,
    publish,
    publish_replacing,
)

#: floor of the auto-sized layout (also the legacy fixed count — a
#: pre-marker store on disk reads back as 64).
N_KEY_BUCKETS = 64
#: auto-sizing target: ~4M band-key rows per bucket (row ≈ 50 B →
#: ~200 MB raw per bucket); band rows = docs × MINHASH_BANDS, so the
#: count scales with the corpus instead of pinning 1/64th per bucket.
KEY_TARGET_ROWS = 4_000_000


def _store_dir(sf_dir: str, variant: str | None = None) -> Path:
    """``variant`` names an independent sibling store (fixture
    subsets) — no caller ever mutates the canonical corpus store to
    stand in for a different one (advisor r7 #2)."""
    name = "minhash" if variant is None else f"minhash__{variant}"
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / name


def _n_buckets(p: Path) -> int:
    marker = p / "_BUCKETS"
    return int(marker.read_text()) if marker.exists() else N_KEY_BUCKETS


def _bands_of(
    sets: DataFrame, id_col: str = "doc_id", k: int = MINHASH_K,
    bands: int = MINHASH_BANDS, n_buckets: int = N_KEY_BUCKETS,
) -> DataFrame:
    """(id, band, key, bb) long-form band keys from a shingle-set
    frame — map-only (same lane scheme as minhash_lsh_pairs).
    ``n_buckets`` must be the TARGET STORE's layout count (read from
    its _BUCKETS marker) or the probe join misses."""
    sig = sets.select(id_col, *_minhash_digest_cols("shs", k)).select(
        id_col, *_minhash_lane_cols(k)
    )
    rows = k // bands
    band_cols = [
        F.md5(
            F.concat_ws(",", *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    stack = ", ".join(f"'{b}', band{b}" for b in range(bands))
    return (
        sig.select(id_col, *band_cols)
        .select(id_col, F.expr(f"stack({bands}, {stack}) AS (band, key)"))
        .withColumn(
            "bb", F.pmod(F.crc32(F.col("key")), F.lit(n_buckets)).cast("int")
        )
    )


def _write_buckets(bands: DataFrame, dest: Path) -> None:
    (
        bands.repartition("bb")
        .sortWithinPartitions("key", "doc_id")
        .write.mode("overwrite")
        .partitionBy("bb")
        .parquet(str(dest))
    )


def _write_layout(bands: DataFrame, dest: Path, n_buckets: int) -> None:
    _write_buckets(bands, dest)
    (dest / "_BUCKETS").write_text(str(n_buckets))


def _replace_buckets(
    p: Path, touched: list[int], bands: DataFrame, shingles: DataFrame
) -> Path:
    """Publish ``bands`` as the new content of the ``touched`` buckets
    and ``shingles`` as the new sidecar (store.publish_replacing): a
    touched bucket left without rows is absent — a purged or moved doc
    can never surface from it — and every other bucket is carried by
    hardlink."""

    def write(gen: Path) -> None:
        _write_buckets(bands, gen)
        shingles.write.mode("overwrite").parquet(str(gen / "_shingles"))

    return publish_replacing(p, [f"bb={b}" for b in touched], write)


def build_minhash_store(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
    force: bool = False,
    n_buckets: int | None = None,
    target_rows: int = KEY_TARGET_ROWS,
    variant: str | None = None,
) -> Path:
    """Materialize band keys + shingle sets for the corpus (idempotent,
    published through store.publish). ``docs`` overrides the corpus source;
    ``n_buckets=None`` auto-sizes from the band-row count (docs ×
    MINHASH_BANDS — known after one cheap count, no band
    materialization needed)."""
    out = _store_dir(sf_dir, variant)
    if (out / "_SUBSET").exists():
        # one-time migration: a pre-round-8 fixture left the CANONICAL
        # store holding a marked subset — rebuild it from the corpus
        print(f"[minhash_store] {out} holds a stale _SUBSET fixture; rebuilding")
        force, docs = True, None
    if not force and (out / "_SUCCESS").exists():
        return out
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if n_buckets is None:
        n_buckets = auto_buckets(
            docs.count() * MINHASH_BANDS, target_rows, lo=N_KEY_BUCKETS
        )
    sets = shingle_sets(spread(docs))

    def write(gen: Path) -> None:
        _write_layout(_bands_of(sets, n_buckets=n_buckets), gen, n_buckets)
        sets.write.mode("overwrite").parquet(str(gen / "_shingles"))

    return publish(out, write)


def rebucket_minhash_store(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int,
    variant: str | None = None,
) -> Path:
    """Migrate the band store to a new bucket count: one full re-keyed
    rewrite FROM THE STORE ITSELF (no corpus re-read, no re-hashing —
    only crc32 % N changes; the shingle sidecar is untouched). Loud by
    design — the O(store) step that buys back O(increment) rewrites,
    run only when the auto size crosses a power of two."""
    p = _store_dir(sf_dir, variant)
    cur = _n_buckets(p)
    if cur == n_buckets:
        return p
    print(
        f"[minhash_store] re-bucketing {p}: {cur} -> {n_buckets} buckets "
        f"(full rewrite, amortized over the growth that triggered it)"
    )
    live = current(p)
    rekeyed = (
        spark.read.parquet(str(live))
        .select("doc_id", "band", "key")
        .withColumn(
            "bb", F.pmod(F.crc32(F.col("key")), F.lit(n_buckets)).cast("int")
        )
    )
    # every old bucket is replaced; the bucket-agnostic shingle sidecar
    # is carried by hardlink
    return publish_replacing(
        p,
        [d.name for d in live.glob("bb=*")],
        lambda gen: _write_layout(rekeyed, gen, n_buckets),
    )


def merge_minhash_increment(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    target_rows: int = KEY_TARGET_ROWS,
    variant: str | None = None,
) -> Path:
    """Fold new documents into the store with LAST-WRITE-WINS per
    doc_id: a re-landed doc's OLD rows are anti-joined out of both the
    band store and the shingle sidecar before the new rows union in,
    so re-landing a doc whose text changed leaves no stale band keys
    and a deterministic shingle set (write order no longer matters;
    an unchanged re-land is still absorbed bit-identically).

    Cost shape: finding the old rows' buckets needs one column-pruned
    (doc_id, bb) scan of the band store — read-proportional but
    map-only; the REWRITE is still only the touched buckets (new keys'
    buckets ∪ re-landed docs' old buckets) plus the shingle sidecar,
    published as a new generation (_replace_buckets). Increments are
    small by contract, so the incoming doc_id set broadcasts.

    Growth check first: if the merged size pushes auto_buckets past
    the stored layout, re-bucket BEFORE merging (loud full rewrite,
    O(log growth) occurrences) so the increment rewrite itself stays
    ∝ increment at every store size."""
    build_minhash_store(
        spark, sf_dir, docs=new_docs, target_rows=target_rows, variant=variant
    )
    p = _store_dir(sf_dir, variant)
    stored_docs = (
        spark.read.parquet(str(current(p) / "_shingles")).count()
        + new_docs.select("doc_id").distinct().count()
    )
    desired = auto_buckets(
        stored_docs * MINHASH_BANDS, target_rows, lo=N_KEY_BUCKETS
    )
    if desired > _n_buckets(p):
        rebucket_minhash_store(spark, sf_dir, desired, variant)
    inc = _bands_of(shingle_sets(spread(new_docs)), n_buckets=_n_buckets(p))
    new_ids = new_docs.select("doc_id").distinct()
    live = current(p)
    stored = spark.read.parquet(str(live))
    stale_bb = stored.join(F.broadcast(new_ids), "doc_id", "left_semi").select(
        "bb"
    )
    # touched buckets collected driver-side — bounded by the INCREMENT
    # (each new key maps to one bucket), never by store size
    touched_bb = sorted(
        r["bb"]
        for r in inc.select("bb").unionByName(stale_bb).distinct().collect()
    )
    existing = stored.where(F.col("bb").isin(touched_bb)).join(
        F.broadcast(new_ids), "doc_id", "left_anti"
    )
    merged = (
        existing.select("doc_id", "band", "key", "bb").unionByName(inc).distinct()
    )
    sh = (
        spark.read.parquet(str(live / "_shingles"))
        .join(F.broadcast(new_ids), "doc_id", "left_anti")
        .unionByName(shingle_sets(spread(new_docs)))
        .dropDuplicates(["doc_id"])
    )
    return _replace_buckets(p, touched_bb, merged, sh)


def neardup_against_store(
    spark: SparkSession,
    sf_dir: str,
    new_docs: DataFrame,
    threshold: float,
    col: str = "text",
    id_col: str = "doc_id",
    variant: str | None = None,
) -> DataFrame:
    """Near-duplicates of ``new_docs`` against the INDEXED corpus:
    candidates from the (bb, band, key) probe join, exact Jaccard on
    candidates only (new side hashed fresh with the store's layout
    count, store side read from the shingle sidecar). Output
    (new_id, store_id, jaccard ≥ threshold); a re-landed identical
    doc_id is excluded (it is not a duplicate of itself)."""
    from pyspark import StorageLevel

    p = current(_store_dir(sf_dir, variant))
    new_sets = shingle_sets(spread(new_docs), col, id_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nb = _bands_of(new_sets, id_col, n_buckets=_n_buckets(p)).select(
        F.col(id_col).alias("new_id"), "band", "key", "bb"
    )
    sb = spark.read.parquet(str(p)).select(
        F.col("doc_id").alias("store_id"), "band", "key", "bb"
    )
    cand = (
        sb.join(nb, ["bb", "band", "key"])
        .where(F.col("store_id") != F.col("new_id"))
        .select("new_id", "store_id")
        .distinct()
    )
    sn = new_sets.select(F.col(id_col).alias("new_id"), F.col("shs").alias("shs_n"))
    ss = spark.read.parquet(str(p / "_shingles")).select(
        F.col("doc_id").alias("store_id"), F.col("shs").alias("shs_s")
    )
    inter = F.size(F.array_intersect("shs_n", "shs_s"))
    verified = (
        cand.join(sn, "new_id")
        .join(ss, "store_id")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("shs_n") + F.size("shs_s") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "store_id", F.round("jaccard", 4).alias("jaccard"))
    )
    return verified


def purge_doc_ids(
    spark: SparkSession,
    sf_dir: str,
    doc_ids: DataFrame,
    variant: str | None = None,
) -> Path:
    """Remove documents from the signature store (the takedown sweep,
    mirroring text_index.purge_doc_ids): touched bb buckets rewrite
    without the purged docs' band keys; the shingle sidecar drops them
    too (_replace_buckets). A purged doc can never again appear as a
    candidate OR as verification evidence."""
    p = _store_dir(sf_dir, variant)
    live = current(p)
    ids = F.broadcast(doc_ids.select("doc_id").distinct())
    bands = spark.read.parquet(str(live))
    touched_bb = sorted(
        r["bb"]
        for r in bands.join(ids, "doc_id", "left_semi")
        .select("bb")
        .distinct()
        .collect()
    )  # driver-side, bounded by N_KEY_BUCKETS
    kept = (
        bands.where(F.col("bb").isin(touched_bb))
        .join(ids, "doc_id", "left_anti")
        .select("doc_id", "band", "key", "bb")
    )
    sh = spark.read.parquet(str(live / "_shingles")).join(
        ids, "doc_id", "left_anti"
    )
    return _replace_buckets(p, touched_bb, kept, sh)


def expire_docs_before(
    spark: SparkSession,
    sf_dir: str,
    doc_id_cutoff: int,
    variant: str | None = None,
) -> Path:
    """Age-out (TTL) for the signature store — lifecycle parity with
    the gram store and the rollup ladders (round-8). Documents carry
    no timestamp, so retention is expressed on the landing order:
    every band row and shingle of doc_id < cutoff is dropped via the
    SAME rewrite purge_doc_ids uses, so post-TTL store == rebuild from
    the age-filtered corpus (pinned in tests/test_minhash_store.py)."""
    old = (
        spark.read.parquet(str(current(_store_dir(sf_dir, variant)) / "_shingles"))
        .select("doc_id")
        .where(F.col("doc_id") < int(doc_id_cutoff))
    )
    return purge_doc_ids(spark, sf_dir, old, variant)
