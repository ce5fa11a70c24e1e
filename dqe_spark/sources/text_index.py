"""Inverted token index: keyword search over the documents corpus
without a full-text scan.

A corpus filter like "every document mentioning X and Y" is a daily
operation in training-data curation; scanning 100 TB of text per query
is not. The index is the classic inverted list, laid out for Spark
partition pruning:

    _store/<sf>/text_index/tb=<b>/part-*.parquet
        (token, doc_id, tf, positions)
    _store/<sf>/text_index/_docstats/   (doc_id, dl)

  * ``tb`` = crc32(token) mod N_BUCKETS — a term lookup computes the
    same bucket driver-side, so the scan opens 1/N of the files
    (PartitionFilters; plan-asserted in tests/test_text_index.py).
  * files are token-sorted, so the token equality predicate becomes
    row-group min/max skipping within the bucket.
  * one posting row per (doc, distinct token) carrying the term
    frequency and the 0-based occurrence positions — the standard
    positional index (row count is Σ distinct tokens per doc; stored
    ints are Σ occurrences, the price of phrase queries), serving
    boolean search (keyword_search), BM25 ranking (bm25_search), and
    exact phrase matching (phrase_search) without ever re-reading
    document text.

Tokenization is the engine's standard word rule (lowercase,
``[^a-z0-9]+`` delimiters) — identical in the DuckDB oracle
(string_split_regex), so search results are exactly replayable.

At 100 TB: the index build is one map + one shuffle-free partitioned
write (the explode is map-side; repartition("tb") co-locates each
bucket). Search reads K pruned buckets (K = #terms), then a tiny
groupBy on doc_id — cost scales with posting-list length, never corpus
size. Incremental maintenance = rewrite the touched buckets with the
new docs' postings in a new generation (store.publish_replacing:
bytes rewritten ∝ the touched buckets plus ``_docstats``, one hardlink
per carried file), same pattern as the rollup increments. No
small-file compaction is needed by construction: every merge/purge
repartitions by tb, so each touched bucket is always replaced by
exactly one sorted file.
"""

from __future__ import annotations

import re
import zlib
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.sources.store import (
    STORE_ROOT,
    current,
    publish,
    publish_replacing,
)

N_BUCKETS_DEFAULT = 64

#: the word rule shared with the oracle side (and operators/text.py)
TOKEN_DELIM = "[^a-z0-9]+"


def _index_dir(sf_dir: str) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / "text_index"


def index_path(sf_dir: str) -> Path | None:
    """The index's current generation, or None when never built."""
    p = _index_dir(sf_dir)
    return current(p) if (p / "_SUCCESS").exists() else None


def _n_buckets(p: Path) -> int:
    marker = p / "_BUCKETS"
    return int(marker.read_text()) if marker.exists() else N_BUCKETS_DEFAULT


def _tokens_col() -> Column:
    return F.expr(
        f"filter(split(lower(text), '{TOKEN_DELIM}'), x -> x != '')"
    )


def _postings(docs: DataFrame, n_buckets: int) -> DataFrame:
    # postings carry the term frequency (tf) and the 0-based token
    # positions (the standard positional inverted index — size is
    # Σ token OCCURRENCES, the classic cost of phrase support). Still
    # map-only: both derive from the doc's own token array (O(len²)
    # per doc, trivially small), no groupBy in the build.
    return (
        docs.select("doc_id", _tokens_col().alias("__tk"))
        .select(
            "doc_id",
            "__tk",
            F.explode(F.array_distinct("__tk")).alias("token"),
        )
        .select(
            "doc_id",
            "token",
            F.expr(
                "filter(sequence(0, size(__tk) - 1), i -> __tk[i] = token)"
            ).alias("positions"),
        )
        .select(
            "doc_id", "token", F.size("positions").alias("tf"), "positions"
        )
        .withColumn(
            "tb", F.pmod(F.crc32(F.col("token")), F.lit(n_buckets)).cast("int")
        )
    )


def _docstats(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.size(_tokens_col()).alias("dl"))


def build_text_index(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = N_BUCKETS_DEFAULT,
    force: bool = False,
    docs: DataFrame | None = None,
) -> Path:
    """Materialize the inverted index (idempotent, published through
    store.publish).
    ``docs`` overrides the corpus source (used by tests and bootstrap
    ingests); default is the sf_dir's documents table."""
    out = _index_dir(sf_dir)
    if not force and index_path(sf_dir) is not None:
        # layout upgrade: a pre-tf/pre-positions index (or one without
        # doc stats) rebuilds once from the corpus instead of silently
        # serving the old schema
        cols = set(spark.read.parquet(str(index_path(sf_dir))).columns)
        if {"tf", "positions"} <= cols and (
            out / "_docstats" / "_SUCCESS"
        ).exists():
            return out
        if docs is not None:
            # an increment can't upgrade the layout: it only carries
            # the NEW docs, and a rebuild from them would drop the rest
            raise RuntimeError(
                f"text index at {out} predates the tf layout; rebuild "
                "with build_text_index(..., force=True) before merging"
            )
        force = True
    if docs is None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    postings = _postings(docs, n_buckets)

    def write(gen: Path) -> None:
        _write_index(postings, _docstats(docs), gen)
        (gen / "_BUCKETS").write_text(str(n_buckets))

    return publish(out, write)


def _write_index(postings: DataFrame, docstats: DataFrame, gen: Path) -> None:
    (
        postings.repartition("tb")
        .sortWithinPartitions("token", "doc_id")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(str(gen))
    )
    docstats.coalesce(1).write.mode("overwrite").parquet(str(gen / "_docstats"))


def _replace_buckets(
    sf_dir: str, touched: list[int], postings: DataFrame, docstats: DataFrame
) -> Path:
    """Publish ``postings`` as the new content of the ``touched``
    buckets and ``docstats`` as the new ``_docstats`` sidecar
    (store.publish_replacing): a touched bucket left without postings
    is absent — a purged doc can never be found through it — and every
    other bucket plus ``_BUCKETS`` is carried by hardlink."""
    return publish_replacing(
        _index_dir(sf_dir),
        [f"tb={b}" for b in touched],
        lambda gen: _write_index(postings, docstats, gen),
    )


def merge_index_increment(
    spark: SparkSession, sf_dir: str, new_docs: DataFrame
) -> Path:
    """Fold newly-landed documents' postings into the index: touched
    buckets (the new postings' tb values) are rewritten as
    existing ∪ new, (token, doc_id)-distinct, in a new generation
    (_replace_buckets) — cost proportional to the new docs'
    vocabulary, same pattern as the rollup/ANN increments.

    Contract: APPEND of new doc_ids (and idempotent re-landing of an
    unchanged doc — the distinct absorbs it). A doc whose TEXT changed
    leaves stale postings in buckets its new text no longer touches;
    changed-doc reindexing is a rebuild (or a doc-tombstone sweep), not
    this fast path."""
    build_text_index(spark, sf_dir, docs=new_docs)
    p = index_path(sf_dir)
    n = _n_buckets(p)
    inc = _postings(new_docs, n)
    touched = inc.select("tb").distinct()
    existing = spark.read.parquet(str(p)).join(
        F.broadcast(touched), "tb", "left_semi"
    )
    merged = (
        existing.select("doc_id", "token", "tf", "positions", "tb")
        .unionByName(inc)
        .distinct()
    )
    # doc stats follow the same contract (append of new doc_ids, the
    # distinct absorbs idempotent re-landing). Small table; at true
    # corpus scale partition by ingest date and append instead.
    ds = (
        spark.read.parquet(str(p / "_docstats"))
        .unionByName(_docstats(new_docs))
        .distinct()
    )
    # every touched bucket holds new postings, so none is named
    return _replace_buckets(sf_dir, [], merged, ds)


def _bucket_of(term: str, n_buckets: int) -> int:
    # zlib.crc32 == Spark's F.crc32 (standard CRC-32 over the bytes)
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def keyword_search(
    spark: SparkSession, sf_dir: str, terms: list[str], mode: str = "all"
) -> DataFrame:
    """doc_ids whose text contains all (``mode="all"``) or any
    (``mode="any"``) of the terms, answered from the inverted index.

    The per-term predicate pins BOTH the bucket (partition pruning)
    and the token (row-group skipping); the AND-semantics groupBy runs
    over the union of the K posting lists only."""
    if not terms:
        raise ValueError("keyword_search needs at least one term")
    if mode not in ("all", "any"):
        raise ValueError(f"bad mode {mode!r}")
    # normalize query terms to the INDEX token rule (lowercase,
    # [a-z0-9]+): an un-normalized term ('Vector', 'foo-bar') hashes to
    # a bucket but can never equal a stored token — silent zero hits.
    # A multi-token term ('foo-bar' → foo, bar) means: the document
    # contains every one of its tokens.
    norm: list[str] = []
    for t in terms:
        toks = [x for x in re.split(TOKEN_DELIM, t.lower()) if x]
        if not toks:
            raise ValueError(
                f"term {t!r} has no indexable tokens (token rule: "
                f"lowercase [a-z0-9]+)"
            )
        norm.append(toks)
    flat = sorted({x for toks in norm for x in toks})
    build_text_index(spark, sf_dir)
    p = index_path(sf_dir)
    n = _n_buckets(p)
    idx = spark.read.parquet(str(p))
    pred = None
    for t in flat:
        c = (F.col("tb") == _bucket_of(t, n)) & (F.col("token") == t)
        pred = c if pred is None else (pred | c)
    hits = idx.where(pred)
    if mode == "any":
        # any term matches when ALL of that term's tokens are present
        per_doc = hits.groupBy("doc_id").agg(
            F.collect_set("token").alias("toks")
        )
        cond = None
        for toks in norm:
            c = F.lit(True)
            for x in toks:
                c = c & F.array_contains("toks", x)
            cond = c if cond is None else (cond | c)
        return per_doc.where(cond).select("doc_id")
    return (
        hits.groupBy("doc_id")
        .agg(F.count_distinct("token").alias("k"))
        .where(F.col("k") == len(flat))
        .select("doc_id")
    )


def _norm_terms(terms: list[str]) -> list[str]:
    flat: list[str] = []
    for t in terms:
        toks = [x for x in re.split(TOKEN_DELIM, t.lower()) if x]
        if not toks:
            raise ValueError(
                f"term {t!r} has no indexable tokens (token rule: "
                f"lowercase [a-z0-9]+)"
            )
        flat.extend(toks)
    return sorted(set(flat))


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str],
    k: int = 20,
    idf: str = "rational",
) -> DataFrame:
    """Ranked retrieval over the inverted index: top-k documents by a
    BM25 score (k1=1.2, b=0.75) for the query terms.

    ``idf`` picks the inverse-document-frequency form:
      * "rational" (default): idf = (N − df + ½)/(df + ½) — BM25's
        idf argument WITHOUT the log. Every factor is then rational,
        so each per-term score is one exact integer floor-division in
        1e-6 units and the summed score is bit-identical across
        engines (cross-engine ln() differs in the last bit on ~8% of
        inputs — measured — which a hash-exact oracle cannot absorb).
        Single-term rankings are identical to log-BM25 (monotone
        transform); multi-term rankings weight rare terms more
        strongly.
      * "log": textbook BM25 idf = ln(1 + (N − df + ½)/(df + ½)),
        float scoring. For consumers; not oracle-hashable.

    Scale shape: the per-term predicate prunes index buckets exactly
    like keyword_search; df comes from a tiny per-token aggregate of
    the pruned postings; doc length joins in by doc_id from the doc
    stats sidecar; corpus constants (N, total tokens) are a 1-row
    broadcast. Cost scales with posting-list length, never corpus
    size. Final top-k is a k-row sort (TakeOrderedAndProject).
    """
    if not terms:
        raise ValueError("bm25_search needs at least one term")
    if idf not in ("rational", "log"):
        raise ValueError(f"bad idf {idf!r}")
    flat = _norm_terms(terms)
    build_text_index(spark, sf_dir)
    p = index_path(sf_dir)
    n = _n_buckets(p)
    idx = spark.read.parquet(str(p))
    pred = None
    for t in flat:
        c = (F.col("tb") == _bucket_of(t, n)) & (F.col("token") == t)
        pred = c if pred is None else (pred | c)
    hits = idx.where(pred).select("doc_id", "token", "tf")
    dft = hits.groupBy("token").agg(F.count("*").alias("df"))
    ds = spark.read.parquet(str(p / "_docstats"))
    totals = ds.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("t_tokens")
    )
    scored = (
        hits.join(F.broadcast(dft), "token")
        .join(ds, "doc_id")
        .crossJoin(F.broadcast(totals))
    )
    if idf == "rational":
        # ((2N−2df+1)·22·tf·T·10⁶) // ((2df+1)·(10·T·tf + 3·T + 9·dl·N))
        # = idf · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) in 1e-6 units,
        # every factor an exact integer (k1=1.2, b=0.75, avgdl=T/N)
        e6 = F.expr(
            "CAST((CAST(2 AS DECIMAL(38,0)) * n_docs - 2 * df + 1)"
            " * 22 * tf * t_tokens * 1000000 AS DECIMAL(38,0))"
            " div "
            "CAST((CAST(2 AS DECIMAL(38,0)) * df + 1)"
            " * (10 * t_tokens * tf + 3 * t_tokens + 9 * dl * n_docs)"
            " AS DECIMAL(38,0))"
        )
        per_doc = scored.select("doc_id", e6.alias("e6")).groupBy("doc_id").agg(
            F.sum("e6").alias("score_e6")
        )
        return (
            per_doc.select(
                "doc_id",
                (F.col("score_e6").cast("double") / 1000000.0).alias("score"),
                "score_e6",
            )
            .orderBy(F.col("score_e6").desc(), F.col("doc_id").asc())
            .limit(k)
            .select("doc_id", "score")
        )
    ln_idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * 2.2) / (
        F.col("tf")
        + 1.2
        * (
            0.25
            + 0.75
            * F.col("dl")
            * F.col("n_docs")
            / F.col("t_tokens")
        )
    )
    per_doc = (
        scored.select("doc_id", (ln_idf * tf_part).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score"))
    )
    return (
        per_doc.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "score")
    )


def phrase_search(
    spark: SparkSession, sf_dir: str, phrase: str
) -> DataFrame:
    """Exact phrase matching from the positional index: documents
    where the phrase's tokens occur CONSECUTIVELY, with the match
    count. Never re-reads document text — candidates come from the
    pruned posting buckets (same PartitionFilters as keyword_search)
    and adjacency is verified on the stored position lists: a match is
    a position p of the first token with p+i in the i-th token's list
    for every following token.

    Scale shape: K pruned bucket scans, one groupBy(doc_id) over the
    union of K posting lists (positions pivot into a token→positions
    map per candidate doc), then a JVM filter/exists fold per doc.
    Cost scales with posting-list length, never corpus size."""
    toks = [x for x in re.split(TOKEN_DELIM, phrase.lower()) if x]
    if len(toks) < 2:
        raise ValueError(
            f"phrase {phrase!r} needs at least two indexable tokens; "
            "use keyword_search for single terms"
        )
    uniq = sorted(set(toks))
    build_text_index(spark, sf_dir)
    p = index_path(sf_dir)
    n = _n_buckets(p)
    idx = spark.read.parquet(str(p))
    pred = None
    for t in uniq:
        c = (F.col("tb") == _bucket_of(t, n)) & (F.col("token") == t)
        pred = c if pred is None else (pred | c)
    per_doc = (
        idx.where(pred)
        .groupBy("doc_id")
        .agg(
            F.map_from_arrays(
                F.collect_list("token"), F.collect_list("positions")
            ).alias("pm"),
            F.count_distinct("token").alias("k"),
        )
        .where(F.col("k") == len(uniq))
    )
    chain = " AND ".join(
        f"array_contains(pm['{t}'], p + {i})"
        for i, t in enumerate(toks[1:], start=1)
    )
    n_matches = F.expr(f"size(filter(pm['{toks[0]}'], p -> {chain}))")
    return (
        per_doc.select("doc_id", n_matches.cast("long").alias("n_matches"))
        .where(F.col("n_matches") > 0)
    )


def purge_doc_ids(
    spark: SparkSession, sf_dir: str, doc_ids: DataFrame
) -> Path:
    """Remove documents from the index (takedown / right-to-be-
    forgotten): buckets containing any purged doc rewrite WITHOUT its
    postings in a new generation (_replace_buckets) — cost
    proportional to the touched buckets, not the index; doc stats drop
    the ids too.
    Equals a rebuild from the filtered corpus, posting for posting
    (asserted in tests). ``doc_ids`` is a 1-column (doc_id) frame."""
    p = index_path(sf_dir)
    ids = F.broadcast(doc_ids.select("doc_id").distinct())
    idx = spark.read.parquet(str(p))
    touched = sorted(
        r["tb"]
        for r in idx.join(ids, "doc_id", "left_semi")
        .select("tb")
        .distinct()
        .collect()
    )  # driver-side, bounded by the bucket count
    kept = (
        idx.where(F.col("tb").isin(touched))
        .join(ids, "doc_id", "left_anti")
        .select("doc_id", "token", "tf", "positions", "tb")
    )
    ds = spark.read.parquet(str(p / "_docstats")).join(
        ids, "doc_id", "left_anti"
    )
    return _replace_buckets(sf_dir, touched, kept, ds)

