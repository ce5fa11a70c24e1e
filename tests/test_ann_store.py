"""Materialized ANN index (sources/ann_store.py): partition pruning,
determinism, and recall of the served query path."""

from __future__ import annotations

from conftest import SF_SMOKE, file_inodes
from pyspark.sql import functions as F


def test_ingest_is_idempotent_and_partitioned(spark):
    from dqe_spark.sources import ann_store

    p1 = ann_store.ingest_ann(spark, SF_SMOKE, force=True)
    p2 = ann_store.ingest_ann(spark, SF_SMOKE)  # no-op reuse
    assert p1 == p2
    cells = sorted(d.name for d in (p1 / "index").iterdir() if d.name.startswith("cell="))
    assert len(cells) >= 2  # multiple cell partitions materialized
    idx, meta = ann_store.load_ann(spark, SF_SMOKE)
    assert set(meta) >= {"centroids", "codebooks", "m_sub", "n_codes"}
    src = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assert idx.count() == src.count()


def test_probe_prunes_partitions(spark):
    """WHERE cell IN (...) must reach the scan as PartitionFilters —
    non-probed cells' files are never opened."""
    from dqe_spark.sources import ann_store

    ann_store.ingest_ann(spark, SF_SMOKE)
    idx, _ = ann_store.load_ann(spark, SF_SMOKE)
    plan = (
        idx.where(F.col("cell").isin([0, 1]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:", 1)[1].split("]", 1)[0]
    assert "cell" in pf


def test_merge_increment_upserts_and_prunes_untouched_cells(spark):
    """Incremental maintenance: new ids append, re-landed ids replace,
    untouched cell partitions are NOT rewritten (carried by hardlink)."""
    from dqe_spark.operators import similarity as S
    from dqe_spark.sources import ann_store

    p = ann_store.ingest_ann(spark, SF_SMOKE, force=True)
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    base_n = emb.count()
    _, meta = ann_store.load_ann(spark, SF_SMOKE)

    # increment: one brand-new id (vec of id 3) + one upsert (id 7
    # re-lands with id 8's embedding)
    new_id = emb.agg(F.max("vec_id")).first()[0] + 1
    inc = (
        emb.where(F.col("vec_id") == 3)
        .select(F.lit(new_id).alias("vec_id"), "embedding")
        .unionByName(
            emb.where(F.col("vec_id") == 8)
            .select(F.lit(7).alias("vec_id"), "embedding")
        )
    )
    idx0, _ = ann_store.load_ann(spark, SF_SMOKE)
    inc_cells = {
        r[0]
        for r in inc.select(
            S._nearest_centroid(F.col("embedding"), meta["centroids"])
        ).collect()
    } | {idx0.where(F.col("vec_id") == 7).first()["cell"]}  # old cell of the upsert
    untouched = [
        d
        for d in (p / "index").iterdir()
        if d.name.startswith("cell=")
        and int(d.name.split("=")[1]) not in inc_cells
    ]
    before = {d.name: file_inodes(d) for d in untouched}

    ann_store.merge_ann_increment(spark, SF_SMOKE, inc)

    idx, _ = ann_store.load_ann(spark, SF_SMOKE)
    assert idx.count() == base_n + 1  # upsert replaced, new appended
    got7 = idx.where(F.col("vec_id") == 7).select("embedding").first()[0]
    want = emb.where(F.col("vec_id") == 8).select("embedding").first()[0]
    assert list(got7) == list(want)
    # codes of the new row match a fresh frozen-codebook encode
    want_codes = S.pq_encode(inc, meta["codebooks"]).where(
        F.col("vec_id") == new_id
    ).first()["codes"]
    assert list(idx.where(F.col("vec_id") == new_id).first()["codes"]) == list(
        want_codes
    )
    # untouched cell partitions were not rewritten: every file is the
    # same inode, carried into the new generation by hardlink
    after = {d.name: file_inodes(p / "index" / d.name) for d in untouched}
    assert before == after
    ann_store.ingest_ann(spark, SF_SMOKE, force=True)  # restore for other tests


def test_served_knn_matches_operator_path(spark):
    """The store-served query returns the same ids as the in-memory
    IVF+PQ operators given identical parameters (both deterministic)."""
    import numpy as np

    from dqe_spark.sources import ann_store

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.where(F.col("vec_id") == 7).select("embedding")
    got = [r.vec_id for r in ann_store.knn_pq_probed(spark, SF_SMOKE, q, 10).collect()]

    # high-probe serving approaches exact search
    idx, meta = ann_store.load_ann(spark, SF_SMOKE)
    n_cells = meta["n_clusters"]
    all_probed = [
        r.vec_id
        for r in ann_store.knn_pq_probed(
            spark, SF_SMOKE, q, 10, probes=n_cells, rerank=emb.count()
        ).collect()
    ]
    data = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    qv = data[7]
    exact = sorted(data, key=lambda i: (round(((data[i] - qv) ** 2).sum(), 6), i))[:10]
    assert all_probed == exact
    # default probes=3/8, rerank=50: recall@10 ≥ 0.6 on this query
    # (the smoke embeddings are near-uniform, the hardest case for a
    # coarse quantizer — real corpora cluster far better)
    assert len(set(got) & set(exact)) >= 6


def test_purge_vector_ids(spark):
    """Purged vectors vanish from the index and from served probes;
    untouched cells are not rewritten; the result equals re-ingesting
    the filtered vectors (same frozen centroids/codebooks)."""
    import os

    from dqe_spark.sources import ann_store

    p = ann_store.ingest_ann(spark, SF_SMOKE, force=True)
    idx0, meta = ann_store.load_ann(spark, SF_SMOKE)
    id_col = meta["id_col"]
    n0 = idx0.count()
    victims = idx0.select(id_col).limit(3)
    vset = {r[id_col] for r in victims.collect()}
    # cells that hold no victim must keep their files untouched
    cell_of = {
        r["cell"]: None
        for r in idx0.join(
            F.broadcast(victims), id_col, "left_semi"
        ).select("cell").distinct().collect()
    }
    untouched = [
        d for d in os.listdir(p / "index")
        if d.startswith("cell=") and int(d.split("=")[1]) not in cell_of
    ]
    inodes = {d: file_inodes(p / "index" / d) for d in untouched}

    ann_store.purge_vector_ids(spark, SF_SMOKE, victims)
    idx1, _ = ann_store.load_ann(spark, SF_SMOKE)
    left = {r[id_col] for r in idx1.select(id_col).collect()}
    assert not (left & vset)
    assert idx1.count() == n0 - len(vset)
    for d in untouched:
        assert file_inodes(p / "index" / d) == inodes[d], d

    ann_store.ingest_ann(spark, SF_SMOKE, force=True)  # restore


def test_ann_increment_file_counts_stay_bounded(spark):
    """Round-5 verdict #7: the per-bucket one-file invariant proven
    for the text index / minhash store holds for the ANN index too —
    N successive merges keep every cell= dir at one parquet file
    (each merge shuffles a touched cell into one task and writes it
    afresh into the new generation), and the merged index equals a
    from-scratch ingest over the same rows."""
    from dqe_spark.sources import ann_store as AS

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    half = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    try:
        AS.ingest_ann(spark, SF_SMOKE, source=half, force=True)
        for i in range(4):
            AS.merge_ann_increment(
                spark, SF_SMOKE, rest.where(F.col("vec_id") % 8 == 2 * i + 1)
            )
        p = AS._ann_dir(SF_SMOKE) / "index"  # the link: always current
        files = {
            d.name: len(list(d.glob("*.parquet")))
            for d in p.iterdir()
            if d.is_dir() and d.name.startswith("cell=")
        }
        assert files and max(files.values()) == 1, files
        got = sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in spark.read.parquet(str(p)).collect()
        )
        # rebuild from scratch over the SAME training base (half) so
        # centroids/codebooks match, then upsert the rest in one go
        AS.ingest_ann(spark, SF_SMOKE, source=half, force=True)
        AS.merge_ann_increment(spark, SF_SMOKE, rest)
        want = sorted(
            (r["vec_id"], r["cell"], tuple(r["codes"]))
            for r in spark.read.parquet(str(p)).collect()
        )
        assert got == want
    finally:
        AS.ingest_ann(spark, SF_SMOKE, force=True)  # restore


def test_ann_upsert_vacating_sole_cell_leaves_no_stale_row(spark):
    """An upsert that moves a cell's ONLY occupant to another cell (or
    a purge emptying a cell) leaves that cell with no rows: it must be
    absent from the new generation, or the stale row keeps being
    served. Force it with a 2-vector corpus whose vectors land in
    different cells, then re-land one ON TOP of the other's
    position."""
    from dqe_spark.sources import ann_store as AS

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    two = emb.orderBy("vec_id").limit(2).localCheckpoint(eager=True)
    rows = two.collect()
    a, b = rows[0], rows[1]
    try:
        AS.ingest_ann(spark, SF_SMOKE, source=two, n_clusters=2, force=True)
        p = AS._ann_dir(SF_SMOKE) / "index"  # the link: always current
        idx = spark.read.parquet(str(p))
        cells = {r["vec_id"]: r["cell"] for r in idx.collect()}
        if cells[a["vec_id"]] != cells[b["vec_id"]]:
            # move a onto b's vector -> a's old cell becomes empty
            moved = spark.createDataFrame(
                [(a["vec_id"], list(b["embedding"]))],
                f"vec_id long, embedding {two.schema['embedding'].dataType.simpleString()}",
            )
            AS.merge_ann_increment(spark, SF_SMOKE, moved)
            left = spark.read.parquet(str(p)).groupBy("vec_id").count().collect()
            assert all(r["count"] == 1 for r in left), left
            got_cells = {
                r["vec_id"]: r["cell"]
                for r in spark.read.parquet(str(p)).collect()
            }
            assert got_cells[a["vec_id"]] == cells[b["vec_id"]]
        # purge the remaining sole occupant of a cell: dir must vanish
        AS.purge_vector_ids(spark, SF_SMOKE, two.select("vec_id").limit(1))
        purged_id = rows[0]["vec_id"]
        left = {r["vec_id"] for r in spark.read.parquet(str(p)).collect()}
        assert purged_id not in left
    finally:
        AS.ingest_ann(spark, SF_SMOKE, force=True)  # restore


def test_ingest_auto_sizes_cells_and_probes(spark, tmp_path):
    """n_clusters=None sizes cells from the corpus (auto_clusters) —
    the store-shaped cousin of the pinned-SRP trap: a FIXED 8-cell
    grid makes every probe scan n/8 vectors forever, while auto
    sizing keeps cells ≈ target_cell rows. At 3000 vectors the grid
    must widen past the historical 8 (3000/256 → 11 cells), and the
    serving default probes=None must scale as max(3, ceil(C/8))."""
    import numpy as np
    from pyspark.sql import functions as F

    from dqe_spark.operators.similarity import auto_clusters
    from dqe_spark.sources import ann_store as AS

    n = 3000
    src = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 7), d -> cast(((id * 37 + d * 101) % 255)"
            " / 255.0 - 0.5 as float))"
        ).alias("embedding"),
    )
    assert auto_clusters(src) == max(8, n // 256) == 11
    AS.ingest_ann(spark, SF_SMOKE, force=True, source=src)
    try:
        _, meta = AS.load_ann(spark, SF_SMOKE)
        assert meta["n_clusters"] == 11
        got = AS.knn_pq_probed(spark, SF_SMOKE, [0.1] * 8, 5).collect()
        assert len(got) == 5  # probes=None resolved against the wider grid
    finally:
        AS.ingest_ann(spark, SF_SMOKE, force=True)  # restore for other tests
