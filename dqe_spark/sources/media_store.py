"""Persisted synthetic media corpus: the encoded-JPEG fixture bytes
the multimodal decode queries read.

Round-7 verdict "What's wrong" #2: the decode benchmark row generated
its corpus IN-QUERY (encode + decode in the same mapInPandas), so
fixture growth and decode cost were indistinguishable in the bench
record and every new fixture class inflated the row. The corpus is now
materialized once per sf (idempotent, like every other store) and the
query times DECODE only; the encode cost is a build step the bench's
ingest preamble pays outside per-query timing.

Layout:

    _store/<sf>/media/part-*.parquet   (doc_id, content, media_type)

Content is the deterministic constant-gray baseline JPEG the analytic
oracle pins: value doc_id%256 at (8+8·(doc_id%4)) × (8+8·(doc_id%3)),
quantizer 1 — DC-only blocks whose decoded mean_luma must equal the
painted constant EXACTLY (operators/jpeg_codec.py). Determinism makes
the store rebuildable bit-identically from doc_ids alone.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from dqe_spark.sources.store import STORE_ROOT, current, publish


def _store_dir(sf_dir: str, variant: str = "baseline") -> Path:
    name = "media" if variant == "baseline" else f"media_{variant}"
    return STORE_ROOT / Path(sf_dir.rstrip("/")).name / name


def build_media_store(
    spark: SparkSession, sf_dir: str, force: bool = False,
    variant: str = "baseline",
) -> Path:
    """Materialize the JPEG fixture corpus (idempotent, published
    through store.publish with its _FIXTURE marker). Encode runs
    executor-side in Arrow batches — one map-only pass over doc_ids,
    no shuffle.

    Variants live in their OWN directories (the advisor-r7 lesson
    from the gram-store subset fixture: never repurpose a shared
    store for a differently-shaped corpus):

      * ``baseline`` — Huffman SOF0, value doc_id%256 at
        (8+8·(doc_id%4)) × (8+8·(doc_id%3));
      * ``arith`` — T.81 QM arithmetic (operators/jpeg_arith), value
        (doc_id·7+13)%256 at (8+8·(doc_id%5)) × (8+8·(doc_id%2)):
        even doc_ids are SEQUENTIAL (SOF9) with restart interval
        doc_id%3 (coder flush/re-init boundaries), odd doc_ids are
        PROGRESSIVE (SOF10, the full 2+2-scan script) — one corpus
        exercises both arithmetic decoders;
      * ``lossless`` — SOF3 (Annex H), a NON-constant gradient
        (doc_id + 3x + 7y) % 256 at (8+4·(doc_id%5)) × (8+4·(doc_id%3))
        with predictor 1 + doc_id%7 — lossless round-trips exactly, so
        the oracle can pin arbitrary content, not just DC-only
        constants, and the corpus sweeps all seven predictors.

    A fixture-version marker invalidates stores built by an older
    synth recipe (the _SUCCESS marker alone can't tell).
    """
    ver = {"baseline": "v1", "arith": "v2", "lossless": "v1"}.get(
        variant, "v1"
    )
    out = _store_dir(sf_dir, variant)
    marker = out / "_FIXTURE"
    if (
        not force
        and (out / "_SUCCESS").exists()
        and marker.exists()
        and marker.read_text() == ver
    ):
        return out

    import numpy as np
    import pandas as pd

    from dqe_spark.operators import jpeg_codec as J
    from dqe_spark.operators import jpeg_arith as J2
    from dqe_spark.operators.jpeg_arith import encode_jpeg_arith
    from dqe_spark.operators.partitioning import spread

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def synth(it):
        for pdf in it:
            recs = []
            for doc_id in pdf["doc_id"]:
                if variant == "lossless":
                    w = 8 + 4 * (int(doc_id) % 5)
                    h = 8 + 4 * (int(doc_id) % 3)
                    yy, xx = np.mgrid[0:h, 0:w]
                    px = ((int(doc_id) + 3 * xx + 7 * yy) % 256).astype(
                        np.uint8
                    )
                    enc = J.encode_jpeg_lossless(
                        px, predictor=1 + int(doc_id) % 7
                    )
                elif variant == "arith":
                    w = 8 * (1 + int(doc_id) % 5)
                    h = 8 * (1 + int(doc_id) % 2)
                    c = (int(doc_id) * 7 + 13) % 256
                    px = np.full((h, w), c, dtype=np.uint8)
                    if int(doc_id) % 2:
                        enc = J2.encode_jpeg_arith_progressive(px)
                    else:
                        enc = encode_jpeg_arith(
                            px, restart_interval=int(doc_id) % 3
                        )
                else:
                    w = 8 * (1 + int(doc_id) % 4)
                    h = 8 * (1 + int(doc_id) % 3)
                    c = int(doc_id) % 256
                    enc = J.encode_jpeg_baseline(
                        np.full((h, w), c, dtype=np.uint8)
                    )
                recs.append((int(doc_id), enc, "image/jpeg"))
            yield pd.DataFrame(
                recs, columns=["doc_id", "content", "media_type"]
            )

    def write(gen: Path) -> None:
        (
            spread(docs)
            .mapInPandas(synth, "doc_id long, content binary, media_type string")
            .write.mode("overwrite")
            .parquet(str(gen))
        )
        (gen / "_FIXTURE").write_text(ver)

    return publish(out, write)


def load_media_store(
    spark: SparkSession, sf_dir: str, variant: str = "baseline"
) -> DataFrame:
    # build_media_store is the no-op fast path when the store exists
    # AND carries the current fixture version (stale recipes rebuild)
    p = build_media_store(spark, sf_dir, variant=variant)
    return spark.read.parquet(str(current(p)))
