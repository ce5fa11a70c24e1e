"""Result sinks: export query results to files, atomically.

The reference's sinks collect chunks to the caller
(``/root/reference/src/dqe_collect.erl:14-43``, funnel
``src/dqe_funnel.erl:9-57``); the engine mirrors that with
``engine.run``'s named in-memory results. This module is the other
half a Spark deployment needs: durable, partitioned, atomically
published file output for downstream consumers.

Atomicity: every export is published like a store
(``sources/store.publish``): ``path`` becomes a link to the newest
generation of the result.

Scale notes: ``partition_by`` turns reader predicates into directory
pruning; ``sort_by`` sorts WITHIN partitions before the write so
range predicates become parquet row-group skipping (the same layout
discipline as the metric store); CSV/JSON are for interop exports —
columnar consumers should read the parquet.
"""

from __future__ import annotations

from collections.abc import Sequence
from pathlib import Path

from pyspark.sql import DataFrame

from dqe_spark.sources.store import publish

FORMATS = ("parquet", "csv", "json")


def write_result(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    partition_by: Sequence[str] | None = None,
    sort_by: Sequence[str] | None = None,
    header: bool = True,
) -> str:
    """Export ``df`` under ``path`` (created or atomically replaced).

    Map-only results stay map-only: sorting happens within existing
    partitions (sortWithinPartitions), never a global orderBy.
    """
    if format not in FORMATS:
        raise ValueError(f"unknown sink format {format!r}; one of {FORMATS}")
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    writer = df.write.mode("overwrite").format(format)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    if format == "csv":
        writer = writer.option("header", str(header).lower())
    return str(publish(Path(path), lambda gen: writer.save(str(gen))))


def export_named_results(
    results,
    root: str,
    format: str = "parquet",
) -> dict[str, str]:
    """Write every named result of an ``engine.run`` (a list of objects
    with ``.name`` and ``.df``) under ``root/<safe_name>/``. Returns
    {name: path}. Names are sanitized for the filesystem only — the
    original name is preserved in the returned mapping."""
    out: dict[str, str] = {}
    for i, res in enumerate(results):
        safe = "".join(
            c if c.isalnum() or c in "-_." else "_" for c in (res.name or f"r{i}")
        )
        out[res.name] = write_result(res.df, f"{root}/{i:02d}_{safe}", format=format)
    return out
