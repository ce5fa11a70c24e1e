from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def file_inodes(partition: Path) -> frozenset[int]:
    """The inodes of a partition directory's files. A store mutation
    carries an untouched partition into its new generation by
    hardlink, so the same inodes before and after mean the partition
    was not rewritten."""
    return frozenset(f.stat().st_ino for f in partition.iterdir())


@pytest.fixture(scope="session")
def spark():
    from dqe_spark.session import get_spark

    s = get_spark("dqe-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMOKE}/{name}.parquet'"
        )
    yield con
    con.close()
