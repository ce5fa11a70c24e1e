"""store.publish: the one generation-based protocol every store and
sink write goes through — crash safety, readers across a republish,
cross-process memo keys, collection, legacy migration, and a guard
against hand-rolled publish code creeping back in."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dqe_spark.sources import dsir_store as DS
from dqe_spark.sources import store as ST
from tests.conftest import SF_SMOKE


class Crash(Exception):
    pass


def _writer(spark, n: int):
    def write(gen: Path) -> None:
        spark.range(n).write.parquet(str(gen))
        (gen / "_B").write_text(str(n))

    return write


def _complete(gen: Path | None, n: int) -> bool:
    return (
        gen is not None
        and (gen / "_SUCCESS").exists()
        and (gen / "_B").read_text() == str(n)
    )


@pytest.mark.parametrize("stage", ["write", "swap", "after_swap"])
def test_crash_leaves_a_complete_generation(spark, tmp_path, monkeypatch, stage):
    """A writer killed inside ``write``, just before the swap or just
    after it leaves the old or the new generation live — complete with
    its marker, never absent."""
    out = tmp_path / "s"
    ST.publish(out, _writer(spark, 3))
    old = ST.current(out)

    def crash(*_a, **_k):
        raise Crash

    def rows_without_marker(gen):
        spark.range(5).write.parquet(str(gen))
        raise Crash

    write = rows_without_marker if stage == "write" else _writer(spark, 5)
    if stage == "swap":
        monkeypatch.setattr(os, "replace", crash)
    elif stage == "after_swap":
        monkeypatch.setattr(ST, "invalidate_load_memo", crash)
    with pytest.raises(Crash):
        ST.publish(out, write)
    monkeypatch.undo()

    gen = ST.current(out)
    n = 5 if stage == "after_swap" else 3
    assert (gen != old) == (stage == "after_swap")
    assert _complete(gen, n)
    assert spark.read.parquet(str(gen)).count() == n


def _dsir_rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_reader_keeps_its_generation_across_a_republish(spark):
    """A DataFrame loaded before a rebuild still collects its rows
    afterwards: the rebuild publishes a new generation and leaves the
    one being read in place."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)
    try:
        before = DS.load_dsir_model(spark, SF_SMOKE, "en")
        want = _dsir_rows(before)
        DS.build_dsir_model(
            spark, SF_SMOKE, "en", force=True,
            docs=docs.where(F.col("doc_id") % 2 == 0),
        )
        assert _dsir_rows(before) == want
    finally:
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)


def test_memoised_load_sees_a_rebuild_by_another_process(spark, monkeypatch):
    """A rebuild this process is never told about (another process's:
    the in-process memo invalidation is a no-op here) still yields the
    new rows on the next memoised load — the memo key is the resolved
    generation, not the store path."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    store = DS._dsir_dir(SF_SMOKE, "en")
    DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)
    try:
        full = _dsir_rows(DS.load_dsir_model(spark, SF_SMOKE, "en"))
        monkeypatch.setattr(ST, "invalidate_load_memo", lambda: None)
        monkeypatch.setattr(DS, "invalidate_load_memo", lambda: None, raising=False)
        DS.build_dsir_model(
            spark, SF_SMOKE, "en", force=True,
            docs=docs.where(F.col("doc_id") % 2 == 0),
        )
        monkeypatch.undo()
        want = _dsir_rows(spark.read.parquet(str(store)))
        assert want != full
        assert _dsir_rows(DS.load_dsir_model(spark, SF_SMOKE, "en")) == want
    finally:
        monkeypatch.undo()
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)


def test_third_publish_collects_old_and_unpublished_generations(spark, tmp_path):
    """Only the live generation and the one it replaced survive a
    publish; a crashed writer's leftover goes too. A generation whose
    writer is another live process is left to that writer."""
    out = tmp_path / "s"
    ST.publish(out, _writer(spark, 1))
    first = ST.current(out)
    ST.publish(out, _writer(spark, 2))
    second = ST.current(out)

    def crashed(gen):
        spark.range(9).write.parquet(str(gen))
        raise Crash

    with pytest.raises(Crash):
        ST.publish(out, crashed)
    leftover = set(ST._generations(out)) - {first, second}
    assert len(leftover) == 1
    # pid 1 is always alive: its generation is still being written
    foreign = tmp_path / "s.gen-0-1"
    foreign.mkdir()

    ST.publish(out, _writer(spark, 3))
    assert set(ST._generations(out)) == {second, ST.current(out), foreign}
    assert _complete(ST.current(out), 3)


def test_legacy_directory_is_read_then_migrated(spark, tmp_path):
    """A store written before generations existed (a real directory)
    is read as-is; the first publish renames it to a generation and
    keeps it as the replaced one. ``drop`` removes everything."""
    out = tmp_path / "s"
    _writer(spark, 4)(out)
    assert ST.current(out) == out
    assert ST.read_current(spark, out).count() == 4

    ST.publish(out, _writer(spark, 6))
    assert out.is_symlink() and _complete(ST.current(out), 6)
    (legacy,) = set(ST._generations(out)) - {ST.current(out)}
    assert _complete(legacy, 4)
    assert ST.read_current(spark, out).count() == 6

    ST.drop(out)
    assert ST.current(out) is None and not ST._generations(out)
    assert not out.is_symlink()


def _marker_cases(spark):
    """name → (store path, {marker: expected text or None for
    "present"}, build the previous store, publish again, restore)."""
    from dqe_spark.operators import sketches as SK
    from dqe_spark.sources import rollup as R

    W2 = 2 * SK.CMS_W
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    def cms_default():
        R.build_cms_rollup(spark, SF_SMOKE, 3_600_000, force=True)

    def dsir_build():
        DS.build_dsir_model(spark, SF_SMOKE, "en", force=True)

    def bucketed():
        ST.ingest_bucketed(spark, SF_SMOKE, buckets=8, force=True)

    def relation():
        ST.ingest_bucketed_relation(
            spark, SF_SMOKE, "lineitem", "l_orderkey", force=True
        )

    return {
        "cms": (
            R._cms_dir(SF_SMOKE, 3_600_000),
            {"_WIDTH": str(W2)},
            cms_default,
            lambda: R.build_cms_rollup(
                spark, SF_SMOKE, 3_600_000, force=True, w=W2
            ),
            cms_default,
        ),
        "dsir": (
            DS._dsir_dir(SF_SMOKE, "en"),
            {"_B": str(DS.DSIR_B)},
            dsir_build,
            lambda: DS.merge_dsir_increment(
                spark, docs.limit(5), SF_SMOKE, "en"
            ),
            dsir_build,
        ),
        "bucketed": (
            ST._bucketed_dir(SF_SMOKE),
            {"_BUCKETS": "8"},
            bucketed,
            bucketed,
            lambda: None,
        ),
        "relation": (
            ST._rel_dir(SF_SMOKE, "lineitem"),
            {"_BUCKETS": str(ST.DEFAULT_BUCKETS), "_DDL": None},
            relation,
            relation,
            lambda: None,
        ),
    }


def _location(spark, table: str) -> Path:
    row = (
        spark.sql(f"DESCRIBE TABLE EXTENDED `{table}`")
        .where("col_name = 'Location'")
        .first()
    )
    return Path(row["data_type"].removeprefix("file:"))


@pytest.mark.parametrize("case", ["cms", "dsir", "bucketed", "relation"])
def test_markers_ride_the_swap(spark, monkeypatch, case):
    """The generation being swapped in already carries ``_SUCCESS`` and
    every layout marker, so a published store can never read back
    through a missing marker's default (the CMS width, the DSIR B, the
    bucket count, the relation DDL); a crash at the swap leaves the
    previous complete store live, and the catalog entry of a bucketed
    store points at the published generation."""
    out, markers, build, again, restore = _marker_cases(spark)[case]
    real = os.replace
    seen = {}

    def spy(src, dst):
        if Path(dst) == out:
            gen = out.parent / os.readlink(src)
            for m in ("_SUCCESS", *markers):
                seen[m] = (gen / m).read_text() if (gen / m).exists() else "-"
        return real(src, dst)

    def crash(src, dst):
        if Path(dst) == out:
            raise Crash
        return real(src, dst)

    try:
        build()
        monkeypatch.setattr(os, "replace", spy)
        again()
        monkeypatch.undo()
        assert seen.pop("_SUCCESS") == ""
        for m, text in markers.items():
            assert seen[m] != "-" and text in (None, seen[m]), (m, seen[m])

        before = ST.current(out)
        monkeypatch.setattr(os, "replace", crash)
        with pytest.raises(Crash):
            again()
        monkeypatch.undo()
        assert ST.current(out) == before
        assert all((before / m).exists() for m in ("_SUCCESS", *markers))
        if case == "bucketed":
            ST.load_bucketed(spark, SF_SMOKE)
            assert _location(spark, ST._bucketed_table(SF_SMOKE)) == before
        if case == "relation":
            ST.load_bucketed_relation(spark, SF_SMOKE, "lineitem")
            table = ST._rel_table(SF_SMOKE, "lineitem")
            assert _location(spark, table) == before
    finally:
        monkeypatch.undo()
        restore()


def test_no_hand_rolled_publish_outside_the_primitive():
    """Every store and sink write goes through store.publish: no
    rename, replace or ``_tmp_`` staging directory anywhere else in
    the package."""
    root = Path(ST.__file__).resolve().parent.parent
    prim = Path(ST.__file__).resolve()
    fn = next(
        n for n in ast.parse(prim.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "publish"
    )
    inside = range(fn.lineno, fn.end_lineno + 1)
    bad = [
        f"{f.relative_to(root)}:{i}: {line.strip()}"
        for f in sorted(root.rglob("*.py"))
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if re.search(r"os\.(rename|replace)\(|_tmp_", line)
        and not (f == prim and i in inside)
    ]
    assert not bad, "hand-rolled publish outside store.publish:\n" + "\n".join(bad)
