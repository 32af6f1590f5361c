"""Column mapping (Delta column-mapping `name` mode): rename/drop as
pure metadata commits — no data file read, rewritten, or touched — with
physical->logical projection on read and logical->physical translation
on write, never resurrecting a dropped column's bytes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pixelspark.table import ConcurrentWriteConflict, SnapshotTable


@pytest.fixture()
def tbl(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0)], "k long, v string, amt double"
        )
    )
    return t


def _data_mtimes(root: str) -> dict[str, float]:
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(root, "data")):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getmtime(p)
    return out


def test_rename_is_metadata_only_and_time_travels(spark, tbl, tmp_path):
    root = str(tmp_path / "tbl")
    tbl.enable_column_mapping()
    before = _data_mtimes(root)
    v = tbl.rename_column("v", "label")
    assert _data_mtimes(root) == before  # zero data churn
    got = {(r["k"], r["label"]) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "b")}
    assert "v" not in tbl.read().columns
    # the files still carry the PHYSICAL name
    snap = tbl.manifest(v)["entries"][0]["base"]
    raw = spark.read.parquet(f"{root}/{snap}")
    assert "v" in raw.columns and "label" not in raw.columns
    # pre-rename versions keep the old logical name
    assert "v" in tbl.read(version=1).columns


def test_write_after_rename_translates_to_physical(spark, tbl, tmp_path):
    tbl.enable_column_mapping()
    tbl.rename_column("v", "label")
    tbl.append(
        spark.createDataFrame([(3, "c", 30.0)], "k long, label string, amt double")
    )
    got = {(r["k"], r["label"]) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # the appended file ALSO stores the original physical name, so the
    # whole table remains one homogeneous mergeSchema scan
    snap = tbl.manifest(tbl.latest_version())["entries"][-1]["base"]
    raw = spark.read.parquet(f"{tmp_path / 'tbl'}/{snap}")
    assert "v" in raw.columns


def test_unmapped_column_write_is_refused(spark, tbl):
    tbl.enable_column_mapping()
    with pytest.raises(ValueError, match="add_columns"):
        tbl.append(
            spark.createDataFrame(
                [(3, "c", 1.0, "x")], "k long, v string, amt double, extra string"
            )
        )


def test_drop_then_readd_never_resurrects(spark, tbl):
    tbl.enable_column_mapping()
    tbl.drop_column("v")
    assert "v" not in tbl.read().columns
    # re-add the SAME logical name: a fresh physical is assigned, so
    # the old files' bytes stay invisible
    tbl.add_columns({"v": "string"})
    rows = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert rows == {1: None, 2: None}
    tbl.append(spark.createDataFrame([(3, 1.0, "new")], "k long, amt double, v string"))
    rows = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert rows == {1: None, 2: None, 3: "new"}
    # physical name of the re-added column is a fresh col_<id>
    cmap = tbl.manifest(tbl.latest_version())["column_mapping"]
    assert cmap["cols"]["v"].startswith("col_")
    assert "v" in cmap["dropped"]


def test_rename_refuses_partition_and_generated_columns(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pt"))
    df = spark.createDataFrame([(1, "2024-01-01", 5.0)], "k long, day string, x double")
    t.replace_partitions(df, "day")
    t.enable_column_mapping()
    with pytest.raises(ValueError, match="partition column"):
        t.rename_column("day", "dt")
    g = SnapshotTable(
        spark, str(tmp_path / "gt"), generated_cols={"x2": "x * 2"}
    )
    g.overwrite(spark.createDataFrame([(1, 3.0)], "k long, x double"))
    g.enable_column_mapping()
    with pytest.raises(ValueError, match="generated"):
        g.rename_column("x", "y")
    with pytest.raises(ValueError, match="generated"):
        g.drop_column("x2")


def test_restore_across_rename_resurrects_old_schema(spark, tbl):
    tbl.enable_column_mapping()
    tbl.rename_column("v", "label")
    tbl.restore(1)
    assert "v" in tbl.read().columns and "label" not in tbl.read().columns
    got = {(r["k"], r["v"]) for r in tbl.read().collect()}
    assert got == {(1, "a"), (2, "b")}


def test_stats_pruning_survives_rename(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "st"), stats_cols=("k",))
    t.overwrite(spark.createDataFrame([(i, f"r{i}") for i in range(10)], "k long, v string"))
    t.enable_column_mapping()
    t.append(spark.createDataFrame([(i, f"r{i}") for i in range(100, 110)], "k long, v string"))
    t.rename_column("k", "key")
    # predicates use the NEW logical name; stats keys are physical
    pruned = t.read(predicates=[("key", ">=", 100)])
    assert {r["key"] for r in pruned.collect()} == set(range(100, 110))
    files = pruned.inputFiles()
    full = t.read().inputFiles()
    assert len(files) < len(full), "stats pruning lost after rename"
    with pytest.raises(ValueError, match="no such column"):
        t.read(predicates=[("k", ">=", 100)])


def test_dml_on_mapped_table(spark, tbl):
    tbl.enable_column_mapping()
    tbl.rename_column("v", "label")
    tbl.update({"label": F.lit("upd")}, F.col("k") == 1, mode="dv")
    tbl.delete(F.col("k") == 2, mode="dv")
    got = {(r["k"], r["label"]) for r in tbl.read().collect()}
    assert got == {(1, "upd")}


def test_merge_on_mapped_table(spark, tbl):
    tbl.enable_column_mapping()
    tbl.rename_column("v", "label")
    src = spark.createDataFrame(
        [(1, "m1", 11.0), (9, "m9", 99.0)], "k long, label string, amt double"
    )
    tbl.merge(src, keys=("k",), when_matched_update="all", when_not_matched_insert=True)
    got = {(r["k"], r["label"]) for r in tbl.read().collect()}
    assert got == {(1, "m1"), (2, "b"), (9, "m9")}


def test_read_changes_refuses_mapping_drift(spark, tbl):
    """r9 relaxation: renames traverse (the feed serves the latest
    logical names); only DROPS keep the refusal."""
    v1 = tbl.latest_version()
    tbl.enable_column_mapping()
    tbl.rename_column("v", "label")
    v3 = tbl.latest_version()
    # a rename-spanning no-op window: no entry changes, no rows
    assert tbl.read_changes(from_version=v1, to_version=v3).count() == 0
    # within a stable mapping CDF works
    tbl.append(spark.createDataFrame([(5, "e", 5.0)], "k long, label string, amt double"))
    ch = tbl.read_changes(from_version=v3, to_version=tbl.latest_version())
    assert {(r["k"], r["change_type"]) for r in ch.collect()} == {(5, "inserted")}
    # a DROP inside the window still refuses
    v4 = tbl.latest_version()
    tbl.drop_column("amt")
    with pytest.raises(ValueError, match="DROP"):
        tbl.read_changes(from_version=v4, to_version=tbl.latest_version())


def test_stale_mapping_write_restages_and_retries(spark, tbl, tmp_path):
    """A mapping DDL (here add_columns) landing between a writer's
    translation and its commit must never publish data staged under
    the stale mapping: the stale dir is reclaimed and the append
    re-stages under the fresh mapping (r6b — previously this was a
    terminal conflict, which crashed streaming micro-batches on
    benign metadata commits)."""
    tbl.enable_column_mapping()
    rival = SnapshotTable(spark, tbl.root)
    real_write_snap = tbl._write_snap
    staged = []

    def interloping(df, pcol, **kw):
        out = real_write_snap(df, pcol, **kw)
        staged.append(out[0])
        if len(staged) == 1:
            # the racing DDL lands after the first attempt staged its
            # dir under the mapping it read
            rival.add_columns({"note": "string"})
        return out

    tbl._write_snap = interloping
    v = tbl.append(
        spark.createDataFrame([(7, "x", 1.0)], "k long, v string, amt double")
    )
    del tbl._write_snap
    assert len(staged) == 2  # the stale attempt re-staged
    assert v == tbl.latest_version()
    assert {(r["k"], r["v"], r["note"]) for r in tbl.read().collect()} == {
        (1, "a", None), (2, "b", None), (7, "x", None)
    }
    # no stale garbage dir was left behind: every local data dir is
    # referenced by the latest manifest
    m = tbl.manifest(tbl.latest_version())
    live = {e["base"].split("/", 1)[1] for e in m["entries"]}
    assert staged[1] in {e["base"] for e in m["entries"]}
    on_disk = set(os.listdir(os.path.join(str(tmp_path / "tbl"), "data")))
    assert on_disk == live

    # a writer whose frame no longer matches the CURRENT mapping (a
    # rename raced it) fails with the explicit declare-first error,
    # not a silent mistranslation
    tbl.rename_column("v", "label")
    with pytest.raises(Exception) as ei:
        tbl.append(
            spark.createDataFrame([(8, "y", 1.0)], "k long, v string, amt double")
        )
    assert "add_columns" in str(ei.value) or isinstance(
        ei.value, ConcurrentWriteConflict
    )


def test_enable_requires_schema_and_is_idempotent_guarded(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError):
        t.enable_column_mapping()
    t.overwrite(spark.createDataFrame([(1,)], "k long"))
    t.enable_column_mapping()
    with pytest.raises(ValueError, match="already enabled"):
        t.enable_column_mapping()
    with pytest.raises(ValueError, match="cannot drop the last column"):
        t.drop_column("k")


def test_cdf_allows_additive_mapping_changes_only(spark, tmp_path):
    """r8+r9: read_changes across ADDITIVE mapping changes
    (enable_column_mapping, add_columns, mapped row-tracking enable)
    AND RENAMES serves the window at the latest logical schema —
    physical field ids are stable, so historical entries translate
    through the latest mapping; pre-change rows surface new columns
    as NULLs.  Drops stay refused."""
    from pixelspark.table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    v0 = t.latest_version()
    t.enable_column_mapping()          # None -> identity: additive
    t.add_columns({"score": "double"})  # additive
    t.append(spark.createDataFrame([(2, "b", 0.5)],
                                   "k long, v string, score double"))
    ch = {r["k"]: (r["change_type"], r["score"])
          for r in t.read_changes(v0).collect()}
    assert ch == {2: ("inserted", 0.5)}  # appended window only
    # whole-history feed serves pre-mapping rows with NULL score
    allch = {r["k"]: r["score"] for r in t.read_changes(0).collect()}
    assert allch == {1: None, 2: 0.5}

    # rename mid-window (r9, VERDICT item 3): flows at the NEW names
    v1 = t.latest_version()
    t.rename_column("v", "val")
    t.append(spark.createDataFrame([(3, "c", 1.0)],
                                   "k long, val string, score double"))
    got = {r["k"]: r["val"] for r in t.read_changes(v1).collect()}
    assert got == {3: "c"}  # the appended row, at the renamed name
    # pre-rename rows flow with IDENTICAL values under the new name
    full = {r["k"]: r["val"] for r in t.read_changes(0).collect()}
    assert full == {1: "a", 2: "b", 3: "c"}

    # rename + rewrite mid-window: the keyed diff classifies at the
    # new names and pre-rename values compare correctly (no phantom
    # updates from the rename itself)
    v2 = t.latest_version()
    t.rename_column("val", "value")
    t.upsert(spark.createDataFrame([(1, "a2", 9.0)],
                                   "k long, value string, score double"),
             keys=("k",))
    ch2 = {r["k"]: (r["change_type"], r["value"])
           for r in t.read_changes(v2, keys=("k",)).collect()}
    assert ch2 == {1: ("updated", "a2")}  # 2 and 3 untouched: no rows

    # drop mid-window: still refused
    v3 = t.latest_version()
    t.drop_column("score")
    t.append(spark.createDataFrame([(4, "d")], "k long, value string"))
    with pytest.raises(ValueError, match="DROP"):
        t.read_changes(v3).collect()
    # ...but a window strictly after the drop flows again
    v4 = t.latest_version()
    t.append(spark.createDataFrame([(5, "e")], "k long, value string"))
    assert {r["k"] for r in t.read_changes(v4).collect()} == {5}


def test_cdf_rename_traverses_dv_window(spark, tmp_path):
    """r9: the DV fallback path reads each version with its OWN
    logical names — a mid-window rename must translate the old side
    to the latest names, or every row would misclassify as updated."""
    from pixelspark.table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    t.enable_column_mapping()
    v0 = t.latest_version()
    t.rename_column("v", "val")
    t.delete(F.col("k") == 2, mode="dv")  # DV inside the window
    ch = {r["k"]: (r["change_type"], r["val"])
          for r in t.read_changes(v0, keys=("k",)).collect()}
    # only the deleted row changed; 1 and 3 must NOT appear (their
    # values are identical under the rename translation)
    assert ch == {2: ("deleted", "b")}
