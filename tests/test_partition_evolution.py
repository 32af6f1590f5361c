"""Partition evolution (Iceberg-style): the partition column changes
as a metadata commit; already-written entries keep their own layout
and stay readable; partition-values pruning stays SOUND by refusing
mixed-layout tables until a full compact rewrites history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pixelspark.table import SnapshotTable, entry_layout


@pytest.fixture()
def tbl(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pe"))
    t.replace_partitions(
        spark.createDataFrame(
            [("d1", "r1", 1), ("d2", "r2", 2)],
            "day string, region string, k long",
        ),
        "day",
    )
    return t


def test_evolution_is_metadata_only_and_reads_union_layouts(spark, tbl):
    v = tbl.evolve_partitioning("region")
    m = tbl.manifest(v)
    assert m["partition_col"] == "region"
    assert m["entries"] == tbl.manifest(v - 1)["entries"]  # zero data churn
    tbl.replace_partitions(
        spark.createDataFrame([("d3", "r1", 3)], "day string, region string, k long"),
        "region",
    )
    got = {(r["day"], r["region"], r["k"]) for r in tbl.read().collect()}
    assert got == {("d1", "r1", 1), ("d2", "r2", 2), ("d3", "r1", 3)}
    # both layouts live side by side
    layouts = {
        entry_layout(e) for e in tbl.manifest(tbl.latest_version())["entries"]
    }
    assert layouts == {"day", "region"}


def test_replace_never_drops_foreign_layout_entries(spark, tbl):
    tbl.evolve_partitioning("region")
    # replacing region=r1 must not touch (or drop) the day=* entries,
    # even though day=d1's ROW also has region r1
    tbl.replace_partitions(
        spark.createDataFrame([("dX", "r1", 9)], "day string, region string, k long"),
        "region",
    )
    got = {(r["day"], r["k"]) for r in tbl.read().collect()}
    assert got == {("d1", 1), ("d2", 2), ("dX", 9)}


def test_partition_values_pruning_refused_until_compact(spark, tbl):
    tbl.evolve_partitioning("region")
    tbl.replace_partitions(
        spark.createDataFrame([("d3", "r3", 3)], "day string, region string, k long"),
        "region",
    )
    with pytest.raises(ValueError, match="compact"):
        tbl.read(partition_values=["r3"])
    tbl.compact()  # full compact rewrites history into the region layout
    m = tbl.manifest(tbl.latest_version())
    assert {entry_layout(e) for e in m["entries"]} == {"region"}
    pruned = tbl.read(partition_values=["r1"])
    assert {r["k"] for r in pruned.collect()} == {1}
    assert {r["k"] for r in tbl.read().collect()} == {1, 2, 3}


def test_evolve_from_unpartitioned_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pe2"))
    t.append(spark.createDataFrame([("d1", 1)], "day string, k long"))
    t.evolve_partitioning("day")
    t.replace_partitions(
        spark.createDataFrame([("d2", 2)], "day string, k long"), "day"
    )
    got = {(r["day"], r["k"]) for r in t.read().collect()}
    assert got == {("d1", 1), ("d2", 2)}
    # late-r9 (191eb79): appending to a now-partitioned table JOINS the
    # current layout instead of being refused — mirror of
    # tests/test_table.py::test_append_on_partitioned_table_joins_the_layout
    t.append(spark.createDataFrame([("d3", 3)], "day string, k long"))
    got = {(r["day"], r["k"]) for r in t.read().collect()}
    assert got == {("d1", 1), ("d2", 2), ("d3", 3)}
    m = t.manifest(t.latest_version())
    assert m["entries"][-1]["parts"] == ["day=d3"]


def test_evolution_guards(spark, tbl):
    with pytest.raises(ValueError, match="no such column"):
        tbl.evolve_partitioning("nope")
    tbl.enable_column_mapping()
    with pytest.raises(ValueError, match="column-mapping"):
        tbl.evolve_partitioning("region")


# -- r11: row-level DML on MIXED layouts (_cow_commit's entry scope;
# Delta/Iceberg serve DML right after evolution, so must we) ----------


def _rows(t):
    return {(r["day"], r["region"], r["k"]) for r in t.read().collect()}


def test_mixed_layout_delete_rewrite_succeeds(spark, tbl):
    tbl.evolve_partitioning("region")
    tbl.replace_partitions(
        spark.createDataFrame([("d3", "r3", 3)],
                              "day string, region string, k long"),
        "region",
    )
    v = tbl.delete(F.col("k") == 1, mode="rewrite")
    assert _rows(tbl) == {("d2", "r2", 2), ("d3", "r3", 3)}
    # commit really landed (no silent no-op)
    assert v == tbl.latest_version()


def test_mixed_layout_delete_matches_dv_mode(spark, tmp_path):
    """VERDICT r10 item 2 'done' pin: evolve→delete end state equals
    the dv-mode result row-for-row."""
    frames = {}
    for mode in ("rewrite", "dv"):
        t = SnapshotTable(spark, str(tmp_path / f"eq-{mode}"))
        t.append(spark.createDataFrame(
            [("d1", i) for i in range(6)], "day string, k long"))
        t.evolve_partitioning("day")
        t.delete("k % 2 = 0", mode=mode)
        frames[mode] = {(r["day"], r["k"]) for r in t.read().collect()}
    assert frames["rewrite"] == frames["dv"] == {
        ("d1", 1), ("d1", 3), ("d1", 5)}


def test_mixed_layout_delete_is_entry_scoped(spark, tmp_path):
    """Only the foreign entries that CONTAIN matched rows are
    rewritten; the rest (and untouched current-layout partitions)
    carry over by the manifest edit, byte-identical."""
    t = SnapshotTable(spark, str(tmp_path / "scoped"))
    t.append(spark.createDataFrame([("d1", 1), ("d1", 2)],
                                   "day string, k long"))
    t.append(spark.createDataFrame([("d2", 3), ("d2", 4)],
                                   "day string, k long"))
    t.evolve_partitioning("day")
    t.replace_partitions(
        spark.createDataFrame([("d9", 9)], "day string, k long"), "day")
    pre = {e["base"]: e["parts"]
           for e in t.manifest(t.latest_version())["entries"]}
    untouched_foreign = next(
        b for b, p in pre.items()
        if p is None and 3 in {r["k"] for r in spark.read.parquet(
            f"{t.root.rstrip('/')}/{b}").collect()})
    t.delete(F.col("k") == 1, mode="rewrite")
    post = {e["base"]: e["parts"]
            for e in t.manifest(t.latest_version())["entries"]}
    # the untouched foreign entry and the day=d9 entry survive as-is
    assert untouched_foreign in post
    assert any(p == ["day=d9"] for p in post.values())
    # the touched foreign entry was rewritten INTO the current layout
    assert all(p is None or all(x.startswith("day=") for x in p)
               or b == untouched_foreign
               for b, p in post.items())
    got = {(r["day"], r["k"]) for r in t.read().collect()}
    assert got == {("d1", 2), ("d2", 3), ("d2", 4), ("d9", 9)}


def test_mixed_layout_update_rewrite(spark, tbl):
    tbl.evolve_partitioning("region")
    v0 = tbl.latest_version()
    tbl.update({"k": F.col("k") + 100}, condition="region = 'r1'",
               mode="rewrite")
    assert _rows(tbl) == {("d1", "r1", 101), ("d2", "r2", 2)}
    # no-op on mixed: no version burned
    v1 = tbl.latest_version()
    tbl.update({"k": F.lit(0)}, condition="region = 'zzz'",
               mode="rewrite")
    assert tbl.latest_version() == v1
    assert v1 == v0 + 1


def test_mixed_layout_merge_keyed_on_pcol_falls_back(spark, tbl):
    tbl.evolve_partitioning("region")
    tbl.merge(
        spark.createDataFrame([("dU", "r1", 11), ("dN", "r9", 99)],
                              "day string, region string, k long"),
        keys=("region",),
    )
    assert _rows(tbl) == {("dU", "r1", 11), ("d2", "r2", 2),
                          ("dN", "r9", 99)}
    # the whole-table fallback heals the layout as a side effect
    m = tbl.manifest(tbl.latest_version())
    assert {entry_layout(e) for e in m["entries"]} == {"region"}
    tbl.read(partition_values=["r2"])  # pruning restored


def test_mixed_layout_delete_respects_dv_masks(spark, tmp_path):
    """Rows already masked by a deletion vector must not resurrect
    when their entry is rewritten by the mixed-layout fallback."""
    t = SnapshotTable(spark, str(tmp_path / "dvmask"))
    t.append(spark.createDataFrame([("d1", i) for i in range(5)],
                                   "day string, k long"))
    t.delete(F.col("k") == 2, mode="dv")
    t.evolve_partitioning("day")
    t.delete(F.col("k") == 3, mode="rewrite")
    got = {r["k"] for r in t.read().collect()}
    assert got == {0, 1, 4}


def test_mixed_layout_delete_preserves_row_ids(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ids"))
    t.append(spark.createDataFrame([("d1", i) for i in range(4)],
                                   "day string, k long"))
    t.enable_row_tracking(backfill=True)
    ids0 = {r["k"]: r["__row_id"]
            for r in t.read().select("k", "__row_id").collect()}
    t.evolve_partitioning("day")
    t.delete(F.col("k") == 0, mode="rewrite")
    ids1 = {r["k"]: r["__row_id"]
            for r in t.read().select("k", "__row_id").collect()}
    # survivors keep their ids through the rewrite (carried columns)
    assert ids1 == {k: v for k, v in ids0.items() if k != 0}


def test_mixed_layout_delete_all_rows(spark, tmp_path):
    """Every row matches: the rewrite writes NOTHING (the staged dir
    is reclaimed), touched entries are retired outright, and the
    table reads back empty with its schema intact."""
    t = SnapshotTable(spark, str(tmp_path / "all"))
    t.append(spark.createDataFrame([("d1", 1), ("d2", 2)],
                                   "day string, k long"))
    t.evolve_partitioning("day")
    t.replace_partitions(
        spark.createDataFrame([("d3", 3)], "day string, k long"), "day")
    t.delete(F.col("k") >= 0, mode="rewrite")
    assert t.read().count() == 0
    assert set(t.read().columns) == {"day", "k"}
    assert t.manifest(t.latest_version())["entries"] == []


def test_mixed_layout_delete_across_three_layouts(spark, tmp_path):
    """History carrying THREE layouts at once (unpartitioned -> day ->
    region): the foreign scan groups per layout and the rewrite folds
    every touched entry into the CURRENT layout."""
    t = SnapshotTable(spark, str(tmp_path / "tri"))
    t.append(spark.createDataFrame(
        [("d1", "r1", 1)], "day string, region string, k long"))
    t.evolve_partitioning("day")
    t.replace_partitions(
        spark.createDataFrame([("d2", "r2", 2)],
                              "day string, region string, k long"), "day")
    t.evolve_partitioning("region")
    t.replace_partitions(
        spark.createDataFrame([("d3", "r3", 3)],
                              "day string, region string, k long"),
        "region")
    layouts = {entry_layout(e)
               for e in t.manifest(t.latest_version())["entries"]}
    assert layouts == {None, "day", "region"}
    t.delete(F.col("k").isin([1, 2]), mode="rewrite")
    got = {(r["day"], r["region"], r["k"]) for r in t.read().collect()}
    assert got == {("d3", "r3", 3)}
    layouts = {entry_layout(e)
               for e in t.manifest(t.latest_version())["entries"]}
    assert layouts == {"region"}


def test_mixed_layout_delete_crash_before_commit_is_invisible(
    spark, tmp_path
):
    """Kill the writer between the copy-on-write commit's staged
    write and its manifest commit: no version lands, reads are
    untouched, the orphaned staged dir is vacuum-able garbage, and
    the delete simply re-runs to completion afterwards (the
    add-then-commit crash model every other write follows)."""
    t = SnapshotTable(spark, str(tmp_path / "crash"))
    t.append(spark.createDataFrame([("d1", 1), ("d1", 2)],
                                   "day string, k long"))
    t.evolve_partitioning("day")
    v0 = t.latest_version()
    n_dirs0 = len([d for d in t.st.list(f"{t.root}/data")
                   if d.startswith("__snap=")])

    class _KillBeforeManifest:
        def __init__(self, inner):
            self._inner = inner

        def write_text_atomic(self, path, content):
            if "/_manifests/" in path:
                raise RuntimeError("injected crash before commit")
            return self._inner.write_text_atomic(path, content)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    real_st = t.st
    t.st = _KillBeforeManifest(real_st)
    with pytest.raises(RuntimeError, match="injected crash"):
        t.delete(F.col("k") == 1, mode="rewrite")
    t.st = real_st
    assert t.latest_version() == v0
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    # the staged rewrite dir is unreferenced garbage; vacuum reclaims
    n_dirs1 = len([d for d in t.st.list(f"{t.root}/data")
                   if d.startswith("__snap=")])
    assert n_dirs1 == n_dirs0 + 1
    removed = t.vacuum(keep_versions=100)
    assert any("__snap=" in p for p in removed)
    assert {r["k"] for r in t.read().collect()} == {1, 2}
    t.delete(F.col("k") == 1, mode="rewrite")
    assert {r["k"] for r in t.read().collect()} == {2}
