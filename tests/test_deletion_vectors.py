"""Deletion-vector (merge-on-read delete) tests: read-time masking,
equivalence with the copy-on-write rewrite (the DML parity matrix),
the no-op and missing-table rules of both modes, composition of
multiple vectors, time travel, compact materialization, vacuum
liveness, lost-race cleanup, CDF over DV versions, and interplay with
append/upsert."""

from __future__ import annotations

import itertools
import os

import pytest
from pyspark.sql import functions as F

from pixelspark.table import SnapshotTable


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.overwrite(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "k long, v string"
        )
    )
    return t


def test_dv_delete_masks_rows_without_rewriting(spark, table):
    entries_before = table.manifest(table.latest_version())["entries"]
    v = table.delete(F.col("k") >= 7, mode="dv")
    m = table.manifest(v)
    assert m["entries"] == entries_before  # zero data rewritten
    assert len(m.get("dv_files", [])) == 1
    assert _rows(table.read()) == [(i, f"v{i}") for i in range(7)]


def test_dv_deletes_compose(spark, table):
    table.delete("k >= 8", mode="dv")
    v = table.delete("k < 2", mode="dv")
    assert len(table.manifest(v)["dv_files"]) == 2
    assert _rows(table.read()) == [(i, f"v{i}") for i in range(2, 8)]
    # deleting already-deleted rows is a no-op commit
    assert table.delete("k >= 8", mode="dv") == v
    assert table.latest_version() == v


def test_dv_time_travel_sees_predelete_rows(spark, table):
    v0 = table.latest_version()
    table.delete("k = 0", mode="dv")
    assert len(_rows(table.read(version=v0))) == 10
    assert len(_rows(table.read())) == 9


def test_compact_materializes_and_retires_dvs(spark, table):
    table.delete("k >= 5", mode="dv")
    v = table.compact()
    m = table.manifest(v)
    assert not m.get("dv_files")
    assert _rows(table.read()) == [(i, f"v{i}") for i in range(5)]
    # the vector dir (and the masked bytes) are now vacuum-able
    removed = table.vacuum(keep_versions=1)
    assert any("__dv=" in p for p in removed)
    assert _rows(table.read()) == [(i, f"v{i}") for i in range(5)]


def test_vacuum_keeps_live_dv_dirs(spark, table):
    table.delete("k = 3", mode="dv")
    removed = table.vacuum(keep_versions=1)
    assert not any("__dv=" in p for p in removed)
    assert len(_rows(table.read())) == 9


def test_append_after_dv_delete_keeps_mask(spark, table):
    table.delete("k < 5", mode="dv")
    table.append(
        spark.createDataFrame([(100, "v100")], "k long, v string")
    )
    got = _rows(table.read())
    assert (100, "v100") in got
    assert all(k >= 5 for k, _ in got)
    assert table.manifest(table.latest_version()).get("dv_files")


def test_upsert_after_dv_delete_does_not_resurrect(spark, table):
    table.delete("k = 4", mode="dv")
    table.upsert(
        spark.createDataFrame([(5, "v5b")], "k long, v string"), keys=("k",)
    )
    got = dict(_rows(table.read()))
    assert 4 not in got and got[5] == "v5b" and len(got) == 9
    # the upsert's full rewrite materialized the mask
    assert not table.manifest(table.latest_version()).get("dv_files")


def test_dv_on_partitioned_table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "p"))
    df = spark.createDataFrame(
        [(i, f"d{i % 3}", f"v{i}") for i in range(12)],
        "k long, day string, v string",
    )
    t.replace_partitions(df, "day")
    t.delete("k = 7", mode="dv")
    got = [r["k"] for r in t.read().collect()]
    assert sorted(got) == [i for i in range(12) if i != 7]
    # partition-pruned reads mask too
    d1 = [r["k"] for r in t.read(partition_values=["d1"]).collect()]
    assert sorted(d1) == [1, 4, 10]


def test_read_changes_sees_dv_deletes(spark, table):
    v0 = table.latest_version()
    table.delete("k >= 8", mode="dv")
    ch = table.read_changes(v0, keys=("k",)).collect()
    got = {(r["k"], r["change_type"]) for r in ch}
    assert got == {(8, "deleted"), (9, "deleted")}
    # no-change window over an unchanged DV set is empty
    v1 = table.latest_version()
    assert table.read_changes(v1, v1, keys=("k",)).count() == 0


def test_read_changes_pure_append_on_dv_table_stays_keyless(spark, table):
    """A pure append on a DV-bearing table (dv sets identical, no
    entry removed) keeps the insert-only fast path: no `keys`
    required, and only the appended dirs are read — vectors address
    pre-existing files only, so new dirs can never be masked."""
    table.delete("k = 3", mode="dv")
    v1 = table.latest_version()
    table.append(spark.createDataFrame([(100, "x")], "k long, v string"))
    ch = table.read_changes(v1).collect()  # keyless — was ValueError
    assert {(r["k"], r["change_type"]) for r in ch} == {(100, "inserted")}
    # a window where the DV set changed still demands keys
    with pytest.raises(ValueError, match="deletion"):
        table.read_changes(v1 - 1)


def test_dv_only_merge_leaves_no_empty_data_dir(spark, table):
    """A MERGE whose only effect is deletion (DV written, zero
    post-images/inserts) must not leave an empty __snap= dir behind."""
    snaps_before = {p for p in table.st.list(f"{table.root}/data")
                    if p.startswith("__snap=")}
    src = spark.createDataFrame([(2, "dead")], "k long, v string")
    table.merge(src, keys=("k",), when_matched_update=None,
                when_matched_delete="true", when_not_matched_insert=False,
                mode="dv")
    assert sorted(k for k, _ in _rows(table.read())) == [
        i for i in range(10) if i != 2
    ]
    snaps_after = {p for p in table.st.list(f"{table.root}/data")
                   if p.startswith("__snap=")}
    assert snaps_after == snaps_before  # vector committed, no data dir


def test_restore_returns_dv_state(spark, table):
    table.delete("k = 0", mode="dv")
    v_dv = table.latest_version()
    table.delete("k = 1", mode="dv")
    table.restore(v_dv)
    got = [k for k, _ in _rows(table.read())]
    assert got == list(range(1, 10))  # k=0 gone, k=1 back


def test_dv_delete_nothing_matched_is_noop(spark, table):
    v = table.latest_version()
    assert table.delete("k > 1000", mode="dv") == v
    assert table.latest_version() == v


def test_vacuum_collects_orphaned_dv_dir(spark, table):
    """A crash between the DV parquet write and the manifest commit
    leaves an unreferenced __dv= dir — vacuum must collect it like any
    other crash leftover, without touching live vectors."""
    table.delete("k = 9", mode="dv")  # live vector
    orphan = f"{table.root}/data/__dv=deadbeefcafe0000"
    spark.createDataFrame(
        [("data/__snap=nope/part-0.parquet", 0)], "__dv_file string, __dv_row long"
    ).write.parquet(orphan)
    removed = table.vacuum(keep_versions=1)
    assert any("__dv=deadbeefcafe0000" in p for p in removed)
    live = table.manifest(table.latest_version())["dv_files"]
    assert all(table.st.exists(f"{table.root}/{d}") for d in live)
    assert len(_rows(table.read())) == 9


def test_dv_update_can_move_partitions(spark, tmp_path):
    """mode='dv' may assign the partition column — the updated copy is
    ordinary appended data, so the row just moves lists (the rewrite
    mode must refuse this)."""
    t = SnapshotTable(spark, str(tmp_path / "mv"))
    t.replace_partitions(
        spark.createDataFrame(
            [(1, "d0", 1), (2, "d1", 2)], "k long, day string, x long"
        ),
        "day",
    )
    with pytest.raises(ValueError, match="partition column"):
        t.update({"day": F.lit("d9")}, condition="k = 1", mode="rewrite")
    t.update({"day": F.lit("d9")}, condition="k = 1", mode="dv")
    got = {r["k"]: r["day"] for r in t.read().collect()}
    assert got == {1: "d9", 2: "d1"}
    d9 = [r["k"] for r in t.read(partition_values=["d9"]).collect()]
    assert d9 == [1]


def test_dv_update_nothing_matched_is_noop(spark, table):
    v = table.latest_version()
    assert table.update({"v": F.lit("zz")}, condition="k > 99", mode="dv") == v
    assert table.latest_version() == v


def test_dv_merge_insert_only_and_noop(spark, table):
    """A source with no matches inserts without writing a vector; a
    fully-no-op merge (no matches, insert condition false) commits
    nothing."""
    v0 = table.latest_version()
    source = table.spark.createDataFrame(
        [(50, "v50")], "k long, v string"
    )
    table.merge(source, keys=("k",), mode="dv")
    m = table.manifest(table.latest_version())
    assert not m.get("dv_files")
    assert dict(_rows(table.read()))[50] == "v50"
    v1 = table.latest_version()
    assert table.merge(
        source.where("k > 999"), keys=("k",), mode="dv"
    ) == v1
    assert table.latest_version() == v1


def test_dv_merge_after_dv_delete_does_not_resurrect(spark, table):
    """A key removed by a DV delete counts as absent: merging it again
    INSERTS a fresh row (it does not un-mask the old one)."""
    table.delete("k = 3", mode="dv")
    table.merge(
        table.spark.createDataFrame([(3, "v3new")], "k long, v string"),
        keys=("k",),
        mode="dv",
    )
    got = dict(_rows(table.read()))
    assert got[3] == "v3new" and len(got) == 10


def test_dv_metrics_report_debt_and_detail_carries_them(spark, tmp_path):
    """dv_metrics / detail(): masked rows + vector bytes from parquet
    FOOTERS only (no data pages), masked fraction against the
    manifest's recorded pre-mask counts; zeroed after compact()
    materializes the masks."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string"))
    assert t.dv_metrics() == {
        "dv_masked_rows": 0, "dv_bytes": 0, "dv_masked_fraction": 0.0}

    t.delete("k < 20", mode="dv")
    m = t.dv_metrics()
    assert m["dv_masked_rows"] == 20
    assert m["dv_bytes"] > 0
    assert m["dv_masked_fraction"] == pytest.approx(0.1)
    d = t.detail()
    assert d["dv_masked_rows"] == 20 and d["dv_masked_fraction"] == pytest.approx(0.1)

    t.delete("k >= 20 and k < 30", mode="dv")  # debt accrues
    assert t.dv_metrics()["dv_masked_rows"] == 30

    t.compact()
    assert t.dv_metrics() == {
        "dv_masked_rows": 0, "dv_bytes": 0, "dv_masked_fraction": 0.0}
    assert t.read().count() == 170


def test_maybe_compact_materializes_only_past_threshold(spark, tmp_path):
    """The executable form of the dv_metrics heuristic: under the
    threshold nothing happens (no table-sized rewrite on small debt),
    past it one full compact retires the vectors."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string"))
    t.delete("k < 4", mode="dv")  # 2% masked
    v = t.latest_version()
    assert t.maybe_compact(max_masked_fraction=0.05) is None
    assert t.latest_version() == v  # under threshold: untouched

    t.delete("k >= 4 and k < 30", mode="dv")  # 15% masked
    out = t.maybe_compact(max_masked_fraction=0.05)
    assert out == t.latest_version() and out > v
    assert t.dv_metrics()["dv_masked_rows"] == 0  # debt retired
    assert t.read().count() == 170


# -- the DML parity matrix: both commit shapes against a Python model ----

_SCHEMA = "k long, day string, x long"
_BASE = [(i, f"d{i % 3}", i * 10) for i in range(12)]
_TAIL = [(12, "d0", 120), (13, "d1", 130)]  # lands after evolution


def _dml_table(spark, root, layout):
    """12 rows (14 when mixed): unpartitioned, partitioned by `day`, or
    written unpartitioned then evolved to `day` with two rows landing
    in the new layout (a mixed-layout table)."""
    t = SnapshotTable(spark, root)
    base = spark.createDataFrame(_BASE, _SCHEMA)
    if layout == "partitioned":
        t.replace_partitions(base, "day")
    else:
        t.overwrite(base)
    if layout == "mixed":
        t.evolve_partitioning("day")
        t.append(spark.createDataFrame(_TAIL, _SCHEMA))
        assert t._layouts_mixed(t.manifest(t.latest_version()))
    return t


def _dml(spark, t, verb, mode, match=True):
    if verb == "delete":
        return t.delete("k % 3 = 0" if match else "k > 999", mode=mode)
    if verb == "update":
        return t.update({"x": "x + 100"},
                        condition="k % 4 = 0" if match else "k > 999", mode=mode)
    src = ([(1, "d1", 1000), (4, "d1", -1), (100, "d0", 7), (5, "d0", 55)]
           if match else [(200, "d0", 1)])
    return t.merge(spark.createDataFrame(src, _SCHEMA), keys=("day", "k"),
                   when_matched_delete="s.x < 0",
                   when_not_matched_insert=match, mode=mode)


def _model(verb, rows):
    m = {(k, d): x for k, d, x in rows}
    if verb == "delete":
        m = {key: x for key, x in m.items() if key[0] % 3}
    elif verb == "update":
        m = {key: x + 100 if key[0] % 4 == 0 else x for key, x in m.items()}
    else:
        m[(1, "d1")] = 1000  # matched: updated
        del m[(4, "d1")]  # matched with s.x < 0: deleted
        m[(100, "d0")] = 7  # not matched: inserted
        m[(5, "d0")] = 55  # misses (5, "d2"): inserted beside it
    return sorted((k, d, x) for (k, d), x in m.items())


@pytest.mark.parametrize(
    "verb,layout",
    list(itertools.product(("delete", "update", "merge"),
                           ("unpartitioned", "partitioned", "mixed"))),
)
def test_dml_parity_matrix(spark, tmp_path, verb, layout):
    """DELETE, UPDATE and MERGE in dv and rewrite mode, over an
    unpartitioned, a partitioned and a mixed-layout table: both end
    states equal each other and a pure-Python model, a matching call
    commits exactly one version, a no-match call commits none, and the
    dv commit keeps every pre-existing entry and adds one vector."""
    rows = _BASE + (_TAIL if layout == "mixed" else [])
    got = {}
    for mode in ("dv", "rewrite"):
        t = _dml_table(spark, str(tmp_path / mode), layout)
        v0 = t.latest_version()
        m0 = t.manifest(v0)
        assert _dml(spark, t, verb, mode) == v0 + 1 == t.latest_version()
        got[mode] = sorted((r["k"], r["day"], r["x"]) for r in t.read().collect())
        if mode == "dv":
            m1 = t.manifest(v0 + 1)
            assert all(e in m1["entries"] for e in m0["entries"])
            # one new data dir for the post-images/inserts, none for DELETE
            assert len(m1["entries"]) == len(m0["entries"]) + (verb != "delete")
            assert len(m1["dv_files"]) == len(m0.get("dv_files") or []) + 1
        assert _dml(spark, t, verb, mode, match=False) == v0 + 1
        assert t.latest_version() == v0 + 1
    assert got["dv"] == got["rewrite"] == _model(verb, rows)


@pytest.mark.parametrize("verb", ["delete", "update", "merge"])
@pytest.mark.parametrize("mode", ["rewrite", "dv"])
def test_no_match_commits_nothing(spark, table, verb, mode):
    """One no-op rule for every verb in both modes: a change that
    matches (and inserts) nothing commits no version — an unpartitioned
    rewrite-mode UPDATE or MERGE included, which used to rewrite the
    whole table."""
    v = table.latest_version()
    if verb == "delete":
        assert table.delete("k > 99", mode=mode) == v
    elif verb == "update":
        assert table.update({"v": F.lit("zz")}, condition="k > 99", mode=mode) == v
    else:
        src = spark.createDataFrame([(500, "v500")], "k long, v string")
        assert table.merge(src, keys=("k",), when_not_matched_insert=False,
                           mode=mode) == v
    assert table.latest_version() == v
    assert _rows(table.read()) == [(i, f"v{i}") for i in range(10)]


@pytest.mark.parametrize("mode,verb", [
    (mode, verb) for verb in ("delete", "update") for mode in ("rewrite", "dv")
] + [pytest.param(None, "compact", id="compact")])
def test_missing_table_raises_file_not_found(spark, tmp_path, mode, verb):
    """One missing-table rule: DELETE and UPDATE (both modes) and
    compact raise FileNotFoundError."""
    t = SnapshotTable(spark, str(tmp_path / "absent"))
    with pytest.raises(FileNotFoundError, match="no snapshot at"):
        if verb == "delete":
            t.delete("k = 1", mode=mode)
        elif verb == "update":
            t.update({"v": F.lit("zz")}, condition="k = 1", mode=mode)
        else:
            t.compact()


def test_dv_delete_lost_race_reclaims_its_vector(spark, table):
    """A rival append landing between the dv delete's vector write and
    its commit: the delete re-runs against the advanced snapshot and
    deletes the vector it staged for the lost attempt — the only
    `__dv=` dir left is the one the manifest names."""
    rival = SnapshotTable(spark, table.root)
    real_commit = table._commit
    fired = {"done": False}

    def interloping(build, *staged):
        if not fired["done"]:  # rival lands AFTER the vector was staged
            fired["done"] = True
            rival.append(spark.createDataFrame([(-1, "rival")], "k long, v string"))
        return real_commit(build, *staged)

    table._commit = interloping
    try:
        table.delete("k >= 7", mode="dv")
    finally:
        table._commit = real_commit
    assert fired["done"]
    m = table.manifest(table.latest_version())
    on_disk = {d for d in os.listdir(os.path.join(table.root, "data"))
               if d.startswith("__dv=")}
    assert {f"data/{d}" for d in on_disk} == set(m["dv_files"])
    assert len(on_disk) == 1
    assert _rows(table.read()) == [(-1, "rival")] + [(i, f"v{i}") for i in range(7)]
