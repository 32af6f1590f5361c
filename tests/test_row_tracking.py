"""Row tracking (Delta row-tracking feature, v1): a system-owned
`__row_id` column assigned by the engine and PRESERVED by every
rewrite — the stable row identity downstream consumers use when no
user key exists.  Built on the identity machinery (`system: true`
spec): absent columns assign whole batches, mixed frames (upsert
unions, merge insert legs) fill only their NULLs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pixelspark.table import SnapshotTable


def _ids(t, by="k"):
    return {r[by]: r["__row_id"] for r in t.read().collect()}


def test_assigns_unique_ids_and_survives_compact(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    ids0 = _ids(t)
    assert sorted(ids0.values()) == [1, 2, 3]  # dense from start=1

    t.compact()  # full rewrite: ids must NOT churn
    assert _ids(t) == ids0
    # and the watermark survives: new rows continue, never reuse
    t.append(spark.createDataFrame([(4, "d")], "k long, v string"))
    ids1 = _ids(t)
    assert ids1[4] == 4 and {ids1[k] for k in (1, 2, 3)} == {1, 2, 3}


def test_upsert_inherits_ids_for_updated_keys(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    ids0 = _ids(t)

    # update k=1, insert k=9 — source knows nothing about __row_id
    t.upsert(spark.createDataFrame([(1, "a2"), (9, "z")],
                                   "k long, v string"), keys=("k",))
    ids1 = _ids(t)
    assert ids1[1] == ids0[1]  # same logical row, same id
    assert ids1[2] == ids0[2]
    assert ids1[9] not in ids0.values()  # fresh id for the new key
    assert len(set(ids1.values())) == 3  # all distinct
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "a2", 2: "b", 9: "z"}


def test_dv_merge_preserves_updated_ids_and_assigns_inserts(
    spark, tmp_path
):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    ids0 = _ids(t)

    t.merge(
        spark.createDataFrame([(2, "b2"), (7, "n")], "k long, v string"),
        keys=("k",),
        mode="dv",
    )
    ids1 = _ids(t)
    assert ids1[2] == ids0[2]            # post-image carries t.__row_id
    assert ids1[1] == ids0[1] and ids1[3] == ids0[3]
    assert ids1[7] not in ids0.values()  # insert leg filled fresh
    assert len(set(ids1.values())) == 4

    # rewrite-mode merge behaves identically
    t.merge(
        spark.createDataFrame([(3, "c2"), (8, "m")], "k long, v string"),
        keys=("k",),
        mode="rewrite",
    )
    ids2 = _ids(t)
    assert ids2[3] == ids1[3] and ids2[8] not in ids1.values()
    assert len(set(ids2.values())) == 5


def test_update_delete_and_cdf_keep_ids_stable(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    ids0 = _ids(t)
    v0 = t.latest_version()

    t.update({"v": F.lit("b2")}, condition=F.col("k") == 2, mode="dv")
    t.delete("k = 3", mode="dv")
    ids1 = _ids(t)
    assert ids1 == {1: ids0[1], 2: ids0[2]}  # update kept, delete gone

    # the change feed carries the stable ids — a CDC consumer gets a
    # row identity without a user key
    ch = t.read_changes(v0, keys=("k",))
    by = {(r["k"], r["change_type"]): r["__row_id"] for r in ch.collect()}
    assert by[(2, "updated")] == ids0[2]
    assert by[(3, "deleted")] == ids0[3]


def test_enable_refusals_and_streaming_append_once(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    with pytest.raises(ValueError, match="backfill"):
        t.enable_row_tracking()  # existing rows: needs backfill=True

    t3 = SnapshotTable(spark, str(tmp_path / "t3"))
    t3.overwrite(spark.createDataFrame([], "k long, v string"))
    t3.enable_row_tracking()
    with pytest.raises(ValueError, match="already enabled"):
        t3.enable_row_tracking()
    # exactly-once ingest: a replayed batch assigns nothing
    t3.append_once(spark.createDataFrame([(1, "a")], "k long, v string"),
                   "app", 1)
    high0 = t3.manifest(t3.latest_version())["row_tracking"]["high"]
    assert t3.append_once(
        spark.createDataFrame([(1, "a")], "k long, v string"), "app", 1
    ) is None
    assert t3.manifest(t3.latest_version())["row_tracking"]["high"] == high0
    assert sorted(_ids(t3).values()) == [1]


def test_upsert_id_inheritance_survives_duplicate_existing_rows(
    spark, tmp_path
):
    """ADVICE r7: append can stack several rows per business key; the
    upsert id-inheritance join must not fan the source out (one
    source row -> one rewritten row, inheriting ONE of the key's
    ids), and a source with duplicate keys is refused — two rows
    sharing one __row_id would break row-id uniqueness."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    # two physical rows for k=1 (append is not keyed)
    t.append(spark.createDataFrame([(1, "a"), (1, "a2"), (2, "b")],
                                   "k long, v string"))

    t.upsert(spark.createDataFrame([(1, "a3")], "k long, v string"),
             keys=("k",))
    rows = t.read().collect()
    assert sorted(r["k"] for r in rows) == [1, 2]  # no fan-out
    ids = {r["k"]: r["__row_id"] for r in rows}
    assert ids[1] in (1, 2)  # inherited the key's min id, not both
    assert len(set(ids.values())) == 2

    with pytest.raises(ValueError, match="key-unique"):
        t.upsert(spark.createDataFrame([(3, "x"), (3, "y")],
                                       "k long, v string"), keys=("k",))


def test_backfill_assigns_existing_rows_and_lifecycle_holds(
    spark, tmp_path
):
    """v2: enable_row_tracking(backfill=True) on a loaded table is ONE
    distributed rewrite — existing rows get dense ids 1..N, and every
    later rewrite preserves them exactly as on a born-tracked table."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.delete("k = 3", mode="dv")  # DV debt: backfill must materialize

    t.enable_row_tracking(backfill=True)
    ids0 = _ids(t)
    assert sorted(ids0.values()) == [1, 2]  # dense over LIVE rows
    assert t.manifest(t.latest_version()).get("dv_files") in (None, [])

    # the backfilled table passes the same lifecycle as a fresh one
    t.upsert(spark.createDataFrame([(1, "a2"), (9, "z")],
                                   "k long, v string"), keys=("k",))
    ids1 = _ids(t)
    assert ids1[1] == ids0[1] and ids1[2] == ids0[2]
    assert ids1[9] == 3  # watermark continued past the backfill
    t.compact()
    assert _ids(t) == ids1

    # idempotence: second enable refuses, backfill or not
    with pytest.raises(ValueError, match="already enabled"):
        t.enable_row_tracking(backfill=True)


def test_backfill_on_partitioned_table_keeps_layout(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace_partitions(
        spark.createDataFrame([(1, "x", "d1"), (2, "y", "d2")],
                              "k long, v string, day string"), "day")
    t.enable_row_tracking(backfill=True)
    m = t.manifest(t.latest_version())
    assert m["partition_col"] == "day"
    ids0 = _ids(t)
    assert sorted(ids0.values()) == [1, 2]
    # partition-scoped refresh: untouched d1 keeps its id (which ROW
    # got which id at backfill is partitioning-dependent — Delta
    # semantics), the refreshed d2 row continues the watermark
    t.replace_partitions(
        spark.createDataFrame([(5, "z", "d2")],
                              "k long, v string, day string"), "day")
    ids = _ids(t)
    assert ids[1] == ids0[1] and ids[5] == 3


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_user_identity_and_row_tracking_coexist(spark, tmp_path):
    """v2: a user identity column and __row_id each keep their own
    manifest watermark slot (Delta ships both)."""
    t = SnapshotTable(spark, str(tmp_path / "t"),
                      identity={"col": "uid", "start": 100, "step": 1})
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k long, v string"))
    rows = {r["k"]: r for r in t.read().collect()}
    assert sorted(r["uid"] for r in rows.values()) == [100, 101]
    assert sorted(r["__row_id"] for r in rows.values()) == [1, 2]

    # upsert: __row_id is inherited/filled by the engine (system
    # column), but the USER identity keeps its refuse-NULLs stance —
    # a source that omits uid is refused, one that carries explicit
    # uids (Delta GENERATED BY DEFAULT) goes through
    from pixelspark.table import ConstraintViolation

    with pytest.raises(ConstraintViolation, match="NULL in identity"):
        t.upsert(spark.createDataFrame([(1, "a2"), (9, "z")],
                                       "k long, v string"), keys=("k",))
    t.upsert(
        spark.createDataFrame(
            [(1, "a2", rows[1]["uid"]), (9, "z", 500)],
            "k long, v string, uid long"),
        keys=("k",))
    rows1 = {r["k"]: r for r in t.read().collect()}
    assert rows1[1]["__row_id"] == rows[1]["__row_id"]
    assert rows1[2]["uid"] == rows[2]["uid"]
    assert rows1[9]["__row_id"] == 3 and rows1[9]["uid"] == 500
    t.sync_identity()  # watermark jumps past the explicit 500
    m = t.manifest(t.latest_version())
    assert m["identity"]["col"] == "uid" and not m["identity"].get("system")
    assert m["identity"]["high"] == 501
    assert m["row_tracking"]["col"] == "__row_id"
    t.append(spark.createDataFrame([(10, "w")], "k long, v string"))
    rows2 = {r["k"]: r for r in t.read().collect()}
    assert rows2[10]["uid"] == 501 and rows2[10]["__row_id"] == 4

    # and the reverse order: tracking first, identity via constructor
    # on an already-tracked table keeps both slots
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(spark.createDataFrame([], "k long, v string"))
    t2.enable_row_tracking()
    t2b = SnapshotTable(spark, str(tmp_path / "t2"),
                        identity={"col": "uid", "start": 1, "step": 1})
    t2b.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    r = t2b.read().collect()[0]
    assert r["uid"] == 1 and r["__row_id"] == 1


def test_legacy_v1_manifest_migrates_to_row_tracking_slot(
    spark, tmp_path
):
    """v1 manifests stored the system spec in the identity slot; the
    next commit under v2 code migrates it to `row_tracking` and the
    ids keep flowing from the same watermark."""
    import json

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    # rewrite the manifest into the v1 layout (system spec in the
    # identity slot) to simulate a table written by v1 code
    v = t.latest_version()
    mp = f"{tmp_path}/t/_manifests/v{v:08d}.json"
    m = json.loads(open(mp).read())
    m["identity"] = m.pop("row_tracking")
    open(mp, "w").write(json.dumps(m))

    t = SnapshotTable(spark, str(tmp_path / "t"))
    assert t._slot_of(t.manifest(v), "row_tracking")["col"] == "__row_id"
    assert t._slot_of(t.manifest(v), "identity") is None  # filtered: system spec
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    ids = _ids(t)
    assert ids == {1: 1, 2: 2}  # watermark continued, no reuse
    m2 = t.manifest(t.latest_version())
    assert m2["row_tracking"]["col"] == "__row_id"  # migrated
    assert "identity" not in m2 or not m2["identity"].get("system")


def test_explicit_out_of_watermark_row_id_is_refused(spark, tmp_path):
    """r8 hardening: a system id column is engine-owned — an explicit
    __row_id at/above the watermark would collide the moment
    assignment reaches it, so the inline write audit refuses it;
    carried ids (always below the watermark) still pass."""
    from pixelspark.table import ConstraintViolation

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k long, v string"))

    with pytest.raises(ConstraintViolation, match="identity"):
        t.append(spark.createDataFrame(
            [(9, "z", 999)], "k long, v string, __row_id long"))
    # a carried frame (ids the engine assigned) still writes fine
    t.overwrite(t.read())
    assert sorted(_ids(t).values()) == [1, 2]
    # and assignment continues uncollided
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert sorted(_ids(t).values()) == [1, 2, 3]

    # r9 (advisor): a MIXED frame — one NULL (triggers assignment,
    # which drops the column from the write-plan audit set) plus one
    # explicit id at/above the watermark — must be refused too; the
    # guard lives inside _fill_null_ids against the pre-assignment
    # high, so the smuggled 999 can't ride in under the fill.
    with pytest.raises(ConstraintViolation, match="identity"):
        t.append(spark.createDataFrame(
            [(8, "y", None), (9, "z", 999)],
            "k long, v string, __row_id long"))
    assert sorted(_ids(t).values()) == [1, 2, 3]  # nothing landed
    # a mixed frame whose explicit ids are genuinely carried (< high)
    # still fills its NULLs fine — the upsert/merge shape
    cur_high = t.manifest(t.latest_version())["row_tracking"]["high"]
    t.overwrite(spark.createDataFrame(
        [(1, "a", 1), (4, "d", None)], "k long, v string, __row_id long"))
    ids = _ids(t)
    assert ids[1] == 1 and ids[4] >= cur_high  # carried kept, NULL filled fresh


def test_row_tracking_composes_with_column_mapping(spark, tmp_path):
    """r8: row tracking on a column-mapping-enabled table (Delta
    ships both): the enable commit maps __row_id to a fresh physical
    name like add_columns; a mapped backfill is two commits
    (metadata enable, then one fill-rewrite); renames and the id
    lifecycle keep composing afterwards."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k long, v string"))
    t.enable_column_mapping()
    t.rename_column("v", "val")

    t.enable_row_tracking(backfill=True)
    ids0 = _ids(t)
    assert sorted(ids0.values()) == [1, 2]
    m = t.manifest(t.latest_version())
    assert "__row_id" in m["column_mapping"]["cols"]
    phys = m["column_mapping"]["cols"]["__row_id"]
    assert phys != "__row_id"  # fresh physical name, add_columns style

    # lifecycle on the mapped+tracked table: upsert inherits, rename
    # of OTHER columns stays metadata-only, ids never churn
    t.upsert(spark.createDataFrame([(1, "a2"), (9, "z")],
                                   "k long, val string"), keys=("k",))
    ids1 = _ids(t)
    assert ids1[1] == ids0[1] and ids1[2] == ids0[2] and ids1[9] == 3
    t.rename_column("val", "value")
    assert _ids(t) == ids1
    t.compact()
    assert _ids(t) == ids1
    # the system column itself can never be renamed or dropped
    with pytest.raises(ValueError, match="identity"):
        t.rename_column("__row_id", "rid")

    # empty mapped table: single metadata commit, then ingest
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.overwrite(spark.createDataFrame([], "k long, v string"))
    t2.enable_column_mapping()
    t2.enable_row_tracking()
    t2.append(spark.createDataFrame([(5, "x")], "k long, v string"))
    assert _ids(t2) == {5: 1}


def test_mapped_backfill_resumes_after_crash(spark, tmp_path):
    """r9 (advisor): the mapped backfill is two commits — a crash
    between the metadata enable and the compact fill leaves pre-enable
    rows with NULL __row_id and the spec present.  Re-running
    enable_row_tracking(backfill=True) must RESUME the fill, not raise
    'already enabled'; on a completed table it still raises."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "k long, v string"))
    t.enable_column_mapping()
    # simulate the crash: the first of the two commits only
    t.enable_row_tracking(backfill=False, _allow_rows=True)
    nulls = t.read().where(F.col("__row_id").isNull()).count()
    assert nulls == 2  # the documented NULL-id window

    t.enable_row_tracking(backfill=True)  # resumes: runs the fill
    ids = _ids(t)
    assert sorted(ids.values()) == [1, 2]
    assert t.read().where(F.col("__row_id").isNull()).count() == 0

    # fully backfilled: a third call is genuinely 'already enabled'
    with pytest.raises(ValueError, match="already enabled"):
        t.enable_row_tracking(backfill=True)
    assert _ids(t) == ids  # and nothing churned


def test_restore_across_enablement_boundary_is_refused(spark, tmp_path):
    """restore() to a version whose files predate row tracking would
    serve a tracked table with no __row_id at all — refused (found by
    the r9 storage fuzz extension)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.enable_row_tracking(backfill=True)
    with pytest.raises(ValueError, match="row tracking was enabled after"):
        t.restore(2)
    # the refusal must not have committed anything
    assert [h["op"]["name"] for h in t.history()][0] != "restore"


def test_restore_after_enablement_reverts_ids_keeps_watermark(
    spark, tmp_path
):
    """An ALLOWED restore (target already tracked) brings rows back
    with their ORIGINAL ids, and the head watermark carries over so
    ids burned by rolled-back-over versions are never reissued."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v_target = t.latest_version()
    ids_then = _ids(t)

    t.delete(F.col("k") == 1)
    t.append(spark.createDataFrame([(9, "z")], "k long, v string"))
    burned = set(_ids(t).values())

    t.restore(v_target)
    ids_back = _ids(t)
    assert ids_back == ids_then  # restored rows hold their original ids

    # fresh rows must draw ids past EVERYTHING ever assigned,
    # including the rolled-back-over k=9 row's id
    t.append(spark.createDataFrame([(10, "y")], "k long, v string"))
    new_id = _ids(t)[10]
    assert new_id not in burned and new_id not in ids_then.values()


def test_restore_across_identity_enablement_is_refused(spark, tmp_path):
    """Same boundary rule for the USER identity slot: restoring to a
    pre-identity version would resurrect a schema without the column
    while the spec still claims it."""
    t0 = SnapshotTable(spark, str(tmp_path / "t"))
    t0.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t = SnapshotTable(spark, str(tmp_path / "t"),
                      identity={"col": "uid", "start": 100})
    t.compact()  # full rewrite: persists the seed, assigns everywhere
    with pytest.raises(ValueError, match="identity column was enabled"):
        t.restore(1)
    # restoring to the post-enablement version is fine
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.restore(2)
    got = {r["k"]: r["uid"] for r in t.read().collect()}
    assert set(got) == {1} and got[1] is not None


def test_identity_seed_on_nonempty_table_refuses_wedging_writes(
    spark, tmp_path
):
    """Adopting a constructor identity seed on a table that already
    has data WITHOUT the column is only allowed through a full
    rewrite: a commit retaining old files would leave their rows NULL
    in the identity column, and the refuse-NULLs audit would then
    wedge every later rewrite (found by probing for the r9 fuzz
    identity wave — Delta avoids the state by allowing identity only
    at CREATE TABLE)."""
    t0 = SnapshotTable(spark, str(tmp_path / "t"))
    t0.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                    "k long, v string"))
    t = SnapshotTable(spark, str(tmp_path / "t"),
                      identity={"col": "uid", "start": 100})
    # append keeps the old entry alive -> refused, nothing committed
    with pytest.raises(ValueError, match="cannot adopt identity"):
        t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    assert t.latest_version() == 1
    # a schema-neutral commit (dv-delete) may persist the SPEC, but it
    # cannot launder the wedge: the column-introducing write after it
    # is still refused (the check keys on the schema transition)
    t.delete(F.col("k") == 2, mode="dv")
    with pytest.raises(ValueError, match="cannot adopt identity"):
        t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    # the sanctioned path: a full rewrite assigns the column everywhere
    t.compact()
    got = {r["k"]: r["uid"] for r in t.read().collect()}
    assert got == {1: 100}  # k=2 died with the dv-delete
    # and the table is NOT wedged afterwards
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    t.compact()
    assert {r["k"]: r["uid"] for r in t.read().collect()}[3] == 101


def test_backfill_is_cdf_silent_but_ids_still_served(spark, tmp_path):
    """enable_row_tracking(backfill=True) rewrites every file to
    materialize __row_id, but the LOGICAL data is untouched — the
    change feed across the backfill must be empty (Delta's backfill is
    likewise CDF-silent; found by the r9 storage fuzz).  Real changes
    in the same window still flow, and their rows still CARRY the
    stable ids."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v1 = t.latest_version()
    t.enable_row_tracking(backfill=True)
    assert t.read_changes(v1, keys=("k",)).collect() == []

    # a real update in a window that also spans the backfill flows,
    # and the feed serves the stable id for the changed key
    t.update({"v": F.lit("a2")}, condition=F.col("k") == 1)
    ch = t.read_changes(v1, keys=("k",)).collect()
    assert [(c["k"], c["change_type"]) for c in ch] == [(1, "updated")]
    assert ch[0]["__row_id"] == _ids(t)[1]


def test_delete_reinsert_same_values_surfaces_new_id_in_cdf(
    spark, tmp_path
):
    """r10 (advisor medium): a key deleted and re-inserted with
    IDENTICAL logical values inside one CDF window gets a fresh
    __row_id.  The feed must classify it 'updated' (assigned ->
    different-assigned is a real identity change a CDC consumer keyed
    on the stable id has to learn), while the backfill's
    NULL -> assigned edge stays silent (previous test)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([], "k long, v string"))
    t.enable_row_tracking()
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    old_ids = _ids(t)
    v0 = t.latest_version()

    t.delete("k = 2")
    t.append(spark.createDataFrame([(2, "b")], "k long, v string"))
    new_ids = _ids(t)
    assert new_ids[2] != old_ids[2]  # reinsert got a fresh id

    ch = t.read_changes(v0, keys=("k",), preimages=True).collect()
    got = sorted((r["k"], r["change_type"], r["__row_id"]) for r in ch)
    assert got == [
        (2, "update_postimage", new_ids[2]),
        (2, "update_preimage", old_ids[2]),
    ]

    # non-preimage shape: one 'updated' row carrying the NEW id
    ch2 = t.read_changes(v0, keys=("k",)).collect()
    assert [(r["k"], r["change_type"], r["__row_id"]) for r in ch2] == [
        (2, "updated", new_ids[2])
    ]
