"""Incremental materialized aggregate views (ops/matview.py): CDF
pre/post images fold into COUNT/SUM state by exact retraction, the
refresh is idempotent via the merge txn watermark, and after EVERY
refresh the view equals the from-scratch aggregate of the source."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pixelspark.ops import matview as MV
from pixelspark.table import SnapshotTable


@pytest.fixture()
def pair(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    return src, view


def _rows(spark, rows):
    return spark.createDataFrame(
        rows, "k long, status string, views long, amt double"
    )


def _recompute(src):
    return src.read().groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("views").cast("long").alias("views"),
        F.sum(F.col("amt").cast(MV._SUM_T)).alias("amt"),
    )


def _assert_view_exact(src, view):
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    got = sorted(map(tuple, view.read().select(
        "status", "n", "views", "amt").collect()), key=key)
    want = sorted(map(tuple, _recompute(src).collect()), key=key)
    assert got == want


def _refresh(src, view):
    return MV.refresh_agg_view(
        src, view, group_by=("status",), sum_cols=("views", "amt"),
        src_keys=("k",),
    )


def test_view_tracks_source_through_mixed_history(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "active", 10, 1.5), (2, "active", 20, 2.5),
        (3, "frozen", 5, 0.25),
    ]))
    assert _refresh(src, view) is not None
    _assert_view_exact(src, view)

    # updates move a row across groups AND change summed values
    src.merge(_rows(spark, [(2, "frozen", 25, 3.0), (4, "new", 7, 0.5)]),
              keys=("k",))
    assert _refresh(src, view) is not None
    _assert_view_exact(src, view)

    # merge-on-read delete (deletion vectors in the CDF window)
    src.delete(F.col("k") == 1, mode="dv")
    assert _refresh(src, view) is not None
    _assert_view_exact(src, view)

    # nothing new: refresh is a no-op
    assert _refresh(src, view) is None


def test_emptied_groups_leave_no_ghost_rows(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 10, 0.1), (2, "a", 20, 0.2), (3, "b", 1, 1.0),
    ]))
    _refresh(src, view)
    src.delete("status = 'a'")
    _refresh(src, view)
    assert [r["status"] for r in view.read().collect()] == ["b"]
    _assert_view_exact(src, view)


def test_float_retraction_is_exact(spark, pair):
    """0.1-style values fold in DECIMAL: inserting then deleting the
    same rows nets to exactly zero (group fully removed), with no
    float residue keeping a ghost row alive."""
    src, view = pair
    src.overwrite(_rows(spark, [(i, "x", 1, 0.1) for i in range(7)]))
    _refresh(src, view)
    src.delete("status = 'x'")
    _refresh(src, view)
    assert view.read().isEmpty()


def test_refresh_folds_multiple_source_commits_at_once(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    src.upsert(_rows(spark, [(2, "a", 2, 2.0)]), keys=("k",))
    src.upsert(_rows(spark, [(1, "b", 3, 3.0)]), keys=("k",))
    _refresh(src, view)  # one refresh spans three source versions
    _assert_view_exact(src, view)
    assert MV.last_folded_version(src, view) == src.latest_version()


def test_replayed_refresh_commits_nothing(spark, pair):
    """Crash-retry shape: the fold merge replayed with the same
    (app_id, source_version) is rejected by the txn watermark."""
    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    _refresh(src, view)
    v_after = view.latest_version()
    replay = view.merge(
        spark.createDataFrame([("a", 5, 5, 5.0)],
                              "status string, n long, views long, amt double"),
        keys=("status",),
        txn=(MV._app_id(src.root, src.table_id(), MV._txn_map(view)),
             src.latest_version()),
    )
    assert replay is None
    assert view.latest_version() == v_after
    _assert_view_exact(src, view)


def test_dv_merge_mode_fold(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 10, 1.0), (2, "b", 20, 2.0),
    ]))
    MV.refresh_agg_view(src, view, group_by=("status",),
                        sum_cols=("views", "amt"), src_keys=("k",),
                        merge_mode="dv")
    src.merge(_rows(spark, [(2, "b", 30, 2.5)]), keys=("k",))
    MV.refresh_agg_view(src, view, group_by=("status",),
                        sum_cols=("views", "amt"), src_keys=("k",),
                        merge_mode="dv")
    _assert_view_exact(src, view)


def test_with_avg_derives_from_exact_pairs(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 10, 1.0), (2, "a", 30, 3.0),
    ]))
    _refresh(src, view)
    row = MV.with_avg(view.read(), ("views",)).collect()[0]
    assert float(row["avg_views"]) == 20.0


# -- MIN/MAX views: affected-group recompute --------------------------------


def _recompute_minmax(src):
    return src.read().groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("views").alias("min_views"),
        F.max("views").alias("max_views"),
    )


def _refresh_mm(src, view):
    return MV.refresh_minmax_view(
        src, view, group_by=("status",),
        min_cols=("views",), max_cols=("views",), src_keys=("k",),
    )


def _assert_mm_exact(src, view):
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    got = sorted(map(tuple, view.read().select(
        "status", "n", "min_views", "max_views").collect()), key=key)
    want = sorted(map(tuple, _recompute_minmax(src).collect()), key=key)
    assert got == want


def test_minmax_view_survives_extremum_deletion(spark, pair):
    """The case folding cannot handle: deleting the current maximum
    must surface the runner-up (affected-group recompute)."""
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 10, 0.0), (2, "a", 99, 0.0), (3, "b", 7, 0.0),
    ]))
    _refresh_mm(src, view)
    _assert_mm_exact(src, view)
    src.delete("k = 2")  # kills group a's max
    _refresh_mm(src, view)
    _assert_mm_exact(src, view)
    row = {r["status"]: r["max_views"] for r in view.read().collect()}
    assert row["a"] == 10  # runner-up surfaced


def test_minmax_view_cross_group_move_touches_both(spark, pair):
    """An update moving a row across groups must refresh the OLD
    group's extrema too (pre-image group membership)."""
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 10, 0.0), (2, "a", 99, 0.0), (3, "b", 7, 0.0),
    ]))
    _refresh_mm(src, view)
    src.upsert(_rows(spark, [(2, "b", 99, 0.0)]), keys=("k",))
    _refresh_mm(src, view)
    _assert_mm_exact(src, view)
    row = {r["status"]: (r["min_views"], r["max_views"])
           for r in view.read().collect()}
    assert row["a"] == (10, 10) and row["b"] == (7, 99)


def test_minmax_view_emptied_group_and_idempotence(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 0.0), (2, "b", 2, 0.0)]))
    _refresh_mm(src, view)
    src.delete("status = 'a'")
    _refresh_mm(src, view)
    assert [r["status"] for r in view.read().collect()] == ["b"]
    assert _refresh_mm(src, view) is None  # already current
    _assert_mm_exact(src, view)


def test_minmax_view_partition_pruned_rescan(spark, tmp_path):
    """Source partitioned by a group column: the recompute re-reads
    ONLY the touched partitions (manifest-level pruning), asserted
    via the scan's input files."""
    spark_df = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), ("d2", 3, 30), ("d3", 4, 40)],
        "day string, k long, views long",
    )
    src = SnapshotTable(spark, str(tmp_path / "psrc"))
    view = SnapshotTable(spark, str(tmp_path / "pview"))
    src.replace_partitions(spark_df, "day")
    MV.refresh_minmax_view(src, view, group_by=("day",),
                           max_cols=("views",), src_keys=("day", "k"))
    # change only d1; the pruned re-scan must not list d2/d3 files
    src.merge(
        spark.createDataFrame([("d1", 2, 25)], "day string, k long, views long"),
        keys=("day", "k"),
    )
    pruned = src.read(partition_values=["d1"])
    assert all("day=d1" in f for f in pruned.inputFiles())
    MV.refresh_minmax_view(src, view, group_by=("day",),
                           max_cols=("views",), src_keys=("day", "k"))
    got = {r["day"]: (r["n"], r["max_views"]) for r in view.read().collect()}
    assert got == {"d1": (2, 25), "d2": (1, 30), "d3": (1, 40)}


def test_concurrent_fold_race_is_rejected_by_cas_watermark(spark, pair):
    """The double-fold race: refresher B computed its delta from
    watermark v_a but a rival fold advanced the ledger to v_b first.
    B's commit must fail with StaleWatermark — landing it would apply
    the (v_a, v_b] window twice — while a clean replay of an already-
    landed fold still no-ops as None."""
    from pixelspark.table import StaleWatermark

    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    _refresh(src, view)  # watermark -> v1
    v1 = src.latest_version()
    src.upsert(_rows(spark, [(2, "a", 2, 2.0)]), keys=("k",))
    v2 = src.latest_version()
    delta = spark.createDataFrame(
        [("a", 1, 2, 2.0)], "status string, n long, views long, amt double"
    )
    app = MV._app_id(src.root, src.table_id(), MV._txn_map(view))
    upd = {c: F.col(f"t.{c}") + F.col(f"s.{c}") for c in ("n", "views", "amt")}
    # B folded (0, v2] believing the watermark was still 0: stale
    with pytest.raises(StaleWatermark):
        view.merge(delta, keys=("status",), when_matched_update=upd,
                   txn=(app, v2, 0))
    # B folded (v1, v2] from the true watermark: lands
    assert view.merge(delta, keys=("status",), when_matched_update=upd,
                      txn=(app, v2, v1)) is not None
    _assert_view_exact(src, view)
    # replay of the landed fold: clean no-op, not a CAS trip
    assert view.merge(delta, keys=("status",), when_matched_update=upd,
                      txn=(app, v2, v1)) is None


def test_null_group_key_updates_instead_of_reinserting(spark, pair):
    """NULL group values: SQL MERGE equality never matches NULL=NULL,
    so without null-safe keys a NULL group would gain a fresh view
    row on every refresh.  The fold merges with <=> semantics — one
    NULL row, exact, updated in place."""
    src, view = pair
    src.overwrite(spark.createDataFrame(
        [(1, None, 10, 1.0), (2, "a", 5, 0.5)],
        "k long, status string, views long, amt double",
    ))
    _refresh(src, view)
    src.upsert(spark.createDataFrame(
        [(3, None, 7, 0.25)],
        "k long, status string, views long, amt double",
    ), keys=("k",))
    _refresh(src, view)
    rows = view.read().where(F.col("status").isNull()).collect()
    assert len(rows) == 1  # updated, not re-inserted
    assert (rows[0]["n"], rows[0]["views"]) == (2, 17)
    got = {r["status"]: (r["n"], r["views"]) for r in view.read().collect()}
    want = {r["status"]: (r["n"], r["views"]) for r in _recompute(src).collect()}
    assert got == want


# -- join views ------------------------------------------------------------


@pytest.fixture()
def triple(spark, tmp_path):
    left = SnapshotTable(spark, str(tmp_path / "orders"))
    right = SnapshotTable(spark, str(tmp_path / "custs"))
    view = SnapshotTable(spark, str(tmp_path / "jview"))
    return left, right, view


def _orders(spark, rows):
    return spark.createDataFrame(rows, "o long, cust long, qty long, price double")


def _custs(spark, rows):
    return spark.createDataFrame(rows, "cust long, segment string")


def _jrefresh(left, right, view):
    return MV.refresh_join_view(
        left, right, view, on=("cust",), group_by=("segment",),
        sum_cols=("qty", "revenue"),
        left_keys=("o",), right_keys=("cust",),
        derive={"revenue": "qty * price"},
    )


def _jrecompute(left, right):
    return (
        left.read().join(right.read(), "cust")
        .withColumn("revenue", F.expr("qty * price").cast(MV._SUM_T))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("qty").cast("long").alias("qty"),
             F.sum("revenue").alias("revenue"))
    )


def _assert_jview_exact(left, right, view):
    got = sorted(map(tuple, view.read().select(
        "segment", "n", "qty", "revenue").collect()))
    want = sorted(map(tuple, _jrecompute(left, right).collect()))
    assert got == want


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_join_view_tracks_both_sources(spark, triple):
    """The two-phase delta rule keeps view == exact aggregate of the
    inner join after every refresh: initial load, left appends, a
    right-side UPDATE that moves a customer across segments (join-
    crossing retraction), a left DV delete, and the final no-op."""
    left, right, view = triple
    left.overwrite(_orders(spark, [
        (1, 10, 2, 1.5), (2, 10, 3, 2.0), (3, 20, 1, 10.0),
        (4, 99, 5, 1.0),  # dangling: no such customer -> not in view
    ]))
    right.overwrite(_custs(spark, [(10, "retail"), (20, "b2b")]))
    assert _jrefresh(left, right, view) is not None
    _assert_jview_exact(left, right, view)

    left.append(_orders(spark, [(5, 20, 4, 0.25), (6, 10, 1, 9.0)]))
    assert _jrefresh(left, right, view) is not None
    _assert_jview_exact(left, right, view)

    # customer 10 moves retail -> b2b: every joined order row must
    # retract from 'retail' and land in 'b2b'
    right.merge(_custs(spark, [(10, "b2b"), (30, "new")]), keys=("cust",))
    assert _jrefresh(left, right, view) is not None
    _assert_jview_exact(left, right, view)

    left.delete(F.col("o") == 2, mode="dv")
    assert _jrefresh(left, right, view) is not None
    _assert_jview_exact(left, right, view)

    assert _jrefresh(left, right, view) is None  # both sides current


def test_join_view_missing_side_then_arrival(spark, triple):
    """Before both sides exist the refresh is a typed no-op; once the
    right side arrives, the next refresh folds the LEFT's full history
    (watermarks started at 0) against it."""
    left, right, view = triple
    left.overwrite(_orders(spark, [(1, 10, 2, 1.0)]))
    assert _jrefresh(left, right, view) is None
    right.overwrite(_custs(spark, [(10, "retail")]))
    assert _jrefresh(left, right, view) is not None
    _assert_jview_exact(left, right, view)


def test_join_view_fanout_multiplicity(spark, triple):
    """Duplicate join keys on the non-delta side: one changed left row
    joined to k right rows must contribute k signed rows (multiset
    join semantics), and retract all k on delete."""
    left, right, view = triple
    right.overwrite(spark.createDataFrame(
        [(10, "a"), (10, "b")], "cust long, segment string"))
    left.overwrite(_orders(spark, [(1, 10, 3, 2.0)]))
    _jrefresh(left, right, view)
    _assert_jview_exact(left, right, view)
    got = {r["segment"]: r["n"] for r in view.read().collect()}
    assert got == {"a": 1, "b": 1}
    left.delete("o = 1")
    _jrefresh(left, right, view)
    assert view.read().count() == 0  # exact retraction of the fan-out


def test_join_view_float_derive_retraction_exact(spark, triple):
    """Derived revenue (qty * float price) folds in DECIMAL: insert
    then delete the same orders nets exactly to zero — no float
    residue ghost rows."""
    left, right, view = triple
    right.overwrite(_custs(spark, [(10, "x")]))
    left.overwrite(_orders(spark, [(1, 10, 3, 0.1), (2, 10, 7, 0.1)]))
    _jrefresh(left, right, view)
    left.delete("cust = 10")
    _jrefresh(left, right, view)
    assert view.read().count() == 0


def test_join_view_rejects_ambiguous_columns(spark, triple):
    left, right, view = triple
    left.overwrite(_orders(spark, [(1, 10, 2, 1.0)]))
    right.overwrite(spark.createDataFrame(
        [(10, "a", 9)], "cust long, segment string, qty long"))
    with pytest.raises(ValueError, match="share non-key columns"):
        _jrefresh(left, right, view)


def test_join_view_right_phase_prunes_pinned_fact_scan(spark, tmp_path):
    """A clustered dim change must NOT re-scan the whole fact side:
    the right phase pins the fact table at its watermark and prunes it
    to the change window's join-key [min, max] via stats-file
    skipping.  Four appends stripe the fact by key range; a dim update
    touching only keys 0-9 must read back a strict subset of fact
    files — and the view still equals the from-scratch aggregate."""
    fact = SnapshotTable(spark, str(tmp_path / "fact"), stats_cols=("cust",))
    dim = SnapshotTable(spark, str(tmp_path / "dim"))
    view = SnapshotTable(spark, str(tmp_path / "jv"))

    def fact_rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("o"), (F.col("id") % 40).alias("cust"),
            F.lit(1).cast("long").alias("qty"), F.lit(2.0).alias("price"),
        ).coalesce(1)

    # stripe the fact into 4 files with disjoint cust ranges
    for i in range(4):
        fact.append(fact_rows(0, 100).withColumn(
            "cust", F.col("cust") % 10 + i * 10))
    dim.overwrite(spark.createDataFrame(
        [(c, "seg%d" % (c % 3)) for c in range(40)],
        "cust long, segment string"))
    refresh = lambda: MV.refresh_join_view(
        fact, dim, view, on=("cust",), group_by=("segment",),
        sum_cols=("qty",), left_keys=("o",), right_keys=("cust",))
    refresh()

    total_files = len(fact.read().inputFiles())
    pruned = fact.read(
        version=MV.last_folded_version(fact, view),
        predicates=[("cust", ">=", 0), ("cust", "<=", 9)],
    )
    assert len(pruned.inputFiles()) < total_files  # skipping is live

    # clustered dim move: keys 0..9 change segment -> right phase
    dim.merge(spark.createDataFrame(
        [(c, "moved") for c in range(10)], "cust long, segment string"),
        keys=("cust",))
    refresh()
    got = sorted(map(tuple, view.read().collect()))
    want = sorted(map(tuple, (
        fact.read().join(dim.read(), "cust")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("qty").cast("long").alias("qty"))
    ).collect()))
    assert got == want


# -- LEFT OUTER join views ---------------------------------------------------


def _lrefresh(left, right, view):
    return MV.refresh_join_view(
        left, right, view, on=("cust",), group_by=("segment",),
        sum_cols=("qty",), left_keys=("o",), right_keys=("cust",),
        how="left",
    )


def _lrecompute(left, right):
    return (
        left.read().join(right.read(), "cust", "left")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("qty").cast("long").alias("qty"))
    )


def _assert_lview_exact(left, right, view):
    key = lambda r: (r[0] is None, r)  # noqa: E731  NULL group sorts first
    got = sorted(((r["segment"], r["n"], r["qty"])
                  for r in view.read().collect()), key=key)
    want = sorted(map(tuple, _lrecompute(left, right).collect()), key=key)
    assert got == want


def test_left_join_view_null_extension_flips(spark, triple):
    """LEFT view: unmatched left rows live in the NULL-segment group;
    a right-side insert that matches them must retract the null
    extensions (m0=0 -> m1>0 flip) and add joined rows; deleting the
    key's last right row flips them back."""
    left, right, view = triple
    left.overwrite(_orders(spark, [
        (1, 10, 2, 1.0), (2, 20, 3, 1.0), (3, 99, 5, 1.0),  # 99 dangling
    ]))
    right.overwrite(_custs(spark, [(10, "retail"), (20, "b2b")]))
    assert _lrefresh(left, right, view) is not None
    _assert_lview_exact(left, right, view)
    null_row = view.read().where(F.col("segment").isNull()).collect()
    assert [(r["n"], r["qty"]) for r in null_row] == [(1, 5)]

    # customer 99 appears: flip m0=0 -> m1=1
    right.append(_custs(spark, [(99, "late")]))
    assert _lrefresh(left, right, view) is not None
    _assert_lview_exact(left, right, view)
    assert view.read().where(F.col("segment").isNull()).count() == 0

    # and disappears again: flip m0=1 -> m1=0
    right.delete("cust = 99")
    assert _lrefresh(left, right, view) is not None
    _assert_lview_exact(left, right, view)
    assert view.read().where(
        F.col("segment").isNull()).collect()[0]["qty"] == 5
    assert _lrefresh(left, right, view) is None


def test_left_join_view_fanout_no_flip_until_zero(spark, triple):
    """A key with TWO right rows: deleting one is a plain inner-delta
    retraction (m0=2 -> m1=1, no flip); deleting the second crosses
    zero and the null extension appears.  The right side's CDF row
    key is a surrogate id — the JOIN key is deliberately non-unique
    on this side."""
    left, right, view = triple
    refresh = lambda: MV.refresh_join_view(  # noqa: E731
        left, right, view, on=("cust",), group_by=("segment",),
        sum_cols=("qty",), left_keys=("o",), right_keys=("rid",),
        how="left",
    )
    left.overwrite(_orders(spark, [(1, 10, 4, 1.0)]))
    right.overwrite(spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "rid long, cust long, segment string"))
    refresh()
    _assert_lview_exact(left, right, view)
    right.delete("segment = 'a'")
    refresh()
    _assert_lview_exact(left, right, view)
    assert view.read().where(F.col("segment").isNull()).count() == 0
    right.delete("segment = 'b'")
    refresh()
    _assert_lview_exact(left, right, view)
    assert view.read().collect()[0]["segment"] is None


def test_left_join_view_left_phase_and_moves(spark, triple):
    """Left-phase null extensions (appending unmatched rows), a left
    UPDATE moving a row from a matched key to an unmatched one, and a
    NULL join key (never matches, permanently null-extended)."""
    left, right, view = triple
    right.overwrite(_custs(spark, [(10, "retail")]))
    left.overwrite(_orders(spark, [(1, 10, 2, 1.0)]))
    _lrefresh(left, right, view)
    left.append(spark.createDataFrame(
        [(2, None, 7, 1.0), (3, 55, 1, 1.0)],
        "o long, cust long, qty long, price double"))
    _lrefresh(left, right, view)
    _assert_lview_exact(left, right, view)
    # move order 1 from matched cust 10 to unmatched cust 56
    left.update({"cust": F.lit(56)}, condition="o = 1")
    _lrefresh(left, right, view)
    _assert_lview_exact(left, right, view)
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {None: (3, 10)}


# -- COUNT(DISTINCT) views ---------------------------------------------------


@pytest.fixture()
def dtriple(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    supp = SnapshotTable(spark, str(tmp_path / "supp"))
    view = SnapshotTable(spark, str(tmp_path / "dview"))
    return src, supp, view


def _drefresh(src, supp, view):
    return MV.refresh_distinct_view(
        src, supp, view, group_by=("status",), distinct_col="tag",
        src_keys=("k",),
    )


def _assert_ndv_exact(spark, src, view):
    got = {(r["status"], r["ndv"]) for r in view.read().collect()}
    want = {
        (r["status"], r["ndv"])
        for r in src.read().groupBy("status")
        .agg(F.count_distinct("tag").cast("long").alias("ndv"))
        .where(F.col("ndv") > 0).collect()
    }
    assert got == want


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_distinct_view_counts_births_and_deaths(spark, dtriple):
    """ndv must only move when a value's LAST occurrence dies or its
    FIRST appears: deleting one of two copies holds, deleting the
    last drops, re-inserting re-counts; NULLs never count."""
    src, supp, view = dtriple
    rows = lambda r: spark.createDataFrame(  # noqa: E731
        r, "k long, status string, tag string")
    src.overwrite(rows([
        (1, "a", "x"), (2, "a", "x"), (3, "a", "y"),
        (4, "b", "x"), (5, "b", None),
    ]))
    assert _drefresh(src, supp, view) is not None
    _assert_ndv_exact(spark, src, view)
    got = {r["status"]: r["ndv"] for r in view.read().collect()}
    assert got == {"a": 2, "b": 1}  # NULL tag excluded

    src.delete("k = 1")  # one of two 'x' in a: ndv holds
    _drefresh(src, supp, view)
    _assert_ndv_exact(spark, src, view)
    assert {r["status"]: r["ndv"] for r in view.read().collect()} \
        == {"a": 2, "b": 1}

    src.delete("k = 2")  # last 'x' in a: ndv drops
    _drefresh(src, supp, view)
    _assert_ndv_exact(spark, src, view)
    assert {r["status"]: r["ndv"] for r in view.read().collect()} \
        == {"a": 1, "b": 1}

    # update moves tag y from a to b; group a empties entirely
    src.merge(rows([(3, "b", "y")]), keys=("k",))
    _drefresh(src, supp, view)
    _assert_ndv_exact(spark, src, view)
    assert {r["status"]: r["ndv"] for r in view.read().collect()} \
        == {"b": 2}  # no ghost 'a' row

    assert _drefresh(src, supp, view) is None  # fully current


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_distinct_view_dv_deletes_and_value_churn(spark, dtriple):
    """Merge-on-read deletes and an update that changes a row's VALUE
    (retract old value occurrence, add new) keep ndv exact."""
    src, supp, view = dtriple
    rows = lambda r: spark.createDataFrame(  # noqa: E731
        r, "k long, status string, tag string")
    src.overwrite(rows([(i, "s", f"t{i % 3}") for i in range(9)]))
    _drefresh(src, supp, view)
    assert view.read().collect()[0]["ndv"] == 3
    src.update({"tag": F.lit("t9")}, condition="k = 0")  # t0 still has k=3,6
    _drefresh(src, supp, view)
    _assert_ndv_exact(spark, src, view)
    assert view.read().collect()[0]["ndv"] == 4
    src.delete("tag = 't9'", mode="dv")
    _drefresh(src, supp, view)
    _assert_ndv_exact(spark, src, view)
    assert view.read().collect()[0]["ndv"] == 3


# -- FULL OUTER join views ---------------------------------------------------


def _frefresh(left, right, view):
    return MV.refresh_join_view(
        left, right, view, on=("cust",), group_by=("segment",),
        sum_cols=("qty",), left_keys=("o",), right_keys=("cust",),
        how="full",
    )


def _frecompute(left, right):
    # group by segment; right-only rows have qty NULL — the view's
    # documented sum semantics are COALESCE(SUM(x), 0) (exact nets:
    # an all-NULL group folds to 0, not SQL's NULL)
    return (
        left.read().join(right.read(), "cust", "full")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.coalesce(F.sum("qty"), F.lit(0)).cast("long").alias("qty"))
    )


def _assert_fview_exact(left, right, view):
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    got = sorted(((r["segment"], r["n"], r["qty"])
                  for r in view.read().collect()), key=key)
    want = sorted(map(tuple, _frecompute(left, right).collect()), key=key)
    assert got == want


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_full_join_view_preserves_both_sides(spark, triple):
    """FULL OUTER: dangling left orders fold into the NULL segment,
    dangling right customers fold with NULL qty into their own
    segment; matches on either side retract the opposite side's null
    extension (flips run in BOTH phases)."""
    left, right, view = triple
    left.overwrite(_orders(spark, [
        (1, 10, 2, 1.0), (2, 99, 5, 1.0),      # 99 dangling left
    ]))
    right.overwrite(_custs(spark, [
        (10, "retail"), (77, "ghost"),          # 77 dangling right
    ]))
    assert _frefresh(left, right, view) is not None
    _assert_fview_exact(left, right, view)
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {"retail": (1, 2), None: (1, 5), "ghost": (1, 0)}

    # left rows arrive for the dangling right key: right's null
    # extension must retract (left-phase flip)
    left.append(_orders(spark, [(3, 77, 4, 1.0), (4, 77, 6, 1.0)]))
    assert _frefresh(left, right, view) is not None
    _assert_fview_exact(left, right, view)
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {"retail": (1, 2), None: (1, 5), "ghost": (2, 10)}

    # right row arrives for the dangling left key: left's null
    # extension retracts (right-phase flip)
    right.append(_custs(spark, [(99, "late")]))
    assert _frefresh(left, right, view) is not None
    _assert_fview_exact(left, right, view)
    assert view.read().where(F.col("segment").isNull()).count() == 0

    # delete ALL left rows of key 77: its right row re-extends
    left.delete("cust = 77")
    assert _frefresh(left, right, view) is not None
    _assert_fview_exact(left, right, view)
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {"retail": (1, 2), "late": (1, 5), "ghost": (1, 0)}
    assert _frefresh(left, right, view) is None


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_full_join_view_mixed_dml_equals_recompute(spark, triple):
    """Randomized-ish churn on both sides (appends, cross-key update,
    DV delete, right segment move) stays exact after every refresh."""
    left, right, view = triple
    left.overwrite(_orders(spark, [
        (i, 10 + i % 4, i, 1.0) for i in range(8)
    ]))
    right.overwrite(_custs(spark, [(10, "a"), (11, "b"), (50, "empty")]))
    _frefresh(left, right, view)
    _assert_fview_exact(left, right, view)
    left.update({"cust": F.lit(50)}, condition="o = 0")
    _frefresh(left, right, view)
    _assert_fview_exact(left, right, view)
    right.merge(_custs(spark, [(12, "c"), (11, "a")]), keys=("cust",))
    _frefresh(left, right, view)
    _assert_fview_exact(left, right, view)
    left.delete("cust = 13", mode="dv")
    _frefresh(left, right, view)
    _assert_fview_exact(left, right, view)
    right.delete("segment = 'a'")
    _frefresh(left, right, view)
    _assert_fview_exact(left, right, view)


# -- history events: compact, restore, recreate ------------------------------


def test_refresh_across_source_compact_and_restore(spark, pair):
    """Maintenance and rollback commits keep the fold exact: a
    compact's rewritten-but-identical rows classify 'unchanged' (the
    fold nets nothing, the watermark still advances), and a RESTORE
    is a forward commit whose CDF window retracts the rolled-back
    rows — the view follows the source back in time."""
    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0), (2, "b", 2, 2.0)]))
    src.append(_rows(spark, [(3, "a", 4, 0.5)]))
    _refresh(src, view)
    v_folded = src.latest_version()

    src.compact()
    assert _refresh(src, view) is not None  # watermark-advancing fold
    assert MV.last_folded_version(src, view) == src.latest_version()
    _assert_view_exact(src, view)

    src.restore(v_folded - 1)  # roll back the append, forward commit
    _refresh(src, view)
    _assert_view_exact(src, view)
    got = {r["status"]: r["views"] for r in view.read().collect()}
    assert got == {"a": 1, "b": 2}  # row 3's contribution retracted


def test_recreated_source_behind_view_refuses(spark, pair):
    """A source dropped and recreated (head version < the view's
    folded watermark) must refuse loudly — a silent no-op would
    freeze the view at a future state of a table that no longer
    exists."""
    import shutil

    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    src.append(_rows(spark, [(2, "b", 2, 2.0)]))
    src.append(_rows(spark, [(3, "c", 3, 3.0)]))
    _refresh(src, view)
    shutil.rmtree(src.root)
    src.overwrite(_rows(spark, [(9, "z", 9, 9.0)]))  # fresh v1 < wm 3
    with pytest.raises(MV.SourceRewound, match="recreated"):
        _refresh(src, view)

    # the documented remedy: one commit truncates AND resets the
    # watermark, then a fresh refresh folds the new source's history
    MV.rebuild_view(view, src)
    assert MV.last_folded_version(src, view) == 0
    assert view.read().isEmpty()
    _refresh(src, view)
    _assert_view_exact(src, view)
    assert {r["status"] for r in view.read().collect()} == {"z"}


# -- review-hardening: NULL groups in minmax, partitioned edge cases ---------


def test_minmax_view_null_group_is_a_real_group(spark, pair):
    """GROUP BY collates NULLs: the minmax recompute's semi/anti
    joins must be null-safe, or the NULL group's rows are dropped
    from `fresh` and the group is deleted from the view on every
    refresh."""
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, None, 10, 0.0), (2, None, 99, 0.0), (3, "b", 7, 0.0),
    ]))
    _refresh_mm(src, view)
    _assert_mm_exact(src, view)
    nul = view.read().where(F.col("status").isNull()).collect()
    assert [(r["n"], r["min_views"], r["max_views"]) for r in nul] \
        == [(2, 10, 99)]
    src.delete("k = 2")  # NULL group's max dies: runner-up surfaces
    _refresh_mm(src, view)
    _assert_mm_exact(src, view)
    src.delete("views = 10")  # NULL group empties: row must vanish
    _refresh_mm(src, view)
    assert view.read().where(F.col("status").isNull()).count() == 0
    _assert_mm_exact(src, view)


def test_minmax_empty_window_advances_watermark(spark, tmp_path):
    """A partition-col-grouped minmax view folding a compact (all
    rows 'unchanged', empty window) must still advance its watermark
    — returning un-current forever would re-diff the same window on
    every refresh."""
    src = SnapshotTable(spark, str(tmp_path / "psrc"))
    view = SnapshotTable(spark, str(tmp_path / "pview"))
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 9)], "k long, day string, v long")
    src.replace_partitions(df, "day")
    MV.refresh_minmax_view(src, view, group_by=("day",),
                           max_cols=("v",), src_keys=("k",))
    src.compact()
    assert MV.refresh_minmax_view(src, view, group_by=("day",),
                                  max_cols=("v",), src_keys=("k",)) is not None
    assert MV.last_folded_version(src, view) == src.latest_version()
    assert MV.refresh_minmax_view(src, view, group_by=("day",),
                                  max_cols=("v",), src_keys=("k",)) is None


def test_fold_into_partitioned_view_with_null_group(spark, tmp_path):
    """A view PARTITIONED BY the group column receives a NULL-group
    fold delta: the null-safe merge falls back to the whole-table
    rewrite for that merge instead of refusing the NULL partition
    value."""
    src = SnapshotTable(spark, str(tmp_path / "src"))
    view = SnapshotTable(spark, str(tmp_path / "view"))
    # pre-create the view partitioned by the group key (the
    # partition-scoped O(touched-groups) merge shape)
    view.overwrite(spark.createDataFrame(
        [], "status string, n long, views long, amt long"
    ).withColumn("amt", F.col("amt").cast(MV._SUM_T)), partition_col="status")
    src.overwrite(_rows(spark, [
        (1, "a", 1, 1.0), (2, None, 2, 2.0),
    ]))
    MV.refresh_agg_view(src, view, group_by=("status",),
                        sum_cols=("views", "amt"), src_keys=("k",))
    _assert_view_exact(src, view)
    src.upsert(_rows(spark, [(3, None, 5, 0.5)]), keys=("k",))
    MV.refresh_agg_view(src, view, group_by=("status",),
                        sum_cols=("views", "amt"), src_keys=("k",))
    _assert_view_exact(src, view)
    nul = view.read().where(F.col("status").isNull()).collect()
    assert [(r["n"], r["views"]) for r in nul] == [(2, 7)]


def test_recreated_source_caught_even_after_catching_up(spark, pair):
    """The case version ordering cannot catch: the recreated source
    has already advanced PAST the view's watermark when the next
    refresh runs.  The incarnation id in the watermark key refuses
    the fold — without it, read_changes would silently diff the NEW
    table's manifests and fold a stranger's delta onto the view."""
    import shutil

    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    src.append(_rows(spark, [(2, "b", 2, 2.0)]))
    _refresh(src, view)  # folded to v2 under incarnation T1

    shutil.rmtree(src.root)
    src.overwrite(_rows(spark, [(9, "z", 9, 9.0)]))   # T2 v1
    src.append(_rows(spark, [(10, "z", 1, 1.0)]))     # T2 v2
    src.append(_rows(spark, [(11, "y", 2, 2.0)]))     # T2 v3 > wm 2
    with pytest.raises(MV.SourceRewound, match="incarnation"):
        _refresh(src, view)

    MV.rebuild_view(view, src)
    _refresh(src, view)
    _assert_view_exact(src, view)
    assert MV.last_folded_version(src, view) == src.latest_version()


def test_vanished_source_refuses_instead_of_silent_noop(spark, pair):
    """A source DROPPED (not recreated) from under a view that folded
    it: refresh must refuse, not return None as if merely waiting for
    the source to appear."""
    import shutil

    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    _refresh(src, view)
    shutil.rmtree(src.root)
    with pytest.raises(MV.SourceRewound, match="no longer exists"):
        _refresh(src, view)
    # join views refuse the same way when a folded side vanishes
    dim = SnapshotTable(spark, str(src.root) + "_dim")
    with pytest.raises(MV.SourceRewound, match="no longer exists"):
        MV.refresh_join_view(
            src, dim, view, on=("k",), group_by=("status",),
        )


# -- top-N views --------------------------------------------------------


def _topn_refresh(src, view, n=2):
    return MV.refresh_topn_view(
        src, view, group_by=("status",), order_by=("views", "k"),
        descending=(True, False), n=n, payload=("amt",), src_keys=("k",),
    )


def _topn_recompute(spark, src, n=2):

    w = Window.partitionBy("status").orderBy(
        F.col("views").desc(), F.col("k").asc())
    return (
        src.read().withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select("status", "rank", "views", "k", "amt")
    )


def _assert_topn_exact(spark, src, view, n=2):
    cols = ["status", "rank", "views", "k", "amt"]
    key = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    got = sorted(map(tuple, view.read().select(*cols).collect()), key=key)
    want = sorted(map(tuple, _topn_recompute(spark, src, n).collect()),
                  key=key)
    assert got == want


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_topn_view_tracks_source_through_mixed_history(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 10, 1.0), (2, "a", 20, 2.0), (3, "a", 5, 3.0),
        (4, "b", 7, 4.0),
    ]))
    assert _topn_refresh(src, view) is not None
    _assert_topn_exact(spark, src, view)
    assert view.read().count() == 3  # a: 2 slots, b: 1 (no phantom slots)

    # a new row displaces a's #2
    src.append(_rows(spark, [(5, "a", 15, 5.0)]))
    assert _topn_refresh(src, view) is not None
    _assert_topn_exact(spark, src, view)

    # THE retraction-impossible case: delete the current #1 — the
    # board must refill from below (row 1, views=10, re-enters)
    src.delete("k = 2")
    assert _topn_refresh(src, view) is not None
    _assert_topn_exact(spark, src, view)
    a_ranks = {r["k"]: r["rank"] for r in
               view.read().where("status = 'a'").collect()}
    assert a_ranks == {5: 1, 1: 2}

    # group-crossing update touches BOTH boards via pre/post images
    src.merge(_rows(spark, [(4, "a", 7, 4.0)]), keys=("k",))
    assert _topn_refresh(src, view) is not None
    _assert_topn_exact(spark, src, view)
    assert view.read().where("status = 'b'").count() == 0  # b emptied

    # DV delete folds the same way
    src.delete(F.col("k") == 5, mode="dv")
    assert _topn_refresh(src, view) is not None
    _assert_topn_exact(spark, src, view)

    # up to date: no-op, watermark current
    assert _topn_refresh(src, view) is None
    assert MV.last_folded_version(src, view) == src.latest_version()


def test_topn_shrinking_board_deletes_vacated_slots(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, "a", 1, 0.1), (2, "a", 2, 0.2), (3, "a", 3, 0.3),
    ]))
    _topn_refresh(src, view, n=3)
    assert view.read().where("status = 'a'").count() == 3
    src.delete("k in (1, 3)")
    _topn_refresh(src, view, n=3)
    _assert_topn_exact(spark, src, view, n=3)
    rows = view.read().collect()
    assert [(r["rank"], r["k"]) for r in rows] == [(1, 2)]


def test_topn_null_group_and_null_order_values(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [
        (1, None, 10, 1.0), (2, None, None, 2.0), (3, "a", 1, 3.0),
    ]))
    _topn_refresh(src, view)
    _assert_topn_exact(spark, src, view)
    # NULL group is a live board; NULL views sorts last under DESC
    null_board = {r["k"]: r["rank"] for r in view.read()
                  .where(F.col("status").isNull()).collect()}
    assert null_board == {1: 1, 2: 2}
    src.delete("k = 1")
    _topn_refresh(src, view)
    _assert_topn_exact(spark, src, view)


def test_topn_replay_and_global_shape_refusals(spark, pair):
    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0)]))
    _topn_refresh(src, view)
    with pytest.raises(ValueError, match="GLOBAL top-n"):
        MV.refresh_topn_view(src, view, group_by=(),
                             order_by=("views",), n=2)
    with pytest.raises(ValueError, match="group keys"):
        MV.refresh_topn_view(src, view, group_by=("status",),
                             order_by=("status", "k"), n=2)


def test_right_join_view_equals_swapped_left(spark, triple):
    """how='right' is LEFT with the sources swapped — maintain one
    incrementally and compare against the from-scratch RIGHT OUTER
    aggregate after every refresh."""
    left, right, view = triple
    refresh = lambda: MV.refresh_join_view(  # noqa: E731
        left, right, view, on=("cust",), group_by=("segment",),
        sum_cols=("qty",), left_keys=("o",), right_keys=("cust",),
        how="right",
    )
    recompute = lambda: (  # noqa: E731
        left.read().join(right.read(), "cust", "right")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             # documented view semantics: sum = COALESCE(SUM(x), 0),
             # so an all-null-extended group reads 0, not SQL's NULL
             F.coalesce(F.sum("qty"), F.lit(0)).cast("long").alias("qty"))
    )

    def check():
        key = lambda r: (r[0] is None, r)  # noqa: E731
        got = sorted(((r["segment"], r["n"], r["qty"])
                      for r in view.read().collect()), key=key)
        want = sorted(map(tuple, recompute().collect()), key=key)
        assert got == want

    left.overwrite(_orders(spark, [(1, 10, 2, 1.0), (2, 20, 3, 1.0)]))
    # customer 30 has NO orders: right-preserved, qty sums NULL-as-0
    right.overwrite(_custs(spark, [(10, "retail"), (30, "empty")]))
    assert refresh() is not None
    check()

    # order for 30 arrives: its null extension flips to a joined row
    left.append(_orders(spark, [(3, 30, 9, 1.0)]))
    assert refresh() is not None
    check()

    # deleting 20's only order does NOT drop the segment (right rows
    # are preserved) — it flips back to the null-extended form
    left.delete("cust = 20")
    assert refresh() is not None
    check()
    assert refresh() is None


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_chained_views_source_to_agg_to_topn(spark, tmp_path):
    """Views are snapshot tables, so a view's own CDF feeds the NEXT
    view: source -> per-(status, k%2) COUNT/SUM view -> top-1
    leaderboard of those groups per status.  Each refresh is
    O(changes) at ITS level — the dataflow-DAG shape (Delta Live
    Tables / Materialize) with no new machinery."""
    src = SnapshotTable(spark, str(tmp_path / "src"))
    agg = SnapshotTable(spark, str(tmp_path / "agg"))
    top = SnapshotTable(spark, str(tmp_path / "top"))

    def refresh_all():
        MV.refresh_agg_view(
            src, agg, group_by=("status", "parity"), sum_cols=("views",),
            src_keys=("k",),
        )
        MV.refresh_topn_view(
            agg, top, group_by=("status",), order_by=("views", "parity"),
            descending=(True, False), n=1, src_keys=("status", "parity"),
        )

    def check():
        want = sorted(map(tuple, (
            src.read()
            .groupBy("status", (F.col("k") % 2).alias("parity"))
            .agg(F.sum("views").cast("long").alias("views"))
            .withColumn("rank", F.row_number().over(
                Window.partitionBy("status")
                .orderBy(F.col("views").desc(), F.col("parity").asc())))
            .where("rank = 1").select("status", "parity", "views")
        ).collect()))
        got = sorted(map(tuple, top.read().select(
            "status", "parity", "views").collect()))
        assert got == want

    with_parity = lambda df: df.withColumn(  # noqa: E731
        "parity", (F.col("k") % 2).cast("long"))
    src.overwrite(with_parity(_rows(spark, [
        (1, "a", 10, 0.0), (2, "a", 20, 0.0), (3, "a", 7, 0.0),
        (4, "b", 1, 0.0),
    ])))
    refresh_all()
    check()

    # a delete that flips which (status, parity) group leads board 'a'
    src.delete("k = 2")
    refresh_all()
    check()

    # group-crossing merge ripples through both levels
    src.merge(with_parity(_rows(spark, [(4, "a", 50, 0.0)])), keys=("k",))
    refresh_all()
    check()
    # both levels settle: refreshing again moves nothing
    assert MV.refresh_agg_view(
        src, agg, group_by=("status", "parity"), sum_cols=("views",),
        src_keys=("k",)) is None
    assert MV.refresh_topn_view(
        agg, top, group_by=("status",), order_by=("views", "parity"),
        descending=(True, False), n=1,
        src_keys=("status", "parity")) is None


def test_multi_source_union_all_view(spark, tmp_path):
    """One view folds TWO sources (a view over UNION ALL): watermarks
    are keyed per (source root, incarnation), so each source's CDF
    folds independently into the shared COUNT/SUM state."""
    a = SnapshotTable(spark, str(tmp_path / "src_a"))
    b = SnapshotTable(spark, str(tmp_path / "src_b"))
    view = SnapshotTable(spark, str(tmp_path / "view"))

    def refresh_all():
        MV.refresh_agg_view(a, view, group_by=("status",),
                            sum_cols=("views",), src_keys=("k",))
        MV.refresh_agg_view(b, view, group_by=("status",),
                            sum_cols=("views",), src_keys=("k",))

    def check():
        want = sorted(map(tuple, (
            a.read().unionByName(b.read()).groupBy("status")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("views").cast("long").alias("views"))
        ).collect()))
        got = sorted(map(tuple, view.read().select(
            "status", "n", "views").collect()))
        assert got == want

    cols = lambda df: df.select("k", "status", "views")  # noqa: E731
    a.overwrite(cols(_rows(spark, [(1, "x", 10, 0.0), (2, "y", 5, 0.0)])))
    b.overwrite(cols(_rows(spark, [(7, "x", 3, 0.0)])))
    refresh_all()
    check()

    b.append(cols(_rows(spark, [(8, "z", 9, 0.0)])))
    a.delete("k = 2")
    refresh_all()
    check()
    refresh_all()  # replay: both watermarks current, no double-fold
    check()


def test_recompute_view_maintains_holistic_aggregates(spark, pair):
    """The generic recompute refresher handles aggregates no fold
    could: exact median and stddev per group, kept current through
    deletes (which shift the median) and cross-group moves."""
    src, view = pair
    aggs = {
        "med_views": F.expr("percentile(views, 0.5)"),
        "sd_amt": F.expr("round(stddev_samp(amt), 6)"),
    }
    refresh = lambda: MV.refresh_recompute_view(  # noqa: E731
        src, view, group_by=("status",), aggs=aggs, src_keys=("k",))

    def check():
        want = sorted(map(tuple, (
            src.read().groupBy("status").agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.expr("percentile(views, 0.5)").alias("med_views"),
                F.expr("round(stddev_samp(amt), 6)").alias("sd_amt"),
            )).collect()))
        got = sorted(map(tuple, view.read().select(
            "status", "n", "med_views", "sd_amt").collect()))
        assert got == want

    src.overwrite(_rows(spark, [
        (1, "a", 10, 1.0), (2, "a", 20, 2.0), (3, "a", 99, 7.0),
        (4, "b", 5, 1.0),
    ]))
    assert refresh() is not None
    check()

    src.delete("k = 3")  # median of 'a' shifts from 20 to 15
    assert refresh() is not None
    check()
    assert view.read().where("status = 'a'").collect()[0]["med_views"] == 15.0

    src.merge(_rows(spark, [(4, "a", 5, 1.0)]), keys=("k",))  # b empties
    assert refresh() is not None
    check()
    assert view.read().where("status = 'b'").count() == 0
    assert refresh() is None

    with pytest.raises(ValueError, match="collide"):
        MV.refresh_recompute_view(
            src, view, group_by=("status",), aggs={"n": F.min("views")})


def test_refresh_dag_settles_a_view_chain_in_one_pass(spark, tmp_path):
    src = SnapshotTable(spark, str(tmp_path / "src"))
    agg = SnapshotTable(spark, str(tmp_path / "agg"))
    top = SnapshotTable(spark, str(tmp_path / "top"))
    with_parity = lambda df: df.withColumn(  # noqa: E731
        "parity", (F.col("k") % 2).cast("long"))
    steps = {
        "agg": (lambda: MV.refresh_agg_view(
            src, agg, group_by=("status", "parity"), sum_cols=("views",),
            src_keys=("k",)), ()),
        "top": (lambda: MV.refresh_topn_view(
            agg, top, group_by=("status",), order_by=("views", "parity"),
            descending=(True, False), n=1, src_keys=("status", "parity")),
            ("agg",)),
    }

    src.overwrite(with_parity(_rows(spark, [
        (1, "a", 10, 0.0), (2, "a", 20, 0.0), (3, "b", 7, 0.0),
    ])))
    out = MV.refresh_dag(steps)
    assert out["agg"] is not None and out["top"] is not None
    # ONE pass carried the source change through both levels
    got = {(r["status"], r["parity"]): r["views"]
           for r in top.read().collect()}
    assert got == {("a", 0): 20, ("b", 1): 7}

    src.delete("k = 2")
    out = MV.refresh_dag(steps)
    assert out["agg"] is not None and out["top"] is not None
    got = {(r["status"], r["parity"]): r["views"]
           for r in top.read().collect()}
    assert got == {("a", 1): 10, ("b", 1): 7}

    # settled: the whole DAG no-ops
    assert MV.refresh_dag(steps) == {"agg": None, "top": None}

    with pytest.raises(ValueError, match="cycle"):
        MV.refresh_dag({
            "x": (lambda: None, ("y",)), "y": (lambda: None, ("x",))})
    with pytest.raises(ValueError, match="unknown view dependency"):
        MV.refresh_dag({"x": (lambda: None, ("ghost",))})
    with pytest.raises(TypeError, match="tuple of names"):
        MV.refresh_dag({"x": (lambda: None, ()),
                        "y": (lambda: None, "x")})  # bare string dep


@pytest.mark.parametrize("flavor", ["agg", "recompute", "topn"])
def test_refresh_refolds_after_rival_fold_lands_mid_refresh(
    spark, pair, monkeypatch, flavor
):
    """The fold loop itself, not just the merge-level CAS: a rival
    refresh lands between this refresh's read of its change window and
    its view.merge.  The merge trips the compare-and-set watermark, and
    the refresher must re-fold from the rival's advanced watermark —
    the view then equals the from-scratch answer at the source head."""
    refresh, exact = {
        "agg": (_refresh, _assert_view_exact),
        "recompute": (_refresh_mm, _assert_mm_exact),
        "topn": (_topn_refresh,
                 lambda s, v: _assert_topn_exact(spark, s, v)),
    }[flavor]
    src, view = pair
    src.overwrite(_rows(spark, [(1, "a", 1, 1.0), (2, "b", 5, 2.0)]))
    refresh(src, view)  # watermark -> v1
    src.append(_rows(spark, [(3, "a", 7, 3.0)]))
    v2 = src.latest_version()
    src.append(_rows(spark, [(4, "b", 9, 4.0)]))
    v3 = src.latest_version()
    # the rival read the source head before v3 landed: it folds (v1, v2]
    rival_src = SnapshotTable(spark, src.root)
    monkeypatch.setattr(rival_src, "latest_version", lambda: v2)
    rival_view = SnapshotTable(spark, view.root)
    real_merge = view.merge
    fired = []

    def interloping(*a, **kw):
        if not fired:
            fired.append(refresh(rival_src, rival_view))
        return real_merge(*a, **kw)

    monkeypatch.setattr(view, "merge", interloping)
    assert refresh(src, view) is not None  # re-folded (v2, v3]
    assert fired and fired[0] is not None  # the rival's fold landed first
    assert MV.last_folded_version(src, view) == v3
    exact(src, view)
