"""Snapshot-commit table format: atomic manifest publication, pure
manifest-edit partition replacement, crash model, optimistic
concurrency, time travel, vacuum, and the rollup path on top of it.

The judged property (reference counterpart: server-side atomic
BigQuery DML, src/services/bigquery.ts:168-190): a reader must see a
complete previous snapshot or a complete new one at every instant, on
every substrate — no rename-window, no .bak recovery."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pixelspark.ops import rollup as R
from pixelspark.schemas import load_table
from pixelspark.storage import LocalStorage
from pixelspark.table import (
    ConcurrentCommitError,
    SnapshotTable,
    read_rollup_snapshot,
    refresh_rollup_snapshot,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "tbl"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_numeric_looking_snap_id_is_read_without_type_inference(
    spark, tmp_path, monkeypatch
):
    """A `__snap=` id is 16 hex digits, so now and then it reads as a
    number in scientific notation.  Partition discovery must not infer
    its type: parsing `8762930e73214520` as a decimal makes Spark
    compute 10^73214520, and the read stalls for hours."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    monkeypatch.setattr(
        SnapshotTable, "_new_snap", lambda self: "data/__snap=8762930e73214520")
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [(1, "a"), (2, "b")]


def test_overwrite_read_roundtrip_and_versions(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    assert sorted((r["k"], r["v"]) for r in tbl.read().collect()) == [(1, "a"), (2, "b")]
    tbl.overwrite(_df(spark, [(3, "c")]))
    assert tbl.latest_version() == 2
    # time travel: version 1 is intact and readable
    assert [r["k"] for r in tbl.read(version=1).orderBy("k").collect()] == [1, 2]
    assert [r["k"] for r in tbl.read().collect()] == [3]


def test_append_accumulates_without_rewrites(spark, tbl, tmp_path):
    tbl.overwrite(_df(spark, [(1, "a")]))
    first_snap = tbl.manifest(1)["entries"][0]["base"]
    mtime = {
        f: os.path.getmtime(os.path.join(str(tmp_path / "tbl"), first_snap, f))
        for f in os.listdir(os.path.join(str(tmp_path / "tbl"), first_snap))
    }
    tbl.append(_df(spark, [(2, "b")]))
    assert tbl.read().count() == 2
    # the first snapshot's files were not touched by the append
    for f, t in mtime.items():
        assert os.path.getmtime(os.path.join(str(tmp_path / "tbl"), first_snap, f)) == t


def test_upsert_matches_keyed_merge_semantics(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "old"), (2, "old"), (3, "old")]))
    tbl.upsert(_df(spark, [(2, "new"), (4, "new")]), keys=("k",))
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {1: "old", 2: "new", 3: "old", 4: "new"}


def test_replace_partitions_is_manifest_only(spark, tbl, tmp_path):
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (3, "2024-01-03", 30.0)],
        "shop long, day string, amount double",
    )
    tbl.overwrite(base, partition_col="day")
    snap1 = tbl.manifest(1)["entries"][0]["base"]
    untouched = os.path.join(str(tmp_path / "tbl"), snap1, "day=2024-01-01")
    stamps = {f: os.path.getmtime(os.path.join(untouched, f)) for f in os.listdir(untouched)}

    delta = spark.createDataFrame(
        [(9, "2024-01-02", 99.0)], "shop long, day string, amount double"
    )
    tbl.replace_partitions(delta, "day")
    # partition discovery restores `day` as a TYPED date column
    got = {(r["shop"], str(r["day"]), r["amount"]) for r in tbl.read().collect()}
    assert got == {(1, "2024-01-01", 10.0), (9, "2024-01-02", 99.0), (3, "2024-01-03", 30.0)}
    # untouched partitions: same files, same bytes, same mtimes — the
    # replacement wrote NOTHING under the old snap dir
    for f, t in stamps.items():
        assert os.path.getmtime(os.path.join(untouched, f)) == t
    # replaced partition's old data still exists (time travel) until vacuum
    assert os.path.isdir(os.path.join(str(tmp_path / "tbl"), snap1, "day=2024-01-02"))
    old = {(r["shop"], str(r["day"])) for r in tbl.read(version=1).collect()}
    assert (2, "2024-01-02") in old


def test_crash_before_commit_leaves_table_unchanged(spark, tbl, tmp_path):
    """Simulated crash: a data dir fully written but no manifest
    published (the window where bare-parquet swaps lose data).  The
    table must read exactly the previous snapshot; vacuum removes the
    orphan."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    # crash: write a snap dir directly, never commit
    orphan_rel = tbl._new_snap()
    _df(spark, [(99, "zz")]).write.parquet(f"{tbl.root}/{orphan_rel}")
    assert [r["k"] for r in tbl.read().collect()] == [1]
    removed = tbl.vacuum(keep_versions=1)
    assert orphan_rel in removed
    assert not os.path.exists(os.path.join(str(tmp_path / "tbl"), orphan_rel))
    assert [r["k"] for r in tbl.read().collect()] == [1]  # still intact


def test_concurrent_commit_rebases(spark, tmp_path):
    """Loser of the version race must reload and rebase: a commit that
    tries its create on the head its call resolved, while a rival's v2
    lands just before that create, lands at v3 on top of the rival —
    whether it adds data (append), changes metadata (add_columns) or
    replaces the snapshot (overwrite with a txn) — and v2 stays as the
    rival wrote it."""
    cases = {
        "append": lambda t: t.append(_df(spark, [(2, "b")])),
        "add_columns": lambda t: t.add_columns({"note": "string"}),
        "overwrite_txn": lambda t: t.overwrite(_df(spark, [(3, "c")]),
                                               txn=("app", 1)),
    }
    for name, act in cases.items():
        tbl = SnapshotTable(spark, str(tmp_path / name))
        tbl.overwrite(_df(spark, [(1, "a")]))
        rival = {**tbl.manifest(1), "version": 2, "op": {"name": "rival"}}
        real_write = tbl.st.write_text_atomic
        stolen = {"done": False}

        def thieving_write(path, content):
            if not stolen["done"]:
                stolen["done"] = True
                # the rival commits its own version-2 manifest first
                real_write(tbl._manifest_path(2), json.dumps(rival))
            return real_write(path, content)

        tbl.st.write_text_atomic = thieving_write
        try:
            v = act(tbl)
        finally:
            tbl.st.write_text_atomic = real_write
        assert v == 3, name  # lost v2, rebased onto the rival's manifest
        assert tbl.manifest(2) == rival, name
        rows = sorted((r["k"], r["v"]) for r in tbl.read().collect())
        if name == "append":
            assert rows == [(1, "a"), (2, "b")]
        elif name == "add_columns":
            assert rows == [(1, "a")]
            assert tbl.read().columns == ["k", "v", "note"]
            assert tbl.manifest(3)["entries"] == rival["entries"]
        else:
            assert rows == [(3, "c")]
            assert tbl.manifest(3)["txn"] == {"app": 1}


@pytest.mark.parametrize("verb", ["append", "append_once", "dv merge"])
def test_write_lands_above_head_vacuumed_during_it(spark, tmp_path,
                                                   monkeypatch, verb):
    """A vacuum may run beside in-flight writers (`min_age_hours`
    protects their staged dirs).  If rivals commit two versions while
    a write is staging and a vacuum then prunes every manifest but the
    newest — the write's own head included — the write's create of
    head+1 finds that file absent.  It must not publish there, below
    the real head where no reader would ever see it: it lands above
    the rivals' head, its rows are read back, and an `append_once`
    batch is recorded (its replay is refused)."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.overwrite(_df(spark, [(1, "a")]))
    acts = {
        "append": lambda: t.append(_df(spark, [(2, "b")])),
        "append_once": lambda: t.append_once(_df(spark, [(2, "b")]), "app", 1),
        "dv merge": lambda: t.merge(_df(spark, [(1, "z"), (2, "b")]),
                                    keys=("k",), mode="dv"),
    }
    real_write_snap = SnapshotTable._write_snap
    fired = {"done": False}

    def interloping(self, *a, **kw):
        out = real_write_snap(self, *a, **kw)
        if not fired["done"]:  # our data is staged; the head we hold is v1
            fired["done"] = True
            rival = SnapshotTable(spark, root)
            rival.append(_df(spark, [(98, "r")]))
            rival.append(_df(spark, [(99, "r")]))
            rival.vacuum(keep_versions=1, min_age_hours=1)
        return out

    monkeypatch.setattr(SnapshotTable, "_write_snap", interloping)
    v = acts[verb]()
    monkeypatch.undo()
    assert fired["done"]
    assert t.versions() == [3, 4] and v == 4 == t.latest_version()
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: "z" if verb == "dv merge" else "a", 2: "b",
                   98: "r", 99: "r"}
    if verb == "append_once":
        assert t.append_once(_df(spark, [(2, "b")]), "app", 1) is None
        assert t.latest_version() == 4


def _count_metadata_calls(tables):
    """Wrap each table's storage so manifest reads and `_manifests/`
    listings are counted; returns the live counter."""
    n = {"reads": 0, "lists": 0}
    for t in tables:
        st = t.st
        read_text, listing = st.read_text, st.list

        def counted_read(path, _f=read_text):
            n["reads"] += "/_manifests/" in path
            return _f(path)

        def counted_list(path, _f=listing):
            n["lists"] += path.rstrip("/").endswith("/_manifests")
            return _f(path)

        st.read_text, st.list = counted_read, counted_list
    return n


def test_commit_metadata_cost_is_flat_in_table_age(spark, tmp_path):
    """Each public write resolves the table head once and hands it down:
    `append`, a fresh and a replayed `append_once`, a dv `merge` and a
    rewrite `delete` each cost one manifest read and one `_manifests/`
    listing, a matview refresh at most four reads — and every count is
    the same on a 1-version table as on a 200-version one."""
    from pixelspark.ops import matview as MV

    def costs(name, versions):
        t = SnapshotTable(spark, str(tmp_path / name))
        t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
        m1 = t.manifest(1)
        for v in range(2, versions + 1):  # age the log: metadata-only versions
            t.st.write_text_atomic(t._manifest_path(v),
                                   json.dumps({**m1, "version": v}))
        assert t.latest_version() == versions
        view = SnapshotTable(spark, str(tmp_path / f"{name}_view"))
        MV.refresh_agg_view(t, view, group_by=("v",), src_keys=("k",))
        n = _count_metadata_calls([t, view])
        ops = {
            "append": lambda: t.append(_df(spark, [(3, "c")])),
            "append_once": lambda: t.append_once(_df(spark, [(4, "d")]), "app", 1),
            "append_once replay": lambda: t.append_once(
                _df(spark, [(4, "d")]), "app", 1),
            "dv merge": lambda: t.merge(_df(spark, [(1, "z")]), keys=("k",),
                                        mode="dv"),
            "delete": lambda: t.delete("k = 2"),
            "refresh": lambda: MV.refresh_agg_view(
                t, view, group_by=("v",), src_keys=("k",)),
        }
        out = {}
        for op, act in ops.items():
            n["reads"] = n["lists"] = 0
            act()
            out[op] = (n["reads"], n["lists"])
        assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
            (1, "z"), (3, "c"), (4, "d")]
        return out

    fresh, aged = costs("fresh", 1), costs("aged", 200)
    for op in ("append", "append_once", "append_once replay", "dv merge",
               "delete"):
        assert fresh[op] == (1, 1), (op, fresh[op])
    assert fresh["refresh"][0] <= 4, fresh["refresh"]
    assert aged == fresh


def test_commit_race_exhaustion_raises(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.st.write_text_atomic = lambda path, content: False
    with pytest.raises(ConcurrentCommitError):
        tbl.append(_df(spark, [(2, "b")]))


def test_partition_pruning_survives_snapshot_read(spark, tbl):
    base = spark.createDataFrame(
        [(i, f"2024-01-{(i % 3) + 1:02d}", float(i)) for i in range(30)],
        "shop long, day string, amount double",
    )
    tbl.overwrite(base, partition_col="day")
    plan = tbl.read().where(F.col("day") == "2024-01-02")._jdf.queryExecution().executedPlan().toString()
    # the day filter must appear in the scan's PartitionFilters clause
    # (prune at partition level, not scan-and-filter); asserting on the
    # clause itself means a pruning regression actually trips the test
    assert "PartitionFilters: [" in plan
    clause = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in clause and "2024-01-02" in clause
    got = tbl.read().where(F.col("day") == "2024-01-02").count()
    assert got == base.where(F.col("day") == "2024-01-02").count()


def test_rollup_snapshot_incremental_equals_full(spark, sf_dir, tmp_path):
    """The rollup pipeline on the snapshot backend: same exact-merge
    result as the rename-swap backend, with atomic commits instead."""
    events = load_table(spark, sf_dir, "events")
    root = str(tmp_path / "rollup_snap")
    b1 = events.where(F.to_date("ts") < "2024-01-10")
    b2 = events.where(F.to_date("ts") >= "2024-01-10")
    late = events.where(F.to_date("ts") == "2024-01-03")
    refresh_rollup_snapshot(spark, root, b1)
    refresh_rollup_snapshot(spark, root, b2)
    swapped = refresh_rollup_snapshot(spark, root, late)
    assert swapped == ["day=2024-01-03"]

    got = read_rollup_snapshot(spark, root).drop("avg_value")
    want = R.merge_rollups(R.day_rollup(events), R.day_rollup(late))
    assert got.count() == want.count()
    joined = got.alias("g").join(want.alias("w"), ["shop", "day"], "full_outer")
    bad = joined.where(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.col("g.sum_value") != F.col("w.sum_value"))
        | (F.col("g.min_value") != F.col("w.min_value"))
        | (F.col("g.max_value") != F.col("w.max_value"))
    )
    assert bad.count() == 0


def test_compact_bounds_union_width(spark, tbl):
    for i in range(5):
        if i == 0:
            tbl.overwrite(_df(spark, [(i, str(i))]))
        else:
            tbl.append(_df(spark, [(i, str(i))]))
    assert len(tbl.manifest(tbl.latest_version())["entries"]) == 5
    tbl.compact()
    assert len(tbl.manifest(tbl.latest_version())["entries"]) == 1
    assert tbl.read().count() == 5
    tbl.vacuum(keep_versions=1)
    assert tbl.read().count() == 5


def test_append_once_skips_replayed_batch(spark, tbl):
    """The Delta-style txn guard: (app_id, batch_id) commits at most
    once; replays (foreachBatch re-delivery, checkpoint loss) are
    no-ops."""
    assert tbl.append_once(_df(spark, [(1, "a")]), "app", 0) == 1
    assert tbl.append_once(_df(spark, [(2, "b")]), "app", 1) == 2
    # replay of batch 1 and of the long-gone batch 0: both skipped
    assert tbl.append_once(_df(spark, [(2, "b")]), "app", 1) is None
    assert tbl.append_once(_df(spark, [(1, "a")]), "app", 0) is None
    assert tbl.read().count() == 2
    # a DIFFERENT app's batch 0 is independent
    assert tbl.append_once(_df(spark, [(9, "z")]), "other", 0) == 3
    assert tbl.read().count() == 3


def test_append_once_race_detected_mid_commit(spark, tbl):
    """Two workers delivering the SAME batch race for the commit: the
    loser must detect the rival's txn during rebase and abort — the
    failure mode that double-counts in plain append sinks."""
    tbl.append_once(_df(spark, [(1, "a")]), "app", 0)
    real_write = tbl.st.write_text_atomic
    fired = {"done": False}

    def rival_commits_same_batch(path, content):
        if not fired["done"]:
            fired["done"] = True
            rival = {"partition_col": None,
                     "entries": tbl.manifest(1)["entries"],
                     "txn": {"app": 1}, "version": 2}
            real_write(tbl._manifest_path(2), json.dumps(rival))
        return real_write(path, content)

    tbl.st.write_text_atomic = rival_commits_same_batch
    try:
        out = tbl.append_once(_df(spark, [(2, "b")]), "app", 1)
    finally:
        tbl.st.write_text_atomic = real_write
    assert out is None  # rival won batch 1; we must not commit it again
    assert tbl.manifest(tbl.latest_version())["txn"] == {"app": 1}


def test_txn_map_survives_other_commits(spark, tbl):
    tbl.append_once(_df(spark, [(1, "a")]), "app", 7)
    tbl.append(_df(spark, [(2, "b")]))  # non-streaming commit in between
    tbl.upsert(_df(spark, [(1, "A")]), keys=("k",))
    assert tbl.manifest(tbl.latest_version())["txn"] == {"app": 7}
    # the guard still holds after unrelated commits
    assert tbl.append_once(_df(spark, [(1, "a")]), "app", 7) is None


def test_snapshot_schema_evolution_on_append(spark, tbl):
    """Later snapshots may carry new columns; the unioned read aligns
    by name and null-fills history (S5 semantics on the snapshot
    backend)."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    evolved = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    tbl.append(evolved)
    got = {r["k"]: (r["v"], r["score"]) for r in tbl.read().collect()}
    assert got == {1: ("a", None), 2: ("b", 9.5)}


def test_concurrent_writers_all_land(spark, tmp_path):
    """Optimistic concurrency under REAL contention: four threads, three
    appends each, racing on one table.  Every append must land exactly
    once (twelve commits + the initial overwrite), with the rebase loop
    absorbing every version conflict — the multi-writer story a shared
    table needs."""
    import threading

    root = str(tmp_path / "mw")
    SnapshotTable(spark, root, max_retries=100).overwrite(_df(spark, [(0, "seed")]))
    errors = []

    def writer(tid: int) -> None:
        try:
            t = SnapshotTable(spark, root, max_retries=100)
            for j in range(3):
                t.append(_df(spark, [(tid * 100 + j, f"w{tid}b{j}")]))
        except Exception as e:  # noqa: BLE001 — surface to the main thread
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = SnapshotTable(spark, root)
    assert t.latest_version() == 13  # 1 overwrite + 12 appends, none lost
    rows = {r["k"] for r in t.read().collect()}
    assert rows == {0} | {i * 100 + j for i in range(4) for j in range(3)}


def test_replace_partitions_refuses_unpartitioned_table(spark, tbl):
    """Partition-replacing an unpartitioned table would reduce every
    parts=None entry to nothing and silently drop the table — must
    raise instead."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    delta = spark.createDataFrame([(9, "2024-01-02", 1.0)],
                                  "shop long, day string, amount double")
    with pytest.raises(ValueError, match="cannot replace_partitions"):
        tbl.replace_partitions(delta, "day")
    assert tbl.read().count() == 1  # untouched


def test_upsert_preserves_partitioning(spark, tbl):
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "shop long, day string, amount double",
    )
    tbl.overwrite(base, partition_col="day")
    upd = spark.createDataFrame(
        [(2, "2024-01-02", 99.0)], "shop long, day string, amount double"
    )
    # day arrives as string but the table stores it as a typed
    # partition value; upsert on (shop) replaces shop 2's row
    tbl.upsert(upd.withColumn("day", F.col("day").cast("date")), keys=("shop",))
    m = tbl.manifest(tbl.latest_version())
    assert m["partition_col"] == "day"  # partitioning survived the merge
    assert all(e["parts"] for e in m["entries"])
    got = {(r["shop"], r["amount"]) for r in tbl.read().collect()}
    assert got == {(1, 10.0), (2, 99.0)}


def test_partial_compact_shrinks_union_width(spark, tbl):
    """Maintenance at the partition granularity: compacting a subset
    of days folds their scattered entries into one snap without
    touching other partitions' data (the 100-TB compaction unit)."""
    import datetime

    def day_df(d, shop):
        return spark.createDataFrame(
            [(shop, datetime.date(2024, 1, d), float(shop))],
            "shop long, day date, amount double",
        )

    tbl.replace_partitions(day_df(1, 1), "day")
    for d in (2, 3, 4):
        tbl.replace_partitions(day_df(d, d), "day")  # one live entry per day
    assert len(tbl.manifest(tbl.latest_version())["entries"]) == 4
    before = {(r["shop"], str(r["day"])) for r in tbl.read().collect()}

    tbl.compact(partition_values=["2024-01-01", "2024-01-02", "2024-01-03"])
    m = tbl.manifest(tbl.latest_version())
    assert len(m["entries"]) == 2  # 3 days folded into 1 entry + day 4
    after = {(r["shop"], str(r["day"])) for r in tbl.read().collect()}
    assert after == before  # pure layout change


def _snap_dirs(root: str) -> set[str]:
    return {f"data/{d}" for d in os.listdir(os.path.join(root, "data"))
            if d.startswith("__snap=")}


# verb -> (initial batches, partition column, the re-reading write, the
# rows it leaves before the rival's row is added)
_REREADING_WRITES = {
    "upsert": ([[(1, "a")]], None,
               lambda t, df: t.upsert(df([(1, "new")]), keys=("k",)),
               {1: "new"}),
    "merge": ([[(1, "a")]], None,
              lambda t, df: t.merge(df([(1, "new")]), keys=("k",)),
              {1: "new"}),
    "delete": ([[(1, "a"), (2, "b")]], None,
               lambda t, df: t.delete("k = 2"), {1: "a"}),
    "update": ([[(1, "a")]], None,
               lambda t, df: t.update({"v": F.lit("new")}, condition="k = 1"),
               {1: "new"}),
    "compact": ([[(1, "a")], [(2, "b")]], None,
                lambda t, df: t.compact(), {1: "a", 2: "b"}),
    "compact-partitions": ([[(1, "a")], [(2, "a")]], "v",
                           lambda t, df: t.compact(partition_values=["a"]),
                           {1: "a", 2: "a"}),
    "backfill": ([[(1, "a")]], None,
                 lambda t, df: t.enable_row_tracking(backfill=True),
                 {1: "a"}),
    "rollup": None,
}


@pytest.mark.parametrize("verb", list(_REREADING_WRITES))
def test_rereading_write_keeps_rival_commit(spark, tmp_path, monkeypatch, verb):
    """The lost-update hole, for every write that computes its commit
    FROM a snapshot read: a rival commit landing between the write's
    staging and its publish must force the whole read-modify-write to
    re-run — a blind rebase would silently discard the rival's rows —
    and the lost attempt's staged dir must be deleted, not left for
    vacuum: every `__snap=` dir is one some manifest names, or was
    there before the call."""
    import datetime

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)

    def df(rows):
        return _df(spark, rows)

    def batch(n_events):
        ts = datetime.datetime(2024, 1, 5, 12, 0, 0)
        return spark.createDataFrame(
            [(i, ts, 7, "pv", 1.0, "{}") for i in range(n_events)],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    if verb == "rollup":
        refresh_rollup_snapshot(spark, root, batch(3))
        write = lambda: refresh_rollup_snapshot(spark, root, batch(2))  # noqa: E731
        rival = lambda: refresh_rollup_snapshot(spark, root, batch(5))  # noqa: E731
    else:
        batches, pcol, act, expected = _REREADING_WRITES[verb]
        t.overwrite(df(batches[0]), partition_col=pcol)
        for rows in batches[1:]:
            t.append(df(rows))
        write = lambda: act(t, df)  # noqa: E731
        rival = lambda: SnapshotTable(spark, root).append(df([(99, "rival")]))  # noqa: E731
    before = _snap_dirs(root)
    real_write_snap = SnapshotTable._write_snap
    fired = {"done": False}

    def interloping(self, *a, **kw):
        out = real_write_snap(self, *a, **kw)
        if not fired["done"]:  # rival lands AFTER our write was staged
            fired["done"] = True
            rival()
        return out

    monkeypatch.setattr(SnapshotTable, "_write_snap", interloping)
    write()
    monkeypatch.undo()
    assert fired["done"]
    if verb == "rollup":
        got = read_rollup_snapshot(spark, root).collect()
        assert [r["n_events"] for r in got] == [10]  # 3 + 5 (rival) + 2
    else:
        got = {r["k"]: r["v"] for r in t.read().collect()}
        assert got == {**expected, 99: "rival"}  # neither commit lost
    if verb == "backfill":
        ids = [r["__row_id"] for r in t.read().collect()]
        assert None not in ids and len(set(ids)) == len(ids)
    named = {e["base"] for v in t.versions() for e in t.manifest(v)["entries"]}
    assert _snap_dirs(root) - before <= named  # no orphaned rewrite


def test_dataless_write_leaves_no_staged_dir(spark, tmp_path):
    """A write whose batch is empty still commits (a txn watermark, a
    truncate), but no manifest can name its dataless staged dir — so
    the dir is deleted at once instead of waiting for vacuum."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a")]), partition_col="v")
    empty = _df(spark, [])
    assert t.replace_partitions(empty, "v", txn=("app", 1)) == 2
    assert t.overwrite(empty, partition_col="v") == 3
    assert t.append_once(empty, "app2", 1) == 4
    named = {e["base"] for v in t.versions() for e in t.manifest(v)["entries"]}
    assert _snap_dirs(t.root) == named


def test_vacuum_reclaims_replaced_partitions_inside_live_dirs(spark, tbl, tmp_path):
    """A snap dir that stays live through SOME partitions must shed its
    superseded col=value subdirs at vacuum — else a continuously
    refreshed table leaks every replaced partition until full compact."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (3, "2024-01-03", 30.0)],
        "shop long, day string, amount double",
    )
    tbl.overwrite(base, partition_col="day")
    snap1 = tbl.manifest(1)["entries"][0]["base"]  # data/__snap=...
    delta = spark.createDataFrame(
        [(9, "2024-01-02", 99.0)], "shop long, day string, amount double"
    )
    tbl.replace_partitions(delta, "day")
    dead = os.path.join(str(tmp_path / "tbl"), snap1, "day=2024-01-02")
    assert os.path.isdir(dead)  # still there for time travel
    removed = tbl.vacuum(keep_versions=1)
    assert f"{snap1}/day=2024-01-02" in removed
    assert not os.path.exists(dead)
    # live partitions of the same dir untouched; table reads correctly
    assert os.path.isdir(os.path.join(str(tmp_path / "tbl"), snap1, "day=2024-01-01"))
    got = {(r["shop"], str(r["day"]), r["amount"]) for r in tbl.read().collect()}
    assert got == {(1, "2024-01-01", 10.0), (9, "2024-01-02", 99.0), (3, "2024-01-03", 30.0)}


def test_empty_overwrite_is_truncate(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.overwrite(spark.createDataFrame([], "k long, v string"))
    df = tbl.read()
    assert df.count() == 0
    assert df.schema.fieldNames() == ["k", "v"]  # schema survives truncate
    # and the table recovers normally on the next write
    tbl.append(_df(spark, [(2, "b")]))
    assert [r["k"] for r in tbl.read().collect()] == [2]


def test_empty_append_keeps_table_readable(spark, tbl):
    # an empty UNPARTITIONED write still yields a schema-only part file
    # (scannable), so the append commits normally and reads stay intact;
    # the zero-scannable-paths hazard is specific to partitionBy writes,
    # covered by test_empty_replace_partitions_skips_commit_but_records_txn
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.append(spark.createDataFrame([], "k long, v string"))
    assert [r["k"] for r in tbl.read().collect()] == [1]
    # empty append may also CREATE a table: schema-only, readable
    t2 = SnapshotTable(tbl.spark, tbl.root + "2")
    t2.append(spark.createDataFrame([], "k long, v string"))
    assert t2.read().count() == 0


def test_empty_replace_partitions_skips_commit_but_records_txn(spark, tbl):
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0)], "shop long, day string, amount double"
    )
    tbl.replace_partitions(base, "day")
    v = tbl.latest_version()
    empty = spark.createDataFrame([], "shop long, day string, amount double")
    # without txn: nothing to replace -> no commit at all
    assert tbl.replace_partitions(empty, "day") == v
    assert tbl.latest_version() == v
    # with txn: the batch watermark must still land (exactly-once), but
    # the entries carry over unchanged
    assert tbl.replace_partitions(empty, "day", txn=("app", 3)) == v + 1
    m = tbl.manifest(v + 1)
    assert m["txn"] == {"app": 3}
    assert m["entries"] == tbl.manifest(v)["entries"]
    # and a replay of that batch is a no-op even with data attached
    assert tbl.replace_partitions(base, "day", txn=("app", 3)) is None


def test_rollup_refresh_empty_batch_commits_nothing(spark, tmp_path):
    import datetime

    root = str(tmp_path / "r")
    ts = datetime.datetime(2024, 1, 5, 12, 0, 0)
    events = spark.createDataFrame(
        [(1, ts, 7, "pv", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    refresh_rollup_snapshot(spark, root, events)
    t = SnapshotTable(spark, root)
    v = t.latest_version()
    assert refresh_rollup_snapshot(spark, root, events.where(F.lit(False))) == []
    assert t.latest_version() == v  # no useless version for an empty batch


def test_read_partition_values_prunes_at_manifest_level(spark, tbl):
    """read(partition_values=...) must keep excluded partitions out of
    the PATH LIST entirely (no listing/footer cost for them at 10k
    partitions), not merely filter them after the scan."""
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (3, "2024-01-03", 30.0)],
        "shop long, day string, amount double",
    )
    tbl.overwrite(base, partition_col="day")
    pruned = tbl.read(partition_values=["2024-01-02"])
    got = {(r["shop"], str(r["day"])) for r in pruned.collect()}
    assert got == {(2, "2024-01-02")}
    # the excluded days never enter the scan's file list
    files = pruned.inputFiles()
    assert files and all("day=2024-01-02" in f for f in files)
    # pruning to nothing returns an empty typed DataFrame, not an error
    empty = tbl.read(partition_values=["2099-12-31"])
    assert empty.count() == 0
    assert "shop" in empty.schema.fieldNames()
    with pytest.raises(ValueError, match="unpartitioned"):
        t2 = SnapshotTable(tbl.spark, tbl.root + "_u")
        t2.overwrite(_df(spark, [(1, "a")]))
        t2.read(partition_values=["x"])


def test_legacy_snap_layout_still_readable(spark, tbl, tmp_path):
    """Tables written before the __snap= naming (snap-<id> dirs) must
    keep reading through the per-entry fallback."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    m = tbl.manifest(1)
    new_base = m["entries"][0]["base"]
    legacy_base = new_base.replace("__snap=", "snap-")
    os.rename(os.path.join(tbl.root, new_base), os.path.join(tbl.root, legacy_base))
    legacy = {"partition_col": None,
              "entries": [{"base": legacy_base, "parts": None}], "version": 2}
    assert tbl.st.write_text_atomic(tbl._manifest_path(2), json.dumps(legacy))
    assert [r["k"] for r in tbl.read().collect()] == [1]


# ---------------------------------------------------------------------------
# Simulated object store: prove the commit protocol's claims mechanically
# instead of by docstring.  FakeObjectStorage gives the semantics s3a
# actually has — rename is a NON-atomic copy+delete, and the only atomic
# primitive is single-object put visibility (exclusivity best-effort).
# ---------------------------------------------------------------------------


class FakeObjectStorage(LocalStorage):
    """Object-store semantics on the local fs: `rename` degrades to a
    file-by-file copy then delete (s3a's shape — windows where both or
    neither path exist); `write_text_atomic` is a check-then-put whose
    put has atomic VISIBILITY (one object) but no exclusivity."""

    conditional_put = False  # check-then-put, NOT server-arbitrated

    def __init__(self):
        self.rename_calls: list = []

    def rename(self, src, dst):
        self.rename_calls.append((src, dst))
        import shutil as _sh

        if os.path.isdir(src):
            _sh.copytree(src, dst)
        else:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _sh.copyfile(src, dst)
        self.delete(src)

    def write_text_atomic(self, path, content):
        if os.path.exists(path):  # best-effort check...
            return False
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent or ".", f".tmp-{os.urandom(6).hex()}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(content)
        os.replace(tmp, path)  # ...then a put with atomic visibility
        return True


@pytest.fixture()
def obj_tbl(spark, tmp_path):
    st = FakeObjectStorage()
    t = SnapshotTable(spark, str(tmp_path / "obj"), storage=st)
    return t, st


def test_object_store_scheme_warns_single_committer(spark):
    with pytest.warns(RuntimeWarning, match="SINGLE committer"):
        SnapshotTable(spark, "s3a://bucket/tbl", storage=FakeObjectStorage())


def test_object_store_write_path_never_renames(spark, obj_tbl):
    """The whole claim of the format: no Storage.rename anywhere on the
    write path, so non-atomic object-store rename can't corrupt it.
    (Spark's own task-commit renames happen INSIDE the new immutable
    dir, which no reader can see until the manifest names it.)"""
    t, st = obj_tbl
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "shop long, day string, amount double",
    )
    t.overwrite(base, partition_col="day")
    t.replace_partitions(
        spark.createDataFrame([(9, "2024-01-02", 99.0)],
                              "shop long, day string, amount double"),
        "day",
    )
    t.upsert(
        spark.createDataFrame([(1, "2024-01-01", 11.0)],
                              "shop long, day string, amount double")
        .withColumn("day", F.col("day").cast("date")),
        keys=("shop",),
    )
    t.compact()
    t.vacuum(keep_versions=1)
    assert st.rename_calls == []
    got = {(r["shop"], r["amount"]) for r in t.read().collect()}
    assert got == {(1, 11.0), (9, 99.0)}


def test_object_store_reader_sees_old_or_new_never_mixed(spark, obj_tbl):
    """A reader racing a replace_partitions must see the complete old
    snapshot right up to the manifest put, and the complete new one
    after — never a mix of replaced and unreplaced partitions."""
    t, st = obj_tbl
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "shop long, day string, amount double",
    )
    t.overwrite(base, partition_col="day")
    old = {(r["shop"], r["amount"]) for r in t.read().collect()}
    reader = SnapshotTable(spark, t.root, storage=FakeObjectStorage())
    seen_mid_commit = {}
    real_put = st.write_text_atomic

    def racing_put(path, content):
        # the new data dir is fully written at this point; the manifest
        # is one put away — a reader NOW must still see the old table
        seen_mid_commit["rows"] = {
            (r["shop"], r["amount"]) for r in reader.read().collect()
        }
        return real_put(path, content)

    st.write_text_atomic = racing_put
    try:
        t.replace_partitions(
            spark.createDataFrame([(9, "2024-01-02", 99.0)],
                                  "shop long, day string, amount double"),
            "day",
        )
    finally:
        st.write_text_atomic = real_put
    assert seen_mid_commit["rows"] == old  # complete OLD, not a mix
    new = {(r["shop"], r["amount"]) for r in t.read().collect()}
    assert new == {(1, 10.0), (9, 99.0)}  # complete NEW afterwards


def test_object_store_crash_before_manifest_leaves_old_snapshot(spark, obj_tbl):
    """Writer dies after the data upload, before the manifest put: the
    table is byte-identical to the previous snapshot; vacuum reclaims
    the orphan upload."""
    t, st = obj_tbl
    t.overwrite(_df(spark, [(1, "a")]))
    real_put = st.write_text_atomic
    st.write_text_atomic = lambda path, content: (_ for _ in ()).throw(
        OSError("writer crashed before manifest put")
    )
    try:
        with pytest.raises(OSError, match="crashed"):
            t.overwrite(_df(spark, [(2, "b")]))
    finally:
        st.write_text_atomic = real_put
    assert [r["k"] for r in t.read().collect()] == [1]
    removed = t.vacuum(keep_versions=1)
    assert len(removed) == 1  # the orphaned upload
    assert [r["k"] for r in t.read().collect()] == [1]


def test_single_scan_read_plan(spark, tbl):
    """Many commits must still plan ONE parquet scan (no per-entry
    union): the property behind flat read cost vs commit count."""
    tbl.overwrite(_df(spark, [(0, "x")]))
    for i in range(1, 6):
        tbl.append(_df(spark, [(i, "x")]))
    assert len(tbl.manifest(tbl.latest_version())["entries"]) == 6
    plan = tbl.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan
    assert tbl.read().count() == 6


# -- MERGE INTO -------------------------------------------------------------


def test_merge_update_delete_insert_clauses(spark, tbl):
    """Delta-style multi-clause MERGE: delete wins over update for
    matched rows; unmatched source rows insert; unmatched target rows
    survive untouched."""
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    src = _df(spark, [(2, "B"), (3, "kill"), (4, "d")])
    tbl.merge(
        src,
        keys=("k",),
        when_matched_delete="s.v = 'kill'",
        when_matched_update="all",
        when_not_matched_insert=True,
    )
    got = sorted((r["k"], r["v"]) for r in tbl.read().collect())
    assert got == [(1, "a"), (2, "B"), (4, "d")]


def test_merge_conditional_update_and_insert(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "keep"), (2, "old")]))
    src = _df(spark, [(1, "skip-me"), (2, "new"), (5, "yes"), (6, "no")])
    tbl.merge(
        src,
        keys=("k",),
        when_matched_update={"v": F.col("s.v")},
        update_condition=F.col("t.v") != "keep",
        when_not_matched_insert=F.col("s.v") == "yes",
    )
    got = sorted((r["k"], r["v"]) for r in tbl.read().collect())
    assert got == [(1, "keep"), (2, "new"), (5, "yes")]


def test_merge_rejects_key_assignment(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="key columns"):
        tbl.merge(_df(spark, [(1, "x")]), keys=("k",),
                  when_matched_update={"k": F.lit(9)})


def test_merge_into_missing_table_inserts(spark, tbl):
    tbl.merge(_df(spark, [(1, "a"), (2, "b")]), keys=("k",))
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 2]


def test_merge_partition_scoped_rewrites_only_touched_days(spark, tbl):
    """On a table partitioned by a key column, MERGE must be a
    replace_partitions manifest edit: untouched partitions keep
    pointing at their original data dirs byte-identically, and a
    partition whose every row was deleted is retired from the
    manifest even though the new snap has no data for it."""
    pdf = spark.createDataFrame(
        [("d1", 1, 10), ("d1", 2, 20), ("d2", 3, 30), ("d3", 4, 40)],
        "day string, id long, v long",
    )
    tbl.replace_partitions(pdf, "day")
    src = spark.createDataFrame(
        [("d1", 1, 11), ("d1", 9, 90), ("d2", 3, 0)],
        "day string, id long, v long",
    )
    tbl.merge(src, keys=("day", "id"),
              when_matched_delete=F.col("s.v") == 0,
              when_matched_update="all")
    got = sorted((r["day"], r["id"], r["v"]) for r in tbl.read().collect())
    assert got == [("d1", 1, 11), ("d1", 2, 20), ("d1", 9, 90), ("d3", 4, 40)]
    m1, m2 = tbl.manifest(1), tbl.manifest(2)

    def parts(m):
        return {p: e["base"] for e in m["entries"] for p in (e["parts"] or [])}

    p1, p2 = parts(m1), parts(m2)
    assert "day=d2" not in p2          # fully-deleted partition retired
    assert p2["day=d3"] == p1["day=d3"]  # untouched day: same data dir
    assert p2["day=d1"] != p1["day=d1"]  # rewritten day: new data dir


def test_read_changes_append_only_needs_no_keys(spark, tbl):
    """Append-only history: the CDF is served from the appended data
    dirs alone — no keys, no diff join, no read of prior data."""
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b"), (3, "c")]))
    got = sorted((r["k"], r["change_type"])
                 for r in tbl.read_changes(1).collect())
    assert got == [(2, "inserted"), (3, "inserted")]
    assert tbl.read_changes(0).count() == 3  # from before the table existed


def test_read_changes_classifies_upsert(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.upsert(_df(spark, [(2, "B"), (4, "d")]), keys=("k",))
    got = sorted((r["k"], r["v"], r["change_type"])
                 for r in tbl.read_changes(1, keys=("k",)).collect())
    assert got == [(2, "B", "updated"), (4, "d", "inserted")]


def test_read_changes_deleted_rows_carry_old_values(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    tbl.merge(_df(spark, [(2, "b")]), keys=("k",),
              when_matched_delete=True, when_not_matched_insert=False)
    got = [(r["k"], r["v"], r["change_type"])
           for r in tbl.read_changes(1, keys=("k",)).collect()]
    assert got == [(2, "b", "deleted")]


def test_read_changes_requires_keys_after_rewrite(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.overwrite(_df(spark, [(1, "b")]))
    with pytest.raises(ValueError, match="keys"):
        tbl.read_changes(1)


def test_read_changes_compact_is_invisible(spark, tbl):
    """compact() rewrites bytes without changing rows: every rewritten
    row classifies 'unchanged' and the feed is empty."""
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b")]))
    tbl.compact()
    assert tbl.read_changes(2, keys=("k",)).count() == 0


def test_read_changes_partitioned_diffs_only_touched_days(spark, tbl):
    """replace_partitions history: entries for untouched days are in
    both manifests, so they never enter the diff scan at all."""
    tbl.replace_partitions(
        spark.createDataFrame(
            [("d1", 1, 10), ("d2", 2, 20), ("d3", 3, 30)],
            "day string, id long, v long"),
        "day")
    tbl.replace_partitions(
        spark.createDataFrame([("d2", 2, 99)], "day string, id long, v long"),
        "day")
    ch = tbl.read_changes(1, keys=("day", "id"))
    got = [(r["day"], r["id"], r["v"], r["change_type"]) for r in ch.collect()]
    assert got == [("d2", 2, 99, "updated")]
    # only day=d2 paths are scanned (manifest-level diff, not data diff)
    files = {f for f in ch.inputFiles()}
    assert files and all("day=d2" in f for f in files)


# -- per-file min/max stats + data skipping ---------------------------------


def _ranged_tbl(spark, tmp_path):
    """Four single-file appends with disjoint v-ranges 0-99..300-399."""
    t = SnapshotTable(spark, str(tmp_path / "st"), stats_cols=("v", "d"))
    for lo in (0, 100, 200, 300):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"),
            F.col("id").alias("v"),
            F.date_add(F.lit("2024-01-01").cast("date"),
                       F.col("id").cast("int")).alias("d"),
        )
        t.append(df.repartition(1))
    return t


def test_stats_recorded_per_file(spark, tmp_path):
    t = _ranged_tbl(spark, tmp_path)
    m = t.manifest(t.latest_version())
    assert all("stats" in e for e in m["entries"])
    # one file per append, with both columns' ranges
    (files,) = [list(m["entries"][0]["stats"].values())]
    assert files[0]["v"] == [0, 99]
    assert files[0]["d"] == ["2024-01-01", "2024-04-09"]


def test_stats_pruning_skips_files_and_keeps_values_exact(spark, tmp_path):
    t = _ranged_tbl(spark, tmp_path)
    full = t.read()
    pruned = t.read(predicates=[("v", ">=", 250)])
    assert sorted(r["k"] for r in pruned.collect()) == list(range(250, 400))
    # the skipped files never entered the scan's path list
    assert len(pruned.inputFiles()) == 2 and len(full.inputFiles()) == 4


def test_stats_pruning_point_lookup_and_date_ranges(spark, tmp_path):
    import datetime

    t = _ranged_tbl(spark, tmp_path)
    pe = t.read(predicates=[("v", "=", 150)])
    assert len(pe.inputFiles()) == 1 and pe.count() == 1
    pd_ = t.read(predicates=[("d", "<", datetime.date(2024, 2, 1))])
    assert len(pd_.inputFiles()) == 1 and pd_.count() == 31


def test_stats_fully_pruned_read_is_empty_typed(spark, tmp_path):
    t = _ranged_tbl(spark, tmp_path)
    p0 = t.read(predicates=[("v", ">", 10_000)])
    assert p0.count() == 0
    assert p0.dtypes == t.read().dtypes


def test_stats_pruning_composes_with_partition_pruning(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pt"), stats_cols=("v",))
    rows = [(d, i, d * 1000 + i) for d in (1, 2) for i in range(4)]
    t.replace_partitions(
        spark.createDataFrame(rows, "day int, k int, v long").repartition(2, "k"),
        "day",
    )
    pp = t.read(partition_values=[2], predicates=[("v", ">=", 2002)])
    assert sorted((r["day"], r["k"], r["v"]) for r in pp.collect()) == [
        (2, 2, 2002), (2, 3, 2003)]
    assert all("day=2" in f for f in pp.inputFiles())


def test_stats_absent_files_conservatively_kept(spark, tmp_path):
    """A table whose history mixes stats-recording and stats-less
    writers must stay exact: files without stats are always scanned."""
    root = str(tmp_path / "mx")
    plain = SnapshotTable(spark, root)  # no stats_cols
    plain.append(_df(spark, [(1, "a")]))
    with_stats = SnapshotTable(spark, root, stats_cols=("k",))
    with_stats.append(_df(spark, [(100, "z")]).repartition(1))
    got = sorted(r["k"] for r in with_stats.read(
        predicates=[("k", "<=", 50)]).collect())
    assert got == [1]


def test_stats_all_null_file_kept(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "nl"), stats_cols=("v",))
    t.append(spark.createDataFrame([(1, None), (2, None)],
                                   "k long, v long").repartition(1))
    t.append(spark.createDataFrame([(3, 30)], "k long, v long").repartition(1))
    # a predicate can never rule out the all-null file (no range), and
    # the residual WHERE keeps the results exact
    got = [r["k"] for r in t.read(predicates=[("v", ">=", 30)]).collect()]
    assert got == [3]


def test_compact_cluster_by_tightens_stats_and_skipping(spark, tmp_path):
    """OPTIMIZE ZORDER shape: ingest-order scatter gives every file the
    full value range (stats prune nothing); a z-order compact gives
    each file a compact rectangle in (x, y), so single-column
    predicates on EITHER column skip most files."""
    import random

    t = SnapshotTable(spark, str(tmp_path / "z"), stats_cols=("x", "y"))
    rng = random.Random(7)
    rows = [(i, rng.randrange(1000), rng.randrange(1000)) for i in range(4000)]
    for lo in range(0, 4000, 1000):  # four scattered ingest commits
        t.append(
            spark.createDataFrame(rows[lo:lo + 1000], "k long, x long, y long")
            .repartition(4)
        )
    pred_x = [("x", "<", 100)]
    pred_y = [("y", ">=", 900)]
    before_x = len(t.read(predicates=pred_x).inputFiles())
    t.compact(cluster_by=("x", "y"), num_files=16)
    after_x = t.read(predicates=pred_x)
    after_y = t.read(predicates=pred_y)
    assert len(after_x.inputFiles()) < before_x
    # 16 files = 4 z-bits; the interleave gives x the higher bit at
    # every level, so a 10%-selective predicate prunes x a bit harder
    assert len(after_x.inputFiles()) <= 4 and len(after_y.inputFiles()) <= 6
    # values exact vs a plain filter on the full table
    assert sorted(r["k"] for r in after_x.collect()) == sorted(
        r["k"] for r in t.read().where("x < 100").collect()
    )
    assert sorted(r["k"] for r in after_y.collect()) == sorted(
        r["k"] for r in t.read().where("y >= 900").collect()
    )


def test_compact_cluster_by_single_column_sort(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "s"), stats_cols=("v",))
    t.append(_df(spark, [(i, "x") for i in range(1000)]).withColumn(
        "v", (F.col("k") * 37) % 1000).repartition(8))
    t.compact(cluster_by=("v",), num_files=8)
    pruned = t.read(predicates=[("v", "<", 100)])
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100


# -- history + restore ------------------------------------------------------


def test_history_records_operations(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b")]))
    tbl.upsert(_df(spark, [(1, "A")]), keys=("k",))
    tbl.merge(_df(spark, [(9, "i")]), keys=("k",))
    tbl.compact()
    ops = [h["op"]["name"] for h in tbl.history()]
    assert ops == ["compact", "merge", "upsert", "append", "overwrite"]
    assert tbl.history()[2]["op"]["keys"] == ["k"]


def test_restore_rolls_back_without_copying_data(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    tbl.upsert(_df(spark, [(1, "A")]), keys=("k",))
    v = tbl.restore(1)
    assert sorted((r["k"], r["v"]) for r in tbl.read().collect()) == [
        (1, "a"), (2, "b")]
    # the restore manifest points at version 1's data dir verbatim
    assert tbl.manifest(v)["entries"] == tbl.manifest(1)["entries"]
    # rolled-over history is still auditable
    assert [h["version"] for h in tbl.history()] == [3, 2, 1]


def test_restore_refuses_vacuumed_target(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.overwrite(_df(spark, [(2, "b")]))
    tbl.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError):
        tbl.restore(1)


def test_restore_keeps_txn_watermarks(spark, tbl):
    """A restore rolls back DATA, not the exactly-once ledger: a batch
    that committed before the restore must still be a no-op after."""
    tbl.append_once(_df(spark, [(1, "a")]), app_id="job", batch_id=7)
    tbl.append(_df(spark, [(2, "b")]))
    tbl.restore(1)
    assert tbl.append_once(_df(spark, [(1, "dup")]), "job", 7) is None
    assert sorted(r["k"] for r in tbl.read().collect()) == [1]


# -- row-level DELETE / UPDATE ----------------------------------------------


def test_delete_rows_unpartitioned(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "kill"), (3, "c")]))
    tbl.delete("v = 'kill'")
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 3]
    assert tbl.history()[0]["op"]["name"] == "delete"


def test_delete_no_match_is_a_noop_on_unpartitioned_tables(spark, tbl):
    """Delta semantics: a DELETE matching nothing commits nothing —
    one LocalLimit probe, not a full-table rewrite (the case every
    replay-safe heal re-runs)."""
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    v = tbl.latest_version()
    assert tbl.delete("v = 'ghost'") == v
    assert tbl.latest_version() == v  # no new manifest
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 2]


def test_delete_partition_scoped_touches_only_matching_days(spark, tbl):
    pdf = spark.createDataFrame(
        [("d1", 1, 10), ("d2", 2, 0), ("d2", 3, 30), ("d3", 4, 0)],
        "day string, id long, v long",
    )
    tbl.replace_partitions(pdf, "day")
    tbl.delete(F.col("v") == 0)
    got = sorted((r["day"], r["id"]) for r in tbl.read().collect())
    assert got == [("d1", 1), ("d2", 3)]
    m1, m2 = tbl.manifest(1), tbl.manifest(2)

    def parts(m):
        return {p: e["base"] for e in m["entries"] for p in (e["parts"] or [])}

    # d1 untouched (no matching rows): same data dir; d3 fully deleted:
    # retired from the manifest entirely
    assert parts(m2)["day=d1"] == parts(m1)["day=d1"]
    assert "day=d3" not in parts(m2)
    assert parts(m2)["day=d2"] != parts(m1)["day=d2"]


def test_delete_null_condition_rows_survive(spark, tbl):
    tbl.overwrite(spark.createDataFrame(
        [(1, None), (2, 5)], "k long, v long"))
    tbl.delete(F.col("v") > 3)  # NULL > 3 is NULL -> not deleted
    assert sorted(r["k"] for r in tbl.read().collect()) == [1]


def test_update_rows_with_condition(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.update({"v": F.concat(F.col("v"), F.lit("!"))}, condition="k >= 2")
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got == {1: "a", 2: "b!", 3: "c!"}


def test_update_partition_scoped_and_guards(spark, tbl):
    pdf = spark.createDataFrame(
        [("d1", 1, 10), ("d2", 2, 20)], "day string, id long, v long"
    )
    tbl.replace_partitions(pdf, "day")
    tbl.update({"v": "v * 2"}, condition="day = 'd2'")
    got = {(r["day"], r["id"]): r["v"] for r in tbl.read().collect()}
    assert got == {("d1", 1): 10, ("d2", 2): 40}
    # untouched partition keeps its data dir
    def parts(m):
        return {p: e["base"] for e in m["entries"] for p in (e["parts"] or [])}
    assert parts(tbl.manifest(2))["day=d1"] == parts(tbl.manifest(1))["day=d1"]
    with pytest.raises(ValueError, match="partition column"):
        tbl.update({"day": F.lit("dX")})


# -- write-side CHECK constraints -------------------------------------------


def test_constraints_reject_bad_batch_before_commit(spark, tmp_path):
    from pixelspark.table import ConstraintViolation

    t = SnapshotTable(
        spark, str(tmp_path / "c"),
        constraints=[("k_positive", "k > 0"), ("v_not_null", F.col("v").isNotNull())],
    )
    t.append(_df(spark, [(1, "a")]))  # clean batch lands
    with pytest.raises(ConstraintViolation, match="k_positive"):
        t.append(_df(spark, [(2, "b"), (-1, "bad")]))
    # nothing from the rejected batch committed; table unchanged
    assert t.latest_version() == 1
    assert [r["k"] for r in t.read().collect()] == [1]


def test_constraints_null_predicate_is_violation(spark, tmp_path):
    from pixelspark.table import ConstraintViolation

    t = SnapshotTable(
        spark, str(tmp_path / "c2"),
        constraints=[("v_long", "length(v) > 0")],
    )
    with pytest.raises(ConstraintViolation, match="v_long"):
        t.append(_df(spark, [(1, None)]))  # NULL check result -> violation


def test_constraints_apply_to_every_write_path(spark, tmp_path):
    from pixelspark.table import ConstraintViolation

    t = SnapshotTable(
        spark, str(tmp_path / "c3"), constraints=[("k_positive", "k > 0")]
    )
    t.overwrite(_df(spark, [(1, "a")]))
    with pytest.raises(ConstraintViolation):
        t.upsert(_df(spark, [(-5, "bad")]), keys=("k",))
    with pytest.raises(ConstraintViolation):
        t.merge(_df(spark, [(-6, "bad")]), keys=("k",))
    assert [r["k"] for r in t.read().collect()] == [1]


# -- files() inventory + vacuum dry run -------------------------------------


def test_files_inventory_lists_live_units_and_stats(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "f"), stats_cols=("k",))
    t.append(_df(spark, [(1, "a")]).repartition(1))
    t.append(_df(spark, [(2, "b")]).repartition(1))
    inv = t.files()
    assert len(inv) == 2
    assert all(u["partition"] is None for u in inv)
    stats = [list(u["file_stats"].values())[0]["k"] for u in inv]
    assert sorted(s[0] for s in stats) == [1, 2]
    # partitioned: one unit per live col=value part
    tp = SnapshotTable(spark, str(tmp_path / "fp"))
    tp.replace_partitions(
        spark.createDataFrame([("d1", 1), ("d2", 2)], "day string, k long"), "day")
    parts = sorted(u["partition"] for u in tp.files())
    assert parts == ["day=d1", "day=d2"]


def test_vacuum_dry_run_reports_without_deleting(spark, tbl, tmp_path):
    tbl.overwrite(_df(spark, [(1, "a")]))
    old_base = tbl.manifest(1)["entries"][0]["base"]
    tbl.overwrite(_df(spark, [(2, "b")]))
    would = tbl.vacuum(keep_versions=1, dry_run=True)
    assert would == [old_base]
    # nothing was touched: old version still time-travels
    assert [r["k"] for r in tbl.read(version=1).collect()] == [1]
    assert tbl.versions() == [1, 2]
    # the real vacuum then removes exactly what the dry run reported
    assert tbl.vacuum(keep_versions=1) == would


def test_vacuum_age_based_retention(spark, tbl):
    """vacuum(keep_hours=...) — Delta RETAIN n HOURS: versions inside
    the trailing window survive REGARDLESS of keep_versions; versions
    outside it are reclaimed; the two windows union (either is a
    floor).  Commit instants come from the manifests' committed_at
    (injected clock for determinism)."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.overwrite(_df(spark, [(2, "b")]))
    tbl.overwrite(_df(spark, [(3, "c")]))
    t_commit = tbl.manifest(3)["committed_at"]
    assert all(tbl.manifest(v).get("committed_at") for v in (1, 2, 3))
    assert tbl.history()[0]["committed_at"] == t_commit

    # everything is inside a 24h window "now": nothing reclaimed even
    # though keep_versions=1 alone would have dropped v1+v2
    assert tbl.vacuum(keep_versions=1, keep_hours=24, now=t_commit) == []
    assert tbl.versions() == [1, 2, 3]
    assert [r["k"] for r in tbl.read(version=1).collect()] == [1]

    # 3 hours later with a 1h window: v1+v2 age out, v3 held by both
    removed = tbl.vacuum(keep_versions=1, keep_hours=1, now=t_commit + 3 * 3600)
    assert len(removed) == 2  # v1's and v2's replaced snap dirs
    assert tbl.versions() == [3]
    assert [r["k"] for r in tbl.read().collect()] == [3]
    # vacuumed history is gone for restore too (manifest pruned)
    with pytest.raises(FileNotFoundError):
        tbl.restore(1)


def test_read_timestamp_as_of(spark, tbl):
    """Delta TIMESTAMP AS OF: read resolves the newest commit at or
    before the instant; pre-history instants error; version and
    timestamp are mutually exclusive."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    t1 = tbl.manifest(1)["committed_at"]
    tbl.overwrite(_df(spark, [(2, "b")]))
    t2 = tbl.manifest(2)["committed_at"]
    assert tbl.version_at(t1) == 1
    assert tbl.version_at((t1 + t2) / 2) == 1  # between commits -> older
    assert tbl.version_at(t2 + 10) == 2
    assert [r["k"] for r in tbl.read(as_of_timestamp=t1).collect()] == [1]
    assert [r["k"] for r in tbl.read(as_of_timestamp=t2 + 10).collect()] == [2]
    with pytest.raises(ValueError, match="no commit at or before"):
        tbl.version_at(t1 - 10)
    with pytest.raises(ValueError, match="not both"):
        tbl.read(version=1, as_of_timestamp=t2)


def test_poll_changes_at_least_once_cursor(spark, tbl, tmp_path):
    """Poll-based CDC consumption: unacked polls re-deliver (crash
    mid-processing), acked polls advance, empty polls return None."""
    cursor = str(tmp_path / "consumer.cursor")
    tbl.append(_df(spark, [(1, "a")]))
    ch, ack = tbl.poll_changes(cursor)
    assert [r["k"] for r in ch.collect()] == [1]
    # crash before ack: next poll re-delivers the same changes
    ch2, ack2 = tbl.poll_changes(cursor)
    assert [r["k"] for r in ch2.collect()] == [1]
    ack2()
    none_df, _ = tbl.poll_changes(cursor)
    assert none_df is None
    tbl.append(_df(spark, [(2, "b")]))
    ch3, ack3 = tbl.poll_changes(cursor)
    assert [r["k"] for r in ch3.collect()] == [2]  # only the new commit
    ack3()
    assert tbl.poll_changes(cursor)[0] is None


class _Crash(Exception):
    pass


@pytest.mark.parametrize("crash_at", range(6))
def test_poll_changes_ack_is_crash_atomic(spark, tbl, tmp_path, monkeypatch,
                                          crash_at):
    """A crash at any storage call of an ack leaves the old cursor or
    the new one: the next poll re-delivers at most the acked window,
    never the whole history from version 0."""
    cursor = str(tmp_path / "consumer.cursor")
    tbl.append(_df(spark, [(1, "a")]))
    tbl.poll_changes(cursor)[1]()
    tbl.append(_df(spark, [(2, "b")]))
    ch, ack = tbl.poll_changes(cursor)
    assert [r["k"] for r in ch.collect()] == [2]
    calls = []
    for name, fn in list(vars(LocalStorage).items()):
        if callable(fn) and not name.startswith("_"):
            def crashing(self, *args, _fn=fn, **kwargs):
                calls.append(_fn.__name__)
                if len(calls) > crash_at:
                    raise _Crash
                return _fn(self, *args, **kwargs)

            monkeypatch.setattr(LocalStorage, name, crashing)
    try:
        ack()
    except _Crash:
        pass
    monkeypatch.undo()
    again, _ = tbl.poll_changes(cursor)
    got = [] if again is None else [r["k"] for r in again.collect()]
    assert got in ([], [2]), (calls, got)


def test_poll_changes_honours_single_file_cursor(spark, tbl, tmp_path):
    """A cursor in the older single-file format (`{"version": N}` at
    the cursor path itself) is honoured, and the next ack replaces it
    with a versioned one."""
    cursor = str(tmp_path / "consumer.cursor")
    tbl.append(_df(spark, [(1, "a")]))
    tbl.append(_df(spark, [(2, "b")]))
    with open(cursor, "w", encoding="utf-8") as f:
        json.dump({"version": 1}, f)
    ch, ack = tbl.poll_changes(cursor)
    assert [r["k"] for r in ch.collect()] == [2]
    ack()
    assert sorted(n for n in os.listdir(tmp_path) if n.startswith("consumer")) == [
        "consumer.cursor.v2"]
    assert tbl.poll_changes(cursor)[0] is None


def test_poll_changes_refuses_cursor_below_vacuum_retention(spark, tbl, tmp_path):
    """The changes after a cursor's version go with its manifest: once
    vacuum prunes it, the poll refuses instead of mis-delivering."""
    cursor = str(tmp_path / "consumer.cursor")
    tbl.append(_df(spark, [(1, "a")]))
    tbl.poll_changes(cursor)[1]()  # cursor at v1
    tbl.append(_df(spark, [(2, "b")]))
    tbl.append(_df(spark, [(3, "c")]))
    tbl.vacuum(keep_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuum retention"):
        tbl.poll_changes(cursor)


def test_vacuum_keep_versions_zero_keeps_newest_manifest(spark, tbl):
    for k in (1, 2, 3):
        tbl.append(_df(spark, [(k, "x")]))
    tbl.vacuum(keep_versions=0)
    assert tbl.versions() == [3]
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 2, 3]


def test_merge_rejects_duplicate_source_keys(spark, tbl):
    """A source with two rows per key would silently fan out the
    matched target row — refuse it like Delta does (opt out with
    validate_keys=False for known-unique sources)."""
    tbl.overwrite(_df(spark, [(1, "a")]))
    dup_src = _df(spark, [(1, "x"), (1, "y")])
    with pytest.raises(ValueError, match="multiple rows"):
        tbl.merge(dup_src, keys=("k",))
    tbl.merge(dup_src, keys=("k",), validate_keys=False)  # explicit opt-out


def test_register_view_pins_snapshot(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    tbl.register_view("snap_view")
    assert spark.sql("SELECT COUNT(*) n FROM snap_view").collect()[0]["n"] == 2
    tbl.append(_df(spark, [(3, "c")]))
    # the view is manifest-pinned at registration
    assert spark.sql("SELECT COUNT(*) n FROM snap_view").collect()[0]["n"] == 2
    tbl.register_view("snap_view")
    assert spark.sql("SELECT COUNT(*) n FROM snap_view").collect()[0]["n"] == 3
    spark.catalog.dropTempView("snap_view")


# ---------------------------------------------------------------------------
# bloom-filter file skipping (point lookups on high-cardinality cols)
# ---------------------------------------------------------------------------

def _bloom_tbl(spark, tmp_path, **kw):
    return SnapshotTable(
        spark, str(tmp_path / "btbl"), bloom_cols=("k",),
        bloom_bits=4096, bloom_hashes=5, **kw,
    )


def _ids(spark, lo, hi, nfiles):
    return (
        spark.range(lo, hi)
        .select(F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v"))
        .repartition(nfiles)
    )


def test_bloom_sidecar_written_and_invisible_to_scans(spark, tmp_path):
    tbl = _bloom_tbl(spark, tmp_path)
    tbl.append(_ids(spark, 0, 400, 4))
    base = tbl.manifest(1)["entries"][0]["base"]
    sidecar = os.path.join(str(tmp_path / "btbl"), base, "_bloom.json")
    assert os.path.exists(sidecar)
    blooms = json.loads(open(sidecar).read())
    assert len(blooms) == 4 and all("k" in m for m in blooms.values())
    # the underscore-prefixed sidecar must not leak into the scan
    assert tbl.read().count() == 400


def test_bloom_point_lookup_prunes_files_and_loses_nothing(spark, tmp_path):
    tbl = _bloom_tbl(spark, tmp_path)
    tbl.append(_ids(spark, 0, 400, 4))
    tbl.append(_ids(spark, 400, 800, 4))
    all_files = set(tbl.read().inputFiles())
    assert len(all_files) == 8
    pruned_counts = []
    for probe in (3, 250, 777):
        got = tbl.read(predicates=[("k", "=", probe)])
        rows = got.collect()
        # exactness: identical to the unpruned filter
        assert [(r["k"], r["v"]) for r in rows] == [(probe, f"v{probe}")]
        pruned_counts.append(len(got.inputFiles()))
    # each value lives in ONE file; bloom fp-rate at 100 ids into
    # 4096 bits is ~1e-9, so the scan should be a single file
    assert max(pruned_counts) < 8, pruned_counts


def test_bloom_no_means_no_absent_value_scans_zero_files(spark, tmp_path):
    tbl = _bloom_tbl(spark, tmp_path)
    tbl.append(_ids(spark, 0, 100, 2))
    got = tbl.read(predicates=[("k", "=", 10_000_000)])
    assert got.count() == 0
    # every file's filter rules the value out -> empty-schema fast path
    assert got.inputFiles() == []


def test_bloom_ignores_non_equality_predicates(spark, tmp_path):
    tbl = _bloom_tbl(spark, tmp_path)
    tbl.append(_ids(spark, 0, 100, 2))
    got = tbl.read(predicates=[("k", ">=", 95)])
    assert sorted(r["k"] for r in got.collect()) == list(range(95, 100))


def test_bloom_survives_compaction(spark, tmp_path):
    tbl = _bloom_tbl(spark, tmp_path)
    for lo in range(0, 300, 100):
        tbl.append(_ids(spark, lo, lo + 100, 2))
    tbl.compact()
    got = tbl.read(predicates=[("k", "=", 123)])
    assert [(r["k"], r["v"]) for r in got.collect()] == [(123, "v123")]
    # compacted snap re-derived its own sidecar
    base = tbl.manifest(tbl.latest_version())["entries"][0]["base"]
    assert os.path.exists(os.path.join(str(tmp_path / "btbl"), base, "_bloom.json"))


def test_bloom_string_column_probe(spark, tmp_path):
    tbl = SnapshotTable(
        spark, str(tmp_path / "stbl"), bloom_cols=("v",), bloom_bits=4096
    )
    tbl.append(_ids(spark, 0, 200, 4))
    got = tbl.read(predicates=[("v", "=", "v42")])
    assert [(r["k"], r["v"]) for r in got.collect()] == [(42, "v42")]
    assert len(got.inputFiles()) < 4


# ---------------------------------------------------------------------------
# expectations: fail / drop / quarantine write policies (DLT shape)
# ---------------------------------------------------------------------------

def test_expectation_drop_removes_violators_and_records_metrics(spark, tmp_path):
    tbl = SnapshotTable(
        spark, str(tmp_path / "etbl"),
        expectations=[("k_nonneg", "k >= 0", "drop")],
    )
    tbl.append(_df(spark, [(1, "a"), (-5, "bad"), (2, "b"), (-9, "worse")]))
    assert sorted(r["k"] for r in tbl.read().collect()) == [1, 2]
    assert tbl.expectation_metrics() == {"k_nonneg": 2}
    # clean write -> zero tally, still recorded
    tbl.append(_df(spark, [(3, "c")]))
    assert tbl.expectation_metrics() == {"k_nonneg": 0}
    # and the earlier version's metrics remain addressable
    assert tbl.expectation_metrics(1) == {"k_nonneg": 2}


def test_expectation_quarantine_routes_rows_with_rule_names(spark, tmp_path):
    root = str(tmp_path / "qtbl")
    tbl = SnapshotTable(
        spark, root,
        expectations=[
            ("v_known", "v IN ('a', 'b')", "quarantine"),
            ("k_small", "k < 100", "drop"),
        ],
    )
    tbl.append(_df(spark, [(1, "a"), (2, "zz"), (500, "a"), (600, "xx")]))
    # main table: only fully-clean rows
    assert sorted(r["k"] for r in tbl.read().collect()) == [1]
    q = SnapshotTable(spark, root + "_quarantine").read().collect()
    got = {r["k"]: sorted(r["failed_expectations"]) for r in q}
    # k=2 broke only the quarantine rule; k=600 broke both (tagged with
    # both names); k=500 broke only the DROP rule -> discarded, NOT
    # quarantined
    assert got == {2: ["v_known"], 600: ["k_small", "v_known"]}
    assert tbl.expectation_metrics() == {"v_known": 2, "k_small": 2}


def test_expectation_fail_mode_aborts_like_constraint(spark, tmp_path):
    from pixelspark.table import ConstraintViolation

    tbl = SnapshotTable(
        spark, str(tmp_path / "ftbl"),
        expectations=[("k_nonneg", "k >= 0", "fail")],
    )
    with pytest.raises(ConstraintViolation, match="k_nonneg"):
        tbl.append(_df(spark, [(1, "a"), (-1, "b")]))
    assert tbl.latest_version() is None  # nothing committed


def test_expectation_null_predicate_counts_as_violation(spark, tmp_path):
    tbl = SnapshotTable(
        spark, str(tmp_path / "ntbl"),
        expectations=[("v_set", "v = 'a'", "drop")],
    )
    tbl.append(spark.createDataFrame([(1, "a"), (2, None)], "k long, v string"))
    assert [r["k"] for r in tbl.read().collect()] == [1]
    assert tbl.expectation_metrics() == {"v_set": 1}


def test_expectation_bad_mode_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="mode"):
        SnapshotTable(
            spark, str(tmp_path / "btbl2"),
            expectations=[("x", "k > 0", "warn")],
        )


def test_add_columns_is_metadata_only(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS must not touch data: same entries, new
    column reads as typed NULL, later writes populate it, time travel
    shows the pre-DDL schema, duplicates are rejected."""
    t = SnapshotTable(spark, str(tmp_path / "ddl"))
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v0 = t.latest_version()
    entries = t.manifest(v0)["entries"]
    v1 = t.add_columns({"score": "double", "tags": "array<string>"})
    assert t.manifest(v1)["entries"] == entries  # zero data churn
    got = t.read()
    assert got.schema["score"].dataType.simpleString() == "double"
    assert got.schema["tags"].dataType.simpleString() == "array<string>"
    assert all(r["score"] is None and r["tags"] is None for r in got.collect())
    # old snapshot is untouched
    assert "score" not in t.read(version=v0).columns
    # a later append populates; pre-DDL rows stay NULL
    t.append(spark.createDataFrame(
        [(3, "c", 0.5, ["x"])], "k long, v string, score double, tags array<string>"
    ))
    by_k = {r["k"]: r for r in t.read().collect()}
    assert by_k[3]["score"] == 0.5 and by_k[3]["tags"] == ["x"]
    assert by_k[1]["score"] is None
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns({"v": "string"})


def test_generated_columns_compute_audit_and_persist(spark, tmp_path):
    """GENERATED ALWAYS AS: missing column computed on every write
    path, provided-but-divergent values refused, expressions persist
    in the manifest so a reopened writer without the argument still
    generates, and the derived partition column works with
    replace_partitions."""
    import pyspark.sql.functions as F

    from pixelspark.table import ConstraintViolation

    root = str(tmp_path / "gen")
    t = SnapshotTable(spark, root, generated_cols={"day": "CAST(ts AS DATE)"})
    df = spark.createDataFrame(
        [(1, "2024-01-02 03:04:05"), (2, "2024-01-03 00:00:00")],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    t.replace_partitions(df, "day")
    got = {r["k"]: str(r["day"]) for r in t.read().collect()}
    assert got == {1: "2024-01-02", 2: "2024-01-03"}
    assert t.manifest(t.latest_version())["generated"] == {
        "day": "CAST(ts AS DATE)"
    }
    # a reopened writer with NO generated_cols argument still generates
    t2 = SnapshotTable(spark, root)
    t2.replace_partitions(
        df.where("k = 1").withColumn("k", F.lit(3).cast("long")), "day"
    )
    assert str({r["k"]: str(r["day"]) for r in t2.read().collect()}[3]) == "2024-01-02"
    # provided matching values pass; divergent values are refused
    t2.replace_partitions(df.withColumn("day", F.to_date("ts")), "day")
    with pytest.raises(ConstraintViolation, match="generated"):
        t2.replace_partitions(
            df.withColumn("day", F.lit("1999-01-01").cast("date")), "day"
        )


def test_generated_columns_recomputed_on_dml(spark, tmp_path):
    """Delta DML semantics: UPDATE/MERGE that change a generation
    INPUT column recompute generated columns not explicitly assigned
    (the pre-image value is stale, not a constraint violation).  The
    partition-scoped rewrite keeps its fail-closed guard when the
    recomputed value would migrate rows across partitions."""
    import pyspark.sql.functions as F

    from pixelspark.table import ConstraintViolation

    root = str(tmp_path / "gendml")
    t = SnapshotTable(spark, root, generated_cols={"day": "CAST(ts AS DATE)"})
    df = spark.createDataFrame(
        [(1, "2024-01-02 03:04:05"), (2, "2024-01-03 00:00:00")],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    t.overwrite(df)  # unpartitioned: 'day' generated on write

    # update a generation input -> 'day' silently recomputed (this
    # exact shape was refused with ConstraintViolation before)
    t.update({"ts": "ts + INTERVAL 2 DAYS"}, condition="k = 1")
    got = {r["k"]: str(r["day"]) for r in t.read().collect()}
    assert got == {1: "2024-01-04", 2: "2024-01-03"}

    # same via dv-mode UPDATE (appended post-image, O(matched))
    t.update({"ts": "ts + INTERVAL 1 DAY"}, condition="k = 2", mode="dv")
    got = {r["k"]: str(r["day"]) for r in t.read().collect()}
    assert got == {1: "2024-01-04", 2: "2024-01-04"}

    # MERGE post-images recompute too (rewrite + dv modes)
    src = spark.createDataFrame(
        [(1, "2024-02-10 00:00:00")], "k long, ts_s string"
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    t.merge(src, keys=("k",))
    assert str({r["k"]: r["day"] for r in t.read().collect()}[1]) == "2024-02-10"
    src2 = src.withColumn("ts", F.col("ts") + F.expr("INTERVAL 5 DAYS"))
    t.merge(src2, keys=("k",), mode="dv")
    assert str({r["k"]: r["day"] for r in t.read().collect()}[1]) == "2024-02-15"

    # explicitly ASSIGNING a divergent generated value is still refused
    with pytest.raises(ConstraintViolation, match="generated"):
        t.update({"day": "CAST('1999-01-01' AS DATE)"}, condition="k = 1")

    # partition-scoped rewrite on a GENERATED partition column: an
    # input change that would migrate the row stays fail-closed
    root2 = str(tmp_path / "gendml_part")
    tp = SnapshotTable(
        spark, root2, generated_cols={"day": "CAST(ts AS DATE)"}
    )
    tp.replace_partitions(df, "day")
    with pytest.raises(ConstraintViolation, match="generated"):
        tp.update({"ts": "ts + INTERVAL 30 DAYS"}, condition="k = 1")
    # ...but the dv path legally moves the row (append + delete)
    tp.update({"ts": "ts + INTERVAL 30 DAYS"}, condition="k = 1", mode="dv")
    assert str({r["k"]: r["day"] for r in tp.read().collect()}[1]) == "2024-02-01"


def test_row_count_is_manifest_only_and_exact(spark, tmp_path):
    """row_count() must equal a real count across append / partition
    replace / compact / dv-delete, and must be answered from the
    manifest (every entry carries per-part counts) except under
    deletion vectors, where it falls back honestly."""
    t = SnapshotTable(spark, str(tmp_path / "rc"))
    t.overwrite(spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    ))
    assert t.row_count() == 10
    t.append(spark.createDataFrame([(100, "x"), (101, "y")], "k long, v string"))
    assert t.row_count() == 12
    m = t.manifest(t.latest_version())
    assert all(e.get("rows") for e in m["entries"])  # manifest-answerable

    p = SnapshotTable(spark, str(tmp_path / "rcp"))
    df = spark.createDataFrame(
        [(i, f"d{i % 3}") for i in range(12)], "k long, day string"
    )
    p.replace_partitions(df, "day")
    assert p.row_count() == 12
    p.replace_partitions(
        spark.createDataFrame([(50, "d1")], "k long, day string"), "day"
    )
    assert p.row_count() == 9  # d1's 4 rows -> 1; d0/d2 kept counts
    mp = p.manifest(p.latest_version())
    assert all(e.get("rows") for e in mp["entries"])
    p.compact()
    assert p.row_count() == 9

    # dv masking: manifest arithmetic would overcount -> fallback
    t.delete("k >= 100", mode="dv")
    assert t.row_count() == 10
    t.compact()
    assert t.row_count() == 10


def test_vacuum_min_age_protects_inflight_writer_dirs(spark, tbl, tmp_path):
    """An unreferenced data dir younger than min_age_hours must survive
    vacuum (it may be a concurrent writer's staged-but-uncommitted
    dir); once provably old it is reclaimed.  A backend that cannot
    report age keeps the dir whenever a floor is set."""
    import os
    import time as _time

    root = str(tmp_path / "tbl")
    tbl.overwrite(_df(spark, [(1, "a")]))
    # fake a crash leftover: a staged dir no manifest references
    orphan = os.path.join(root, "data", "__snap=deadbeefcafef00d")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "w") as f:
        f.write("x")
    # fresh orphan + age floor -> kept
    assert tbl.vacuum(min_age_hours=1.0) == []
    assert os.path.exists(orphan)
    # age the dir past the floor -> reclaimed
    old = _time.time() - 7200
    os.utime(orphan, (old, old))
    removed = tbl.vacuum(min_age_hours=1.0)
    assert removed == ["data/__snap=deadbeefcafef00d"]
    assert not os.path.exists(orphan)
    # unknown age (backend returns None) is conservative: kept
    os.makedirs(orphan)
    tbl.st.mtime = lambda path: None
    assert tbl.vacuum(min_age_hours=1.0) == []
    assert os.path.exists(orphan)
    # ...but with no floor the historical eager behavior remains
    assert tbl.vacuum() == ["data/__snap=deadbeefcafef00d"]


def test_merge_schema_evolution_rewrite(spark, tbl):
    """Delta withSchemaEvolution(): source-only columns join the table
    schema in the same commit — NULL for untouched rows, source values
    for updates and inserts; off by default."""
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    src = spark.createDataFrame(
        [(1, "a2", 0.9), (3, "c", 0.3)], "k long, v string, score double"
    )
    # default: the extra column is ignored and the schema unchanged
    tbl.merge(src, keys=("k",))
    assert "score" not in tbl.read().columns
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    tbl.merge(src, keys=("k",), schema_evolution=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in tbl.read().collect()}
    assert rows == {1: ("a2", 0.9), 2: ("b", None), 3: ("c", 0.3)}


def test_merge_schema_evolution_dv_mode(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    src = spark.createDataFrame(
        [(1, "a2", 0.9), (3, "c", 0.3)], "k long, v string, score double"
    )
    tbl.merge(src, keys=("k",), mode="dv", schema_evolution=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in tbl.read().collect()}
    assert rows == {1: ("a2", 0.9), 2: ("b", None), 3: ("c", 0.3)}
    # the untouched row's data dir was not rewritten: DV commit keeps
    # the original entry and appends one new dir
    bases = {e["base"] for e in tbl.manifest(tbl.latest_version())["entries"]}
    first = tbl.manifest(1)["entries"][0]["base"]
    assert first in bases and len(bases) == 2


def test_merge_schema_evolution_partition_scoped(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "pt"))
    t.replace_partitions(
        spark.createDataFrame(
            [("d1", 1, "a"), ("d2", 2, "b")], "day string, k long, v string"
        ),
        "day",
    )
    src = spark.createDataFrame(
        [("d1", 1, "a2", 7.0)], "day string, k long, v string, score double"
    )
    t.merge(src, keys=("day", "k"), schema_evolution=True)
    rows = {r["k"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows == {1: ("a2", 7.0), 2: ("b", None)}


def test_merge_schema_evolution_refused_on_mapped_table(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    tbl.enable_column_mapping()
    src = spark.createDataFrame([(1, "a2", 0.5)], "k long, v string, score double")
    with pytest.raises(ValueError, match="add_columns"):
        tbl.merge(src, keys=("k",), schema_evolution=True)


# -- reader/writer protocol features ----------------------------------------


def _forge_future_manifest(tbl, extra_key, feature):
    """Publish a manifest claiming a feature this engine predates."""
    import json as _json

    v = tbl.latest_version()
    m = tbl.manifest(v)
    m["version"] = v + 1
    m[extra_key] = [feature]
    tbl.st.write_text_atomic(
        tbl._manifest_path(v + 1), _json.dumps(m)
    )


def test_manifests_self_describe_protocol_features(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    assert "reader_features" not in tbl.manifest(1)  # plain append: none
    assert "writer_features" not in tbl.manifest(1)
    tbl.delete(F.col("k") == 1, mode="dv")
    m = tbl.manifest(tbl.latest_version())
    assert m["reader_features"] == ["deletion-vectors"]
    assert m["writer_features"] == ["deletion-vectors"]
    tbl.enable_column_mapping()
    m = tbl.manifest(tbl.latest_version())
    assert "column-mapping" in m["reader_features"]
    # compact materializes the DV and un-maps nothing: dv feature gone
    tbl.compact()
    m = tbl.manifest(tbl.latest_version())
    assert "deletion-vectors" not in (m.get("reader_features") or [])


def test_generated_columns_are_writer_only_feature(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "g"),
        generated_cols={"kk": "k * 2"},
    )
    t.append(spark.createDataFrame([(1,)], "k long"))
    m = t.manifest(t.latest_version())
    assert "generated-columns" in (m.get("writer_features") or [])
    assert "generated-columns" not in (m.get("reader_features") or [])


def test_unknown_reader_feature_refuses_reads_not_maintenance(spark, tbl):
    tbl.append(_df(spark, [(1, "a")]))
    _forge_future_manifest(tbl, "reader_features", "row-tracking-v9")
    with pytest.raises(ValueError, match="row-tracking-v9"):
        tbl.read()
    with pytest.raises(ValueError, match="row-tracking-v9"):
        tbl.read_changes(0)
    # history stays readable — diagnosing a too-new table must work
    assert len(tbl.history()) == 2


def test_unknown_writer_feature_refuses_commits_and_vacuum(spark, tbl, tmp_path):
    tbl.append(_df(spark, [(1, "a")]))
    _forge_future_manifest(tbl, "writer_features", "row-tracking-v9")
    with pytest.raises(ValueError, match="row-tracking-v9"):
        tbl.append(_df(spark, [(2, "b")]))
    with pytest.raises(ValueError, match="row-tracking-v9"):
        tbl.vacuum()
    with pytest.raises(ValueError, match="row-tracking-v9"):
        tbl.clone_to(str(tmp_path / "cl"))
    # reads are unaffected: the feature is writer-side only
    assert [r["k"] for r in tbl.read().collect()] == [1]


# -- CDF pre/post images and idempotent merge -------------------------------


def test_read_changes_preimages_vocabulary(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    tbl.upsert(_df(spark, [(2, "B"), (4, "d")]), keys=("k",))
    ch = tbl.read_changes(1, 2, keys=("k",), preimages=True)
    got = sorted((r["k"], r["v"], r["change_type"]) for r in ch.collect())
    assert got == [
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (4, "d", "inserted"),
    ]
    # the plain vocabulary is unchanged
    ch1 = tbl.read_changes(1, 2, keys=("k",))
    got1 = sorted((r["k"], r["v"], r["change_type"]) for r in ch1.collect())
    assert got1 == [(2, "B", "updated"), (4, "d", "inserted")]


def test_read_changes_preimages_delete_and_insert_only(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    tbl.delete("k = 1")
    ch = tbl.read_changes(1, 2, keys=("k",), preimages=True)
    assert [(r["k"], r["change_type"]) for r in ch.collect()] == [
        (1, "deleted")
    ]
    tbl.append(_df(spark, [(9, "z")]))
    ch2 = tbl.read_changes(2, 3, preimages=True)  # append-only: keyless
    assert [(r["k"], r["change_type"]) for r in ch2.collect()] == [
        (9, "inserted")
    ]


def test_merge_txn_is_exactly_once(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    v = tbl.merge(_df(spark, [(1, "A"), (2, "b")]), keys=("k",),
                  txn=("job", 7))
    assert v is not None
    # replay: same (app, batch) commits nothing — even though this
    # merge is NOT idempotent by construction
    assert tbl.merge(_df(spark, [(1, "AA")]), keys=("k",),
                     txn=("job", 7)) is None
    assert tbl.latest_version() == v
    assert sorted((r["k"], r["v"]) for r in tbl.read().collect()) == [
        (1, "A"), (2, "b")
    ]
    # next batch proceeds
    assert tbl.merge(_df(spark, [(2, "B")]), keys=("k",),
                     txn=("job", 8)) == v + 1


def test_merge_txn_dv_mode_and_noop_watermark(spark, tbl):
    tbl.overwrite(_df(spark, [(1, "a")]))
    v = tbl.merge(_df(spark, [(1, "A")]), keys=("k",), mode="dv",
                  txn=("job", 1))
    assert v is not None
    assert tbl.merge(_df(spark, [(1, "X")]), keys=("k",), mode="dv",
                     txn=("job", 1)) is None
    # a no-effect batch (nothing matched, inserts off) still advances
    # the watermark via a watermark-only commit
    noop = tbl.merge(
        _df(spark, [(99, "zz")]), keys=("k",), mode="dv",
        when_not_matched_insert=False, txn=("job", 2),
    )
    assert noop is not None
    m = tbl.manifest(tbl.latest_version())
    assert m["txn"]["job"] == 2
    assert m["op"].get("noop") is True


# -- predicate-derived partition pruning (incl. generated columns) ----------


def _day_table(spark, tmp_path, name="gpp"):
    root = str(tmp_path / name)
    t = SnapshotTable(spark, root, generated_cols={"day": "CAST(ts AS DATE)"})
    df = spark.createDataFrame(
        [(i, f"2024-01-{2 + i % 4:02d} 0{i % 9}:00:00") for i in range(40)],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    t.replace_partitions(df, "day")
    return t, df


def test_generated_column_partition_pruning(spark, tmp_path):
    """Delta-style generated-column pruning: a predicate on ts prunes
    day= directories at the MANIFEST level (no listing of excluded
    days), exactly — the residual WHERE keeps values correct."""
    import datetime

    t, _df_in = _day_table(spark, tmp_path)
    pruned = t.read(predicates=[
        ("ts", ">=", datetime.datetime(2024, 1, 3, 0, 0)),
        ("ts", "<", datetime.datetime(2024, 1, 5, 0, 0)),
    ])
    days = {f.split("day=")[1].split("/")[0] for f in pruned.inputFiles()}
    # day 2024-01-05 is conservatively admitted by ts < midnight-of-05
    # (the residual trims it); 2024-01-02 must be GONE from the listing
    assert "2024-01-02" not in days
    assert {"2024-01-03", "2024-01-04"} <= days
    want = sorted(r["k"] for r in t.read().where(
        (F.col("ts") >= "2024-01-03") & (F.col("ts") < "2024-01-05")
    ).collect())
    assert sorted(r["k"] for r in pruned.collect()) == want


def test_direct_partition_predicate_pruning(spark, tmp_path):
    import datetime

    t, _ = _day_table(spark, tmp_path, "gpp2")
    pruned = t.read(predicates=[("day", "=", datetime.date(2024, 1, 3))])
    days = {f.split("day=")[1].split("/")[0] for f in pruned.inputFiles()}
    assert days == {"2024-01-03"}
    assert pruned.count() == t.read().where("day = '2024-01-03'").count()


def test_direct_partition_predicate_timestamp_truncation_widens(
    spark, tmp_path
):
    """ADVICE r6: `day < <date> 10:00` used to truncate the bound to
    <date> but KEEP the strict `<`, pruning the edge day whose rows
    DO satisfy the residual (a date upcasts to midnight, and
    midnight < 10:00).  The truncation must widen `<` to `<=`;
    `>` stays strict (midnight > 10:00 is false, so pruning the
    edge day there is exact)."""
    import datetime

    t, _ = _day_table(spark, tmp_path, "gpp3")
    bound = datetime.datetime(2024, 1, 3, 10, 0)

    pruned = t.read(predicates=[("day", "<", bound)])
    days = {f.split("day=")[1].split("/")[0] for f in pruned.inputFiles()}
    assert "2024-01-03" in days  # the edge day must stay listed
    want = sorted(r["k"] for r in t.read().where(
        F.col("day") < F.lit(bound)).collect())
    got = sorted(r["k"] for r in pruned.collect())
    assert got == want and "2024-01-03" in {
        str(r["day"]) for r in pruned.collect()
    }

    # `>` with a nonzero time: pruning the edge day is exact
    pruned_gt = t.read(predicates=[("day", ">", bound)])
    days_gt = {f.split("day=")[1].split("/")[0] for f in pruned_gt.inputFiles()}
    assert "2024-01-03" not in days_gt
    want_gt = sorted(r["k"] for r in t.read().where(
        F.col("day") > F.lit(bound)).collect())
    assert sorted(r["k"] for r in pruned_gt.collect()) == want_gt


def test_predicate_pruning_keeps_foreign_layout_entries_whole(spark, tmp_path):
    """Partition evolution in progress: entries with a DIFFERENT
    layout pass through unpruned (conservative), and results stay
    exact via the residual WHERE."""
    root = str(tmp_path / "gpev")
    t = SnapshotTable(spark, root)
    t.replace_partitions(
        spark.createDataFrame([("a", 1, 7), ("b", 2, 8)],
                              "region string, k long, day int"),
        "region",
    )
    t.evolve_partitioning("day")
    t.replace_partitions(
        spark.createDataFrame([("c", 3, 9)],
                              "region string, k long, day int"),
        "day",
    )
    got = t.read(predicates=[("day", "=", 9)])
    assert [r["k"] for r in got.collect()] == [3]
    # the old-layout entry was scanned (kept whole), the day=9 new-
    # layout entry was kept, and no wrong rows leaked through
    regions = {f for f in got.inputFiles() if "region=" in f}
    assert regions  # foreign-layout files still listed (conservative)


def test_predicate_pruning_excludes_null_partition(spark, tmp_path):
    root = str(tmp_path / "gpnull")
    t = SnapshotTable(spark, root)
    t.replace_partitions(
        spark.createDataFrame([(1, "d1"), (2, None)], "k long, day string"),
        "day",
    )
    pruned = t.read(predicates=[("day", "=", "d1")])
    assert [r["k"] for r in pruned.collect()] == [1]
    assert all("__HIVE_DEFAULT" not in f for f in pruned.inputFiles())


def test_detail_summarizes_from_manifest_alone(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "d"),
                      identity={"col": "rid", "start": 1, "step": 1})
    t.append(spark.range(5).select(F.col("id").alias("k")))
    d = t.detail()
    assert d["version"] == 1 and d["n_entries"] == 1
    assert d["num_rows"] == 5
    assert d["identity"]["high"] == 6
    assert "identity-columns" in d["writer_features"]
    assert d["last_op"]["name"] == "append"
    t.delete("k = 0", mode="dv")
    d = t.detail()
    assert d["deletion_vectors"] == 1
    assert d["num_rows"] is None  # DV masks: unknown beats wrong


def test_vacuum_age_gates_manifest_tmp_files(spark, tmp_path):
    """A fresh `.tmp-` in _manifests/ may be a LIVE committer's staged
    write mid-link — vacuum keeps it; an hour-old orphan goes."""
    import os
    import time as _time

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    d = str(tmp_path / "t" / "_manifests")
    fresh, stale = os.path.join(d, ".tmp-fresh"), os.path.join(d, ".tmp-old")
    for p in (fresh, stale):
        with open(p, "w") as f:
            f.write("{}")
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    t.vacuum(keep_versions=1)
    assert os.path.exists(fresh) and not os.path.exists(stale)


def test_fragmentation_metrics_and_maybe_compact_entries(spark, tmp_path):
    """r8: maybe_compact also retires UNION-WIDTH debt (round-6
    index_compaction probe: +37-70% probe cost at 10 entries) and
    small-file debt — and is idempotent once healthy."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(10):
        t.append(spark.createDataFrame([(i, f"v{i}")], "k long, v string"))
    fm = t.fragmentation_metrics()
    assert fm["n_live_entries"] == 10
    assert fm["n_files"] >= 10 and fm["small_file_share"] == 1.0

    assert t.maybe_compact(max_live_entries=12) is None  # under threshold
    v = t.maybe_compact(max_live_entries=8)
    assert v is not None
    fm2 = t.fragmentation_metrics()
    assert fm2["n_live_entries"] == 1
    assert fm2["n_files"] < fm["n_files"]
    assert sorted(r["k"] for r in t.read().collect()) == list(range(10))
    # healthy now: nothing re-triggers
    assert t.maybe_compact(max_live_entries=8) is None
    assert t.maybe_compact(max_small_file_share=0.5) is None  # n_files <= 8


def test_maybe_compact_partitioned_scopes_to_multi_entry_values(
    spark, tmp_path
):
    """r8: on a partitioned table, entry-count debt folds ONLY the
    values spread over several entries (a DV merge's post-image dirs)
    — one entry per day is structural, never a full-rewrite
    trigger."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace_partitions(
        spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")],
            "k long, v string, day string"), "day")
    # one entry per day via three refreshes
    for d in ("d1", "d2", "d3"):
        t.replace_partitions(
            spark.createDataFrame([(10, "r", d)],
                                  "k long, v string, day string"), "day")
    assert t.maybe_compact(max_live_entries=2) is None  # structural

    # DV merge puts d1 post-images in a NEW entry: d1 is now split
    t.merge(spark.createDataFrame([(10, "r2", "d1")],
                                  "k long, v string, day string"),
            keys=("k", "day"), mode="dv")
    fm = t.fragmentation_metrics()
    assert fm["multi_entry_partitions"] == ["d1"]
    v = t.maybe_compact(max_live_entries=2, max_masked_fraction=1.0)
    assert v is not None
    fm2 = t.fragmentation_metrics()
    assert fm2["multi_entry_partitions"] == []
    got = {(r["k"], r["day"]): r["v"] for r in t.read().collect()}
    assert got[(10, "d1")] == "r2" and got[(10, "d2")] == "r"


def test_maybe_compact_review_guards(spark, tmp_path):
    """code-review r8: (a) small-file debt never full-rewrites a
    PARTITIONED table (the fold could not converge below one file
    per value); (b) a mid-evolution mixed-layout table skips the
    fragmentation triggers instead of crashing the maintenance loop;
    (c) the r7 call shape (DV thresholds only) never pays the file
    walk and still compacts DV debt."""
    # (a) partitioned, all-small files: small-file trigger is a no-op
    t = SnapshotTable(spark, str(tmp_path / "a"))
    for d in ("d1", "d2", "d3"):
        t.replace_partitions(
            spark.createDataFrame([(1, d)], "k long, day string"), "day")
    assert t.maybe_compact(max_small_file_share=0.1) is None

    # (b) mixed layouts: entry debt present, triggers skip cleanly
    t2 = SnapshotTable(spark, str(tmp_path / "b"))
    for i in range(4):
        t2.append(spark.createDataFrame([(i, "x")], "k long, day string"))
    t2.evolve_partitioning("day")
    t2.replace_partitions(
        spark.createDataFrame([(9, "d9")], "k long, day string"), "day")
    assert t2.maybe_compact(max_live_entries=2,
                            max_small_file_share=0.1) is None
    t2.compact()  # restores a single layout...
    t2.read().count()
    # ...and re-arms the triggers (1 entry now: under threshold)
    assert t2.maybe_compact(max_live_entries=2) is None

    # (c) DV-only shape compacts debt without fragmentation metrics
    t3 = SnapshotTable(spark, str(tmp_path / "c"))
    t3.append(spark.createDataFrame([(i, "x") for i in range(20)],
                                    "k long, v string"))
    t3.delete("k < 5", mode="dv")
    assert t3.maybe_compact(max_masked_fraction=0.05) is not None
    assert t3.dv_metrics()["dv_masked_rows"] == 0


def test_append_on_partitioned_table_joins_the_layout(spark, tmp_path):
    """late-r9: append on a partitioned table lands its dir in the
    CURRENT layout (Delta append semantics — previously refused), so
    partition pruning and replace_partitions address the new rows
    like the old ones."""
    t = SnapshotTable(spark, str(tmp_path / "p"))
    t.replace_partitions(
        spark.createDataFrame([(7, 1, "a"), (8, 2, "b")],
                              "day int, k long, v string"), "day")
    t.append(spark.createDataFrame([(8, 3, "c"), (9, 4, "d")],
                                   "day int, k long, v string"))
    got = sorted((r["day"], r["k"]) for r in t.read().collect())
    assert got == [(7, 1), (8, 2), (8, 3), (9, 4)]
    # pruned read sees BOTH the old and the appended day-8 rows
    d8 = sorted(r["k"] for r in t.read(partition_values=[8]).collect())
    assert d8 == [2, 3]
    # the appended entry carries its col=value parts in the manifest
    m = t.manifest(t.latest_version())
    assert m["partition_col"] == "day"
    appended = m["entries"][-1]
    assert sorted(appended["parts"]) == ["day=8", "day=9"]
    # replace_partitions retires the appended day too
    t.replace_partitions(
        spark.createDataFrame([(8, 9, "z")], "day int, k long, v string"),
        "day")
    got2 = sorted((r["day"], r["k"]) for r in t.read().collect())
    assert got2 == [(7, 1), (8, 9), (9, 4)]
    # missing partition column refused loudly
    with pytest.raises(ValueError, match="needs that column"):
        t.append(spark.createDataFrame([(5, "e")], "k long, v string"))


def test_append_once_on_partitioned_table_and_replay(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "p"))
    t.replace_partitions(
        spark.createDataFrame([(7, 1)], "day int, k long"), "day")
    assert t.append_once(
        spark.createDataFrame([(8, 2)], "day int, k long"), "app", 1
    ) is not None
    # replay: commits nothing
    assert t.append_once(
        spark.createDataFrame([(8, 2)], "day int, k long"), "app", 1
    ) is None
    got = sorted((r["day"], r["k"]) for r in t.read().collect())
    assert got == [(7, 1), (8, 2)]


def test_append_during_partition_evolution_uses_new_layout(
    spark, tmp_path
):
    """While evolution is in progress (mixed layouts), appends join
    the NEW layout; a full compact unifies and restores
    partition_values addressing."""
    t = SnapshotTable(spark, str(tmp_path / "p"))
    t.append(spark.createDataFrame([(7, 1)], "day int, k long"))
    t.evolve_partitioning("day")
    t.append(spark.createDataFrame([(8, 2)], "day int, k long"))
    m = t.manifest(t.latest_version())
    assert m["entries"][-1]["parts"] == ["day=8"]   # new layout
    assert m["entries"][0]["parts"] is None          # old layout kept
    with pytest.raises(ValueError, match="partition evolution"):
        t.read(partition_values=[8])
    t.compact()
    assert [r["k"] for r in t.read(partition_values=[8]).collect()] == [2]


def test_empty_append_without_partition_column_is_noop(spark, tmp_path):
    """r10 (advisor low): the empty-batch no-op outranks the
    missing-partition-column refusal — appending an EMPTY DataFrame
    that lacks the partition column must not raise (docstring
    contract).  append_once still records its txn watermark."""
    t = SnapshotTable(spark, str(tmp_path / "p"))
    t.replace_partitions(
        spark.createDataFrame([(7, 1)], "day int, k long"), "day")
    v = t.latest_version()
    assert t.append(spark.createDataFrame([], "k long")) == v
    assert t.latest_version() == v

    # append_once: empty batch lacking the column commits ONLY the
    # txn watermark (exactly-once), no data entry, layout untouched
    got = t.append_once(spark.createDataFrame([], "k long"), "app", 5)
    assert got == v + 1
    m = t.manifest(t.latest_version())
    assert m["txn"]["app"] == 5
    assert m["partition_col"] == "day"
    assert len(m["entries"]) == 1  # no dataless entry appended
    # replay of the empty batch: nothing
    assert t.append_once(spark.createDataFrame([], "k long"), "app", 5) is None
    assert sorted((r["day"], r["k"]) for r in t.read().collect()) == [(7, 1)]


def test_subset_schema_append_does_not_narrow_declared_schema(
    spark, tmp_path
):
    """r10: an append whose batch carries a SUBSET of columns used to
    REPLACE the declared schema, silently dropping the missing
    column's data from every declared-schema read.  Declared columns
    must survive; new columns evolve in; type changes are refused
    (widen_column owns those)."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    t.append(spark.createDataFrame([(2,)], "k long"))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (2, None)]
    # the DDL kept both columns
    sch = StructType.fromJson(
        json.loads(t.manifest(t.latest_version())["schema"]))
    assert [f.name for f in sch.fields] == ["k", "v"]
    # evolution still works: a NEW column joins the schema tail
    t.append(spark.createDataFrame([(3, "c", 9)], "k long, v string, w long"))
    assert sorted(
        (r["k"], r["v"], r["w"]) for r in t.read().collect()
    ) == [(1, "a", None), (2, None, None), (3, "c", 9)]
    # a type change without the widening DDL is refused at write time
    with pytest.raises(ValueError, match="widen_column"):
        t.append(spark.createDataFrame([(4,)], "k int"))


def test_empty_unpartitioned_append_is_a_true_noop(spark, tmp_path):
    """r10: the empty unpartitioned write lands one schema-only
    parquet file — file existence alone used to commit a 0-row entry
    and bump the version, contradicting append's no-op contract."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "k long, v string"))
    v = t.latest_version()
    assert t.append(spark.createDataFrame([], "k long, v string")) == v
    assert t.latest_version() == v
    assert len(t.manifest(v)["entries"]) == 1


def test_subset_append_on_entryless_table_keeps_declared_schema(
    spark, tmp_path
):
    """r10 advice: the subset-column reconciliation used to be skipped
    when prev had ZERO entries (truncated/empty table), so the append
    narrowed the DDL anyway.  With no old file to conflict, keeping
    declared columns is always safe — they must survive."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([], "k long, v string"))  # empty, schema'd
    assert t.manifest(t.latest_version())["entries"] == []
    t.append(spark.createDataFrame([(2,)], "k long"))
    got = t.read()
    assert set(got.columns) == {"k", "v"}
    assert [(r["k"], r["v"]) for r in got.collect()] == [(2, None)]


def test_empty_append_once_on_entryless_partitioned_table_keeps_pcol(
    spark, tmp_path
):
    """r10 advice: an empty append_once lacking the partition column
    on an ENTRY-LESS partitioned table used to record a manifest
    schema missing the partition column while partition_col stayed
    set.  The declared schema must keep it."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.replace_partitions(
        spark.createDataFrame([], "day int, k long"), "day")
    assert t.manifest(t.latest_version())["partition_col"] == "day"
    t.append_once(spark.createDataFrame([], "k long"), "app", 1)
    m = t.manifest(t.latest_version())
    assert m["txn"]["app"] == 1
    import json as _json
    names = {f["name"]
             for f in _json.loads(m["schema"])["fields"]}
    assert "day" in names and "k" in names
    # and the table still accepts a normal partitioned append
    t.append(spark.createDataFrame([(3, 30)], "day int, k long"))
    assert [(r["day"], r["k"]) for r in t.read().collect()] == [(3, 30)]


def test_empty_batches_leave_no_staged_garbage(spark, tmp_path):
    """r10 advice: empty append / append_once used to leave their
    schema-only staged dir as unreferenced vacuum garbage on every
    empty batch; the dv-merge path already reclaimed its dir.  All
    three must reclaim now."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "k long"))

    def data_dirs():
        return {d for d in t.st.list(f"{t.root}/data")
                if d.startswith("__snap=")}

    pre = data_dirs()
    t.append(spark.createDataFrame([], "k long"))          # no-op
    t.append_once(spark.createDataFrame([], "k long"), "a", 1)  # txn only
    assert data_dirs() == pre


def test_entryless_table_adopts_written_types_keeps_omitted_columns(
    spark, tmp_path
):
    """The two halves of the entry-less reconciliation: a column the
    batch CARRIES adopts the written type (nothing is materialized at
    the declared one — how an empty agg-view seed adopts the fold's
    wider SUM decimal), while a column the batch OMITS survives at its
    declared type."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(
        [], "k long, amt decimal(28,6), v string"))
    t.append(
        spark.range(1).select(
            F.col("id").alias("k"),
            F.lit("1.5").cast("decimal(38,6)").alias("amt"),
        )
    )
    sch = dict(t.read().dtypes)
    assert sch["amt"] == "decimal(38,6)"  # written type adopted
    assert "v" in sch                     # omitted column kept
    # with DATA on the old type, the same retype is refused (ordinary
    # tables have one physical width; widen_column owns type changes)
    with pytest.raises(ValueError, match="widen_column"):
        t.append(
            spark.range(2, 3).select(
                F.col("id").alias("k"),
                F.lit("9.5").cast("decimal(10,6)").alias("amt"),
            )
        )


def test_merge_executes_source_plan_once(spark, tmp_path):
    """r13: merge materializes its source once (localCheckpoint) —
    the key validation, the matched join leg and the insert anti leg
    previously each executed the caller's plan.  A nondeterministic
    counting UDF in the source pins the single execution (marked
    nondeterministic so Catalyst cannot duplicate or collapse it)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udf

    calls = spark.sparkContext.accumulator(0)

    def _tick(v):
        calls.add(1)
        return v

    tick = udf(_tick, "long").asNondeterministic()
    t = SnapshotTable(spark, str(tmp_path / "m1"))
    t.overwrite(spark.createDataFrame(
        [(i, 0) for i in range(10)], "k long, v long"))
    src = spark.createDataFrame(
        [(i, 1) for i in range(5, 15)], "k long, v long"
    ).withColumn("v", tick("v"))
    t.merge(src, keys=("k",))
    assert calls.value == 10, (
        f"merge source ran {calls.value / 10:.1f}x, expected once")
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(i, 1 if i >= 5 else 0) for i in range(15)}


def test_upsert_executes_source_plan_once(spark, tmp_path):
    """r13: upsert materializes its source once — the anti-join key
    broadcast and the write's union leg previously each executed it."""
    from pyspark.sql.functions import udf

    calls = spark.sparkContext.accumulator(0)

    def _tick(v):
        calls.add(1)
        return v

    tick = udf(_tick, "long").asNondeterministic()
    t = SnapshotTable(spark, str(tmp_path / "u1"))
    t.overwrite(spark.createDataFrame(
        [(i, 0) for i in range(10)], "k long, v long"))
    src = spark.createDataFrame(
        [(i, 1) for i in range(5, 15)], "k long, v long"
    ).withColumn("v", tick("v"))
    t.upsert(src, keys=("k",))
    assert calls.value == 10, (
        f"upsert source ran {calls.value / 10:.1f}x, expected once")
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(i, 1 if i >= 5 else 0) for i in range(15)}


def test_footer_stats_match_scan_stats_exactly(spark, tmp_path):
    """r13: per-file min/max stats come from the parquet FOOTERS (no
    Spark job per commit); the footer converter must record values
    IDENTICAL to the r12 scan-aggregate across every supported type —
    long, date, string, double, bool, an all-null column — and fall
    back (not crash, not diverge) on types it cannot serve."""
    t = SnapshotTable(
        spark, str(tmp_path / "fs"),
        stats_cols=("v", "d", "nm", "f", "b", "xn"))
    df = spark.range(0, 50).select(
        F.col("id").alias("v"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        F.concat(F.lit("name-"), F.col("id")).alias("nm"),
        (F.col("id") * 1.5).alias("f"),
        (F.col("id") % 2 == 0).alias("b"),
        F.lit(None).cast("double").alias("xn"),
    )
    t.append(df.repartition(3))
    e = t.manifest(t.latest_version())["entries"][0]
    stats = e["stats"]
    assert len(stats) >= 1
    scan = t._file_stats_scan(e["base"], ["v", "d", "nm", "f", "b", "xn"])
    assert stats == scan, f"footer/scan divergence: {stats} vs {scan}"
    # all-null column: open range, present
    assert all(fs["xn"] == [None, None] for fs in stats.values())
    # partitioned write: the partition column's range comes from the
    # directory value via Spark's partition inference, which footers
    # cannot serve — the call falls back to the scan path and the
    # recorded stats stay identical (day INCLUDED, typed)
    tp = SnapshotTable(spark, str(tmp_path / "fsp"), stats_cols=("day", "v"))
    tp.replace_partitions(
        spark.createDataFrame(
            [(d, i) for d in (1, 2) for i in range(4)], "day int, v long"),
        "day",
    )
    ep = tp.manifest(tp.latest_version())["entries"][0]
    for fs in ep["stats"].values():
        assert fs["day"][0] in (1, 2) and fs["v"][0] is not None
    assert ep["stats"] == tp._file_stats_scan(ep["base"], ["day", "v"])


def test_append_only_partition_column_after_evolution(spark, tmp_path):
    """r13 storage-fuzz catch: a subset batch carrying ONLY the
    partition column (legal — every other declared column reads NULL)
    crashed the write with ALL_PARTITION_COLUMNS_NOT_ALLOWED, because
    parquet cannot lay out files with zero data columns.  The append
    now expands such batches to the declared schema with typed NULLs."""
    t = SnapshotTable(spark, str(tmp_path / "apc"))
    t.overwrite(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, s string, v long"))
    t.evolve_partitioning("k")
    t.append(spark.createDataFrame([(7,), (8,)], "k long"))
    rows = {r["k"]: (r["s"], r["v"]) for r in t.read().collect()}
    assert rows == {1: ("a", 10), 2: ("b", 20),
                    7: (None, None), 8: (None, None)}
    # after compaction retires the pre-evolution entry, the new rows
    # are addressable through the partition layout
    t.compact()
    assert [r["k"] for r in t.read(partition_values=[7]).collect()] == [7]


@pytest.mark.parametrize("verb", ["append", "append_once"])
def test_partition_only_batch_lands_through_both_append_verbs(spark, tmp_path, verb):
    """A batch carrying only the partition column of a partitioned
    table expands to the declared schema through either append verb
    (parquet refuses a layout with zero data columns)."""
    t = SnapshotTable(spark, str(tmp_path / "po"))
    t.overwrite(spark.createDataFrame([(1, "a")], "k long, s string"), partition_col="k")
    batch = spark.createDataFrame([(7,)], "k long")
    if verb == "append":
        t.append(batch)
    else:
        assert t.append_once(batch, "app", 1) is not None
        assert t.append_once(batch, "app", 1) is None  # replay commits nothing
    assert sorted((r["k"], r["s"]) for r in t.read().collect()) == [(1, "a"), (7, None)]
    assert [r["k"] for r in t.read(partition_values=[7]).collect()] == [7]


# -- partition values Spark escapes ------------------------------------------


def test_part_name_matches_spark_escaping(spark):
    """`_part_name` is a port of Spark's partition-path naming; it must
    agree with the JVM function for every character class Spark
    escapes (and the NULL / empty default partition)."""
    from pixelspark.table import _part_name

    jvm = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    values = ["".join(chr(c) for c in range(1, 128)), "a:b", "x=y/z",
              "100%", "naïve ü", "plain", "2024-01-05"]
    for col in ("p", "a:b"):
        for v in values:
            assert _part_name(col, v) == jvm.getPartitionPathString(col, v)
        assert _part_name(col, None) == jvm.getPartitionPathString(col, None)
        assert _part_name(col, "") == jvm.getPartitionPathString(col, "")


def test_escaped_partition_value_is_addressable_by_name(spark, tmp_path):
    """Spark writes the partition value `a:b` as the directory
    `p=a%3Ab`.  Every by-name partition address — the pruned read,
    partition-scoped DELETE/UPDATE, replace_partitions, compact and the
    recompute view's pruned base scan — must use that escaped name, or
    it addresses nothing: a pruned read returns no rows and a rewrite
    commits without its change."""
    from pixelspark.ops import matview as MV

    def table(name, rows=((1, "a:b"), (2, "a:b"), (3, "c"))):
        t = SnapshotTable(spark, str(tmp_path / name))
        t.overwrite(_df(spark, list(rows)), partition_col="v")
        return t

    def rows(t):
        return sorted((r["k"], r["v"]) for r in t.read().collect())

    t = table("read")
    assert any("v=a%3Ab" in (e["parts"] or [])
               for e in t.manifest(t.latest_version())["entries"])
    assert sorted(r["k"] for r in t.read(partition_values=["a:b"]).collect()) == [1, 2]
    assert sorted(r["k"] for r in t.read(
        predicates=[("v", "=", "a:b")]).collect()) == [1, 2]

    for mode in ("rewrite", "dv"):
        t = table(f"dml-{mode}")
        t.delete("k = 1", mode=mode)
        t.update({"k": F.lit(20)}, condition="k = 2", mode=mode)
        assert rows(t) == [(3, "c"), (20, "a:b")], mode

    t = table("replace")
    t.replace_partitions(_df(spark, [(4, "c")]), "v", replace_values=["a:b"])
    assert rows(t) == [(4, "c")]

    t = table("compact")
    t.append(_df(spark, [(5, "a:b")]))
    t.compact(partition_values=["a:b"])
    m = t.manifest(t.latest_version())
    assert sum("v=a%3Ab" in (e["parts"] or []) for e in m["entries"]) == 1
    assert rows(t) == [(1, "a:b"), (2, "a:b"), (3, "c"), (5, "a:b")]

    src = table("src")
    view = SnapshotTable(spark, str(tmp_path / "view"))
    refresh = lambda: MV.refresh_recompute_view(  # noqa: E731
        src, view, group_by=("v",), aggs={"mx": "max(k)"})
    refresh()
    src.append(_df(spark, [(7, "a:b")]))
    refresh()
    assert sorted((r["v"], r["n"], r["mx"]) for r in view.read().collect()) == [
        ("a:b", 3, 7), ("c", 1, 3)]
