"""Continuous-aggregate rollup: incremental refresh == full recompute,
and refreshes only touch the delta's partitions."""

from pyspark.sql import functions as F

from pixelspark.ops import rollup as R
from pixelspark.schemas import load_table
from pixelspark.table import SnapshotTable, read_rollup_snapshot, refresh_rollup_snapshot


def _full_recompute(events):
    return R.day_rollup(events)


def test_incremental_equals_full(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    root = str(tmp_path / "rollup")
    # three arbitrary batches, the late-data replay FIRST: it overlaps
    # the range folded after it (same day seen in two batches), so the
    # fold order differs from the data's day order
    b1 = events.where(F.to_date("ts") < "2024-01-10")
    b2 = events.where(F.to_date("ts") >= "2024-01-10")
    late = events.where(F.to_date("ts") == "2024-01-03")
    refresh_rollup_snapshot(spark, root, late)
    refresh_rollup_snapshot(spark, root, b2)
    refresh_rollup_snapshot(spark, root, b1)

    got = read_rollup_snapshot(spark, root)
    # the late replay double-counts day 3 by construction; expected =
    # full recompute over b1+b2+late
    want = _full_recompute(events.unionAll(late))
    assert got.count() == want.count()
    joined = got.alias("g").join(want.alias("w"), ["shop", "day"], "full_outer")
    bad = joined.where(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.col("g.sum_value") != F.col("w.sum_value"))
        | (F.col("g.min_value") != F.col("w.min_value"))
        | (F.col("g.max_value") != F.col("w.max_value"))
    )
    assert bad.count() == 0


def test_refresh_touches_only_delta_partitions(spark, sf_dir, tmp_path):
    """A one-day refresh replaces that day's partition and nothing
    else: every other day stays in the entry (data dir) that held it."""
    events = load_table(spark, sf_dir, "events")
    root = str(tmp_path / "rollup")
    refresh_rollup_snapshot(spark, root, events)
    t = SnapshotTable(spark, root)

    def base_of_day() -> dict:
        m = t.manifest(t.latest_version())
        return {p: e["base"] for e in m["entries"] for p in e["parts"]}

    before = base_of_day()
    assert len(before) > 2
    swapped = refresh_rollup_snapshot(
        spark, root, events.where(F.to_date("ts") == "2024-01-05")
    )
    assert swapped == ["day=2024-01-05"]
    after = base_of_day()
    assert set(after) == set(before)
    changed = {d for d in before if before[d] != after[d]}
    assert changed == {"day=2024-01-05"}


def test_merge_is_associative_and_exact(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").limit(5000)
    a = R.day_rollup(events.where(F.col("event_id") % 2 == 0))
    b = R.day_rollup(events.where(F.col("event_id") % 2 == 1))
    ab = R.merge_rollups(a, b)
    ba = R.merge_rollups(b, a)
    # decimal counters: merge order cannot change any value bitwise
    assert ab.exceptAll(ba).count() == 0
    assert ba.exceptAll(ab).count() == 0
