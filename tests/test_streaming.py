"""Structured Streaming variant: windowed counts equal the batch
pipeline's day counts; the foreachBatch upsert sink lands latest-state
rows."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pixelspark.ops.billing import pageviews_agg
from pixelspark.schemas import load_table
from pixelspark.streaming import daily as SD
from pixelspark.table import SnapshotTable


def _stage_events(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_in")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(4).write.mode("overwrite").parquet(src)
    # drop _SUCCESS etc is fine; readStream globs *.parquet via schema reader
    return src, events


def test_windowed_counts_match_batch(spark, sf_dir, tmp_path):
    src, events = _stage_events(spark, sf_dir, tmp_path)
    stream = SD.read_event_stream(spark, src, max_files_per_trigger=2)
    pv = SD.windowed_pageviews(stream, window="1 day", watermark="1 day")
    q = SD.run_to_memory(pv, "pv_mem", output_mode="complete")
    got = {
        (str(r["billing_date"]), r["shop"]): r["event_count"]
        for r in spark.sql("SELECT * FROM pv_mem").collect()
    }
    want_day = {
        r["shop"]: r["event_count"] for r in pageviews_agg(events, "2024-01-02").collect()
    }
    for shop, n in want_day.items():
        assert got[("2024-01-02", shop)] == n


def test_streaming_upsert_sink(spark, sf_dir, tmp_path):
    src, events = _stage_events(spark, sf_dir, tmp_path)
    stream = SD.read_event_stream(spark, src)
    pv = SD.with_billing_amount(SD.windowed_pageviews(stream))
    table = str(tmp_path / "billing_table")
    ckpt = str(tmp_path / "ckpt")
    SD.run_upsert_sink(pv, table, ckpt)
    back = SnapshotTable(spark, table).read()
    assert back.count() > 0
    # keyed uniqueness: latest-state semantics hold in the sink table
    dup = back.groupBy("shop", "billing_date").count().where(F.col("count") > 1).count()
    assert dup == 0


def test_stateful_running_totals(spark, sf_dir, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches;
    the final emitted totals equal the batch aggregation."""
    from pixelspark.streaming import stateful as ST

    src = str(tmp_path / "events_state_in")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(4).write.mode("overwrite").parquet(src)
    stream = SD.read_event_stream(spark, src, max_files_per_trigger=1)
    totals = ST.running_shop_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("state_mem")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import pandas as pd

    emitted = spark.sql("SELECT * FROM state_mem").toPandas()
    # update mode emits one row per key per batch; the LAST emission per
    # shop is the final state
    final = emitted.groupby("shop").last()
    want = {
        r["user_id"]: (r["n"], round(r["v"], 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert len(final) == len(want)
    for shop, row in final.iterrows():
        n, v = want[shop]
        assert row["total_events"] == n
        assert abs(row["total_value"] - v) < 1e-6


def test_stream_static_join_enriches(spark, sf_dir, tmp_path):
    src, events = _stage_events(spark, sf_dir, tmp_path)
    shops = load_table(spark, sf_dir, "customer")
    stream = SD.read_event_stream(spark, src)
    out = SD.enrich_stream_with_shops(stream, shops)
    q = SD.run_to_memory(out, "enriched_stream", output_mode="append")
    got = spark.table("enriched_stream")
    # inner join against the dim: row count matches the batch join,
    # every row gained a shop_name
    expected = events.join(
        shops.select(F.col("c_custkey").alias("user_id")), "user_id", "inner"
    ).count()
    assert got.count() == expected
    assert got.where(F.col("shop_name").isNull()).count() == 0


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    src = str(tmp_path / "dup_events")
    events = load_table(spark, sf_dir, "events").limit(500)
    # simulate an at-least-once source: every event delivered twice
    events.unionAll(events).coalesce(2).write.mode("overwrite").parquet(src)
    stream = SD.read_event_stream(spark, src)
    q = SD.run_to_memory(SD.dedup_stream(stream), "dedup_stream", output_mode="append")
    got = spark.table("dedup_stream")
    assert got.count() == 500
    assert got.groupBy("event_id").count().where(F.col("count") > 1).count() == 0


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    src, events = _stage_events(spark, sf_dir, tmp_path)
    stream = SD.read_event_stream(spark, src)
    out = SD.attribute_purchases(stream, "1 hour")
    SD.run_to_memory(out, "attributed", output_mode="append")
    got = spark.table("attributed")
    # batch equivalent: same interval self-join on the static table
    v = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    assert got.count() == want.count()
    assert got.count() > 0
    # spot-check: every attributed view is within the window
    bad = got.where(
        (F.col("view_ts") > F.col("purchase_ts"))
        | (F.col("view_ts") < F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    assert bad.count() == 0


def test_sliding_window_counts(spark, sf_dir, tmp_path):
    src, events = _stage_events(spark, sf_dir, tmp_path)
    stream = SD.read_event_stream(spark, src)
    out = SD.sliding_pageviews(stream, "2 days", "1 day")
    SD.run_to_memory(out, "sliding_counts", output_mode="complete")
    got = spark.table("sliding_counts")
    # batch equivalent with the same built-in window function
    want = (
        events.where(F.col("event_type") == "view")
        .groupBy(F.window("ts", "2 days", "1 day").alias("win"), F.col("user_id").alias("shop"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("win.start").cast("date").alias("window_start"),
            F.col("win.end").cast("date").alias("window_end"),
            "shop",
            "event_count",
        )
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # sliding fanout: every event lands in exactly window/slide = 2
    # overlapping windows, so the global count doubles
    n_views = events.where(F.col("event_type") == "view").count()
    assert got.agg(F.sum("event_count")).collect()[0][0] == 2 * n_views


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a stopped stream from its checkpoint must (a) skip
    files already committed — run 2's source offsets start where run 1
    ended — and (b) land the sink on exactly the batch answer.  This is
    the recovery contract a 24/7 billing stream depends on: a crashed
    driver resumes without double-counting a single event."""
    events = load_table(spark, sf_dir, "events")
    split = "2024-01-05"
    early = events.where(F.col("ts") < F.lit(split).cast("timestamp"))
    late = events.where(F.col("ts") >= F.lit(split).cast("timestamp"))
    src = str(tmp_path / "events_ckpt_in")
    table = str(tmp_path / "billing_ckpt_table")
    ckpt = str(tmp_path / "ckpt_recover")
    early.coalesce(2).write.mode("overwrite").parquet(src)

    q1 = SD.run_upsert_sink(
        SD.with_billing_amount(SD.windowed_pageviews(SD.read_event_stream(spark, src))),
        table,
        ckpt,
    )
    run1_rows = sum(p["numInputRows"] for p in q1.recentProgress)
    assert run1_rows == early.count()

    # stream stopped; more data arrives; restart from the SAME checkpoint
    late.coalesce(2).write.mode("append").parquet(src)
    q2 = SD.run_upsert_sink(
        SD.with_billing_amount(SD.windowed_pageviews(SD.read_event_stream(spark, src))),
        table,
        ckpt,
    )
    run2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    assert run2_rows == late.count()  # early files NOT reprocessed

    got = SnapshotTable(spark, table).read().select("shop", "billing_date", "page_views")
    want = (
        events.where(F.col("event_type") == "view")
        .groupBy(
            F.col("user_id").alias("shop"),
            F.col("ts").cast("date").alias("billing_date"),
        )
        .agg(F.count(F.lit(1)).alias("page_views"))
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_streaming_session_window_matches_batch(spark, sf_dir, tmp_path):
    src, events = _stage_events(spark, sf_dir, tmp_path)
    stream = SD.read_event_stream(spark, src)
    out = SD.session_windowed_counts(stream, gap="30 minutes")
    SD.run_to_memory(out, "sess_mem", output_mode="complete")
    got = spark.table("sess_mem")
    want = (
        events.where(F.col("event_type") == "view")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"),
            F.col("user_id").alias("shop"),
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "shop",
            "event_count",
        )
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_transform_with_state_breakdown(spark, sf_dir, tmp_path):
    """transformWithStateInPandas (Spark 4 typed-state API): MapState
    per-(shop, type) counts accumulate across micro-batches; the final
    emission per (shop, type) equals the batch GROUP BY, and the
    shop_total ValueState equals the batch per-shop count.

    The TWS python workers speak protobuf to the JVM state server;
    skipped where google.protobuf is absent (the processor logic is
    covered environment-independently by
    test_transform_with_state_logic_faked below)."""
    import pytest

    pytest.importorskip("google.protobuf")
    from pixelspark.streaming import stateful as ST

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = str(tmp_path / "events_tws_in")
        events = load_table(spark, sf_dir, "events")
        events.coalesce(4).write.mode("overwrite").parquet(src)
        stream = SD.read_event_stream(spark, src, max_files_per_trigger=1)
        out = ST.shop_type_breakdown(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("tws_mem")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = spark.sql("SELECT * FROM tws_mem").toPandas()
        final = emitted.groupby(["shop", "event_type"]).last()
        want = {
            (r["user_id"], r["event_type"]): r["n"]
            for r in events.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert len(final) == len(want)
        for (shop, et), row in final.iterrows():
            assert row["type_count"] == want[(shop, et)]
        want_tot = {
            r["user_id"]: r["n"]
            for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        last_tot = emitted.groupby("shop").last()
        for shop, row in last_tot.iterrows():
            assert row["shop_total"] == want_tot[shop]
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_transform_with_state_logic_faked(spark, sf_dir):
    """The ShopTypeBreakdown processor logic against fake state
    primitives: replaying the per-shop input in two chunks must leave
    MapState/ValueState equal to the batch GROUP BY counts (covers the
    accumulation logic even where the TWS runtime's protobuf dep is
    unavailable)."""
    from pixelspark.streaming.stateful import ShopTypeBreakdown

    class FakeValueState:
        def __init__(self):
            self._v = None

        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return tuple(k) in self._m

        def getValue(self, k):
            return self._m[tuple(k)]

        def updateValue(self, k, v):
            self._m[tuple(k)] = tuple(v)

    class FakeHandle:
        def __init__(self):
            self.maps = {}
            self.values = {}

        def getMapState(self, name, *_a, **_k):
            return self.maps.setdefault(name, FakeMapState())

        def getValueState(self, name, *_a, **_k):
            return self.values.setdefault(name, FakeValueState())

    events = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    pdf = events.toPandas()
    shop = int(pdf["user_id"].iloc[0])
    mine = pdf[pdf["user_id"] == shop].reset_index(drop=True)
    proc = ShopTypeBreakdown()
    proc.init(FakeHandle())
    half = len(mine) // 2
    emitted = []
    for chunk in (mine.iloc[:half], mine.iloc[half:]):
        emitted.extend(proc.handleInputRows((shop,), iter([chunk]), None))
    want = mine.groupby("event_type").size().to_dict()
    final = emitted[-1]
    assert int(final["shop_total"].iloc[0]) == len(mine)
    got = {
        et: proc._by_type.getValue((et,))[0] for et in want
    }
    assert got == {k: int(v) for k, v in want.items()}


def test_append_mode_emits_only_finalized_windows(spark, sf_dir, tmp_path):
    """Append output mode: a watermarked windowed aggregate emits a
    window exactly once, and only after the watermark passes its end —
    so every emitted row is FINAL (safe to hand to an append-only
    sink), and windows the watermark never passed are withheld.
    Emitted rows must be a prefix-by-time subset of the batch result,
    exact for every emitted window."""
    src = str(tmp_path / "events_append_in")
    events = load_table(spark, sf_dir, "events")
    # write day-ordered files so the watermark advances monotonically
    # across micro-batches and finalizes early windows
    events.orderBy("ts").coalesce(6).write.mode("overwrite").parquet(src)
    stream = SD.read_event_stream(spark, src, max_files_per_trigger=1)
    pv = SD.windowed_pageviews(stream, window="1 day", watermark="1 day")
    q = (
        pv.writeStream.format("memory")
        .queryName("append_mem")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM append_mem").collect()
    assert emitted, "append mode emitted nothing — watermark never advanced"
    batch = {
        (str(r["billing_date"]), r["shop"]): r["event_count"]
        for r in events.where(F.col("event_type") == "view")
        .groupBy(
            F.window("ts", "1 day").alias("win"), F.col("user_id").alias("shop")
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("win.start").cast("date").alias("billing_date"),
            "shop",
            "event_count",
        )
        .collect()
    }
    seen = set()
    for r in emitted:
        key = (str(r["billing_date"]), r["shop"])
        assert key not in seen, f"window {key} emitted twice in append mode"
        seen.add(key)
        assert batch[key] == r["event_count"], key
    # withheld windows are exactly the ones past the final watermark:
    # emitted days must form a prefix of the day range
    emitted_days = {str(r["billing_date"]) for r in emitted}
    all_days = {str(k[0]) for k in batch}
    withheld = all_days - emitted_days
    assert withheld, "everything emitted — watermark semantics untested"
    assert max(emitted_days) < min(withheld), (
        "append emitted a window newer than a withheld one"
    )


def test_foreachbatch_fanout_two_sinks(spark, sf_dir, tmp_path):
    """Multi-sink fan-out from ONE checkpointed query: the upsert table
    carries latest-state window counts equal to the batch aggregate,
    and the audit sink's per-day totals (summed over update-mode
    re-emissions via last-batch-wins) stay consistent with the table."""
    src = str(tmp_path / "events_fanout_in")
    events = load_table(spark, sf_dir, "events")
    events.coalesce(4).write.mode("overwrite").parquet(src)
    stream = SD.read_event_stream(spark, src, max_files_per_trigger=2)
    pv = SD.windowed_pageviews(stream)
    table = str(tmp_path / "fanout_table")
    audit = str(tmp_path / "fanout_audit")
    SD.run_fanout_sink(pv, table, audit, str(tmp_path / "ckpt_fanout"))
    back = SnapshotTable(spark, table).read()
    want = {
        (str(r["billing_date"]), r["shop"]): r["event_count"]
        for r in events.where(F.col("event_type") == "view")
        .groupBy(
            F.window("ts", "1 day").alias("win"), F.col("user_id").alias("shop")
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("win.start").cast("date").alias("billing_date"),
            "shop",
            "event_count",
        )
        .collect()
    }
    got = {
        (str(r["billing_date"]), r["shop"]): r["event_count"]
        for r in back.collect()
    }
    assert got == want
    # audit sink: the LAST batch's row per day must equal the table's
    # final per-day totals (update mode re-emits growing counts)
    import pandas as pd

    audit_pdf = SnapshotTable(spark, audit).read().toPandas()
    last = (
        audit_pdf.sort_values("batch_id")
        .groupby("billing_date")
        .last()
        .reset_index()
    )
    table_days = (
        back.groupBy("billing_date")
        .agg(F.sum("event_count").alias("day_events"), F.count(F.lit(1)).alias("n_shops"))
        .toPandas()
    )
    m = last.merge(table_days, on="billing_date", suffixes=("_audit", "_table"))
    assert len(m) == len(table_days)
    assert (m["day_events_audit"] == m["day_events_table"]).all()
    assert (m["n_shops_audit"] == m["n_shops_table"]).all()


def test_fanout_audit_holds_a_replayed_batch_once(spark, sf_dir, tmp_path):
    """A batch replayed after a failure (its offsets logged, its commit
    not) must land in the audit sink once: drop the checkpoint's last
    commit marker and rerun, so Spark re-executes that batch id."""
    # one source file per batch and no empty watermark-only batches, so
    # the replayed last batch carries audit rows
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        src = str(tmp_path / "events_replay_in")
        load_table(spark, sf_dir, "events").repartition(3).write.parquet(src)
        pv = SD.windowed_pageviews(SD.read_event_stream(spark, src, max_files_per_trigger=1))
        table, audit = str(tmp_path / "replay_table"), str(tmp_path / "replay_audit")
        ckpt = tmp_path / "ckpt_replay"
        SD.run_fanout_sink(pv, table, audit, str(ckpt))
        first = sorted(map(tuple, SnapshotTable(spark, audit).read().collect()))
        assert {r[-1] for r in first} == {0, 1, 2}
        (ckpt / "commits" / "2").unlink()
        (ckpt / "commits" / ".2.crc").unlink(missing_ok=True)

        q = SD.run_fanout_sink(pv, table, audit, str(ckpt))
        assert [p["batchId"] for p in q.recentProgress] == [2]  # batch 2 replayed
        assert sorted(map(tuple, SnapshotTable(spark, audit).read().collect())) == first
    finally:
        spark.conf.set(key, saved)


def test_stream_stream_left_outer_join_finalizes_nulls(spark, sf_dir, tmp_path):
    """leftOuter interval join: matched purchases behave exactly like
    the inner join; unmatched purchases emit with NULL view columns —
    but only after the watermark proves no view can still arrive, so
    the recent unmatched tail stays withheld (exactly-once nulls, the
    finalization contract)."""
    src, events = _stage_events(spark, sf_dir, tmp_path)
    stream = SD.read_event_stream(spark, src)
    out = SD.attribute_purchases(stream, "1 hour", how="leftOuter")
    SD.run_to_memory(out, "attributed_outer", output_mode="append")
    got = spark.table("attributed_outer")

    v = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    # (a) the matched part is identical to the batch inner join
    want_inner = p.join(v, cond).count()
    assert got.where(F.col("view_id").isNotNull()).count() == want_inner

    # (b) every emitted null row is genuinely unmatched in batch
    batch_unmatched = {
        r["purchase_id"]
        for r in p.join(v, cond, "left_anti").collect()
    }
    null_rows = {r["purchase_id"] for r in got.where(F.col("view_id").isNull()).collect()}
    assert null_rows <= batch_unmatched

    # (c) finalization: every unmatched purchase old enough that its
    # join window is fully behind the final watermark MUST have been
    # emitted (nulls are not lost, only the tail is withheld)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    old_unmatched = {
        r["purchase_id"]
        for r in p.join(v, cond, "left_anti")
        .where(F.col("purchase_ts") <= F.lit(max_ts) - F.expr("INTERVAL 3 HOURS"))
        .collect()
    }
    assert old_unmatched  # the fixture has an old unmatched tail
    assert old_unmatched <= null_rows


def test_snapshot_append_sink_survives_checkpoint_loss(spark, sf_dir, tmp_path):
    """Exactly-once through the SINK's own ledger, not the source
    checkpoint: after the checkpoint directory is destroyed, a restart
    replays every file from offset zero — a plain foreachBatch append
    would double-count the whole table.  append_once's (app_id,
    batch_id) txn guard in the snapshot manifest must turn the entire
    replay into no-ops."""
    import shutil

    from pixelspark.table import SnapshotTable

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "snap_sink_in")
    root = str(tmp_path / "snap_sink_table")
    ckpt = str(tmp_path / "snap_sink_ckpt")
    events.limit(500).coalesce(2).write.mode("overwrite").parquet(src)

    stream = SD.read_event_stream(spark, src).select("event_id", "user_id", "value")
    SD.run_snapshot_append_sink(stream, root, ckpt, app_id="ckpt-loss-test")
    t = SnapshotTable(spark, root)
    n1 = t.read().count()
    v1 = t.latest_version()
    assert n1 == 500

    # catastrophic checkpoint loss -> full source replay from batch 0
    shutil.rmtree(ckpt)
    stream2 = SD.read_event_stream(spark, src).select("event_id", "user_id", "value")
    SD.run_snapshot_append_sink(stream2, root, str(tmp_path / "ckpt2"), app_id="ckpt-loss-test")
    assert t.read().count() == n1  # not a single duplicated row
    assert t.latest_version() == v1  # and not a single new commit


def test_snapshot_rollup_sink_streaming_equals_batch(spark, sf_dir, tmp_path):
    """The streaming continuous aggregate must land on the batch
    answer — two source batches folded incrementally, then a full
    checkpoint-loss replay that must change NOTHING (the merge of
    partials is the op that double-counts without the txn guard)."""
    import shutil

    from pixelspark.ops import rollup as R
    from pixelspark.table import read_rollup_snapshot

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "roll_in")
    root = str(tmp_path / "roll_table")
    ckpt = str(tmp_path / "roll_ckpt")
    split = "2024-01-10"
    events.where(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(2).write.mode(
        "overwrite"
    ).parquet(src)

    SD.run_snapshot_rollup_sink(SD.read_event_stream(spark, src), root, ckpt)
    # more data arrives; the checkpoint carries the offsets forward
    events.where(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(2).write.mode(
        "append"
    ).parquet(src)
    SD.run_snapshot_rollup_sink(SD.read_event_stream(spark, src), root, ckpt)

    got = read_rollup_snapshot(spark, root).drop("avg_value")
    want = R.day_rollup(events)
    assert got.count() == want.count()
    joined = got.alias("g").join(want.alias("w"), ["shop", "day"], "full_outer")
    bad = joined.where(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.col("g.sum_value") != F.col("w.sum_value"))
    )
    assert bad.count() == 0

    # catastrophic checkpoint loss: the WHOLE source replays from
    # batch 0 — every fold must be a no-op or the counters double
    before = got.count()
    shutil.rmtree(ckpt)
    SD.run_snapshot_rollup_sink(
        SD.read_event_stream(spark, src), root, str(tmp_path / "ckpt2")
    )
    after = read_rollup_snapshot(spark, root)
    assert after.count() == before
    bad2 = (
        after.drop("avg_value").alias("g")
        .join(want.alias("w"), ["shop", "day"], "full_outer")
        .where(
            (F.col("g.n_events") != F.col("w.n_events"))
            | (F.col("g.sum_value") != F.col("w.sum_value"))
        )
    )
    assert bad2.count() == 0  # not a single double-counted partial


def test_streaming_expectations_drop_and_quarantine(spark, sf_dir, tmp_path):
    """Write-side expectations compose with the exactly-once streaming
    sink: every micro-batch is audited, drop-rule violators vanish,
    quarantine-rule violators land in the sibling table, and the main
    table holds only clean rows — the DLT expect-or-drop /
    expect-or-quarantine pipeline with no extra streaming machinery."""
    from pixelspark.table import SnapshotTable

    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "exp_in")
    root = str(tmp_path / "exp_table")
    events.limit(600).coalesce(2).write.mode("overwrite").parquet(src)

    stream = SD.read_event_stream(spark, src).select(
        "event_id", "user_id", "event_type", "value"
    )
    SD.run_snapshot_append_sink(
        stream, root, str(tmp_path / "exp_ckpt"), app_id="exp-test",
        table_kwargs={"expectations": [
            ("value_min", "value >= 10", "drop"),
            ("typed", "event_type IN ('view', 'click', 'purchase')",
             "quarantine"),
        ]},
    )
    src_df = spark.read.parquet(src)
    n_untyped = src_df.where(
        ~F.col("event_type").isin("view", "click", "purchase")
    ).count()
    n_clean = src_df.where(
        (F.col("value") >= 10)
        & F.col("event_type").isin("view", "click", "purchase")
    ).count()
    n_dropped_only = src_df.where(
        (F.col("value") < 10)
        & F.col("event_type").isin("view", "click", "purchase")
    ).count()
    # the fixture must exercise every policy, not skip silently
    assert n_untyped and n_clean and n_dropped_only
    t = SnapshotTable(spark, root)
    assert t.read().count() == n_clean
    q = SnapshotTable(spark, root + "_quarantine").read()
    assert q.count() == n_untyped
    assert "typed" in set(
        q.select(F.explode("failed_expectations")).toPandas().iloc[:, 0]
    )


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_streaming_curation_sink_end_to_end(spark, tmp_path):
    """The full curation ingest: quality gate -> batch-interior exact
    dedup -> near-dup gate vs the persistent DedupIndex -> exactly-once
    curated append.  Two source batches with a cross-batch near-dup
    and a junk doc; then catastrophic checkpoint loss replays both
    batches and must change nothing."""
    import shutil

    from pixelspark.table import SnapshotTable

    good1 = "the quick brown fox jumps over the lazy dog and runs far away today"
    good2 = "completely different quality text with the usual stopwords in it for sure"
    near1 = good1 + " extra"            # near-dup of good1, later batch
    near0 = good1 + " now"              # near-dup of good1, SAME batch
    junk = "zzzz qqqq xxxx"             # no stopwords -> fails the gate
    src = str(tmp_path / "cur_in")
    # batch order is by file; one parquet file per micro-batch
    spark.createDataFrame(
        [(1, good1), (2, good1), (3, junk), (4, near0)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    table_root = str(tmp_path / "curated")
    index_root = str(tmp_path / "cur_index")
    ckpt = str(tmp_path / "cur_ckpt")
    SD.run_curation_sink(stream, table_root, index_root, ckpt)

    t = SnapshotTable(spark, table_root)
    got = {r["doc_id"] for r in t.read().collect()}
    # doc 2 is an exact in-batch dup of 1, doc 4 a NEAR-dup of 1 in
    # the same batch (lowest id wins both); junk fails the gate
    assert got == {1}

    # second batch: a near-dup of the curated corpus + one fresh doc
    spark.createDataFrame(
        [(10, near1), (11, good2)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    SD.run_curation_sink(stream2, table_root, index_root, ckpt)
    got = {r["doc_id"] for r in t.read().collect()}
    assert got == {1, 11}, got  # 10 caught by the cross-corpus index

    # checkpoint loss: both batches replay from offset zero; the index
    # txn guard and the table txn guard must both no-op everything
    n_versions = t.latest_version()
    shutil.rmtree(ckpt)
    stream3 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    SD.run_curation_sink(stream3, table_root, index_root, str(tmp_path / "ck2"))
    assert {r["doc_id"] for r in t.read().collect()} == {1, 11}
    assert t.latest_version() == n_versions


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_matview_sink_exactly_once_end_to_end(spark, tmp_path):
    """Streaming ingest + continuously-maintained incremental view:
    two triggers land distinct batches (view == batch aggregate after
    each), and a checkpoint-loss replay of the whole input commits
    nothing anywhere — neither the source table nor the view moves."""
    from pixelspark.streaming.daily import run_matview_sink
    from pixelspark.table import SnapshotTable

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    schema = "k long, status string, views long"
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], schema
    ).coalesce(1).write.json(src_dir + "/b1")

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(src_dir + "/*")
    )
    roots = dict(src_root=str(tmp_path / "src"), view_root=str(tmp_path / "view"))
    ckpt = str(tmp_path / "ck")
    run_matview_sink(stream(), **roots, group_by=("status",),
                     sum_cols=("views",), checkpoint=ckpt)
    view = SnapshotTable(spark, roots["view_root"])
    assert {r["status"]: (r["n"], r["views"]) for r in view.read().collect()} \
        == {"a": (1, 10), "b": (1, 20)}

    spark.createDataFrame([(3, "a", 5)], schema).coalesce(1).write.json(
        src_dir + "/b2"
    )
    run_matview_sink(stream(), **roots, group_by=("status",),
                     sum_cols=("views",), checkpoint=ckpt)
    src = SnapshotTable(spark, roots["src_root"])
    assert src.read().count() == 3
    got = {r["status"]: (r["n"], r["views"]) for r in view.read().collect()}
    assert got == {"a": (2, 15), "b": (1, 20)}

    # checkpoint loss: every batch replays; both watermarks reject
    src_v, view_v = src.latest_version(), view.latest_version()
    run_matview_sink(stream(), **roots, group_by=("status",),
                     sum_cols=("views",), checkpoint=str(tmp_path / "ck2"))
    assert src.latest_version() == src_v
    assert view.latest_version() == view_v
    assert {r["status"]: (r["n"], r["views"]) for r in view.read().collect()} \
        == got


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_join_matview_sink_folds_stream_and_dim_changes(spark, tmp_path):
    """Streaming facts + out-of-band dim DML, one continuously-correct
    join view: trigger 1 folds the first fact batch against the dim;
    a dim segment-move lands BETWEEN triggers and trigger 2 folds both
    the new facts AND the dim's change window; a checkpoint-loss
    replay commits nothing anywhere."""
    from pixelspark.streaming.daily import run_join_matview_sink
    from pixelspark.table import SnapshotTable

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    schema = "o long, cust long, qty long"
    spark.createDataFrame([(1, 10, 2), (2, 20, 3)], schema) \
        .coalesce(1).write.json(src_dir + "/b1")

    dim = SnapshotTable(spark, str(tmp_path / "dim"))
    dim.overwrite(spark.createDataFrame(
        [(10, "retail"), (20, "b2b")], "cust long, segment string"))

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(src_dir + "/*")
    )
    kw = dict(
        fact_root=str(tmp_path / "fact"), dim_root=str(tmp_path / "dim"),
        view_root=str(tmp_path / "view"), on=("cust",),
        group_by=("segment",), sum_cols=("qty",),
        left_keys=("o",), right_keys=("cust",),
    )
    ckpt = str(tmp_path / "ck")
    run_join_matview_sink(stream(), **kw, checkpoint=ckpt)
    view = SnapshotTable(spark, kw["view_root"])
    assert {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()} \
        == {"retail": (1, 2), "b2b": (1, 3)}

    # out-of-band dim change + a second fact batch: trigger 2 folds both
    dim.merge(spark.createDataFrame([(10, "b2b")], "cust long, segment string"),
              keys=("cust",))
    spark.createDataFrame([(3, 10, 7)], schema).coalesce(1).write.json(
        src_dir + "/b2")
    run_join_matview_sink(stream(), **kw, checkpoint=ckpt)
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {"b2b": (3, 12)}  # retail emptied: no ghost row

    fact = SnapshotTable(spark, kw["fact_root"])
    fact_v, view_v = fact.latest_version(), view.latest_version()
    run_join_matview_sink(stream(), **kw, checkpoint=str(tmp_path / "ck2"))
    assert fact.latest_version() == fact_v
    assert view.latest_version() == view_v


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_join_matview_sink_left_outer_flips_between_triggers(spark, tmp_path):
    """LEFT view through the streaming sink: trigger 1 folds facts
    with a dangling customer (null-extended); a dim row for that
    customer lands between triggers, and trigger 2's dim phase flips
    the null extension while folding the new facts."""
    from pixelspark.streaming.daily import run_join_matview_sink
    from pixelspark.table import SnapshotTable

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    schema = "o long, cust long, qty long"
    spark.createDataFrame([(1, 10, 2), (2, 99, 5)], schema) \
        .coalesce(1).write.json(src_dir + "/b1")
    dim = SnapshotTable(spark, str(tmp_path / "dim"))
    dim.overwrite(spark.createDataFrame(
        [(10, "retail")], "cust long, segment string"))

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(src_dir + "/*")
    )
    kw = dict(
        fact_root=str(tmp_path / "fact"), dim_root=str(tmp_path / "dim"),
        view_root=str(tmp_path / "view"), on=("cust",),
        group_by=("segment",), sum_cols=("qty",),
        left_keys=("o",), right_keys=("cust",), how="left",
    )
    ckpt = str(tmp_path / "ck")
    run_join_matview_sink(stream(), **kw, checkpoint=ckpt)
    view = SnapshotTable(spark, kw["view_root"])
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {"retail": (1, 2), None: (1, 5)}

    dim.append(spark.createDataFrame([(99, "late")],
                                     "cust long, segment string"))
    spark.createDataFrame([(3, 99, 1)], schema).coalesce(1).write.json(
        src_dir + "/b2")
    run_join_matview_sink(stream(), **kw, checkpoint=ckpt)
    got = {r["segment"]: (r["n"], r["qty"]) for r in view.read().collect()}
    assert got == {"retail": (1, 2), "late": (2, 6)}  # extension flipped


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_topn_matview_sink_reboards_and_replays_exactly_once(spark, tmp_path):
    """Streaming top-N sink: trigger 1 builds the boards; an
    out-of-band DV delete evicts a board member between triggers;
    trigger 2 ingests a displacing row AND folds the ad-hoc delete on
    the same watermark.  A checkpoint-loss replay of the whole input
    moves neither the source nor the view."""
    from pixelspark.streaming.daily import run_topn_matview_sink
    from pixelspark.table import SnapshotTable

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    schema = "k long, g string, v long"
    spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 5), (4, "b", 7)], schema
    ).coalesce(1).write.json(src_dir + "/b1")

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(src_dir + "/*")
    )
    kw = dict(
        src_root=str(tmp_path / "src"), view_root=str(tmp_path / "view"),
        group_by=("g",), order_by=("v", "k"), descending=(True, False),
        n=2, src_keys=("k",),
    )
    ckpt = str(tmp_path / "ck")
    run_topn_matview_sink(stream(), **kw, checkpoint=ckpt)
    view = SnapshotTable(spark, kw["view_root"])
    boards = {(r["g"], r["rank"]): r["k"] for r in view.read().collect()}
    assert boards == {("a", 1): 2, ("a", 2): 1, ("b", 1): 4}

    # out-of-band DML: evict a's #1 between triggers
    src = SnapshotTable(spark, kw["src_root"])
    src.delete("k = 2", mode="dv")
    spark.createDataFrame([(5, "a", 15)], schema).coalesce(1).write.json(
        src_dir + "/b2")
    run_topn_matview_sink(stream(), **kw, checkpoint=ckpt)
    boards = {(r["g"], r["rank"]): r["k"] for r in view.read().collect()}
    assert boards == {("a", 1): 5, ("a", 2): 1, ("b", 1): 4}

    # checkpoint loss: full replay appends nothing, view unmoved
    src_v, view_v = src.latest_version(), view.latest_version()
    run_topn_matview_sink(stream(), **kw, checkpoint=str(tmp_path / "ck2"))
    assert src.latest_version() == src_v
    assert view.latest_version() == view_v


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_published_matview_sink_atomic_visibility(spark, tmp_path):
    """Streaming ingest + view behind the catalog publication point:
    after each trigger the PUBLISHED facts and view are mutually
    consistent (recomputing the aggregate from the published facts
    equals the published view); a direct unpublished append stays
    invisible to catalog readers; checkpoint-loss replay moves
    neither table and publication stays current."""
    from pixelspark.catalog import Catalog
    from pixelspark.streaming.daily import run_published_matview_sink

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    schema = "k long, status string, views long"
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], schema
    ).coalesce(1).write.json(src_dir + "/b1")
    spark.createDataFrame([(3, "a", 5)], schema).coalesce(1).write.json(
        src_dir + "/b2"
    )

    stream = lambda: (  # noqa: E731
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(src_dir + "/*")
    )
    cat_root = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ck")
    run_published_matview_sink(
        stream(), cat_root, "facts", "daily_totals",
        group_by=("status",), sum_cols=("views",), checkpoint=ckpt)

    cat = Catalog(spark, cat_root)
    pub_view = {r["status"]: (r["n"], r["views"])
                for r in cat.read("daily_totals").collect()}
    assert pub_view == {"a": (2, 15), "b": (1, 20)}
    # consistency: published facts re-aggregate to the published view
    recomputed = {
        r["status"]: (r["n"], r["views"])
        for r in cat.read("facts").groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("views").alias("views"))
        .collect()
    }
    assert recomputed == pub_view

    # a direct commit WITHOUT publication is invisible to catalog readers
    direct = cat.table("facts")
    direct.append(spark.createDataFrame([(9, "z", 99)], schema))
    assert cat.read("facts").count() == 3
    assert direct.read().count() == 4

    # checkpoint loss: full replay appends nothing (txn guard), but
    # the version-windowed fold legitimately picks up the out-of-band
    # direct append — the view follows its source — and publication
    # advances both pins together, so consistency holds throughout
    src_v = direct.latest_version()
    run_published_matview_sink(
        stream(), cat_root, "facts", "daily_totals",
        group_by=("status",), sum_cols=("views",),
        checkpoint=str(tmp_path / "ck2"))
    assert cat.table("facts").latest_version() == src_v  # no re-appends
    assert cat.read("facts").count() == 4  # re-published incl. direct row
    assert {r["status"]: (r["n"], r["views"])
            for r in cat.read("daily_totals").collect()} \
        == {**pub_view, "z": (1, 99)}
