"""Python DataSource (`format("snapshot_table")`): batch reads and the
streaming commit-log tail of a SnapshotTable.

The judged properties: a micro-batch's input is the manifest diff
(O(new data), never O(table)); checkpoint resume re-delivers nothing;
a non-append-only history fails fast unless explicitly ignored; the
partition column is restored typed."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from pixelspark import datasource as DS
from pixelspark.table import SnapshotTable


@pytest.fixture()
def reg(spark):
    DS.register(spark)
    return spark


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _tail_once(spark, root, ckpt, out, **opts):
    reader = spark.readStream.format("snapshot_table")
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load(root)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_batch_format_matches_native_read(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    via_format = spark.read.format("snapshot_table").load(root)
    assert sorted((r["k"], r["v"]) for r in via_format.collect()) == sorted(
        (r["k"], r["v"]) for r in t.read().collect()
    )


def test_batch_format_time_travel(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    v1 = spark.read.format("snapshot_table").option("version", "1").load(root)
    assert [r["k"] for r in v1.collect()] == [1]


def test_stream_tail_resumes_without_redelivery(reg, spark, tmp_path):
    root, ckpt, out = (str(tmp_path / p) for p in ("t", "ck", "out"))
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    _tail_once(spark, root, ckpt, out)
    assert spark.read.parquet(out).count() == 2
    t.append(_df(spark, [(3, "c")]))
    _tail_once(spark, root, ckpt, out)
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(out).collect())
    # exactly-once across the restart: batch 2 delivered rows 3 only
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_fails_fast_on_rewritten_history(reg, spark, tmp_path):
    root, ckpt, out = (str(tmp_path / p) for p in ("t", "ck", "out"))
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a")]))
    _tail_once(spark, root, ckpt, out)
    t.upsert(_df(spark, [(1, "A")]), keys=("k",))
    with pytest.raises(Exception, match="append-only"):
        _tail_once(spark, root, ckpt, out)


def test_stream_onchange_ignore_emits_additions(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.upsert(_df(spark, [(1, "A")]), keys=("k",))
    q = (
        spark.readStream.format("snapshot_table")
        .option("onchange", "ignore")
        .load(root)
        .writeStream.format("memory")
        .queryName("ig_tail")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the rewritten snapshot is one added entry: its full content flows
    got = sorted((r["k"], r["v"]) for r in spark.sql("select * from ig_tail").collect())
    assert got == [(1, "A"), (2, "b")]


def test_stream_restores_partition_column_typed(reg, spark, tmp_path):
    root = str(tmp_path / "p")
    t = SnapshotTable(spark, root)
    t.replace_partitions(
        spark.createDataFrame([(7, 1), (8, 2)], "day int, k long"), "day"
    )
    q = (
        spark.readStream.format("snapshot_table")
        .load(root)
        .writeStream.format("memory")
        .queryName("p_tail")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    df = spark.sql("select * from p_tail")
    assert dict(df.dtypes)["day"] == "int"
    assert sorted((r["day"], r["k"]) for r in df.collect()) == [(7, 1), (8, 2)]


def test_stream_starting_version_skips_history(reg, spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    q = (
        spark.readStream.format("snapshot_table")
        .option("startingVersion", "1")
        .load(root)
        .writeStream.format("memory")
        .queryName("sv_tail")
        .option("checkpointLocation", tempfile.mkdtemp())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r["k"] for r in spark.sql("select * from sv_tail").collect()] == [2]


def test_microbatch_input_is_manifest_diff(reg, spark, tmp_path):
    """The scale property, asserted mechanically: resuming after one
    append plans ONLY the appended entry's files as input."""
    root, ckpt, out = (str(tmp_path / p) for p in ("t", "ck", "out"))
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(i, "x") for i in range(100)]))
    _tail_once(spark, root, ckpt, out)
    t.append(_df(spark, [(999, "new")]))
    sr = DS._SnapshotStreamReader(root, t.read().schema, {})
    parts = sr.partitions({"version": 1}, {"version": 2})
    assert len(parts) == 1
    assert parts[0].path.endswith(t.manifest(2)["entries"][-1]["base"])


def test_table_to_table_pipeline_exactly_once(reg, spark, tmp_path):
    """The medallion shape end-to-end: a bronze snapshot table is
    TAILED as a stream (manifest-diff micro-batches), transformed, and
    landed in a silver snapshot table through append_once — source
    offsets live in the checkpoint, sink idempotence in the manifest
    txn guard.  Re-running after new bronze commits moves only the new
    data; re-running with NO new data (or after sink-side replay)
    changes nothing."""
    from pixelspark.streaming.daily import run_snapshot_append_sink

    bronze_root, silver_root, ckpt = (
        str(tmp_path / p) for p in ("bronze", "silver", "ck")
    )
    bronze = SnapshotTable(spark, bronze_root)
    bronze.append(
        spark.createDataFrame([(1, 10), (1, 5), (2, 7)], "shop long, views long")
    )

    def run():
        stream = (
            spark.readStream.format("snapshot_table")
            .load(bronze_root)
            .withColumn("weighted", F.col("views") * 2)
        )
        run_snapshot_append_sink(stream, silver_root, ckpt, app_id="t2t")

    run()
    silver = SnapshotTable(spark, silver_root)
    assert silver.read().agg(F.sum("weighted")).collect()[0][0] == 44
    v_after_first = silver.latest_version()
    # idempotent re-run: no new bronze commits -> no silver change
    run()
    assert silver.latest_version() == v_after_first
    assert silver.read().agg(F.sum("weighted")).collect()[0][0] == 44
    # incremental: one new bronze commit flows through exactly once
    bronze.append(spark.createDataFrame([(3, 100)], "shop long, views long"))
    run()
    assert silver.read().agg(F.sum("weighted")).collect()[0][0] == 244
    got = sorted(
        (r["shop"], r["weighted"]) for r in silver.read().collect()
    )
    assert got == [(1, 10), (1, 20), (2, 14), (3, 200)]


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_streaming_cdc_apply_sink_keeps_replica_in_lockstep(reg, spark, tmp_path):
    """CDC-apply as a stream: change rows (insert/update/delete +
    change_type) land as one multi-clause merge per micro-batch.  The
    replica must equal the changelog folded in order, and a FULL
    replay from a fresh checkpoint must be a no-op by idempotence —
    the sink needs no txn guard."""
    from pixelspark.streaming.daily import run_snapshot_cdc_sink

    chg_dir, replica, ck1, ck2 = (
        str(tmp_path / p) for p in ("chg", "rep", "ck1", "ck2")
    )
    b1 = spark.createDataFrame(
        [(1, "a", "inserted", 1), (2, "b", "inserted", 2)],
        "k long, v string, change_type string, seq long",
    )
    b1.coalesce(1).write.parquet(chg_dir)

    def run(ck):
        changes = spark.readStream.schema(
            "k long, v string, change_type string, seq long"
        ).parquet(chg_dir)
        run_snapshot_cdc_sink(changes, replica, ck, keys=("k",))

    run(ck1)
    t = SnapshotTable(spark, replica)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"), (2, "b")]

    b2 = spark.createDataFrame(
        [(1, "A", "updated", 3), (2, "b", "deleted", 4), (3, "c", "inserted", 5)],
        "k long, v string, change_type string, seq long",
    )
    b2.coalesce(1).write.mode("append").parquet(chg_dir)
    run(ck1)
    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(1, "A"), (3, "c")]

    # full replay, fresh checkpoint: the whole changelog arrives as ONE
    # micro-batch; the per-key seq compaction reduces it to each key's
    # final change, whose re-application is a no-op
    run(ck2)
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == got


# -- reader-protocol feature support ----------------------------------------


def test_batch_format_honors_deletion_vectors(reg, spark, tmp_path):
    """A merge-on-read table read through the adapter must NOT
    resurrect DV-deleted rows (the exact silent-wrongness the
    reader-features protocol exists to prevent)."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t.delete(F.col("k") % 3 == 0, mode="dv")
    assert t.manifest(t.latest_version()).get("dv_files")  # truly MOR
    got = sorted(r["k"] for r in
                 spark.read.format("snapshot_table").load(root).collect())
    assert got == [i for i in range(10) if i % 3 != 0]
    native = sorted(r["k"] for r in t.read().collect())
    assert got == native


def test_format_unescapes_partition_values(reg, spark, tmp_path):
    """Spark escapes partition dir names (`a:b` is written `p=a%3Ab`,
    NULL as `__HIVE_DEFAULT_PARTITION__`): batch and stream reads
    through the format serve the values `SnapshotTable.read()` does."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.overwrite(spark.createDataFrame(
        [(1, "a:b"), (2, "plain"), (3, None)], "k long, p string"),
        partition_col="p")
    native = sorted(((r["k"], r["p"]) for r in t.read().collect()))
    assert native == [(1, "a:b"), (2, "plain"), (3, None)]
    q = (
        spark.readStream.format("snapshot_table").load(root)
        .writeStream.format("memory").queryName("esc_tail")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    for df in (spark.read.format("snapshot_table").load(root),
               spark.sql("select * from esc_tail")):
        assert sorted((r["k"], r["p"]) for r in df.collect()) == native


def test_batch_format_honors_column_mapping(reg, spark, tmp_path):
    """Renamed columns surface under their logical names (not nulls),
    dropped columns disappear."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(spark.createDataFrame([(1, "a", 10.0)], "k long, v string, x double"))
    t.enable_column_mapping()
    t.rename_column("v", "label")
    t.drop_column("x")
    df = spark.read.format("snapshot_table").load(root)
    assert df.columns == ["k", "label"]
    assert [(r["k"], r["label"]) for r in df.collect()] == [(1, "a")]


def test_batch_format_honors_partition_evolution(reg, spark, tmp_path):
    """Entries decode their partition value by their OWN layout after
    evolve_partitioning (multi-layout manifests)."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.replace_partitions(
        spark.createDataFrame([(7, 1), (8, 2)], "day int, k long"), "day"
    )
    t.evolve_partitioning(None)
    t.append(spark.createDataFrame([(9, 3)], "day int, k long"))
    got = sorted((r["day"], r["k"]) for r in
                 spark.read.format("snapshot_table").load(root).collect())
    assert got == [(7, 1), (8, 2), (9, 3)]
    native = sorted((r["day"], r["k"]) for r in t.read().collect())
    assert got == native


def test_batch_format_honors_shallow_clone_roots(reg, spark, tmp_path):
    """Clone entries read from the OWNING table's root."""
    src_root, clone_root = str(tmp_path / "src"), str(tmp_path / "cl")
    t = SnapshotTable(spark, src_root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.clone_to(clone_root)
    got = sorted((r["k"], r["v"]) for r in
                 spark.read.format("snapshot_table").load(clone_root).collect())
    assert got == [(1, "a"), (2, "b")]


@pytest.mark.slow  # deep end-to-end matrix: certification tier (r13; pytest.ini)
def test_stream_fails_on_dv_masking_delivered_rows(reg, spark, tmp_path):
    """A DV landing on an already-streamed entry is a change: the tail
    cannot retract delivered rows, so it fails under the default
    policy and keeps tailing under onchange=ignore."""
    root, ckpt, out = (str(tmp_path / p) for p in ("t", "ck", "out"))
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    _tail_once(spark, root, ckpt, out)
    t.delete(F.col("k") == 1, mode="dv")
    t.append(_df(spark, [(3, "c")]))
    with pytest.raises(Exception, match="deletion vectors"):
        _tail_once(spark, root, ckpt, out)
    _tail_once(spark, root, ckpt, out, onchange="ignore")
    got = sorted((r["k"], r["v"]) for r in spark.read.parquet(out).collect())
    # row 1 was already delivered (stale, documented); row 3 arrives once
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_applies_dv_to_entries_new_in_batch(reg, spark, tmp_path):
    """append + dv-delete landing WITHIN one micro-batch range is not
    a change: the entry is delivered already masked, no failure."""
    root, ckpt, out = (str(tmp_path / p) for p in ("t", "ck", "out"))
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(i, "x") for i in range(6)]))
    t.delete(F.col("k") >= 4, mode="dv")
    assert t.manifest(t.latest_version()).get("dv_files")
    _tail_once(spark, root, ckpt, out)
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2, 3]


def test_unknown_reader_feature_is_refused(reg, spark, tmp_path):
    """Forward-compat: a manifest recording a feature this adapter
    does not know must be refused, not silently mis-read."""
    import json as _json

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a")]))
    v = t.latest_version()
    path = f"{root}/_manifests/v{v + 1:08d}.json"
    m = t.manifest(v)
    m["version"] = v + 1
    m["reader_features"] = ["row-tracking-v9"]
    with open(path, "w") as fh:
        fh.write(_json.dumps(m))
    with pytest.raises(Exception, match="row-tracking-v9"):
        spark.read.format("snapshot_table").load(root).collect()
    with pytest.raises(ValueError, match="row-tracking-v9"):
        t.read()


def test_stream_max_versions_per_trigger_paces_backlog(reg, spark, tmp_path):
    """Admission control: a 4-commit backlog with
    maxVersionsPerTrigger=1 drains one commit per micro-batch under a
    continuous trigger (availableNow fixes its end offset once per
    run, so there it bounds the RUN, not each batch — documented)."""
    import time as _time

    root, ckpt = (str(tmp_path / p) for p in ("t", "ck"))
    t = SnapshotTable(spark, root)
    for i in range(4):
        t.append(_df(spark, [(i, f"v{i}")]))

    batches = []

    def sink(df, bid):
        rows = sorted((r["k"], r["v"]) for r in df.collect())
        if rows:
            batches.append(rows)

    def drain(expect_rows):
        q = (
            spark.readStream.format("snapshot_table")
            .option("maxVersionsPerTrigger", "1")
            .load(root)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="50 milliseconds")
            .start()
        )
        deadline = _time.time() + 120
        while (sum(len(b) for b in batches) < expect_rows
               and _time.time() < deadline):
            _time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)

    drain(4)
    assert [r for b in batches for r in b] == [
        (0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")]
    assert len(batches) == 4  # one commit per micro-batch

    t.append(_df(spark, [(9, "v9"), (10, "vA")]))
    t.append(_df(spark, [(11, "vB")]))
    batches.clear()
    drain(3)  # restart from checkpoint: pacing holds, no re-delivery
    assert [r for b in batches for r in b] == [
        (9, "v9"), (10, "vA"), (11, "vB")]
    assert len(batches) == 2


def test_catalog_addressing_and_published_batch_gate(reg, spark, tmp_path):
    """catalog+name resolves the root by NAME; published=true serves
    the PIN (refusing an unpinned binding) so batch readers through
    the format see only published state."""
    from pixelspark.catalog import Catalog

    cat_root = str(tmp_path / "cat")
    cat = Catalog(spark, cat_root)
    t = cat.create_table("facts")
    t.append(_df(spark, [(1, "a"), (2, "b")]))

    by_name = (
        spark.read.format("snapshot_table")
        .option("catalog", cat_root).option("name", "facts").load()
    )
    assert sorted(r["k"] for r in by_name.collect()) == [1, 2]

    with pytest.raises(Exception, match="published"):
        (
            spark.read.format("snapshot_table")
            .option("catalog", cat_root).option("name", "facts")
            .option("published", "true").load()
        ).collect()

    cat.publish("facts")
    t.append(_df(spark, [(3, "c")]))  # durable but unpublished
    pub = (
        spark.read.format("snapshot_table")
        .option("catalog", cat_root).option("name", "facts")
        .option("published", "true").load()
    )
    assert sorted(r["k"] for r in pub.collect()) == [1, 2]
    # without the gate, the same addressing reads the table log
    raw = (
        spark.read.format("snapshot_table")
        .option("catalog", cat_root).option("name", "facts").load()
    )
    assert sorted(r["k"] for r in raw.collect()) == [1, 2, 3]


def test_published_stream_tails_publications_only(reg, spark, tmp_path):
    """The publication-gated stream: latestOffset is capped at the
    pin re-resolved per poll, so triggers deliver whole published
    units and an unpublished commit delivers nothing."""
    from pixelspark.catalog import Catalog

    cat_root, ckpt, out = (str(tmp_path / p) for p in ("cat", "ck", "out"))
    cat = Catalog(spark, cat_root)
    t = cat.create_table("facts")
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    cat.publish("facts")

    def tail():
        q = (
            spark.readStream.format("snapshot_table")
            .option("catalog", cat_root).option("name", "facts")
            .option("published", "true").load()
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    tail()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == [1, 2]

    t.append(_df(spark, [(3, "c")]))  # unpublished
    tail()
    assert sorted(
        r["k"] for r in spark.read.parquet(out).collect()
    ) == [1, 2]  # the gate held

    cat.publish("facts")
    tail()
    assert sorted(
        r["k"] for r in spark.read.parquet(out).collect()
    ) == [1, 2, 3]  # exactly the newly published unit


def test_pacing_survives_restart_via_sidecar_and_recovery_call(
    reg, spark, tmp_path
):
    """ADVICE r6: unit-pin the pacing contract at the reader level,
    in the call orders Spark actually uses (probed on 4.1):

      fresh start:  latestOffset -> initialOffset -> partitions
      restart:      partitions(C, C) [WAL recovery] -> latestOffset

    (a) fresh start paces from startingVersion even though the first
        latestOffset precedes initialOffset; (b) a restarted reader
        with startingVersion='latest' — whose `starting` re-resolves
        to the CURRENT head — must NOT span the backlog once either
        the recovery call or the pacingStateDir sidecar has seeded
        the cursor, and must NEVER return an offset below the
        cursor (offset-log regression = re-delivery)."""
    import json as _json
    import os as _os

    from pixelspark.datasource import _SnapshotStreamReader

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    for i in range(8):
        t.append(_df(spark, [(i, f"v{i}")]))
    schema = t.read().schema

    # (a) fresh start, numeric starting: latestOffset BEFORE
    # initialOffset still paces from `starting`
    r = _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "2"})
    assert r.latestOffset() == {"version": 2}
    assert r.initialOffset() == {"version": 0}
    r.partitions({"version": 0}, {"version": 2})
    assert r.latestOffset() == {"version": 4}  # ratchet advanced

    # (b) restart shape: 'latest' resolves starting to head=8, but
    # the WAL recovery partitions(3,3) seeds the cursor first
    r2 = _SnapshotStreamReader(root, schema,
                               {"startingversion": "latest",
                                "maxversionspertrigger": "2"})
    r2.partitions({"version": 3}, {"version": 3})  # recovery call
    off = r2.latestOffset()
    assert off == {"version": 5}  # paced from checkpoint, not head
    # and never below the cursor even if starting were stale-low
    r3 = _SnapshotStreamReader(root, schema,
                               {"startingversion": "0",
                                "maxversionspertrigger": "1"})
    r3.partitions({"version": 6}, {"version": 6})
    assert r3.latestOffset()["version"] >= 6  # no offset regression

    # (c) sidecar: latestOffset persists the planned end BEFORE
    # returning; a fresh reader over the same dir re-seeds from it
    psd = str(tmp_path / "pace")
    r4 = _SnapshotStreamReader(root, schema,
                               {"maxversionspertrigger": "3",
                                "pacingstatedir": psd})
    r4.initialOffset()
    assert r4.latestOffset() == {"version": 3}
    with open(r4._pace_file) as fh:  # namespaced per source (r8)
        assert _json.load(fh)["version"] == 3
    # "restarted" reader: no initialOffset, no recovery call, stale
    # 'latest' starting — the sidecar alone restores pacing
    r5 = _SnapshotStreamReader(root, schema,
                               {"startingversion": "latest",
                                "maxversionspertrigger": "3",
                                "pacingstatedir": psd})
    assert r5.latestOffset() == {"version": 6}  # 3 + 3, not head 8


def test_sidecarless_pacing_warns_loudly_once(reg, spark, tmp_path):
    """VERDICT r8 item 6: pacing with no resolvable sidecar (no
    pacingStateDir, no read-side checkpointLocation) degrades to
    recovery-call-only restart seeding — that's now a loud
    RuntimeWarning at construction instead of a silent hole; readers
    WITH a sidecar (or without pacing) stay silent."""
    import warnings as _warnings

    from pixelspark.datasource import _SnapshotStreamReader

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a")]))
    schema = t.read().schema

    with pytest.warns(RuntimeWarning, match="pacing sidecar"):
        _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "1"})
    # non-local checkpointLocation habit-copied to the read side:
    # same degradation, same loud warning
    with pytest.warns(RuntimeWarning, match="pacing sidecar"):
        _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "1",
                               "checkpointlocation": "s3://bkt/ck"})
    # sidecar resolvable, or pacing off: silent
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "1",
                               "pacingstatedir": str(tmp_path / "p")})
        _SnapshotStreamReader(root, schema, {})


def test_legacy_pacing_sidecar_filename_is_read_as_fallback(
    reg, spark, tmp_path
):
    """ADVICE r8: pre-r8 deployments wrote an un-namespaced
    pixelspark-pace.json; after the per-source rename an upgrade
    restart must still seed from the legacy file (read fallback),
    while writes use the namespaced name — and the namespaced file,
    when present, wins over the legacy one."""
    import json as _json
    import os as _os

    from pixelspark.datasource import _SnapshotStreamReader

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    for i in range(6):
        t.append(_df(spark, [(i, f"v{i}")]))
    schema = t.read().schema
    psd = str(tmp_path / "pace")
    _os.makedirs(psd)
    with open(_os.path.join(psd, "pixelspark-pace.json"), "w") as fh:
        fh.write('{"version": 2}')  # legacy, pre-upgrade cursor

    r = _SnapshotStreamReader(root, schema,
                              {"startingversion": "latest",
                               "maxversionspertrigger": "2",
                               "pacingstatedir": psd})
    # seeded from the legacy file: next batch is 2+2, not head 6
    assert r.latestOffset() == {"version": 4}
    # and the WRITE landed under the namespaced name
    with open(r._pace_file) as fh:
        assert _json.load(fh)["version"] == 4
    assert _os.path.basename(r._pace_file) != "pixelspark-pace.json"

    # namespaced file present → it wins over the (stale) legacy one
    r2 = _SnapshotStreamReader(root, schema,
                               {"startingversion": "latest",
                                "maxversionspertrigger": "2",
                                "pacingstatedir": psd})
    assert r2.latestOffset() == {"version": 6}  # 4 + 2 from namespaced


def test_widened_table_reads_through_format(reg, spark, tmp_path):
    """Type widening through the DataSource: _read_ref_batches casts
    every Arrow batch to the DECLARED schema, so files written at the
    pre-DDL narrow width serve as the wide type — batch and stream."""
    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.widen_column("k", "bigint")
    t.append(spark.createDataFrame([(2**40, "b")], "k long, v string"))

    df = spark.read.format("snapshot_table").load(root)
    assert df.schema["k"].dataType.simpleString() == "bigint"
    assert sorted(r["k"] for r in df.collect()) == [1, 2**40]


def test_stale_pacing_sidecar_cannot_poison_a_fresh_start(
    reg, spark, tmp_path
):
    """Code-review r7: a pacing sidecar surviving a checkpoint wipe
    (or a table recreated under an old pacing dir) must not crash or
    mis-pace the new query: latestOffset clamps to the table head,
    and initialOffset — fresh starts only — RESETS cursor + sidecar
    to startingVersion."""
    import json as _json
    import os as _os

    from pixelspark.datasource import _SnapshotStreamReader

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    for i in range(3):
        t.append(_df(spark, [(i, f"v{i}")]))
    schema = t.read().schema
    import hashlib as _hl

    psd = str(tmp_path / "pace")
    _os.makedirs(psd)
    pace = _os.path.join(
        psd,
        f"pixelspark-pace-{_hl.md5(root.encode()).hexdigest()[:12]}.json",
    )
    with open(pace, "w") as fh:
        fh.write('{"version": 99}')  # stale: far past head=3

    r = _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "1",
                               "pacingstatedir": psd})
    assert r._pace_file == pace  # namespaced per source (r8)
    # Spark's fresh-start order: latestOffset FIRST — must clamp to
    # head (no offset past a manifest that doesn't exist)...
    assert r.latestOffset() == {"version": 3}
    # ...then initialOffset resets the stale state entirely
    assert r.initialOffset() == {"version": 0}
    with open(pace) as fh:
        assert _json.load(fh)["version"] == 0
    assert r.latestOffset() == {"version": 1}  # paced from scratch


def test_pacing_sidecar_rejects_nonlocal_and_defaults_from_checkpoint(
    reg, spark, tmp_path
):
    """ADVICE r7 + VERDICT r7 item 5: (a) a non-local pacingStateDir
    fails at CONSTRUCTION with a clear error, not in the first
    latestOffset's os.makedirs; (b) when checkpointLocation is given
    as a READ option, the sidecar defaults into it — restart pacing
    without the explicit opt-in (explicit pacingStateDir remains the
    override)."""
    import json as _json
    import os as _os

    from pixelspark.datasource import _SnapshotStreamReader

    root = str(tmp_path / "t")
    t = SnapshotTable(spark, root)
    for i in range(8):
        t.append(_df(spark, [(i, f"v{i}")]))
    schema = t.read().schema

    with pytest.raises(ValueError, match="scheme 's3'"):
        _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "2",
                               "pacingstatedir": "s3://bkt/pace"})

    # (b) checkpointLocation read option alone defaults the sidecar
    ckpt = str(tmp_path / "ckpt")
    r = _SnapshotStreamReader(root, schema,
                              {"maxversionspertrigger": "3",
                               "checkpointlocation": ckpt})
    r.initialOffset()
    assert r.latestOffset() == {"version": 3}
    with open(r._pace_file) as fh:  # namespaced per source (r8)
        assert _json.load(fh)["version"] == 3
    # restart-into-deep-backlog with NO recovery call: the defaulted
    # sidecar alone restores pacing (head is 8, stale 'latest' seed)
    r2 = _SnapshotStreamReader(root, schema,
                               {"startingversion": "latest",
                                "maxversionspertrigger": "3",
                                "checkpointlocation": ckpt})
    assert r2.latestOffset() == {"version": 6}
    # file:// local URIs are accepted and resolved to the local path
    r3 = _SnapshotStreamReader(root, schema,
                               {"maxversionspertrigger": "2",
                                "pacingstatedir": f"file://{ckpt}"})
    assert r3._cursor == 6  # re-seeded from the same sidecar

    # code-review r8: the DEFAULT must never change behavior for a
    # habit-copied read-side checkpointLocation — a non-local scheme
    # degrades to sidecar-less pacing (no raise), and without pacing
    # the option is ignored entirely
    r4 = _SnapshotStreamReader(root, schema,
                               {"maxversionspertrigger": "2",
                                "checkpointlocation": "s3://bkt/ckpt"})
    assert r4._pace_file is None
    r5 = _SnapshotStreamReader(root, schema,
                               {"checkpointlocation": "s3://bkt/ckpt"})
    assert r5._pace_file is None and r5.latestOffset() == {"version": 8}

    # code-review r8: two sources sharing one checkpoint dir keep
    # SEPARATE sidecars — no cross-seeding between tables
    root_b = str(tmp_path / "tb")
    tb = SnapshotTable(spark, root_b)
    tb.append(_df(spark, [(0, "x")]))
    rb = _SnapshotStreamReader(root_b, tb.read().schema,
                               {"maxversionspertrigger": "3",
                                "checkpointlocation": ckpt})
    assert rb._pace_file != r._pace_file
    rb.initialOffset()
    assert rb.latestOffset() == {"version": 1}  # clamped to B's head
    # ...and A's sidecar still carries A's cursor
    r6 = _SnapshotStreamReader(root, schema,
                               {"startingversion": "latest",
                                "maxversionspertrigger": "3",
                                "checkpointlocation": ckpt})
    assert r6._cursor == 6


def test_stream_keeps_flowing_across_add_columns(reg, spark, tmp_path):
    """r8: an add_columns commit mid-stream must neither crash the
    tail nor drop rows.  A RESTARTED query (even on the same
    checkpoint) re-resolves the source schema, so post-DDL batches
    deliver the widened schema — the sink's pre-DDL files simply
    lack the column (mergeSchema surfaces it as NULL); a fresh query
    over the whole history serves every row at the wide schema with
    pre-DDL rows NULL-filled."""
    root = str(tmp_path / "t")
    out1, ck1 = str(tmp_path / "o1"), str(tmp_path / "c1")
    t = SnapshotTable(spark, root)
    t.append(_df(spark, [(1, "a")]))
    _tail_once(spark, root, ck1, out1)

    t.add_columns({"score": "double"})
    t.append(spark.createDataFrame([(2, "b", 0.5)],
                                   "k long, v string, score double"))
    _tail_once(spark, root, ck1, out1)  # restart: widened schema flows
    got = {(r["k"], r["v"], r["score"]) for r in spark.read.option(
        "mergeSchema", "true").parquet(out1).collect()}
    assert got == {(1, "a", None), (2, "b", 0.5)}

    # fresh query over the whole history: every row at the wide schema
    out2, ck2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _tail_once(spark, root, ck2, out2)
    rows = {r["k"]: r["score"] for r in spark.read.parquet(out2).collect()}
    assert rows == {1: None, 2: 0.5}
