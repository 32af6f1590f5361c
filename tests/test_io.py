"""Write-path tests: append/stamp, schema evolution, missing-table
guard, keyed upsert, latest-state equivalence, the daily table's
partition pruning (reference bigquery.ts write surface)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pixelspark import io as pio
from pixelspark.schemas import USAGE_RECORDS

BASE = T.StructType(
    [
        T.StructField("shop", T.StringType(), False),
        T.StructField("billing_date", T.DateType(), False),
        T.StructField("page_views", T.LongType(), False),
        T.StructField("billing_amount", T.DoubleType(), False),
        T.StructField("rate_per_million", T.DoubleType(), False),
    ]
)

D = datetime.date(2024, 1, 2)


def _records(spark, rows):
    return spark.createDataFrame(rows, BASE)


def test_read_missing_table_returns_empty(spark, tmp_path):
    df = pio.read_table_or_empty(spark, str(tmp_path / "nope"), USAGE_RECORDS)
    assert df.count() == 0
    assert df.schema == USAGE_RECORDS


def test_append_stamps_created_at(spark, tmp_path):
    path = str(tmp_path / "t")
    pio.append_records(_records(spark, [("s1", D, 10, 0.0, 10.0)]), path, schema=USAGE_RECORDS)
    back = spark.read.parquet(path)
    row = back.collect()[0]
    assert row["created_at"] is not None
    assert [f.name for f in back.schema.fields] == [f.name for f in USAGE_RECORDS.fields]


def test_schema_evolution_align(spark, tmp_path):
    path = str(tmp_path / "t")
    # first write WITHOUT status cols, second write WITH them (bigquery.ts:74-110)
    pio.append_records(_records(spark, [("s1", D, 10, 0.0, 10.0)]), path, schema=USAGE_RECORDS)
    enriched = _records(spark, [("s2", D, 20, 0.0, 10.0)]).withColumn(
        "shopify_billing_status", F.lit("success")
    )
    pio.append_records(enriched, path, schema=USAGE_RECORDS)
    back = spark.read.parquet(path)
    got = {r["shop"]: r["shopify_billing_status"] for r in back.collect()}
    assert got == {"s1": None, "s2": "success"}


def test_upsert_keyed(spark, tmp_path):
    """S7 — keyed upsert on the snapshot table: updated keys replaced,
    the rest untouched, one row per key."""
    from pixelspark.table import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.overwrite(_records(spark, [("s1", D, 10, 0.0, 10.0), ("s2", D, 20, 0.0, 10.0)]))
    updates = _records(spark, [("s2", D, 99, 1.0, 10.0)]).withColumn(
        "shopify_billing_status", F.lit("success")
    )
    t.upsert(updates, keys=("shop", "billing_date"))
    back = {r["shop"]: r for r in t.read().collect()}
    assert len(back) == 2
    assert back["s2"]["page_views"] == 99  # updated
    assert back["s2"]["shopify_billing_status"] == "success"
    assert back["s1"]["page_views"] == 10  # untouched


def test_latest_state_matches_upsert(spark, tmp_path):
    """Append-as-update log read through latest_state == upsert result
    (the reference's two storage strategies agree, billing.ts:161-163)."""
    log_path = str(tmp_path / "log")
    pend = _records(spark, [("s1", D, 10, 0.0, 10.0)]).withColumn(
        "shopify_billing_status", F.lit("pending")
    )
    pio.append_records(pend, log_path, schema=USAGE_RECORDS)
    done = _records(spark, [("s1", D, 10, 0.0, 10.0)]).withColumn(
        "shopify_billing_status", F.lit("success")
    )
    pio.append_records(done, log_path, schema=USAGE_RECORDS)
    log = spark.read.parquet(log_path)
    latest = pio.latest_state(
        log, keys=("shop", "billing_date"), order_col="created_at",
        tiebreak=("shopify_billing_status",)
    )
    rows = latest.collect()
    assert len(rows) == 1
    assert rows[0]["shopify_billing_status"] == "success"


def test_daily_table_day_read_prunes_to_one_partition(spark, tmp_path):
    """The daily job's billing_date-partitioned snapshot table: a
    single-day read-back through current_billing_state must show a
    partition filter and open only that day's files."""
    import contextlib
    import io as _io

    from pixelspark import job as J

    path = str(tmp_path / "usage_records")
    table = J._usage_table(spark, path)
    for i, day in enumerate((1, 2, 3), start=1):
        rows = [(f"s{i}", datetime.date(2024, 1, day), 10 * i, 0.0, 10.0)]
        J._record(table, _records(spark, rows), f"daily_billing/2024-01-0{day}", 1)
    back = J.current_billing_state(spark, path).where(
        F.col("billing_date") == F.lit("2024-01-02").cast("date")
    )
    assert [r["shop"] for r in back.collect()] == ["s2"]
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert _files_read(back) == 1  # one day's one file ...
    assert _files_read(J.current_billing_state(spark, path)) == 3  # ... of three


def _files_read(df) -> int:
    """Files the executed scan of `df` opened (the scan node's
    numFiles metric, after partition pruning)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.finalPhysicalPlan()
    stack, n = [plan], 0
    while stack:
        node = stack.pop()
        if node.nodeName().startswith("Scan parquet"):
            n += node.metrics().apply("numFiles").value()
        if "QueryStage" in node.nodeName():  # AQE stage: a leaf wrapping its plan
            node = node.plan()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return n


def test_csv_roundtrip_explicit_schema(spark, tmp_path):
    path = str(tmp_path / "csv_out")
    src = _records(
        spark, [("s1", D, 10, 0.0, 10.0), ("s2", D, 99, 0.01, 10.0)]
    )
    pio.write_csv(src, path)
    back = pio.read_csv(spark, path, BASE)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in BASE.fields
    ]
    assert sorted(r["shop"] for r in back.collect()) == ["s1", "s2"]
    assert back.where(F.col("page_views") == 99).count() == 1


def test_csv_malformed_rows_do_not_fail(spark, tmp_path):
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part.csv").write_text(
        "shop,billing_date,page_views,billing_amount,rate_per_million\n"
        "s1,2024-01-02,10,0.0,10.0\n"
        "s2,not-a-date,not-a-number,x,y\n"
    )
    back = pio.read_csv(spark, str(p), BASE)
    rows = back.collect()
    assert len(rows) == 2  # malformed row survives, bad cells null
    bad = [r for r in rows if r["shop"] == "s2"][0]
    assert bad["page_views"] is None and bad["billing_date"] is None


def test_jsonl_roundtrip(spark, tmp_path):
    path = str(tmp_path / "jsonl_out")
    src = _records(spark, [("s1", D, 10, 0.0, 10.0)])
    pio.write_jsonl(src, path)
    back = pio.read_jsonl(spark, path, BASE)
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in BASE.fields
    ]
    got = back.collect()[0]
    assert got["shop"] == "s1" and got["billing_date"] == D


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from pixelspark.schemas import load_table

    df = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_orc")
    pio.write_orc(df, path)
    back = pio.read_orc(spark, path)
    assert back.schema == df.schema
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0


def test_orc_filter_pushdown(spark, sf_dir, tmp_path):
    from pixelspark.schemas import load_table

    df = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_orc")
    pio.write_orc(df, path)
    plan = (
        pio.read_orc(spark, path)
        .where(F.col("c_custkey") == 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,7)]" in plan


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from pixelspark.schemas import load_table

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_part")
    pio.write_partitioned(events, path, ("day",))
    back = pio.read_partitioned(spark, path)
    assert back.count() == events.count()
    # partition pruning: the one-day scan reads exactly one directory
    one = back.where(F.col("day") == "2024-01-05")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    got = one.count()
    want = events.where(F.col("day") == "2024-01-05").count()
    assert got == want


def test_sorted_export_is_globally_ordered(spark, sf_dir, tmp_path):
    import glob

    from pixelspark.schemas import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_sorted")
    pio.write_sorted(orders, path, ("o_totalprice",), num_partitions=6)
    # the plan must be a range exchange, never a single-partition sort
    plan = (
        orders.repartitionByRange(6, F.col("o_totalprice"))
        .sortWithinPartitions("o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning(o_totalprice" in plan
    assert "SinglePartition" not in plan
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) > 1
    prev_max = None
    total = 0
    for f in files:
        vals = [r[0] for r in spark.read.parquet(f).select("o_totalprice").collect()]
        total += len(vals)
        if not vals:
            continue
        assert vals == sorted(vals)  # sorted within each file
        if prev_max is not None:
            assert vals[0] >= prev_max  # ranges don't overlap across files
        prev_max = vals[-1]
    assert total == orders.count()


def test_zorder_skips_on_both_columns(spark, sf_dir, tmp_path):
    """Z-order layout must shrink the set of files whose min/max stats
    intersect a narrow predicate on EITHER clustered column, vs a
    hash-scattered layout where every file spans the full domain."""
    import glob

    from pixelspark.schemas import load_table

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    plain_path = str(tmp_path / "part_plain")
    z_path = str(tmp_path / "part_z")
    part.repartition(8).write.parquet(plain_path)
    pio.write_zordered(part, z_path, ("p_retailprice", "p_size"), num_partitions=8)

    def files_hit(path, col, lo, hi):
        hit, total = 0, 0
        for f in sorted(glob.glob(path + "/part-*.parquet")):
            mn, mx = spark.read.parquet(f).agg(F.min(col), F.max(col)).collect()[0]
            total += 1
            if mn is not None and not (mx < lo or mn > hi):
                hit += 1
        return hit, total

    # narrow range predicates on each dimension
    for col, lo, hi in (("p_retailprice", 905.0, 910.0), ("p_size", 3, 4)):
        p_hit, p_total = files_hit(plain_path, col, lo, hi)
        z_hit, z_total = files_hit(z_path, col, lo, hi)
        assert p_total == 8 and z_total >= 4
        assert p_hit == p_total  # scattered layout: stats are useless
        assert z_hit < p_hit  # z-ordered: most files pruned by stats
    # and it is still the same relation
    back = spark.read.parquet(z_path)
    assert back.count() == part.count() and back.exceptAll(part).count() == 0


def test_xml_roundtrip(spark, sf_dir, tmp_path):
    from pixelspark.schemas import load_table

    df = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_xml")
    pio.write_xml(df, path, row_tag="region")
    back = pio.read_xml(spark, path, row_tag="region", schema=df.schema)
    assert back.schema == df.schema
    assert back.count() == df.count()
    assert back.exceptAll(df).count() == 0


def test_file_metadata_lineage_columns(spark, sf_dir, tmp_path):
    """The hidden _metadata struct exposes per-row file provenance
    (file_path, file_name, size) without any extra storage — row-level
    lineage for audits over a multi-file table."""
    from pixelspark.schemas import load_table

    df = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_meta")
    df.repartition(4).write.parquet(path)
    back = spark.read.parquet(path).select(
        "c_custkey", F.col("_metadata.file_name").alias("src_file")
    )
    rows = back.collect()
    assert len(rows) == df.count()
    assert all(r["src_file"].endswith(".parquet") for r in rows)
    assert len({r["src_file"] for r in rows}) == 4
