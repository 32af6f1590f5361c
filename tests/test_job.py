"""End-to-end job orchestration: write-before-charge ordering,
dry-run parity, latest-state read-back, rerun idempotency."""

from __future__ import annotations

import datetime

from pixelspark import job as J


def test_default_target_date_jst():
    # 2024-01-02 00:30 JST -> yesterday is 2024-01-01 (JST), even though
    # it is still 2024-01-01 15:30 UTC
    now = datetime.datetime(2024, 1, 1, 15, 30, tzinfo=datetime.timezone.utc)
    assert J.default_target_date("Asia/Tokyo", today=now) == "2024-01-01"
    now2 = datetime.datetime(2024, 1, 2, 14, 0, tzinfo=datetime.timezone.utc)  # 23:00 JST
    assert J.default_target_date("Asia/Tokyo", today=now2) == "2024-01-01"


def test_dry_run_no_writes(spark, sf_dir, tmp_path):
    out = J.run_daily_billing(spark, sf_dir, "2024-01-02", dry_run=True)
    assert out["dry_run"] is True
    assert out["n_shops"] == 150
    assert not list(tmp_path.iterdir())  # nothing written anywhere


def test_full_job_and_state(spark, sf_dir, tmp_path):
    from pixelspark.table import SnapshotTable

    table = str(tmp_path / "usage_records")
    kwargs = dict(
        table_path=table, ledger_dir=str(tmp_path / "ledger"),
        charge_fn=lambda shop, amount: f"gid://charge/{shop}", dry_run=False,
    )
    out = J.run_daily_billing(spark, sf_dir, "2024-01-02", **kwargs)
    assert out["dry_run"] is False
    assert out["status_counts"].get("skipped", 0) > 0  # zero-amount shops skipped
    # at sf0.001 all amounts are ~0 -> all skipped; nobody charged
    state = sorted(map(tuple, J.current_billing_state(spark, table).collect()))
    assert len(state) == 150  # one current row per shop
    # every shop has both a pending and an outcome row in the log
    log = SnapshotTable(spark, table)
    version = log.latest_version()
    assert log.read().count() == 300
    # a second run for the same day records nothing twice
    J.run_daily_billing(spark, sf_dir, "2024-01-02", **kwargs)
    assert log.latest_version() == version
    assert log.read().count() == 300
    assert sorted(map(tuple, J.current_billing_state(spark, table).collect())) == state


def _three_shops(spark, tmp_path):
    """Three shops on 2024-01-02, two of them charged, and a charge_fn
    that records each call to a file (it runs in Python workers)."""
    from pyspark.sql import functions as F

    sf = tmp_path / "sf"
    spark.createDataFrame(
        [(1, "Customer#1"), (2, "Customer#2"), (3, "Customer#3")],
        "c_custkey long, c_name string",
    ).write.parquet(str(sf / "customer.parquet"))
    # 10 per million views, rounded to cents: 1,000 views bill $0.01,
    # 10 views bill $0.00 and are skipped
    spark.range(2510).select(
        F.when(F.col("id") < 1000, 1).when(F.col("id") < 2500, 2).otherwise(3)
        .cast("long").alias("user_id"),
        F.lit("view").alias("event_type"),
        F.lit("2024-01-02 12:00:00").cast("timestamp").alias("ts"),
    ).write.parquet(str(sf / "events.parquet"))
    calls = tmp_path / "calls.log"

    def charge(shop, amount):
        with open(calls, "a") as f:
            f.write(f"{shop}\n")
        return f"gid://charge/{shop}"

    return str(sf), calls, dict(
        table_path=str(tmp_path / "usage_records"),
        ledger_dir=str(tmp_path / "ledger"), charge_fn=charge,
    )


def test_charged_shops_charge_once_and_report_matches_table(spark, tmp_path):
    """With shops that are actually charged (sf0.001 never charges:
    every amount rounds to $0.00), the charge stage runs once per
    day: charge_fn is called once per charged shop, and the report's
    status counts equal the statuses the table reads back.  A rerun
    of the day calls nobody again and leaves the state as it was."""
    from collections import Counter

    sf, calls, kwargs = _three_shops(spark, tmp_path)
    out = J.run_daily_billing(spark, sf, "2024-01-02", **kwargs)
    assert sorted(calls.read_text().split()) == ["1", "2"]
    state = J.current_billing_state(spark, kwargs["table_path"]).collect()
    assert out["status_counts"] == {"success": 2, "skipped": 1}
    assert out["status_counts"] == Counter(r["shopify_billing_status"] for r in state)

    J.run_daily_billing(spark, sf, "2024-01-02", **kwargs)
    assert sorted(calls.read_text().split()) == ["1", "2"]
    state = J.current_billing_state(spark, kwargs["table_path"]).collect()
    assert {r["shop"]: (r["shopify_billing_status"], r["shopify_charge_id"]) for r in state} == {
        "1": ("success", "gid://charge/1"),
        "2": ("success", "gid://charge/2"),
        "3": ("skipped", None),
    }


def test_crash_after_pending_commit_then_rerun_records_each_row_once(
    spark, tmp_path, monkeypatch
):
    """The outcome stage fails after the pending rows committed and the
    charges ran; the rerun of the day must leave exactly one pending
    and one outcome row per shop, call the charge API for nobody a
    second time, and still record which charge billed each shop (the
    ledger kept the first run's charge ids)."""
    from collections import Counter

    import pytest

    from pixelspark.ops import external as X
    from pixelspark.table import SnapshotTable

    sf, calls, kwargs = _three_shops(spark, tmp_path)

    def crash(*args, **kw):
        raise RuntimeError("outcome stage crashed")

    with monkeypatch.context() as m:
        m.setattr(X, "enrich_with_results", crash)
        with pytest.raises(RuntimeError, match="outcome stage crashed"):
            J.run_daily_billing(spark, sf, "2024-01-02", **kwargs)
    assert sorted(calls.read_text().split()) == ["1", "2"]

    J.run_daily_billing(spark, sf, "2024-01-02", **kwargs)
    assert sorted(calls.read_text().split()) == ["1", "2"]
    log = SnapshotTable(spark, kwargs["table_path"]).read().collect()
    rows = Counter((r["shop"], r["shopify_billing_status"] == "pending") for r in log)
    assert rows == {(shop, pending): 1 for shop in "123" for pending in (True, False)}
    state = J.current_billing_state(spark, kwargs["table_path"]).collect()
    assert {r["shop"]: (r["shopify_billing_status"], r["shopify_charge_id"]) for r in state} == {
        "1": ("duplicate", "gid://charge/1"),
        "2": ("duplicate", "gid://charge/2"),
        "3": ("skipped", None),
    }


def test_safe_run_returns_error_shape(spark, tmp_path):
    out = J.run_daily_billing_safe(spark, "/nonexistent/dir", "2024-01-02", dry_run=True)
    assert out["success"] is False
    assert "target_date" in out and out["target_date"] == "2024-01-02"
    assert len(out["error"]) <= 1000
    assert not list(tmp_path.iterdir())  # failed before any side effect
    # context derivation also failed (sf_dir is unreadable) -> best-effort None
    assert out["shop_results"] is None


def test_safe_run_attaches_per_shop_context(spark, sf_dir, tmp_path):
    """Failure AFTER the inputs are readable attaches the re-derived
    per-shop context (billing.ts:203-215): every shop, its usage, and
    the canonical skipped/'Process failed before Shopify billing'
    markers, with the original error as save_error."""
    # non-dry run without table/ledger/charge_fn -> the assert inside
    # run_daily_billing raises after the inputs were readable
    out = J.run_daily_billing_safe(spark, sf_dir, "2024-01-02", dry_run=False)
    assert out["success"] is False
    ctx = out["shop_results"]
    assert ctx is not None
    rows = ctx.collect()
    from pixelspark.schemas import load_table

    assert len(rows) == load_table(spark, sf_dir, "customer").count()
    assert {r["shopify_status"] for r in rows} == {"skipped"}
    assert {r["shopify_error"] for r in rows} == {"Process failed before Shopify billing"}
    assert all(r["saved"] is False and r["save_error"] == out["error"] for r in rows)
    assert any(r["page_views"] > 0 for r in rows)


def test_windows_module_helpers(spark, sf_dir):
    from pyspark.sql import functions as F

    from pixelspark.ops import windows as W
    from pixelspark.schemas import load_table

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    rt = W.running_total(daily, "day", "n").orderBy("day").collect()
    assert rt[-1]["running_total"] == sum(r["n"] for r in rt)
    top = W.top_n(daily, "n", 3, "day").collect()
    assert len(top) == 3
    ma = W.moving_avg(daily, "day", "n", 7).collect()
    assert all(r["ma"] is not None for r in ma)


def test_slack_blocks_shape(spark, sf_dir):
    """Reference block structure (slack.ts:61-262): header icon,
    status/timestamp fields, message, target-date pair, totals field
    pairs, total-amount section, charge-results icon summary."""
    from pixelspark.report import format_slack_blocks

    out = J.run_daily_billing(spark, sf_dir, "2024-01-02", dry_run=True)
    out["status_counts"] = {"success": 3, "failed": 1, "skipped": 2}
    blocks = format_slack_blocks(
        out, success=True, message="ok", timestamp="2024-01-03T00:00:00Z",
        target_date="2024-01-02",
    )
    assert blocks[0]["type"] == "header"
    assert blocks[0]["text"]["text"].startswith("✅")
    assert "*Status:*" in blocks[1]["fields"][0]["text"]
    assert "*Message:*" in blocks[2]["text"]["text"]
    assert "*Target date:*" in blocks[3]["fields"][0]["text"]
    texts = [str(b) for b in blocks]
    assert any("*Total amount:*" in t for t in texts)
    assert any("✅ success: 3" in t and "❌ failed: 1" in t and "⏭️ skipped: 2" in t for t in texts)


def test_slack_blocks_skip_error_and_shop_details():
    """Skip-reason, error/stack, divider + per-shop sections and the
    truncation note (slack.ts:110-118,180-262)."""
    from pixelspark.report import format_slack_blocks

    payload = {"total_amount": 1.0, "total_page_views": 10, "n_shops": 2}
    blocks = format_slack_blocks(
        payload, success=False, skipped=True, skip_reason="no sessions",
        error_details={"message": "boom", "stack": "trace" * 300},
        shop_results=[
            {"shop": f"s{i}", "page_views": i + 1, "billing_amount": "0.01",
             "saved": False, "save_error": "bq down",
             "shopify_status": "skipped", "shopify_error": "Process failed before Shopify billing"}
            for i in range(12)
        ],
    )
    texts = [str(b) for b in blocks]
    assert blocks[0]["text"]["text"].startswith("❌")
    assert any("*Skip reason:*" in t for t in texts)
    assert any("*🔴 Error details:*" in t for t in texts)
    # stack truncated to 1000 chars (slack.ts:191)
    stack_block = next(b for b in blocks if "Stack trace" in str(b))
    assert len(stack_block["text"]["text"]) < 1100
    assert any(b["type"] == "divider" for b in blocks)
    shop_block = next(b for b in blocks if "*s0*" in str(b))
    assert "❌ save failed" in shop_block["text"]["text"]
    assert "⏭️ Shopify skipped" in shop_block["text"]["text"]
    assert "🔴 Shopify error:" in shop_block["text"]["text"]
    assert any("... 2 more shops omitted" in t for t in texts)


def test_observe_metrics_piggyback(spark, sf_dir):
    """df.observe computes audit metrics as a side effect of the action
    — values must equal separately-computed aggregates."""
    from pyspark.sql import functions as F

    from pixelspark.metrics import billing_run_metrics
    from pixelspark.ops.billing import daily_billing
    from pixelspark.schemas import load_table

    out = daily_billing(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "events"), "2024-01-02"
    )
    observed_df, obs = billing_run_metrics(out)
    observed_df.collect()
    m = obs.get
    want = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum("page_views").alias("views"),
        F.round(F.sum("billing_amount"), 2).alias("amt"),
        F.count_if(F.col("billing_amount") <= 0.0).alias("zeros"),
    ).collect()[0]
    assert m["rows"] == want["rows"]
    assert m["total_views"] == want["views"]
    assert m["total_amount"] == want["amt"]
    assert m["zero_amount_rows"] == want["zeros"]


def test_backfill_idempotent_range(spark, sf_dir, tmp_path):
    """Backfilling a 3-day range then re-running one day must converge
    to the identical table (partition replacement, never append)."""
    from pyspark.sql import functions as F

    from pixelspark.job import run_backfill
    from pixelspark.ops.billing import daily_billing
    from pixelspark.schemas import load_table
    from pixelspark.table import SnapshotTable

    table = str(tmp_path / "bill_backfill")
    out = run_backfill(spark, sf_dir, "2024-01-02", "2024-01-04", table)
    assert out["backfilled_days"] == ["2024-01-02", "2024-01-03", "2024-01-04"]
    snap = SnapshotTable(spark, table)
    first = sorted(map(tuple, snap.read().collect()))

    # rerun the middle day: nothing may change
    run_backfill(spark, sf_dir, "2024-01-03", "2024-01-03", table)
    second = sorted(map(tuple, snap.read().collect()))
    assert first == second

    # and each day equals a fresh computation
    want = daily_billing(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "events"), "2024-01-03"
    ).withColumn("shop", F.col("shop").cast("string"))
    got = snap.read().where(F.col("billing_date") == "2024-01-03")
    assert got.count() == want.count()
    assert got.select(*want.columns).exceptAll(want).count() == 0


def test_slack_blocks_zero_active_shops():
    """Zero active shops is a legitimate count: with shop_results
    provided, the block must say 0 — not fall through to a stale
    payload n_active_shops (the falsy-`or` bug)."""
    from pixelspark.report import format_slack_blocks

    payload = {"total_amount": 0.0, "total_page_views": 0, "n_shops": 3,
               "n_active_shops": 7}
    blocks = format_slack_blocks(
        payload, success=True, message="ok", timestamp="t", target_date="d",
        shop_results=[{"shop": f"s{i}", "page_views": 0} for i in range(3)],
    )
    active = next(b for b in blocks if "Shops with page views" in str(b))
    field = next(f for f in active["fields"] if "Shops with page views" in f["text"])
    assert field["text"].endswith("\n0")
    # without shop_results the payload value is still the fallback
    blocks2 = format_slack_blocks(
        payload, success=True, message="ok", timestamp="t", target_date="d",
    )
    active2 = next(b for b in blocks2 if "Shops with page views" in str(b))
    field2 = next(f for f in active2["fields"] if "Shops with page views" in f["text"])
    assert field2["text"].endswith("\n7")


def test_build_report_single_action_and_payload_shape(spark, sf_dir, monkeypatch):
    """The report payload (totals + top shops + status counts) must be
    assembled in ONE driver barrier — the three sections are unioned
    and collected once, not three sequential collect()s.  (One ACTION
    is the observable contract; AQE legitimately splits it into
    several internal jobs.)"""
    from pyspark.sql import DataFrame

    from pixelspark.ops import billing as B
    from pixelspark.report import build_report
    from pixelspark.schemas import load_table

    bill = B.daily_billing(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "events"),
        "2024-01-02",
    )
    status_counts = spark.createDataFrame(
        [("success", 3), ("failed", 1)], "status string, n long"
    )
    collects = []
    cls = type(bill)  # the concrete (classic) DataFrame class overrides collect
    assert issubclass(cls, DataFrame)
    real_collect = cls.collect
    monkeypatch.setattr(
        cls, "collect", lambda self: (collects.append(1), real_collect(self))[1]
    )
    payload = build_report(bill, status_counts)
    assert len(collects) == 1, f"expected 1 collect, saw {len(collects)}"
    assert payload["n_shops"] == 150
    assert payload["status_counts"] == {"success": 3, "failed": 1}
    top = payload["top_shops"]
    assert 0 < len(top) <= 10
    # driver-side re-sort preserves report_rows' ordering contract
    keys = [(-r["page_views"], r["shop"]) for r in top]
    assert keys == sorted(keys)
    assert all(set(r) >= {"shop", "page_views", "page_views_str", "amount_str"} for r in top)
