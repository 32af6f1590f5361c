"""Job orchestration — the reference's entry points as a Spark driver
program (reference src/index.ts:12-111, src/services/billing.ts:29-239).

Preserved semantics:
* target date parameter: explicit ``--date`` or tz-aware "yesterday"
  (JST) default (billing.ts:242-247, index.ts:78-79)
* early exit when the session dimension is empty (billing.ts:56-69)
* write-before-charge ordering: pending records are durably appended
  BEFORE any external charge call (billing.ts:83-122 — "never charge
  what wasn't durably recorded"); charge outcomes land as new rows,
  current state is the latest-wins view.  Both writes are
  exactly-once SnapshotTable commits keyed by (day, stage), so a rerun
  of the day records nothing twice
* dry-run mode = testBilling: pure read replay, no writes, no charges
  (billing.ts:282-325)
"""

from __future__ import annotations

import argparse
import datetime
from collections.abc import Callable
from zoneinfo import ZoneInfo

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pixelspark import io as pio
from pixelspark.ops import billing as B
from pixelspark.ops import external as X
from pixelspark.report import build_report
from pixelspark.schemas import USAGE_RECORDS, load_table
from pixelspark.session import get_spark
from pixelspark.table import ConcurrentWriteConflict, SnapshotTable


def default_target_date(tz: str = "Asia/Tokyo", today: datetime.datetime | None = None) -> str:
    """Yesterday in the billing timezone (reference billing.ts:242-247)."""
    now = today or datetime.datetime.now(ZoneInfo(tz))
    return (now.astimezone(ZoneInfo(tz)).date() - datetime.timedelta(days=1)).isoformat()


def run_daily_billing(
    spark: SparkSession,
    sf_dir: str,
    target_date: str,
    table_path: str | None = None,
    ledger_dir: str | None = None,
    charge_fn: Callable[[int, float], str] | None = None,
    dry_run: bool = False,
) -> dict:
    """The full daily batch. Returns the report payload dict."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")

    # stage 4 parity: empty session dimension -> skip the whole batch
    if customer.isEmpty():
        return {"skipped": True, "reason": "no sessions", "target_date": target_date}

    bill = B.daily_billing(customer, events, target_date)

    if dry_run:  # testBilling: read-only replay (index.ts:74-111)
        return {"dry_run": True, "target_date": target_date, **build_report(bill)}

    assert table_path and ledger_dir and charge_fn is not None

    # one row per shop, read by the pending write, the charge plan, the
    # outcome enrich and the report: derive it from the events scan once
    bill = bill.localCheckpoint(eager=True)
    records = bill.withColumn("shop", F.col("shop").cast("string"))
    table = _usage_table(spark, table_path)
    # each (day, stage) commits once: a rerun of the day, or of a run
    # that crashed between the two commits, adds no row twice
    app_id = f"daily_billing/{target_date}"

    # stage 7: durably record pending BEFORE charging (billing.ts:83-122)
    _record(table, records.withColumn("shopify_billing_status", F.lit("pending")), app_id, 1)

    # stage 8: bounded, retrying, idempotent external charges
    plan = bill.select(
        "shop", F.col("billing_amount").alias("amount")
    ).withColumn(
        "status",
        F.when(F.col("amount") <= 0, F.lit("skipped")).otherwise(F.lit("pending")),
    )
    # the charge stage runs exactly once, here, and both consumers (the
    # outcome write and the report's status counts) read its stored
    # rows: a second run would find every ledger key claimed and report
    # 'duplicate' where the table holds 'success'.  localCheckpoint, not
    # cache(): a lost block fails the job instead of re-running charges.
    results = X.charge_shops(plan, target_date, charge_fn, ledger_dir).localCheckpoint(
        eager=True
    )

    # stage 9: record outcomes as NEW rows (append-as-update)
    enriched = X.enrich_with_results(
        records, results.withColumn("shop", F.col("shop").cast("string"))
    )
    _record(table, enriched, app_id, 2)

    status_counts = results.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
    return {
        "dry_run": False,
        "target_date": target_date,
        **build_report(bill, status_counts),
    }


def _usage_table(spark: SparkSession, table_path: str) -> SnapshotTable:
    """The billing log as a snapshot table partitioned by billing_date,
    created empty on first use so a day's read prunes to its partition."""
    table = SnapshotTable(spark, table_path)
    if not table.exists():
        try:
            table.overwrite(
                spark.createDataFrame([], USAGE_RECORDS),
                partition_col="billing_date",
                expected_version=None,
            )
        except ConcurrentWriteConflict:
            pass  # a rival run created it first
    return table


def _record(table: SnapshotTable, rows: DataFrame, app_id: str, batch_id: int) -> None:
    """S4/P7 — stamp created_at, align to the log's schema
    (bigquery.ts:112-137) and commit the batch once per (app_id, batch_id)."""
    stamped = rows.withColumn("created_at", F.current_timestamp())
    table.append_once(pio.align_to_schema(stamped, USAGE_RECORDS), app_id, batch_id)


def run_daily_billing_safe(spark: SparkSession, sf_dir: str, target_date: str, **kwargs) -> dict:
    """Error-model parity with processDailyBilling
    (reference billing.ts:191-239): never raises — failures come back
    as an error-shaped result with context; because the pending append
    precedes any charge, a read-path failure aborts BEFORE external
    side effects (the reference's ordering guarantee).

    On failure the reference RE-DERIVES the billing records and
    attaches a per-shop context row to the error result — shop, page
    views, amount, shopifyStatus 'skipped', shopifyError 'Process
    failed before Shopify billing' (billing.ts:203-215).  Mirrored
    here as a lazy DataFrame (`shop_results`) rather than a collected
    list: at 100 TB the context is still one partition-pruned
    aggregation, and the caller decides whether to materialize it.
    The context derivation itself is guarded like the reference's
    nested try/catch (billing.ts:216-218)."""
    try:
        return run_daily_billing(spark, sf_dir, target_date, **kwargs)
    except Exception as exc:
        err = str(exc)[:1000]  # truncation parity: slack.ts:191
        result = {
            "success": False,
            "error": err,
            "target_date": target_date,
        }
        try:
            bill = B.daily_billing(
                load_table(spark, sf_dir, "customer"),
                load_table(spark, sf_dir, "events"),
                target_date,
            )
            result["shop_results"] = bill.select(
                "shop",
                "page_views",
                "billing_amount",
                F.lit(False).alias("saved"),
                F.lit(err).alias("save_error"),
                F.lit("skipped").alias("shopify_status"),
                F.lit("Process failed before Shopify billing").alias("shopify_error"),
            )
        except Exception:  # context is best-effort (billing.ts:216-218)
            result["shop_results"] = None
        return result


def run_backfill(
    spark: SparkSession,
    sf_dir: str,
    start_date: str,
    end_date: str,
    table_path: str,
) -> dict:
    """Backfill a date range into the billing table, idempotently.

    Unlike the daily run's append-as-update path (which preserves the
    reference's audit-log semantics for live operation), a backfill
    re-DERIVES each day from source events, so the right storage
    semantic is a partition replacement: each recomputed day replaces
    exactly its own `billing_date=` partition in one manifest commit
    and nothing else — re-running the backfill (crash recovery,
    corrected input) converges to the same table instead of growing
    it.  Each day is
    one independent Spark job over a partition-pruned scan; the loop
    over days is driver-side orchestration, not data movement."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    d0 = datetime.date.fromisoformat(start_date)
    d1 = datetime.date.fromisoformat(end_date)
    days = []
    table = SnapshotTable(spark, table_path)
    d = d0
    while d <= d1:
        day = d.isoformat()
        bill = B.daily_billing(customer, events, day).withColumn(
            "shop", F.col("shop").cast("string")
        )
        table.replace_partitions(bill, "billing_date")
        days.append(day)
        d += datetime.timedelta(days=1)
    return {"backfilled_days": days, "table_path": table_path}


def current_billing_state(spark: SparkSession, table_path: str) -> DataFrame:
    """Read-back: the current bill per (shop, billing_date) — the
    latest-wins view over the append-only log.  A missing table reads
    as an empty log (S6)."""
    table = SnapshotTable(spark, table_path)
    log = table.read() if table.exists() else spark.createDataFrame([], USAGE_RECORDS)
    return pio.latest_state(
        log, keys=("shop", "billing_date"), order_col="created_at",
        tiebreak=("shopify_billing_status",),
    )


def main() -> None:
    ap = argparse.ArgumentParser(description="pixelspark daily billing job")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--date", default=None, help="YYYY-MM-DD (default: JST yesterday)")
    ap.add_argument("--table", default=None, help="usage_records table path")
    ap.add_argument("--ledger", default=None, help="idempotency ledger dir")
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()
    spark = get_spark("pixelspark-job")
    date = args.date or default_target_date()
    result = run_daily_billing(
        spark,
        args.sf_dir,
        date,
        table_path=args.table,
        ledger_dir=args.ledger,
        charge_fn=(lambda shop, amount: f"gid://charge/{shop}") if not args.dry_run else None,
        dry_run=args.dry_run,
    )
    print(result)


if __name__ == "__main__":
    main()
