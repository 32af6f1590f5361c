"""S8 — the external charge sink: bounded-concurrency, retrying,
idempotent per-shop external API calls (reference
src/services/shopifyBilling.ts:58-140,234-280).

The reference runs in exactly one process (max-instances=1) with
p-limit(5) and 3 retries at 1s*2^(n-1) backoff.  Spark executes tasks
at-least-once, so a naive port would double-charge on task retry — the
#1 semantic hazard (SURVEY.md §7).  Design:

* zero-amount skip: a Column expression classifies each plan row, so
  skipped rows become result rows by a projection and never reach a
  Python worker (shopifyBilling.ts:68-74).
* concurrency bound: the billable rows are shuffled into ONE partition
  and one mapInPandas task maps them through a thread pool of
  `max_concurrency` threads -> at most `max_concurrency` calls in
  flight, the reference's p-limit(N) in one process, and one Python
  task per charge stage whatever the plan's parallelism.
* retries: per-call retry loop with exponential backoff inside the
  task (Spark task retries alone would replay whole partitions).
* idempotency: an at-most-once ledger keyed by (shop, billing_date).
  A key is claimed with an atomic O_CREAT|O_EXCL file create before
  the external call, and a successful call's charge id is written into
  the claim file; a replayed task sees the claim and skips the call,
  reporting 'duplicate' with the recorded charge id.  On a cluster the
  ledger dir lives on shared storage (the semantics only need atomic
  create).
* results come back as a DataFrame via mapInPandas so the enrich
  stage (J3) is a plain join.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("shop", T.LongType(), False),
        T.StructField("billing_date", T.StringType(), False),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("charge_id", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("attempts", T.IntegerType(), False),
    ]
)


def _key_path(ledger_dir: str, shop: object, billing_date: str) -> str:
    return os.path.join(ledger_dir, f"{shop}__{billing_date}")


def claim_key(ledger_dir: str, shop: object, billing_date: str) -> bool:
    """Atomically claim an idempotency key. True = first claim (caller
    performs the external call), False = already claimed (skip).

    Runs INSIDE executor tasks, so it uses plain file APIs: the
    at-most-once guarantee holds exactly where O_CREAT|O_EXCL is
    atomic (POSIX, NFSv3+, HDFS-fuse) — a CHECKED precondition:
    charge_shops probes the ledger dir driver-side via
    storage.ledger_precondition before any task runs, and object-store
    schemes (no atomic create-if-absent) are rejected outright."""
    os.makedirs(ledger_dir, exist_ok=True)
    key_path = _key_path(ledger_dir, shop, billing_date)
    try:
        fd = os.open(key_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
        return True
    except FileExistsError:
        return False


def record_charge_id(ledger_dir: str, shop: object, billing_date: str, charge_id: str) -> None:
    """Write a successful call's charge id into its claimed key file and
    fsync it, so a later claimant can report which charge billed the
    shop (claimed_charge_id)."""
    fd = os.open(_key_path(ledger_dir, shop, billing_date), os.O_WRONLY)
    try:
        os.write(fd, charge_id.encode())
        os.fsync(fd)
    finally:
        os.close(fd)


def claimed_charge_id(ledger_dir: str, shop: object, billing_date: str) -> str | None:
    """The charge id recorded under a claimed key; None when the claim
    holds none (the call failed, or is still in flight) or the file
    cannot be read."""
    try:
        with open(_key_path(ledger_dir, shop, billing_date), encoding="utf-8") as f:
            return f.read() or None
    except (OSError, UnicodeDecodeError):
        return None


def charge_with_retry(
    charge_fn: Callable[[int, float], str],
    shop: int,
    amount: float,
    max_retries: int = 3,
    base_delay: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[str, str | None, str | None, int]:
    """Retry loop mirroring chargeShopWithRetry
    (shopifyBilling.ts:91-140): attempts <= max_retries, backoff
    base_delay * 2^(n-1). Returns (status, charge_id, error, attempts)."""
    last_err: str | None = None
    for attempt in range(1, max_retries + 1):
        try:
            charge_id = charge_fn(shop, amount)
            return "success", charge_id, None, attempt
        except Exception as exc:  # transient or permanent — retry like the reference
            last_err = str(exc)
            if attempt < max_retries:
                sleep(base_delay * (2 ** (attempt - 1)))
    return "failed", None, last_err, max_retries


# Exact reference error strings (shopifyBilling.ts:99-106, 265-276).
NO_LINE_ITEM_ERROR = "No active usage-based subscription found"


def charge_with_retry_two_call(
    lookup_fn: Callable[[int], str | None],
    mutate_fn: Callable[[int, str, float], str],
    shop: int,
    amount: float,
    max_retries: int = 3,
    base_delay: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[str, str | None, str | None, int]:
    """The reference's REAL charge shape (shopifyBilling.ts:90-140):
    a subscription-line-item lookup, then the usage-charge mutation —
    with its status taxonomy preserved:

    * lookup returns no usage-pricing line item -> immediate 'failed'
      with NO_LINE_ITEM_ERROR and NO retry (ts:97-106 returns, it does
      not throw);
    * lookup or mutation RAISING (network, GraphQL userErrors, missing
      charge id — ts:218-231) -> retry with backoff, then 'failed'
      with the last error.

    Returns (status, charge_id, error, attempts)."""
    last_err: str | None = None
    for attempt in range(1, max_retries + 1):
        try:
            line_item = lookup_fn(shop)
            if line_item is None:
                return "failed", None, NO_LINE_ITEM_ERROR, attempt
            charge_id = mutate_fn(shop, line_item, amount)
            return "success", charge_id, None, attempt
        except Exception as exc:
            last_err = str(exc)
            if attempt < max_retries:
                sleep(base_delay * (2 ** (attempt - 1)))
    return "failed", None, last_err, max_retries


def normalize_api_error(status_code: int | None, message: str) -> str:
    """HTTP-status -> error-string mapping of the reference's GraphQL
    transport (shopifyBilling.ts:265-276): 401/429/5xx get canonical
    messages, anything else is wrapped as a failed request."""
    if status_code == 401:
        return "Invalid access token"
    if status_code == 429:
        return "Rate limit exceeded"
    if status_code is not None and status_code >= 500:
        return f"Shopify API error: {status_code}"
    return f"API request failed: {message}"


def test_connection(probe_fn: Callable[[], object]) -> bool:
    """Health check parity (shopifyBilling.ts:282-299): run a trivial
    probe, True on success, False (never raise) on any failure."""
    try:
        probe_fn()
        return True
    except Exception:
        return False


def charge_shops(
    plan: DataFrame,
    billing_date: str,
    charge_fn: Callable[[int, float], str] | None,
    ledger_dir: str,
    max_concurrency: int = 5,
    max_retries: int = 3,
    base_delay: float = 1.0,
    lookup_fn: Callable[[int], str | None] | None = None,
    mutate_fn: Callable[[int, str, float], str] | None = None,
) -> DataFrame:
    """Execute the charge plan. `plan` needs (shop, amount, status).
    A row is skipped — no ledger claim, no external call
    (zero-amount skip, shopifyBilling.ts:68-74) — when its status is
    'skipped', its amount is NULL or its amount is not > 0 (NaN is
    billable).  That rule is a Column expression: skipped rows become
    result rows by a projection and never reach Python.

    The billable rows are shuffled into one partition (`repartition(1)`,
    so the upstream plan keeps its parallelism) and one mapInPandas task
    maps them through a pool of `max_concurrency` threads: at most
    `max_concurrency` calls in flight (p-limit(N)), and the charge
    callables are called from up to `max_concurrency` threads of one
    Python process.  `plan` is read by both parts, so materialize it
    first when it is expensive to derive.

    Pass (lookup_fn, mutate_fn) to run the reference's two-call
    sequence with its full failure taxonomy (no-line-item 'failed'
    distinct from mutation 'failed' — see charge_with_retry_two_call);
    `charge_fn` alone keeps the simpler one-call shape.

    The idempotency ledger's atomic-create requirement is verified
    up-front (fail fast, before any external call is attempted)."""
    from pixelspark.storage import ledger_precondition

    ledger_precondition(ledger_dir)
    two_call = lookup_fn is not None and mutate_fn is not None
    if not two_call and charge_fn is None:
        raise ValueError("need charge_fn, or both lookup_fn and mutate_fn")

    def charge_one(shop: int, amount: float) -> tuple:
        if not claim_key(ledger_dir, shop, billing_date):
            charge_id = claimed_charge_id(ledger_dir, shop, billing_date)
            return (shop, billing_date, amount, "duplicate", charge_id, None, 0)
        if two_call:
            status, charge_id, err, attempts = charge_with_retry_two_call(
                lookup_fn, mutate_fn, shop, amount, max_retries, base_delay
            )
        else:
            status, charge_id, err, attempts = charge_with_retry(
                charge_fn, shop, amount, max_retries, base_delay
            )
        if status == "success" and charge_id is not None:
            record_charge_id(ledger_dir, shop, billing_date, str(charge_id))
        return (shop, billing_date, amount, status, charge_id, err, attempts)

    def run_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_concurrency) as pool:
            for pdf in batches:
                out = list(pool.map(charge_one, pdf["shop"].tolist(), pdf["amount"].tolist()))
                yield pd.DataFrame(out, columns=RESULT_SCHEMA.fieldNames())

    rows = plan.select("shop", "amount", "status")
    # never NULL (a NULL amount makes the middle term true), so ~skip
    # selects exactly the rows skip leaves out
    skip = (
        F.col("status").eqNullSafe("skipped")
        | F.col("amount").isNull()
        | ~(F.col("amount") > 0)
    )
    skipped = rows.where(skip).select(
        "shop",
        F.lit(billing_date).alias("billing_date"),
        "amount",
        F.lit("skipped").alias("status"),
        F.lit(None).cast("string").alias("charge_id"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(0).alias("attempts"),
    )
    charged = rows.where(~skip).repartition(1).mapInPandas(run_partition, RESULT_SCHEMA)
    return skipped.union(charged)


def enrich_with_results(records: DataFrame, results: DataFrame) -> DataFrame:
    """J3 — attach charge outcomes back onto billing records
    (reference billing.ts:133-149); results are per-shop, broadcast."""
    res = results.select(
        "shop",
        F.col("charge_id").alias("shopify_charge_id"),
        F.col("status").alias("shopify_billing_status"),
        F.col("error_message").alias("shopify_error_message"),
    )
    return records.join(F.broadcast(res), "shop", "left")


RECONCILE_SCHEMA = T.StructType(
    [
        T.StructField("shop", T.LongType(), False),
        T.StructField("billing_date", T.StringType(), True),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("charge_id", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def _fifo_match(bills_pdf: pd.DataFrame, charges_pdf: pd.DataFrame) -> list[tuple]:
    """Single-shop FIFO reconciliation: walk bills oldest-first, claim
    the first unclaimed charge with the exact amount; leftovers on
    either side become uncharged_bill / unbilled_charge rows.  Shared
    by the distributed cogroup path and the test reference."""
    bills = bills_pdf.sort_values(["billing_date"]).reset_index(drop=True)
    charges = charges_pdf.sort_values(["charge_id"]).reset_index(drop=True)
    used = [False] * len(charges)
    out: list[tuple] = []
    for _, b in bills.iterrows():
        hit = None
        for j in range(len(charges)):
            if not used[j] and charges.at[j, "amount"] == b["amount"]:
                hit = j
                break
        if hit is None:
            out.append(
                (int(b["shop"]), str(b["billing_date"]), float(b["amount"]), None, "uncharged_bill")
            )
        else:
            used[hit] = True
            out.append(
                (
                    int(b["shop"]),
                    str(b["billing_date"]),
                    float(b["amount"]),
                    int(charges.at[hit, "charge_id"]),
                    "matched",
                )
            )
    for j in range(len(charges)):
        if not used[j]:
            out.append(
                (
                    int(charges.at[j, "shop"]),
                    None,
                    float(charges.at[j, "amount"]),
                    int(charges.at[j, "charge_id"]),
                    "unbilled_charge",
                )
            )
    return out


def reconcile_charges(bills: DataFrame, charges: DataFrame) -> DataFrame:
    """Bill-vs-charge reconciliation via COGROUPED applyInPandas.

    The matching is ORDER-DEPENDENT (greedy FIFO claim of charges by
    bills, oldest bill first) — a per-entity sequential algorithm that
    relational joins cannot express without a quadratic unrolling, the
    textbook case for cogroup: Spark shuffles BOTH relations once on
    the shop key and hands each shop's two aligned pandas frames to
    one task.  State is bounded by a single shop's rows, the same
    bound any per-entity reconciliation carries at 100 TB; there is no
    driver-side collection anywhere.
    """

    def _reconcile(key, bills_pdf: pd.DataFrame, charges_pdf: pd.DataFrame):
        shop = key[0]
        if bills_pdf.empty and charges_pdf.empty:
            return pd.DataFrame(columns=[f.name for f in RECONCILE_SCHEMA.fields])
        for pdf in (bills_pdf, charges_pdf):
            if "shop" not in pdf.columns or pdf.empty:
                pdf["shop"] = shop
        rows = _fifo_match(bills_pdf, charges_pdf)
        return pd.DataFrame(rows, columns=[f.name for f in RECONCILE_SCHEMA.fields])

    return (
        bills.groupBy("shop")
        .cogroup(charges.groupBy("shop"))
        .applyInPandas(_reconcile, RECONCILE_SCHEMA)
    )
