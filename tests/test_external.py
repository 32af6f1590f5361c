"""External charge sink (S8): retry/backoff, zero-amount skip,
bounded concurrency (thread pool), idempotency under task replay —
mirrors src/test/shopifyBilling.test.ts and adds the at-least-once
hazard the reference never faces."""

from __future__ import annotations

from pyspark.sql import types as T

from pixelspark.ops import external as X


def test_charge_with_retry_backoff():
    attempts = []
    delays = []

    def flaky(shop, amount):
        attempts.append(1)
        if len(attempts) < 3:
            raise RuntimeError("429 too many requests")
        return "gid://charge/1"

    status, cid, err, n = X.charge_with_retry(
        flaky, 1, 5.0, max_retries=3, base_delay=1.0, sleep=delays.append
    )
    assert (status, cid, n) == ("success", "gid://charge/1", 3)
    assert delays == [1.0, 2.0]  # 1s * 2^(n-1) — shopifyBilling.ts:123-129


def test_charge_with_retry_exhaustion():
    def always_fail(shop, amount):
        raise RuntimeError("boom")

    status, cid, err, n = X.charge_with_retry(
        always_fail, 1, 5.0, max_retries=3, base_delay=0.0, sleep=lambda _d: None
    )
    assert (status, cid, n) == ("failed", None, 3)
    assert "boom" in err


def test_two_call_no_line_item_fails_without_retry():
    """Reference taxonomy (shopifyBilling.ts:97-106): a missing usage
    line item is an IMMEDIATE failed — one lookup, no mutation, no
    retry — with the exact reference error string."""
    lookups, mutations, delays = [], [], []

    def lookup(shop):
        lookups.append(shop)
        return None

    def mutate(shop, line_item, amount):
        mutations.append(shop)
        return "gid://charge/x"

    status, cid, err, n = X.charge_with_retry_two_call(
        lookup, mutate, 1, 5.0, max_retries=3, base_delay=1.0, sleep=delays.append
    )
    assert (status, cid, n) == ("failed", None, 1)
    assert err == X.NO_LINE_ITEM_ERROR
    assert lookups == [1] and mutations == [] and delays == []


def test_two_call_mutation_failure_retries_then_fails():
    """Mutation errors (GraphQL userErrors / missing charge id throw,
    ts:218-231) DO retry with backoff — distinct from no-line-item."""
    delays = []

    def lookup(shop):
        return "gid://line/1"

    def mutate(shop, line_item, amount):
        raise RuntimeError("GraphQL errors: Total price exceeds balance remaining")

    status, cid, err, n = X.charge_with_retry_two_call(
        lookup, mutate, 1, 5.0, max_retries=3, base_delay=1.0, sleep=delays.append
    )
    assert (status, cid, n) == ("failed", None, 3)
    assert "Total price exceeds balance" in err and err != X.NO_LINE_ITEM_ERROR
    assert delays == [1.0, 2.0]


def test_two_call_lookup_exception_retries_to_success():
    """A lookup that THROWS (network) retries — only a clean
    None return is the unretried no-line-item case."""
    calls = []

    def lookup(shop):
        calls.append(shop)
        if len(calls) == 1:
            raise RuntimeError("Rate limit exceeded")
        return "gid://line/1"

    def mutate(shop, line_item, amount):
        assert line_item == "gid://line/1"
        return f"gid://charge/{shop}"

    status, cid, err, n = X.charge_with_retry_two_call(
        lookup, mutate, 7, 5.0, max_retries=3, base_delay=0.0, sleep=lambda _d: None
    )
    assert (status, cid, err, n) == ("success", "gid://charge/7", None, 2)


def test_normalize_api_error_statuses():
    assert X.normalize_api_error(401, "x") == "Invalid access token"
    assert X.normalize_api_error(429, "x") == "Rate limit exceeded"
    assert X.normalize_api_error(503, "x") == "Shopify API error: 503"
    assert X.normalize_api_error(None, "conn reset") == "API request failed: conn reset"


def test_connection_probe():
    assert X.test_connection(lambda: "shop") is True
    def boom():
        raise RuntimeError("Invalid access token")
    assert X.test_connection(boom) is False


PLAN_SCHEMA = T.StructType(
    [
        T.StructField("shop", T.LongType(), False),
        T.StructField("amount", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def _plan(spark, rows):
    return spark.createDataFrame(rows, PLAN_SCHEMA)


def test_charge_shops_skip_and_success(spark, tmp_path):
    plan = _plan(spark, [(1, 5.0, "pending"), (2, 0.0, "skipped"), (3, -1.0, "skipped")])
    res = X.charge_shops(
        plan, "2024-01-02", lambda s, a: f"gid://charge/{s}",
        ledger_dir=str(tmp_path / "ledger"), base_delay=0.0,
    )
    got = {r["shop"]: r for r in res.collect()}
    assert got[1]["status"] == "success" and got[1]["charge_id"] == "gid://charge/1"
    assert got[2]["status"] == "skipped" and got[2]["charge_id"] is None
    assert got[3]["status"] == "skipped"


def test_idempotency_no_double_charge(spark, tmp_path):
    """Replaying the charge stage (Spark task retry / job rerun) must
    not charge the same (shop, billing_date) twice."""
    ledger = str(tmp_path / "ledger")
    plan = _plan(spark, [(1, 5.0, "pending"), (2, 7.0, "pending")])
    calls = []

    def charge(shop, amount):
        calls.append(shop)
        return f"gid://charge/{shop}"

    first = X.charge_shops(plan, "2024-01-02", charge, ledger_dir=ledger, base_delay=0.0)
    assert {r["status"] for r in first.collect()} == {"success"}
    # replay: same plan, same ledger -> all duplicates, no external calls
    second = X.charge_shops(plan, "2024-01-02", charge, ledger_dir=ledger, base_delay=0.0)
    second = {r["shop"]: (r["status"], r["charge_id"]) for r in second.collect()}
    # the ledger kept each charge id, so the replay still reports it
    assert second == {1: ("duplicate", "gid://charge/1"), 2: ("duplicate", "gid://charge/2")}
    # a DIFFERENT billing date is a fresh charge
    third = X.charge_shops(plan, "2024-01-03", charge, ledger_dir=ledger, base_delay=0.0)
    assert {r["status"] for r in third.collect()} == {"success"}


def test_charge_pool_bounds_calls_in_flight(spark, tmp_path):
    """p-limit(N) parity: the billable shops are charged by a pool of
    max_concurrency threads in one task — never more calls in flight,
    and more than one, so the pool is really used.  The charge fn runs
    in a Python worker, so it logs entry and exit to a file under a
    lock."""
    import fcntl
    import time

    log = tmp_path / "inflight.log"

    def charge(shop, amount):
        def mark(sign):
            with open(log, "a") as f:
                fcntl.flock(f, fcntl.LOCK_EX)
                f.write(f"{sign}\n")
                fcntl.flock(f, fcntl.LOCK_UN)

        mark("+1")
        time.sleep(0.05)
        mark("-1")
        return f"gid://charge/{shop}"

    plan = _plan(spark, [(i, 1.0, "pending") for i in range(20)])
    res = X.charge_shops(
        plan, "2024-01-02", charge, ledger_dir=str(tmp_path / "ledger"),
        max_concurrency=3, base_delay=0.0,
    )
    assert {r["status"] for r in res.collect()} == {"success"}
    inflight, peak = 0, 0
    for delta in log.read_text().split():
        inflight += int(delta)
        peak = max(peak, inflight)
    assert inflight == 0 and 2 <= peak <= 3


def _python_skip_rule(status, amount):
    """The zero-amount skip rule on one row's Python values — the
    reference the Column expression in charge_shops must match."""
    return status == "skipped" or amount is None or amount <= 0


def test_skip_classification_matches_python_rule(spark, tmp_path):
    """The Catalyst skip rule gives every row the status the per-row
    Python rule gives it — NULL status and NaN amount are billable,
    NULL amount is skipped — and only billable shops are claimed and
    called."""
    rows = [
        (1, None, "pending"),
        (2, 5.0, None),
        (3, 0.0, "pending"),
        (4, -1.0, "pending"),
        (5, 5.0, "skipped"),
        (6, float("nan"), "pending"),
        (7, 5.0, "pending"),
    ]
    schema = T.StructType(
        [
            T.StructField("shop", T.LongType(), False),
            T.StructField("amount", T.DoubleType(), True),
            T.StructField("status", T.StringType(), True),
        ]
    )
    calls = tmp_path / "calls.log"

    def charge(shop, amount):
        with open(calls, "a") as f:
            f.write(f"{shop}\n")
        return f"gid://charge/{shop}"

    ledger = tmp_path / "ledger"
    res = X.charge_shops(
        spark.createDataFrame(rows, schema), "2024-01-02", charge,
        ledger_dir=str(ledger), base_delay=0.0,
    )
    got = {r["shop"]: r["status"] for r in res.collect()}
    want = {
        shop: "skipped" if _python_skip_rule(status, amount) else "success"
        for shop, amount, status in rows
    }
    assert want == {1: "skipped", 2: "success", 3: "skipped", 4: "skipped",
                    5: "skipped", 6: "success", 7: "success"}
    assert got == want
    billable = {shop for shop, s in want.items() if s == "success"}
    assert {int(p.name.split("__")[0]) for p in ledger.iterdir()} == billable
    assert {int(s) for s in calls.read_text().split()} == billable


def test_enrich_with_results(spark, tmp_path):
    from pyspark.sql import functions as F

    plan = _plan(spark, [(1, 5.0, "pending"), (2, 0.0, "skipped")])
    res = X.charge_shops(
        plan, "2024-01-02", lambda s, a: f"gid://c/{s}",
        ledger_dir=str(tmp_path / "ledger"), base_delay=0.0,
    )
    records = plan.select("shop", "amount")
    enriched = X.enrich_with_results(records, res)
    got = {r["shop"]: r["shopify_billing_status"] for r in enriched.collect()}
    assert got == {1: "success", 2: "skipped"}


def test_charge_shops_two_call_full_taxonomy(spark, tmp_path):
    """End-to-end through the DataFrame sink: every status of the
    reference taxonomy in one run — skipped (zero amount), failed
    (no line item, exact error string), failed (mutation error),
    success — and duplicate on replay."""
    ledger = str(tmp_path / "ledger")
    plan = _plan(
        spark,
        [(1, 5.0, "pending"), (2, 0.0, "skipped"), (3, 5.0, "pending"), (4, 5.0, "pending")],
    )

    def lookup(shop):
        return None if shop == 3 else f"gid://line/{shop}"

    def mutate(shop, line_item, amount):
        if shop == 4:
            raise RuntimeError("GraphQL errors: boom")
        return f"gid://charge/{shop}"

    res = X.charge_shops(
        plan, "2024-01-02", None, ledger_dir=ledger, base_delay=0.0,
        lookup_fn=lookup, mutate_fn=mutate,
    )
    got = {r["shop"]: r for r in res.collect()}
    assert got[1]["status"] == "success" and got[1]["charge_id"] == "gid://charge/1"
    assert got[2]["status"] == "skipped"
    assert got[3]["status"] == "failed" and got[3]["error_message"] == X.NO_LINE_ITEM_ERROR
    assert got[3]["attempts"] == 1  # no retry for no-line-item
    assert got[4]["status"] == "failed" and "boom" in got[4]["error_message"]
    assert got[4]["attempts"] == 3  # mutation failures retried
    # replay: the two attempted-charge shops are duplicates; skipped stays skipped
    replay = X.charge_shops(
        plan, "2024-01-02", None, ledger_dir=ledger, base_delay=0.0,
        lookup_fn=lookup, mutate_fn=mutate,
    )
    got2 = {r["shop"]: r["status"] for r in replay.collect()}
    assert got2 == {1: "duplicate", 2: "skipped", 3: "duplicate", 4: "duplicate"}


def test_cogroup_reconcile_matches_reference(spark, sf_dir):
    """Cogrouped FIFO reconciliation: statuses follow the synthetic
    perturbation exactly, and the distributed result equals the
    single-threaded pandas reference on the same inputs."""
    import pandas as pd

    from pyspark.sql import functions as F

    from pixelspark.ops.billing import daily_billing
    from pixelspark.ops.external import _fifo_match, reconcile_charges
    from pixelspark.schemas import load_table

    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    bills = (
        daily_billing(cust, ev, "2024-01-02")
        .where(F.col("page_views") > 0)
        .select(
            "shop",
            F.col("billing_date").cast("string").alias("billing_date"),
            F.col("billing_amount").alias("amount"),
        )
    )
    bpdf = bills.toPandas()
    # perturb: shop%3==0 exact charge, %3==1 no charge, %3==2 wrong amount
    rows = []
    for i, r in bpdf.iterrows():
        m = int(r["shop"]) % 3
        if m == 1:
            continue
        amt = float(r["amount"]) if m == 0 else float(r["amount"]) + 1.0
        rows.append((int(r["shop"]), 1000 + i, amt))
    cpdf = pd.DataFrame(rows, columns=["shop", "charge_id", "amount"])
    charges = spark.createDataFrame(cpdf)
    got = reconcile_charges(bills, charges).toPandas()
    by_status = got.groupby("status").size().to_dict()
    n0 = (bpdf["shop"] % 3 == 0).sum()
    n1 = (bpdf["shop"] % 3 == 1).sum()
    n2 = (bpdf["shop"] % 3 == 2).sum()
    assert by_status.get("matched", 0) == n0
    assert by_status.get("uncharged_bill", 0) == n1 + n2
    assert by_status.get("unbilled_charge", 0) == n2
    # distributed == single-threaded reference, shop by shop
    ref_rows = []
    for shop in set(bpdf["shop"]) | set(cpdf["shop"]):
        ref_rows.extend(
            _fifo_match(
                bpdf[bpdf["shop"] == shop],
                cpdf[cpdf["shop"] == shop],
            )
        )
    ref = pd.DataFrame(
        ref_rows, columns=["shop", "billing_date", "amount", "charge_id", "status"]
    )
    key = ["shop", "billing_date", "amount", "charge_id", "status"]
    a = got[key].fillna(-1).sort_values(key).reset_index(drop=True)
    b = ref[key].fillna(-1).sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
