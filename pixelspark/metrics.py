"""Pipeline observability: `df.observe` attaches aggregate metrics
(row counts, sums, null rates) that are computed ON THE EXECUTORS as a
side effect of the action already running — zero extra passes, zero
extra shuffles.  The 100-TB alternative (a separate `.count()` /
`.agg()` per metric) re-reads the table once per metric; `observe`
piggybacks on the job you were going to run anyway.

The reference logs per-run record counts around every BigQuery batch
(services/billing.ts:170-176 console summaries); this is that audit
trail done inside the engine.
"""

from __future__ import annotations

import time
import warnings

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

_OBSERVE_WARNED = False


def observed(df: DataFrame, name: str, *metrics: Column) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a DataFrame; read `obs.get` after the
    first action completes.  Default metric set when none given:
    row count."""
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("rows"),)
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def billing_run_metrics(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Audit metrics for a billing-run output: row count, total views,
    total billed amount, and zero-amount row count (the reference's
    skip-charge set, shopifyBilling.ts:68-74)."""
    return observed(
        df,
        "billing_run",
        F.count(F.lit(1)).alias("rows"),
        F.sum("page_views").alias("total_views"),
        F.round(F.sum("billing_amount"), 2).alias("total_amount"),
        F.count_if(F.col("billing_amount") <= 0.0).alias("zero_amount_rows"),
    )


def observed_long(obs: Observation, key: str) -> int | None:
    """Bounded read of an Observation metric: poll the JVM-side
    getOrEmpty (never the blocking `obs.get`, which hangs if the
    listener bus dropped the event) and give up after ~0.5 s, so the
    caller runs its fallback job instead.

    Depends on PySpark's private Observation._jo and the JVM
    getOrEmpty.  If a Spark upgrade removes them, every caller would
    silently pay the poll plus its fallback job, so the first such
    miss emits a one-time RuntimeWarning instead."""
    jo = getattr(obs, "_jo", None)
    if jo is None:
        _warn_observe_dead("Observation._jo is missing")
        return None
    for _ in range(10):
        try:
            m = jo.getOrEmpty()
            if not m.isEmpty():
                return int(m.apply(key))
        except Py4JError as e:
            # getOrEmpty legitimately throws while the row is unset on
            # some builds; only a MISSING METHOD (py4j "does not
            # exist") means the private API moved under us
            if "does not exist" in str(e):
                _warn_observe_dead("JVM getOrEmpty is gone")
                return None
        time.sleep(0.05)
    return None


def _warn_observe_dead(why: str) -> None:
    global _OBSERVE_WARNED
    if not _OBSERVE_WARNED:
        _OBSERVE_WARNED = True
        warnings.warn(
            f"observe-based metric reads unavailable ({why}); every "
            "observed count (snapshot writes, dv merges, dedup "
            "convergence rounds) will poll ~0.5s then run a fallback "
            "job — a Spark-internals change likely broke "
            "metrics.observed_long",
            RuntimeWarning,
        )
