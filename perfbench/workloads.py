"""The three workloads. Each drives the program only through its public
functions and checks every output against oracles.py.

A workload has `ops` (the timed operation names, in round order),
`prepare()` (input generation, untimed but part of set-up) and
`round(i, run)`, which runs round i's operations under `run.op(name)`
and reports each check with `run.check(name, ok, why)`.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
from pyspark.sql import functions as F

import gen
import oracles
from pixelspark import job
from pixelspark.ops import llm
from pixelspark.ops import matview as MV
from pixelspark.table import SnapshotTable


def make_charge_api(log_path: str, billing_date: str):
    """The fake charge API: local, no sleeps, one appended line per call
    (a single O_APPEND write, so calls from concurrent tasks do not
    interleave). Runs inside Python workers."""

    def charge(shop, amount):
        fd = os.open(log_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, f"{billing_date},{shop},{amount}\n".encode())
        finally:
            os.close(fd)
        return f"ch_{billing_date}_{shop}"

    return charge


def api_calls(log_path: str, billing_date: str) -> Counter:
    if not os.path.exists(log_path):
        return Counter()
    with open(log_path) as f:
        return Counter(int(line.split(",")[1]) for line in f if line.startswith(billing_date + ","))


class Workload:
    ops: tuple[str, ...] = ()
    warmup_rounds = 1
    round_s = 5.0  # nominal round length: a run times round(--seconds / round_s) rounds

    def start_timed(self) -> None:
        """Called after the warm-up rounds."""

    def end_timed(self, traced: bool) -> None:
        """Called after the timed rounds, before the session stops."""


class DailyBilling(Workload):
    """`job.run_daily_billing` over consecutive days, each followed by a
    `job.current_billing_state` read-back of that day."""

    ops = ("batch", "readback")
    warmup_rounds = 2

    def __init__(self, spark, root: str, seed: int, max_rounds: int):
        self.spark, self.seed = spark, seed
        self.sf_dir = f"{root}/input"
        self.table = f"{root}/usage_records"
        self.ledger = f"{root}/ledger"
        self.api_log = f"{root}/api_calls.log"
        self.n_days = max_rounds
        self.charged_total = 0

    def _calls(self) -> int:
        if not os.path.exists(self.api_log):
            return 0
        with open(self.api_log) as f:
            return sum(1 for _ in f)

    def start_timed(self) -> None:
        self._marks = (self.charged_total, self._calls())

    def end_timed(self, traced: bool) -> None:
        self.timed_charged = self.charged_total - self._marks[0]
        self.timed_calls = self._calls() - self._marks[1]

    def prepare(self) -> None:
        os.makedirs(self.sf_dir)
        gen.write_customer(f"{self.sf_dir}/customer.parquet", self.seed)
        gen.write_events(f"{self.sf_dir}/events.parquet", self.seed, self.n_days)
        self.con = duckdb.connect()

    def round(self, i: int, run) -> None:
        d = gen.day(i)
        with run.op("batch"):
            report = job.run_daily_billing(
                self.spark, self.sf_dir, d, table_path=self.table,
                ledger_dir=self.ledger, charge_fn=make_charge_api(self.api_log, d))
        with run.op("readback"):
            back = (job.current_billing_state(self.spark, self.table)
                    .where(F.col("billing_date") == F.lit(d).cast("date"))
                    .toPandas())

        bill = oracles.expected_bill(self.con, self.sf_dir, i)
        charged = oracles.charged(bill)
        self.charged_total += len(charged)
        want = oracles.expected_report(bill)
        got = {k: report.get(k) for k in want}
        run.check("batch", got == want, f"report {d}: {got} != {want}")
        calls = api_calls(self.api_log, d)
        run.check("batch", calls == Counter(charged),
                  f"api calls {d}: {dict(calls)} != once per {sorted(charged)}")

        want_rows = sorted(
            (str(s), pv, float(a), "success" if s in charged else "skipped",
             f"ch_{d}_{s}" if s in charged else None)
            for s, (pv, a) in bill.items())
        got_rows = sorted(
            (r.shop, int(r.page_views), float(r.billing_amount), r.shopify_billing_status,
             r.shopify_charge_id if isinstance(r.shopify_charge_id, str) else None)
            for r in back.itertuples(index=False))
        run.check("readback", got_rows == want_rows,
                  f"read-back {d}: {len(got_rows)} rows differ from the oracle's {len(want_rows)}")

        # Known fault: the lazy charge results feed two consumers, so the
        # charge stage runs twice and the report sees 'duplicate' where
        # the table holds 'success'. Counted as a failed operation.
        want_sc = {"success": len(charged), "skipped": len(bill) - len(charged)}
        run.status_op("status", report.get("status_counts") == want_sc)


class TableDML(Workload):
    """Rounds of SnapshotTable writes beside reads on one billing-shaped
    table, plus an aggregate view refreshed from its change feed, then
    near-dup detection in both MinHash families over a small corpus."""

    ops = ("append", "merge", "delete", "scan", "refresh", "dedup", "portable")
    warmup_rounds = 2
    SCHEMA = "shop long, billing_date string, page_views long, billing_amount double, status string"

    def __init__(self, spark, root: str, seed: int, max_rounds: int):
        self.spark, self.seed = spark, seed
        self.root = root
        self.model = oracles.TableModel()
        self.corpus = Corpus(spark, f"{root}/documents.parquet", seed, gen.SMALL_BASE_DOCS, 0.8)

    def prepare(self) -> None:
        self.table = SnapshotTable(self.spark, f"{self.root}/usage", stats_cols=("shop",))
        self.view = SnapshotTable(self.spark, f"{self.root}/by_day")
        self.corpus.prepare()

    def end_timed(self, traced: bool) -> None:
        if traced:
            self.corpus.count_candidates()

    def _df(self, rows):
        return (self.spark.createDataFrame(rows, self.SCHEMA)
                .withColumn("billing_date", F.col("billing_date").cast("date")))

    def round(self, i: int, run) -> None:
        t, m = self.table, self.model
        batch = gen.dml_batch(self.seed, i)
        batch_df = self._df(batch)
        with run.op("append"):
            v = t.append_once(batch_df, "ingest", i)
        m.append(batch)
        run.check("append", v is not None, f"round {i}: append_once committed nothing")
        run.check("append", t.append_once(batch_df, "ingest", i) is None,
                  f"round {i}: replayed append_once committed again")

        src = gen.dml_merge_source(self.seed, i, sorted(m.rows))
        src_df = self._df(src)
        with run.op("merge"):
            t.merge(src_df, keys=("shop", "billing_date"), mode="dv")
        m.merge(src)

        gone = gen.day(i - gen.DML_KEEP_DAYS)
        with run.op("delete"):
            t.delete((F.col("billing_date") == F.lit(gone).cast("date"))
                     | ((F.col("billing_date") == F.lit(gen.day(i)).cast("date"))
                        & (F.col("page_views") < 250)), mode="dv")
        m.delete_day(gone)
        m.rows = {k: r for k, r in m.rows.items() if not (k[1] == gen.day(i) and r[0] < 250)}

        lo = (i * 2_003) % (gen.DML_SHOPS - 2_000)
        with run.op("scan"):
            rows = t.read(predicates=[("shop", ">=", lo), ("shop", "<", lo + 2_000)]).collect()
        got = sorted((r.shop, r.billing_date.isoformat(), r.page_views, r.billing_amount, r.status)
                     for r in rows)
        run.check("scan", got == m.scan(lo, lo + 2_000),
                  f"round {i}: scan of shops [{lo}, {lo + 2000}) differs from the model")

        with run.op("refresh"):
            MV.refresh_agg_view(t, self.view, group_by=("billing_date",),
                                sum_cols=("page_views",), src_keys=("shop", "billing_date"))
        view = {r.billing_date.isoformat(): (r.n, r.page_views) for r in self.view.read().collect()}
        run.check("refresh", view == m.agg_view(), f"round {i}: view {view} != model")

        self.corpus.dedup(run)
        self.corpus.portable(run)

    def manifest_kb(self) -> float:
        total = 0
        for t in (self.table, self.view):
            d = f"{t.root}/_manifests"
            total += sum(os.path.getsize(f"{d}/{n}") for n in os.listdir(d))
        return total / 1024


class Corpus:
    """A seeded corpus with planted duplicates, and the near-dup ops over
    it with their checks."""

    THRESHOLD = 0.5

    def __init__(self, spark, path: str, seed: int, n_base: int, recall_floor: float):
        self.spark, self.path, self.seed = spark, path, seed
        self.n_base, self.recall_floor = n_base, recall_floor
        self.cc_rounds = self.verified_pairs = self.candidate_pairs = 0

    def prepare(self) -> None:
        docs, self.exact, self.near = gen.documents(self.seed, self.n_base)
        gen.write_documents(self.path, docs)
        self.shingles = {i: gen.shingles(t) for i, t in docs}
        self.docs = self.spark.read.parquet(self.path)
        groups: dict[str, int] = {}
        for i, t in docs:
            k = oracles.normalize(t)
            groups[k] = min(i, groups.get(k, i))
        self.winners = set(groups.values())

    def count_candidates(self) -> None:
        """The LSH candidates near_dup_pairs verifies, counted apart."""
        sigs = llm.minhash_signatures(self.docs)
        self.candidate_pairs = llm.lsh_candidate_pairs(sigs, bands=8, rows_per_band=4).count()

    def _check_pairs(self, op: str, rows, run) -> set:
        pairs = {(r.id_a, r.id_b) for r in rows}
        bad = [(r.id_a, r.id_b) for r in rows
               if not (r.id_a < r.id_b
                       and r.jaccard >= self.THRESHOLD
                       and abs(oracles.pair_jaccard(self.shingles, r.id_a, r.id_b) - r.jaccard) < 1e-9)]
        run.check(op, not bad and len(pairs) == len(rows), f"{op}: pairs fail Jaccard recheck: {bad[:5]}")
        run.check(op, all(p in pairs for p in self.exact), f"{op}: a planted exact copy was missed")
        recall = sum(p in pairs for p in self.near) / len(self.near)
        run.check(op, recall >= self.recall_floor, f"{op}: near-dup recall {recall:.3f}")
        return pairs

    def dedup(self, run) -> None:
        stats: dict = {}
        with run.op("dedup"):
            pairs_df = llm.near_dup_pairs(self.docs, threshold=self.THRESHOLD)
            clusters = llm.dedup_clusters(pairs_df, stats=stats).collect()
            pair_rows = pairs_df.collect()
        self.cc_rounds = stats.get("rounds", 0)
        pairs = self._check_pairs("dedup", pair_rows, run)
        want = oracles.components(pairs)
        run.check("dedup", {r.doc_id: r.cluster_id for r in clusters} == want,
                  "dedup: cluster ids differ from union-find components")
        self.verified_pairs = len(pairs)

    def portable(self, run) -> None:
        with run.op("portable"):
            rows = llm.portable_near_dup_pairs(self.docs, threshold=self.THRESHOLD).collect()
        self._check_pairs("portable", rows, run)

    def curate(self, run) -> None:
        with run.op("curate"):
            chunks = llm.curate_corpus(self.docs).collect()
        kept = {r.doc_id for r in chunks}
        run.check("curate", bool(kept) and kept <= self.winners
                  and not kept & {c for _, c in self.exact},
                  "curate: a planted exact copy or a non-canonical doc survived")


class CorpusDedup(Workload):
    """Near-duplicate detection in both MinHash families plus corpus
    curation over a seeded corpus with planted duplicates."""

    ops = ("dedup", "portable", "curate")
    warmup_rounds = 1
    round_s = 6.0

    def __init__(self, spark, root: str, seed: int, max_rounds: int):
        self.corpus = Corpus(spark, f"{root}/documents.parquet", seed, gen.N_BASE_DOCS, 0.95)

    def prepare(self) -> None:
        self.corpus.prepare()

    def end_timed(self, traced: bool) -> None:
        if traced:
            self.corpus.count_candidates()

    def round(self, i: int, run) -> None:
        self.corpus.dedup(run)
        self.corpus.portable(run)
        self.corpus.curate(run)


WORKLOADS = {"daily_billing": DailyBilling, "table_dml": TableDML, "corpus_dedup": CorpusDedup}
