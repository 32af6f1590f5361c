"""Scale evidence harness.

1. Builds a synthetic sf~1 dataset in /tmp by replicating sf0.1 with
   shifted keys (10x lineitem/orders/events), then times the heavy
   queries at sf0.1 vs sf~1 — the ratio shows whether the plans scale
   linearly (they should: one partial-aggregated shuffle each, AQE
   sizing the reduce side).
2. Builds a pathologically skewed events table (one user owns half the
   rows) and times plain vs salted aggregation.

Usage: python tools/scale_probe.py
Prints a JSON line per experiment.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pixelspark.session import get_spark
from pixelspark import queries as Q

BASE = "/tmp/pixelspark_scale"
SF01 = "/root/testdata/sf0.1"
QUERIES = [
    "q_daily_billing",
    "q_revenue_by_flag",
    "q_star_join",
    "q_latest_state",
    "q_pageviews_agg",
    # round-2b packs: pure-pushdown scan, keyset semi-join, bitmap distinct
    "q_forecast_revenue",
    "q_large_orders",
    "q_bitmap_distinct",
    # round-3: iterative graph op (events-derived edges scale 10x)
    "q_pagerank",
]

# round-4: bucketed-dedup heavy tail at 10x documents — the 100-TB
# claim for these rested on plan shape alone; these rows make it a
# measured cost curve.  The 10x documents are key-shifted AND
# alphabet-rotated per copy (see build_sf1), so intra-copy near-dup
# structure is preserved while cross-copy shingles are disjoint —
# pair density stays ~constant and the expected cost curve is linear.
DEDUP_QUERIES = [
    "q_minhash_fast",
    "q_dedup_clusters_fast",
    "q_cross_dedup",
    # round-5b: ExactSubstr span detection — postings self-join +
    # islands window; copies share no grams (alphabet rotation) so
    # postings-list sizes and span count scale ~10x -> expect ~linear
    "q_duplicate_spans",
    # round-5c: DSIR fit+score — two corpus passes with bounded-key
    # shuffles (bucket ids, doc ids); expect ~linear
    "q_dsir_weights",
]


def build_sf1(spark) -> str:
    out = os.path.join(BASE, "sf1")
    if os.path.isdir(os.path.join(out, "events.parquet")):
        # relational tables cached from a previous probe run; the 10x
        # documents build has its own marker (older caches hold a 1x
        # copy, which would silently void the dedup scale rows)
        marker = os.path.join(out, "documents.10x")
        if not os.path.exists(marker):
            _build_documents_10x(spark, out)
            open(marker, "w").close()
        return out
    os.makedirs(out, exist_ok=True)
    for name, key_cols in [
        ("lineitem", {"l_orderkey": 10_000_000}),
        ("orders", {"o_orderkey": 10_000_000, "o_custkey": 1_000_000}),
        ("events", {"event_id": 10_000_000, "user_id": 0}),
        ("customer", {"c_custkey": 1_000_000}),
    ]:
        df = spark.read.parquet(f"{SF01}/{name}.parquet")
        copies = []
        for i in range(10):
            c = df
            for col, stride in key_cols.items():
                if stride:
                    c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        u.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    for name in ["nation", "region", "supplier", "part", "embeddings"]:
        src = f"{SF01}/{name}.parquet"
        dst = f"{out}/{name}.parquet"
        if not os.path.exists(dst):
            df = spark.read.parquet(src)
            df.write.mode("overwrite").parquet(dst)
    marker = os.path.join(out, "documents.10x")
    if not os.path.exists(marker):
        _build_documents_10x(spark, out)
        open(marker, "w").close()
    return out


ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _build_documents_10x(spark, out: str) -> None:
    """10x documents with PRESERVED dup structure: each copy shifts
    doc_id and rotates the alphabet (translate), so tokens of copy i
    never collide with copy j — near-dup pairs exist within each copy
    exactly as in the original, and the pair count scales ~10x (not
    the ~100x a verbatim replication would produce via every copy of
    doc X matching every other copy)."""
    df = spark.read.parquet(f"{SF01}/documents.parquet")
    copies = []
    for i in range(10):
        rot = ALPHA[i:] + ALPHA[:i]
        copies.append(
            df.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000)).withColumn(
                "text", F.translate(F.col("text"), ALPHA + ALPHA.upper(), rot + rot.upper())
            )
        )
    u = copies[0]
    for c in copies[1:]:
        u = u.unionByName(c)
    u.write.mode("overwrite").parquet(f"{out}/documents.parquet")


def time_queries(spark, sf_dir: str, names: list[str] | None = None) -> dict[str, float]:
    times = {}
    for name in names or QUERIES:
        t0 = time.time()
        Q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.time() - t0, 3)
    return times


def cc_rounds_experiment(spark) -> dict:
    """Round-count advantage of alternating-star CC over min-label
    propagation on a long chain (the pathological dedup-graph shape:
    drifting revisions A~B~C~...).  Diameter 256 means propagation
    pays ~256 rounds; star must land in O(log n)."""
    from pixelspark.ops import llm as L

    n = 256
    chain = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(n)], "id_a long, id_b long, jaccard double"
    )
    star_stats: dict = {}
    t0 = time.time()
    star = {r["doc_id"]: r["cluster_id"]
            for r in L.dedup_clusters_star(chain, stats=star_stats).collect()}
    t_star = round(time.time() - t0, 3)
    prop_stats: dict = {}
    t0 = time.time()
    prop = {r["doc_id"]: r["cluster_id"]
            for r in L.dedup_clusters(chain, max_iter=n + 5, stats=prop_stats).collect()}
    t_prop = round(time.time() - t0, 3)
    return {
        "experiment": "cc_chain_diameter_256",
        "star_rounds": star_stats["rounds"],
        "propagation_rounds": prop_stats["rounds"],
        "star_sec": t_star,
        "propagation_sec": t_prop,
        "results_identical": star == prop,
    }


def snapshot_union_experiment(spark) -> dict:
    """Read-cost curve of the snapshot table vs live-commit count: 60
    daily replace_partitions commits leave 60 one-day entries (a
    60-way union of pruned scans); partition-subset compaction folds
    them back.  Measures the planning+scan overhead the compaction
    cadence controls — the number behind the 'union width is the
    knob' claim in PLANS.md."""
    import shutil
    import tempfile

    from pixelspark.table import SnapshotTable

    root = tempfile.mkdtemp(prefix="pixelspark_snapprobe_") + "/t"
    t = SnapshotTable(spark, root)
    days = []
    for d in range(60):
        day = f"2024-{(d // 28) + 1:02d}-{(d % 28) + 1:02d}"
        days.append(day)
        df = (
            spark.range(2000)
            .select(
                (F.col("id") % 50).alias("shop"),
                F.lit(day).cast("date").alias("day"),
                (F.col("id") % 97).cast("double").alias("amount"),
            )
        )
        t.replace_partitions(df, "day")
    n_entries = len(t.manifest(t.latest_version())["entries"])

    def timed_read() -> float:
        t0 = time.time()
        t.read().groupBy("shop").agg(F.sum("amount")).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.time() - t0, 3)

    wide = min(timed_read(), timed_read())
    t.compact()
    t.vacuum(keep_versions=1)
    compacted = min(timed_read(), timed_read())
    shutil.rmtree(root, ignore_errors=True)
    return {
        "experiment": "snapshot_read_union_width",
        "live_entries_before": n_entries,
        "read_agg_sec_60_entries": wide,
        "read_agg_sec_compacted": compacted,
    }


def skew_experiment(spark) -> dict:
    from pixelspark.ops.relational import salted_count

    path = os.path.join(BASE, "skewed_events")
    if not os.path.isdir(path):
        n = 5_000_000
        half = (
            spark.range(n // 2)
            .select(F.lit(0).alias("user_id"), (F.col("id") % 1000).alias("v"))
        )
        rest = (
            spark.range(n // 2)
            .select((F.col("id") % 5000 + 1).alias("user_id"), (F.col("id") % 1000).alias("v"))
        )
        half.unionByName(rest).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    t0 = time.time()
    plain = df.groupBy("user_id").count()
    plain.write.format("noop").mode("overwrite").save()
    t_plain = round(time.time() - t0, 3)
    t0 = time.time()
    salted = salted_count(df, "user_id", count_alias="count")
    salted.write.format("noop").mode("overwrite").save()
    t_salted = round(time.time() - t0, 3)
    a = {r["user_id"]: r["count"] for r in plain.collect()}
    b = {r["user_id"]: r["count"] for r in salted.collect()}
    return {
        "experiment": "skew_5M_one_key_50pct",
        "plain_sec": t_plain,
        "salted_sec": t_salted,
        "results_identical": a == b,
        "hot_key_rows": a.get(0),
    }


def skew_join_experiment(spark) -> dict:
    """Hot-key JOIN probe — the join-side complement of
    skew_experiment's aggregate finding: one user owns 50% of a wide
    2M-row fact table, joined to a 5k-row dim.  Four strategies:

    a) broadcast dim — the production default for J1-shaped joins
       (ops/billing.py): skew-IMMUNE, because the fact side never
       shuffles on the join key at all;
    b) forced shuffle join with AQE skew-split disabled — the naive
       plan whose hot reduce partition becomes the straggler;
    c) forced shuffle join with AQE skew-split enabled
       (spark.sql.adaptive.skewJoin: the hot partition is split into
       advisory-sized sub-partitions, dim side replicated);
    d) salted shuffle join — fact rows get a random salt in [0, 16),
       dim rows are replicated 16x, join on (key, salt): the manual
       version of (c) for engines/joins AQE can't split.

    All four must return identical aggregates; the timings show the
    broadcast plan is the skew fix whenever one side fits, and AQE
    skew-split ~ salting when neither does."""
    path = os.path.join(BASE, "skewed_fact_wide")
    if not os.path.isdir(path):
        n = 2_000_000
        pad = "x" * 96  # widen rows so byte-based skew thresholds see the hot partition
        half = spark.range(n // 2).select(
            F.lit(0).alias("user_id"), (F.col("id") % 1000).alias("v"), F.lit(pad).alias("pad")
        )
        rest = spark.range(n // 2).select(
            (F.col("id") % 5000 + 1).alias("user_id"),
            (F.col("id") % 1000).alias("v"),
            F.lit(pad).alias("pad"),
        )
        half.unionByName(rest).write.mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.range(5001).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("grp")
    )

    def agg(j):
        return j.groupBy("grp").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        )

    def timed(build):
        best, rows = None, None
        for _ in range(2):  # best-of-2 cancels JIT/ordering warm-up bias
            t0 = time.time()
            rows = {(r["grp"], r["s"], r["n"]) for r in build().collect()}
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3), rows

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        t_bcast, r_bcast = timed(lambda: agg(fact.join(F.broadcast(dim), "user_id")))
        # force the shuffle-join path: no static or adaptive broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        t_naive, r_naive = timed(lambda: agg(fact.join(dim, "user_id")))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-mode data is small; drop the split thresholds so the
        # 50%-hot partition actually qualifies as skewed
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8MB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
        t_aqe, r_aqe = timed(lambda: agg(fact.join(dim, "user_id")))

        def salted():
            n_salt = 16
            f = fact.withColumn("salt", (F.rand(7) * n_salt).cast("int"))
            d = dim.crossJoin(
                spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
            )
            return agg(f.join(d, ["user_id", "salt"]))

        t_salt, r_salt = timed(salted)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return {
        "experiment": "skew_join_2M_one_key_50pct",
        "broadcast_sec": t_bcast,
        "shuffle_naive_sec": t_naive,
        "shuffle_aqe_skew_split_sec": t_aqe,
        "shuffle_salted_sec": t_salt,
        "results_identical": r_bcast == r_naive == r_aqe == r_salt,
    }


def stats_skipping_experiment(spark) -> dict:
    """File-stats data skipping at commit-heavy scale: a table built
    from 40 scattered appends (every file spans the full key range)
    vs the same table after a z-order compact.  Measures a selective
    two-sided point-range query: files scanned + wall-clock, stats
    pruning vs full scan + residual filter.

    The judged claim: clustering converts manifest stats into skipped
    I/O — scattered ingest order prunes ~nothing, the clustered
    rewrite prunes ~90%+ of files before Spark plans the scan."""
    import random
    import tempfile

    from pixelspark.table import SnapshotTable

    root = tempfile.mkdtemp(prefix="probe_stats_") + "/t"
    t = SnapshotTable(spark, root, stats_cols=("x", "y"))
    rng = random.Random(11)
    n_commits, rows_per = 40, 50_000
    for c in range(n_commits):
        rows = [(c * rows_per + i, rng.randrange(100_000), rng.randrange(100_000))
                for i in range(rows_per)]
        t.append(spark.createDataFrame(rows, "k long, x long, y long")
                 .repartition(4))
    preds = [("x", "<", 5_000), ("y", ">=", 95_000)]

    def run(predicates):
        t0 = time.time()
        df = t.read(predicates=predicates) if predicates else (
            t.read().where("x < 5000 AND y >= 95000"))
        n = df.count()
        return round(time.time() - t0, 3), len(df.inputFiles()), n

    scat_full = run(None)
    scat_stats = run(preds)
    t.compact(cluster_by=("x", "y"), num_files=64)
    clus_full = run(None)
    clus_stats = run(preds)
    assert scat_stats[2] == scat_full[2] == clus_stats[2] == clus_full[2]
    return {
        "experiment": "stats_skipping",
        "rows": n_commits * rows_per,
        "scattered": {"files_full": scat_full[1], "files_stats": scat_stats[1],
                      "sec_full": scat_full[0], "sec_stats": scat_stats[0]},
        "zorder_compacted": {"files_full": clus_full[1],
                             "files_stats": clus_stats[1],
                             "sec_full": clus_full[0],
                             "sec_stats": clus_stats[0]},
        "matching_rows": scat_full[2],
    }


def merge_scoping_experiment(spark) -> dict:
    """Partition-scoped MERGE vs full-table rewrite: 60 day-partitions
    x 30k rows; one day's 1k-row delta merged in.  When the partition
    column is part of the merge key, only that day is read and
    rewritten (a manifest edit replaces one partition); the
    unpartitioned table rewrites everything.  The ratio IS the
    100-TB story: scoped cost tracks the delta's partitions, full
    rewrite tracks the table."""
    import tempfile

    from pixelspark.table import SnapshotTable

    n_days, rows_per = 60, 250_000
    base = spark.range(n_days * rows_per).select(
        (F.col("id") % n_days).cast("int").alias("day"),
        F.col("id").alias("k"),
        (F.col("id") % 997).alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),  # widen rows
    )
    delta = spark.range(1000).select(
        F.lit(7).cast("int").alias("day"),
        (F.col("id") * n_days + 7).alias("k"),  # keys inside day=7
        F.lit(-1).cast("long").alias("v"),
        F.lit("updated").alias("payload"),
    )

    part_root = tempfile.mkdtemp(prefix="probe_merge_") + "/part"
    tp = SnapshotTable(spark, part_root)
    tp.replace_partitions(base, "day")
    t0 = time.time()
    tp.merge(delta, keys=("day", "k"), broadcast_source=True)
    scoped = round(time.time() - t0, 3)

    flat_root = tempfile.mkdtemp(prefix="probe_merge_") + "/flat"
    tf = SnapshotTable(spark, flat_root)
    tf.overwrite(base)
    t0 = time.time()
    tf.merge(delta, keys=("day", "k"), broadcast_source=True)
    full = round(time.time() - t0, 3)

    same = (
        tp.read().where("day = 7").agg(F.sum("v")).collect()[0][0]
        == tf.read().where("day = 7").agg(F.sum("v")).collect()[0][0]
    )
    rewritten = [
        p for e in tp.manifest(tp.latest_version())["entries"]
        for p in (e["parts"] or [])
        if e["base"] not in {x["base"] for x in tp.manifest(1)["entries"]}
    ]
    return {
        "experiment": "merge_partition_scoping",
        "days": n_days,
        "rows": n_days * rows_per,
        "delta_rows": 1000,
        "scoped_sec": scoped,
        "full_rewrite_sec": full,
        "ratio": round(full / scoped, 2) if scoped else None,
        "partitions_rewritten_by_scoped": rewritten,
        "results_identical": bool(same),
    }


def dedup_index_experiment(spark) -> dict:
    """O(batch) ingest claim for the persistent dedup index: the same
    500-doc batch ingested into corpora of 2k / 8k / 32k stored docs.
    Stored artifacts mean no corpus re-hashing — ingest cost should
    stay near-flat while the stateless recompute (re-bucketing the
    whole corpus each time) grows with corpus size."""
    import tempfile

    from pixelspark.ops import llm as L
    from pixelspark.schemas import load_table

    base = load_table(spark, SF01, "documents").select("doc_id", "text")
    n_base = base.count()

    def corpus(mult: int):
        copies = [
            base.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            for i in range(mult)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    batch = base.limit(500).withColumn(
        "doc_id", F.col("doc_id") + F.lit(77_000_000)
    ).localCheckpoint()

    results = {}
    for mult in (1, 4, 16):
        idx = L.DedupIndex(
            spark, tempfile.mkdtemp(prefix="probe_didx_") + "/idx",
            threshold=0.5, max_bucket_size=200,
        )
        idx.ingest(corpus(mult))  # build the stored artifacts
        t0 = time.time()
        idx.ingest(batch).write.format("noop").mode("overwrite").save()
        indexed = round(time.time() - t0, 3)
        t0 = time.time()
        L.cross_corpus_near_dup(
            corpus(mult), batch, threshold=0.5, max_bucket_size=200
        ).write.format("noop").mode("overwrite").save()
        stateless = round(time.time() - t0, 3)
        results[f"{mult * n_base}_docs"] = {
            "indexed_ingest_sec": indexed, "stateless_recompute_sec": stateless
        }
    return {"experiment": "dedup_index_ingest", "batch_docs": 500,
            "corpus_sizes": results}


def _replicate_embeddings(spark, mult: int, dim: int = 64):
    """`mult` copies of the sf0.1 embeddings (2k vectors): vec_id
    shifted per copy and components CIRCULARLY ROTATED by 6*copy
    positions.  Rotation preserves norms and each copy's internal
    neighborhood structure but decorrelates copies from each other,
    so extra copies are genuine DISTRACTORS: a query's true top-5
    stays inside its own copy and the recall problem keeps its 1x
    difficulty while the corpus the scan/probe must cover grows 10x.
    (A small per-copy perturbation instead makes every query's top-5
    its own near-identical replicas — trivially bucketable, recall
    saturates at 1.0 and the curve measures nothing.)"""
    from pixelspark.schemas import load_table

    base = load_table(spark, SF01, "embeddings").select("vec_id", "embedding")
    copies = []
    for i in range(mult):
        c = base.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000))
        if i:
            r = (6 * i) % dim
            c = c.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", r + 1, dim - r),
                    F.slice("embedding", 1, r),
                ),
            )
        copies.append(c)
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out.localCheckpoint()


def ann_scale_experiment(spark) -> dict:
    """Measured recall + latency cost curves for the whole ANN family
    at 1x and 10x vectors — the same treatment the dedup pack already
    has (BASELINE.md round-4/5 tables): the 100-TB claims (bucket
    equi-joins, probe pruning, shortlist re-rank) as numbers, not
    assertions.  Timings include quantizer training where the variant
    trains (pq/ivf/ivfpq) — the production VectorIndex trains once;
    the curve's SHAPE is the claim, recall floors are the gates."""
    from pixelspark.ops import llm as L
    from pixelspark.ops import pq as P

    qids = list(range(8))
    results = {}
    # JVM/codegen warm-up outside the measurement
    L.cosine_topk(_replicate_embeddings(spark, 1), qids, k=5) \
        .write.format("noop").mode("overwrite").save()
    for mult in (1, 10):
        emb = _replicate_embeddings(spark, mult)
        n = emb.count()
        truth = {}
        for r in L.cosine_topk(emb, qids, k=5).collect():
            truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

        variants = {
            "exact": lambda e: L.cosine_topk(e, qids, k=5),
            "lsh": lambda e: L.ann_lsh_topk(e, qids, k=5, n_planes=4, n_tables=4),
            "ivf": lambda e: L.ann_ivf_topk(e, qids, k=5, n_clusters=8, n_probe=3),
            "sq8": lambda e: L.ann_sq8_rerank(e, qids, k=5, shortlist=50),
            "pq": lambda e: P.ann_pq_topk(e, qids, k=5, shortlist=100),
            "ivfpq": lambda e: P.ann_ivfpq_topk(
                e, qids, k=5, n_probe=3, shortlist=100
            ),
            # the scale knob: shortlist grows with the corpus (fixed
            # FRACTION scanned, not fixed count) — the standard recall
            # repair for quantization error at bigger N
            "pq_scaled_shortlist": lambda e: P.ann_pq_topk(
                e, qids, k=5, shortlist=100 * mult
            ),
            "ivfpq_scaled_shortlist": lambda e: P.ann_ivfpq_topk(
                e, qids, k=5, n_probe=3, shortlist=100 * mult
            ),
        }
        rows = {}
        for name, fn in variants.items():
            t0 = time.time()
            got = fn(emb).collect()
            secs = round(time.time() - t0, 3)
            by_q: dict = {}
            for r in got:
                by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            recall = sum(
                len(by_q.get(q, set()) & truth[q]) / len(truth[q]) for q in truth
            ) / len(truth)
            rows[name] = {"sec": secs, "recall_at_5": round(recall, 3)}
        results[f"{n}_vectors"] = rows
    return {"experiment": "ann_scale_10x_vectors", "queries": len(qids),
            **results}


def index_compaction_experiment(spark) -> dict:
    """A 10-ingest index must read like a 1-ingest index after
    compact(): the dedup index's probe cost returns to the fresh-build
    level and the vector index's query cost likewise, with manifest
    entries folded 10-and-11 -> 1."""
    import tempfile

    from pixelspark.ops import llm as L
    from pixelspark.ops.pq import VectorIndex
    from pixelspark.schemas import load_table

    out: dict = {"experiment": "index_compaction"}

    # --- DedupIndex: 10 x 500-doc ingests vs 1 x 5000-doc ingest ----
    docs = load_table(spark, SF01, "documents").select("doc_id", "text")
    probe = (
        docs.limit(200)
        .withColumn("doc_id", F.col("doc_id") + F.lit(77_000_000))
        .localCheckpoint()
    )
    frag = L.DedupIndex(
        spark, tempfile.mkdtemp(prefix="probe_didx10_") + "/idx",
        threshold=0.5, max_bucket_size=200,
    )
    for i in range(10):
        frag.ingest(
            docs.where(f"doc_id % 10 = {i}"), app_id="probe", batch_id=i + 1
        )
    entries_before = len(
        frag.buckets.manifest(frag.buckets.latest_version())["entries"]
    )
    t0 = time.time()
    frag.ingest(probe).write.format("noop").mode("overwrite").save()
    t_frag = round(time.time() - t0, 3)
    frag.compact()
    entries_after = len(
        frag.buckets.manifest(frag.buckets.latest_version())["entries"]
    )
    t0 = time.time()
    frag.ingest(
        probe.withColumn("doc_id", F.col("doc_id") + 1_000)
    ).write.format("noop").mode("overwrite").save()
    t_compacted = round(time.time() - t0, 3)
    fresh = L.DedupIndex(
        spark, tempfile.mkdtemp(prefix="probe_didx1_") + "/idx",
        threshold=0.5, max_bucket_size=200,
    )
    fresh.ingest(docs)
    t0 = time.time()
    fresh.ingest(probe).write.format("noop").mode("overwrite").save()
    t_fresh = round(time.time() - t0, 3)
    out["dedup_index"] = {
        "entries_10_ingests": entries_before,
        "entries_after_compact": entries_after,
        "probe_sec_10_ingests": t_frag,
        "probe_sec_after_compact": t_compacted,
        "probe_sec_single_ingest_reference": t_fresh,
    }

    # --- VectorIndex: build + 9 ingests, query pre/post compact -----
    emb10 = _replicate_embeddings(spark, 10)
    vidx = VectorIndex(spark, tempfile.mkdtemp(prefix="probe_vidx_") + "/idx")
    vidx.build(emb10.where("vec_id < 1000000"), n_clusters=8, m=8, ksub=16,
               n_iter=2)
    for i in range(1, 10):
        vidx.ingest(
            emb10.where(
                f"vec_id >= {i * 1_000_000} and vec_id < {(i + 1) * 1_000_000}"
            ),
            batch_id=i,
        )
    v_entries_before = len(
        vidx.codes.manifest(vidx.codes.latest_version())["entries"]
    )
    t0 = time.time()
    vidx.query(emb10, list(range(8)), k=5, n_probe=3, shortlist=100) \
        .write.format("noop").mode("overwrite").save()
    t_pre = round(time.time() - t0, 3)
    vidx.compact(num_files=8)
    v_entries_after = len(
        vidx.codes.manifest(vidx.codes.latest_version())["entries"]
    )
    t0 = time.time()
    vidx.query(emb10, list(range(8)), k=5, n_probe=3, shortlist=100) \
        .write.format("noop").mode("overwrite").save()
    t_post = round(time.time() - t0, 3)
    out["vector_index"] = {
        "entries_10_ingests": v_entries_before,
        "entries_after_compact": v_entries_after,
        "query_sec_10_ingests": t_pre,
        "query_sec_after_compact": t_post,
    }
    return out


def dv_delete_experiment(spark) -> dict:
    """Merge-on-read vs copy-on-write delete cost: delete ~100 rows by
    predicate from an unpartitioned snapshot table at growing sizes.
    Rewrite churns the WHOLE table (O(table) write); the deletion
    vector writes ~100 positions (O(scan) read + O(matched) write), so
    the commit-time gap should widen with table size while dv stays
    near-flat.  Also reports the post-delete read cost (the dv
    read-side anti-join tax)."""
    import tempfile

    from pixelspark.table import SnapshotTable

    def tree_bytes(root: str) -> int:
        total = 0
        for dirpath, _dirnames, filenames in os.walk(root):
            for f in filenames:
                total += os.path.getsize(os.path.join(dirpath, f))
        return total

    results = {}
    for n in (200_000, 2_000_000):
        df = (
            spark.range(n)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 997).alias("g"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            )
        )
        out = {}
        for mode in ("rewrite", "dv"):
            root = tempfile.mkdtemp(prefix=f"probe_dv_{mode}_") + "/t"
            t = SnapshotTable(spark, root)
            t.overwrite(df)
            t.read().write.format("noop").mode("overwrite").save()  # warm
            before = tree_bytes(root)
            t0 = time.time()
            t.delete(f"k % {n // 100} = 7", mode=mode)  # ~100 rows
            out[f"{mode}_delete_sec"] = round(time.time() - t0, 3)
            # wall-clock is noise-dominated at local-NVMe scale; the
            # scale argument is WRITE VOLUME — rewrite emits O(table)
            # bytes per delete, dv O(matched positions)
            out[f"{mode}_bytes_written"] = tree_bytes(root) - before
            t0 = time.time()
            t.read().write.format("noop").mode("overwrite").save()
            out[f"{mode}_read_after_sec"] = round(time.time() - t0, 3)
        out["bytes_ratio_rewrite_over_dv"] = round(
            out["rewrite_bytes_written"] / max(out["dv_bytes_written"], 1), 1
        )
        results[f"{n}_rows"] = out
    return {"experiment": "dv_delete_vs_rewrite", "deleted_rows": "~100",
            **results}


def dv_read_tax_experiment(spark) -> dict:
    """Read tax vs MASKED FRACTION — the measurement behind the
    dv_metrics() compaction heuristic ("compact when masked > ~5%").
    One 2M-row table; DV-delete 0% / 1% / 5% / 20% of rows; time the
    full read (anti-join against the vector set) vs the same table
    compacted (vectors materialized).  The tax should track the
    vector side's size: negligible at 1%, visible at 20%."""
    import tempfile

    from pixelspark.table import SnapshotTable

    n = 2_000_000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 997).alias("g"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    results = {}
    for pct in (0, 1, 5, 20):
        root = tempfile.mkdtemp(prefix=f"probe_dvtax_{pct}_") + "/t"
        t = SnapshotTable(spark, root)
        t.overwrite(df)
        if pct:
            t.delete(f"k % 100 < {pct}", mode="dv")
        t.read().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        t.read().write.format("noop").mode("overwrite").save()
        masked_read = time.time() - t0
        m = t.dv_metrics()
        t.compact()
        t.read().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        t.read().write.format("noop").mode("overwrite").save()
        compacted_read = time.time() - t0
        results[f"masked_{pct}pct"] = {
            "dv_masked_rows": m["dv_masked_rows"],
            "dv_masked_fraction": m["dv_masked_fraction"],
            "dv_bytes": m["dv_bytes"],
            "read_with_dv_sec": round(masked_read, 3),
            "read_compacted_sec": round(compacted_read, 3),
            "tax_ratio": round(masked_read / max(compacted_read, 1e-9), 2),
        }
    return {"experiment": "dv_read_tax_vs_masked_fraction",
            "rows": n, **results}


def widen_read_tax_experiment(spark) -> dict:
    """Does the type-widened read path (explicit declared schema
    instead of mergeSchema inference) cost anything?  One 2M-row
    table read three ways: pre-widening (mergeSchema path), post-
    widening mixed widths (declared-schema path over int+long
    files), and post-compact (uniform wide, flag retired).  The DDL
    itself is also timed — it must be manifest-write flat."""
    import tempfile

    from pixelspark.table import SnapshotTable

    n = 2_000_000
    half = spark.range(n // 2).select(
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 997).cast("int").alias("g"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    root = tempfile.mkdtemp(prefix="probe_widen_") + "/t"
    t = SnapshotTable(spark, root)
    t.append(half)

    def timed_read() -> float:
        t.read().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        t.read().write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    out = {"read_premerge_sec": timed_read()}
    t0 = time.time()
    t.widen_column("g", "bigint")
    out["widen_ddl_sec"] = round(time.time() - t0, 4)
    t.append(half.select(
        "k", (F.col("g").cast("bigint") + (1 << 40)).alias("g"), "payload"
    ))
    out["read_mixed_declared_sec"] = timed_read()
    t.compact()
    out["read_compacted_sec"] = timed_read()
    out["declared_vs_premerge_ratio"] = round(
        out["read_mixed_declared_sec"] / (2 * out["read_premerge_sec"]), 2
    )  # mixed read covers 2x the rows of the pre-merge read
    return {"experiment": "widen_read_tax", "rows_per_width": n // 2, **out}


def matview_experiment(spark) -> dict:
    """Incremental-view refresh cost model, in the deployment shape
    the O(changes) claim actually holds for: a DAY-PARTITIONED source
    updated by partition-scoped merges.  Fold a FIXED-SIZE change
    window (one merge updating ~2,000 rows of a single day) into a
    COUNT/SUM view, on a 10-day source and a 100-day one (10x rows).
    The CDF diffs only the replaced partition (manifest-level entry
    diff) and the fold merges only touched groups, so refresh cost
    must stay near-FLAT while the from-scratch recompute grows with
    the source.  (An unpartitioned full-rewrite source degrades the
    CDF to a whole-table keyed diff — that is the documented
    copy-on-write caveat, not this probe's shape.)"""
    import tempfile

    from pixelspark.ops import matview as MV
    from pixelspark.table import SnapshotTable

    rows_per_day = 20_000
    results = {}
    for days in (10, 100):
        n = days * rows_per_day
        base = tempfile.mkdtemp(prefix=f"probe_mv_{days}d_")
        src = SnapshotTable(spark, base + "/src")
        view = SnapshotTable(spark, base + "/view")
        df = spark.range(n).select(
            (F.col("id") % days).cast("int").alias("day"),
            F.col("id").alias("k"),
            (F.col("id") % 500).cast("string").alias("g"),
            (F.col("id") % 97).cast("long").alias("v"),
        )
        src.replace_partitions(df, "day")
        MV.refresh_agg_view(src, view, group_by=("g",), sum_cols=("v",),
                            src_keys=("day", "k"))
        # the fixed change window: 2,000 updated rows, all in day 3
        # (k div days enumerates a day's rows independently of `day`,
        # so the selection size is identical at both scales)
        upd = df.where(
            (F.col("day") == 3)
            & ((F.col("k") / days).cast("long")
               % (rows_per_day // 2_000) == 1)
        ).withColumn("v", F.col("v") + 1_000)
        src.merge(upd, keys=("day", "k"), validate_keys=False)
        t0 = time.time()
        MV.refresh_agg_view(src, view, group_by=("g",), sum_cols=("v",),
                            src_keys=("day", "k"))
        refresh_sec = time.time() - t0
        t0 = time.time()
        src.read().groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("v")
        ).write.format("noop").mode("overwrite").save()
        recompute_sec = time.time() - t0
        results[f"{days}_days"] = {
            "rows": n,
            "incremental_refresh_sec": round(refresh_sec, 3),
            "full_recompute_sec": round(recompute_sec, 3),
        }
    small, big = results["10_days"], results["100_days"]
    results["refresh_ratio_at_10x_source"] = round(
        big["incremental_refresh_sec"] / small["incremental_refresh_sec"], 2
    )
    results["recompute_ratio_at_10x_source"] = round(
        big["full_recompute_sec"] / small["full_recompute_sec"], 2
    )
    return {"experiment": "matview_refresh", "change_rows": 2000, **results}


def identity_experiment(spark) -> dict:
    """Identity-assignment cost model (table.py _assign_identity): a
    fixed 20k-row append onto a 200k-row vs 2M-row identity table.
    Assignment is two batch-local jobs (per-partition count agg +
    the pid-partitioned rank window) and the commit is one manifest
    write, so append cost must be FLAT in table size — O(batch),
    never O(table)."""
    import tempfile

    from pixelspark.table import SnapshotTable

    results = {}
    for n in (200_000, 2_000_000):
        base = tempfile.mkdtemp(prefix=f"probe_idn_{n}_")
        t = SnapshotTable(spark, base + "/t",
                          identity={"col": "rid", "start": 1, "step": 1})
        t.append(spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")))
        batch = spark.range(n, n + 20_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        t0 = time.time()
        t.append(batch)
        sec = time.time() - t0
        hi = t.manifest(t.latest_version())["identity"]["high"]
        assert hi == n + 20_000 + 1, hi
        results[f"{n}_rows"] = {"append_20k_sec": round(sec, 3)}
    results["append_ratio_at_10x_table"] = round(
        results["2000000_rows"]["append_20k_sec"]
        / results["200000_rows"]["append_20k_sec"], 2)
    return {"experiment": "identity_append", "batch_rows": 20_000,
            **results}


def row_tracking_backfill_experiment(spark) -> dict:
    """Backfill cost curve (VERDICT r8 item 4):
    enable_row_tracking(backfill=True) is ONE distributed rewrite
    (per-partition identity-assign, no global sort) committed like
    compact — so its cost must be ~LINEAR in table size, and on a
    partitioned table the rewrite must preserve the layout (the
    partition column's subdirectory set is unchanged and a
    partition-pruned read still prunes afterwards).  100-TB guidance
    recorded in BASELINE.md: run the backfill PRE-publication (it is
    the one whole-table write the feature ever pays; afterwards every
    assignment is O(batch), pinned flat by the identity_append probe).
    """
    import tempfile

    from pixelspark.table import SnapshotTable

    results: dict = {}
    warm = SnapshotTable(
        spark, tempfile.mkdtemp(prefix="probe_bf_warm_") + "/t")
    warm.append(spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")))
    warm.enable_row_tracking(backfill=True)  # session warm-up
    for n in (200_000, 2_000_000, 20_000_000):
        base = tempfile.mkdtemp(prefix=f"probe_bf_{n}_")
        t = SnapshotTable(spark, base + "/t")
        t.append(spark.range(n).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")))
        t0 = time.time()
        t.enable_row_tracking(backfill=True)
        sec = time.time() - t0
        m = t.manifest(t.latest_version())
        assert m["row_tracking"]["high"] == n + 1, m["row_tracking"]
        results[f"{n}_rows"] = {"backfill_sec": round(sec, 3)}
    results["backfill_ratio_2m_over_200k"] = round(
        results["2000000_rows"]["backfill_sec"]
        / results["200000_rows"]["backfill_sec"], 2)
    results["backfill_ratio_20m_over_2m"] = round(
        results["20000000_rows"]["backfill_sec"]
        / results["2000000_rows"]["backfill_sec"], 2)

    # partition preservation at the larger size: same layout before
    # and after, and manifest-level pruning still works
    base = tempfile.mkdtemp(prefix="probe_bf_part_")
    t = SnapshotTable(spark, base + "/t")
    days = 30
    t.overwrite(
        spark.range(2_000_000).select(
            F.col("id").alias("k"),
            (F.col("id") % days).alias("day"),
        ),
        partition_col="day",
    )
    parts_before = sorted(
        p for e in t.manifest(t.latest_version())["entries"]
        for p in (e["parts"] or []))
    t0 = time.time()
    t.enable_row_tracking(backfill=True)
    sec = time.time() - t0
    parts_after = sorted(
        p for e in t.manifest(t.latest_version())["entries"]
        for p in (e["parts"] or []))
    assert {p.split("=")[0] for p in parts_after} == {"day"}
    assert len(parts_after) == days and parts_before == parts_after
    pruned = t.read(partition_values=[3])
    expect = (2_000_000 - 3 - 1) // days + 1  # ids ≡ 3 (mod days)
    assert pruned.count() == expect
    ids = t.read().agg(
        F.countDistinct("__row_id").alias("d"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    assert ids["d"] == ids["n"] == 2_000_000
    results["partitioned_2m_30days"] = {
        "backfill_sec": round(sec, 3),
        "layout_preserved": True,
        "partition_pruning_intact": True,
    }
    return {"experiment": "row_tracking_backfill", **results}


def topn_matview_experiment(spark) -> dict:
    """TOP-N view refresh cost model (ops/matview.py
    refresh_topn_view): a DAY-partitioned source whose boards are
    per-day top-10s.  A fixed-size change window (one merge touching
    ~2,000 rows of day 3) must re-board ONE day via the manifest-
    pruned partition read — so refresh stays near-FLAT at 10x days
    while the from-scratch all-boards window grows with the source."""
    import tempfile

    from pixelspark.ops import matview as MV
    from pixelspark.table import SnapshotTable
    from pyspark.sql.window import Window

    rows_per_day = 20_000
    results = {}
    for days in (10, 100):
        n = days * rows_per_day
        base = tempfile.mkdtemp(prefix=f"probe_topn_{days}d_")
        src = SnapshotTable(spark, base + "/src")
        view = SnapshotTable(spark, base + "/view")
        df = spark.range(n).select(
            (F.col("id") % days).cast("int").alias("day"),
            F.col("id").alias("k"),
            (F.col("id") % 9973).cast("long").alias("v"),
        )
        src.replace_partitions(df, "day")
        refresh = lambda: MV.refresh_topn_view(  # noqa: E731
            src, view, group_by=("day",), order_by=("v", "k"),
            descending=(True, False), n=10, src_keys=("day", "k"),
        )
        refresh()
        upd = df.where(
            (F.col("day") == 3)
            & ((F.col("k") / days).cast("long")
               % (rows_per_day // 2_000) == 1)
        ).withColumn("v", F.col("v") + 1_000_000)
        src.merge(upd, keys=("day", "k"), validate_keys=False)
        t0 = time.time()
        refresh()
        refresh_sec = time.time() - t0
        w = Window.partitionBy("day").orderBy(
            F.col("v").desc(), F.col("k").asc())
        t0 = time.time()
        src.read().withColumn("r", F.row_number().over(w)).where(
            F.col("r") <= 10
        ).write.format("noop").mode("overwrite").save()
        recompute_sec = time.time() - t0
        results[f"{days}_days"] = {
            "rows": n,
            "incremental_refresh_sec": round(refresh_sec, 3),
            "full_recompute_sec": round(recompute_sec, 3),
        }
    small, big = results["10_days"], results["100_days"]
    results["refresh_ratio_at_10x_source"] = round(
        big["incremental_refresh_sec"] / small["incremental_refresh_sec"], 2
    )
    results["recompute_ratio_at_10x_source"] = round(
        big["full_recompute_sec"] / small["full_recompute_sec"], 2
    )
    return {"experiment": "topn_matview_refresh", "change_rows": 2000,
            **results}


def join_matview_experiment(spark) -> dict:
    """Join-view refresh cost model (ops/matview.py
    refresh_join_view), both phases, at 10x fact size:

      * FACT phase (the production-dominant shape: facts append,
        dims crawl): a fixed 2,000-row fact append folds against the
        pinned 10k-row dim — cost is O(delta ⋈ dim), must stay flat
        while the fact grows 10x.
      * DIM phase: a clustered 100-customer segment move folds
        against the pinned FACT side.  The fact is appended in
        cust-range stripes with stats_cols on the join key, so the
        phase's [min, max] key-range predicates skip every stripe
        but the touched one — pruned-scan cost tracks the key range,
        not the fact size.  (A cust-scattered fact would degrade to a
        full pinned scan — the documented caveat.)

    The from-scratch join+agg recompute is timed for contrast (must
    grow ~linearly)."""
    import tempfile

    from pixelspark.ops import matview as MV
    from pixelspark.table import SnapshotTable

    stripe_rows, custs = 20_000, 10_000
    results = {}
    for stripes in (10, 100):
        n = stripes * stripe_rows
        base = tempfile.mkdtemp(prefix=f"probe_jmv_{stripes}s_")
        fact = SnapshotTable(spark, base + "/fact", stats_cols=("cust",))
        dim = SnapshotTable(spark, base + "/dim")
        view = SnapshotTable(spark, base + "/view")
        per_stripe = custs // stripes
        for s in range(stripes):
            fact.append(
                spark.range(s * stripe_rows, (s + 1) * stripe_rows)
                .select(
                    F.col("id").alias("o"),
                    (s * per_stripe + F.col("id") % per_stripe).alias("cust"),
                    (F.col("id") % 97).cast("long").alias("v"),
                )
                .coalesce(1)
            )
        dim.overwrite(spark.range(custs).select(
            F.col("id").alias("cust"),
            (F.col("id") % 50).cast("string").alias("segment"),
        ))

        def refresh():
            return MV.refresh_join_view(
                fact, dim, view, on=("cust",), group_by=("segment",),
                sum_cols=("v",), left_keys=("o",), right_keys=("cust",),
            )

        refresh()  # initial fold, untimed
        fact.append(spark.range(n, n + 2_000).select(
            F.col("id").alias("o"),
            (F.col("id") % custs).alias("cust"),
            F.lit(5).cast("long").alias("v"),
        ))
        t0 = time.time()
        refresh()
        fact_phase_sec = time.time() - t0
        dim.merge(
            spark.range(100).select(
                F.col("id").alias("cust"), F.lit("moved").alias("segment")
            ),
            keys=("cust",),
        )
        t0 = time.time()
        refresh()
        dim_phase_sec = time.time() - t0
        t0 = time.time()
        fact.read().join(dim.read(), "cust").groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("v")
        ).write.format("noop").mode("overwrite").save()
        recompute_sec = time.time() - t0

        # LEFT view, flip-heavy dim change: deleting 100 clustered
        # customers crosses m0=1 -> m1=0 for each, so the correction
        # emits null-extension rows for exactly their fact rows —
        # pruned to the flipped-key range, must stay flat at 10x fact
        lview = SnapshotTable(spark, base + "/lview")
        MV.refresh_join_view(
            fact, dim, lview, on=("cust",), group_by=("segment",),
            sum_cols=("v",), left_keys=("o",), right_keys=("cust",),
            how="left",
        )
        dim.delete("cust >= 200 AND cust < 300")
        t0 = time.time()
        MV.refresh_join_view(
            fact, dim, lview, on=("cust",), group_by=("segment",),
            sum_cols=("v",), left_keys=("o",), right_keys=("cust",),
            how="left",
        )
        left_flip_sec = time.time() - t0

        results[f"{stripes}_stripes"] = {
            "fact_rows": n + 2_000,
            "fact_phase_refresh_sec": round(fact_phase_sec, 3),
            "dim_phase_refresh_sec": round(dim_phase_sec, 3),
            "left_flip_phase_refresh_sec": round(left_flip_sec, 3),
            "full_recompute_sec": round(recompute_sec, 3),
        }
    small, big = results["10_stripes"], results["100_stripes"]
    for k in ("fact_phase_refresh_sec", "dim_phase_refresh_sec",
              "left_flip_phase_refresh_sec", "full_recompute_sec"):
        results[k.replace("_sec", "_ratio_at_10x_fact")] = round(
            big[k] / small[k], 2
        )
    return {"experiment": "join_matview_refresh",
            "fact_change_rows": 2000, "dim_change_rows": 100, **results}


def clone_experiment(spark) -> dict:
    """SHALLOW CLONE cost model: clone_to must be O(1) in table size
    (one manifest write), while a copy-fork (read + overwrite) pays
    the full data volume.  Forks a small table and a 10x-bigger one;
    the receipt is clone time flat across sizes, copy time growing
    with the data, and the clone reading identical rows."""
    from pixelspark.table import SnapshotTable

    root = os.path.join(BASE, "clone_probe")
    shutil.rmtree(root, ignore_errors=True)
    out: dict = {"experiment": "shallow_clone_cost"}
    for label, frac in [("small", 0.1), ("10x", 1.0)]:
        src_df = spark.read.parquet(f"{SF01}/lineitem.parquet")
        if frac < 1.0:
            src_df = src_df.where(F.col("l_orderkey") % 10 == 0)
        t = SnapshotTable(spark, f"{root}/{label}/src")
        t.overwrite(src_df)
        n = t.row_count()
        t0 = time.time()
        c = t.clone_to(f"{root}/{label}/fork")
        clone_s = time.time() - t0
        t0 = time.time()
        deep = SnapshotTable(spark, f"{root}/{label}/copy")
        deep.overwrite(t.read())
        copy_s = time.time() - t0
        assert c.row_count() == n
        out[label] = {
            "rows": n,
            "clone_sec": round(clone_s, 3),
            "copy_fork_sec": round(copy_s, 3),
            "copy_over_clone": round(copy_s / clone_s, 1) if clone_s else None,
        }
    shutil.rmtree(root, ignore_errors=True)
    return out


def catalog_experiment(spark) -> dict:
    """Catalog publication cost model: publish() / pin advancement
    must be O(names), never O(table) — a publication is one
    small-JSON CAS write plus a manifest listing, regardless of how
    much data the pinned version references.  Receipt: best-of-3
    publish time flat from a small table to a 10x one (each publish
    preceded by an untimed 1-row append so the pin genuinely moves)."""
    from pixelspark.catalog import Catalog

    root = os.path.join(BASE, "catalog_probe")
    shutil.rmtree(root, ignore_errors=True)
    out: dict = {"experiment": "catalog_publication_cost"}
    for label, frac in [("small", 0.1), ("10x", 1.0)]:
        src_df = spark.read.parquet(f"{SF01}/lineitem.parquet")
        if frac < 1.0:
            src_df = src_df.where(F.col("l_orderkey") % 10 == 0)
        cat = Catalog(spark, f"{root}/{label}")
        t = cat.create_table("t")
        t.overwrite(src_df)
        n = t.row_count()
        times = []
        for _ in range(3):
            t.append(src_df.limit(1))  # untimed: make the pin move
            t0 = time.time()
            cat.publish("t")
            times.append(time.time() - t0)
        out[label] = {"rows": n, "publish_sec": round(min(times), 4)}
    out["ratio_at_10x_data"] = (
        round(out["10x"]["publish_sec"] / out["small"]["publish_sec"], 2)
        if out["small"]["publish_sec"] else None
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


# round-6b: the data-mixing + quality-scoring + repetition pack at 10x
# documents — all are one-or-two partial-agg shuffles keyed by doc or
# domain; expect ~linear (ratio well under 10 from fixed overheads)
MIX_QUERIES = [
    "q_domain_mix",
    "q_quality_logreg",
    "q_repetition_signals",
]


def mix_scale_experiment(spark) -> dict:
    sf1 = build_sf1(spark)
    a01 = time_queries(spark, SF01, MIX_QUERIES)
    a1 = time_queries(spark, sf1, MIX_QUERIES)
    b01 = time_queries(spark, SF01, MIX_QUERIES)
    b1 = time_queries(spark, sf1, MIX_QUERIES)
    d01 = {k: min(a01[k], b01[k]) for k in a01}
    d1 = {k: min(a1[k], b1[k]) for k in a1}
    return {
        "experiment": "mix_quality_scale_10x_documents",
        "sf0.1_sec": d01,
        "10x_docs_sec": d1,
        "time_ratio_at_10x_data": {
            k: round(d1[k] / d01[k], 2) if d01[k] else None for k in d01
        },
    }


def fragmentation_maintain_experiment(spark) -> dict:
    """r8: the union-width/small-file maintenance payoff, measured —
    a stats_cols table fragmented into 12 single-append entries vs
    the same table after `maybe_compact(max_live_entries=8,
    cluster_by=("k",))` (the exact call Catalog.maintain now makes):
    point-probe `read(predicates=...)` and full-scan count,
    interleaved best-of-2 each."""
    import shutil
    import time as _t

    from pixelspark.table import SnapshotTable

    root = f"{BASE}/frag_maintain"
    shutil.rmtree(root, ignore_errors=True)
    t = SnapshotTable(spark, f"{root}/t", stats_cols=("k",))
    n, chunks = 2_000_000, 12
    per = n // chunks
    for i in range(chunks):
        # ingest order SCATTERS the key (hash of arrival id), the
        # realistic worst case: every append spans the whole key
        # domain, so per-file min/max stats are useless until the
        # maintenance re-cluster tightens them
        t.append(
            spark.range(i * per, (i + 1) * per).select(
                ((F.col("id") * 2654435761) % n).alias("k"),
                (F.col("id") % 97).alias("v"),
                F.md5(F.col("id").cast("string")).alias("pad"),
            )
        )

    def point():
        ts = []
        for _ in range(2):
            s = _t.time()
            t.read(predicates=[("k", ">=", 1_000_000),
                               ("k", "<", 1_001_000)]).agg(
                F.sum("v")).collect()
            ts.append(_t.time() - s)
        return round(min(ts), 3)

    def full():
        ts = []
        for _ in range(2):
            s = _t.time()
            t.read().agg(F.count(F.lit(1))).collect()
            ts.append(_t.time() - s)
        return round(min(ts), 3)

    fm0 = t.fragmentation_metrics()
    p0, f0 = point(), full()
    v = t.maybe_compact(max_live_entries=8, cluster_by=("k",))
    fm1 = t.fragmentation_metrics()
    p1, f1 = point(), full()
    return {
        "experiment": "fragmentation_maintain",
        "rows": n,
        "before": {"entries": fm0["n_live_entries"],
                   "files": fm0["n_files"],
                   "point_probe_sec": p0, "full_scan_sec": f0},
        "after": {"entries": fm1["n_live_entries"],
                  "files": fm1["n_files"],
                  "point_probe_sec": p1, "full_scan_sec": f1},
        "compacted": v is not None,
        "point_probe_recovery": round(p0 / p1, 2) if p1 else None,
        "full_scan_recovery": round(f0 / f1, 2) if f1 else None,
    }


def mixed_dml_scoping_experiment(spark) -> dict:
    """r11 mixed-layout DML cost shape (`_cow_commit`'s entry scope;
    DELETE during partition evolution): find = ONE column-pruned
    position-scan of the foreign entries, rewrite = touched entries
    only.  Receipts:
      (a) doubling the UNTOUCHED foreign data grows the delete far
          sublinearly (the rewrite term is flat; only the find scan
          grows),
      (b) the pre-r11 user path (full compact() first, then the
          delete) costs a multiple of the scoped path,
      (c) exactly one foreign entry is rewritten (manifest diff)."""
    import tempfile
    import time

    from pyspark.sql import functions as F

    from pixelspark.table import SnapshotTable, entry_layout

    rows_per = 250_000

    def build(n_entries: int) -> SnapshotTable:
        root = tempfile.mkdtemp(prefix="probe_mixdml_") + "/t"
        t = SnapshotTable(spark, root)
        for i in range(n_entries):
            t.append(
                spark.range(i * rows_per, (i + 1) * rows_per).select(
                    (F.col("id") % 30).cast("int").alias("day"),
                    F.col("id").alias("k"),
                    F.sha2(F.col("id").cast("string"), 256).alias("payload"),
                )
            )
        t.evolve_partitioning("day")
        # one post-evolution batch so layouts are genuinely mixed;
        # keys outside every delete condition below
        t.append(
            spark.range(10).select(
                F.lit(99).cast("int").alias("day"),
                (F.col("id") - 1000).alias("k"),
                F.lit("tail").alias("payload"),
            )
        )
        return t

    cond = "k >= 0 AND k < 1000"  # rows living in foreign entry 0 only

    def foreign_bases(t):
        m = t.manifest(t.latest_version())
        return {e["base"] for e in m["entries"]
                if entry_layout(e) != m.get("partition_col")}

    t1 = build(8)
    pre = foreign_bases(t1)
    t0 = time.time()
    t1.delete(cond, mode="rewrite")
    scoped_1x = round(time.time() - t0, 3)
    post = foreign_bases(t1)
    rewritten = sorted(pre - post)

    t2 = build(16)  # 2x foreign data, same touched footprint
    t0 = time.time()
    t2.delete(cond, mode="rewrite")
    scoped_2x = round(time.time() - t0, 3)

    t3 = build(8)  # the pre-r11 path: full compact, then the delete
    t0 = time.time()
    t3.compact()
    t3.delete(cond, mode="rewrite")
    compact_then_delete = round(time.time() - t0, 3)

    same = (
        t1.read().agg(F.count(F.lit(1)), F.sum("k")).collect()[0][0:2]
        == t3.read().agg(F.count(F.lit(1)), F.sum("k")).collect()[0][0:2]
    )
    return {
        "experiment": "mixed_dml_scoping",
        "rows_1x": 8 * rows_per,
        "rows_2x": 16 * rows_per,
        "deleted_rows": 1000,
        "scoped_1x_sec": scoped_1x,
        "scoped_2x_sec": scoped_2x,
        "growth_at_2x": round(scoped_2x / scoped_1x, 2) if scoped_1x else None,
        "compact_then_delete_sec": compact_then_delete,
        "ratio_vs_pre_r11_path": (
            round(compact_then_delete / scoped_1x, 2) if scoped_1x else None
        ),
        "foreign_entries_rewritten": len(rewritten),
        "results_identical": bool(same),
    }


def main() -> None:
    spark = get_spark("pixelspark-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # single-experiment mode: python tools/scale_probe.py skew_join
    if len(sys.argv) > 1 and sys.argv[1] == "dedup_scale":
        sf1 = build_sf1(spark)
        d01a = time_queries(spark, SF01, DEDUP_QUERIES)
        d1a = time_queries(spark, sf1, DEDUP_QUERIES)
        d01b = time_queries(spark, SF01, DEDUP_QUERIES)
        d1b = time_queries(spark, sf1, DEDUP_QUERIES)
        d01 = {k: min(d01a[k], d01b[k]) for k in d01a}
        d1 = {k: min(d1a[k], d1b[k]) for k in d1a}
        dratios = {k: round(d1[k] / d01[k], 2) if d01[k] else None for k in d01}
        print(json.dumps({"experiment": "dedup_scale_10x_documents",
                          "sf0.1_sec": d01, "10x_docs_sec": d1,
                          "time_ratio_at_10x_data": dratios}))
        return
    if len(sys.argv) > 1:
        fn = {
            "cc_rounds": cc_rounds_experiment,
            "snapshot_union": snapshot_union_experiment,
            "skew": skew_experiment,
            "skew_join": skew_join_experiment,
            "stats_skipping": stats_skipping_experiment,
            "merge_scoping": merge_scoping_experiment,
            "dedup_index": dedup_index_experiment,
            "dv_delete": dv_delete_experiment,
            "dv_read_tax": dv_read_tax_experiment,
            "widen_read_tax": widen_read_tax_experiment,
            "ann_scale": ann_scale_experiment,
            "index_compaction": index_compaction_experiment,
            "fragmentation_maintain": fragmentation_maintain_experiment,
            "clone": clone_experiment,
            "catalog": catalog_experiment,
            "mix_scale": mix_scale_experiment,
            "matview": matview_experiment,
            "join_matview": join_matview_experiment,
            "topn_matview": topn_matview_experiment,
            "identity": identity_experiment,
            "row_tracking_backfill": row_tracking_backfill_experiment,
        }[sys.argv[1]]
        print(json.dumps(fn(spark)))
        return
    # warm-up
    Q.QUERIES["q_sessions_scan"](spark, SF01).write.format("noop").mode("overwrite").save()

    sf1 = build_sf1(spark)
    # interleave and take best-of-2 per scale to cancel warm-up ordering bias
    t01a = time_queries(spark, SF01)
    t1a = time_queries(spark, sf1)
    t01b = time_queries(spark, SF01)
    t1b = time_queries(spark, sf1)
    t01 = {k: min(t01a[k], t01b[k]) for k in t01a}
    t1 = {k: min(t1a[k], t1b[k]) for k in t1a}
    ratios = {k: round(t1[k] / t01[k], 2) if t01[k] else None for k in t01}
    print(json.dumps({"experiment": "scale_10x", "sf0.1_sec": t01, "sf1_sec": t1,
                      "time_ratio_at_10x_data": ratios}))

    d01a = time_queries(spark, SF01, DEDUP_QUERIES)
    d1a = time_queries(spark, sf1, DEDUP_QUERIES)
    d01b = time_queries(spark, SF01, DEDUP_QUERIES)
    d1b = time_queries(spark, sf1, DEDUP_QUERIES)
    d01 = {k: min(d01a[k], d01b[k]) for k in d01a}
    d1 = {k: min(d1a[k], d1b[k]) for k in d1a}
    dratios = {k: round(d1[k] / d01[k], 2) if d01[k] else None for k in d01}
    print(json.dumps({"experiment": "dedup_scale_10x_documents", "sf0.1_sec": d01,
                      "10x_docs_sec": d1, "time_ratio_at_10x_data": dratios}))

    print(json.dumps(cc_rounds_experiment(spark)))
    print(json.dumps(snapshot_union_experiment(spark)))
    print(json.dumps(skew_experiment(spark)))
    print(json.dumps(skew_join_experiment(spark)))
    print(json.dumps(stats_skipping_experiment(spark)))
    print(json.dumps(merge_scoping_experiment(spark)))
    print(json.dumps(dedup_index_experiment(spark)))
    print(json.dumps(dv_delete_experiment(spark)))
    print(json.dumps(ann_scale_experiment(spark)))
    print(json.dumps(index_compaction_experiment(spark)))
    print(json.dumps(mixed_dml_scoping_experiment(spark)))


if __name__ == "__main__":
    main()
