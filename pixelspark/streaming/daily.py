"""Structured Streaming variant of the daily billing pipeline
(SURVEY.md §2.9 / §7 M7).

The reference has no streaming path (Pub/Sub is a dead dependency) —
its batch-over-a-closed-day IS a tumbling 1-day event-time window.  The
faithful streaming translation: readStream over the event log, 1-day
tumbling window on event time with a watermark bounding late data (the
reference's implicit policy is "late events are never billed" —
src/services/bigquery.ts:41-52 reads one closed day), then the same
count -> amount math.

Sink patterns provided:
* memory sink (tests / interactive)
* foreachBatch -> SnapshotTable.upsert: each micro-batch merges its
  window counts into the billing table keyed by (shop, billing_date)
  in one atomic manifest commit — giving the same latest-state
  semantics as the batch path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pixelspark.ops.billing import PAGE_VIEW_EVENT, RATE_PER_MILLION
from pixelspark.ops.scalar import usage_amount

EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType = EVENT_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_pageviews(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling event-time window page-view counts with late-data bound.

    State scales with (#open windows x #shops) — the watermark closes
    windows so state is bounded regardless of stream length.
    """
    return (
        events.where(F.col("event_type") == PAGE_VIEW_EVENT)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("user_id").alias("shop"))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("win.start").cast("date").alias("billing_date"),
            "shop",
            "event_count",
        )
    )


def with_billing_amount(pv: DataFrame, rate_per_million: float = RATE_PER_MILLION) -> DataFrame:
    return pv.withColumn("page_views", F.col("event_count").cast("long")).withColumn(
        "billing_amount", usage_amount("page_views", rate_per_million)
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "complete"):
    """One-shot (availableNow) run into an in-memory table; returns the
    finished StreamingQuery. Complete mode re-emits all windows —
    right for tests; production uses update/append + foreachBatch."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _run_once(df: DataFrame, fn, checkpoint: str, mode: str):
    """One availableNow run of `df` through the foreachBatch sink `fn`
    under `checkpoint`; returns the finished StreamingQuery."""
    q = (
        df.writeStream.foreachBatch(fn)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_snapshot_append_sink(
    df: DataFrame, root: str, checkpoint: str, app_id: str = "pixelspark-stream",
    table_kwargs: dict | None = None,
):
    """Exactly-once streaming append into a snapshot-commit table:
    each micro-batch lands through `SnapshotTable.append_once`, which
    fuses epoch commit and data publication into one atomic manifest
    write keyed by (app_id, batch_id).  A batch re-delivered after a
    sink crash — or replayed wholesale after checkpoint loss — commits
    nothing, so the table never double-counts (plain foreachBatch
    append sinks are at-least-once exactly there).  Works on object
    stores: no rename of live data anywhere.

    `table_kwargs` forwards to the SnapshotTable constructor, so
    write-side policies compose with streaming for free — e.g.
    `table_kwargs={"expectations": [...]}` gives a streaming
    expect-or-drop / expect-or-quarantine pipeline (the DLT shape):
    every micro-batch is audited, violators route per policy, and the
    per-batch metrics sidecars accumulate in the commit history."""
    from pixelspark.table import SnapshotTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        SnapshotTable(
            batch_df.sparkSession, root, **(table_kwargs or {})
        ).append_once(batch_df, app_id, batch_id)

    return _run_once(df, commit, checkpoint, "append")


def run_snapshot_rollup_sink(
    events: DataFrame, root: str, checkpoint: str, app_id: str = "pixelspark-rollup"
):
    """Continuously-maintained continuous aggregate: each micro-batch
    of raw events folds into the per-(shop, day) rollup table through
    `refresh_rollup_snapshot` with the (app_id, batch_id) txn guard —
    the merge of MERGEABLE partials is exactly the operation that
    double-counts under at-least-once delivery, so the guard is what
    upgrades this sink to exactly-once.  The reference recomputes its
    daily aggregate from the raw table every run (bigquery.ts:41-56);
    this is the streaming shape of the same aggregate: O(batch) per
    trigger, atomic partition replacement, correct under replay AND
    checkpoint loss."""
    from pixelspark.table import refresh_rollup_snapshot

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        refresh_rollup_snapshot(
            batch_df.sparkSession, root, batch_df, txn=(app_id, batch_id)
        )

    return _run_once(events, fold, checkpoint, "append")


def run_upsert_sink(df: DataFrame, table_path: str, checkpoint: str):
    """foreachBatch merge sink: each micro-batch upserts its window
    counts into the billing snapshot table keyed by (shop,
    billing_date) — streaming writes land with the same latest-state
    semantics the batch path guarantees (reference append-as-update
    pattern).  A replayed batch re-upserts the same keys, so replay
    is idempotent."""
    from pixelspark.table import SnapshotTable

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        SnapshotTable(batch_df.sparkSession, table_path).upsert(
            batch_df, keys=("shop", "billing_date")
        )

    return _run_once(df, merge, checkpoint, "update")


def enrich_stream_with_shops(events: DataFrame, shops: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch broadcast-joins the static
    shop dimension (re-read per batch, so dim updates are picked up
    without restarting the query).  Inner join keeps only billable
    shops — the streaming twin of the batch charge_plan lookup."""
    return events.join(
        F.broadcast(shops.select(F.col("c_custkey").alias("user_id"), F.col("c_name").alias("shop_name"))),
        "user_id",
        "inner",
    )


def dedup_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup on event_id bounded by the event-time
    watermark: dropDuplicatesWithinWatermark keeps state only for ids
    newer than the watermark, so dedup state cannot grow without bound
    (at-least-once sources -> effectively-once counts)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribute_purchases(
    events: DataFrame, attribution_window: str = "1 hour", how: str = "inner"
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to a prior
    view by the same user within the attribution window.

    Both sides carry a watermark and the join condition bounds the
    event-time distance, so each side's state store holds only rows
    inside (watermark + window) — bounded state, the requirement for an
    unbounded 100 TB/day stream.  Inner interval joins need BOTH
    watermarks; without the time bound the state would grow forever
    and Spark rejects the query in append mode.

    `how='leftOuter'` keeps UNattributed purchases too: a purchase
    emits with NULL view columns only once the watermark proves no
    matching view can still arrive (state-eviction time), so the
    null-or-match decision is made exactly once per purchase — the
    streaming form of the batch left join, with the unmatched tail
    withheld until finalized rather than emitted optimistically."""
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}")),
        how,
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "view_id",
        "view_ts",
    )


def sliding_pageviews(
    events: DataFrame,
    window: str = "2 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Sliding event-time window: each event lands in window/slide
    overlapping buckets (2-day window sliding daily -> trailing 2-day
    counts refreshed every day).  State is (#open windows x #shops),
    still watermark-bounded; the per-event fanout factor is
    window/slide, so keep that ratio small at scale."""
    return (
        events.where(F.col("event_type") == PAGE_VIEW_EVENT)
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window, slide).alias("win"),
            F.col("user_id").alias("shop"),
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.col("win.start").cast("date").alias("window_start"),
            F.col("win.end").cast("date").alias("window_end"),
            "shop",
            "event_count",
        )
    )


def session_windowed_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization via the built-in session_window: a
    session extends while events arrive within `gap` of the previous
    one; the watermark closes sessions whose gap has provably expired,
    so state is (#open sessions x #shops), never unbounded.  This is
    the stateful dual of the batch gaps-and-islands sessionize()
    (ops/relational.py) — equality with the batch session_window agg
    is asserted in tests/test_streaming.py."""
    return (
        events.where(F.col("event_type") == PAGE_VIEW_EVENT)
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("win"),
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


def run_fanout_sink(
    df: DataFrame,
    table_path: str,
    audit_path: str,
    checkpoint: str,
):
    """One streaming query, two sinks: each micro-batch is PERSISTED,
    upserted into the billing table AND appended to a day-level audit
    aggregate, then unpersisted.  Both are snapshot tables.

    The persist is the load-bearing line — without it foreachBatch
    recomputes the batch's whole lineage once per sink (double source
    reads, and a nondeterministic source could diverge between the two
    writes).  Exactly-once for both sinks rides on the single
    checkpointed query: one epoch, one batch id, both writes inside
    it — the standard alternative to running two queries (two
    checkpoints, two source scans, and no atomicity between sinks).
    A batch replayed after a failure re-upserts the same keys (a
    no-op) and finds its audit batch id already committed
    (`append_once`), so neither sink lands it twice.
    """
    from pixelspark.table import SnapshotTable

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            SnapshotTable(spark, table_path).upsert(
                batch_df, keys=("shop", "billing_date")
            )
            SnapshotTable(spark, audit_path).append_once(
                batch_df.groupBy("billing_date")
                .agg(
                    F.sum("event_count").alias("day_events"),
                    F.count(F.lit(1)).alias("n_shops"),
                )
                .withColumn("batch_id", F.lit(batch_id)),
                "pixelspark-fanout-audit",
                batch_id,
            )
        finally:
            batch_df.unpersist()

    return _run_once(df, fanout, checkpoint, "update")


def run_snapshot_cdc_sink(
    changes: DataFrame,
    root: str,
    checkpoint: str,
    keys: tuple[str, ...],
    seq_col: str = "seq",
):
    """Apply a STREAM of change rows (the `read_changes` /
    `snapshot_diff` shape: table columns + `change_type` in
    {'inserted','updated','deleted'} + a monotone `seq_col`) onto a
    snapshot table — the streaming CDC-apply that keeps a downstream
    replica in lockstep with an upstream changelog.

    Each micro-batch first COMPACTS to the latest change per key (one
    window over `seq_col` — a batch, and especially a replayed stream
    after checkpoint loss, may carry a key's whole history in one
    trigger), then lands as ONE multi-clause merge: matched+'deleted'
    removes the row, matched otherwise updates the data columns,
    unmatched non-deletes insert.  Unlike the append sink, no txn
    guard is needed: re-applying any suffix (or all) of the changelog
    is a no-op BY CONSTRUCTION — per-key latest-change determines the
    state, updates/deletes are idempotent, and a replayed insert finds
    its key present and degrades to an identical update.  On a
    partitioned replica keyed by its partition column, each batch
    rewrites only the partitions its keys touch (merge's
    partition-scoped path)."""
    from pyspark.sql import Window

    from pixelspark.table import SnapshotTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", seq_col)
        )
        t = SnapshotTable(batch_df.sparkSession, root)
        data_cols = [c for c in latest.columns
                     if c != "change_type" and c not in keys]
        if not t.exists():
            t.overwrite(
                latest.where(F.col("change_type") != "deleted")
                .drop("change_type")
            )
            return
        t.merge(
            latest,
            keys=keys,
            when_matched_delete=F.col("s.change_type") == "deleted",
            when_matched_update={c: F.col(f"s.{c}") for c in data_cols},
            when_not_matched_insert=F.col("s.change_type") != "deleted",
            # the rn=1 compaction above makes keys unique by
            # construction — skip merge's duplicate-source aggregate
            validate_keys=False,
        )

    return _run_once(changes, commit, checkpoint, "append")


def run_vector_index_sink(
    emb_stream: DataFrame, index_root: str, checkpoint: str,
    app_id: str = "pixelspark-vector-index",
):
    """Exactly-once streaming ingest into a persistent IVF-PQ vector
    index (ops/pq.VectorIndex): each micro-batch of embeddings is
    residual-encoded under the index's STORED quantizers (O(batch) —
    no retraining, ever, on the streaming path) and appended to the
    codes table through the (app_id, batch_id) txn guard, so a
    re-delivered batch indexes nothing twice.  The index must already
    be `build()`-ed — training belongs to a batch job, not a stream
    (quantizers are fixed at build; silently retraining per batch
    would re-interpret every previously stored code)."""
    from pixelspark.ops.pq import VectorIndex

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        VectorIndex(batch_df.sparkSession, index_root).ingest(
            batch_df, batch_id=batch_id, app_id=app_id
        )

    return _run_once(emb_stream, commit, checkpoint, "append")


def run_curation_sink(
    docs_stream: DataFrame,
    table_root: str,
    index_root: str,
    checkpoint: str,
    weights: list | None = None,
    score_threshold: float = 0.5,
    app_id: str = "pixelspark-curate",
    id_col: str = "doc_id",
    text_col: str = "text",
    index_kwargs: dict | None = None,
):
    """Exactly-once streaming corpus curation — the end-to-end
    training-data ingest shape, all round-6 pieces composed:

      1. quality gate: the frozen distilled scorer (ops/classifier.py,
         shuffle-free literal projection) drops docs under
         `score_threshold` (NULL scores — empty docs — drop too);
      2. batch-interior dedup: exact (md5 fingerprint of normalized
         text, lowest id wins) AND near-dup (the same-family LSH
         pipeline within the batch — the index can't see two near-dup
         docs that arrive together);
      3. cross-corpus near-dup gate: the batch is checked against the
         persistent DedupIndex AS OF before this batch — docs
         near-duplicating the already-curated corpus are dropped, and
         the batch's MinHash artifacts enter the index through the
         (app_id, batch_id) txn guard;
      4. survivors `append_once` into the curated snapshot table under
         the same (app_id, batch_id).

    Replay of any batch — foreachBatch re-delivery after a sink crash,
    or a wholesale re-run after checkpoint loss — commits nothing
    twice ANYWHERE: the index ingest re-derives the same pairs against
    its pre-batch version and no-ops its append, and the table's txn
    watermark rejects the duplicate append.  Exact duplicates arriving
    in later batches are caught by the index too (jaccard 1 passes any
    threshold).  Artifacts of near-dup batch docs do enter the index
    (they were real observations); `DedupIndex.compact()` is the
    maintenance path, same as batch ingest."""
    from pixelspark.ops import classifier as CL
    from pixelspark.ops.llm import DedupIndex, fingerprint, near_dup_pairs
    from pixelspark.table import SnapshotTable

    w = list(weights) if weights is not None else list(CL.QUALITY_WEIGHTS)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        feats = CL.quality_features(batch_df, text_col=text_col, id_col=id_col)
        good_ids = (
            CL.score_logreg(feats, CL.QUALITY_FEATURES, w)
            .where(F.col("score") >= score_threshold)
            .select(id_col)
        )
        kept = batch_df.join(good_ids, id_col, "left_semi")
        first = (
            kept.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
            .groupBy("__fp")
            .agg(F.min(id_col).alias(id_col))
        )
        kept = kept.join(first.select(id_col), id_col, "left_semi")
        idx = DedupIndex(
            sp, index_root, id_col=id_col, text_col=text_col,
            **(index_kwargs or {}),
        )
        # batch-INTERIOR near-dups: the index only checks the batch
        # against the corpus as of before the batch, so two near-dup
        # docs arriving together would both pass.  Run the same-family
        # LSH pipeline within the batch and keep the lowest id of each
        # pair before anything reaches the index or the table.
        in_pairs = near_dup_pairs(
            kept, id_col=id_col, text_col=text_col,
            threshold=idx.threshold, num_hashes=idx.num_hashes,
            shingle_k=idx.shingle_k, bands=idx.bands,
            max_bucket_size=idx.max_bucket_size,
        )
        in_losers = in_pairs.select(
            F.greatest("id_a", "id_b").alias(id_col)
        ).distinct()
        kept = kept.join(in_losers, id_col, "left_anti")
        pairs = idx.ingest(kept, app_id=app_id, batch_id=batch_id)
        dup_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
        final = kept.join(dup_ids, id_col, "left_anti")
        SnapshotTable(sp, table_root).append_once(final, app_id, batch_id)

    return _run_once(docs_stream, commit, checkpoint, "append")


def run_matview_sink(
    rows: DataFrame,
    src_root: str,
    view_root: str,
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    checkpoint: str = "",
    app_id: str = "pixelspark-matview",
):
    """Streaming ingest with a continuously-maintained incremental
    aggregate: each micro-batch (1) appends into the SOURCE snapshot
    table via `append_once` and (2) folds the source's new CDF window
    into the COUNT/SUM VIEW via `refresh_agg_view` — which reads only
    the change feed, never the source table, and lands atomically
    with its own (app_id, source_version) watermark through
    `merge(txn=...)`.

    Exactly-once END TO END under at-least-once delivery, by two
    INDEPENDENT watermarks: a re-delivered batch is rejected by the
    source's (app_id, batch_id) txn guard (appending nothing, so the
    view fold sees an empty window and no-ops), and a crash BETWEEN
    append and fold is healed by the next trigger's fold, which picks
    up from the view's last folded source version — the fold window
    is defined by source versions, not by batch ids, so nothing is
    folded twice and nothing is skipped.  Append-only windows take
    the CDF's keyless insert-only fast path: each fold is O(batch)."""
    from pixelspark.ops.matview import refresh_agg_view
    from pixelspark.table import SnapshotTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = SnapshotTable(spark, src_root)
        view = SnapshotTable(spark, view_root)
        src.append_once(batch_df, app_id, batch_id)
        refresh_agg_view(src, view, group_by=group_by, sum_cols=sum_cols)

    return _run_once(rows, commit, checkpoint, "append")


def run_published_matview_sink(
    rows: DataFrame,
    catalog_root: str,
    src_name: str,
    view_name: str,
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    checkpoint: str = "",
    app_id: str = "pixelspark-pub-matview",
):
    """`run_matview_sink` behind a CATALOG PUBLICATION POINT: each
    micro-batch appends into the cataloged source, folds the
    incremental view, then advances BOTH names' snapshot pins in one
    CAS catalog commit (`Catalog.publish`) — catalog-mediated readers
    see every trigger's facts and their aggregate land TOGETHER,
    never facts without their rollup, the read-consistency gap an
    unpinned two-table sink always has between its two commits.

    Exactly-once end to end by the same two-watermark argument as
    run_matview_sink (txn-guarded append, source-version-windowed
    fold), plus: pin advancement is idempotent, so a replayed batch
    re-publishes pins that are already current and readers never
    regress.  A crash after the table commits but before publication
    leaves catalog readers exactly one trigger behind — consistent —
    and the next trigger (or the replay) publishes both.  Bootstrap:
    bindings are created once before the stream starts; until the
    FIRST publication there are no pins, so pre-publication readers
    follow the table logs (documented trade in Catalog.publish).

    The published PAIR is exact, not approximate: the source pin is
    `last_folded_version` — the version the view fold actually
    covered — so an out-of-band source commit racing the publication
    can never surface ahead of its own rollup (it publishes at the
    NEXT trigger, after its fold)."""
    from pixelspark.catalog import Catalog, TableAlreadyExists
    from pixelspark.ops.matview import last_folded_version, refresh_agg_view

    setup = Catalog(rows.sparkSession, catalog_root)
    for n in (src_name, view_name):
        try:
            setup.create_table(n)
        except TableAlreadyExists:
            pass

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cat = Catalog(spark, catalog_root)
        src = cat.table(src_name)
        view = cat.table(view_name)
        src.append_once(batch_df, app_id, batch_id)
        view_v = refresh_agg_view(
            src, view, group_by=group_by, sum_cols=sum_cols
        )
        if view_v is None:  # nothing new folded: publish current state
            view_v = view.latest_version()
        # the EXACT pair: this view version and the source version
        # ITS manifest says it folded through — reading the latest
        # watermark instead could pick up a rival's later fold and
        # publish an aggregate ahead of its facts
        cat.publish(
            src_name, view_name,
            at={src_name: last_folded_version(src, view, version=view_v),
                view_name: view_v},
        )

    return _run_once(rows, commit, checkpoint, "append")


def run_join_matview_sink(
    rows: DataFrame,
    fact_root: str,
    dim_root: str,
    view_root: str,
    on: tuple[str, ...],
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    left_keys: tuple[str, ...] | None = None,
    right_keys: tuple[str, ...] | None = None,
    derive: dict | None = None,
    how: str = "inner",
    checkpoint: str = "",
    app_id: str = "pixelspark-join-matview",
):
    """Streaming fact ingest with a continuously-maintained aggregate
    over fact ⋈ dim (`refresh_join_view`): each micro-batch appends
    facts via `append_once`, then folds BOTH delta phases — the new
    fact rows against the dim pinned at its folded version, and any
    out-of-band dim commits (segment moves, new customers, landed by
    whoever maintains the dim) against the fact at ITS watermark.
    The dim side needs no stream of its own: its snapshot-table
    history IS the change feed.

    Exactly-once end to end by the same two-watermark argument as
    `run_matview_sink`, extended per source: a replayed batch appends
    nothing (txn guard), so both fold windows are empty and no-op;
    a crash between append and fold is healed by the next trigger's
    fold, whose windows are defined by source VERSIONS, not batch
    ids."""
    from pixelspark.ops.matview import refresh_join_view
    from pixelspark.table import SnapshotTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fact = SnapshotTable(spark, fact_root)
        dim = SnapshotTable(spark, dim_root)
        view = SnapshotTable(spark, view_root)
        fact.append_once(batch_df, app_id, batch_id)
        refresh_join_view(
            fact, dim, view, on=on, group_by=group_by, sum_cols=sum_cols,
            left_keys=left_keys, right_keys=right_keys, derive=derive,
            how=how,
        )

    return _run_once(rows, commit, checkpoint, "append")


def run_topn_matview_sink(
    rows: DataFrame,
    src_root: str,
    view_root: str,
    group_by: tuple[str, ...],
    order_by: tuple[str, ...],
    n: int = 10,
    descending: bool | tuple[bool, ...] = True,
    payload: tuple[str, ...] = (),
    src_keys: tuple[str, ...] | None = None,
    checkpoint: str = "",
    app_id: str = "pixelspark-topn-matview",
):
    """Streaming ingest with a continuously-maintained per-group
    TOP-N leaderboard (`refresh_topn_view`): each micro-batch appends
    into the source via `append_once`, then re-boards exactly the
    groups the batch touched.  Out-of-band source DML (DV deletes,
    merges landed by other writers) folds at the next trigger — the
    view's change window is defined by source VERSIONS, so the stream
    and ad-hoc DML compose on one watermark.

    Exactly-once end to end by the same two-watermark argument as
    `run_matview_sink`: a replayed batch appends nothing (txn guard),
    so the refresh window is empty and no-ops; a crash between append
    and refresh heals at the next trigger."""
    from pixelspark.ops.matview import refresh_topn_view
    from pixelspark.table import SnapshotTable

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = SnapshotTable(spark, src_root)
        view = SnapshotTable(spark, view_root)
        src.append_once(batch_df, app_id, batch_id)
        refresh_topn_view(
            src, view, group_by=group_by, order_by=order_by, n=n,
            descending=descending, payload=payload, src_keys=src_keys,
        )

    return _run_once(rows, commit, checkpoint, "append")
