"""Generic relational helpers: broadcast-hinted joins, set ops, and the
skew-resilient two-stage (salted) aggregation.

Skew posture (SURVEY.md §7 hard part 5): at 100 TB a single viral shop
makes `groupBy('shop')` shuffle one giant partition.  Measured honest
scope (tools/scale_probe.py): for ALGEBRAIC aggregates (count/sum)
map-side partial aggregation already collapses the hot key before the
shuffle — plain groupBy beats the salted path there.  The two-stage
salt earns its keep when partial aggregation can't help: holistic
aggregates (collect/exact-distinct paths) and as the manual counterpart
to AQE's skew-join splitting.  Results are identical to the plain
aggregation either way (verified by the oracle on q_pageviews_salted).

JOIN-side skew (round-5 probe, BASELINE.md): with one key owning 50%
of a 2M-row fact joined to a 5k dim, the measured order is broadcast
(0.57s — skew-IMMUNE, the fact side never shuffles on the key) <
AQE skew-split (0.93s) <= naive shuffle (0.98s) << manual salted join
(3.50s — rand column + replicated dim overhead).  Planner posture at
100 TB: broadcast the dim whenever it fits (broadcast_left_join);
otherwise rely on spark.sql.adaptive.skewJoin (enabled by our session
defaults) and keep manual join-salting for the cases AQE cannot split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_left_join(big: DataFrame, small: DataFrame, on: list[str] | str, how: str = "left") -> DataFrame:
    """Left join with an explicit broadcast hint on the small side —
    the Map-based probe of the reference (billing.ts:254-261) done
    shuffle-free."""
    return big.join(F.broadcast(small), on, how)


def salted_count(
    df: DataFrame,
    key: str,
    out_key: str | None = None,
    count_alias: str = "n",
    salt_buckets: int = 16,
) -> DataFrame:
    """COUNT(*) GROUP BY key, skew-resilient: stage 1 counts per
    (key, salt) spreading hot keys over `salt_buckets` reducers,
    stage 2 sums the partials per key.  Deterministic salt (hash of a
    monotonically increasing id is unnecessary — spark_partition_id
    spreads uniformly and is shuffle-free to compute)."""
    out_key = out_key or key
    salted = df.withColumn("__salt", F.spark_partition_id() % salt_buckets)
    partial = salted.groupBy(F.col(key).alias(out_key), F.col("__salt")).agg(
        F.count(F.lit(1)).alias("__partial")
    )
    return partial.groupBy(out_key).agg(F.sum("__partial").cast("long").alias(count_alias))


def salted_sum(
    df: DataFrame,
    key: str,
    value: Column | str,
    out_key: str | None = None,
    sum_alias: str = "total",
    salt_buckets: int = 16,
) -> DataFrame:
    """SUM(value) GROUP BY key with the same two-stage salt."""
    out_key = out_key or key
    v = F.col(value) if isinstance(value, str) else value
    salted = df.withColumn("__salt", F.spark_partition_id() % salt_buckets).withColumn(
        "__v", v
    )
    partial = salted.groupBy(F.col(key).alias(out_key), F.col("__salt")).agg(
        F.sum("__v").alias("__partial")
    )
    return partial.groupBy(out_key).agg(F.sum("__partial").alias(sum_alias))


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds `gap_minutes`.
    Classic lag + cumulative-sum window — one shuffle on the user key,
    both windows share the same partitioning so Spark plans a single
    exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w))
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn("__new_session", is_new).withColumn(
        "session_seq", F.sum("__new_session").over(w).cast("long")
    ).drop("__new_session")


def salted_join(
    big: DataFrame,
    other: DataFrame,
    key: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resilient shuffle join: salt the BIG side's key into
    `salt_buckets` sub-keys and EXPLODE the other side across all
    buckets, so a hot key's rows land on `salt_buckets` reducers
    instead of one.

    This is the manual counterpart to AQE's skew-join split
    (`spark.sql.adaptive.skewJoin`, enabled in session.py) for the
    cases AQE can't fix: a skewed key whose partition isn't detected
    (stats collected pre-filter), or a non-AQE engine.  The other
    side's replication factor is `salt_buckets` — use this when that
    side is too big to broadcast but far smaller than the skewed fact
    (the broadcast join already solves the small-dim case for free).

    Results are identical to a plain join for every `how` that
    preserves big-side rows (inner/left): each big row meets each
    matching other row exactly once, in exactly one bucket."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salted_big = big.withColumn("__salt", F.spark_partition_id() % salt_buckets)
    exploded_other = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_big.join(exploded_other, [key, "__salt"], how).drop("__salt")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: bucket every user by first-seen day, then
    count distinct active users per (cohort_day, day_offset) — the
    standard product-analytics retention triangle.

    Two shuffles: the first-seen aggregation (map-side partial min)
    and the user-keyed join back; the final (cohort, offset) aggregate
    rides the join's partitioning.  The first-seen table is one row
    per user — at 100 TB it shuffle-joins on user_id (AQE handles the
    skewed mega-user tail)."""
    day = F.col(ts_col).cast("date")
    first_seen = (
        events.groupBy(F.col(user_col).alias("u"))
        .agg(F.min(day).alias("cohort_day"))
    )
    active = events.select(F.col(user_col).alias("u"), day.alias("day")).distinct()
    return (
        active.join(first_seen, "u")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .agg(F.countDistinct("u").alias("n_users"))
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered funnel: how many users completed step k AFTER step k-1
    (strictly increasing first-completion times).  Step k's
    earliest-valid time is min(ts WHERE type=step_k AND ts > t_{k-1}),
    which needs t_{k-1} resolved first — so k steps are inherently k
    user-keyed aggregation rounds (measured plan at k=3: 5 hash
    exchanges; each step scans the events table with its own
    event_type pushed filter and joins the previous step's user set,
    broadcast when it is small).  At 100 TB, cut the re-scans by
    caching a pre-filtered (user, type, ts) projection of just the
    funnel's event types — the step list is known up front."""
    per_user = events.select(
        F.col(user_col).alias("u"), F.col(type_col).alias("et"), F.col(ts_col).alias("t")
    )
    reached = None  # DataFrame (u, t_k): users who reached the current step
    counts = []
    for k, step in enumerate(steps):
        if reached is None:
            cur = (
                per_user.where(F.col("et") == step)
                .groupBy("u")
                .agg(F.min("t").alias("t_k"))
            )
        else:
            cur = (
                per_user.where(F.col("et") == step)
                .join(reached.withColumnRenamed("t_k", "t_prev"), "u")
                .where(F.col("t") > F.col("t_prev"))
                .groupBy("u")
                .agg(F.min("t").alias("t_k"))
            )
        reached = cur
        counts.append((k, step, cur))
    spark = events.sparkSession
    out = None
    for k, step, cur in counts:
        row = cur.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(k).alias("step_idx"), F.lit(step).alias("step"), "n_users"
        )
        out = row if out is None else out.unionByName(row)
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: full outer join
    on the key, classify each key as inserted / deleted / updated /
    unchanged (updated = any compared column differs, null-safe via
    eqNullSafe so a legitimate NULL value never misclassifies).

    Presence on each side is tracked with explicit marker columns, not
    value null-ness.  One co-partitioned shuffle join on the key set;
    the classification is pure column logic.  Feed the output to
    `SnapshotTable.upsert` / `replace_partitions` (pixelspark/table.py)
    to propagate a diff instead of rewriting a 100-TB table."""
    cols = compare_cols or [c for c in new.columns if c not in keys]
    o = old.select(
        *keys, F.lit(True).alias("__in_old"), *[F.col(c).alias(f"old_{c}") for c in cols]
    )
    n = new.select(
        *keys, F.lit(True).alias("__in_new"), *[F.col(c).alias(f"new_{c}") for c in cols]
    )
    joined = o.join(n, keys, "full_outer")
    old_present = F.coalesce(F.col("__in_old"), F.lit(False))
    new_present = F.coalesce(F.col("__in_new"), F.lit(False))
    changed = None
    for c in cols:
        ne = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        changed = ne if changed is None else (changed | ne)
    change_type = (
        F.when(old_present & ~new_present, "deleted")
        .when(~old_present & new_present, "inserted")
        .when(changed, "updated")
        .otherwise("unchanged")
    )
    return joined.select(
        *keys,
        change_type.alias("change_type"),
        *[F.col(f"new_{c}").alias(c) for c in cols],
    )


def assign_row_ids(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "rid",
    num_partitions: int | None = None,
) -> DataFrame:
    """Contiguous global row ids 0..n-1 in `order_by` order, with NO
    single-reducer global sort.  The naive row_number() over an
    unpartitioned window funnels all 100 TB through one task; this is
    the distributed zipWithIndex, DataFrame-first:

      1. bucket boundaries for the leading (numeric) order key are
         computed ONCE via approxQuantile and frozen as literals —
         NOT repartitionByRange, whose sampled boundaries can differ
         between the two jobs below and silently misalign counts vs
         ids;
      2. per-bucket row counts — a tiny aggregate collected to the
         driver, turned into cumulative offsets;
      3. rid = per-bucket row_number() (a Window PARTITIONED by the
         bucket id — never SinglePartition) plus the bucket's
         broadcast-literal offset.

    Nothing ever concentrates on one node, and correctness does not
    depend on any sampling being repeatable: all passes share the same
    literal boundaries by construction.  The bucket id is monotone in
    the leading key and ties share a bucket, so per-bucket numbering
    matches the global row_number (make order_by a unique tuple for
    fully stable ids).

    r12 optimization (guide §1.2/§4): the input is materialized ONCE
    via lazy localCheckpoint — the quantile job, the count job and the
    id pass previously each re-executed the full upstream plan (3x a
    corpus aggregation for callers like q_zipf_slope) — and the
    Arrow mapInPandas id-stamp is replaced by the JVM window above, so
    the rows no longer cross the Python boundary at all
    (plans/r12/q_zipf_slope_*.txt: MapInPandas node removed)."""
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    key = order_by[0]
    src = df.localCheckpoint(eager=False)
    bounds: list = []
    if n_parts > 1:
        probs = [i / n_parts for i in range(1, n_parts)]
        bounds = sorted(set(src.stat.approxQuantile(key, probs, 0.001)))
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col(key) > F.lit(b), 1).otherwise(0)
    tagged = src.withColumn("__pid", pid.cast("int"))
    counts = {
        r["__pid"]: r["cnt"]
        for r in tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    offset_expr = F.lit(0).cast("long")
    for p, off in offsets.items():
        if off:
            offset_expr = F.when(F.col("__pid") == p, F.lit(off)).otherwise(offset_expr)
    w = Window.partitionBy("__pid").orderBy(*[F.col(c).asc() for c in order_by])
    return (
        tagged.withColumn(
            id_col,
            (F.row_number().over(w).cast("long") - 1 + offset_expr).cast("long"),
        )
        .drop("__pid")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_len: int = 15,
    max_dist: int = 1,
) -> DataFrame:
    """Entity-resolution candidate pairs: blocked levenshtein self-join.

    The classic record-linkage shape: an all-pairs levenshtein
    comparison is O(n^2) and impossible at corpus scale, so rows are
    first bucketed by a BLOCKING KEY (here: string length + a prefix —
    two strings within edit distance d share a prefix unless an edit
    falls inside it, so a prefix block trades a bounded miss rate for
    a quadratic-to-linear blowup reduction; production systems union
    several complementary blockers).  The self-join then runs only
    within blocks, with id1 < id2 deduplicating the symmetric pair.

    At 100 TB the block key is the shuffle key: block-size skew is the
    risk (a degenerate blocker recreates the cross join), so size the
    prefix so the largest block fits an executor — or salt it.

    The probe side is explicitly repartitioned: when the dim side
    broadcasts, probe parallelism = input partition count, and a
    single-file scan would run every in-block comparison in ONE task
    (measured 47s -> ~2s at sf0.1 from this line alone).

    r12 refinement (PassJoin-style segment filter, lossless, applied
    ONLY at max_dist=1): rows surviving the blocker have EQUAL length
    and EQUAL prefix, and a single edit between equal-length strings
    must be a SUBSTITUTION (an insert or delete alone would change the
    length), so the one differing character sits in exactly one of two
    disjoint suffix segments — pigeonhole guarantees a true pair
    agrees on the other (segment index, segment value).  Adding that
    pair to the join key shrinks in-block candidates from block^2 to
    the sum of segment-bucket^2 without dropping a single result (the
    final levenshtein verify is unchanged; dup candidates from both
    segments agreeing are distinct-ed before it).  Measured at sf0.1
    (customer names: one shared 15-char prefix block of 15k rows):
    ~112M levenshtein calls -> ~12M.  Degenerate suffixes (empty /
    single-char) yield empty segments that match the whole block —
    the exact pre-refinement candidate set, never fewer.  At
    max_dist >= 2 equal-length pairs can align through insert+delete
    shifts (hamming > levenshtein), position-aligned pigeonhole is no
    longer sound, and the plain block join runs instead.
    """
    n_part = df.sparkSession.sparkContext.defaultParallelism
    if max_dist != 1:
        left = df.repartition(n_part, id_col).select(
            F.col(id_col).alias("id1"),
            F.col(name_col).alias("name1"),
            F.length(name_col).alias("_len1"),
            F.substring(name_col, 1, block_len).alias("_blk1"),
        )
        right = df.select(
            F.col(id_col).alias("id2"),
            F.col(name_col).alias("name2"),
            F.length(name_col).alias("_len2"),
            F.substring(name_col, 1, block_len).alias("_blk2"),
        )
        return (
            left.join(
                right,
                (F.col("_blk1") == F.col("_blk2"))
                & (F.col("_len1") == F.col("_len2"))
                & (F.col("id1") < F.col("id2")),
            )
            .where(F.levenshtein("name1", "name2") <= max_dist)
            .select(
                "id1",
                "id2",
                "name1",
                "name2",
                F.levenshtein("name1", "name2").cast("int").alias("dist"),
            )
        )
    k = max_dist + 1
    seg_arr = F.expr(
        f"transform(sequence(0, {k - 1}), i -> substring(_suf, "
        f"cast(floor(length(_suf) * i / {k}) as int) + 1, "
        f"cast(floor(length(_suf) * (i + 1) / {k}) as int) - "
        f"cast(floor(length(_suf) * i / {k}) as int)))"
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(name_col).alias("_name"),
        F.length(name_col).alias("_len"),
        F.substring(name_col, 1, block_len).alias("_blk"),
        F.expr(f"substring({name_col}, {block_len + 1})").alias("_suf"),
    ).select(
        "_id", "_name", "_len", "_blk",
        F.posexplode(seg_arr).alias("_si", "_seg"),
    )
    left = base.repartition(n_part, "_id").select(
        F.col("_id").alias("id1"), F.col("_name").alias("name1"),
        F.col("_len").alias("_len1"), F.col("_blk").alias("_blk1"),
        F.col("_si").alias("_si1"), F.col("_seg").alias("_seg1"),
    )
    right = base.select(
        F.col("_id").alias("id2"), F.col("_name").alias("name2"),
        F.col("_len").alias("_len2"), F.col("_blk").alias("_blk2"),
        F.col("_si").alias("_si2"), F.col("_seg").alias("_seg2"),
    )
    cands = (
        left.join(
            right,
            (F.col("_blk1") == F.col("_blk2"))
            & (F.col("_len1") == F.col("_len2"))
            & (F.col("_si1") == F.col("_si2"))
            & (F.col("_seg1") == F.col("_seg2"))
            & (F.col("id1") < F.col("id2")),
        )
        .select("id1", "id2", "name1", "name2")
        .distinct()
    )
    return (
        cands.where(F.levenshtein("name1", "name2") <= max_dist)
        .select(
            "id1",
            "id2",
            "name1",
            "name2",
            F.levenshtein("name1", "name2").cast("int").alias("dist"),
        )
    )


def cdc_apply(
    base: DataFrame,
    changelog: DataFrame,
    keys: list[str],
    seq: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Materialize the next snapshot from a snapshot + CDC changelog:
    per key, the highest-sequence row wins (changelog beats base at
    equal sequence), and a winning delete removes the key.

    The inverse of `snapshot_diff`: diff extracts a changelog from two
    snapshots, apply folds a changelog back onto one.  Base rows need
    no op column (treated as upserts); the changelog carries
    `op_col` in ('U'|'D'-style markers).

    Scale: one shuffle on the key (the latest-wins window);
    `WindowGroupLimit` pre-prunes each map task to one candidate row
    per key before the exchange, so the shuffle carries ~|keys| rows,
    not the full union.  This is how a 100-TB snapshot absorbs a
    day's CDC feed without rewriting unaffected keys' history: the
    window only keeps one row per key, and with the snapshot stored
    partitioned by key-hash the union co-partitions for free.
    """
    b = base
    if op_col not in b.columns:
        b = b.withColumn(op_col, F.lit("U"))
    b = b.withColumn("_prio", F.lit(0))
    c = changelog.withColumn("_prio", F.lit(1))
    unioned = b.unionByName(c)
    from pyspark.sql import Window

    order = [F.col(s).desc() for s in seq] + [F.col("_prio").desc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col(op_col) != delete_op))
        .drop("_rn", "_prio", op_col)
    )
