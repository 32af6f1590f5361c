"""Incremental materialized aggregate views over snapshot tables —
the Materialize / Delta Live Tables shape, built from parts the
engine already has:

  * the source table's change data feed with full pre/post images
    (`SnapshotTable.read_changes(preimages=True)`, Delta CDF
    vocabulary: inserted / deleted / update_preimage /
    update_postimage);
  * algebraic aggregates (COUNT, SUM) that fold a change stream
    exactly: +1/+value for inserted and update_postimage rows,
    -1/-value for deleted and update_preimage rows — retraction is
    subtraction, so the refresh never reads the source table itself,
    only its CDF window;
  * idempotent MERGE (`merge(txn=...)`): the fold lands in the view
    atomically WITH the (app_id, source_version) watermark, so a
    crashed-and-retried refresh commits nothing twice.

Cost model at 100 TB: a refresh is O(changes since last refresh) +
O(touched view keys) — never O(source table), never O(view).  The
CDF itself is manifest-diff-driven (appends read only appended dirs;
partition-scoped merges diff only touched partitions), the fold is
one partial-aggregated groupBy of the change window, and the MERGE
rewrites only what the delta touches (partition-scoped when the view
is partitioned by a group key; merge-on-read DV mode available via
`merge_mode="dv"`).

Exactness: COUNT and integral SUMs are exact.  Floating SUM columns
are folded in DECIMAL(28,6) (cast once at fold time) so retraction
is exact subtraction — the same discipline `ops/rollup.py` uses;
float accumulation-order drift cannot leave ghost residue in the
view.  Non-algebraic aggregates (MIN/MAX/DISTINCT) are NOT
maintainable by retraction — `refresh_minmax_view` maintains them by
recomputing exactly the CDF-touched groups instead (manifest-pruned
re-scan when the source is partitioned by a group column).

AVG is derived at read time (`with_avg`) from the exact SUM/COUNT
pair, the standard algebraic decomposition.

Views COMPOSE: a view is itself a snapshot table, so its CDF feeds
the next refresher — source -> agg view -> top-N view chains (the
Delta Live Tables / Materialize dataflow-DAG shape) need no new
machinery, and each level refreshes O(its own changes).  Watermarks
are keyed per (source root, incarnation), so ONE view may fold
SEVERAL sources — a view over UNION ALL — each source advancing its
own watermark independently.  Both shapes are pytest-pinned in
tests/test_matview.py.

JOIN views (`refresh_join_view`) maintain an aggregate over an
inner equi-join L ⋈ R by the classic delta rule (DBToaster /
Materialize): Δ(L⋈R) = ΔL ⋈ R@r_wm, then L@l_wm ⋈ ΔR — each side's
change window joined against the OTHER side pinned at its folded
version (time travel), so a refresh is O(Δ ⋈ other side) and never
recomputes the join.  Each phase lands with its own per-source
compare-and-set watermark; between phases the view equals the
consistent snapshot pair (L@l_wm, R@r_wm), and a crash anywhere
resumes exactly where it left off.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    ShortType,
)

from pixelspark.table import (
    ConcurrentCommitError,
    ConcurrentWriteConflict,
    SnapshotTable,
    StaleWatermark,
    _key_on,
)

# exact decimal for floating-point sums: retraction must be exact
# subtraction, not float-order-sensitive accumulation
_SUM_T = "decimal(28,6)"

_ADDS = ("inserted", "update_postimage")
_RETRACTS = ("deleted", "update_preimage")


class SourceRewound(RuntimeError):
    """The view's folded watermark names a source version that no
    longer leads the source's history — the source was dropped and
    recreated behind the view (a restore() is a FORWARD commit and
    never trips this).  Change windows cannot be defined backwards;
    run `rebuild_view(view, src, ...)` to truncate the view and reset
    its watermarks in one commit, then refresh from scratch."""


def _check_rewind(src: SnapshotTable, view: SnapshotTable,
                  from_v: int, to_v: int) -> None:
    if from_v > to_v:
        raise SourceRewound(
            f"view {view.root} has folded {src.root} up to version "
            f"{from_v}, but the source's head is {to_v} — the source "
            "was recreated behind the view; rebuild_view(view, src) "
            "then refresh from scratch (a silent no-op here would "
            "freeze the view at a future state of the source)"
        )


def _txn_map(view: SnapshotTable) -> dict:
    """The view's fold-watermark map at its head ({} for no view)."""
    return (view._head()[1] or {}).get("txn") or {}


def _folded_any(src_root: str, tmap: dict) -> bool:
    """Does the view's txn map hold ANY fold watermark for a source at
    this root (legacy or any incarnation key)?  Used to tell "source
    not created yet" (fold nothing, quietly) from "source GONE from
    under a view that folded it" (refuse loudly)."""
    pre = f"matview::{src_root}"
    return any(
        (k == pre or k.startswith(pre + "::")) and tmap.get(k)
        for k in tmap
    )


def _check_missing(src: SnapshotTable, view: SnapshotTable, tmap: dict) -> None:
    if _folded_any(src.root, tmap):
        raise SourceRewound(
            f"source {src.root} no longer exists, but view {view.root} "
            "holds its fold watermark — the source was dropped from "
            "under the view; rebuild_view(view, src) to start over "
            "(a silent no-op would freeze the view at the state of a "
            "vanished table)"
        )


def _app_id(src_root: str, tid: str | None, tmap: dict) -> str:
    """One watermark per (source, view) pair, keyed by the source's
    ROOT + INCARNATION id `tid` (its head's `table_id`):
    `matview::<root>::<table_id>`, resolved against the view's txn
    map `tmap`.  The id is what catches the case version ordering
    cannot — a source dropped and recreated that has already advanced
    PAST the view's watermark by the next refresh (same version
    numbers, different table):
    the view's watermark sits under the old incarnation's key, the new
    incarnation resolves to a different key, and finding a non-empty
    stale sibling raises `SourceRewound` instead of silently folding
    a stranger's manifest diff onto the view.

    Views that recorded watermarks before the identity stamp keep
    their legacy `matview::<root>` key (sticky — no migration
    rewrite), retaining the version-ordering guard only."""
    legacy = f"matview::{src_root}"
    if legacy in tmap:
        return legacy  # pre-identity view: keep its key
    if not tid:
        return legacy
    ident = f"{legacy}::{tid}"
    if ident not in tmap:
        prefix = legacy + "::"
        stale = [k for k in tmap if k.startswith(prefix) and tmap.get(k)]
        if stale:
            raise SourceRewound(
                f"the view holds a fold watermark for a different "
                f"incarnation of {src_root} ({stale[0]}) — "
                "the source was dropped and recreated; "
                "rebuild_view(view, src) to start over"
            )
    return ident


def rebuild_view(view: SnapshotTable, *sources: SnapshotTable) -> int | None:
    """The `SourceRewound` remedy, and the general start-over switch:
    truncate the view AND reset its per-source fold watermarks in ONE
    atomic commit (`overwrite(clear_txn=...)`), so the next refresh
    folds the sources' full current history from scratch.  Two
    commits would be unsafe in the truncate-then-clear order's dual —
    clear-then-truncate leaves a window where a refresh folds fresh
    changes onto the STALE rows; the single commit has no such
    window, and a crash before it changes nothing.  Returns the
    view's new version (None when the view doesn't exist — nothing
    to rebuild)."""
    v, m = view._head()
    if m is None:
        return None
    # clear by PREFIX, not by _app_id resolution: the stale-
    # incarnation watermark this remedy exists to remove is exactly
    # what _app_id refuses to resolve past
    tmap = m.get("txn") or {}
    clear = tuple(
        k for s in sources for k in tmap
        if k == f"matview::{s.root}" or k.startswith(f"matview::{s.root}::")
    )
    return view._overwrite(
        (v, m), view._read(m).limit(0),
        partition_col=m.get("partition_col"),
        clear_txn=clear,
        op={"name": "rebuild_view"},
    )


def last_folded_version(
    src: SnapshotTable, view: SnapshotTable, version: int | None = None
) -> int:
    """The source version the view has folded up to (0 = nothing).
    `version` reads the watermark AS OF that view version instead of
    latest — what a publisher needs to pair a SPECIFIC view state
    with exactly the source state it covers (reading latest would
    pick up a rival's later fold)."""
    m = view._head()[1] if version is None else view.manifest(version)
    tmap = (m or {}).get("txn") or {}
    return int(tmap.get(_app_id(src.root, src.table_id(), tmap), 0))


def fold_delta(
    changes: DataFrame,
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    count_col: str = "n",
) -> DataFrame:
    """Collapse a pre/post-image change window into one signed delta
    row per touched group: `count_col` = net row-count change, each
    sum column = net value change.  One partial-aggregated groupBy —
    the only shuffle a refresh pays, keyed and sized by the CHANGE
    window, not the table."""
    if count_col in set(group_by) | set(sum_cols):
        raise ValueError(
            f"count_col {count_col!r} collides with a group/sum column — "
            "pick a distinct name"
        )
    sign = (
        F.when(F.col("change_type").isin(*_ADDS), F.lit(1))
        .when(F.col("change_type").isin(*_RETRACTS), F.lit(-1))
        .otherwise(F.lit(0))
    )

    def val(c: str):
        dt = changes.schema[c].dataType
        col = F.col(c)
        if isinstance(dt, (FloatType, DoubleType)):
            col = col.cast(_SUM_T)
        elif isinstance(dt, (ByteType, ShortType, IntegerType)):
            col = col.cast("long")
        return col

    aggs = [F.sum(sign).cast("long").alias(count_col)] + [
        # SUM skips NULLs on both add and retract, so a NULL value
        # nets to zero symmetrically; coalesce keeps the arithmetic
        # in the merge total-able when a group's window is all-NULL.
        # Consequence (documented view semantics): a sum column is
        # COALESCE(SUM(x), 0) — a group with ONLY NULL values (e.g.
        # outer-join null extensions) reads 0, not SQL's NULL
        F.coalesce(F.sum(sign * val(c)), F.lit(0).cast(
            _SUM_T if isinstance(changes.schema[c].dataType,
                                 (FloatType, DoubleType)) else "long"
        )).alias(c)
        for c in sum_cols
    ]
    return changes.groupBy(*group_by).agg(*aggs)


def _ensure_view(view: SnapshotTable, delta: DataFrame) -> None:
    """Create the view (empty, fold-schema) iff it does not exist —
    CREATE-ONLY CAS (`expected_version=None`).  An unconditional
    overwrite here would let a refresher that read latest_version() as
    None TRUNCATE a rival's already-folded view; the rival's txn
    watermark would survive the truncate, leaving the view
    empty-but-marked-current forever.  Losing the create race is
    fine: the winner's contents (and watermarks) stand, and the
    caller's fold CAS takes it from there."""
    if view.latest_version() is not None:
        return
    try:
        view.overwrite(delta.limit(0), expected_version=None)
    except ConcurrentWriteConflict:
        pass  # a rival created it first — their state is the truth


def _fold_or_create(fold, view: SnapshotTable, delta: DataFrame):
    """Run a fold merge, creating the view REACTIVELY if its no-op
    path finds no manifest to record the watermark in (an all-empty
    first window on a not-yet-existing view).  A merge with actual
    rows creates the table itself, so the common first fold pays no
    extra commit; only the empty-window edge takes the create-only
    CAS and retries."""
    try:
        return fold()
    except FileNotFoundError:
        _ensure_view(view, delta)
        return fold()


def _fold_merge(
    view: SnapshotTable,
    delta: DataFrame,
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...],
    count_col: str,
    merge_mode: str,
    txn: tuple[str, int, int],
) -> int | None:
    """Land a signed fold delta in the view: existing groups add the
    net change (delete when the count nets to zero — no ghost rows),
    new groups insert, all atomically with the compare-and-set
    (app_id, to_version, expected_from) watermark."""
    t_n, s_n = F.col(f"t.{count_col}"), F.col(f"s.{count_col}")
    upd = {count_col: (t_n + s_n).cast("long")}
    for c in sum_cols:
        upd[c] = F.col(f"t.{c}") + F.col(f"s.{c}")
    return view.merge(
        delta,
        keys=group_by,
        when_matched_delete=(t_n + s_n) == 0,
        when_matched_update=upd,
        when_not_matched_insert=s_n > 0,
        validate_keys=False,  # groupBy output: unique by construction
        mode=merge_mode,
        null_safe_keys=True,  # a NULL group must UPDATE, not re-insert
        txn=txn,
    )


def _fold_loop(src: SnapshotTable, view: SnapshotTable,
               src_keys: tuple[str, ...] | None, body, what: str) -> int | None:
    """The one retry loop behind every single-source refresher.  Each
    attempt resolves the source head and the view's txn map ONCE,
    refuses a vanished or rewound source, returns None when the view
    is already current, and hands the change window since the folded
    watermark (pre/post images) to `body(changes, sm, txn)` — `sm` the
    source manifest at `to_v` — which lands it with the
    compare-and-set `txn` (app_id, to_v, expected from_v).  A rival
    fold landing first makes that commit raise StaleWatermark, and the
    attempt re-runs from the advanced watermark."""
    for _ in range(view.max_retries):
        to_v, sm = src._head()
        tmap = _txn_map(view)
        if sm is None:
            _check_missing(src, view, tmap)
            return None  # source doesn't exist yet: nothing to fold
        app = _app_id(src.root, sm.get("table_id"), tmap)
        from_v = int(tmap.get(app, 0))
        _check_rewind(src, view, from_v, to_v)
        if from_v == to_v:
            return None  # already current
        changes = src._read_changes((to_v, sm), from_v, keys=src_keys,
                                    preimages=True)
        try:
            return body(changes, sm, (app, to_v, from_v))
        except StaleWatermark:
            continue  # a rival fold landed: recompute from its watermark
    raise ConcurrentCommitError(
        f"{what} refresh lost the fold race {view.max_retries} times "
        f"at {view.root}"
    )


def _touched_groups(
    src: SnapshotTable, sm: dict, changes: DataFrame,
    group_by: tuple[str, ...],
) -> tuple[DataFrame, DataFrame]:
    """(touched groups, their source rows) for the recompute-shaped
    refreshers.  Touched groups are the DISTINCT group keys of the
    change window — pre-images included, so an update that MOVES a row
    across groups touches both.  Their rows come from ONE scan of the
    source snapshot `sm` the window ends at, semi-joined (null-safe: a
    NULL group value is a real group) to the touched keys and pruned
    at the MANIFEST level when the source is partitioned by a group
    column; a NULL partition value cannot be addressed by name, so it
    falls back to the unpruned scan."""
    touched = changes.select(*group_by).distinct()
    pcol = sm.get("partition_col")
    # [None] stands for "not prunable": unpartitioned by a group column
    vals = ([r[0] for r in touched.select(pcol).distinct().collect()]
            if pcol in group_by else [None])
    if None in vals:
        base = src._read(sm)
    elif vals:
        base = src._read(sm, partition_values=vals)
    else:
        # empty change window (e.g. a compact classified all rows
        # 'unchanged'): nothing to recompute, but the watermark must
        # still advance — an empty merge, not an early return
        base = src._read(sm).limit(0)
    rows = base.alias("b").join(
        F.broadcast(touched.alias("t")), _key_on(group_by, "b", "t", True),
        "semi")
    return touched, rows


def refresh_agg_view(
    src: SnapshotTable,
    view: SnapshotTable,
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    count_col: str = "n",
    src_keys: tuple[str, ...] | None = None,
    merge_mode: str = "rewrite",
    where: object | None = None,
) -> int | None:
    """Fold everything the source committed since the last refresh
    into the view, exactly once.  Returns the view's new version, or
    None when there was nothing new (or a replayed refresh detected
    its fold already landed).

    `src_keys` — the source's unique row key, required by the CDF
    whenever the window contains rewrites or deletion vectors
    (append-only windows need none).  `merge_mode="dv"` folds via
    merge-on-read (O(touched keys) write even on an unpartitioned
    view).

    `where` — optional DETERMINISTIC row-level predicate (Column /
    SQL string) applied to the change window before folding: the
    view maintains the aggregate of the FILTERED source.  Retraction
    stays exact because a row's pre- and post-images filter
    identically unless the update moved it across the predicate — in
    which case exactly one of the pair survives, which IS the
    correct signed delta for a filtered view.

    The view's schema is group_by + `count_col` (BIGINT) + one column
    per sum (BIGINT for integral inputs, DECIMAL(28,6) for floating).
    Groups whose count reaches zero are deleted — the view never
    carries ghost rows, so it equals the from-scratch aggregate after
    every refresh (pytest-pinned).

    Concurrency: the fold commits with a COMPARE-AND-SET watermark
    (app_id, to_v, expected from_v), so two refreshers racing on the
    same view can never both apply overlapping change windows — the
    loser sees StaleWatermark and recomputes from the advanced
    watermark."""
    def body(changes: DataFrame, sm: dict, txn: tuple) -> int | None:
        if where is not None:
            changes = changes.where(
                F.expr(where) if isinstance(where, str) else where
            )
        delta = fold_delta(changes, group_by, sum_cols, count_col)
        return _fold_or_create(
            lambda: _fold_merge(view, delta, group_by, sum_cols, count_col,
                                merge_mode, txn),
            view, delta,
        )

    return _fold_loop(src, view, src_keys, body, "matview")


def refresh_distinct_view(
    src: SnapshotTable,
    support: SnapshotTable,
    view: SnapshotTable,
    group_by: tuple[str, ...],
    distinct_col: str,
    count_col: str = "ndv",
    src_keys: tuple[str, ...] | None = None,
    where: object | None = None,
) -> int | None:
    """Exact incremental COUNT(DISTINCT distinct_col) per group — the
    aggregate plain retraction cannot maintain directly (deleting one
    occurrence of a value must only decrement the distinct count when
    it was the LAST occurrence).  Solved by CHAINING two ordinary
    folds, each exactly-once with its own watermark:

      1. source CDF → SUPPORT table keyed by group_by + distinct_col,
         counting occurrences per (group, value).  `refresh_agg_view`
         already deletes a support row the moment its count nets to
         zero and inserts on first occurrence — so support-row BIRTHS
         and DEATHS are precisely distinct-value appearances and
         disappearances;
      2. support CDF → VIEW counting support ROWS per group: +1 per
         inserted support row, -1 per deleted one; count-only updates
         arrive as pre/post pairs that cancel in the row count.

    The view's `count_col` therefore equals COUNT(DISTINCT ...) at
    the source version the chain has folded to.  NULLs are excluded
    (SQL COUNT(DISTINCT) semantics) via the step-1 `where` filter;
    a caller `where` composes conjunctively (filtered distinct view).

    Cost: step 1 is O(source changes) + O(touched (group, value)
    pairs); step 2 is O(support changes) — bounded by the number of
    distinct values that appeared or vanished, never by the source.
    The support table is the O(NDV) state every exact streaming
    distinct-count carries (the Materialize arrangement / the
    classic distinct-agg auxiliary relation); if approximate is
    acceptable at 100 TB, ops/sketches.py HLL is the cheaper path.

    Crash between the folds: step 2's next run picks up the support
    versions step 1 landed — the chain needs no cross-table
    transaction.  Returns the view's new version (None when fully
    current)."""
    notnull = F.col(distinct_col).isNotNull()
    if where is not None:
        w = F.expr(where) if isinstance(where, str) else where
        notnull = notnull & w
    refresh_agg_view(
        src, support, group_by=tuple(group_by) + (distinct_col,),
        count_col="supp", src_keys=src_keys, where=notnull,
    )
    return refresh_agg_view(
        support, view, group_by=tuple(group_by), count_col=count_col,
        src_keys=tuple(group_by) + (distinct_col,),
    )


def _delta_join(
    delta: DataFrame, other: DataFrame, on: tuple[str, ...],
    how: str = "inner",
) -> DataFrame:
    """Equi-join of a signed change window against the other side's
    pinned snapshot.  Output namespace: join keys (delta side's
    values) + both sides' non-key columns + `change_type` — each
    joined pair inherits the delta row's sign, which is exactly the
    multiset-join delta (a change row matching k rows on the other
    side contributes k signed join rows).  `how='left'` keeps
    unmatched delta rows with NULL other-side columns (the
    null-extended contribution of a LEFT-side change)."""
    overlap = (set(delta.columns) & set(other.columns)) - set(on)
    if overlap:
        raise ValueError(
            f"join sides share non-key columns {sorted(overlap)}; rename "
            "them on the source tables (the view's namespace is flat)"
        )
    cond = _key_on(on, "d", "o", null_safe=False)
    keep = [F.col(f"d.{c}") for c in delta.columns] + [
        F.col(f"o.{c}") for c in other.columns if c not in on
    ]
    return delta.alias("d").join(other.alias("o"), cond, how).select(*keep)


def _flip_deltas(
    changes: DataFrame,
    right: SnapshotTable,
    r_wm: int,
    left: SnapshotTable,
    l_wm: int,
    on: tuple[str, ...],
    cleanup: list,
) -> DataFrame:
    """Outer-join zero-crossing correction: when a change window on
    one side (`changes`, from the table pinned at `r_wm` before the
    window) moves a join key's match count m0 → m1 ACROSS ZERO, the
    OTHER side's rows of that key (`left` pinned at `l_wm`) swap
    between null-extended and joined form.
    m0 = 0 → m1 > 0: their null-extended view rows must RETRACT (the
    inner delta adds the joined ones); m0 > 0 → m1 = 0: null-extended
    rows must APPEAR (the inner delta retracted every joined one).
    Keys whose count stays on one side of zero need no correction.
    The roles are symmetric — the LEFT view's right phase and both
    FULL view phases call this with the delta side as `right` and
    the preserved side as `left`; the emitted rows null out the
    DELTA side's columns.

    Everything here is sized by the change window: per-key net counts
    from the window, m0 from the pinned delta-side table PRUNED to
    the window's key range, and the affected preserved-side rows
    PRUNED to the (typically tiny) flipped-key range."""
    sign = (
        F.when(F.col("change_type").isin(*_ADDS), F.lit(1))
        .when(F.col("change_type").isin(*_RETRACTS), F.lit(-1))
        .otherwise(F.lit(0))
    )
    nonnull = reduce(
        lambda a, b: a & b, [F.col(k).isNotNull() for k in on]
    )
    net = (
        changes.where(nonnull)  # NULL keys never match: no flip possible
        .groupBy(*on).agg(F.sum(sign).alias("__net"))
    )
    m0 = (
        _pinned_side(right, r_wm, changes, on)
        .groupBy(*on).agg(F.count(F.lit(1)).alias("__m0"))
    )
    m0c = F.coalesce(F.col("__m0"), F.lit(0))
    m1c = m0c + F.col("__net")
    flips = (
        net.join(m0, list(on), "left")
        .where(((m0c == 0) & (m1c > 0)) | ((m0c > 0) & (m1c == 0)))
        .select(
            *on,
            F.when(m0c == 0, F.lit("deleted"))
            .otherwise(F.lit("inserted")).alias("change_type"),
        )
    )
    # consumed twice (key-range probe inside _pinned_side, then the
    # join); its plan includes the m0 pinned scan — cache it so that
    # scan runs once.  The caller unpersists everything in `cleanup`
    # after the fold merge has consumed the correction
    flips = flips.persist()
    cleanup.append(flips)
    affected = _delta_join(flips, _pinned_side(left, l_wm, flips, on), on)
    r_schema = changes.schema
    null_right = [
        F.lit(None).cast(r_schema[c].dataType).alias(c)
        for c in changes.columns if c not in on and c != "change_type"
    ]
    return affected.select(*affected.columns, *null_right)


def _pinned_side(
    t: SnapshotTable,
    wm: int,
    changes: DataFrame,
    on: tuple[str, ...],
) -> DataFrame:
    """The non-delta side of a join-view phase, pinned at its folded
    version and PRUNED to the change window's join-key range.  An
    inner join only keeps other-side rows whose key equals some delta
    key, so restricting the pinned scan to [min, max] of the window's
    keys is exact — and when the table records `stats_cols` on the
    join key, `read(predicates=...)` skips whole files before Spark
    plans the scan.  The production consequence: a clustered dim
    update (new customer block, one tenant's rows) re-reads a key
    range of the 100 TB fact side, not all of it; scattered keys
    degrade to the full pinned scan, never to wrongness.  An all-NULL
    or empty window short-circuits to an empty side (NULL keys never
    join)."""
    if not wm:
        return t.read().limit(0)  # nothing folded yet: the pin is empty
    if len(on) != 1:
        return t.read(version=wm)
    k = on[0]
    lo, hi = changes.agg(F.min(k), F.max(k)).first()
    if lo is None:
        return t.read(version=wm).limit(0)
    return t.read(version=wm, predicates=[(k, ">=", lo), (k, "<=", hi)])


def refresh_join_view(
    left: SnapshotTable,
    right: SnapshotTable,
    view: SnapshotTable,
    on: tuple[str, ...],
    group_by: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    count_col: str = "n",
    left_keys: tuple[str, ...] | None = None,
    right_keys: tuple[str, ...] | None = None,
    derive: dict[str, object] | None = None,
    merge_mode: str = "rewrite",
    how: str = "inner",
) -> int | None:
    """Incrementally maintain `SELECT group_by, COUNT(*), SUM(...)
    FROM left JOIN right USING (on) GROUP BY group_by` — the
    aggregate-over-join view, by the two-phase delta rule:

      phase L:  ΔL(l_wm → to_l)  ⋈  R@r_wm   folds, advancing l_wm;
      phase R:  L@l_wm           ⋈  ΔR(r_wm → to_r) folds, advancing r_wm.

    Invariant: after any prefix of phases the view equals the exact
    aggregate of L@l_wm ⋈ R@r_wm — each phase is one signed fold
    landed atomically with ITS source's compare-and-set watermark, so
    a crash between phases (or a replay of either) resumes/no-ops
    cleanly, and concurrent refreshers serialize per phase exactly
    like `refresh_agg_view` folds do.

    Cost at 100 TB: a refresh never recomputes the join — it pays
    Δ ⋈ other-side (AQE broadcasts the change window when small) plus
    one fold-merge per phase.  The pinned-version reads require the
    other side's manifest retention to cover the refresh cadence
    (vacuum keep_versions / keep_hours — same discipline Delta CDF
    consumers need).

    `derive` — optional row-level computed columns (name → Column /
    SQL string) applied to the joined rows BEFORE folding, so
    sum_cols can aggregate join-crossing arithmetic (e.g. revenue =
    qty * price).  Retraction stays exact because the pre-image row
    derives the identical value it added.

    `on` keys join by plain equality (NULL never matches — SQL join
    semantics, identical to the from-scratch aggregate).  Updates
    that move rows across join keys or groups are handled by the
    pre/post-image retraction, same as `refresh_agg_view`.

    `left_keys` / `right_keys` are each table's unique ROW key for
    its CDF (needed whenever a window contains rewrites or deletion
    vectors) — NOT the join key, which may be freely non-unique on
    either side (fan-out folds as multiset multiplicity).

    `how='left'` maintains the LEFT OUTER variant: unmatched left
    rows contribute null-extended rows (right columns NULL — a
    nullable group key folds in place via the null-safe MERGE keys).
    The left phase is simply a signed left join against the pinned
    right.  The right phase adds a FLIP correction on top of the
    inner delta: when the window moves a key's right-side match
    count across zero, that key's left rows swap between
    null-extended and joined form (m0=0→m1>0 retracts their null
    extensions; m0>0→m1=0 inserts them) — see `_flip_deltas`; the
    correction is sized by the window's keys, never by either table.

    `how='full'` is the symmetric closure: BOTH phases use the
    preserved (left-style) delta join — so a change row unmatched on
    the pinned side folds null-extended — and BOTH carry the flip
    correction, each nulling the DELTA side's columns.  `how='right'`
    is exactly LEFT with the sources swapped and is handled that way
    internally (watermarks are keyed per source root, so the swap is
    invisible to the fold state).

    Returns the view's latest committed version, or None when both
    sides were already folded (or the sides don't both exist yet —
    a join with a missing side folds nothing, and watermarks only
    start once there is something to pin)."""
    if how == "right":
        return refresh_join_view(
            right, left, view, on=on, group_by=group_by,
            sum_cols=sum_cols, count_col=count_col,
            left_keys=right_keys, right_keys=left_keys,
            derive=derive, merge_mode=merge_mode, how="left",
        )
    if how not in ("inner", "left", "full"):
        raise ValueError(
            f"how must be 'inner', 'left', 'right' or 'full', got {how!r}"
        )
    tmap = _txn_map(view)
    app_l = _app_id(left.root, left.table_id(), tmap)
    app_r = _app_id(right.root, right.table_id(), tmap)
    if app_l == app_r:
        raise ValueError(
            "refresh_join_view needs two distinct source tables (a "
            "self-join view would share one watermark); clone the "
            "source for the second side"
        )
    # fold targets are PINNED at call start: a hot source committing
    # during the refresh does not extend this call's work (its new
    # commits wait for the next refresh), and successful phase folds
    # never consume the race budget — only lost CAS attempts do,
    # else a busy fact table could exhaust the loop while every fold
    # was landing correctly
    to_l0, to_r0 = left.latest_version(), right.latest_version()
    if to_l0 is None or to_r0 is None:
        # a side that never existed folds nothing; a side that
        # VANISHED from under the view refuses
        if to_l0 is None:
            _check_missing(left, view, tmap)
        if to_r0 is None:
            _check_missing(right, view, tmap)
        return None
    out: int | None = None
    races = 0
    while True:
        tmap = _txn_map(view)
        from_l, from_r = int(tmap.get(app_l, 0)), int(tmap.get(app_r, 0))
        # rewind checks compare against the CURRENT heads (a rival
        # refresher may legitimately have folded past this call's
        # pinned targets; a head BELOW the watermark is the anomaly)
        _check_rewind(left, view, from_l, left.latest_version() or 0)
        _check_rewind(right, view, from_r, right.latest_version() or 0)
        if from_l >= to_l0 and from_r >= to_r0:
            return out  # both sides at (or past) this call's targets
        if from_l < to_l0:
            # left phase: the right side pins at ITS watermark — right
            # changes past r_wm fold in the right phase against the
            # advanced left, never twice
            changes = left.read_changes(
                from_l, to_l0, keys=left_keys, preimages=True
            )
            pin_t, pin_wm = right, from_r
            txn = (app_l, to_l0, from_l)
            phase_left = True
        else:
            changes = right.read_changes(
                from_r, to_r0, keys=right_keys, preimages=True
            )
            # from_l >= to_l0 >= 1 here, so the pin always names a
            # real manifest
            pin_t, pin_wm = left, from_l
            txn = (app_r, to_r0, from_r)
            phase_left = False
        # the window is consumed twice (key-range probe, then the
        # join): cache it so the CDF diff computes once
        changes = changes.persist()
        pinned: list = [changes]
        try:
            other = _pinned_side(pin_t, pin_wm, changes, on)
            # which side does this phase PRESERVE (null-extend the
            # delta rows that miss the pinned side)?  LEFT: only the
            # left phase.  FULL: both.  And the zero-crossing flip
            # correction runs wherever the OTHER side's rows are
            # preserved: LEFT -> right phase only, FULL -> both.
            preserve_delta = (how == "left" and phase_left) or how == "full"
            flip = (how == "left" and not phase_left) or how == "full"
            joined = _delta_join(
                changes, other, on, "left" if preserve_delta else "inner"
            )
            if flip:
                joined = joined.unionByName(
                    _flip_deltas(changes, left, from_l, right, from_r, on,
                                 cleanup=pinned)
                    if phase_left
                    else _flip_deltas(changes, right, from_r, left, from_l,
                                      on, cleanup=pinned)
                )
            for name, expr in (derive or {}).items():
                joined = joined.withColumn(
                    name, F.expr(expr) if isinstance(expr, str) else expr
                )
            delta = fold_delta(joined, group_by, sum_cols, count_col)
            try:
                v = _fold_or_create(
                    lambda: _fold_merge(
                        view, delta, group_by, sum_cols, count_col,
                        merge_mode, txn,
                    ),
                    view, delta,
                )
                out = v if v is not None else out
            except StaleWatermark:
                # a rival refresher advanced this side: re-derive.
                # Only LOST races consume the budget
                races += 1
                if races >= 2 * view.max_retries:
                    raise ConcurrentCommitError(
                        f"join-view refresh lost the fold race {races} "
                        f"times at {view.root}"
                    ) from None
                continue
        finally:
            # `pinned` starts as [changes] and _flip_deltas appends
            # its persisted flips — unpersist ALL of them, else every
            # left/full phase leaks one cached plan per refresh
            for df in pinned:
                df.unpersist()


def refresh_recompute_view(
    src: SnapshotTable,
    view: SnapshotTable,
    group_by: tuple[str, ...],
    aggs: dict[str, object],
    count_col: str = "n",
    src_keys: tuple[str, ...] | None = None,
) -> int | None:
    """ARBITRARY-aggregate materialized view: maintain
    `SELECT group_by, COUNT(*), <aggs> FROM src GROUP BY group_by`
    for aggregates retraction cannot fold — MIN/MAX (deleting the
    extremum needs the runner-up), percentiles, stddev, mode,
    collect-style aggregates.  `aggs` maps output column name to an
    aggregate expression (Column or SQL string) evaluated over the
    source rows of a group.  Instead of folding, the refresh
    RECOMPUTES exactly the groups the CDF window touched:

      1. touched groups = DISTINCT group keys of the change window —
         sized by the changes, collected only group-key-wide;
      2. their fresh aggregates = one groupBy over the source rows of
         those groups.  When the source is PARTITIONED BY a group
         column, the re-scan prunes at the MANIFEST level
         (`read(partition_values=...)`) — a one-day change re-reads
         one day, not 100 TB.  Otherwise the source scans once with a
         semi-filter (documented fallback: O(table) read, O(touched
         groups) shuffle);
      3. one idempotent MERGE: recomputed groups update/insert,
         groups whose rows all disappeared delete (count marker 0),
         watermarked with (app_id, source_version) like the fold.

    View schema: group_by + `count_col` + the `aggs` keys.  The agg
    expressions are VIEW CONSTANTS (like group_by): changing them
    leaves untouched groups stale — rebuild_view to change shape.
    Returns the view's new version, or None when already current.
    Same compare-and-set watermark discipline as `refresh_agg_view`
    (here a lost race merely recomputes still-fresh aggregates, but
    the CAS keeps the refresh flavors interchangeable).

    Cost note vs `refresh_agg_view`: prefer the FOLD for COUNT/SUM
    (O(changes), never re-reads the source); pay this recompute shape
    only for the aggregates folding cannot express."""
    bad = set(aggs) & (set(group_by) | {count_col})
    if bad:
        raise ValueError(
            f"agg columns {sorted(bad)} collide with group/count columns"
        )
    agg_exprs = {
        name: (F.expr(e) if isinstance(e, str) else e)
        for name, e in aggs.items()
    }
    def body(changes: DataFrame, sm: dict, txn: tuple) -> int | None:
        touched, rows = _touched_groups(src, sm, changes, group_by)
        fresh = rows.groupBy(*group_by).agg(
            F.count(F.lit(1)).cast("long").alias(count_col),
            *[c.alias(name) for name, c in agg_exprs.items()],
        )
        # null-safe: plain equality would route a live NULL group to
        # `gone` and delete it from the view on every refresh
        gone = touched.alias("t").join(
            fresh.alias("f"), _key_on(group_by, "t", "f", True), "left_anti"
        ).select(
            *group_by,
            F.lit(0).cast("long").alias(count_col),
            *[F.lit(None).cast(fresh.schema[name].dataType).alias(name)
              for name in agg_exprs],
        )
        delta = fresh.unionByName(gone)
        return _fold_or_create(
            lambda: view.merge(
                delta,
                keys=group_by,
                when_matched_delete=F.col(f"s.{count_col}") == 0,
                when_matched_update="all",
                when_not_matched_insert=F.col(f"s.{count_col}") > 0,
                validate_keys=False,
                null_safe_keys=True,
                txn=txn,
            ),
            view, delta,
        )

    return _fold_loop(src, view, src_keys, body, "recompute-view")


def refresh_minmax_view(
    src: SnapshotTable,
    view: SnapshotTable,
    group_by: tuple[str, ...],
    min_cols: tuple[str, ...] = (),
    max_cols: tuple[str, ...] = (),
    count_col: str = "n",
    src_keys: tuple[str, ...] | None = None,
) -> int | None:
    """MIN/MAX companion to `refresh_agg_view` — the named special
    case of `refresh_recompute_view` (affected-group recompute; see
    there for the mechanics and the 100-TB pruning story).  View
    schema: group_by + `count_col` + `min_<c>` / `max_<c>`."""
    aggs: dict[str, object] = {}
    for c in min_cols:
        aggs[f"min_{c}"] = F.min(c)
    for c in max_cols:
        aggs[f"max_{c}"] = F.max(c)
    return refresh_recompute_view(
        src, view, group_by, aggs, count_col=count_col, src_keys=src_keys,
    )


def refresh_topn_view(
    src: SnapshotTable,
    view: SnapshotTable,
    group_by: tuple[str, ...],
    order_by: tuple[str, ...],
    n: int = 10,
    descending: bool | tuple[bool, ...] = True,
    payload: tuple[str, ...] = (),
    rank_col: str = "rank",
    src_keys: tuple[str, ...] | None = None,
) -> int | None:
    """Per-group TOP-N materialized view:

        SELECT group_by, rank, order_by, payload FROM (
          SELECT *, row_number() OVER (
            PARTITION BY group_by ORDER BY order_by ...) AS rank
          FROM src) WHERE rank <= n

    Top-N is the classic view retraction CANNOT maintain: deleting
    the current #3 must pull #N+1 into the board, and the view never
    stored it.  Like `refresh_minmax_view`, the refresh RECOMPUTES
    exactly the groups the CDF window touched (pre/post images catch
    group-crossing updates on both their old and new boards):

      1. touched groups = DISTINCT group keys of the change window;
      2. their fresh boards = one semi-filtered scan of the source
         (manifest-pruned via `read(partition_values=...)` when the
         source is partitioned by a group column) + a row_number
         window PARTITIONED by the group — never a global sort;
      3. one idempotent MERGE keyed on (group_by..., rank): live
         slots update/insert, VACATED slots delete — a board that
         shrank from N to k rows keeps exactly k.  The slot frame is
         touched x n rows, so the merge is sized by the change
         window, never by the view.

    `order_by` must be a TOTAL order (end it with a unique key) or
    rank ties break nondeterministically across refreshes.  NULL
    ordering is Spark's default (ASC = nulls first, DESC = nulls
    last).  `n`, `order_by` and `group_by` are view constants: a
    LARGER n on an existing view back-fills lazily (only touched
    groups re-board), a smaller one strands stale tail slots — use
    `rebuild_view` to change the shape.

    View schema: group_by + rank_col + order_by + payload columns.
    Same compare-and-set (app_id, source_version) watermark
    discipline as every other refresher in this module."""
    if not group_by:
        raise ValueError(
            "refresh_topn_view needs at least one group column — a "
            "GLOBAL top-n would plan a single-partition window; use "
            "orderBy(...).limit(n) (TakeOrderedAndProject) for that"
        )
    if isinstance(descending, bool):
        descending = (descending,) * len(order_by)
    if len(descending) != len(order_by):
        raise ValueError("descending must match order_by in length")
    overlap = set(group_by) & set(order_by)
    if overlap:
        raise ValueError(f"order_by columns {sorted(overlap)} are group "
                         "keys — constant within a board, order on a "
                         "non-key column")
    val_cols = list(order_by) + [c for c in payload if c not in order_by]
    def body(changes: DataFrame, sm: dict, txn: tuple) -> int | None:
        touched, rows = _touched_groups(src, sm, changes, group_by)
        w = Window.partitionBy(*group_by).orderBy(*[
            F.col(c).desc() if d else F.col(c).asc()
            for c, d in zip(order_by, descending)
        ])
        fresh = (
            rows.withColumn(rank_col, F.row_number().over(w))
            .where(F.col(rank_col) <= n)
            .select(*group_by, rank_col, *val_cols)
            .withColumn("__live", F.lit(1))
        )
        slots = touched.select(
            *group_by,
            F.explode(F.sequence(F.lit(1), F.lit(n))).alias(rank_col),
        )
        # ranks are never NULL, so null-safe equality on them is plain
        on_sf = _key_on(tuple(group_by) + (rank_col,), "s", "f", True)
        delta = (
            slots.alias("s")
            .join(fresh.alias("f"), on_sf, "left")
            .select(
                *[F.col(f"s.{k}").alias(k) for k in group_by],
                F.col(f"s.{rank_col}").alias(rank_col),
                *[F.col(f"f.{c}").alias(c) for c in val_cols],
                F.coalesce(F.col("f.__live"), F.lit(0)).alias("__live"),
            )
        )
        # the view is created WITHOUT the __live marker (merge would
        # otherwise bake it into the schema on the first insert) —
        # eager creation here, unlike _fold_or_create's reactive path
        _ensure_view(view, delta.drop("__live"))
        return view.merge(
            delta,
            keys=tuple(group_by) + (rank_col,),
            when_matched_delete=F.col("s.__live") == 0,
            when_matched_update={c: F.col(f"s.{c}") for c in val_cols},
            when_not_matched_insert=F.col("s.__live") == 1,
            validate_keys=False,  # (group, rank) unique by window
            null_safe_keys=True,
            txn=txn,
        )

    return _fold_loop(src, view, src_keys, body, "topn-view")


def with_avg(
    view_df: DataFrame,
    sum_cols: tuple[str, ...],
    count_col: str = "n",
) -> DataFrame:
    """Derive AVG columns (`avg_<c>`) from the exact SUM/COUNT pairs —
    the read-time half of the algebraic-aggregate decomposition."""
    out = view_df
    for c in sum_cols:
        out = out.withColumn(
            f"avg_{c}", F.col(c) / F.col(count_col)
        )
    return out


def refresh_dag(
    steps: dict[str, tuple],
) -> dict[str, int | None]:
    """Refresh a DAG of views in dependency order — the Delta Live
    Tables / Materialize "pipeline" shape over this module's
    refreshers.  `steps` maps a step name to (refresh_callable,
    dependency_names); each callable is a zero-arg closure over one
    of the refresh_* functions.  Upstream views refresh first, so a
    downstream view folding an upstream view's CDF sees this round's
    changes in the same pass; one pass settles the whole DAG (every
    refresher is exact per call, no fixpoint iteration needed).

    Returns {name: version-or-None} (None = that view was already
    current).  Raises on unknown dependencies or cycles — a cyclic
    view graph has no consistent refresh order."""
    import graphlib

    for name, (_, deps) in steps.items():
        if isinstance(deps, str):
            raise TypeError(
                f"dependencies of {name!r} must be a tuple of names, "
                f"not the string {deps!r} (write ('{deps}',))"
            )
        for dep in deps:
            if dep not in steps:
                raise ValueError(f"unknown view dependency: {dep!r}")
    try:
        order = list(graphlib.TopologicalSorter(
            {name: deps for name, (_, deps) in steps.items()}
        ).static_order())
    except graphlib.CycleError as e:
        raise ValueError(
            f"view DAG has a cycle: {' -> '.join(map(str, e.args[1]))}"
        ) from None
    return {name: steps[name][0]() for name in order}
