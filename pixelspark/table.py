"""Snapshot-commit table format: atomic writes on ANY substrate,
including object stores.

The reference gets transactional table swaps for free from BigQuery
(server-side atomic DML, src/services/bigquery.ts:168-190).  Over
files, directory renames cannot give that on s3a (rename =
copy+delete), so this module does it the way Delta/Iceberg do, with a
minimal manifest log — the one table format every production write
(daily batch, backfill, streaming sinks, rollup) commits through:

  table_root/
    _manifests/v00000001.json   immutable snapshot manifests
    _manifests/v00000002.json   (highest version = current table)
    data/snap-<uuid>/           immutable data directories

  * Data is only ever ADDED under `data/` — no rename or delete of
    live data ever happens on the write path.
  * A commit is the publication of ONE new small manifest file that
    lists which data directories (and, for partitioned tables, which
    `col=value` subdirectories) make up the snapshot.  The manifests
    are a `storage.VersionLog` (`manifest_log`), and publication is its
    create-if-absent, `Storage.write_text_atomic`: temp + hard-link on
    POSIX, temp + rename on HDFS, single-object copy on stores — a
    reader sees the complete manifest or none.
  * A crash at ANY point before the manifest lands leaves the table
    exactly at its previous snapshot; half-written data dirs are
    unreferenced garbage for `vacuum()`.
  * Concurrency is optimistic: two committers racing for version N+1
    resolve by the create-if-absent — the loser reloads the new
    latest and REBASES its manifest edit (entry-level merge), like
    Delta's commit-retry loop.  Read-modify-write ops (upsert,
    compact, refresh_rollup_snapshot) cannot rebase blindly — their
    data was computed FROM a snapshot — so they pin the version they
    read (`expected_version`) and re-run the whole read-merge-write
    when the table advanced underneath them (Delta's
    ConcurrentModificationException + retry).  On object stores,
    where exclusivity of the create is best-effort, run one committer
    per table (the same stance as delta-on-S3 without a DynamoDB
    lock) — constructing a SnapshotTable on an object-store scheme
    warns about exactly this.

Data dirs are named `__snap=<id>` (Hive-partition-shaped) so that a
read is ONE parquet scan regardless of commit count: every live dir —
and, for partitioned tables, every live `col=value` subdirectory —
enters a single relation with basePath=<root>/data, partition
discovery restores the typed partition column (plus a throwaway
`__snap` column, dropped), and `WHERE day=X` prunes normally.
`replace_partitions` is a pure manifest edit — untouched partitions
keep pointing at their existing data dirs, byte-identical (the Delta
`replaceWhere` shape).  `compact()` (whole-table or per-partition
subset) bounds file counts; measured read cost is near-flat in commit
count (BASELINE.md).  Streaming writes get exactly-once via the
`txn` (app_id, batch_id) guard fused into the manifest commit —
`append_once` for append logs, `replace_partitions(txn=...)` /
`refresh_rollup_snapshot` for continuously-maintained rollups.

Beyond the commit protocol, the manifest carries query-acceleration
metadata the way Delta/Iceberg do: per-file min/max column statistics
(`stats_cols` -> `read(predicates=...)` file skipping), per-file
bloom filters for point lookups on high-cardinality columns
(`bloom_cols` -> `_bloom.json` sidecars inside each snap dir,
Iceberg-puffin-style, probed by `read(predicates=[(col, '=', v)])`),
a change data feed computed from the entry-level diff between any two
snapshots (`read_changes`), and multi-clause `merge` (MERGE INTO)
that scopes to touched partitions when the partition column is part
of the key.
"""

from __future__ import annotations

import base64
import json
import os
import posixpath
import re
import time
import uuid
import warnings
from functools import reduce
from typing import Any, Callable, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pixelspark.metrics import observed_long
from pixelspark.storage import (
    NON_ATOMIC_CREATE_SCHEMES,
    Storage,
    VersionLog,
    _strip_file_scheme,
    storage_for,
)

MANIFEST_DIR = "_manifests"
DATA_DIR = "data"


def manifest_log(st: Storage, root: str) -> VersionLog:
    """A table's manifest log: `<root>/_manifests/v%08d.json`."""
    return VersionLog(st, f"{root}/{MANIFEST_DIR}", "v", 8, ".json")


def entry_refs(root: str, m: dict) -> set[tuple[str, str, str | None]]:
    """A manifest's storage units as (owning root, data dir rel,
    `col=value` part or None): a clone entry is owned by its source
    table's root, every other entry by `root`."""
    return {
        (e.get("root") or root, e["base"], p)
        for e in m["entries"]
        for p in (e["parts"] or [None])
    }


# Sentinel for "no conflict check": expected_version=None is meaningful
# (it asserts the table does not exist yet), so absence needs its own
# marker.
_ANY_VERSION = object()

# the row-position columns a deletion vector addresses rows by: the
# file path relative to the table's data dir, and the parquet row index
_POS = ("__dv_file", "__dv_row")

_PRED_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


# the characters Spark percent-encodes in a partition directory name
# (ExternalCatalogUtils.charToEscape, non-Windows)
_PATH_ESCAPE = frozenset(
    [chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^"))


def _part_name(col: str, value) -> str:
    """The `col=value` directory name Spark writes for a partition
    value (ExternalCatalogUtils.getPartitionPathString): both sides
    percent-escaped, NULL and '' as `__HIVE_DEFAULT_PARTITION__`.
    The one place part names are built from values, so a value like
    `a:b` (written as `p=a%3Ab`) can be addressed by name."""
    def esc(s: str) -> str:
        return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPE else c for c in s)

    v = "" if value is None else str(value)
    return f"{esc(col)}={esc(v) if v else '__HIVE_DEFAULT_PARTITION__'}"


def _part_split(name: str) -> tuple[str, str]:
    """The (column, value) strings of a `col=value` part name, both
    unescaped (Spark's unescapePathName); NULL stays
    `__HIVE_DEFAULT_PARTITION__`."""
    col, val = name.split("=", 1)
    def unesc(s: str) -> str:
        return re.sub(r"%([0-9A-Fa-f]{2})", lambda g: chr(int(g[1], 16)), s)
    return unesc(col), unesc(val)


def entry_layout(e: dict) -> str | None:
    """The partition column an entry's data dirs are PHYSICALLY laid
    out by — self-described by its `col=value` part names (None for
    unpartitioned dirs).  Module-level so external readers (the Python
    DataSource adapter) share one definition with the table."""
    if not e.get("parts"):
        return None
    return e["parts"][0].split("=", 1)[0]


# Reader-protocol features (the Delta/Iceberg reader-version idea):
# every committed manifest records which of these a correct reader
# MUST understand to return the right rows.  A reader that does not
# recognize a listed feature must refuse the table instead of
# silently mis-reading it (resurrecting DV-deleted rows, nulling
# renamed columns, mis-typing partition values across layouts).
READER_FEATURES = {
    # rows masked out by deletion-vector sidecars (merge-on-read)
    "deletion-vectors",
    # physical file column names differ from logical schema names
    "column-mapping",
    # entries carry more than one partition layout (partition
    # evolution in progress), or a layout other than the manifest's
    # current partition_col
    "multi-layout",
    # entries / DV sidecars reference another table root (shallow clone)
    "external-roots",
    # the recorded schema is WIDER than some data files (metadata-only
    # type widening): readers must scan with the declared schema (the
    # parquet widening promotion), not schema merging, which refuses
    # int/long mixes
    "type-widening",
}


def reader_features(m: dict) -> list[str]:
    """Derive the reader-protocol features a manifest's data depends
    on.  Called at commit time (so every manifest self-describes) and
    by readers as the fallback for manifests written before the
    `reader_features` key existed."""
    feats: set[str] = set()
    entries = m.get("entries") or []
    dvs = m.get("dv_files") or []
    if dvs:
        feats.add("deletion-vectors")
    if m.get("column_mapping"):
        feats.add("column-mapping")
    layouts = {entry_layout(e) for e in entries}
    if len(layouts) > 1 or (entries and layouts != {m.get("partition_col")}):
        feats.add("multi-layout")
    if any(e.get("root") for e in entries) or any(
        isinstance(d, dict) for d in dvs
    ):
        feats.add("external-roots")
    if m.get("type_widened"):
        feats.add("type-widening")
    return sorted(feats)


def check_reader_features(m: dict, supported: set[str], who: str) -> None:
    """Fail-fast guard: raise when manifest `m` requires a reader
    feature outside `supported`.  Manifests without the recorded key
    (pre-protocol versions) are re-derived, so the guard cannot be
    bypassed by age."""
    need = set(m.get("reader_features") or reader_features(m))
    unknown = need - supported
    if unknown:
        raise ValueError(
            f"{who} cannot read this snapshot: it requires reader "
            f"feature(s) {sorted(unknown)} this reader does not "
            f"support (supported: {sorted(supported)})"
        )


# Writer-protocol features: everything a reader must understand, a
# writer must too (a commit that keeps entries must preserve DV masks,
# write in the current layout, translate logical->physical names), plus
# write-side-only invariants.
WRITER_FEATURES = READER_FEATURES | {
    # rows carry values computed from recorded expressions; a writer
    # ignorant of them would commit divergent data
    "generated-columns",
    # the manifest carries an identity high-watermark a writer must
    # advance when it assigns ids — an ignorant writer would reuse
    # already-handed-out values
    "identity-columns",
    # the system __row_id spec lives under its own `row_tracking`
    # manifest key (v2): a writer that only knows the v1 identity
    # slot would pass the identity-columns fence yet silently DROP
    # the key from its carry-forward — watermark gone, ids reused on
    # re-enable.  A distinct feature name makes such writers refuse.
    "row-tracking",
}


def writer_features(m: dict) -> list[str]:
    feats = set(reader_features(m))
    if m.get("generated"):
        feats.add("generated-columns")
    if m.get("identity") or m.get("row_tracking"):
        feats.add("identity-columns")
    if m.get("row_tracking"):
        feats.add("row-tracking")
    return sorted(feats)


def check_writer_features(m: dict, supported: set[str], who: str) -> None:
    """Raise when committing on top of manifest `m` requires a writer
    feature outside `supported` — the Delta minWriterVersion idea: an
    old engine must refuse to mutate a table whose invariants it
    cannot uphold, instead of silently corrupting them."""
    need = set(m.get("writer_features") or writer_features(m))
    unknown = need - supported
    if unknown:
        raise ValueError(
            f"{who} cannot write to this table: its current snapshot "
            f"requires writer feature(s) {sorted(unknown)} this writer "
            f"does not support (supported: {sorted(supported)})"
        )


# Metadata-only type widening (Delta type-widening table feature):
# transitions the parquet reader can apply at SCAN time when handed
# the wider declared schema, so files written at the old width stay
# valid forever and the DDL is one manifest commit.
_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widens_to(old, new) -> bool:
    """Is old -> new a lossless widening Spark's parquet reader
    promotes at scan?  The lattice is EXACTLY what was probed on
    Spark 4.1 (the Delta type-widening v2 set, minus combinations
    the vectorized reader refused under probe — e.g. short->decimal
    fails, and long->decimal only at scale 0):

      * int family upward (byte -> short -> int -> long);
      * byte/short/int -> double (exact: |int| < 2^53);
      * float -> double;
      * int -> decimal(p, s) with p - s >= 10;
      * long -> decimal(p, s) with p - s >= 20 (r8 probe: the
        reader rescales ANY-scale targets exactly, max-long
        roundtrips at (21,1); p - s = 19 is refused by the reader);
      * decimal scale/precision up (both integer digits and scale
        may only grow; spans physical encodings — INT32-backed
        decimals promote to FLBA-backed widths, probed);
      * date -> timestamp_ntz (midnight, the SQL date upcast).

    Empirically REFUSED by the Spark 4.1 reader (re-probed r8, kept
    out of the lattice): byte/short -> decimal, float -> decimal,
    long -> double, date -> timestamp (LTZ — only the NTZ promotion
    exists; tz semantics would be ambiguous at scan time anyway).
    decimal -> double is accepted by the reader but CORRUPTS
    (decimal(5,2) 1.00 reads as 100.0 — the unscaled integer served
    raw), which is exactly why this lattice is probe-pinned instead
    of trusting the reader's accept/reject alone."""
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        TimestampNTZType,
    )

    o, n = old.typeName(), new.typeName()
    if o in _INT_RANK and n in _INT_RANK:
        return _INT_RANK[o] < _INT_RANK[n]
    if o in _INT_RANK and isinstance(new, DoubleType):
        return o != "long"  # 64-bit ints overflow a double's mantissa
    if isinstance(old, FloatType) and isinstance(new, DoubleType):
        return True
    if o == "integer" and isinstance(new, DecimalType):
        return new.precision - new.scale >= 10
    if o == "long" and isinstance(new, DecimalType):
        return new.precision - new.scale >= 20
    if isinstance(old, DecimalType) and isinstance(new, DecimalType):
        # both the integer digits and the scale may only grow —
        # either shrinking could overflow/round existing values
        return (
            new.scale >= old.scale
            and new.precision - new.scale >= old.precision - old.scale
            and (new.scale, new.precision) != (old.scale, old.precision)
        )
    if isinstance(old, DateType) and isinstance(new, TimestampNTZType):
        return True
    return False


def _widen_merge_schema(prev_json: str, new_json: str) -> str:
    """Reconcile a write's schema with the declared one on a
    type-widened table: keep every declared column (a narrower writer
    must not regress the DDL), keep the WIDER of the two types per
    column, append genuinely new columns (ordinary mergeSchema
    evolution).  A type change outside the widening lattice is
    refused at WRITE time — better than a broken scan at read time."""
    prev_s = StructType.fromJson(json.loads(prev_json))
    new_s = StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new_s.fields}
    fields = []
    for f in prev_s.fields:
        g = new_by_name.pop(f.name, None)
        if g is None or g.dataType == f.dataType:
            fields.append(f)
        elif _widens_to(f.dataType, g.dataType):
            fields.append(g)  # the write widened further
        elif _widens_to(g.dataType, f.dataType):
            fields.append(f)  # narrower writer: declared width wins
        else:
            raise ValueError(
                f"column {f.name!r}: written type "
                f"{g.dataType.simpleString()} is neither the declared "
                f"{f.dataType.simpleString()} nor related to it by a "
                "supported widening (int family up, float->double, "
                "decimal scale/precision up)"
            )
    fields += [new_by_name[f.name] for f in new_s.fields if f.name in new_by_name]
    return StructType(fields).json()


def _evolve_merge_schema(prev_json: str, new_json: str) -> str:
    """Reconcile a write's schema with the declared one on an ORDINARY
    (non-type-widened) table: keep every declared column — a batch
    that carries a SUBSET of columns must not narrow the DDL (the
    declared-schema scan would silently drop the missing column's
    data from every read) — and append genuinely new columns
    (mergeSchema evolution).  Any TYPE change is refused: ordinary
    tables have one physical width per column; widening needs the
    explicit widen_column DDL (which flags the reader feature)."""
    prev_s = StructType.fromJson(json.loads(prev_json))
    new_s = StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new_s.fields}
    fields = []
    for f in prev_s.fields:
        g = new_by_name.pop(f.name, None)
        # nullability-insensitive compare (simpleString drops
        # containsNull/nested nullability): a batch whose array column
        # merely differs in containsNull is the same type, and the
        # DECLARED field wins — same discipline as the widened path
        if g is not None and (
            g.dataType.simpleString() != f.dataType.simpleString()
        ):
            raise ValueError(
                f"column {f.name!r}: written type "
                f"{g.dataType.simpleString()} != declared "
                f"{f.dataType.simpleString()} — type changes need the "
                "widen_column DDL (type-widening reader feature)"
            )
        fields.append(f)
    fields += [new_by_name[f.name] for f in new_s.fields if f.name in new_by_name]
    return StructType(fields).json()


def _evolve_merge_schema_empty(prev_json: str, new_json: str) -> str:
    """Reconciliation for a write onto an ENTRY-LESS table (created
    empty, or truncated): declared columns the batch OMITS are kept —
    a subset batch must not narrow the DDL, and with no old file to
    conflict, keeping them is always safe (r10 advice) — but a column
    the batch DOES carry adopts the WRITTEN field wholesale: zero rows
    are materialized at the declared type, so the written type is the
    only physical truth (the same license a full rewrite has; this is
    how an empty agg-view seeded at decimal(28,6) adopts the first
    fold's wider SUM decimal without the widen_column DDL)."""
    prev_s = StructType.fromJson(json.loads(prev_json))
    new_s = StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new_s.fields}
    fields = [new_by_name.pop(f.name, f) for f in prev_s.fields]
    fields += [new_by_name[f.name] for f in new_s.fields if f.name in new_by_name]
    return StructType(fields).json()


def _range_admits(rng, op: str, val) -> bool:
    """Can a file whose column spans [mn, mx] contain a row satisfying
    `col op val`?  Conservative: unknown stats, open bounds (all-null
    files), unsupported value types, or mismatched JSON types all
    answer True (keep the file) — skipping must never lose a row."""
    if op not in _PRED_OPS:
        raise ValueError(f"unsupported predicate op {op!r}")
    if not rng:
        return True
    mn, mx = rng
    if mn is None or mx is None:
        return True
    nval = SnapshotTable._stat_val(val)
    if nval is None or (isinstance(nval, str) != isinstance(mn, str)):
        return True
    if op == "=":
        return mn <= nval <= mx
    if op == ">":
        return mx > nval
    if op == ">=":
        return mx >= nval
    if op == "<":
        return mn < nval
    return mn <= nval  # "<="


class ConstraintViolation(ValueError):
    """A write carried rows violating the table's declared constraints
    (the Delta CHECK-constraint failure); nothing was committed."""


class ConcurrentCommitError(RuntimeError):
    """Raised when a commit loses the optimistic race `max_retries`
    times in a row (livelock guard, not an expected state)."""


class StaleWatermark(RuntimeError):
    """A txn compare-and-set commit found a different predecessor
    watermark than the caller folded from: a rival already advanced
    the ledger past the caller's read.  Recompute from the current
    watermark and retry — committing anyway would double-apply the
    overlap.  Deliberately NOT a ConcurrentWriteConflict: internal
    rebase loops must not retry it with the same stale payload."""


class ConcurrentWriteConflict(RuntimeError):
    """Raised when a commit pinned to `expected_version` finds the
    table advanced past the snapshot its data was computed from.  A
    blind rebase here would silently discard the rival commit (a lost
    update), so the whole read-merge-write must re-run — upsert /
    compact / refresh_rollup_snapshot do that internally."""


def _key_on(keys, left_alias: str, right_alias: str, null_safe: bool):
    """Equi-join condition over `keys` between two aliased sides —
    `<=>` when null_safe (NULL keys match NULL, the grouped-fold
    semantics) else plain `=` (SQL MERGE semantics).  The one place
    key-matching semantics live: merge()'s match join and insert
    anti-join, in both rewrite and merge-on-read modes."""
    return reduce(
        lambda a, b: a & b,
        [F.col(f"{left_alias}.{k}").eqNullSafe(F.col(f"{right_alias}.{k}"))
         if null_safe
         else F.col(f"{left_alias}.{k}") == F.col(f"{right_alias}.{k}")
         for k in keys],
    )


_IDENTITY_NULL_MARK = "PIXELSPARK_IDENTITY_NULL"


class _SkipCommit(Exception):

    """Internal: a build callback aborts the commit (e.g. a replayed
    streaming batch detected inside the rebase loop)."""


class _Conflicted(Exception):
    """Internal: a build callback found prev != expected_version."""


class _Change(NamedTuple):
    """One row-level change, as a verb's plan builds it over a target
    scan for the kernel (`SnapshotTable._dv_commit` / `_cow_commit`).

      * `rows` — the frame the clauses run over: the target itself, or
        the target joined to a MERGE source;
      * `out` — the post-image projection over `rows`, one aliased
        Column per output column;
      * `hit` — the rows the change touches (in dv mode their positions
        become the vector); None when unknown (upsert);
      * `deleted` — the rows that leave the table;
      * `assigned` — the columns the post-image sets explicitly (the
        generated-column recompute keeps them); None: no post-image;
      * `inserts` — new rows in the output columns, or None;
      * `new_fields` — columns a schema-evolving MERGE adds."""

    rows: DataFrame
    out: list
    hit: Column | None
    deleted: Column
    assigned: dict | None = None
    inserts: DataFrame | None = None
    new_fields: tuple = ()


# a table's head snapshot as `_head()` resolves it: (version, manifest)
_Head = tuple[int | None, dict | None]


def _ekey(e: dict) -> tuple:
    """A manifest entry's identity: owning root, data dir, parts."""
    return (e.get("root"), e["base"], tuple(e["parts"] or ()))


class SnapshotTable:
    """Manifest-logged parquet table with atomic snapshot commits."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        max_retries: int = 5,
        storage: Storage | None = None,
        stats_cols: tuple[str, ...] | None = None,
        constraints: list[tuple[str, object]] | None = None,
        bloom_cols: tuple[str, ...] | None = None,
        bloom_bits: int = 65536,
        bloom_hashes: int = 5,
        expectations: list[tuple[str, object, str]] | None = None,
        generated_cols: dict[str, str] | None = None,
        identity: dict | None = None,
    ):
        """`constraints` declares write-side CHECK rules (Delta
        constraint shape): a list of (name, predicate) with the
        predicate a Column or SQL string over the written rows; every
        write path audits the BATCH in one aggregate pass before any
        data lands and raises ConstraintViolation with per-rule counts
        — O(batch) enforcement, never O(table).  NULL predicate
        results count as violations (a CHECK must hold, SQL
        constraint semantics).

        `stats_cols` opts into per-file min/max statistics (the
        Delta/Iceberg data-skipping trick): every write records each
        data file's min/max for those columns in the manifest entry,
        and `read(predicates=...)` drops files whose range cannot
        satisfy the predicate BEFORE Spark plans the scan — no file
        listing, no footer reads, no tasks for skipped files.  Parquet
        row-group stats only help after the file is already in the
        scan; at 100 TB the win is never scheduling the task at all.

        `bloom_cols` adds per-file BLOOM filters for point lookups on
        high-cardinality columns — the case min/max stats cannot help
        (an id column's range spans every file, so `id = X` prunes
        nothing; Iceberg solves this with puffin bloom sidecars, Delta
        with its bloom index).  Each write hashes the column's values
        into a `bloom_bits`-bit filter per file (`bloom_hashes`
        xxhash64 probes, JVM-side, one extra aggregate over the
        just-written files) and stores the packed filters in a
        `_bloom.json` SIDECAR inside the snap dir — underscore-prefixed
        so scans never see it, colocated so compaction / vacuum /
        time travel inherit correctness for free, and kept OUT of the
        manifest so the commit log stays small (filters are KBs per
        file; the manifest is read on every operation).
        `read(predicates=[(col, '=', v)])` probes the filters of
        candidate files and drops every file whose bits rule the value
        out — a definite no; false-positive rate for the default
        64 Kbit / 5-hash config is ~2% at 50k distinct values per
        file.

        `expectations` declares per-row data-quality rules with a
        POLICY (the Delta Live Tables expectation shape): a list of
        (name, predicate, mode) with mode one of
          * 'fail'       — any violating row aborts the whole write
                           (== `constraints`),
          * 'drop'       — violating rows are silently removed, the
                           rest land,
          * 'quarantine' — violating rows are APPENDED to the sibling
                           table at `<root>_quarantine` with a
                           `failed_expectations` array column naming
                           every rule the row broke; clean rows land.
        A row failing ANY drop/quarantine rule is excluded from the
        main write.  Per-rule violation counts for every write are
        recorded in an `_expectations.json` sidecar inside the snap
        dir (scan-invisible, like `_bloom.json`) and readable via
        `expectation_metrics(version)` — the audit trail DLT surfaces
        as data-quality metrics.  The quarantine append commits to its
        OWN table before the main commit publishes, so if the main
        commit loses its race and retries, quarantined rows can appear
        more than once — dedup on read if exactness matters there
        (DLT's quarantine pattern has the same at-least-once shape)."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.st: Storage = storage if storage is not None else storage_for(root, spark)
        self.max_retries = max_retries
        self._id_pins: list[DataFrame] = []  # see _pin_for_assignment
        self.stats_cols = tuple(stats_cols) if stats_cols else ()
        self.bloom_cols = tuple(bloom_cols) if bloom_cols else ()
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes
        self.constraints = [
            (name, F.expr(p) if isinstance(p, str) else p)
            for name, p in (constraints or [])
        ]
        # Generated columns (Delta GENERATED ALWAYS AS): name -> SQL
        # expression over the other columns.  The expressions PERSIST
        # in the manifest, so every writer — including one that
        # reopens the table without this argument — computes them: a
        # write missing the column gets it generated; a write
        # providing it is audited against the expression and refused
        # on mismatch (the Delta consistency check).  The flagship use
        # is a derived partition column (day = CAST(ts AS DATE)) that
        # ingest never has to remember to add.
        self.generated_cols = dict(generated_cols or {})
        # Identity column (Delta GENERATED BY DEFAULT AS IDENTITY):
        # {"col": name, "start": s, "step": k}.  The spec PERSISTS in
        # the manifest with a HIGH-WATERMARK (the next unassigned
        # value) that every assigning commit advances atomically —
        # append/append_once/overwrite batches missing the column get
        # ids assigned [high, high + n·step) fully in parallel (per-
        # partition offsets from one tiny count aggregate — no global
        # sort, no single-partition stage); batches PROVIDING the
        # column are accepted as-is ("by default" semantics; NULLs
        # refused, uniqueness of explicit values not audited — run
        # sync_identity() afterwards, Delta's ALTER ... SYNC IDENTITY).
        # Ids are unique and step-directed monotone per assignment,
        # never reused (overwrite/restore keep the watermark monotone
        # even though they discard rows); gaps appear after explicit-
        # id writes + sync, exactly as in Delta.
        self.identity_seed = None
        if identity:
            step = int(identity.get("step", 1))
            if step == 0:
                raise ValueError("identity step must be non-zero")
            self.identity_seed = {
                "col": identity["col"],
                "start": int(identity.get("start", 1)),
                "step": step,
                "high": int(identity.get("start", 1)),
            }
        self.expectations = [
            (name, F.expr(p) if isinstance(p, str) else p, mode)
            for name, p, mode in (expectations or [])
        ]
        for name, _, mode in self.expectations:
            if mode not in ("fail", "drop", "quarantine"):
                raise ValueError(
                    f"expectation {name!r}: mode must be fail/drop/quarantine, "
                    f"got {mode!r}"
                )
        scheme = root.split("://", 1)[0] if "://" in root else ""
        if scheme in NON_ATOMIC_CREATE_SCHEMES and not getattr(
            self.st, "conditional_put", False
        ):
            # write_text_atomic's no-overwrite check is check-then-copy
            # on object stores, so everything built on its exclusivity
            # (commit-race rebase, append_once/txn exactly-once)
            # silently degrades under >1 committer.  Say so loudly
            # instead of only in docstrings.  The SUPPORTED mode is
            # storage=ConditionalPutStorage(...) — server-side
            # If-None-Match puts make multi-committer commits sound
            # (tests/test_storage.py pins the race).
            warnings.warn(
                f"SnapshotTable at {root}: scheme '{scheme}' has no atomic "
                "create-if-absent, so optimistic concurrency and the "
                "(app_id, batch_id) exactly-once guard assume a SINGLE "
                "committer per table (delta-on-S3-without-a-lock stance); "
                "with multiple committers, commits can be lost — pass "
                "storage=ConditionalPutStorage(...) bound to the store's "
                "conditional-put API (S3 If-None-Match / GCS "
                "generation-match) for supported multi-committer mode",
                RuntimeWarning,
                stacklevel=2,
            )

    # -- manifest log ------------------------------------------------------

    @property
    def _log(self) -> VersionLog:
        # built per use: tests and wrappers swap `self.st` on a live handle
        return manifest_log(self.st, self.root)

    def _manifest_path(self, version: int) -> str:
        return self._log.path(version)

    def versions(self) -> list[int]:
        return self._log.versions()

    def table_id(self) -> str | None:
        """The table's incarnation id: minted at its first commit and
        carried through every manifest.  Two tables at the same path
        separated by a drop-and-recreate have DIFFERENT ids — the
        check matview watermarks use to refuse folding a stranger's
        history.  None for tables whose whole history predates the
        identity stamp (they gain one at their next commit)."""
        return (self._head()[1] or {}).get("table_id")

    def latest_version(self) -> int | None:
        return self._log.latest()

    def manifest(self, version: int) -> dict:
        return self._log.read(version)

    def _head(self) -> _Head:
        """The head snapshot, (latest version, its parsed manifest) —
        (None, None) for a missing table: one `_manifests/` listing and
        one manifest read.  Each public call resolves it once and hands
        it down; only a lost commit race resolves it again."""
        v = self.latest_version()
        return v, (self.manifest(v) if v is not None else None)

    def exists(self) -> bool:
        return self.latest_version() is not None

    def _commit(self, build: Callable[[dict | None], dict],
                head: _Head, staged: Sequence[str] = ()) -> int | None:
        """Optimistic commit loop: apply the entry-level edit `build` to
        the caller's snapshot `head` (`_head()`'s (version, manifest))
        and publish it as version+1 with no listing; on losing that
        create race, re-resolve the head and REBASE the edit onto the
        winner.  The first attempt stats the head's own manifest: a
        vacuum beside the write may have pruned it (and the versions
        after it), and a create of v+1 would then succeed below the
        real head, invisible.  The streaming-transaction map (`txn`)
        carries over automatically unless the build sets it.  Returns
        None when the build aborts (_SkipCommit — a replayed batch
        detected mid-rebase).

        `staged` names the data dirs (full paths) the commit publishes.
        This loop alone decides their lifetime: they are deleted when
        the manifest does not land — the build refuses (a conflict, a
        replay, a stale watermark) or the retries run out — and kept
        when the manifest write itself raises, whose outcome is
        unknown."""
        v, prev = head
        for i in range(self.max_retries):
            # vacuum keeps a suffix of versions, so a head whose manifest
            # survives is still the head unless v+1 exists — which the
            # create itself decides; an absent table re-lists (cheap)
            if i or v is None or not self._log.exists(v):
                v, prev = self._head()  # lost the create: rebase on the winner
            try:
                if prev is not None:
                    # refuse to mutate a table whose invariants this
                    # engine version cannot uphold (forward-compat
                    # guard; current manifests always pass —
                    # WRITER_FEATURES is derived from what this code
                    # itself writes)
                    check_writer_features(
                        prev, WRITER_FEATURES, "SnapshotTable commit"
                    )
                new = build(prev)
            except BaseException as e:
                for d in staged:
                    self.st.delete(d)
                if isinstance(e, _SkipCommit):
                    return None
                if isinstance(e, _Conflicted):
                    raise ConcurrentWriteConflict(
                        f"table at {self.root} advanced past the snapshot "
                        "this commit's data was computed from; re-run the "
                        "read-merge-write"
                    ) from None
                raise
            if "txn" not in new and prev and prev.get("txn"):
                new["txn"] = prev["txn"]
            if "schema" not in new and prev and prev.get("schema"):
                new["schema"] = prev["schema"]
            # type widening survives every commit that keeps old
            # (narrow) files; the two FULL rewrites — overwrite and
            # whole-table compact — materialize data at the written
            # width, so the feature retires there.  While the flag is
            # on, a write's recorded schema reconciles against the
            # declared one so a narrower writer cannot regress the DDL
            # (and new columns still evolve in, mergeSchema-style).
            _op = (new.get("op") or {}).get("name")
            _full_rewrite = _op == "overwrite" or (
                _op == "compact" and "n_values" not in (new.get("op") or {})
            )
            if (
                "type_widened" not in new
                and (prev or {}).get("type_widened")
                and not _full_rewrite
            ):
                new["type_widened"] = True
            if not new.get("type_widened"):
                new.pop("type_widened", None)
            if (
                new.get("type_widened")
                and (prev or {}).get("type_widened")
                and new.get("schema")
                and prev.get("schema")
                and new["schema"] != prev["schema"]
                # ops whose schema IS the declared one: further
                # widening, restore (the target manifest's schema is
                # truth), and the mapping DDLs (reconciling a rename
                # would resurrect the old name as a phantom column)
                and _op not in ("widen_column", "restore",
                                "rename_column", "drop_column")
            ):
                new["schema"] = _widen_merge_schema(
                    prev["schema"], new["schema"]
                )
            # same reconciliation on ORDINARY tables (r10): a batch
            # carrying a SUBSET of columns must not narrow the DDL —
            # the declared-schema scan would silently drop the missing
            # column's data from every read.  Declared columns stay,
            # new columns evolve in, type changes are refused (they
            # need widen_column).  Same op exclusions as the widened
            # path, plus any commit that replaced EVERY old entry
            # (overwrite, whole-table compact, a full-rewrite upsert):
            # with no old file surviving, the written schema is
            # materialized everywhere and legitimately becomes the DDL
            # (that is how upsert retypes a string day to date).
            elif (
                not new.get("type_widened")
                and not _full_rewrite
                and new.get("schema")
                and prev is not None
                and prev.get("schema")
                and new["schema"] != prev["schema"]
                and _op not in ("widen_column", "restore",
                                "rename_column", "drop_column")
            ):
                _prev_bases = {(e.get("root"), e["base"])
                               for e in prev.get("entries") or []}
                _new_bases = {(e.get("root"), e["base"])
                              for e in new.get("entries") or []}
                # an entry-less prev (truncated/empty table) still has
                # a DECLARED schema; no old file can conflict with
                # keeping it, so a subset-column batch must reconcile
                # there too (r10 advice: an empty-table append was
                # silently narrowing the DDL — and could drop the
                # partition column from the recorded schema).  The
                # empty variant adopts written TYPES (nothing is
                # materialized at the declared ones) while still
                # keeping omitted columns.
                if _prev_bases & _new_bases:
                    new["schema"] = _evolve_merge_schema(
                        prev["schema"], new["schema"]
                    )
                elif not _prev_bases:
                    new["schema"] = _evolve_merge_schema_empty(
                        prev["schema"], new["schema"]
                    )
            # deletion vectors survive commits that keep the data they
            # mask (append, replace_partitions, ...); ops that
            # materialize the masked rows (overwrite/compact) set
            # dv_files explicitly to retire them
            if "dv_files" not in new and prev and prev.get("dv_files"):
                new["dv_files"] = prev["dv_files"]
            if not new.get("dv_files"):
                new.pop("dv_files", None)
            if "generated" not in new:
                gen = (prev or {}).get("generated") or self.generated_cols
                if gen:
                    new["generated"] = gen
            # identity spec + high-watermark survive every commit;
            # assigning builds set the key explicitly (with their CAS
            # against the watermark they staged from).  v1 manifests
            # stored the SYSTEM row-tracking spec in the identity
            # slot — the carry-forward migrates it to its own key on
            # the next commit, which is what lets a user identity
            # column and __row_id coexist (v2)
            if "identity" not in new:
                idn = (prev or {}).get("identity") or self.identity_seed
                if idn and not idn.get("system"):
                    new["identity"] = idn
            # USER identity column ENTERING the schema (a constructor
            # seed adopted onto an existing table): allowed only when
            # this commit replaces every old entry (overwrite /
            # whole-table compact — the rewrite assigns the column
            # everywhere; an upsert canNOT adopt, since it has no ids
            # to give unmatched pre-existing rows, and its write audit
            # refuses the NULLs).  A commit that keeps old files alive
            # while the column enters the schema would leave their
            # rows NULL in the identity column, and the refuse-NULLs
            # write audit then wedges every later rewrite (compact
            # included) permanently.  Delta sidesteps this by only
            # allowing identity at CREATE TABLE; we additionally
            # accept empty tables, tables already carrying the column,
            # and full-rewrite first writes.  Keyed on the SCHEMA
            # transition (not the slot's first persistence) so a
            # spec-persisting-but-schema-neutral commit in between
            # (e.g. a dv-delete) cannot launder the wedge.
            _idn = new.get("identity")
            if (
                _idn
                and not _idn.get("system")
                and prev is not None
                and prev.get("entries")
                and prev.get("schema")
                and new.get("schema")
                and _idn["col"] not in {
                    f.name for f in StructType.fromJson(
                        json.loads(prev["schema"])).fields}
                and _idn["col"] in {
                    f.name for f in StructType.fromJson(
                        json.loads(new["schema"])).fields}
            ):
                def _has_rows(e: dict) -> bool:
                    # zero-row entries (truncate leftovers) cannot
                    # hold NULL ids; unknown counts block conservatively
                    r = e.get("rows")
                    return r is None or sum(r.values()) > 0

                prev_bases = {
                    (e.get("root"), e["base"])
                    for e in prev["entries"] if _has_rows(e)}
                new_bases = {
                    (e.get("root"), e["base"])
                    for e in new.get("entries") or []}
                if prev_bases & new_bases:
                    raise ValueError(
                        f"cannot adopt identity column {_idn['col']!r} "
                        "on a non-empty table that lacks it: rows in "
                        "retained files would hold NULL ids and every "
                        "later rewrite would be refused by the identity "
                        "NULL audit — define identity at table creation "
                        "(Delta semantics), or make the first write "
                        "under the spec a full rewrite "
                        "(overwrite/compact), which assigns the column "
                        "to every row"
                    )
            if "row_tracking" not in new:
                rt = (prev or {}).get("row_tracking")
                if rt is None:
                    legacy = (prev or {}).get("identity")
                    rt = legacy if (legacy and legacy.get("system")) else None
                if rt:
                    new["row_tracking"] = rt
            # column mapping (rename/drop without rewrite) survives every
            # commit; ops that change it (rename_column, drop_column,
            # add_columns, restore) set the key explicitly
            # table identity: minted once (first commit under this
            # code, normally v1) and carried through every commit —
            # the stable incarnation stamp that lets downstream state
            # (matview watermarks) distinguish "the same table,
            # advanced" from "a different table at the same path"
            if "table_id" not in new:
                new["table_id"] = (prev or {}).get("table_id") or uuid.uuid4().hex
            if "column_mapping" not in new and prev and prev.get("column_mapping"):
                new["column_mapping"] = prev["column_mapping"]
            if not new.get("column_mapping"):
                new.pop("column_mapping", None)
            # self-describing reader protocol: record which features a
            # correct reader of THIS manifest must understand (derived
            # from the final manifest state, so no build() can forget)
            feats = reader_features(new)
            if feats:
                new["reader_features"] = feats
            else:
                new.pop("reader_features", None)
            wfeats = writer_features(new)
            if wfeats:
                new["writer_features"] = wfeats
            else:
                new.pop("writer_features", None)
            new["version"] = (v or 0) + 1
            # wall-clock commit instant (epoch seconds, UTC): feeds
            # DESCRIBE HISTORY and age-based vacuum retention.  Like
            # Delta's commit timestamps it is informational ordering —
            # version numbers, not clocks, define the table's order
            new["committed_at"] = time.time()
            if self._log.create(new["version"], json.dumps(new, indent=1)):
                return new["version"]
        for d in staged:
            self.st.delete(d)
        raise ConcurrentCommitError(
            f"lost the commit race {self.max_retries} times at {self.root}"
        )

    # -- data-dir plumbing -------------------------------------------------

    def _new_snap(self) -> str:
        # `__snap=<id>` is deliberately Hive-partition-shaped: Spark's
        # partition discovery then accepts ALL live data dirs in ONE
        # scan relative to basePath=<root>/data (parsing __snap as a
        # throwaway partition column), instead of one scan per entry —
        # measured 11.3s -> ~1s on a 60-commit table (see BASELINE.md).
        return f"{DATA_DIR}/__snap={uuid.uuid4().hex[:16]}"

    @staticmethod
    def _to_logical(df: DataFrame, cmap: dict | None) -> DataFrame:
        """Physical -> logical projection for mapping-enabled scans:
        every mapped physical present in the files surfaces under its
        logical name (mapping order = schema order), engine-internal
        row-position columns ride along, and any OTHER physical —
        i.e. a dropped column's bytes — is projected away."""
        if not cmap:
            return df
        have = set(df.columns)
        sel = [
            F.col(phys).alias(logical)
            for logical, phys in cmap["cols"].items()
            if phys in have
        ]
        sel += [F.col(c) for c in _POS if c in have]
        return df.select(*sel)

    def _write_snap(
        self, df: DataFrame, partition_col: str | None,
        audit_cols: list[str] | None = None, *, m: dict | None,
    ) -> tuple[str, list[str], bool, dict | None, int | None]:
        """Write one immutable data dir under the snapshot `m` the
        calling attempt holds (its generation expressions, id specs and
        column mapping — keyword-only, so hooks written as
        `(df, pcol, **kw)` pass it through).  Returns (relative dir,
        list of `col=value` subdirectory names — empty for
        unpartitioned, whether any parquet data file landed, the
        column-mapping manifest value the write was translated under —
        commit builds that add this dir's entry must raise _Conflicted
        if the table's mapping has moved since, or a rename racing a
        write would publish data whose physical names no longer match
        the mapping — and the row count OBSERVED on the write job itself
        (None when the observation didn't resolve): riding the count
        on the write via df.observe saves _entry_for a whole second
        Spark job per commit, the dominant fixed cost of the
        lifecycle bench rows (r9 profiling: ~150-250 ms/job floor
        locally).  An empty DataFrame can produce a dir with no data
        files at all (always, under partitionBy) — committing such an
        entry would give read() zero scannable paths, so callers
        short-circuit on `has_data=False` — and, since no commit can
        name such a dir, it is deleted here before returning."""
        df = self._apply_generated(df, m)
        specs = self._id_specs(m)
        for _, idn in specs:
            if idn["col"] not in df.columns:
                raise ValueError(
                    f"write to {self.root} is missing identity column "
                    f"{idn['col']!r} — append/append_once/overwrite assign "
                    "it automatically; other write paths must carry "
                    "explicit non-null values"
                )
        if self.constraints:
            self._enforce_constraints(df)
        metrics = None
        if self.expectations:
            df, metrics = self._apply_expectations(df)
        # `audit_cols=None` (callers outside the assigning write
        # paths) audits EVERY id column; assigning callers pass
        # exactly the columns their _prepare_ids did NOT assign.
        # Engine-assigned batches are non-null by construction.  The
        # guard is INLINE in the write plan (Delta CHECK style:
        # raise_error poisons the job on the first NULL) so
        # rewrite-path DML never pays a second execution of its whole
        # plan just to audit one column — a NULL id is corruption
        # (merge-insert legs whose source forgot the column).
        # Applied AFTER constraint / expectation aggregates so those
        # evaluate unguarded.
        to_audit = ([idn["col"] for _, idn in specs]
                    if audit_cols is None else audit_cols)
        sys_bound = {
            idn["col"]: idn["high"] for _, idn in specs
            if idn.get("system") and idn["step"] > 0
        }
        for colname in to_audit:
            c = F.col(colname)
            bad = c.isNull()
            if colname in sys_bound:
                # a SYSTEM id column is engine-owned: a carried frame
                # only ever holds ids the engine already assigned
                # (< high), so an explicit id at/above the watermark
                # is a future duplicate the moment assignment reaches
                # it — refuse in the same inline guard, for free
                bad = bad | (c >= F.lit(sys_bound[colname]).cast("long"))
            df = df.withColumn(
                colname,
                F.when(bad, F.raise_error(F.lit(
                    _IDENTITY_NULL_MARK))).otherwise(c),
            )
        cmap = (m or {}).get("column_mapping")
        if cmap:
            cols = cmap["cols"]
            unmapped = [c for c in df.columns if c not in cols]
            if unmapped:
                raise ValueError(
                    f"columns {unmapped} are not in the column mapping — on a "
                    "mapping-enabled table new columns must be declared with "
                    "add_columns() before they can be written (Iceberg-style "
                    "schema-evolution-first contract)"
                )
            df = df.select(*[F.col(c).alias(cols[c]) for c in df.columns])
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        rel = self._new_snap()
        full = f"{self.root}/{rel}"

        def observed() -> int | None:
            # bounded wait, shared helper (r13): listener missed ->
            # None, and the caller falls back to a count job
            return observed_long(obs, "n")

        def write(w):
            try:
                w()
            except Exception as e:  # translate the inline identity guard
                if _IDENTITY_NULL_MARK in str(e):
                    raise ConstraintViolation(
                        f"write to {self.root}: rows carry NULL in identity "
                        f"column(s) {', '.join(to_audit)} — provide values "
                        "(or use append/overwrite, which assign them) — or "
                        "an explicit system id at/above the watermark "
                        "(system id columns are engine-owned)"
                    ) from None
                raise
            finally:
                # frames _pin_for_assignment cached are consumed by
                # exactly this write action (the entry count rides on
                # the write's observation) — release them here
                self._drain_id_pins()

        if partition_col is None:
            write(lambda: df.write.mode("errorifexists").parquet(full))
            n = observed()
            # an empty unpartitioned write DOES land one (schema-only)
            # parquet file — file existence alone would commit a 0-row
            # entry, breaking append's empty-batch no-op contract and
            # append_once's entry-less watermark commit.  The observed
            # count settles it; when the observation misses (listener
            # timeout → None) a limit(1) re-read of the staged dir
            # decides, same as the dv-merge path — otherwise the no-op
            # contract would flake nondeterministically (r10 advice).
            has = self.st.has_parquet(full)
            if has and (n == 0 or (n is None and self.spark.read.parquet(
                    full).limit(1).isEmpty())):
                has = False
            if metrics is not None and has:
                self._write_expectation_metrics(full, metrics)
            if not has:
                self.st.delete(full)  # no commit can name a dataless dir
            return rel, [], has, cmap, n
        write(lambda: df.write.mode("errorifexists")
              .partitionBy(partition_col).parquet(full))
        parts = [p for p in self.st.list(full) if p.startswith(f"{partition_col}=")]
        if metrics is not None and parts:
            self._write_expectation_metrics(full, metrics)
        if not parts:
            self.st.delete(full)
        return rel, parts, bool(parts), cmap, observed()

    @staticmethod
    def _slot_of(m: dict | None, key: str) -> dict | None:
        """The one id-slot reader: the `identity` or `row_tracking`
        spec recorded in manifest `m` (None-safe).  Handles legacy v1
        manifests that stored the system row-tracking spec in the
        identity slot (the next commit's carry-forward migrates it)."""
        s = (m or {}).get("identity")
        if key == "row_tracking":
            return (m or {}).get("row_tracking") or (
                s if (s and s.get("system")) else None)
        return None if (s is None or s.get("system")) else s

    def _id_specs(self, m: dict | None) -> list[tuple[str, dict]]:
        """Every watermarked id column of snapshot `m` as (manifest_key,
        spec) — the user identity slot and the system row-tracking
        slot, which coexist since v2 (Delta ships both).  A manifest
        with no identity slot falls back to the constructor seed (the
        spec and its high-watermark are table state, fixed at creation
        like generation expressions)."""
        idn = (self._slot_of(m, "identity") if (m or {}).get("identity")
               else self.identity_seed)
        rt = self._slot_of(m, "row_tracking")
        return [(k, s) for k, s in (("identity", idn), ("row_tracking", rt)) if s]

    def _prepare_ids(
        self, df: DataFrame, m: dict | None, pin: bool = False
    ) -> tuple[DataFrame, dict[str, tuple[dict, int]]]:
        """Apply every id spec of snapshot `m` to a batch (absent column
        → assign the whole batch; system column with NULLs → fill only
        those).  Returns (df, {manifest_key: (spec as staged, new
        high)}) for exactly the specs that assigned something.  `pin` persists the
        batch around the assignment pre-count (see
        _pin_for_assignment) — set ONLY by callers whose source is an
        engine-composed multi-join plan (upsert, dv-merge); a full
        rewrite (compact/overwrite) must NOT pin, or the whole table
        lands in executor memory/disk before the write starts."""
        highs: dict[str, tuple[dict, int]] = {}
        try:
            for key, spec in self._id_specs(m):
                df, nh = self._identity_prepare(df, spec, pin=pin)
                if nh is not None:
                    highs[key] = (spec, nh)
        except Exception:
            # the assignment pre-count failed before any write could
            # drain the pins — release them here, or the cached frame
            # leaks until the next write on this table object
            self._drain_id_pins()
            raise
        return df, highs

    def _unassigned_id_cols(self, highs: dict, m: dict | None) -> list[str] | None:
        """Id columns of snapshot `m` this write did NOT assign — they
        arrive carried from the table (or from an explicit-id source)
        and get the inline NULL audit in the write plan.  None when it
        assigned nothing: `_write_snap` then audits every id column
        itself."""
        if not highs:
            return None
        return [spec["col"] for key, spec in self._id_specs(m)
                if key not in highs]

    def _stamp_highs(
        self, out: dict, prev: dict | None, highs: dict, cas: bool = True
    ) -> None:
        """Write advanced id watermarks into a building manifest.
        With `cas` (append-shaped commits) a rival that assigned from
        the range this write staged raises _Conflicted so the caller
        re-stages; without (full rewrites) the watermark merges
        monotone — replaced rows die with their ids, so a racing
        assignment cannot produce a LIVE collision."""
        for key, (spec, nh) in highs.items():
            cur = self._slot_of(prev, key) or spec
            if cas:
                if cur["high"] != spec["high"]:
                    raise _Conflicted
                out[key] = {**cur, "high": nh}
            else:
                out[key] = {**cur, "high": self._identity_ahead(
                    cur["high"], nh, spec["step"])}

    @staticmethod
    def _assign_identity(df: DataFrame, spec: dict) -> tuple[DataFrame, int]:
        """Assign ids [high, high + n·step) to a batch missing the
        identity column, fully distributed: one tiny per-partition
        count aggregate → driver-side exclusive prefix offsets
        (broadcast back as a literal CASE chain) → a row_number window
        PARTITIONED by the Spark partition id (every partition ranks
        in parallel; no global sort, no Exchange SinglePartition).
        Returns (batch with ids, the advanced high-watermark).

        Contract: the batch must evaluate deterministically (the count
        pass and the write pass see the same partitioning) — the same
        deterministic-replay contract append_once already assumes."""
        col, step, high = spec["col"], spec["step"], spec["high"]
        tagged = df.withColumn("__pid", F.spark_partition_id())
        counts = {
            r["__pid"]: r["c"]
            for r in tagged.groupBy("__pid").agg(
                F.count(F.lit(1)).alias("c")).collect()
        }
        offs, acc = {}, 0
        for p in sorted(counts):
            offs[p] = acc
            acc += counts[p]
        off = F.lit(0).cast("long")
        for p, o in offs.items():
            off = F.when(F.col("__pid") == p,
                         F.lit(o).cast("long")).otherwise(off)
        from pyspark.sql.window import Window

        rn = F.row_number().over(
            Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
        )
        out = tagged.withColumn(
            col,
            (F.lit(high).cast("long")
             + (off + rn - 1) * F.lit(step).cast("long")),
        ).drop("__pid").select(col, *df.columns)
        return out, high + acc * step

    @staticmethod
    def _fill_null_ids(df: DataFrame, spec: dict) -> tuple[DataFrame, int]:
        """Assign ids to exactly the NULL rows of a PRESENT identity
        column, preserving every existing value — the system-owned
        (row-tracking) variant of `_assign_identity` for frames that
        mix carried-over rows (ids from the table) with new rows
        (merge inserts, upsert's source side).  Same distributed
        shape: per-partition NULL counts → driver prefix offsets →
        a row_number over (partition, is-null) ranking only the null
        group.  Returns (filled df, advanced high-watermark)."""
        from pyspark.sql.window import Window

        col, step, high = spec["col"], spec["step"], spec["high"]
        isnull = F.col(col).isNull()
        # Originally-non-null rows must still be carried ids (< the
        # PRE-assignment watermark): once this call assigns anything,
        # the column leaves the write-plan audit set
        # (_unassigned_id_cols), so a mixed frame smuggling an
        # explicit id at/above the watermark would bypass the
        # sys_bound guard in _write_snap and collide with a future
        # assignment.  Guard it here inline, against the same high the
        # fill starts from — _write_snap's wrapper translates the mark.
        carried = F.when(
            F.col(col) >= F.lit(high).cast("long"),
            F.raise_error(F.lit(_IDENTITY_NULL_MARK)),
        ).otherwise(F.col(col))
        tagged = df.withColumn("__pid", F.spark_partition_id())
        counts = {
            r["__pid"]: r["c"]
            for r in tagged.groupBy("__pid").agg(
                F.count(F.when(isnull, 1)).alias("c")).collect()
            if r["c"]
        }
        offs, acc = {}, 0
        for p in sorted(counts):
            offs[p] = acc
            acc += counts[p]
        if not acc:
            return df, high  # nothing to fill
        off = F.lit(0).cast("long")
        for p, o in offs.items():
            off = F.when(F.col("__pid") == p,
                         F.lit(o).cast("long")).otherwise(off)
        rn = F.row_number().over(
            Window.partitionBy("__pid", isnull)
            .orderBy(F.monotonically_increasing_id())
        )
        out = tagged.withColumn(
            col,
            F.when(
                isnull,
                F.lit(high).cast("long")
                + (off + rn - 1) * F.lit(step).cast("long"),
            ).otherwise(carried),
        ).drop("__pid").select(*df.columns)
        return out, high + acc * step

    def _pin_for_assignment(self, df: DataFrame) -> DataFrame:
        """Persist a batch that is about to get ids assigned: the
        assignment's per-partition count executes the source plan
        once, and the write would execute it a SECOND time — for an
        upsert/merge whose source is itself a multi-join plan, that
        doubles the stage's cost (measured ~2x on the row-tracking
        lifecycle, r9).  Pinning (MEMORY_AND_DISK: spills, never
        recomputes — recomputation is also what the deterministic-
        replay contract otherwise has to assume away) makes the count
        the only full execution; _write_snap unpersists after the
        write lands.  Delta materializes merge sources for the same
        reason."""
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._id_pins.append(df)
        return df

    def _drain_id_pins(self) -> None:
        """Unpersist every pinned assignment source.  Thread note: two
        threads writing through ONE SnapshotTable object could drain
        each other's pins — benign by construction (persist is purely
        a cache; losing it reverts that write to the recompute
        behavior, correctness unaffected)."""
        for p in self._id_pins:
            try:
                p.unpersist()
            except Exception:
                pass
        self._id_pins.clear()

    def _identity_prepare(
        self, df: DataFrame, spec: dict | None, pin: bool = False
    ) -> tuple[DataFrame, int | None]:
        """The one assignment decision every write path shares: absent
        column → assign the whole batch; present column on a SYSTEM
        spec (row tracking) → fill only the NULLs, preserving carried
        ids; present column on a user identity → leave it (the write
        audit refuses NULLs).  Returns (df, new high or None when
        nothing was assigned)."""
        if not spec:
            return df, None
        if spec["col"] not in df.columns:
            if pin:
                df = self._pin_for_assignment(df)
            out, nh = self._assign_identity(df, spec)
        elif spec.get("system"):
            if pin:
                df = self._pin_for_assignment(df)
            out, nh = self._fill_null_ids(df, spec)
        else:
            return df, None
        # an empty batch (or an all-ids frame) assigned nothing: None
        # keeps the commit from writing an unchanged watermark and
        # turns the write-plan NULL audit back on
        return out, (nh if nh != spec["high"] else None)

    def enable_row_tracking(self, start: int = 1,
                            backfill: bool = False,
                            _allow_rows: bool = False) -> int:
        """ROW TRACKING (the Delta row-tracking feature): a
        system-owned `__row_id` BIGINT column whose values are
        assigned by the engine at write time and PRESERVED by every
        rewrite — compact, upsert, multi-clause merge (rewrite and
        merge-on-read), update — so downstream consumers get a stable
        row identity that survives file churn without a user key.
        Implementation: the identity machinery under its own manifest
        watermark slot (`row_tracking` — v2; a user identity column
        and `__row_id` coexist, as in Delta) — absent columns are
        assigned per write exactly like identity columns; frames that
        MIX carried rows with new ones (upsert unions, merge insert
        legs) get only their NULLs filled.  The column is an ordinary
        VISIBLE schema column (hiding it would make every internal
        rewrite a place ids could silently drop);
        `read().drop("__row_id")` is the caller's one-liner.  Ids
        appear in the change feed, giving CDC consumers a stable key
        for free.

        On a table with EXISTING rows the files lack the column, so
        enabling requires `backfill=True`: ONE distributed rewrite
        (the same per-partition identity-assign shape as every
        engine-assigned write — no global sort) committed exactly
        like compact(), pinned to the version it read and re-run on
        conflict.  Without the flag a non-empty table is refused so
        the rewrite cost is never paid silently.

        COLUMN-MAPPING tables compose (Delta ships both): the enable
        commit extends the mapping with a fresh physical name for
        `__row_id`, exactly like add_columns; a mapped BACKFILL is
        two commits — the metadata enable, then one fill-rewrite
        (the overwrite path fills the NULL ids of pre-enable rows) —
        because writes translate through the CURRENT mapping, so the
        column must be mapped before any data carrying it can land.
        Between those two commits, reads serve pre-enable rows with
        NULL ids (the documented mapped-backfill window; the
        unmapped path stays a single atomic commit).

        Remaining limit, stated: two forks of a clone can assign the
        same ids to different tables (forks are forks)."""
        def enable(prev: dict | None) -> dict:
            """The metadata-only enable commit's build."""
            if prev is None or not prev.get("schema"):
                raise FileNotFoundError(
                    f"no schema-bearing snapshot at {self.root}"
                )
            if self._slot_of(prev, "row_tracking"):
                raise ValueError("row tracking is already enabled")
            if not _allow_rows and self._may_hold_rows(prev):
                raise ValueError(
                    "row tracking on a table with existing rows needs a "
                    "backfill rewrite — pass backfill=True (one "
                    "distributed rewrite, committed like compact) or "
                    "enable on a fresh table (create, enable, then load)"
                )
            schema = StructType.fromJson(json.loads(prev["schema"]))
            if "__row_id" in {f.name for f in schema.fields}:
                raise ValueError("column __row_id already exists")
            widened = StructType(
                list(schema.fields)
                + [StructField("__row_id", LongType(), True)]
            )
            out = {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": widened.json(),
                "row_tracking": {"col": "__row_id", "step": 1,
                                 "high": start, "system": True},
                "op": {"name": "enable_row_tracking", "start": start},
            }
            cmap = prev.get("column_mapping")
            if cmap:
                # mapping-enabled tables compose: the system column
                # gets a fresh physical name in the SAME commit, the
                # add_columns discipline (writes translate through the
                # current mapping, so the column must be mapped before
                # any data carrying it can land)
                cmap = json.loads(json.dumps(cmap))  # deep copy
                cmap["cols"]["__row_id"] = self._fresh_physical(
                    cmap, "__row_id")
                out["column_mapping"] = cmap
            return out

        head = self._head()
        if backfill:
            if self._slot_of(head[1], "row_tracking"):
                # r9 (advisor): the mapped path is two commits
                # (metadata enable, then the compact fill) — a crash
                # between them leaves pre-enable rows with NULL ids
                # and the spec already present.  Re-running with
                # backfill=True RESUMES the fill instead of stranding
                # the operator behind "already enabled": one cheap
                # column-pruned NULL probe decides.
                pending = (
                    self._read(head[1]).where(F.col("__row_id").isNull())
                    .limit(1).count() > 0
                )
                if pending:
                    return self.compact()
                raise ValueError("row tracking is already enabled")
            if (head[1] or {}).get("column_mapping"):
                # two commits (see docstring): metadata enable first —
                # the mapping must carry __row_id before the rewrite
                # can write it — then one fill-rewrite
                self.enable_row_tracking(start=start, backfill=False,
                                         _allow_rows=True)
                return self.compact()

            def attempt(read_v: int | None, m: dict | None) -> int | None:
                if m is None or not self._may_hold_rows(m):
                    return self._commit(enable, (read_v, m))  # no rewrite needed
                schema = StructType.fromJson(json.loads(m["schema"]))
                if "__row_id" in {f.name for f in schema.fields}:
                    raise ValueError("column __row_id already exists")
                spec = {"col": "__row_id", "step": 1, "high": start,
                        "system": True}
                assigned, new_high = self._assign_identity(self._read(m), spec)
                # keep __row_id LAST, matching the fresh-table path's
                # widened schema shape
                assigned = assigned.select(
                    *[f.name for f in schema.fields], "__row_id")
                pcol = m.get("partition_col")
                rel, parts, has_data, wmap, nrows = self._write_snap(
                    assigned, pcol, m=m)  # default: audit carried user ids
                entry = self._entry_for(
                    rel, sorted(parts), has_data, assigned.schema, wmap,
                    row_count=nrows)

                def build(prev: dict | None) -> dict:
                    self._check_expected(prev, read_v)
                    if (prev or {}).get("column_mapping") != wmap:
                        raise _Conflicted
                    return {
                        "partition_col": pcol,
                        "entries": [entry] if has_data else [],
                        "schema": assigned.schema.json(),
                        "dv_files": [],  # rewrite materialized the masks
                        "row_tracking": {**spec, "high": new_high},
                        "op": {"name": "enable_row_tracking",
                               "start": start, "backfill": True},
                    }

                # table moved: `_commit` drops the rewrite, `_pinned`
                # re-reads and re-assigns
                return self._commit(build, (read_v, m), [f"{self.root}/{rel}"])

            return self._pinned("enable_row_tracking(backfill=True)", attempt, head)

        return self._commit(enable, head)

    @staticmethod
    def _may_hold_rows(m: dict) -> bool:
        """False only for a snapshot verifiably holding no rows.
        Entries may exist with ZERO rows (an empty overwrite leaves an
        empty data dir); only actual rows, unknowable counts or
        deletion vectors count."""
        counts = [sum(e["rows"].values()) if e.get("rows") else None
                  for e in m["entries"]]
        return bool(m.get("dv_files") or None in counts or sum(
            c for c in counts if c))

    @staticmethod
    def _identity_ahead(a: int, b: int, step: int) -> int:
        """The further-along of two watermarks in the step direction."""
        return max(a, b) if step > 0 else min(a, b)

    def sync_identity(self) -> int | None:
        """Advance the identity high-watermark past every EXPLICITLY
        written id (Delta ALTER TABLE ... SYNC IDENTITY): one extremum
        aggregate over the live rows, one metadata commit.  Returns
        the new version, or None when already ahead."""
        head = self._head()
        spec = dict(self._id_specs(head[1])).get("identity")
        if not spec:
            raise ValueError(f"table at {self.root} has no identity column")
        col, step = spec["col"], spec["step"]
        ext = self._read(head[1]).agg(
            (F.max(col) if step > 0 else F.min(col)).alias("e")
        ).collect()[0]["e"]
        if ext is None:
            return None
        new_high = self._identity_ahead(spec["high"], int(ext) + step, step)
        if new_high == spec["high"]:
            return None

        def build(prev: dict | None) -> dict:
            if prev is None:
                raise FileNotFoundError("no snapshot to sync identity on")
            cur = prev.get("identity") or spec
            return {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": prev.get("schema"),
                "identity": {
                    **cur,
                    "high": self._identity_ahead(cur["high"], new_high, step),
                },
                "op": {"name": "sync_identity"},
            }

        return self._commit(build, head)

    def _apply_generated(self, df: DataFrame, m: dict | None) -> DataFrame:
        """Generated-column write discipline under snapshot `m`'s
        expressions (the constructor seed until a manifest records
        them — expressions are fixed at table creation, Delta
        semantics): columns missing from the batch are computed from
        their expression; columns the writer provided are audited
        against it in ONE aggregate pass (O(batch)) and the write is
        refused on any mismatch — silently accepting divergent values
        would corrupt derived partition columns."""
        exprs = (m or {}).get("generated") or self.generated_cols
        if not exprs:
            return df
        provided = [n for n in exprs if n in df.columns]
        if provided:
            row = df.agg(*[
                F.count_if(
                    ~F.col(n).eqNullSafe(F.expr(exprs[n]))
                ).alias(f"__gen_{i}")
                for i, n in enumerate(provided)
            ]).collect()[0]
            bad = {
                n: int(row[f"__gen_{i}"])
                for i, n in enumerate(provided)
                if row[f"__gen_{i}"]
            }
            if bad:
                raise ConstraintViolation(
                    f"write to {self.root} contradicts generated columns "
                    f"(column -> divergent rows): {bad}; omit the column "
                    "to have it generated, or match the expression"
                )
        for n, e in exprs.items():
            if n not in df.columns:
                df = df.withColumn(n, F.expr(e))
        return df

    def _recompute_generated(
        self, df: DataFrame, m: dict | None, assigned=(), keep=()
    ) -> DataFrame:
        """Delta DML semantics for generated columns: rewrite paths
        (UPDATE / MERGE post-images) RECOMPUTE generated columns the
        statement did not explicitly assign instead of carrying the
        pre-image values — a carried value goes stale the moment the
        DML touches one of the expression's inputs, and the write
        audit (_apply_generated) would then refuse the whole
        statement, making generation-input columns un-updatable.
        Dropping the column here lets _apply_generated regenerate it
        from the post-image.

        `assigned`: columns the caller explicitly SET — their values
        are kept and still audited (providing a divergent value is
        refused, as for any externally provided batch).
        `keep`: carried untouched regardless — used for the partition
        column in partition-SCOPED rewrites, where silently
        recomputing it could migrate a row OUT of the partition set
        being replaced (rewriting partition A must not emit rows for
        partition B, which would clobber B's other rows).  Those
        writes stay fail-closed under the audit instead."""
        exprs = (m or {}).get("generated") or self.generated_cols
        drop = [
            c
            for c in exprs
            if c in df.columns and c not in assigned and c not in keep
        ]
        return df.drop(*drop) if drop else df

    def _apply_expectations(self, df: DataFrame) -> tuple[DataFrame, dict]:
        """One aggregate pass tallies per-rule violations (NULL
        predicate = violation, CHECK semantics); fail-mode rules with
        violations abort; rows failing any drop/quarantine rule are
        excluded from the returned DataFrame; quarantine-rule victims
        are appended to `<root>_quarantine` tagged with every rule
        name they broke."""
        rules = self.expectations
        row = df.agg(*[
            F.count_if(~F.coalesce(p, F.lit(False))).alias(f"__viol_{i}")
            for i, (_, p, _) in enumerate(rules)
        ]).collect()[0]
        metrics = {
            name: int(row[f"__viol_{i}"])
            for i, (name, _, _) in enumerate(rules)
        }
        failed_fail = {
            name: metrics[name]
            for name, _, mode in rules
            if mode == "fail" and metrics[name]
        }
        if failed_fail:
            raise ConstraintViolation(
                f"write to {self.root} violates fail-mode expectations "
                f"(rule -> violating rows): {failed_fail}; nothing was committed"
            )
        soft = [(n, p, m) for n, p, m in rules if m != "fail"]
        if not any(metrics[n] for n, _, _ in soft):
            return df, metrics
        ok = reduce(
            lambda a, b: a & b,
            [F.coalesce(p, F.lit(False)) for _, p, _ in soft],
        )
        if any(metrics[n] for n, _, m in soft if m == "quarantine"):
            failed_names = F.array_compact(F.array(*[
                F.when(~F.coalesce(p, F.lit(False)), F.lit(n))
                for n, p, _ in soft
            ]))
            quarantined = (
                df.where(~ok)
                .withColumn("failed_expectations", failed_names)
                .where(F.exists(
                    "failed_expectations",
                    lambda n: n.isin([x for x, _, m in soft if m == "quarantine"]),
                ))
            )
            self.quarantine_table().append(quarantined)
        return df.where(ok), metrics

    def quarantine_table(self) -> "SnapshotTable":
        """The sibling table receiving quarantined rows — plain (no
        expectations of its own: quarantine must never recurse)."""
        return SnapshotTable(
            self.spark, f"{self.root}_quarantine",
            max_retries=self.max_retries, storage=self.st,
        )

    def _write_expectation_metrics(self, full: str, metrics: dict) -> None:
        self.st.write_text_atomic(
            f"{full}/_expectations.json",
            json.dumps(metrics, separators=(",", ":")),
        )

    def expectation_metrics(self, version: int | None = None) -> dict:
        """Per-rule violation counts recorded by the write that
        produced `version` (default: latest): {rule: n} summed over
        the entries NEW at that version (diff vs the previous
        manifest).  Empty dict if that commit wrote no expectation
        sidecar (table has no expectations, or the entry predates
        them)."""
        v = version if version is not None else self.latest_version()
        if v is None:
            return {}
        cur = {e["base"] for e in self.manifest(v)["entries"]}
        prev: set = set()
        if v - 1 in set(self.versions()):
            prev = {e["base"] for e in self.manifest(v - 1)["entries"]}
        out: dict = {}
        for base in sorted(cur - prev):
            try:
                m = json.loads(
                    self.st.read_text(f"{self.root}/{base}/_expectations.json")
                )
            except Exception:
                continue
            for k, n in m.items():
                out[k] = out.get(k, 0) + n
        return out

    def _enforce_constraints(self, df: DataFrame) -> None:
        """One aggregate pass over the batch: count violations of every
        declared rule (NULL predicate = violation), raise with the
        per-rule tally if any — before a single byte lands."""
        rules = self.constraints
        row = df.agg(*[
            F.count_if(~F.coalesce(p, F.lit(False))).alias(f"__viol_{i}")
            for i, (_, p) in enumerate(rules)
        ]).collect()[0]
        bad = {
            name: int(row[f"__viol_{i}"])
            for i, (name, _) in enumerate(rules)
            if row[f"__viol_{i}"]
        }
        if bad:
            raise ConstraintViolation(
                f"write to {self.root} violates CHECK constraints "
                f"(rule -> violating rows): {bad}; nothing was committed"
            )

    # JSON-representable stat value, ordered consistently with the
    # column type: numbers stay numeric, date/timestamp become ISO
    # strings (lexicographic order == chronological order).  Types
    # whose JSON form would not order correctly (e.g. Decimal as a
    # string) return None -> no stats, file always kept.
    @staticmethod
    def _stat_val(v):
        import datetime

        if isinstance(v, bool) or v is None:
            return v
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, (datetime.date, datetime.datetime)):
            return v.isoformat()
        return None

    def _file_stats(
        self, rel: str, df_schema: StructType, cmap: dict | None = None
    ) -> dict | None:
        """Per-file min/max for `stats_cols`, keyed by path relative to
        the snap dir.  Served from the just-written files' PARQUET
        FOOTERS via the driver-side Hadoop/parquet-mr API (r13; guide
        §1.2 — the writer already computed these statistics, so the
        per-commit stats Spark job, ~2-3 jobs under AQE, disappears;
        Delta records write-side stats the same way).  Any footer the
        converter cannot serve exactly (unsupported physical/logical
        type, absent statistics) falls back to the r12 scan-aggregate
        for the whole call — recorded values must be identical either
        way.  Files with zero rows never appear — correct, they
        contribute no rows.  On a mapping-enabled table the written
        files carry PHYSICAL column names, so `stats_cols` (logical)
        are translated and the stat keys are physical — read()
        translates its predicates the same way before probing."""
        trans = (cmap or {}).get("cols") or {}
        cols = [
            trans.get(c, c)
            for c in self.stats_cols
            if c in {f.name for f in df_schema.fields}
        ]
        if not cols:
            return None
        try:
            return self._file_stats_from_footers(rel, cols)
        except Exception:
            return self._file_stats_scan(rel, cols)

    _FOOTER_STAT_TYPES = {
        "INT32", "INT64", "BYTE_ARRAY", "BOOLEAN", "DOUBLE", "FLOAT",
    }

    def _local_data_files(self, rel: str) -> list[tuple[str, str]]:
        """(key, absolute path) of every data file under the snap dir,
        via plain os.walk — valid only for a LOCAL root (the engine's
        test/bench posture).  A remote scheme raises and the caller
        falls back to the Spark path, which speaks any Hadoop FS."""
        import os as _os

        base = f"{self.root}/{rel}"
        if base.startswith("file:"):
            base = base[len("file:"):]
        if "://" in base:
            raise ValueError(f"non-local root {self.root!r}")
        out: list[tuple[str, str]] = []
        for dirpath, _dirs, files in _os.walk(base):
            for name in sorted(files):
                if not name.endswith(".parquet") or name.startswith(("_", ".")):
                    continue
                p = _os.path.join(dirpath, name)
                out.append((_os.path.relpath(p, base), p))
        return out

    def _file_stats_from_footers(self, rel: str, cols: list[str]) -> dict | None:
        """Fold each data file's row-group statistics into the same
        {file: {col: [min, max]}} the scan path records, zero Spark
        jobs — read with pyarrow (one C++ footer parse per file; the
        first cut of this went through py4j and paid ~10 JVM round
        trips per column per row group, which was SLOWER than the
        scan job it replaced).  Raises on anything it cannot convert
        EXACTLY to the scan path's values (timestamps — Spark writes
        INT96 whose stats are unreliable by spec; decimals — the scan
        path's _stat_val already refuses them; absent statistics;
        float/double whose footer min/max surfaced NaN), and the
        caller falls back."""
        import datetime

        import pyarrow.parquet as papq

        out: dict = {}
        for key, path in self._local_data_files(rel):
            if "/" in key and "=" in key.rsplit("/", 1)[0]:
                # partitioned layout: the scan path serves the
                # partition column's range from the directory value
                # (Spark's partition inference) — footers cannot; let
                # the fallback keep the recorded stats identical
                raise ValueError("partitioned snap dir")
            md = papq.ParquetFile(path).metadata
            if md.num_rows == 0:
                continue  # zero-row file: contributes no rows
            ranges: dict = {}
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for j in range(rg.num_columns):
                    col = rg.column(j)
                    cname = col.path_in_schema
                    if cname not in cols:
                        continue
                    st = col.statistics
                    if st is None:
                        raise ValueError("no statistics recorded")
                    if not st.has_min_max:
                        if st.has_null_count and st.null_count == rg.num_rows:
                            ranges.setdefault(cname, [None, None])
                            continue  # all-null group: no values
                        raise ValueError("min/max absent but not all-null")
                    ptn = st.physical_type
                    lts = st.logical_type.type
                    if ptn not in self._FOOTER_STAT_TYPES:
                        raise ValueError(f"unsupported type {ptn}")
                    if lts in ("DECIMAL", "TIMESTAMP", "TIME"):
                        raise ValueError(f"unsupported logical {lts}")
                    mn, mx = st.min, st.max
                    if ptn == "BYTE_ARRAY":
                        if lts != "STRING" or not isinstance(mn, str):
                            raise ValueError("raw binary stats")
                    elif lts == "DATE":
                        if not isinstance(mn, datetime.date):
                            raise ValueError("undecoded date stats")
                        mn, mx = mn.isoformat(), mx.isoformat()
                    elif ptn in ("INT32", "INT64"):
                        mn, mx = int(mn), int(mx)
                    elif ptn in ("DOUBLE", "FLOAT"):
                        mn, mx = float(mn), float(mx)
                        if mn != mn or mx != mx:  # NaN: order undefined
                            raise ValueError("NaN in float stats")
                    else:  # BOOLEAN
                        mn, mx = bool(mn), bool(mx)
                    cur = ranges.get(cname)
                    if cur is None or cur[0] is None:
                        ranges[cname] = [mn, mx]
                    else:
                        ranges[cname] = [min(cur[0], mn), max(cur[1], mx)]
            # only columns physically present in the file — the
            # partition column lives in directory names, and the
            # scan path likewise excludes it
            rec = {c: ranges[c] for c in cols if c in ranges}
            if rec:
                out[key] = rec
        return out or None

    def _row_counts_from_footers(self, rel: str) -> dict[str, int]:
        """Exact per-file row counts from parquet footer metadata
        (zero Spark jobs; pyarrow, same rationale as
        _file_stats_from_footers), keyed like _file_stats: path under
        the snap dir.  Zero-row files appear with 0."""
        import pyarrow.parquet as papq

        return {
            key: int(papq.ParquetFile(path).metadata.num_rows)
            for key, path in self._local_data_files(rel)
        }

    def _file_stats_scan(self, rel: str, cols: list[str]) -> dict | None:
        """The r12 scan-aggregate stats pass (one Spark job over the
        just-written files) — the fallback when a footer cannot be
        converted exactly."""
        full = f"{self.root}/{rel}"
        scan = self.spark.read.parquet(full)
        cols = [c for c in cols if c in scan.columns]  # partition col excluded
        if not cols:
            return None
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}")]
        rows = (
            scan.groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(*aggs)
            .collect()
        )
        out = {}
        for r in rows:
            # _metadata.file_path is a URI; key on the path under the snap dir
            key = r["__fp"].split(f"/{rel}/", 1)[1]
            out[key] = {
                c: [self._stat_val(r[f"__mn_{c}"]), self._stat_val(r[f"__mx_{c}"])]
                for c in cols
            }
        return out or None

    # -- bloom sidecars ----------------------------------------------------

    def _bloom_positions(self, col: Column, seed0: int = 0) -> Column:
        """Array of `bloom_hashes` bit positions for one value —
        xxhash64 with distinct seeds, double-mod for the sign."""
        m = self.bloom_bits
        return F.array(
            *[
                ((F.xxhash64(col, F.lit(s)) % m + m) % m)
                for s in range(seed0, seed0 + self.bloom_hashes)
            ]
        )

    def _write_blooms(
        self, rel: str, df_schema: StructType, cmap: dict | None = None
    ) -> bool:
        """Build per-file bloom filters for `bloom_cols` and write the
        `_bloom.json` sidecar into the (still-unpublished) snap dir.
        One aggregate per bloom column over the just-written files; bit
        positions are computed JVM-side (xxhash64), only the distinct
        set positions per file come back to the driver for packing."""
        trans = (cmap or {}).get("cols") or {}
        cols = [
            trans.get(c, c)
            for c in self.bloom_cols
            if c in {f.name for f in df_schema.fields}
        ]
        if not cols:
            return False
        full = f"{self.root}/{rel}"
        scan = self.spark.read.parquet(full)
        cols = [c for c in cols if c in scan.columns]  # partition col excluded
        if not cols:
            return False
        blooms: dict[str, dict[str, dict]] = {}
        for c in cols:
            dtype = scan.schema[c].dataType.simpleString()
            rows = (
                scan.select(
                    F.col("_metadata.file_path").alias("__fp"),
                    F.explode(self._bloom_positions(F.col(c))).alias("__pos"),
                )
                .groupBy("__fp")
                .agg(F.collect_set("__pos").alias("__set"))
                .collect()
            )
            for r in rows:
                key = r["__fp"].split(f"/{rel}/", 1)[1]
                words = bytearray(self.bloom_bits // 8)
                for p in r["__set"]:
                    words[p // 8] |= 1 << (p % 8)
                blooms.setdefault(key, {})[c] = {
                    "m": self.bloom_bits,
                    "h": self.bloom_hashes,
                    "dtype": dtype,
                    "b64": base64.b64encode(bytes(words)).decode("ascii"),
                }
        if not blooms:
            return False
        self.st.write_text_atomic(
            f"{full}/_bloom.json", json.dumps(blooms, separators=(",", ":"))
        )
        return True

    def _probe_positions(self, val, dtype: str) -> list[int] | None:
        """Bit positions of a probe value — the SAME JVM xxhash64 the
        write used (one tiny local job; reimplementing xxhash64 in
        Python would risk silent divergence).  The cast targets the
        FILE's recorded dtype (files written before a type widening
        hashed at the narrow width); a value OUTSIDE that dtype's
        domain returns None — the file cannot contain it, which is a
        sound (and exact) skip, and a plain cast would crash under
        ANSI instead (try_cast absorbs the overflow)."""
        row = (
            self.spark.range(1)
            .select(F.lit(val).try_cast(dtype).alias("v"))
            .select(
                self._bloom_positions(F.col("v")).alias("p"),
                F.col("v").isNull().alias("overflow"),
            )
            .collect()[0]
        )
        if row["overflow"]:
            return None
        return list(row["p"])

    @staticmethod
    def _bloom_admits(meta: dict, positions: list[int]) -> bool:
        bits = base64.b64decode(meta["b64"])
        return all(bits[p // 8] & (1 << (p % 8)) for p in positions)

    def _prune_by_bloom(
        self, entries: list[dict], predicates: list[tuple[str, str, object]]
    ) -> list[dict]:
        """File-granularity bloom skip for `=` predicates: candidate
        files of entries that carry a `_bloom.json` sidecar are probed;
        a file whose filter rules the value out is dropped (bloom
        no-means-no).  Entries without sidecars, non-equality
        predicates, and files missing from the sidecar pass through
        conservatively.  Probe positions are computed once per
        (column, value), not per file."""
        eqs = [(c, v) for c, op, v in predicates if op == "="]
        if not eqs:
            return entries
        pos_cache: dict[tuple[str, str], list[int]] = {}
        out = []
        for e in entries:
            if not e.get("bloom"):
                out.append(e)
                continue
            try:
                sidecar = json.loads(
                    self.st.read_text(
                        f"{e.get('root') or self.root}/{e['base']}/_bloom.json"
                    )
                )
            except Exception:
                out.append(e)  # sidecar unreadable -> keep whole entry
                continue
            if e.get("files") is not None:
                cand = e["files"]
            elif e["parts"] is None:
                cand = list(sidecar)
            else:
                live = set(e["parts"])
                cand = [f for f in sidecar if f.split("/", 1)[0] in live]
            kept = []
            for f in cand:
                metas = sidecar.get(f)
                admit = True
                for c, v in eqs:
                    meta = (metas or {}).get(c)
                    if not meta:
                        continue
                    # dtype is part of the key: files from different
                    # schema eras (type widening) hash the same value
                    # at different widths
                    ck = (c, repr(v), meta["dtype"])
                    if ck not in pos_cache:
                        pos_cache[ck] = self._probe_positions(v, meta["dtype"])
                    pos = pos_cache[ck]
                    if pos is None or not self._bloom_admits(meta, pos):
                        # None: the value overflows this file's
                        # recorded dtype — the file cannot contain it
                        admit = False
                        break
                if admit:
                    kept.append(f)
            if kept:
                out.append({**e, "files": kept})
        return out

    def _entry_for(self, rel: str, parts: list[str], has_data: bool,
                   df_schema: StructType, cmap: dict | None = None,
                   row_count: int | None = None) -> dict:
        entry: dict = {"base": rel, "parts": parts or None}
        if has_data:
            # per-part (or whole-dir) row counts: COUNT(*) on parquet
            # resolves from footer metadata alone (no column reads), so
            # recording this is nearly free and makes row_count() a
            # manifest read at any table size (the Delta fast-count
            # path).  Keyed per `col=value` part so replace_partitions
            # subsets keep exact counts.  `row_count` is the total the
            # WRITE job already observed (df.observe in _write_snap) —
            # when it covers the case (unpartitioned, or exactly one
            # partition value) the whole re-read job disappears; the
            # scan below is the multi-value / missed-observation
            # fallback only.
            if not parts and row_count is not None:
                entry["rows"] = {"": int(row_count)}
            elif len(parts) == 1 and row_count is not None:
                entry["rows"] = {parts[0]: int(row_count)}
            else:
                # multi-partition-value / missed-observation fallback:
                # row counts come from the parquet FOOTERS (block row
                # counts are exact metadata, zero Spark jobs — r13);
                # the scan job below only survives as the
                # footer-unreadable fallback
                got = None
                try:
                    per_file = self._row_counts_from_footers(rel)
                except Exception:
                    per_file = None
                if per_file is not None and parts:
                    agg: dict[str, int] = {}
                    for key, n in per_file.items():
                        agg[key.split("/", 1)[0]] = (
                            agg.get(key.split("/", 1)[0], 0) + n
                        )
                    if set(agg) == set(parts):
                        got = agg
                elif per_file is not None:
                    got = {"": sum(per_file.values())}
                if got is not None:
                    entry["rows"] = got
                else:
                    scan = self.spark.read.parquet(f"{self.root}/{rel}")
                    if parts:
                        pcol = parts[0].split("=", 1)[0]
                        got = {
                            _part_name(pcol, r["__p"]): int(r["__n"])
                            for r in scan.groupBy(
                                F.col(pcol).cast("string").alias("__p")
                            ).agg(F.count(F.lit(1)).alias("__n")).collect()
                        }
                        # record only when every directory name
                        # round-trips through the value's string form —
                        # an encoding mismatch must lose the
                        # optimization, never the count
                        if set(got) == set(parts):
                            entry["rows"] = got
                    else:
                        entry["rows"] = {"": int(scan.count())}
        if has_data and self.stats_cols:
            st = self._file_stats(rel, df_schema, cmap)
            if st:
                entry["stats"] = st
        if has_data and self.bloom_cols:
            if self._write_blooms(rel, df_schema, cmap):
                entry["bloom"] = True
        return entry

    @staticmethod
    def _check_expected(prev: dict | None, expected_version) -> None:
        if expected_version is _ANY_VERSION:
            return
        if (prev["version"] if prev else None) != expected_version:
            raise _Conflicted

    @staticmethod
    def _replayed(m: dict | None, txn: tuple) -> bool:
        """True when snapshot `m` (the caller's head) already records
        `txn`'s batch — the pre-check that lets a replayed write skip
        its work (the commit build's `_txn_apply` still guards the
        race)."""
        last = ((m or {}).get("txn") or {}).get(txn[0])
        return last is not None and last >= txn[1]

    @staticmethod
    def _txn_apply(tmap: dict, txn: tuple) -> None:
        """Record a txn watermark into `tmap` (mutates).  `txn` is
        (app_id, batch_id) or (app_id, batch_id, expected_last): the
        3-form is a COMPARE-AND-SET — the commit only lands if the
        app's current watermark equals `expected_last` (0 = none), the
        guard incremental folds need so two concurrent refreshers can
        never both apply overlapping change windows.  Replay (batch
        already recorded) is checked FIRST, so a retried successful
        commit skips cleanly instead of tripping the CAS."""
        app, batch = txn[0], txn[1]
        last = tmap.get(app)
        if last is not None and last >= batch:
            raise _SkipCommit  # replay / rival committed this batch
        if len(txn) > 2 and (last or 0) != txn[2]:
            raise StaleWatermark(
                f"txn {app!r}: expected predecessor watermark {txn[2]} "
                f"but found {last or 0} — a rival fold landed; recompute "
                "from the current watermark"
            )
        tmap[app] = batch

    # -- write operations --------------------------------------------------

    def overwrite(
        self,
        df: DataFrame,
        partition_col: str | None = None,
        expected_version=_ANY_VERSION,
        op: dict | None = None,
        txn: tuple[str, int] | None = None,
        clear_txn: tuple[str, ...] | None = None,
    ) -> int | None:
        """Full snapshot replacement.  An empty `df` is a truncate: the
        manifest commits with zero entries but keeps the schema, so
        read() returns an empty typed DataFrame.

        `txn=(app_id, batch_id)` gives the replacement the
        `append_once` exactly-once guard: a replayed batch commits
        nothing and returns None.

        `clear_txn` — app ids whose streaming/fold watermarks this
        replacement RESETS, in the same atomic commit (the txn map
        normally survives every commit so replay guards cannot be
        lost by accident; a rebuild-from-scratch is the one operation
        that must drop them deliberately — matview.rebuild_view)."""
        return self._overwrite(self._head(), df, partition_col,
                               expected_version, op, txn, clear_txn)

    def _overwrite(
        self, head: _Head, df: DataFrame, partition_col: str | None = None,
        expected_version=_ANY_VERSION, op: dict | None = None,
        txn: tuple[str, int] | None = None,
        clear_txn: tuple[str, ...] | None = None,
    ) -> int | None:
        """`overwrite` staged from, and first committed on, the
        snapshot `head` the caller already resolved."""
        m = head[1]
        if txn is not None and self._replayed(m, txn):
            return None  # replay detected before paying the write
        out_df, highs = self._prepare_ids(df, m)
        rel, parts, has_data, wmap, nrows = self._write_snap(
            out_df, partition_col,
            audit_cols=self._unassigned_id_cols(highs, m), m=m)
        entry = self._entry_for(rel, parts, has_data, out_df.schema, wmap,
                                row_count=nrows)
        schema = out_df.schema.json()

        def build(prev: dict | None) -> dict:
            self._check_expected(prev, expected_version)
            if (prev or {}).get("column_mapping") != wmap:
                raise _Conflicted
            out = {
                "partition_col": partition_col,
                "entries": [entry] if has_data else [],
                "schema": schema,
                # a full rewrite materializes whatever the deletion
                # vectors masked — retire them (empty list blocks the
                # _commit carry-over)
                "dv_files": [],
                "op": op or {"name": "overwrite"},
            }
            # replaced rows die with their ids, so a racing
            # assignment cannot produce a LIVE collision — the
            # watermark just stays monotone (ids are never reused)
            self._stamp_highs(out, prev, highs, cas=False)
            if txn is not None or clear_txn:
                tmap = dict((prev or {}).get("txn") or {})
                for app in clear_txn or ():
                    tmap.pop(app, None)
                if txn is not None:
                    self._txn_apply(tmap, txn)
                out["txn"] = tmap
            return out

        return self._commit(build, head, [f"{self.root}/{rel}"])

    def append(self, df: DataFrame) -> int:
        """Blind append (the cheap daily-ingest write): adds one data
        dir; all previous entries carry over untouched.  Appending an
        empty DataFrame to an existing table is a no-op (returns the
        current version); to a missing table it creates an empty one
        so the schema is established.

        On a PARTITIONED table the appended dir is laid out by the
        current partition column (Delta append semantics: new files
        join the partition layout; late-r9 — previously refused), so
        `read(partition_values=...)` pruning, partition-scoped merge
        and `replace_partitions` address the new rows exactly like
        the old ones.  Several append entries can carry the same
        partition value — `maybe_compact`'s entry-debt trigger folds
        them.  A partition-evolution commit racing the staged write
        is caught by the layout guard in the commit build and the
        append re-stages under the fresh layout, like a mapping DDL
        race."""
        return self._append(df, None)

    def append_once(self, df: DataFrame, app_id: str, batch_id: int) -> int | None:
        """Transactional streaming append (the Delta `txn` appId/version
        guard): the manifest records the highest committed `batch_id`
        per `app_id`, and a replayed batch — foreachBatch re-delivery
        after a sink failure, or a full re-run after checkpoint loss —
        commits NOTHING.  This is what makes `foreachBatch` + blind
        append exactly-once instead of at-least-once: epoch commit and
        data publication are the same atomic manifest write.

        Returns the new version, or None when the batch was already
        committed (a data dir staged before a rival recorded the batch
        is deleted by the commit loop).  Assumes the standard
        deterministic-replay contract: a given (app_id, batch_id)
        always carries the same rows.  An empty batch still commits,
        recording only its watermark.

        Metadata cost: the call resolves the head once (one listing,
        one manifest read); the replay check, the staging write and the
        first create of `v+1` all use it, so a replay returns before
        any write and a fresh batch pays nothing more unless it loses
        the commit race."""
        return self._append(df, (app_id, batch_id))

    def _append(self, df: DataFrame, txn: tuple[str, int] | None) -> int | None:
        """The one stage-and-commit attempt, run under `_pinned`, behind
        `append` (txn None) and `append_once` (txn=(app_id, batch_id)).
        The two verbs differ only in their empty-batch contract: a
        blind append of nothing is a no-op, while a txn append must
        still commit its watermark."""
        head = self._head()
        if txn is not None and self._replayed(head[1], txn):
            return None  # replay detected before paying the write
        op = ({"name": "append"} if txn is None else
              {"name": "append_once", "app_id": txn[0], "batch_id": txn[1]})

        def attempt(v0: int | None, m: dict | None) -> int | None:
            pcol = (m or {}).get("partition_col")
            out_df, highs = self._prepare_ids(df, m)
            write_pcol = pcol
            if pcol is not None and pcol not in out_df.columns:
                # the empty-batch contract outranks the layout refusal;
                # isEmpty runs only on this would-be-error path, never
                # on the hot append
                if not out_df.isEmpty():
                    raise ValueError(
                        f"append to a table partitioned by {pcol!r} needs "
                        f"that column in the batch"
                    )
                if txn is None:
                    return v0
                # the txn watermark must still commit: stage a
                # dataless, unpartitioned snap — has_data=False
                # discards the entry, only txn commits
                write_pcol = None
            elif pcol is not None and not [
                c for c in out_df.columns if c != pcol
            ]:
                # a subset batch carrying ONLY the partition column:
                # parquet refuses a layout with zero data columns
                # (ALL_PARTITION_COLUMNS_NOT_ALLOWED — found by the
                # storage fuzz, r13).  Expand to the declared schema
                # with typed NULLs, which is exactly what read() serves
                # for subset appends anyway (missing columns -> NULL).
                declared = StructType.fromJson(json.loads(m["schema"]))
                for fld in declared.fields:
                    if fld.name not in out_df.columns:
                        out_df = out_df.withColumn(
                            fld.name, F.lit(None).cast(fld.dataType))
            rel, parts, has_data, wmap, nrows = self._write_snap(
                out_df, write_pcol,
                audit_cols=self._unassigned_id_cols(highs, m), m=m)
            entry = self._entry_for(rel, sorted(parts) if pcol else [],
                                    has_data, out_df.schema, wmap,
                                    row_count=nrows)
            schema = out_df.schema.json()
            if not has_data and txn is None and v0 is not None:
                return v0

            def build(prev: dict | None) -> dict:
                if (prev or {}).get("column_mapping") != wmap:
                    raise _Conflicted
                tmap = dict((prev or {}).get("txn") or {})
                if txn is not None:
                    # raises _SkipCommit when a rival committed this
                    # batch mid-race
                    self._txn_apply(tmap, txn)
                if ((prev or {}).get("partition_col")) != pcol:
                    # partition evolution landed after this append
                    # staged its dir under the old layout — re-stage
                    raise _Conflicted
                entries = list(prev["entries"]) if prev else []
                if has_data:
                    entries = entries + [entry]
                out = {"partition_col": pcol, "entries": entries,
                       "schema": schema, "op": op}
                if txn is not None:
                    out["txn"] = tmap
                # a rival that assigned from the range we staged would
                # collide with our written ids — CAS and re-stage
                self._stamp_highs(out, prev, highs, cas=True)
                return out

            # a column-mapping DDL or partition evolution landing
            # between this append's staging and its manifest write
            # raises ConcurrentWriteConflict: `_commit` reclaims the
            # stale dir and `_pinned` re-stages — an append has no
            # read set, so the retry is always safe (the txn guard
            # keeps an append_once retry exactly-once)
            return self._commit(build, (v0, m), [f"{self.root}/{rel}"])

        return self._pinned(op["name"], attempt, head)

    def replace_partitions(
        self,
        df: DataFrame,
        partition_col: str,
        txn: tuple[str, int] | None = None,
        expected_version=_ANY_VERSION,
        replace_values: list | None = None,
        op: dict | None = None,
    ) -> int | None:
        """Atomic dynamic-partition overwrite (Delta `replaceWhere`):
        replace exactly the `partition_col` values present in `df`.
        Data for untouched partitions is NOT rewritten, renamed, or
        even read — the commit is a manifest edit, so the operation is
        atomic on s3a exactly like everywhere else.

        `replace_values` widens the replaced set beyond the values
        present in `df`: a named value with no rows in `df` is simply
        REMOVED from the table (how `merge` retires a partition whose
        every row was deleted — "replace these days with this data,
        even where the data is nothing").

        `txn=(app_id, batch_id)` gives the replacement the same
        exactly-once replay guard as `append_once` — required when the
        replaced partitions are MERGED partials (an incremental
        rollup): replaying a delta would double-count, so a batch that
        already committed must turn into a no-op (returns None)."""
        return self._replace_partitions(self._head(), df, partition_col, txn,
                                        expected_version, replace_values, op)

    def _replace_partitions(
        self, head: _Head, df: DataFrame, partition_col: str,
        txn: tuple[str, int] | None = None, expected_version=_ANY_VERSION,
        replace_values: list | None = None, op: dict | None = None,
    ) -> int | None:
        """`replace_partitions` staged from, and first committed on, the
        snapshot `head` the caller already resolved."""
        v, m = head
        if txn is not None and self._replayed(m, txn):
            return None  # replay: skip before paying the write
        out_df, highs = self._prepare_ids(df, m)
        rel, parts, has_data, wmap, nrows = self._write_snap(
            out_df, partition_col,
            audit_cols=self._unassigned_id_cols(highs, m), m=m)
        entry = self._entry_for(rel, sorted(parts), has_data, out_df.schema,
                                wmap, row_count=nrows)
        new_parts = set(parts)  # subdirs that actually exist in the new snap
        replaced = set(new_parts)  # values retired from previous entries
        if replace_values is not None:
            replaced |= {_part_name(partition_col, v) for v in replace_values}
        schema = out_df.schema.json()
        if not has_data and txn is None and not replace_values:
            # empty batch replaces nothing: skip the useless version
            # (with a txn the watermark still has to be recorded below)
            if v is not None:
                return v

        def build(prev: dict | None) -> dict:
            self._check_expected(prev, expected_version)
            if (prev or {}).get("column_mapping") != wmap:
                raise _Conflicted
            if prev and prev.get("partition_col") != partition_col and prev["entries"]:
                # includes partition_col=None: partition-replacing an
                # UNPARTITIONED table would reduce every parts=None
                # entry to nothing and silently drop the whole table
                raise ValueError(
                    f"table is partitioned by {prev.get('partition_col')!r}, "
                    f"not {partition_col!r} — cannot replace_partitions"
                )
            tmap = dict((prev or {}).get("txn") or {})
            if txn is not None:
                self._txn_apply(tmap, txn)
            entries = []
            for e in (prev or {"entries": []})["entries"]:
                # a pre-evolution layout (or unpartitioned dir) is not
                # addressable by this replace's col=value names —
                # carried whole, never silently dropped
                if e["parts"] is not None and entry_layout(e) == partition_col:
                    e = self._drop_parts(e, replaced)
                if e is not None:
                    entries.append(e)
            if has_data:
                entries.append(entry)
            out = {"partition_col": partition_col, "entries": entries,
                   "schema": schema,
                   "op": op or {"name": "replace_partitions",
                                "n_values": len(replaced)}}
            if tmap:
                out["txn"] = tmap
            # a replaced-away rival range cannot collide, but a
            # KEPT partition's rival rows can — CAS like append;
            # the conflict propagates (replace_partitions has no
            # re-stage loop; callers retry like the mapping race)
            self._stamp_highs(out, prev, highs, cas=True)
            return out

        return self._commit(build, head, [f"{self.root}/{rel}"])

    # -- row-level changes: five verbs over one kernel --------------------
    #
    # DELETE, UPDATE, MERGE and upsert are specs (a `plan` building a
    # `_Change` over a target scan) over one kernel: the pinned
    # read-modify-write loop (`_pinned`), the DV-masked position scan
    # (`_masked_scan`), and two commit shapes — merge-on-read
    # (`_dv_commit`) and copy-on-write (`_cow_commit`) — that share one
    # manifest build (`_publish`).

    def upsert(self, df: DataFrame, keys: tuple[str, ...]) -> int:
        """Keyed upsert (reference bigquery.ts:168-190 / Delta MERGE):
        target rows whose keys the source carries are dropped, every
        source row is inserted, and the result is ONE whole-table
        copy-on-write commit.  The read and the rewrite both happen on
        immutable dirs; the switch is the manifest commit.

        The merge is a read-modify-write, so the commit is pinned to
        the version the read saw: a rival commit landing in between
        (append, replace_partitions, another upsert) makes the pinned
        commit fail with ConcurrentWriteConflict, and the WHOLE
        read-merge-write re-runs against the new snapshot — rebasing
        blindly would discard the rival's rows (lost update)."""
        # materialize the source ONCE (r13; same rationale as merge():
        # the anti-join key broadcast, the row-tracking dup check and
        # the write's union leg otherwise each execute the caller's
        # plan).  O(source), lazy — the first consumer triggers it.
        df = df.localCheckpoint(eager=False)

        def attempt(read_v: int | None, m: dict | None) -> int | None:
            if read_v is None:
                return self._overwrite((read_v, m), df, expected_version=None)

            def plan(t: DataFrame) -> _Change:
                keep = t.join(
                    F.broadcast(df.select(*keys).distinct()), list(keys), "left_anti"
                )
                src = df
                spec = self._slot_of(m, "row_tracking")
                if spec and spec["col"] not in df.columns:
                    # row tracking: an upserted key is the SAME logical
                    # row — inherit its id from the current snapshot
                    # (new keys stay NULL and get fresh ids at write).
                    # The id projection is deduped (appends may have
                    # stacked several rows per key; a plain join would
                    # fan the source out) and the source must be
                    # key-unique (two source rows inheriting one id
                    # would break row-id uniqueness — same contract
                    # merge() enforces with validate_keys).
                    dup = (
                        df.groupBy(*keys)
                        .agg(F.count(F.lit(1)).alias("__n"))
                        .where(F.col("__n") > 1)
                        .limit(1)
                        .collect()
                    )
                    if dup:
                        raise ValueError(
                            "upsert into a row-tracked table requires a "
                            "key-unique source: multiple rows for key "
                            f"{tuple(dup[0][k] for k in keys)!r}; "
                            "de-duplicate the source (latest-wins window)"
                        )
                    ids = t.groupBy(*keys).agg(F.min(spec["col"]).alias(spec["col"]))
                    # pin the SOURCE side only (O(source) — the Delta
                    # merge-source materialization): the id pre-count
                    # and the write each execute the union, but the
                    # table side column-prunes on the count pass while
                    # the source side (often a multi-join plan) would
                    # re-execute in full.  Never pin the unioned full-
                    # table frame — at scale that caches the table.
                    src = self._pin_for_assignment(df.join(ids, list(keys), "left"))
                return _Change(keep, [F.col(c) for c in keep.columns], None,
                               F.lit(False), inserts=src)

            return self._cow_commit(
                read_v, m, plan, {"name": "upsert", "keys": list(keys)})

        return self._pinned("upsert", attempt, self._head())

    def merge(
        self,
        source: DataFrame,
        keys: tuple[str, ...],
        when_matched_update="all",
        when_matched_delete=None,
        when_not_matched_insert=True,
        update_condition=None,
        broadcast_source: bool = False,
        validate_keys: bool = True,
        mode: str = "rewrite",
        schema_evolution: bool = False,
        txn: tuple[str, int] | None = None,
        null_safe_keys: bool = False,
    ) -> int | None:
        """Multi-clause MERGE (Delta `MERGE INTO` / the general form of
        the reference's keyed UPDATE+INSERT, src/services/bigquery.ts:
        168-190).  For each source row joined to the target on `keys`
        (plain equality — NULL keys never match, as in SQL MERGE;
        `null_safe_keys=True` switches every key comparison to `<=>`
        so NULL==NULL matches, the semantics a grouped fold needs
        when a group column is nullable — without it a NULL group
        re-inserts on every merge instead of updating):

          * matched and `when_matched_delete` (Column / SQL string over
            ``t.*``/``s.*``) is true -> target row removed;
          * else matched and `update_condition` (default: always) is
            true -> target row updated: ``"all"`` takes every shared
            column from the source; a dict maps target column ->
            expression over ``t.*``/``s.*``;
          * not matched and `when_not_matched_insert` (True or a
            condition over ``s.*`` — source columns ONLY: the insert
            leg never joins the target) -> source row inserted
            (target-only columns null).

        Delete is checked before update (Delta's clause order); NULL
        conditions count as false.  Key columns cannot be assigned.

        Plan shape: the clause projection is written once and runs
        over target LEFT JOIN source in rewrite mode (every target row
        survives or changes) and target INNER JOIN source in dv mode
        (only matched rows matter), broadcast-able either way —
        `broadcast_source=True` forces it; a full-outer join could
        never broadcast and would shuffle the full-width target — plus
        source ANTI JOIN the target's column-pruned KEY projection for
        inserts: the target's data columns never enter a shuffle.

        `mode="rewrite"` (copy-on-write): on a table partitioned by a
        column IN `keys`, only the partitions carrying source keys are
        read and rewritten — the commit is a manifest edit, so a merge
        of one day's changes into a 10k-day table touches one
        partition, not 100 TB.  (Matched rows live in the source's
        partition values precisely because the partition column is
        part of the join key.)  Unpartitioned tables rewrite fully,
        like `upsert`.  While partition layouts are MIXED (after
        `evolve_partitioning`), or when a null-safe source carries a
        NULL partition value, the scoped path is unsound and the merge
        falls back to a whole-table rewrite for that call — it
        succeeds, and heals the layout as a side effect.  A merge that
        matches and inserts nothing commits nothing (the count rides
        on the write, no extra job).

        `mode="dv"` (merge-on-read): the matched-and-changed rows'
        positions become a deletion vector, their post-images plus the
        inserts land in ONE new data dir, one manifest commit
        publishes both.  Write cost is O(changed + inserted), never
        O(table) — the CDC apply shape for tables the merge key does
        not partition.

        `schema_evolution=True` (Delta `withSchemaEvolution()`): source
        columns absent from the target are ADDED to the table schema by
        the same commit — existing rows surface them as typed NULLs,
        matched-updated rows and inserts carry the source values.
        Refused on a column-mapping-enabled table (there new physical
        names must be assigned via add_columns() first — the same
        Iceberg-style contract every write follows).

        `txn=(app_id, batch_id)` makes the merge IDEMPOTENT the way
        `append_once` is (Delta's txn appId/version for foreachBatch
        MERGE sinks): the watermark is recorded by the same atomic
        manifest commit that publishes the merge, so a replayed batch
        — sink re-delivery, checkpoint-loss re-run, or a crashed
        driver retried by an orchestrator — commits nothing and
        returns None.  This is what lets a non-idempotent-by-
        construction merge (e.g. `views = t.views + s.delta`) run
        exactly-once under at-least-once delivery.

        Like `upsert`, the read-merge-write is pinned to the version it
        read and re-runs on ConcurrentWriteConflict."""
        head = self._head()
        if txn is not None and self._replayed(head[1], txn):
            return None  # replay detected before paying any work
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"merge mode must be 'rewrite' or 'dv', got {mode!r}")
        dv = mode == "dv"

        # Materialize the source ONCE (r13; guide §1.2 — the Delta
        # merge-source materialization, same rationale as
        # _pin_for_assignment): the key validation, the partition
        # probe, the matched-clause join leg and the insert anti-join
        # leg otherwise each execute the source plan in full — for a
        # fold/multi-join source (the matview refreshes) that is 3-4
        # executions per merge.  O(source) by the merge contract
        # (never the table side); lazy, so a replayed txn above pays
        # nothing and the first consumer triggers the one execution.
        # A CAS retry reuses the blocks — the source is the caller's
        # frame, independent of the target version the retry re-reads.
        source = source.localCheckpoint(eager=False)

        def as_cond(c, default: bool):
            if c is None or isinstance(c, bool):
                c = F.lit(default if c is None else c)
            return F.coalesce(F.expr(c) if isinstance(c, str) else c, F.lit(False))

        del_cond = as_cond(when_matched_delete, False)
        ins_cond = as_cond(when_not_matched_insert, True)
        upd_cond = as_cond(update_condition, True)
        if isinstance(when_matched_update, dict):
            bad = set(when_matched_update) & set(keys)
            if bad:
                raise ValueError(f"MERGE cannot assign key columns: {sorted(bad)}")
        if validate_keys:
            # Delta errors when multiple source rows match one target
            # row — a silent join fan-out would duplicate target rows.
            # One small aggregate on the source; opt out when the
            # source is known-unique (e.g. the output of a groupBy).
            dup = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .where(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"MERGE source has multiple rows for key "
                    f"{tuple(dup[0][k] for k in keys)!r}; de-duplicate the "
                    "source (latest-wins window) or pass validate_keys=False"
                )
        op = ({"name": "merge", "mode": "dv", "keys": list(keys)} if dv
              else {"name": "merge", "keys": list(keys)})

        def attempt(read_v: int | None, m: dict | None) -> int | None:
            def plan(t: DataFrame | None) -> _Change:
                if t is None:
                    # missing table: every source row is "not matched";
                    # the same plan runs against an empty target so
                    # insert conditions evaluate uniformly
                    t = self.spark.createDataFrame([], source.schema)
                cols = [c for c in t.columns if c not in _POS]
                new = ([c for c in source.columns if c not in cols]
                       if schema_evolution else [])
                if new and (m or {}).get("column_mapping"):
                    raise ValueError(
                        f"schema-evolving merge would add {new} to a "
                        "column-mapping-enabled table — declare them with "
                        "add_columns() first so physical names are assigned"
                    )
                out_cols = cols + new
                if when_matched_update == "all":
                    upd = {c: F.col(f"s.{c}") for c in out_cols
                           if c in source.columns and c not in keys}
                else:
                    upd = {c: (F.expr(e) if isinstance(e, str) else e)
                           for c, e in (when_matched_update or {}).items()}
                s_m = source.withColumn("__s", F.lit(True)).alias("s")
                if broadcast_source:
                    # deterministic hint for the common small-source
                    # merge (Catalyst broadcasts on its own when the
                    # source has size stats; AQE converts at runtime
                    # otherwise — this forces it at plan time)
                    s_m = F.broadcast(s_m)
                j = t.alias("t").join(
                    s_m, _key_on(keys, "t", "s", null_safe_keys),
                    "inner" if dv else "left")
                matched = F.col("s.__s").isNotNull()
                deleted = matched & del_cond
                updated = matched & ~deleted & upd_cond

                def out(c: str):
                    # an evolved column has no target side yet: NULL
                    # except where the matched-update writes it
                    old = (F.col(f"t.{c}") if c in cols
                           else F.lit(None).cast(source.schema[c].dataType))
                    return (F.when(updated, upd[c]).otherwise(old)
                            if c in upd else old).alias(c)

                inserts = (
                    source.alias("s").join(
                        t.select(*keys).alias("tk"),
                        _key_on(keys, "s", "tk", null_safe_keys), "left_anti")
                    .where(ins_cond)
                    .select(*[
                        F.col(c).alias(c) if c in source.columns
                        else F.lit(None).cast(t.schema[c].dataType).alias(c)
                        for c in out_cols
                    ])
                )
                return _Change(
                    j, [out(c) for c in out_cols], deleted | updated, deleted,
                    assigned=upd, inserts=inserts,
                    new_fields=tuple(StructField(c, source.schema[c].dataType, True)
                                     for c in new),
                )

            if dv and m and m["entries"]:
                return self._dv_commit(read_v, m, plan, op, txn)
            pcol = (m or {}).get("partition_col")
            touched = None
            if not dv and pcol in keys and not self._layouts_mixed(m):
                # partition-scoped: the source supplies the touched set
                # (mixed layouts cannot be addressed by `col=value`
                # names and take the whole-table rewrite instead)
                touched = [r[0] for r in source.select(pcol).distinct().collect()]
                if not touched:
                    return self._noop(read_v, m, txn, op)  # empty source
                if None in touched:
                    if not null_safe_keys:
                        raise ValueError(
                            "partition-scoped merge cannot address a NULL "
                            f"partition value in source column {pcol!r}")
                    # NULL is a real key under <=> (a NULL group in a
                    # fold delta), but no `col=...` subdirectory can
                    # address it: whole-table rewrite for THIS merge
                    touched = None
            return self._cow_commit(read_v, m, plan, op, txn=txn, touched=touched)

        return self._pinned("dv merge" if dv else "merge", attempt, head)

    def delete(self, condition, mode: str = "rewrite") -> int:
        """Row-level DELETE (Delta `DELETE FROM ... WHERE`): remove the
        rows matching `condition` (Column or SQL string over the
        table's columns; NULL counts as not-matching, SQL semantics).
        The spec is the hit predicate with no post-image.

        `mode="rewrite"` (copy-on-write): an unpartitioned table is
        probed with one LocalLimit scan (no match: no commit) and then
        rewritten fully.  On a partitioned table the doomed rows'
        partition values are found first (one column-pruned pass), and
        ONLY those partitions are rewritten by a manifest edit — a GDPR
        delete of one user's one day touches one partition of a
        100-TB table; a partition whose every row matched is retired
        outright.  While partition layouts are MIXED (after
        `evolve_partitioning`, before a full compact) the same commit
        also rewrites just the foreign-layout entries that contain
        matched rows, into the current layout (see `_cow_commit`).

        `mode="dv"` (merge-on-read, the Delta deletion-vector /
        Iceberg positional-delete shape): NO data is rewritten at all
        — the matched rows' positions (file, row_index) land in a tiny
        deletion-vector file and the commit is a manifest edit; reads
        mask the positions with one anti-join.  One scan, one tiny
        write, whatever the table size: the path for frequent small
        deletes on an UNPARTITIONED (or wrong-partitioned) 100-TB
        table, where even a partition-scoped rewrite churns gigabytes
        to drop one row.  The write side defers cost to readers;
        `compact()` (or any full rewrite) materializes the mask and
        retires the vectors.  Physical erasure (the actual GDPR
        guarantee) happens at that compact+vacuum, not at the logical
        delete.

        Both modes are pinned read-modify-writes with the
        upsert/merge conflict discipline; a missing table raises
        FileNotFoundError in both."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._where_change("delete", mode, F.coalesce(cond, F.lit(False)), None)

    def update(self, set: dict, condition=None, mode: str = "rewrite") -> int:
        """Row-level UPDATE (Delta `UPDATE ... SET ... WHERE`): `set`
        maps column -> expression (Column or SQL string over the
        table's columns); rows matching `condition` (default: all) get
        the new values, and generated columns the statement does not
        set are recomputed.  The spec is the hit predicate with the
        assignments as its post-image.

        `mode="rewrite"` (copy-on-write): the partition column cannot
        be assigned (a row may not migrate partitions in a
        partition-scoped rewrite); otherwise the same no-match probe,
        touched-partitions-only rewrite, mixed-layout entry scoping
        and conflict discipline as delete().

        `mode="dv"` (merge-on-read, the Iceberg MOR-update shape):
        the matched rows' positions land in a deletion vector and
        their UPDATED copies land in one new data dir — both
        published by a single atomic manifest commit, so readers see
        pre-update or post-update, never a row both ways.  Write cost
        is O(matched), not O(partition); and because the new rows are
        ordinary appended data, even the partition column may be
        assigned (the row simply moves lists).  compact() materializes
        as usual."""
        cond = (F.lit(True) if condition is None
                else F.expr(condition) if isinstance(condition, str)
                else condition)
        assigns = {
            c: (F.expr(e) if isinstance(e, str) else e) for c, e in set.items()
        }
        return self._where_change(
            "update", mode, F.coalesce(cond, F.lit(False)), assigns)

    def _where_change(
        self, verb: str, mode: str, hit: Column, assigns: dict | None
    ) -> int:
        """DELETE (`assigns` None) and UPDATE as one spec over the
        kernel: `hit` selects the rows; UPDATE's post-image applies
        `assigns` to them (the kernel recomputes generated columns)."""
        if mode not in ("rewrite", "dv"):
            raise ValueError(f"{verb} mode must be 'rewrite' or 'dv', got {mode!r}")
        op = {"name": verb}
        if assigns is not None:
            op["columns"] = sorted(assigns)

        def plan(t: DataFrame) -> _Change:
            cols = [c for c in t.columns if c not in _POS]
            if assigns is None:
                return _Change(t, [F.col(c) for c in cols], hit, hit)
            return _Change(
                t,
                [F.when(hit, assigns[c]).otherwise(F.col(c)).alias(c)
                 if c in assigns else F.col(c) for c in cols],
                hit, F.lit(False), assigned=assigns,
            )

        def attempt(read_v: int | None, m: dict | None) -> int:
            if m is None:
                raise FileNotFoundError(f"no snapshot at {self.root}")
            if mode == "dv":
                if not m["entries"]:
                    return read_v  # empty table: nothing to change
                return self._dv_commit(read_v, m, plan, {**op, "mode": "dv"})
            pcol = m.get("partition_col")
            if assigns and pcol in assigns:
                raise ValueError(
                    f"update cannot assign the partition column {pcol!r}")
            return self._cow_commit(read_v, m, plan, op, by_hits=True)

        return self._pinned(verb if mode == "rewrite" else f"dv {verb}",
                            attempt, self._head())

    def _pinned(
        self, what: str,
        attempt: Callable[[int | None, dict | None], Any],
        head: _Head,
    ) -> Any:
        """The one retry loop behind every re-reading write: the
        row-level changes, `_append`, `compact`, the row-tracking
        backfill and `refresh_rollup_snapshot`.  The first attempt runs
        on `head`, the snapshot the public call already resolved for
        its replay pre-check; every attempt reads only the (version,
        manifest) it is handed and passes both down — to its staging
        write and to `_commit`, which tries the create on it.  Its
        commit is pinned to that version (or, for an append, to the
        layout it staged under), so a rival commit landing in between
        raises ConcurrentWriteConflict and the WHOLE attempt re-runs
        against a freshly resolved head (rebasing blindly would lose
        the rival's rows).  The lost attempt's staged dirs are already
        gone: `_commit` reclaims them."""
        for i in range(self.max_retries):
            self._drain_id_pins()  # reclaim any prior attempt's pin
            if i:
                head = self._head()
            try:
                return attempt(*head)
            except ConcurrentWriteConflict:
                continue
        raise ConcurrentCommitError(
            f"{what} lost the read-merge-write race {self.max_retries} "
            f"times at {self.root}"
        )

    def _noop(self, read_v: int | None, m: dict | None, txn, op: dict) -> int | None:
        """A change that touched nothing commits nothing — except that
        a txn batch still records its watermark, in a commit that
        carries everything else over: replay detection must not
        depend on the batch having had effects."""
        if txn is None:
            return read_v

        def build(prev: dict | None) -> dict:
            if prev is None:
                raise FileNotFoundError("no snapshot to record a txn against")
            tmap = dict(prev.get("txn") or {})
            self._txn_apply(tmap, txn)
            return {"partition_col": prev.get("partition_col"),
                    "entries": prev["entries"], "schema": prev.get("schema"),
                    "txn": tmap, "op": {**op, "noop": True}}

        return self._commit(build, (read_v, m))

    def _dv_commit(self, read_v: int, m: dict, plan, op: dict, txn=None) -> int | None:
        """The merge-on-read commit (Iceberg's row delta): the hit rows'
        positions land in ONE `__dv=` vector dir, their post-images plus
        any inserts in ONE new data dir, and one manifest build adds
        both — with the widened schema, the id-watermark CAS and `txn`.
        Write cost is O(changed + inserted), never O(table).

        The vector's emptiness is OBSERVED on its own write (the
        limit(1) re-read is only the missed-observation fallback).  The
        hit set is checkpointed only when post-images consume it too,
        so DELETE stays one scan."""
        p = plan(self._masked_scan(m, with_pos=True))
        hits = p.rows.where(p.hit)
        if p.assigned is not None:
            # the vector write and the post-image write both consume
            # the hit set; lazily each would re-scan the whole table
            hits = hits.select(
                *_POS, p.deleted.alias("__del"), *p.out
            ).localCheckpoint(eager=True)
        rel_dv = f"{DATA_DIR}/__dv={uuid.uuid4().hex[:16]}"
        full_dv = f"{self.root}/{rel_dv}"
        obs = Observation()
        hits.select(*_POS).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "errorifexists").parquet(full_dv)
        n = observed_long(obs, "n")
        if n is None:
            n = int(not self.spark.read.parquet(full_dv).limit(1).isEmpty())
        staged, dvs = [], list(m.get("dv_files") or [])
        if n:
            staged.append(full_dv)
            dvs.append(rel_dv)
        else:
            self.st.delete(full_dv)
            if p.inserts is None:
                return self._noop(read_v, m, txn, op)  # nothing matched
        entries, highs, wmap = list(m["entries"]), {}, m.get("column_mapping")
        if p.assigned is not None:
            new = hits.where(~F.col("__del")).drop(*_POS, "__del")
            if p.inserts is not None:
                new = new.unionByName(p.inserts, allowMissingColumns=True)
            # the new rows are ordinary appended data: nothing is
            # partition-scoped, so every generated column may regenerate
            new = self._recompute_generated(new, m, assigned=p.assigned)
            if p.inserts is not None:
                # post-images carry their ids; inserted rows get fresh
                # ones (a user identity keeps the refuse-NULLs stance)
                new, highs = self._prepare_ids(new, m, pin=True)
            rel, parts, has_data, wmap, nrows = self._write_snap(
                new, m.get("partition_col"),
                audit_cols=self._unassigned_id_cols(highs, m), m=m)
            if has_data:
                staged.append(f"{self.root}/{rel}")
                entries.append(self._entry_for(rel, sorted(parts), True,
                                               new.schema, wmap, row_count=nrows))
        if not staged:
            return self._noop(read_v, m, txn, op)  # nothing matched or inserted
        schema = m.get("schema")
        if p.new_fields and schema is not None:
            ws = StructType.fromJson(json.loads(schema))
            schema = StructType(ws.fields + [
                f for f in p.new_fields if f.name not in ws.fieldNames()
            ]).json()
        return self._publish(read_v, m, entries, schema, dvs, highs, True,
                             wmap, op, txn, staged, hits)

    def _cow_commit(
        self, read_v: int | None, m: dict | None, plan, op: dict, txn=None,
        touched: list | None = None, by_hits: bool = False,
    ) -> int | None:
        """The copy-on-write commit, in two scopes:

          * WHOLE table — unpartitioned tables, upsert, and MERGE when
            it cannot scope: the output replaces every entry (and
            retires the deletion vectors it materialized), like
            overwrite;
          * TOUCHED storage — partitioned tables: current-layout
            partitions at `col=value` granularity (`touched` values
            from a MERGE source, or — `by_hits` — the values holding
            hit rows), plus, `by_hits` on a MIXED layout, the
            foreign-layout entries holding hit rows, rewritten whole
            INTO the current layout (see `_touched_units`).
            Untouched partitions and entries are carried by the
            manifest edit, never read; retired partitions keep their
            siblings' counts, stats and blooms (`_drop_parts`).

        No-op rule: `by_hits` changes (DELETE/UPDATE) commit nothing
        when nothing matched — a whole-table one probes with one
        LocalLimit scan before paying the rewrite; a MERGE counts its
        hits and inserts with observations on the write itself and
        drops the staged dir when both are zero (no extra job; a
        missed observation just commits).  A MERGE into a missing
        table always commits: it creates the table."""
        pcol = (m or {}).get("partition_col")
        whole = pcol is None or (touched is None and not by_hits)
        gone: set = set()
        wanted: set = set()
        if whole:
            src = self._masked_scan(m) if m is not None else None
        else:
            touched_f: list = []
            if by_hits:
                touched_f, touched = self._touched_units(m, plan)
                if not touched_f and not touched:
                    return read_v  # nothing matched anywhere
            wanted = {_part_name(pcol, v) for v in touched}
            gone = {_ekey(e) for e in touched_f}
            src = self._masked_scan(m, touched_f + [
                {**e, "parts": kept} for e in m["entries"]
                if entry_layout(e) == pcol
                and (kept := [q for q in e["parts"] if q in wanted])
            ])
        p = plan(src)
        if by_hits and whole and not p.rows.where(p.hit).limit(1).collect():
            return read_v  # no match: one LocalLimit probe, no rewrite
        rows, inserts, seen = p.rows, p.inserts, []
        if not by_hits and p.hit is not None and m is not None:
            seen.append(Observation())
            rows = rows.observe(seen[-1], F.count_if(p.hit).alias("n"))
            if inserts is not None:
                seen.append(Observation())
                inserts = inserts.observe(seen[-1], F.count(F.lit(1)).alias("n"))
        out = rows.where(~p.deleted).select(*p.out)
        if inserts is not None:
            out = out.unionByName(inserts, allowMissingColumns=True)
        if p.assigned is not None:
            # partition-scoped: a recomputed partition column could
            # migrate rows out of the replaced set; keep it fail-closed
            out = self._recompute_generated(
                out, m, assigned=p.assigned, keep=() if whole else (pcol,))
        out, highs = self._prepare_ids(out, m)
        rel, parts, has_data, wmap, nrows = self._write_snap(
            out, pcol, audit_cols=self._unassigned_id_cols(highs, m), m=m)
        full = f"{self.root}/{rel}"
        if seen and all(observed_long(o, "n") == 0 for o in seen):
            self.st.delete(full)
            return self._noop(read_v, m, txn, op)  # nothing matched or inserted
        entries = [] if whole else [
            e for e in (
                self._drop_parts(e, wanted) if entry_layout(e) == pcol else e
                for e in m["entries"] if _ekey(e) not in gone
            ) if e is not None
        ]
        if has_data:
            entries.append(self._entry_for(rel, sorted(parts), True, out.schema,
                                           wmap, row_count=nrows))
        # a whole rewrite's replaced rows die with their ids, so its
        # watermark merges monotone; a kept entry's rival rows can
        # collide with staged ids, so a scoped rewrite CASes
        return self._publish(
            read_v, m, entries, out.schema.json(),
            [] if whole else list(m.get("dv_files") or []), highs, not whole,
            wmap, op, txn, [full])

    def _touched_units(self, m: dict, plan) -> tuple[list[dict], list]:
        """Which storage units of a partitioned table hold rows the
        change hits: (foreign-layout entries, current-layout partition
        values).

          * entries laid out by the CURRENT partition column are
            addressed at `col=value` granularity — one column-pruned
            distinct pass over the hit rows;
          * FOREIGN-layout entries (pre-evolution dirs, including
            unpartitioned `parts=None` dirs) are addressed at ENTRY
            granularity: one position scan finds which of them
            physically CONTAIN hit rows — distinct (owning root, snap
            dir, part subdir) triples, bounded by the number of
            touched directories, never rows or files.  `__dv_file` is
            root-relative, so the probe runs per owning root
            (shallow-clone entries may span roots, and two roots can
            hold same-named dirs); an ordinary table is one root."""
        pcol = m["partition_col"]
        cur = [e for e in m["entries"] if entry_layout(e) == pcol]
        foreign = [e for e in m["entries"] if entry_layout(e) != pcol]
        if any("__snap=" not in e["base"] for e in foreign):
            raise ValueError(
                f"table has legacy pre-__snap entries not laid out by "
                f"{pcol!r}: row positions cannot address them — run a "
                "full compact() first"
            )

        def hits(es: list[dict], with_pos: bool = False) -> DataFrame:
            p = plan(self._masked_scan(m, es, with_pos=with_pos))
            return p.rows.where(p.hit)

        seg = F.split(F.col("__dv_file"), "/")
        sub = F.element_at(seg, 2)
        by_root: dict[str, list] = {}
        for e in foreign:
            by_root.setdefault(e.get("root") or self.root, []).append(e)
        units: set[tuple] = set()
        for froot, es in by_root.items():
            units |= {
                (froot, r["d"], r["p"])
                for r in hits(es, with_pos=True).select(
                    F.element_at(seg, 1).alias("d"),
                    F.when(sub.contains("="), sub).alias("p"),
                ).distinct().collect()
            }

        def touches(e: dict) -> bool:
            got = {p for (rr, d, p) in units
                   if rr == (e.get("root") or self.root)
                   and d == e["base"].rsplit("/", 1)[-1]}
            # a whole-dir entry: the dir match decides
            return bool(got) and (e["parts"] is None or bool(set(e["parts"]) & got))

        vals = ([r[0] for r in hits(cur).select(pcol).distinct().collect()]
                if cur else [])
        if None in vals:
            raise ValueError(
                "matching rows in the NULL partition are not "
                "partition-addressable; compact first"
            )
        return [e for e in foreign if touches(e)], vals

    def _publish(
        self, read_v: int | None, m: dict | None, entries: list[dict],
        schema: str | None, dv_files: list, highs: dict, cas: bool,
        wmap: dict | None, op: dict, txn, staged: list[str],
        cached: DataFrame | None = None,
    ) -> int | None:
        """The one manifest build both commit shapes share, pinned to
        `read_v`.  On a lost race `_commit` reclaims the staged dirs and
        the checkpointed hit set is released before the conflict
        propagates to `_pinned`, which re-stages from the advanced
        snapshot."""

        def build(prev: dict | None) -> dict:
            self._check_expected(prev, read_v)
            if (prev or {}).get("column_mapping") != wmap:
                raise _Conflicted
            out = {"partition_col": (m or {}).get("partition_col"),
                   "entries": entries, "schema": schema,
                   "dv_files": dv_files, "op": op}
            self._stamp_highs(out, prev, highs, cas=cas)
            if txn is not None:
                tmap = dict((prev or {}).get("txn") or {})
                self._txn_apply(tmap, txn)
                out["txn"] = tmap
            return out

        try:
            return self._commit(build, (read_v, m), staged)
        except ConcurrentWriteConflict:
            if cached is not None:
                cached.unpersist()
            raise

    @staticmethod
    def _drop_parts(e: dict, gone: set) -> dict | None:
        """Entry `e` minus its `col=value` parts in `gone` (None when
        none is left).  The kept parts' files are untouched, so their
        row counts, file stats and bloom sidecar stay valid and carry
        over — dropping them would silently degrade fast-count and
        data skipping after every partition-scoped rewrite."""
        kept = [p for p in e["parts"] if p not in gone]
        if not kept:
            return None
        if len(kept) == len(e["parts"]):
            return e
        sub: dict = {"base": e["base"], "parts": kept}
        if e.get("root"):
            sub["root"] = e["root"]
        if e.get("rows"):
            sub["rows"] = {p: e["rows"][p] for p in kept if p in e["rows"]}
        stats = {f: s for f, s in (e.get("stats") or {}).items()
                 if f.split("/", 1)[0] in kept}
        if stats:
            sub["stats"] = stats
        if e.get("bloom"):
            sub["bloom"] = True
        return sub

    @staticmethod
    def _layouts_mixed(m: dict) -> bool:
        """True when some entry's physical layout differs from the
        manifest's current partition column — partition evolution in
        progress, not yet fully compacted."""
        pcol = m.get("partition_col")
        return pcol is not None and any(
            entry_layout(e) != pcol for e in m["entries"]
        )


    def add_columns(self, columns: dict[str, str]) -> int:
        """Metadata-only ALTER TABLE ADD COLUMNS (the Delta/Iceberg
        schema-evolution commit): widen the recorded schema with new
        nullable columns — NO data is read, rewritten, or even listed;
        the commit is one manifest write.  Existing rows surface the
        new columns as typed NULLs on read; later writes populate them
        (mergeSchema reconciles mixed files).  `columns` maps name ->
        Spark SQL type string (e.g. {"score": "double"})."""
        if not columns:
            raise ValueError("add_columns needs at least one column")
        from pyspark.sql.types import StructField, _parse_datatype_string

        new_fields = [
            StructField(name, _parse_datatype_string(dtype), nullable=True)
            for name, dtype in columns.items()
        ]

        def build(prev: dict | None) -> dict:
            if prev is None or not prev.get("schema"):
                raise FileNotFoundError(
                    f"no schema-bearing snapshot at {self.root}"
                )
            schema = StructType.fromJson(json.loads(prev["schema"]))
            clash = {f.name for f in schema.fields} & set(columns)
            if clash:
                raise ValueError(
                    f"columns already exist: {sorted(clash)}"
                )
            widened = StructType(list(schema.fields) + new_fields)
            out = {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": widened.json(),
                "op": {"name": "add_columns", "columns": sorted(columns)},
            }
            cmap = prev.get("column_mapping")
            if cmap:
                # mapping-enabled: new logical columns get FRESH physical
                # names (col_<id>, monotonically assigned, never reused)
                # so a column re-added after a drop can never resurrect
                # the dropped column's bytes through mergeSchema
                cmap = json.loads(json.dumps(cmap))  # deep copy
                for f in new_fields:
                    cmap["cols"][f.name] = self._fresh_physical(cmap, f.name)
                out["column_mapping"] = cmap
            return out

        return self._commit(build, self._head())

    def widen_column(self, column: str, to_type: str) -> int:
        """Metadata-only ALTER TABLE ... TYPE widening (the Delta
        type-widening feature, `delta.enableTypeWidening`): change a
        column's declared type to a STRICTLY WIDER one — int family
        upward, float->double, decimal scale/precision up — in one
        manifest commit.  NO data is read or rewritten; existing
        files keep their narrow encoding and the scan applies
        Spark's parquet widening promotion by reading with the
        declared schema.  Writers may keep handing in EITHER width
        (the commit reconciles to the declared one); a later full
        `compact()` materializes everything at the wide type and
        retires the feature.  Matters for any long-lived 100-TB
        table whose counters outgrow INT: the alternative is a
        full-table rewrite.

        Time travel to a pre-DDL version shows the old type (the old
        manifest is untouched).  Refused on the partition column
        (its type is restored by directory discovery, which this
        scan path deliberately leaves untouched) and on legacy
        (pre-`__snap=`) layouts (the explicit-schema scan needs the
        single-relation path — compact() first)."""
        from pyspark.sql.types import _parse_datatype_string

        target = _parse_datatype_string(to_type)

        def build(prev: dict | None) -> dict:
            if prev is None or not prev.get("schema"):
                raise FileNotFoundError(
                    f"no schema-bearing snapshot at {self.root}"
                )
            if any("__snap=" not in e["base"] for e in prev["entries"]):
                raise ValueError(
                    "type widening requires the __snap= data layout; "
                    "this table has legacy snap dirs — compact() first"
                )
            if prev.get("partition_col") == column:
                raise ValueError(
                    f"{column!r} is the partition column — its scan type "
                    "comes from directory discovery, not the declared "
                    "schema; repartition via overwrite instead"
                )
            schema = StructType.fromJson(json.loads(prev["schema"]))
            by_name = {f.name: f for f in schema.fields}
            if column not in by_name:
                raise ValueError(f"no such column: {column!r}")
            old = by_name[column].dataType
            if not _widens_to(old, target):
                raise ValueError(
                    f"cannot widen {column!r} from {old.simpleString()} "
                    f"to {target.simpleString()}: not a supported "
                    "widening (int family up, float->double, decimal "
                    "scale/precision up)"
                )
            widened = StructType([
                StructField(f.name, target, f.nullable)
                if f.name == column else f
                for f in schema.fields
            ])
            return {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": widened.json(),
                "type_widened": True,
                "op": {"name": "widen_column", "column": column,
                       "from": old.simpleString(),
                       "to": target.simpleString()},
            }

        return self._commit(build, self._head())

    def evolve_partitioning(self, new_col: str | None) -> int:
        """Iceberg-style partition evolution as ONE metadata commit:
        future writes lay data out by `new_col` (or unpartitioned for
        None); every already-written entry keeps its own layout and
        stays readable — scans group per layout, nothing is rewritten.

        Scoping (documented, enforced): while layouts are MIXED,
        `read(partition_values=...)` — and therefore partition-subset
        compact — refuses with a clear error, because a
        partition-values read that silently returned old-layout rows
        whole would let a subsequent replace write duplicate them.
        Row-level DML stays AVAILABLE while mixed (r11, matching
        Delta/Iceberg): rewrite-mode delete/update also rewrite the
        foreign-layout entries holding matched rows, into the current
        layout (`_cow_commit`'s entry scope), a merge keyed
        on the partition column falls back to the whole-table rewrite
        for that call, and dv-mode everything works unchanged.  A full
        `compact()` rewrites history into the current layout and
        restores partition-values reads.  Refused on
        column-mapping-enabled tables (the layout name is physical)."""

        def build(prev: dict | None) -> dict:
            if prev is None or not prev.get("schema"):
                raise FileNotFoundError(f"no schema-bearing snapshot at {self.root}")
            if prev.get("column_mapping"):
                raise ValueError(
                    "partition evolution on a column-mapping-enabled table "
                    "is not supported (the col=value layout embeds physical "
                    "names)"
                )
            if new_col is not None:
                schema = StructType.fromJson(json.loads(prev["schema"]))
                if new_col not in {f.name for f in schema.fields}:
                    raise ValueError(f"no such column: {new_col!r}")
            return {
                "partition_col": new_col,
                "entries": prev["entries"],
                "schema": prev["schema"],
                "op": {"name": "evolve_partitioning", "to": new_col},
            }

        return self._commit(build, self._head())

    # -- column mapping (rename / drop without rewrite) --------------------

    @staticmethod
    def _fresh_physical(cmap: dict, logical: str) -> str:
        """Next never-used physical name: col_<id> ids are monotone and
        recorded, and the name additionally skips anything live in the
        mapping or retired by a drop (an identity-mapped column could
        literally be named col_3)."""
        taken = set(cmap["cols"].values()) | set(cmap.get("dropped") or [])
        while True:
            name = f"col_{cmap['next_id']}"
            cmap["next_id"] += 1
            if name not in taken:
                return name

    def _mapping_guard_exprs(self, prev: dict | None, logical: str) -> None:
        """Shared rename/drop validations against the previous manifest."""
        if prev is None or not prev.get("schema"):
            raise FileNotFoundError(f"no schema-bearing snapshot at {self.root}")
        if prev.get("partition_col") == logical:
            raise ValueError(
                f"{logical!r} is the partition column — its name is baked "
                "into the col=value directory layout; repartition via "
                "overwrite instead"
            )
        gen = prev.get("generated") or {}
        for target, expr in gen.items():
            if logical == target or re.search(
                rf"\b{re.escape(logical)}\b", expr
            ):
                raise ValueError(
                    f"{logical!r} is a generated column or feeds generated "
                    f"column {target!r} ({expr!r}) — drop the generation "
                    "first"
                )
        for slot in ("identity", "row_tracking"):
            idn = prev.get(slot)
            if idn and idn.get("col") == logical:
                raise ValueError(
                    f"{logical!r} is the identity column — the manifest's "
                    "identity spec addresses it by logical name; identity "
                    "columns cannot be renamed or dropped"
                )

    def enable_column_mapping(self) -> int:
        """Turn on name-based column mapping (Delta column-mapping
        `name` mode): every logical column gets a recorded physical
        name (initially identity), reads project physical->logical,
        writes translate logical->physical.  From then on
        rename_column / drop_column are pure metadata commits — no
        data is read or rewritten — at the price of an Iceberg-style
        contract: NEW columns must be declared with add_columns()
        before a write may carry them."""

        def build(prev: dict | None) -> dict:
            if prev is None or not prev.get("schema"):
                raise FileNotFoundError(f"no schema-bearing snapshot at {self.root}")
            if prev.get("column_mapping"):
                raise ValueError("column mapping is already enabled")
            schema = StructType.fromJson(json.loads(prev["schema"]))
            return {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": prev["schema"],
                "column_mapping": {
                    "cols": {f.name: f.name for f in schema.fields},
                    "next_id": 1,
                    "dropped": [],
                },
                "op": {"name": "enable_column_mapping"},
            }

        return self._commit(build, self._head())

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN as ONE manifest write: the logical
        name changes, the physical name in every already-written
        parquet file stays — zero data touched, old versions time-travel
        with their old names.  Requires column mapping
        (enable_column_mapping); refuses the partition column and
        generated-column participants (their expressions and the
        directory layout embed the name)."""

        def build(prev: dict | None) -> dict:
            self._mapping_guard_exprs(prev, old)
            cmap = prev.get("column_mapping")
            if not cmap:
                raise ValueError(
                    "rename_column needs column mapping — call "
                    "enable_column_mapping() first (a metadata-only commit)"
                )
            schema = StructType.fromJson(json.loads(prev["schema"]))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column: {old!r}")
            if new in names:
                raise ValueError(f"column already exists: {new!r}")
            cmap = json.loads(json.dumps(cmap))
            # rebuild preserving field order; the physical name rides along
            cmap["cols"] = {
                (new if l == old else l): p for l, p in cmap["cols"].items()
            }
            renamed = StructType(
                [
                    StructField(new, f.dataType, f.nullable, f.metadata)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            return {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": renamed.json(),
                "column_mapping": cmap,
                "op": {"name": "rename_column", "from": old, "to": new},
            }

        return self._commit(build, self._head())

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as ONE manifest write: the column
        leaves the logical schema and the mapping; its bytes stay in
        the already-written files but are never projected again (and
        its physical name is retired so a later add_columns can reuse
        the logical name without resurrecting them).  Time travel to
        pre-drop versions still sees the column."""

        def build(prev: dict | None) -> dict:
            self._mapping_guard_exprs(prev, name)
            cmap = prev.get("column_mapping")
            if not cmap:
                raise ValueError(
                    "drop_column needs column mapping — call "
                    "enable_column_mapping() first (a metadata-only commit)"
                )
            schema = StructType.fromJson(json.loads(prev["schema"]))
            names = [f.name for f in schema.fields]
            if name not in names:
                raise ValueError(f"no such column: {name!r}")
            if len(names) == 1:
                raise ValueError("cannot drop the last column")
            cmap = json.loads(json.dumps(cmap))
            phys = cmap["cols"].pop(name)
            cmap.setdefault("dropped", []).append(phys)
            narrowed = StructType([f for f in schema.fields if f.name != name])
            return {
                "partition_col": prev.get("partition_col"),
                "entries": prev["entries"],
                "schema": narrowed.json(),
                "column_mapping": cmap,
                "op": {"name": "drop_column", "column": name},
            }

        return self._commit(build, self._head())

    def compact(
        self,
        partition_values: list | None = None,
        cluster_by: tuple[str, ...] | None = None,
        num_files: int = 8,
        coalesce_files: bool = False,
    ) -> int:
        """Fold live entries into fewer data dirs (bounds the read
        union width); pure add-then-commit, same crash model.

        Full compact (default) rewrites the whole table into one snap
        dir.  At 100 TB that is the wrong maintenance unit — pass
        `partition_values` to rewrite ONLY those partitions into one
        new snap (the Iceberg rewriteDataFiles-with-filter shape):
        a daily refresh leaves one live entry per day, so compacting
        last month's 30 day-entries into one touches 30 days of data,
        not the table, and the read union shrinks by 29 scans.

        `cluster_by` re-lays the rewritten data for data skipping (the
        Delta OPTIMIZE ZORDER BY shape): one column range-partitions +
        sorts so per-file min/max stats become tight on that column;
        two columns sort along the Morton curve so every file covers a
        compact rectangle and predicates on EITHER column prune.  With
        `stats_cols` set, the rewrite records the new (tight) ranges
        and `read(predicates=...)` skips at file granularity —
        clustering is what converts stats from bookkeeping into
        skipped I/O on a corpus whose ingest order scattered the keys.

        Like upsert, the rewrite is an attempt under `_pinned`: pinned
        to the version it read and re-run on ConcurrentWriteConflict —
        otherwise a commit landing mid-compact would be clobbered by
        the stale rewrite.  A lost attempt's rewrite is deleted by the
        commit loop, not left for vacuum.  A missing table raises
        FileNotFoundError."""

        def layout(df: DataFrame) -> DataFrame:
            if cluster_by is None:
                if coalesce_files:
                    # the small-file fold (Delta OPTIMIZE's bin-pack,
                    # approximated): shuffle-free narrowing — tiny
                    # inputs are exactly the case where capping the
                    # write's task count costs nothing
                    return df.coalesce(num_files)
                return df
            if len(cluster_by) == 1:
                return df.repartitionByRange(
                    num_files, cluster_by[0]
                ).sortWithinPartitions(cluster_by[0])
            if len(cluster_by) == 2:
                from pixelspark.io import zorder_expr

                z = zorder_expr(df, cluster_by)  # type: ignore[arg-type]
                return (
                    df.withColumn("__zorder", z)
                    .repartitionByRange(num_files, F.col("__zorder"))
                    .sortWithinPartitions("__zorder")
                    .drop("__zorder")
                )
            raise ValueError("cluster_by supports 1 (sort) or 2 (z-order) columns")

        def attempt(read_v: int | None, m: dict | None) -> int | None:
            if m is None:
                raise FileNotFoundError(f"no snapshot at {self.root}")
            pcol = m.get("partition_col")
            if partition_values is None:
                return self._overwrite(
                    (read_v, m), layout(self._read(m)), pcol,
                    expected_version=read_v, op={"name": "compact"},
                )
            if pcol is None:
                raise ValueError(
                    "partition_values given but table is unpartitioned"
                )
            # manifest-level prune (only the named partitions are even
            # listed); the residual filter keeps the semantics exact if
            # a value's string form is ambiguous
            subset = self._read(m, partition_values).where(
                F.col(pcol).isin(partition_values))
            return self._replace_partitions(
                (read_v, m), layout(subset), pcol, expected_version=read_v,
                op={"name": "compact", "n_values": len(partition_values)},
            )

        return self._pinned("compact", attempt, self._head())

    # -- read operations ---------------------------------------------------

    def version_at(self, timestamp: float) -> int:
        """Delta `TIMESTAMP AS OF` resolution: the newest version whose
        commit instant is <= `timestamp` (epoch seconds).  Commit
        instants are the manifests' `committed_at`; manifests predating
        the field count as instant-unknown and are skipped (same
        conservative stance as the age-based vacuum).  Raises when the
        timestamp predates the oldest dated commit — Delta errors
        there too rather than guessing."""
        candidates = [
            v
            for v in self.versions()
            if (self.manifest(v).get("committed_at") or float("inf"))
            <= timestamp
        ]
        if not candidates:
            raise ValueError(
                f"no commit at or before timestamp {timestamp} at "
                f"{self.root} (oldest dated commit is newer, or history "
                "was vacuumed)"
            )
        return max(candidates)

    def read(
        self,
        version: int | None = None,
        partition_values: list | None = None,
        predicates: list[tuple[str, str, object]] | None = None,
        as_of_timestamp: float | None = None,
    ) -> DataFrame:
        """Current table (or time-travel to `version`) as ONE scan:
        all live data dirs are `__snap=<id>`-shaped, so they enter a
        single parquet relation with basePath=<root>/data — partition
        discovery restores the typed partition column (and a throwaway
        `__snap` column, dropped here), `WHERE day=X` prunes to the
        listed subdirectories, and read cost does not grow with commit
        count the way a per-entry union would (mergeSchema preserves
        cross-snapshot schema evolution).  Tables written before the
        `__snap=` naming fall back to one scan per entry, unioned.

        `partition_values` prunes at the MANIFEST level: only the named
        `col=value` subdirectories enter the path list at all, so file
        listing and footer reads for excluded partitions never happen —
        at 10k partitions a one-day read touches one directory, not
        10k (Spark's own partition pruning only saves the row groups,
        after the listing).  Values are matched by their string form
        (the directory-name encoding).

        `predicates` — a list of `(column, op, value)` with op in
        {=, <, <=, >, >=} — prunes at FILE granularity using the
        per-file min/max stats recorded by `stats_cols` writes: a file
        whose range cannot satisfy every predicate never enters the
        scan's path list.  The same predicates are then re-applied as a
        normal WHERE, so results are exact whether or not stats exist
        (files without stats are conservatively kept).

        `as_of_timestamp` (epoch seconds) time-travels by COMMIT
        INSTANT instead of version number (Delta `TIMESTAMP AS OF`,
        resolved via version_at) — mutually exclusive with
        `version`."""
        if as_of_timestamp is not None:
            if version is not None:
                raise ValueError(
                    "pass version OR as_of_timestamp, not both"
                )
            version = self.version_at(as_of_timestamp)
        m = self._head()[1] if version is None else self.manifest(version)
        return self._read(m, partition_values, predicates)

    def _read(
        self, m: dict | None, partition_values: list | None = None,
        predicates: list[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """`read` of the snapshot `m` the caller already resolved."""
        if m is None:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        entries = m["entries"]
        if partition_values is not None:
            pcol = m.get("partition_col")
            if pcol is None:
                raise ValueError(
                    "partition_values given but table is unpartitioned"
                )
            stale = [
                e for e in entries
                if e["parts"] is not None and entry_layout(e) != pcol
            ]
            if stale or any(e["parts"] is None for e in entries):
                raise ValueError(
                    f"table has entries not laid out by {pcol!r} (partition "
                    "evolution in progress): partition_values pruning would "
                    "be unsound on them — run a full compact() to rewrite "
                    "history into the current layout first"
                )
            wanted = {_part_name(pcol, val) for val in partition_values}
            entries = [
                {**e, "parts": kept}
                for e in entries
                if (kept := [p for p in (e["parts"] or []) if p in wanted])
            ]
        residual = None
        if predicates:
            # manifest-level partition pruning FROM predicates: a
            # predicate on the partition column itself, or on a source
            # column the partition column is GENERATED from
            # (day=CAST(ts AS DATE), the Delta generated-column
            # pruning), narrows the part list before any file listing
            # happens.  Conservative by construction — the residual
            # WHERE below re-applies every predicate, so an unprunable
            # shape just reads more, never returns wrong rows.
            entries = self._prune_parts_by_predicates(entries, m, predicates)
            # stats/bloom metadata is keyed by PHYSICAL column names;
            # translate for pruning, keep the residual WHERE logical
            # (it runs after the scan's physical->logical projection)
            cmap = m.get("column_mapping")
            phys_preds = predicates
            if cmap:
                unknown = [c for c, _, _ in predicates if c not in cmap["cols"]]
                if unknown:
                    raise ValueError(f"no such column(s): {sorted(set(unknown))}")
                phys_preds = [
                    (cmap["cols"][c], op, val) for c, op, val in predicates
                ]
            entries = self._prune_by_stats(entries, phys_preds)
            entries = self._prune_by_bloom(entries, phys_preds)
            residual = reduce(
                lambda a, b: a & b,
                [_PRED_OPS[op](F.col(c), F.lit(val)) for c, op, val in predicates],
            )
        df = self._masked_scan(m, entries)
        return df.where(residual) if residual is not None else df

    def _masked_scan(
        self, m: dict, entries: list[dict] | None = None, with_pos: bool = False,
    ) -> DataFrame:
        """The one DV-masked scan behind read() and every row-level
        change: `entries` (default: all of `m`'s) as one relation, minus
        the row positions `m`'s deletion vectors address (merge-on-read:
        one anti-join against the small deleted-position set, nothing
        when the table has none), with schema-only columns surfaced as
        typed NULLs.  `with_pos` keeps the (__dv_file, __dv_row)
        position columns a new vector addresses rows by.

        No entries (a truncated / created-empty snapshot, or a
        fully-pruned read): zero scannable paths would make
        spark.read.parquet() throw, so the frame is rebuilt empty from
        the schema the manifest recorded at commit."""
        # forward-compat: a manifest committed by a NEWER engine
        # version may depend on reader features this code predates —
        # refuse loudly rather than return (or rewrite) wrong rows
        check_reader_features(m, READER_FEATURES, "SnapshotTable.read")
        entries = m["entries"] if entries is None else entries
        if not entries:
            if m.get("schema") is None:
                raise FileNotFoundError(
                    f"snapshot v{m.get('version')} at {self.root} has no "
                    "entries and no recorded schema"
                )
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(m["schema"]))
            )
        dv = self._dv_scan(m)
        df = self._scan_entries(
            entries, m.get("partition_col"), with_pos=with_pos or dv is not None,
            cmap=m.get("column_mapping"),
            read_schema=self._declared_scan_schema(m),
        )
        if dv is not None:
            df = df.join(F.broadcast(dv), list(_POS), "left_anti")
        if not with_pos:
            df = df.drop(*_POS)
        return self._fill_schema_columns(df, m)

    def _fill_schema_columns(self, df: DataFrame, m: dict) -> DataFrame:
        """Surface columns the manifest schema has but no data file
        does yet (metadata-only add_columns) as typed NULLs; scan
        columns missing from the recorded schema are kept as-is
        (mergeSchema cross-snapshot safety).  `_masked_scan` applies
        it for read() and every row-level change alike — without it a
        merge/update addressing a schema-only column would silently
        drop the assignment."""
        if not m.get("schema"):
            return df
        missing = [
            f
            for f in StructType.fromJson(json.loads(m["schema"])).fields
            if f.name not in df.columns
        ]
        if missing:
            df = df.select(
                "*",
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing],
            )
        return df

    def _dv_scan(self, m: dict) -> DataFrame | None:
        """Union of the manifest's deletion-vector files as
        (__dv_file, __dv_row) rows; None when the snapshot has none.
        Broadcast-sized by design (targeted deletes); a table whose
        DV set has grown large should compact() to materialize."""
        dvs = m.get("dv_files") or []
        if not dvs:
            return None
        paths = [
            f"{d['root']}/{d['path']}" if isinstance(d, dict)
            else f"{self.root}/{d}"
            for d in dvs
        ]
        return self.spark.read.parquet(*paths).select(*_POS)

    def _prune_parts_by_predicates(
        self, entries: list[dict], m: dict,
        predicates: list[tuple[str, str, object]],
    ) -> list[dict]:
        """Narrow `col=value` part lists using predicate bounds on the
        partition column — stated directly, or DERIVED through a
        generated-column expression of the `CAST(src AS DATE)` shape
        (a `ts >= T` range prunes `day=` directories before listing,
        Delta's generated-column partition pruning).  Only parts whose
        layout IS the current partition column are filtered; foreign-
        layout entries (partition evolution) pass through whole.
        Sound for NULL parts too: a NULL partition value can never
        satisfy a comparison predicate (its generation input was NULL,
        so the residual WHERE rejects those rows anyway)."""
        import datetime

        pcol = m.get("partition_col")
        if pcol is None:
            return entries

        def as_date(val):
            if isinstance(val, datetime.datetime):
                return val.date()
            if isinstance(val, datetime.date):
                return val
            if isinstance(val, str):
                try:
                    return datetime.datetime.fromisoformat(val).date()
                except ValueError:
                    return None
            return None

        # the partition column is NOT in the stored schema (it lives
        # in the directory layout and is restored by discovery), so
        # each constraint compares in its own bound's domain: the
        # `col=value` string is decoded to match the bound's type,
        # and an undecodable pairing ADMITS the part (conservative)
        gen_expr = (m.get("generated") or {}).get(pcol)
        constraints: list[tuple[str, object]] = []
        for c, op, val in predicates:
            if c == pcol:
                if isinstance(val, datetime.datetime):
                    # truncating a timestamp bound to a date is lossy
                    # when the time component is nonzero: the residual
                    # WHERE upcasts the date part value to midnight, so
                    # day=D rows DO satisfy `pcol < D 10:00` — widen
                    # `<` to `<=` to admit the edge day (same
                    # discipline as the gen_expr path below).  `>`
                    # needs no widening: midnight > D 10:00 is false,
                    # so day=D rows fail the residual and pruning
                    # them is exact.
                    bound = val.date()
                    if val.time() != datetime.time(0, 0) and op == "<":
                        op = "<="
                else:
                    bound = val
                constraints.append((op, bound))
            elif gen_expr and re.fullmatch(
                rf"(?i)\s*CAST\s*\(\s*{re.escape(c)}\s+AS\s+DATE\s*\)\s*",
                gen_expr,
            ):
                d = as_date(val)
                if d is None:
                    continue
                if op in (">=", ">"):
                    # ts > T admits day(T) itself (later that day)
                    constraints.append((">=", d))
                elif op in ("<=", "<"):
                    # ts < midnight-of-T still conservatively admits
                    # day T; the residual WHERE trims the edge
                    constraints.append(("<=", d))
                elif op == "=":
                    constraints.append(("=", d))
        if not constraints:
            return entries

        def decode_as(pval: str, bound):
            if isinstance(bound, bool):
                return pval.lower() == "true"
            if isinstance(bound, datetime.date):
                try:
                    return datetime.date.fromisoformat(pval)
                except ValueError:
                    return Ellipsis
            if isinstance(bound, int):
                try:
                    return int(pval)
                except ValueError:
                    return Ellipsis
            if isinstance(bound, str):
                # ISO dates compare correctly as strings too, so a
                # string bound against a date layout stays sound
                return pval
            return Ellipsis

        def admits(pval: str) -> bool:
            if pval == "__HIVE_DEFAULT_PARTITION__":
                return False  # NULL satisfies no comparison
            for op, bound in constraints:
                v = decode_as(pval, bound)
                if v is Ellipsis:
                    continue  # undecodable pairing: this bound can't prune
                ok = {
                    "=": v == bound, "<": v < bound, "<=": v <= bound,
                    ">": v > bound, ">=": v >= bound,
                }[op]
                if not ok:
                    return False
            return True

        out = []
        for e in entries:
            if e["parts"] is None or entry_layout(e) != pcol:
                out.append(e)  # foreign layout / unpartitioned: keep whole
                continue
            kept = [p for p in e["parts"]
                    if admits(_part_split(p)[1])]
            if kept:
                out.append({**e, "parts": kept})
        return out

    def _prune_by_stats(
        self, entries: list[dict], predicates: list[tuple[str, str, object]]
    ) -> list[dict]:
        """File-granularity skip: entries carrying per-file stats are
        narrowed to an explicit `files` list of the files whose min/max
        range admits every predicate; entries without stats pass
        through whole (conservative).  An entry whose every file is
        skippable drops out entirely."""
        out = []
        for e in entries:
            stats = e.get("stats")
            if not stats:
                out.append(e)
                continue
            if e["parts"] is None:
                cand = list(stats)
            else:
                live = set(e["parts"])
                cand = [f for f in stats if f.split("/", 1)[0] in live]
            kept = [
                f for f in cand
                if all(_range_admits(stats[f].get(c), op, val)
                       for c, op, val in predicates)
            ]
            if kept:
                out.append({**e, "files": kept})
        return out

    def _declared_scan_schema(self, m: dict) -> StructType | None:
        """The LOGICAL schema the scan is handed explicitly, or None
        for the mergeSchema fallback (schema-less legacy manifests
        only).  The declared schema is the table contract (Delta/
        Iceberg read with it, never by inference): files written
        before a column existed serve typed NULLs, files written at a
        pre-widening width get the parquet reader's promotion, and —
        the scale reason this is the DEFAULT since r9 — the scan skips
        mergeSchema's footer-merge pass entirely, which is a whole
        Spark job growing O(files) at every read (at 100 TB, reading
        every footer to discover a schema the manifest already records
        is pure waste).

        GENERATED columns are materialized into the data files but the
        recorded schema predates _apply_generated, so their types are
        recovered by analyzing the generation expression against the
        recorded schema (driver-side plan analysis, no job); the one
        generated column that is also the partition column is excluded
        like any layout column (directory discovery restores it)."""
        if not m.get("schema"):
            return None
        schema = StructType.fromJson(json.loads(m["schema"]))
        gen = m.get("generated") or {}
        have = {f.name for f in schema.fields}
        missing = {
            n: e for n, e in gen.items()
            if n not in have and n != m.get("partition_col")
        }
        for n, e in missing.items():
            try:
                dt = (
                    self.spark.createDataFrame([], schema)
                    .selectExpr(f"({e}) AS __g").schema[0].dataType
                )
            except Exception:
                return None  # un-analyzable: mergeSchema fallback
            schema = schema.add(n, dt)
        return schema

    def _scan_entries(
        self, entries: list[dict], pcol: str | None, with_pos: bool = False,
        cmap: dict | None = None, read_schema: StructType | None = None,
    ) -> DataFrame:
        """One parquet relation over the given manifest entries (the
        single-scan `__snap=` path, with the legacy per-entry-union
        fallback).  `entries` must be non-empty.  An entry narrowed to
        a `files` list (stats pruning) contributes those files only.

        `read_schema` (the declared LOGICAL schema, type-widened
        tables) switches the relation from mergeSchema inference to
        an EXPLICIT schema — minus each group's layout column, which
        partition discovery restores exactly as in the merge path —
        so files written at a pre-widening width are promoted at scan.

        `with_pos` appends the (__dv_file, __dv_row) row-position
        columns deletion vectors address rows by: the file path
        relative to the table's data dir (stable under table moves)
        and Spark's `_metadata.row_index`.  Position columns require
        the modern `__snap=` layout — the legacy union hides the
        per-scan metadata column."""
        if all("__snap=" in e["base"] for e in entries):
            # entries may reference another table's data dirs (shallow
            # clone) or carry a pre-evolution layout: group by (owning
            # root, layout column) — each group is one basePath
            # partition-discovery relation (mixed col=... dirs in one
            # relation would corrupt discovery); the ordinary table is
            # a single group, so it still plans ONE scan
            by_root: dict[tuple, list] = {}
            for e in entries:
                key = (e.get("root") or self.root, entry_layout(e))
                by_root.setdefault(key, []).append(e)
            scans = []
            for (root, _layout), es in by_root.items():
                paths = []
                for e in es:
                    if e.get("files") is not None:
                        paths += [f"{root}/{e['base']}/{f}" for f in e["files"]]
                    elif e["parts"] is None:
                        paths.append(f"{root}/{e['base']}")
                    else:
                        paths += [f"{root}/{e['base']}/{p}" for p in e["parts"]]
                reader = self.spark.read.option(
                    "basePath", f"{root}/{DATA_DIR}"
                )
                if read_schema is not None:
                    phys = StructType([
                        StructField(
                            cmap["cols"][f.name] if cmap else f.name,
                            f.dataType, f.nullable,
                        )
                        for f in read_schema.fields
                        if f.name != _layout
                        and (not cmap or cmap["cols"].get(f.name) != _layout)
                    ])
                    # declared, so discovery never infers its type: a hex
                    # id like 8762930e73214520 parses as a decimal, and
                    # Spark then computes 10^73214520 for hours
                    reader = reader.schema(phys.add("__snap", StringType()))
                else:
                    reader = reader.option("mergeSchema", "true")
                df = reader.parquet(*paths)
                if with_pos:
                    df = df.select(
                        "*",
                        F.substring_index(
                            F.col("_metadata.file_path"), f"/{DATA_DIR}/", -1
                        ).alias("__dv_file"),
                        F.col("_metadata.row_index").alias("__dv_row"),
                    )
                scans.append(df.drop("__snap"))
            return self._to_logical(
                reduce(
                    lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    scans,
                ),
                cmap,
            )
        if with_pos:
            raise ValueError(
                "row positions (deletion vectors) require the __snap= "
                "data layout; this table has legacy snap dirs — compact() "
                "first"
            )
        scans = []
        for e in entries:  # legacy snap-<id> layout
            base = f"{e.get('root') or self.root}/{e['base']}"
            if e["parts"] is None:
                scans.append(self.spark.read.parquet(base))
            else:
                paths = [f"{base}/{p}" for p in e["parts"]]
                scans.append(
                    self.spark.read.option("basePath", base).parquet(*paths)
                )
        return self._to_logical(
            reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), scans),
            cmap,
        )

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: tuple[str, ...] | None = None,
        preimages: bool = False,
    ) -> DataFrame:
        """Change data feed (Delta CDF / `table_changes`): the rows
        that changed going FROM snapshot `from_version` TO `to_version`
        (default: latest), as the table's columns plus a `change_type`
        column in {'inserted', 'updated', 'deleted'}.  `from_version=0`
        means "before the table existed", so every row is 'inserted'.

        The diff is computed at MANIFEST granularity first: entries
        (data dirs / `col=value` subdirectories) present in both
        snapshots are byte-identical by construction — immutable dirs,
        `replace_partitions` edits the manifest only — so they never
        enter the scan at all.  Consequences at 100 TB:

          * an append-only history needs NO key column and reads ONLY
            the appended dirs (pure 'inserted' rows, zero diff work);
          * a day-partitioned table continuously refreshed by
            `replace_partitions` / partition-scoped `merge` diffs only
            the touched days — the other 9,970 partitions are skipped
            without listing a single file;
          * only a full rewrite (upsert/compact on an unpartitioned
            table) degrades to a whole-table diff — and a compact's
            rewritten-but-identical rows classify 'unchanged' and are
            filtered out.

        When any entry was removed between the versions, `keys` is
        required (rows must be matched to tell updates from
        insert+delete pairs) and must be unique per snapshot — true
        for tables maintained by upsert/merge/rollup.  'updated' rows
        carry the post-image (time-travel `read(version=...)` has the
        pre-image); 'deleted' rows carry the old values.

        `preimages=True` switches to the full Delta CDF vocabulary:
        each updated key yields TWO rows, 'update_preimage' (old
        values) and 'update_postimage' (new values), instead of one
        'updated' row.  This is what makes the feed FOLDABLE into
        downstream algebraic state (incremental materialized views
        retract the pre-image and apply the post-image) without a
        second time-travel read."""
        head = (self._head() if to_version is None
                else (to_version, self.manifest(to_version)))
        return self._read_changes(head, from_version, keys, preimages)

    def _read_changes(
        self,
        head: _Head,
        from_version: int,
        keys: tuple[str, ...] | None = None,
        preimages: bool = False,
    ) -> DataFrame:
        """`read_changes` ending at the resolved snapshot `head`, for a
        caller that holds it already."""
        to_v, m1 = head
        if m1 is None:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        check_reader_features(
            m1, READER_FEATURES, "SnapshotTable.read_changes"
        )
        m0 = self.manifest(from_version) if from_version else {"entries": []}
        pcol = m1.get("partition_col")
        rename_map: dict[str, str] = {}
        if from_version and m0.get("column_mapping") != m1.get("column_mapping"):
            # Mapping changes are resolved at the PHYSICAL level —
            # field ids (fresh physical names) are stable for a
            # column's whole life, so ADDITIVE changes (add_columns,
            # the mapped row-tracking enable) and RENAMES are both
            # unambiguous: the feed serves the whole window at the
            # LATEST logical names, translating historical entries
            # through m1's mapping (their physical names never moved;
            # r9, VERDICT item 3).  Pre-change files surface newly
            # added columns as NULLs, like any add_columns read.
            # DROPS stay refused: a column present on one side of the
            # window and erased on the other has no faithful diff.
            c1 = m1.get("column_mapping") or {"cols": {}, "dropped": []}
            c0 = m0.get("column_mapping")
            if c0 is None:
                # pre-mapping files store logical names physically
                old_cols = [
                    f.name for f in StructType.fromJson(
                        json.loads(m0["schema"])).fields
                ] if m0.get("schema") else []
                c0 = {"cols": {k: k for k in old_cols}, "dropped": []}
            phys0 = {v: k for k, v in c0["cols"].items()}
            phys1 = {v: k for k, v in c1["cols"].items()}
            traversable = (
                all(p in phys1 for p in phys0)  # every physical survived
                and (c0.get("dropped") or []) == (c1.get("dropped") or [])
            )
            if not traversable:
                raise ValueError(
                    "read_changes across a column DROP is ambiguous — "
                    "read the two snapshots and diff them explicitly "
                    "(additive changes and renames flow through)"
                )
            # old-logical -> new-logical, for the time-travel (DV)
            # path whose reads serve each version's OWN names
            rename_map = {
                phys0[p]: phys1[p] for p in phys0 if phys0[p] != phys1[p]
            }
        schema = StructType.fromJson(json.loads(m1["schema"]))
        table_cols = [f.name for f in schema.fields]

        r0, r1 = entry_refs(self.root, m0), entry_refs(self.root, m1)

        def scan(ref_set: set) -> DataFrame:
            if not ref_set:
                return self.spark.createDataFrame([], schema)
            by_base: dict[tuple, list] = {}
            for root, base, p in sorted(ref_set):
                by_base.setdefault((root, base), []).append(p)
            entries = [
                {
                    "base": b,
                    "parts": None if ps == [None] else ps,
                    **({"root": r} if r != self.root else {}),
                }
                for (r, b), ps in by_base.items()
            ]
            df = self._scan_entries(
                entries, pcol, cmap=m1.get("column_mapping"),
                read_schema=self._declared_scan_schema(m1),
            )
            # align to the target-snapshot schema (older snaps may
            # predate an evolved column)
            return df.select(*[
                F.col(f.name) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])

        added, removed = r1 - r0, r0 - r1
        ct = F.col("change_type")
        dv0 = list(m0.get("dv_files") or [])
        dv1 = list(m1.get("dv_files") or [])
        if (dv0 or dv1) and (dv0 != dv1 or removed):
            # Deletion vectors change ROWS without changing entries, so
            # the manifest-granularity diff below cannot see them; fall
            # back to a full DV-applied read of each side (correctness
            # first — DV tables are the targeted-delete shape, and a
            # CDF consumer over one pays a keyed diff).  The entry-diff
            # fast paths remain for DV-free histories — AND for pure
            # appends on a DV-bearing table (dv0 == dv1, nothing
            # removed): vectors address only pre-existing files, so
            # appended dirs cannot be masked and stay keyless
            # 'inserted' reads of just the new dirs.
            new_full = self._read(m1).select(*table_cols)
            if not from_version:
                return new_full.withColumn("change_type", F.lit("inserted"))
            if keys is None:
                raise ValueError(
                    f"versions {from_version}->{to_v} involve deletion "
                    "vectors; pass `keys` to classify changes"
                )
            old_full = self._read(m0)
            if rename_map:
                # the old snapshot serves its OWN logical names —
                # translate to the latest ones before aligning, or a
                # mid-window rename would NULL the column and
                # misclassify every row as updated
                old_full = old_full.select(*[
                    F.col(c).alias(rename_map.get(c, c))
                    for c in old_full.columns
                ])
            old_full = old_full.select(*[
                F.col(f.name) if f.name in old_full.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
            old, new = old_full, new_full
        elif not removed:
            return scan(added).withColumn("change_type", F.lit("inserted")) \
                if added else self.spark.createDataFrame([], schema) \
                .withColumn("change_type", F.lit(""))
        else:
            if keys is None:
                raise ValueError(
                    f"versions {from_version}->{to_v} rewrote data; pass "
                    "`keys` to classify changes (append-only histories "
                    "need none)"
                )
            old, new = scan(removed), scan(added)
        cols = [c for c in table_cols if c not in keys]
        o = old.select(
            *keys, F.lit(True).alias("__in_old"),
            *[F.col(c).alias(f"__old_{c}") for c in cols],
        )
        n = new.select(
            *keys, F.lit(True).alias("__in_new"),
            *[F.col(c).alias(f"__new_{c}") for c in cols],
        )
        j = o.join(n, list(keys), "full_outer")
        old_p = F.coalesce(F.col("__in_old"), F.lit(False))
        new_p = F.coalesce(F.col("__in_new"), F.lit(False))
        # the SYSTEM row-tracking column is served in the feed (CDC
        # consumers key durable state on the stable ids) but its
        # NULL -> assigned transition is excluded from change
        # DETECTION: that is the enable_row_tracking backfill, a
        # metadata operation on the logical data — emitting every row
        # as 'updated' there would retract/reapply whole downstream
        # matviews for no data change (Delta's backfill is likewise
        # CDF-silent).  An assigned -> DIFFERENT-assigned transition
        # (a key deleted and re-inserted with identical logical
        # values inside one window gets a fresh id) IS detected:
        # consumers keying durable state on the stable id must learn
        # the retraction/new id.  The USER identity column stays in
        # unconditionally: it is user data.
        _rt = self._slot_of(m1, "row_tracking")
        _rt_col = _rt["col"] if _rt else None
        def _differs_expr(c):
            base = ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
            if c == _rt_col:
                # ignore only the backfill's NULL -> assigned edge
                return F.col(f"__old_{c}").isNotNull() & base
            return base
        differs = reduce(
            lambda a, b: a | b, [_differs_expr(c) for c in cols],
        ) if cols else F.lit(False)
        change = (
            F.when(old_p & ~new_p, "deleted")
            .when(new_p & ~old_p, "inserted")
            .when(differs, "updated")
            .otherwise("unchanged")
        )
        j = j.withColumn("change_type", change).where(ct != "unchanged")
        if not preimages:
            out_vals = {
                c: F.when(ct == "deleted", F.col(f"__old_{c}"))
                   .otherwise(F.col(f"__new_{c}")).alias(c)
                for c in cols
            }
            return j.select(
                *[out_vals.get(c, F.col(c)) for c in table_cols],
                "change_type",
            )

        def img(side: str, label: str):
            return F.struct(
                *[
                    (F.col(f"__{side}_{c}") if c in cols else F.col(c)).alias(c)
                    for c in table_cols
                ],
                F.lit(label).alias("change_type"),
            )

        # one inline-explode pass: updated keys fan out into their
        # pre- and post-image rows, inserts/deletes stay single
        rows = (
            F.when(ct == "deleted", F.array(img("old", "deleted")))
            .when(ct == "inserted", F.array(img("new", "inserted")))
            .otherwise(F.array(img("old", "update_preimage"),
                               img("new", "update_postimage")))
        )
        return j.select(F.inline(rows))

    def register_view(self, name: str, version: int | None = None) -> None:
        """Expose the snapshot (optionally time-traveled) as a temp
        view so `spark.sql` queries the table by name — the SQL
        surface of the format.  The view captures the snapshot at
        registration (manifest-pinned paths): later commits don't
        shift it until re-registered."""
        self.read(version=version).createOrReplaceTempView(name)

    def files(self, version: int | None = None) -> list[dict]:
        """Inventory of the snapshot's live storage units (the Delta
        DESCRIBE DETAIL / files() introspection): one row per manifest
        entry (or per `col=value` part), with recorded per-file stats
        where the table tracks them.  Pure manifest read — no file
        listing, no Spark job."""
        m = self._head()[1] if version is None else self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        out = []
        for e in m["entries"]:
            stats = e.get("stats") or {}
            for p in (e["parts"] or [None]):
                unit = {
                    "base": e["base"],
                    "partition": p,
                    "root": e.get("root") or self.root,
                    "path": f"{e['base']}/{p}" if p else e["base"],
                }
                unit["file_stats"] = {
                    f: s for f, s in stats.items()
                    if p is None or f.startswith(f"{p}/")
                } or None
                out.append(unit)
        return out

    def row_count(self, version: int | None = None) -> int:
        """COUNT(*) from the manifest alone when possible — every
        write records per-part row counts (parquet footer metadata,
        near-free), so counting a 100-TB table is a manifest read, no
        scan, no job (the Delta fast-count path).  Falls back to a
        real count when a deletion vector masks rows (stale manifest
        arithmetic would overcount) or when an entry predates count
        recording."""
        m = self._head()[1] if version is None else self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        if m.get("dv_files"):
            return self._read(m).count()
        total = 0
        for e in m["entries"]:
            rows = e.get("rows")
            units = e["parts"] or [""]
            if rows is None or any(p not in rows for p in units):
                return self._read(m).count()
            total += sum(rows[p] for p in units)
        return total

    def poll_changes(
        self,
        cursor_path: str,
        keys: tuple[str, ...] | None = None,
    ):
        """Poll-based incremental consumption of the change data feed
        (the micro-batch CDC consumer shape, without Structured
        Streaming): returns `(changes_df, ack)` where `changes_df` is
        `read_changes(cursor, latest)` and `ack()` advances the cursor
        to the polled version — call it only AFTER the changes are
        durably processed, so a crash mid-processing re-delivers
        (at-least-once; pair with an idempotent apply such as
        run_snapshot_cdc_sink's merge for exactly-once state).
        Returns `(None, ack)` when there is nothing new.

        The cursor lives outside the table root (each consumer owns
        one) as a version log with one live entry: ack creates
        `<cursor_path>.v<N>` (put-if-absent, so it lands whole or not
        at all) and only then deletes the older entries, and a poll
        takes the highest.  A crash at any point of an ack leaves the
        old cursor or the new one, never none, so it re-delivers at
        most the acked window, never the whole history.  A single-file
        cursor at `cursor_path` (the older format) is still honoured
        and retired by the next ack.  A cursor at a version `vacuum()`
        has pruned raises FileNotFoundError: the changes since it can
        no longer be reconstructed."""
        return self._poll(cursor_path, None, keys)

    def _poll(self, cursor_path: str, upto: int | None,
              keys: tuple[str, ...] | None):
        """The one cursor protocol: `poll_changes` (`upto` None, the
        head) and `Catalog.poll_published_changes` (`upto` the
        binding's pin) both deliver `(cursor, upto]`."""
        st = storage_for(cursor_path, self.spark)
        parent, base = posixpath.split(cursor_path.rstrip("/"))
        cur = VersionLog(st, parent, f"{base}.v")
        last = max(cur.versions(), default=0)
        if st.exists(cursor_path):  # single-file cursor of older acks
            last = max(last, json.loads(st.read_text(cursor_path))["version"])
        vs = self.versions()  # one listing: the head and the retention
        if upto is None:
            upto = vs[-1] if vs else None
        if upto is None or upto <= last:
            return None, (lambda: None)
        if last and last not in vs:
            # the changes after `last` went with its manifest (Delta
            # CDF retention stance): refuse with the catch-up path
            raise FileNotFoundError(
                f"cursor at {cursor_path} points at version {last} of the "
                f"table at {self.root}, which predates the table's vacuum "
                "retention — incremental changes are no longer "
                "reconstructable.  Delete the cursor files to restart from "
                "version 0: the next poll delivers the whole table as inserts"
            )

        def ack() -> None:
            # the commit point is this one create (re-acking is a
            # no-op); what follows is garbage collection
            cur.create(upto, json.dumps({"version": upto}))
            cur.drop(v for v in cur.versions() if v < upto)
            try:
                st.delete(cursor_path)  # retire a single-file cursor
            except OSError:
                pass

        return self._read_changes((upto, self.manifest(upto)), last, keys), ack

    def history(self) -> list[dict]:
        """Commit log, newest first (Delta DESCRIBE HISTORY): version,
        the operation that produced it, the commit instant (epoch
        seconds; None for manifests predating the field), live entry
        count, and the streaming-txn watermarks at that point."""
        out = []
        for v in reversed(self.versions()):
            m = self.manifest(v)
            out.append({
                "version": v,
                "op": m.get("op") or {"name": "unknown"},
                "committed_at": m.get("committed_at"),
                "n_entries": len(m["entries"]),
                "partition_col": m.get("partition_col"),
                "txn": m.get("txn") or {},
            })
        return out

    def detail(self) -> dict:
        """One-call table summary (Delta DESCRIBE DETAIL): current
        version, layout, feature lists, configured invariants, file
        statistics — everything from the manifest, zero data read
        (num_rows uses the manifest's per-partition row counts where
        recorded; None means at least one entry predates them)."""
        v, m = self._head()
        if m is None:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        counts = [
            sum((e.get("rows") or {}).values()) if e.get("rows") else None
            for e in m["entries"]
        ]
        if m.get("dv_files"):
            # DV masks make manifest arithmetic an overcount — report
            # unknown rather than wrong (row_count() pays the scan)
            counts = [None]
        return {
            "root": self.root,
            "version": v,
            "table_id": m.get("table_id"),
            "committed_at": m.get("committed_at"),
            "partition_col": m.get("partition_col"),
            "n_entries": len(m["entries"]),
            "num_rows": (None if any(c is None for c in counts)
                         else sum(counts)),
            "reader_features": m.get("reader_features") or [],
            "writer_features": m.get("writer_features") or [],
            "generated": m.get("generated") or {},
            "identity": m.get("identity"),
            "row_tracking": m.get("row_tracking"),
            "column_mapping": bool(m.get("column_mapping")),
            "deletion_vectors": len(m.get("dv_files") or []),
            **self.dv_metrics(m),
            "last_op": m.get("op") or {"name": "unknown"},
        }

    def dv_metrics(self, m: dict | None = None) -> dict:
        """Deletion-vector DEBT metrics — what decides when merge-on-
        read has accrued enough mask tax to materialize:

          * `dv_masked_rows` — rows currently masked out (parquet
            FOOTER counts of the vector files: metadata-only I/O,
            O(#dv files), no data pages read);
          * `dv_bytes` — vector sidecar bytes on disk;
          * `dv_masked_fraction` — masked rows over the manifest's
            recorded pre-mask row count (None when either side is
            unknowable, e.g. entries predating per-partition counts
            or a non-local storage backend — unknown beats wrong).

        Heuristic (measured, BASELINE.md dv-read-tax probe at 2M
        rows): the tax is the broadcast anti-join's PRESENCE more
        than its size — ~2x on a cheap full scan once any vector
        exists, rising mildly with the masked share (2.2x at 1%,
        3.6x at 5%).  So: compact() when `dv_masked_fraction`
        exceeds ~5%, and sooner if the table is scan-dominated (the
        flat anti-join overhead is the price then, and one compact
        retires it).  Streaming deployments doing continuous DV
        deletes should compact on a schedule instead (the fraction
        only ratchets up between compactions)."""
        if m is None:
            m = self._head()[1]
            if m is None:
                raise FileNotFoundError(f"no snapshot at {self.root}")
        dvs = m.get("dv_files") or []
        out = {"dv_masked_rows": 0, "dv_bytes": 0, "dv_masked_fraction": 0.0}
        if not dvs:
            return out
        masked = 0
        nbytes = 0
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover
            pq = None
        for d in dvs:
            root = d["root"] if isinstance(d, dict) else self.root
            rel = d["path"] if isinstance(d, dict) else d
            path = _strip_file_scheme(f"{root}/{rel}")
            if pq is None or re.match(r"^[a-z][a-z0-9+.-]*://", path):
                # non-local backend: footers aren't os-walkable here
                return {"dv_masked_rows": None, "dv_bytes": None,
                        "dv_masked_fraction": None}
            for wroot, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        full = os.path.join(wroot, f)
                        masked += pq.ParquetFile(full).metadata.num_rows
                        nbytes += os.path.getsize(full)
        out["dv_masked_rows"] = masked
        out["dv_bytes"] = nbytes
        pre_mask = [
            sum((e.get("rows") or {}).values()) if e.get("rows") else None
            for e in m["entries"]
        ]
        out["dv_masked_fraction"] = (
            None
            if any(c is None for c in pre_mask) or not sum(pre_mask)
            else masked / sum(pre_mask)
        )
        return out

    def fragmentation_metrics(self, m: dict | None = None) -> dict:
        """Layout-debt metrics — the read-tax sources that are NOT
        deletion vectors:

          * `n_live_entries` — manifest entries in the current
            snapshot.  Every entry is one scan in the read union, so
            entry count is a direct multiplier on probe/scan setup
            cost (round-6 index_compaction probe: a 10-entry index
            re-widened probe scans +37-70%; round-4 union-width
            probe: the same tax on plain reads pre-compaction);
          * `n_files` / `small_file_share` — parquet data files and
            the share under `small_file_bytes` (local backends only;
            None when unknowable — unknown beats wrong, like
            dv_metrics);
          * `multi_entry_partitions` — partition values living in
            MORE THAN ONE live entry (partitioned tables): exactly
            the values whose reads union several scans, and exactly
            the right `compact(partition_values=...)` unit — folding
            them shrinks the union without rewriting the
            single-entry partitions at all."""
        if m is None:
            m = self._head()[1]
            if m is None:
                raise FileNotFoundError(f"no snapshot at {self.root}")
        entries = m["entries"]
        out: dict = {
            "n_live_entries": len(entries),
            "n_files": 0,
            "small_file_share": 0.0,
            "multi_entry_partitions": [],
        }
        if m.get("partition_col"):
            seen: dict[str, int] = {}
            for e in entries:
                if entry_layout(e) != m["partition_col"]:
                    continue
                for p in e.get("parts") or []:
                    seen[p] = seen.get(p, 0) + 1
            out["multi_entry_partitions"] = sorted(
                p.split("=", 1)[1] for p, n in seen.items() if n > 1
            )
        n_files = 0
        n_small = 0
        for e in entries:
            root = e.get("root") or self.root
            path = _strip_file_scheme(f"{root}/{e['base']}")
            if re.match(r"^[a-z][a-z0-9+.-]*://", path):
                out["n_files"] = None
                out["small_file_share"] = None
                return out
            for wroot, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        n_files += 1
                        if os.path.getsize(
                            os.path.join(wroot, f)
                        ) < self.small_file_bytes:
                            n_small += 1
        out["n_files"] = n_files
        out["small_file_share"] = (n_small / n_files) if n_files else 0.0
        return out

    small_file_bytes: int = 32 << 20  # Delta OPTIMIZE's "small" order

    def maybe_compact(
        self,
        max_masked_fraction: float = 0.05,
        max_live_entries: int | None = None,
        max_small_file_share: float | None = None,
        num_files: int = 8,
        **compact_kwargs,
    ) -> int | None:
        """The maintenance heuristics made executable (Delta's
        auto-compaction / OPTIMIZE idea): run `compact()` iff any
        measured debt crossed its threshold —

          * deletion-vector debt: masked share >
            `max_masked_fraction` (default the measured ~5% knee
            from the BASELINE.md dv-read-tax probe);
          * union-width debt: live entries > `max_live_entries`
            (opt-in; the round-6 index_compaction probe measured
            +37-70% probe cost at 10 entries — 8 is a sane setting).
            On a PARTITIONED table where only some values are spread
            over several entries, the rewrite is SCOPED to exactly
            those values (`compact(partition_values=...)`) — a
            day-partitioned table with one entry per day never pays
            a full rewrite for being old;
          * small-file debt: file share under `small_file_bytes`
            exceeds `max_small_file_share` (opt-in) AND the table
            has more files than the compaction target `num_files` —
            without that guard a small-but-healthy table would
            re-trigger forever.  UNPARTITIONED tables only: under a
            `col=value` layout the write splits per value again, so
            a fold could never converge below one file per value —
            partition granularity bounds file folding there (use an
            explicit windowed `compact(partition_values=...)`).

        Returns the new version, or None when every debt is under
        threshold or UNKNOWABLE (missing per-partition counts /
        non-local backend — an unknown share must not trigger a
        table-sized rewrite on a guess; call compact() explicitly
        there).  Mixed partition layouts (mid-evolution) skip the
        fragmentation triggers entirely — a scoped rewrite cannot
        address foreign-layout entries, and the maintenance loop
        must not crash on them; a full compact() restores the
        single layout and re-arms the triggers.  `compact_kwargs`
        pass through (e.g. cluster_by= to re-cluster while paying
        the rewrite — the round-5 probe measured 160->1 file pruning
        only after clustering, so stats-skipping tables should
        re-cluster on every compact)."""
        m = self._head()[1]  # ONE snapshot decides every trigger
        if m is None:
            return None
        frac = self.dv_metrics(m)["dv_masked_fraction"]
        if frac is not None and frac > max_masked_fraction:
            return self.compact(num_files=num_files, **compact_kwargs)
        if max_live_entries is None and max_small_file_share is None:
            return None  # r7 API shape: never pay the file walk
        fm = self.fragmentation_metrics(m)
        pcol = m.get("partition_col")
        if any(entry_layout(e) != pcol for e in m["entries"]):
            return None  # mid-evolution: see docstring
        if (max_small_file_share is not None
                and pcol is None
                and fm["n_files"] is not None
                and fm["n_files"] > num_files
                and fm["small_file_share"] > max_small_file_share):
            return self.compact(
                num_files=num_files, coalesce_files=True, **compact_kwargs)
        if (max_live_entries is not None
                and fm["n_live_entries"] > max_live_entries):
            if fm["multi_entry_partitions"]:
                return self.compact(
                    partition_values=fm["multi_entry_partitions"],
                    num_files=num_files, coalesce_files=True,
                    **compact_kwargs)
            if pcol is not None:
                # one entry per distinct partition set: the entry
                # count is structural (a day per commit), not debt a
                # full rewrite should be paid for — leave it to an
                # explicit windowed compact(partition_values=...)
                return None
            return self.compact(
                num_files=num_files, coalesce_files=True, **compact_kwargs)
        return None

    def restore(self, version: int) -> int:
        """Roll the table back to `version` AS A NEW COMMIT (Delta
        RESTORE): the new manifest points at the old snapshot's data
        dirs — no data is copied, and the rolled-back-over versions
        remain in history for audit.  Fails if any referenced dir was
        already vacuumed (retention must cover restore targets).

        The streaming-txn watermark map is NOT restored: replayed
        batches stayed replayed — a restore rolls back data, not the
        exactly-once ledger (otherwise a re-delivered batch after the
        restore would double-append).

        Refused across an id-slot ENABLEMENT boundary: if the head
        manifest carries a row-tracking or identity spec the target
        manifest lacks, the restored files physically lack the id
        column, so the table would claim the feature while serving
        none of it (NULL `__row_id`s break every downstream consumer
        of id stability).  Restore to a post-enablement version
        instead.  For allowed restores the slot and its HIGH
        watermark carry over from the head (ids burned by the
        rolled-back-over versions are never reissued)."""
        m = self.manifest(version)
        for e in m["entries"]:
            if not self.st.exists(f"{e.get('root') or self.root}/{e['base']}"):
                raise FileNotFoundError(
                    f"cannot restore v{version}: data dir {e['base']} was "
                    "vacuumed — keep_versions must cover restore targets"
                )

        def build(prev: dict | None) -> dict:
            for key in ("row_tracking", "identity"):
                if prev and self._slot_of(prev, key) and not self._slot_of(m, key):
                    feat = ("row tracking" if key == "row_tracking"
                            else "the identity column")
                    raise ValueError(
                        f"cannot restore v{version}: {feat} was enabled "
                        "after it, so the restored files carry no id "
                        "column — restore to a post-enablement version"
                    )
            return {
                "partition_col": m.get("partition_col"),
                "entries": m["entries"],
                "schema": m.get("schema"),
                # the restored snapshot's OWN deletion vectors come
                # back with it (explicit: the carry-over default would
                # wrongly keep the rolled-back-over version's vectors)
                "dv_files": m.get("dv_files") or [],
                # same for the column mapping: a restore across a
                # rename/drop must resurrect the old logical schema
                "column_mapping": m.get("column_mapping") or None,
                # and the widening flag: the restored entries were
                # written against the restored schema's widths, so the
                # TARGET manifest's flag is the truthful one (the
                # carry-over default would keep the rolled-back-over
                # version's)
                "type_widened": bool(m.get("type_widened")),
                "op": {"name": "restore", "to_version": version},
            }

        return self._commit(build, self._head())

    def clone_to(self, dest_root: str) -> "SnapshotTable":
        """Zero-copy SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW
        CLONE`): the destination's first manifest points at THIS
        table's current data dirs (and deletion vectors) by absolute
        reference — no bytes move, the clone materializes instantly at
        any table size.  The clone then lives its own life: appends,
        DML, DDL and compaction write LOCAL dirs (compact() fully
        un-shares it), vacuum on the clone never touches the source's
        dirs, and the clone starts a fresh history + txn ledger.

        Same caveat as Delta: vacuuming or dropping the SOURCE can
        break a shallow clone that still references its dirs — clones
        are for dev/test forks and experiments, not archival.  The
        schema, partition column, column mapping, and generation
        expressions all carry over."""
        v, m = self._head()
        if m is None:
            raise FileNotFoundError(f"no snapshot at {self.root}")
        # a clone re-publishes the source's invariants as its own
        # first manifest — refuse sources with features this engine
        # version cannot carry over faithfully
        check_writer_features(m, WRITER_FEATURES, "SnapshotTable.clone_to")
        dest = SnapshotTable(
            self.spark, dest_root,
            max_retries=self.max_retries,
            # the fork inherits the source's full write-side posture:
            # commit backend (a ConditionalPutStorage source must not
            # fall back to check-then-copy on its clone), constraints,
            # expectations, stats/bloom configuration
            storage=self.st,
            generated_cols=self.generated_cols,
            stats_cols=self.stats_cols,
            constraints=self.constraints,
            bloom_cols=self.bloom_cols,
            bloom_bits=self.bloom_bits,
            bloom_hashes=self.bloom_hashes,
            expectations=self.expectations,
        )
        entries = [
            {**e, "root": e.get("root") or self.root} for e in m["entries"]
        ]
        dvs = [
            d if isinstance(d, dict) else {"path": d, "root": self.root}
            for d in (m.get("dv_files") or [])
        ]
        src = self.root

        def build(prev: dict | None) -> dict:
            if prev is not None:
                raise ValueError(
                    f"clone destination {dest_root} already has a table"
                )
            out = {
                "partition_col": m.get("partition_col"),
                "entries": entries,
                "schema": m.get("schema"),
                "op": {"name": "clone", "source": src, "source_version": v},
            }
            if dvs:
                out["dv_files"] = dvs
            if m.get("column_mapping"):
                out["column_mapping"] = m["column_mapping"]
            if m.get("type_widened"):
                out["type_widened"] = True
            if m.get("generated"):
                out["generated"] = m["generated"]
            if m.get("identity"):
                # the fork continues the source's numbering from the
                # cloned watermark (two forks may then hand out the
                # same ids to DIFFERENT tables — forks are forks)
                out["identity"] = m["identity"]
            if m.get("row_tracking"):
                out["row_tracking"] = m["row_tracking"]
            return out

        dest._commit(build, dest._head())
        return dest

    # -- maintenance -------------------------------------------------------

    def vacuum(
        self,
        keep_versions: int = 1,
        keep_hours: float | None = None,
        dry_run: bool = False,
        now: float | None = None,
        min_age_hours: float = 0.0,
    ) -> list[str]:
        """Delete data dirs unreferenced by the retained manifests
        (crash leftovers, replaced snapshots) and prune the older
        manifests.  Returns removed relative paths.

        Retention is the UNION of two windows (so either alone is a
        floor, never a ceiling):
          * `keep_versions` — the N newest manifests, always >= 1;
          * `keep_hours` — every manifest whose `committed_at` is
            within the trailing window (Delta's `RETAIN n HOURS`,
            the operational norm: "keep a week of time travel"
            regardless of how many commits landed).  Manifests
            predating the committed_at field count as out-of-window
            (they are still protected by keep_versions).

        `min_age_hours` protects IN-FLIGHT writers (the Delta
        "deleted files must be older than the retention period"
        rule): an unreferenced dir is only removed once its
        last-modification instant is at least this old, so a writer
        that has staged its data dir but not yet committed the
        manifest cannot have it vacuumed from under the commit.  A dir
        whose age the storage backend cannot report (mtime -> None)
        is conservatively KEPT whenever a floor is set.  The default 0
        keeps the historical eager behavior for out-of-band runs;
        concurrent-writer deployments should set it above their
        longest write duration.

        Like Delta VACUUM, run it OUT-of-band of writers (or set
        `min_age_hours`); retention must cover any reader still pinned
        to an old version and any restore target — `dry_run=True`
        reports what WOULD be removed (Delta VACUUM DRY RUN) without
        touching anything, including the manifests.  `now` injects the
        clock for tests."""
        log = self._log
        vs = log.versions()
        if not vs:
            return []
        # a vacuum decides which files are DEAD — on a table using a
        # future feature this version cannot interpret, that judgment
        # could delete live data.  Refuse, like everything write-side.
        check_writer_features(
            log.read(vs[-1]), WRITER_FEATURES, "SnapshotTable.vacuum"
        )
        keep = log.retained(vs, keep_versions, keep_hours, now)
        # Liveness at (snap dir, partition subdir) granularity: a snap
        # dir referenced only through SOME of its col=value parts (the
        # replace_partitions shape) keeps those parts and sheds the
        # rest — otherwise a continuously refreshed partitioned table
        # would leak every replaced partition's data until a full
        # compact happened to retire the whole dir.
        live_whole: set[str] = set()       # entries with parts=None
        live_parts: dict[str, set] = {}    # snap name -> live part names
        pcols: set[str] = set()
        for v in sorted(keep):
            m = log.read(v)
            if m.get("partition_col"):
                pcols.add(m["partition_col"])
            for e in m["entries"]:
                if e.get("root"):
                    continue  # clone reference into another table's dirs
                name = e["base"].split("/", 1)[1]  # snap dir name
                if e["parts"] is None:
                    live_whole.add(name)
                else:
                    live_parts.setdefault(name, set()).update(e["parts"])
            # referenced deletion-vector dirs are as live as the data
            # they mask; superseded ones (post-compact) fall through to
            # deletion like any other unreferenced dir
            for d in m.get("dv_files") or []:
                if isinstance(d, dict):
                    continue  # foreign (cloned) vector dir
                live_whole.add(d.split("/", 1)[1])
        def old_enough(rel: str) -> bool:
            if min_age_hours <= 0:
                return True
            age_cutoff = (time.time() if now is None else now) - min_age_hours * 3600.0
            mt = self.st.mtime(f"{self.root}/{rel}")
            return mt is not None and mt <= age_cutoff

        removed = []
        for name in self.st.list(f"{self.root}/{DATA_DIR}"):
            if name in live_whole:
                continue
            if name in live_parts:
                for child in self.st.list(f"{self.root}/{DATA_DIR}/{name}"):
                    dead = (
                        child not in live_parts[name]
                        and any(child.startswith(f"{pc}=") for pc in pcols)
                        and old_enough(f"{DATA_DIR}/{name}/{child}")
                    )
                    if dead:  # superseded col=value subdir in a live dir
                        if not dry_run:
                            self.st.delete(f"{self.root}/{DATA_DIR}/{name}/{child}")
                        removed.append(f"{DATA_DIR}/{name}/{child}")
                continue
            if not old_enough(f"{DATA_DIR}/{name}"):
                continue  # possibly an in-flight writer's staged dir
            if not dry_run:
                self.st.delete(f"{self.root}/{DATA_DIR}/{name}")
            removed.append(f"{DATA_DIR}/{name}")
        if not dry_run:
            log.drop(v for v in vs if v not in keep)
            log.sweep(now)
        return sorted(removed)


def refresh_rollup_snapshot(
    spark: SparkSession,
    root: str,
    events_batch: DataFrame,
    txn: tuple[str, int] | None = None,
) -> list[str]:
    """Incremental rollup refresh (ops/rollup.py): fold one event
    batch's `day_rollup` partials into the per-(shop, day) table in
    O(delta) — only the touched days are read and merged, and the
    partition replacement is one atomic manifest commit, safe on
    object stores.

    `txn=(app_id, batch_id)` makes the refresh EXACTLY-ONCE under
    replay: merging the same delta twice would double-count the
    partials, so a batch the manifest already records is a no-op
    (returns []).  This is what lets a streaming source maintain the
    rollup continuously (see streaming/daily.run_snapshot_rollup_sink).

    The read-merge-write is an attempt under `SnapshotTable._pinned`:
    a rival commit landing mid-merge re-runs it against the advanced
    snapshot, and the lost attempt's staged partials are deleted by
    the commit loop."""
    from pixelspark.ops.rollup import day_rollup, merge_rollups

    t = SnapshotTable(spark, root)
    head = t._head()
    if txn is not None and t._replayed(head[1], txn):
        return []  # replayed batch: already folded in
    delta = day_rollup(events_batch)
    days = [r["day"] for r in delta.select("day").distinct().collect()]

    def attempt(read_v: int | None, m: dict | None) -> list[str]:
        # a new table takes the batch as is; so does an empty batch,
        # which still records its txn watermark so a replay with data
        # can't double-count
        merged = delta
        if m is not None and days:
            existing = t._read(m).where(
                F.col("day").isin(days)
            ).drop("avg_value")
            merged = merge_rollups(existing, delta)
        # the merge is a read-modify-write on the partial aggregates:
        # pin the commit to the version the partials were read from,
        # else a rival refresh's counts are lost
        if t._replace_partitions(
            (read_v, m), merged, "day", txn=txn, expected_version=read_v
        ) is None:
            return []
        return sorted(_part_name("day", d) for d in days)

    return t._pinned("rollup refresh", attempt, head)


def read_rollup_snapshot(spark: SparkSession, root: str) -> DataFrame:
    """The rollup with its derived (non-additive) column: avg from the
    exact counters."""
    df = SnapshotTable(spark, root).read()
    return df.withColumn(
        "avg_value",
        F.round((F.col("sum_value") / F.col("n_events")).cast("double"), 6),
    )
