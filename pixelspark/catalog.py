"""Name-based table catalog over the snapshot table format — the
layer between "a table is a path plus constructor options" and "a
table is a NAME" (the role Hive Metastore / Unity / an Iceberg REST
catalog plays for those formats; the reference addresses BigQuery
tables by dataset.name the same way).

Design: the catalog is itself a tiny versioned log of immutable JSON
documents (`_catalog/<version>.json`), a `VersionLog` like the table
manifests, published by the same create-if-absent, so
every catalog edit is an optimistic-concurrency CAS commit: rival
edits serialize on the version file, the loser re-reads the winner's
state and retries its edit against it (and a `create_table` whose
name got taken in the meantime fails honestly).  Each version holds
the ENTIRE name→entry map — catalogs are small (names and options,
not data), so one read resolves any name with no log replay, and the
full map doubles as a point-in-time snapshot of the namespace.

What an entry persists, beyond the location: the table's WRITE-SIDE
OPTIONS (stats_cols, bloom_cols, constraints, expectations, ...).
Generated/identity columns already live in the table's own manifest,
but the rest are constructor-only — without a catalog every writer
must remember to re-pass them, and one forgetful writer silently
skips CHECK enforcement or stops recording skip stats.  `table(name)`
reconstructs the handle with the persisted options, so policy follows
the name, not the call site.  Options must be JSON-serializable:
constraints/expectations go in as SQL strings (which SnapshotTable
accepts), never as Column objects.

At 100 TB the catalog is also what makes table RENAME O(1): data
stays at its immutable location, only the name→root binding moves —
the operation object stores cannot do cheaply (a prefix copy of the
table) becomes one metadata commit.
"""

from __future__ import annotations

import json
import posixpath
import re
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from pixelspark.storage import Storage, VersionLog, storage_for
from pixelspark.table import SnapshotTable


def catalog_log(st: Storage, root: str) -> VersionLog:
    """A catalog's version log: `<root>/_catalog/%010d.json`."""
    return VersionLog(st, f"{root}/_catalog", "", 10, ".json")


class TableNotFound(KeyError):
    pass


class TableAlreadyExists(ValueError):
    pass


class CatalogCommitError(RuntimeError):
    pass


class CatalogVersionVacuumed(FileNotFoundError):
    """A requested catalog version predates vacuum() retention."""


class ConcurrentTransaction(CatalogCommitError):
    """A commit_multi publication lost a race on a participant's pin
    (a rival published an overlapping table set mid-flight).
    Retryable: re-run the transaction; replay-safe writes heal."""


# Lowercase identifiers only: valid Spark view names (no hyphens,
# dots, spaces), no `..`/`.` path traversal out of <root>/tables/,
# and no two bindings that Spark's case-insensitive view namespace
# would silently collapse into one.
_NAME_RE = re.compile(r"^[a-z][a-z0-9_]*$")


def _check_name(name: str) -> None:
    if not isinstance(name, str) or not _NAME_RE.fullmatch(name):
        raise ValueError(
            f"invalid table name {name!r}: must match [a-z][a-z0-9_]* "
            "(a lowercase identifier — what Spark's case-insensitive "
            "view namespace and the default location layout both need)"
        )


def _norm_loc(loc: str) -> str:
    """Normalize a location so the purge alias check compares
    LOCATIONS, not spellings: `file:///x//y/` and `/x/y` are the same
    directory.  Scheme'd non-file paths keep their scheme; their path
    part is normalized the same way."""
    loc = loc.rstrip("/")
    if loc.startswith("file://"):
        loc = loc[len("file://"):]
    m = re.match(r"^([a-z][a-z0-9+.-]*://)(.*)$", loc)
    if m:
        scheme, rest = m.groups()
        return scheme + posixpath.normpath(rest)
    return posixpath.normpath(loc)


def _overlaps(a: str, b: str) -> bool:
    """Do two NORMALIZED locations name the same tree or nest one
    inside the other?  The relation a recursive delete cares about."""
    return a == b or a.startswith(b + "/") or b.startswith(a + "/")


class Catalog:
    def __init__(self, spark: SparkSession | None, root: str,
                 max_retries: int = 5):
        """`spark` may be None for a local root: such a handle serves
        the reads that touch only the catalog log (`describe`,
        `list_tables`), as the data source's driver side does."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.st: Storage = storage_for(self.root, spark)
        self.max_retries = max_retries

    # -- the versioned log (same shape as SnapshotTable's manifests) -----
    # `_catalog/%010d.json` through the shared `VersionLog`: the same
    # listing, create-if-absent and retention rule as the table log.

    @property
    def _log(self) -> VersionLog:
        return catalog_log(self.st, self.root)

    def versions(self) -> list[int]:
        return self._log.versions()

    def latest_version(self) -> int | None:
        return self._log.latest()

    def _state(self, version: int | None = None) -> dict:
        """{"version": n, "tables": {name: entry}} — the empty catalog
        when no version exists yet.  Asking for a version `vacuum()`
        has pruned raises CatalogVersionVacuumed (not a bare missing-
        file error), so time-travel callers can tell retention from
        corruption."""
        v = self.latest_version() if version is None else version
        if v is None:
            return {"version": None, "tables": {}}
        try:
            return self._log.read(v)
        except (OSError, FileNotFoundError):
            vs = self.versions()
            if version is not None and vs and version < vs[0]:
                raise CatalogVersionVacuumed(
                    f"catalog version {version} at {self.root} predates "
                    f"retention (oldest kept: {vs[0]}) — it was pruned by "
                    "vacuum(); read a retained version or the latest state"
                ) from None
            raise

    def _commit(self, edit: Callable[[dict], dict]) -> int | None:
        """CAS loop: read latest state, let `edit` transform the
        name→entry map (raising is the abort path), publish as the
        next version.  A lost race re-reads and RE-RUNS the edit from
        scratch against the winner's state — edits must be
        re-entrant and re-validate (name taken, name gone) every
        attempt, so decisions always ride the state that actually
        commits."""
        for _ in range(self.max_retries):
            state = self._state()
            tables = edit(dict(state["tables"]))
            if tables == state["tables"]:
                # no-op edit (e.g. a replayed publish of already-current
                # pins): don't grow the log with an identical version
                return state["version"]
            next_v = 0 if state["version"] is None else state["version"] + 1
            if self._log.create(next_v, json.dumps(
                {"version": next_v, "tables": tables,
                 "committed_at": time.time()}, sort_keys=True,
            )):
                return next_v
        raise CatalogCommitError(
            f"catalog edit lost the commit race {self.max_retries} times "
            f"at {self.root}"
        )

    # -- the user surface -------------------------------------------------

    def create_table(
        self, name: str, location: str | None = None, **options
    ) -> SnapshotTable:
        """Bind `name` to a table location (default
        `<catalog root>/tables/<name>`) with its write-side options
        persisted; refuses an existing name.  The binding is the only
        thing created — the table itself materializes at first write,
        like any SnapshotTable."""
        _check_name(name)
        try:
            opts_json = json.loads(json.dumps(options))
        except TypeError:
            raise TypeError(
                "catalog table options must be JSON-serializable — pass "
                "constraints/expectations as SQL strings, not Column objects"
            ) from None
        loc = _norm_loc(location or f"{self.root}/tables/{name}")

        def edit(tables: dict) -> dict:
            if name in tables:
                raise TableAlreadyExists(
                    f"table {name!r} already exists at {tables[name]['root']}"
                )
            tables[name] = {"root": loc, "options": opts_json}
            return tables

        self._commit(edit)
        return self.table(name)

    def describe(self, name: str) -> dict:
        entry = self._state()["tables"].get(name)
        if entry is None:
            raise TableNotFound(name)
        return json.loads(json.dumps(entry))  # defensive copy

    def _open(self, entry: dict) -> SnapshotTable:
        return SnapshotTable(self.spark, entry["root"], **entry["options"])

    def table(self, name: str) -> SnapshotTable:
        """Open `name` with its PERSISTED options — the point of the
        catalog: CHECK constraints, expectations, stats/bloom policy
        follow the name to every caller."""
        return self._open(self.describe(name))

    def list_tables(self) -> list[str]:
        return sorted(self._state()["tables"])

    def rename_table(self, old: str, new: str) -> None:
        """O(1) at any table size: the data never moves, one catalog
        commit rebinds the name (the rename object stores cannot do
        cheaply on raw paths).  A temp view registered under the old
        name is dropped so SQL stops resolving the dead name."""
        _check_name(new)

        def edit(tables: dict) -> dict:
            if old not in tables:
                raise TableNotFound(old)
            if new in tables:
                raise TableAlreadyExists(
                    f"table {new!r} already exists at {tables[new]['root']}"
                )
            tables[new] = tables.pop(old)
            return tables

        self._commit(edit)
        self.spark.catalog.dropTempView(old)

    def alter_table(self, name: str, **options) -> None:
        """Replace the persisted write-side options (the catalog's
        ALTER TABLE).  Takes effect for handles opened AFTER the
        commit — live handles keep the options they were built with."""
        opts_json = json.loads(json.dumps(options))

        def edit(tables: dict) -> dict:
            if name not in tables:
                raise TableNotFound(name)
            tables[name] = {**tables[name], "options": opts_json}
            return tables

        self._commit(edit)

    def drop_table(self, name: str, purge: bool = False) -> None:
        """Unbind the name; `purge=True` also deletes the table's data
        tree (irreversible — the default drop leaves data in place so
        a mistaken drop is repaired by re-creating the binding at the
        same location).  Purge refuses while any OTHER name still
        binds a location that OVERLAPS the doomed tree (equal, nested
        under it, or containing it — explicit-location bindings can
        alias and nest), and refuses outright when the doomed tree
        overlaps the catalog root (a recursive delete there would
        destroy the `_catalog` log or sibling default-location
        tables).  The check and the root-to-delete both come from
        the edit attempt that actually commits, never a lost earlier
        attempt; the delete runs through the DOOMED PATH's own
        storage backend, so a different-scheme location really is
        removed rather than silently skipped.  A temp view
        registered under the name is dropped so SQL stops resolving
        it."""
        root_holder: list[str] = []

        def edit(tables: dict) -> dict:
            del root_holder[:]  # only the COMMITTED attempt's root counts
            if name not in tables:
                raise TableNotFound(name)
            doomed = _norm_loc(tables[name]["root"])
            if purge:
                croot = _norm_loc(self.root)
                # default-location tables nest under the root by
                # design; the protected trees are the root itself
                # (and anything containing it) and the _catalog log
                if (doomed == croot or croot.startswith(doomed + "/")
                        or _overlaps(doomed, f"{croot}/_catalog")):
                    raise ValueError(
                        f"cannot purge {name!r}: its location {doomed} "
                        f"covers the catalog root or its _catalog log — "
                        "purging would destroy the catalog itself"
                    )
                aliases = [n for n, e in tables.items()
                           if n != name and _overlaps(_norm_loc(e["root"]),
                                                      doomed)]
                if aliases:
                    raise ValueError(
                        f"cannot purge {name!r}: {aliases} still bind the "
                        f"same location {doomed} or a tree overlapping it "
                        "(drop without purge, or drop the aliases first)"
                    )
            root_holder.append(tables.pop(name)["root"])
            return tables

        self._commit(edit)
        self.spark.catalog.dropTempView(name)
        if purge:
            storage_for(root_holder[0], self.spark).delete(root_holder[0])

    # -- snapshot pins + multi-table transactions -------------------------

    def pin_table(self, name: str, version: int | None = None) -> int:
        """Make `name` a SNAPSHOT-PINNED binding: catalog-mediated
        reads (`read()`, `sql()`, `register_views()`) serve the
        pinned table version, not whatever the table's own log says
        is latest — the catalog becomes the publication point, the
        way an Iceberg REST catalog resolves snapshots.  Defaults to
        the table's current latest.  Direct-path readers holding the
        root are unaffected (documented trade).  Returns the pinned
        version."""
        t = self.table(name)
        v = t.latest_version() if version is None else version
        if v is None or v not in t.versions():
            raise ValueError(f"cannot pin {name!r} to version {version!r}")

        def edit(tables: dict) -> dict:
            if name not in tables:
                raise TableNotFound(name)
            tables[name] = {**tables[name], "pin": v}
            return tables

        self._commit(edit)
        return v

    def unpin_table(self, name: str) -> None:
        def edit(tables: dict) -> dict:
            if name not in tables:
                raise TableNotFound(name)
            tables[name] = {k: x for k, x in tables[name].items()
                            if k != "pin"}
            return tables

        self._commit(edit)

    def publish(
        self, *names: str, at: dict[str, int] | None = None
    ) -> dict[str, int]:
        """Advance — or ESTABLISH — the snapshot pins of `names` in
        ONE CAS catalog commit: the publication primitive
        `commit_multi` composes with its write phase, exposed
        standalone for callers that commit through their own
        machinery (streaming sinks) and only need the atomic
        multi-name visibility switch at the end.

        `at` pins a name to an EXPLICIT version (the version a fold
        actually covered, say) instead of whatever is latest when
        publish runs — without it, a rival commit landing between
        the caller's last write and this publish would be swept into
        the published snapshot ahead of its own derived state.

        Publication is MONOTONE: a pin never moves backward — each
        name lands at max(current pin, requested), so a CAS retry or
        a slower rival publisher can never regress readers behind a
        publication that already happened (`pin_table` is the
        explicit override for deliberate rollback).  Accepts
        unpinned bindings (the first publish creates the pin;
        before it, reads follow the table log, so bootstrap
        consistency holds only from the first publication onward).
        Returns {name: requested version} (the committed pin may be
        higher if a rival published past it)."""
        at = at or {}
        state = self._state()["tables"]  # ONE read resolves all names
        vers: dict[str, int] = {}
        for name in names:
            if name not in state:
                raise TableNotFound(name)
            t = self._open(state[name])
            v = at.get(name)
            if v is None:
                v = t.latest_version()
            elif v not in t.versions():
                raise ValueError(
                    f"cannot publish {name!r} at version {v!r}: no such "
                    "table version"
                )
            if v is None:
                raise ValueError(
                    f"cannot publish {name!r}: the table has no commits"
                )
            vers[name] = v

        def edit(tables: dict) -> dict:
            for name, v in vers.items():
                if name not in tables:
                    raise TableNotFound(name)
                cur = tables[name].get("pin")
                tables[name] = {
                    **tables[name],
                    "pin": v if cur is None else max(cur, v),
                }
            return tables

        self._commit(edit)
        return vers

    def read(
        self, name: str, catalog_version: int | None = None
    ) -> DataFrame:
        """The catalog-mediated read: pinned bindings serve their
        published snapshot, unpinned ones the table's latest.
        `catalog_version` time-travels the NAMESPACE — the binding
        and pin as of that catalog commit — so a pinned name reads
        exactly what was published then (the whole-map-per-version
        log makes this one file read); an unpinned-at-the-time
        binding still follows the table's CURRENT log, since the
        catalog never recorded a version for it."""
        state = self._state(catalog_version)["tables"]
        if name not in state:
            raise TableNotFound(name)
        entry = state[name]
        return self._open(entry).read(version=entry.get("pin"))

    def commit_multi(
        self, writes: dict[str, Callable[[SnapshotTable], int | None]]
    ) -> dict[str, int]:
        """Multi-table transaction (the capability single-table
        manifest logs famously lack): run each table's write, then
        advance ALL the participants' pins in ONE CAS catalog commit
        — catalog-mediated readers see the old consistent set of
        snapshots or the new one, never a mixture.  The classic use
        is moving rows between tables without a window where both or
        neither hold them.

        Participants must already be snapshot-pinned (`pin_table`) —
        on an unpinned binding readers follow the table's own log, so
        the mid-transaction state would leak before publication and
        the atomicity claim would be a lie; this refuses instead.

        Each write callable receives the table handle and commits
        durably on the spot; the PUBLICATION is what's atomic.  A
        crash after some table commits but before the catalog commit
        leaves readers on the old pins — re-running the transaction
        heals IF the writes are replay-safe, so use the engine's
        exactly-once forms inside (`append_once`, `merge(txn=...)`)
        exactly as a foreachBatch sink would.

        Isolation, precisely: the publication CASes ON THE PINS —
        the edit records every participant's pin as the write phase
        read it, and refuses (ConcurrentTransaction, retryable) if
        ANY moved — so two racing transactions over OVERLAPPING
        table sets can never BOTH publish: one wins, the loser
        re-runs its (replay-safe) writes against the winner's
        published state and publishes second.  Races over DISJOINT
        table sets both land (the catalog-version CAS retries the
        edit, whose pin checks don't intersect).  Additionally the
        edit refuses if a FOREIGN table-log commit landed between a
        participant's pre-transaction head and this transaction's
        own commit — a pin advance covering it would publish data
        this transaction never saw; on retry that commit is at or
        below the new pre-head and gets picked up explicitly, like
        any out-of-band commit.  (Corollary: a write callable must
        commit AT MOST ONCE — its own intermediate commits are
        indistinguishable from a rival's and would self-refuse;
        compose multi-step writes into one commit.)  What the CAS
        cannot give: commits that landed BEFORE this transaction
        began — a crashed rival's half-landed writes included — are
        out-of-band by definition and publish with the next pin
        advance of that table, exactly like any direct append; the
        table log records no writer identity, so no pin-granular
        scheme can tell them apart.  Returns {name: published
        version}."""
        state = self._state()["tables"]

        def check_pinned(tables: dict) -> None:
            for name in writes:
                if name not in tables:
                    raise TableNotFound(name)
                if "pin" not in tables[name]:
                    raise ValueError(
                        f"commit_multi participant {name!r} is not snapshot-"
                        "pinned; pin_table() it first so publication is the "
                        "only way readers advance"
                    )

        check_pinned(state)
        # the CAS tokens: pins as this transaction's write phase saw
        # them — a participant whose pin differs at publication time
        # was published by a rival mid-flight
        read_pins = {name: state[name].get("pin") for name in writes}
        handles = {name: self._open(state[name]) for name in writes}
        # pre-transaction heads, captured for ALL participants before
        # ANY callable runs: anything landing above these during the
        # write phase that is not ours is a concurrent writer
        pre_heads = {
            name: (t.latest_version() or 0) for name, t in handles.items()
        }
        new_versions: dict[str, int] = {}
        for name, fn in writes.items():
            t = handles[name]
            v = fn(t)
            if v is None:  # replay-safe forms return None on a no-op
                # a no-op wrote nothing, so the head this transaction
                # publishes must be the head it STARTED from — any
                # advance during the write phase is a rival's commit,
                # and taking latest_version() here would launder it
                # past the strictly-between foreign check below
                # (w == v would be "ours" when nothing here is ours)
                v = t.latest_version()
                if v != pre_heads[name] and not (
                    v is None and not pre_heads[name]
                ):
                    raise ConcurrentTransaction(
                        f"commit_multi participant {name!r}: the write "
                        f"callable replayed as a no-op but the table head "
                        f"advanced {pre_heads[name]} -> {v} during the "
                        f"write phase at {self.root} — a concurrent writer "
                        "committed; re-run the transaction so the retry "
                        "publishes state it has actually seen"
                    )
            elif v not in t.versions():
                raise ValueError(
                    f"write callable for {name!r} returned {v!r}, which is "
                    "not a version of the table — callables must return the "
                    "committed version (or None for a replayed no-op), not "
                    "a row count or other value"
                )
            new_versions[name] = v

        def edit(tables: dict) -> dict:
            # re-verify at publication time: a rival unpin during the
            # write phase must fail the transaction, not be silently
            # re-pinned over
            check_pinned(tables)
            # CAS on the pins: this edit re-runs against the winner's
            # state after every lost catalog-version race, so a moved
            # pin here is exactly "a rival published a participant
            # since our write phase read it" — refuse with a
            # retryable error rather than publish a state whose
            # inputs we did not compute against
            moved = {
                name: (read_pins[name], tables[name].get("pin"))
                for name in writes
                if tables[name].get("pin") != read_pins[name]
            }
            if moved:
                raise ConcurrentTransaction(
                    "commit_multi lost a publication race on participant "
                    f"pin(s) {moved} (read -> current) at {self.root}; "
                    "re-run the transaction — replay-safe writes make the "
                    "retry heal cleanly"
                )
            # foreign-commit check: a version strictly between the
            # pre-transaction head and OUR commit was written by a
            # concurrent writer DURING this transaction — our pin
            # advance would publish it sight-unseen.  Refuse; on
            # retry it sits at or below the new pre-head and is
            # picked up explicitly as an out-of-band commit.
            for name, v in new_versions.items():
                foreign = [
                    w for w in handles[name].versions()
                    if pre_heads[name] < w < v
                ]
                if foreign:
                    raise ConcurrentTransaction(
                        f"commit_multi participant {name!r} gained "
                        f"concurrent table-log commit(s) {foreign} during "
                        f"this transaction's write phase at {self.root}; "
                        "re-run the transaction — the retry publishes them "
                        "as out-of-band commits it has actually seen"
                    )
            for name, v in new_versions.items():
                cur = tables[name].get("pin")
                tables[name] = {
                    **tables[name],
                    "pin": v if cur is None else max(cur, v),
                }
            return tables

        self._commit(edit)
        return new_versions

    def poll_published_changes(
        self,
        name: str,
        cursor_path: str,
        keys: tuple[str, ...] | None = None,
    ):
        """The PUBLICATION change feed: `SnapshotTable.poll_changes`
        gated on the binding's snapshot pin — consumers receive only
        changes publication has made visible, in whole published
        units (the cursor moves pin-to-pin, never into the middle of
        a multi-table transaction's table commits).  Same
        at-least-once (changes, ack) contract: ack persists the
        cursor AT THE POLLED PIN only after the caller durably
        processed the window; a crash before ack re-delivers.
        Returns (None, no-op ack) while the binding is unpinned
        (nothing is published yet) or the pin hasn't advanced past
        the cursor.

        The cursor is `poll_changes`' own (one protocol,
        `SnapshotTable._poll`): ack creates `<cursor_path>.v<pin>`
        put-if-absent and only then deletes the older entries, so a
        crash at any point leaves the old cursor or the new one and
        never resets to version 0; a single-file `<cursor_path>` from
        older acks is still honoured; a cursor below the table's
        vacuum retention raises FileNotFoundError."""
        entry = self.describe(name)
        if entry.get("pin") is None:
            return None, (lambda: None)
        return self._open(entry)._poll(cursor_path, entry["pin"], keys)

    def detail(self) -> dict:
        """DESCRIBE CATALOG: one catalog-state read plus one manifest
        listing per binding — no data jobs.  Per binding: location,
        pin, the table's latest version, and `published_lag` (latest
        minus pin: how many table commits readers have not seen; 0 =
        current, None = unpinned or no commits — unknown beats
        wrong, same stance as table.detail())."""
        state = self._state()
        out = {"version": state["version"], "tables": {}}
        for name, entry in sorted(state["tables"].items()):
            t = self._open(entry)
            latest = t.latest_version() if t.exists() else None
            pin = entry.get("pin")
            out["tables"][name] = {
                "root": entry["root"],
                "options": dict(entry["options"]),
                "pin": pin,
                "latest_version": latest,
                "published_lag": (
                    latest - pin
                    if pin is not None and latest is not None else None
                ),
            }
        return out

    def vacuum(
        self,
        keep_versions: int = 1,
        keep_hours: float | None = None,
        dry_run: bool = False,
        now: float | None = None,
    ) -> list[int]:
        """Prune old `_catalog/<v>.json` version files — the catalog
        counterpart of `SnapshotTable.vacuum` (Delta's checkpoint +
        log-retention discipline).  Without it a publication-gated
        streaming deployment, which commits a catalog edit per
        micro-batch, accrues an unbounded version log: each file is
        O(names), so a slow leak, but a leak.

        Retention is the UNION of two windows (either alone is a
        floor, never a ceiling), mirroring the table rule:
          * `keep_versions` — the N newest versions, always >= 1
            (every version file is a FULL name→entry map, so the
            newest one alone reconstructs current state — there is
            no log replay to preserve);
          * `keep_hours` — every version whose `committed_at` is in
            the trailing window; versions predating the field count
            as out-of-window (still protected by keep_versions).

        Returns the pruned version numbers (`dry_run=True` reports
        without deleting).  Time-travel reads of a pruned version
        raise `CatalogVersionVacuumed`.  `poll_published_changes` is
        UNAFFECTED at any catalog retention: its cursor stores TABLE
        versions (pins), and polls resolve against the LATEST catalog
        state only — the cursor's lifetime is bounded by the TABLE's
        CDF retention (`SnapshotTable.vacuum` on the bound table),
        not by this log.  `now` injects the clock for tests."""
        log = self._log
        vs = log.versions()
        keep = log.retained(vs, keep_versions, keep_hours, now)
        removed = [v for v in vs if v not in keep]
        if not dry_run:
            log.drop(removed)
            log.sweep(now)
        return removed

    def maintain(
        self,
        keep_versions: int = 10,
        keep_hours: float | None = None,
        table_keep_versions: int = 10,
        table_keep_hours: float | None = None,
        max_masked_fraction: float = 0.05,
        max_live_entries: int | None = 8,
        max_small_file_share: float | None = 0.5,
        min_age_hours: float = 1.0,
    ) -> dict:
        """One maintenance pass over the whole namespace — the loop a
        100-TB deployment runs on a schedule, composed from the
        engine's primitives so none of the retention caveats are left
        to the operator: per binding, `maybe_compact` (materialize
        deletion-vector debt past the measured ~5% threshold, fold
        union-width debt past `max_live_entries` — the round-6
        index_compaction probe's +37-70% probe-cost knee — and
        small-file debt past `max_small_file_share`; partitioned
        tables fold only their multi-entry values, never a full
        rewrite for being old) then `SnapshotTable.vacuum`; finally
        the catalog log's own `vacuum`.  A binding whose table was
        created with `stats_cols` re-clusters on every triggered
        compact (`cluster_by=` the first two stats columns — the
        round-5 probe measured 160->1 file pruning only AFTER
        clustering, so skipping the re-layout would quietly turn
        stats back into bookkeeping).

        PIN-AWARE table retention: a pinned binding's published
        version must survive its table's vacuum (catalog readers
        serve the pin), so the per-table keep_versions floor is
        raised to cover the pin — publication lag never becomes data
        loss, however far behind the pin is.  `min_age_hours`
        defaults to 1 so in-flight writers are protected without the
        caller remembering to ask.  Restore targets older than the
        retention remain the operator's responsibility (documented
        on `SnapshotTable.vacuum`).

        Returns {"tables": {name: {"compacted_to": v|None,
        "removed_dirs": n}}, "catalog_removed": [versions]}."""
        report: dict = {"tables": {}, "catalog_removed": []}
        state = self._state()["tables"]
        for name in sorted(state):
            t = self._open(state[name])
            if not t.exists():
                continue
            try:
                ckw: dict = {}
                if t.stats_cols:
                    ckw["cluster_by"] = tuple(t.stats_cols[:2])
                compacted = t.maybe_compact(
                    max_masked_fraction,
                    max_live_entries=max_live_entries,
                    max_small_file_share=max_small_file_share,
                    **ckw,
                )
                keep = table_keep_versions
                pin = state[name].get("pin")
                latest = t.latest_version()
                if pin is not None and latest is not None:
                    keep = max(keep, latest - pin + 1)
                removed = t.vacuum(
                    keep_versions=keep,
                    keep_hours=table_keep_hours,
                    min_age_hours=min_age_hours,
                )
                report["tables"][name] = {
                    "compacted_to": compacted,
                    "removed_dirs": len(removed),
                }
            except Exception as e:  # noqa: BLE001 — reported, not hidden
                # one table's failure (a racing writer, a layout this
                # pass can't address) must not starve the REST of the
                # namespace of maintenance; the error is surfaced in
                # the report for the operator, never swallowed
                report["tables"][name] = {
                    "compacted_to": None,
                    "removed_dirs": 0,
                    "error": f"{type(e).__name__}: {e}",
                }
        report["catalog_removed"] = self.vacuum(
            keep_versions=keep_versions, keep_hours=keep_hours
        )
        return report

    def register_views(self, version: int | None = None) -> list[str]:
        """Register every cataloged table that has data as a Spark
        temp view under its catalog name — at the binding's PIN for
        snapshot-pinned bindings, at the table's latest otherwise —
        so `spark.sql` resolves the namespace with the same
        visibility rules as `read()`.  Returns the registered names;
        bindings whose table has no commits yet are skipped.  Temp
        views are session-global: two catalogs at different roots
        sharing one SparkSession clobber each other's same-named
        views — last registration wins."""
        registered = []
        for name, entry in sorted(self._state(version)["tables"].items()):
            t = self._open(entry)
            if t.exists():
                t.register_view(name, version=entry.get("pin"))
                registered.append(name)
        return registered

    def sql(
        self,
        query: str,
        tables: list[str] | None = None,
        as_of: dict | None = None,
    ) -> DataFrame:
        """Run SQL with cataloged tables registered by name — the
        `SELECT ... FROM <name>` front door, with `read()`'s
        visibility rules: pinned bindings serve their published
        snapshot, unpinned ones the table's current latest.  Each
        call re-registers so unpinned names track their table logs
        and pinned names track publications; on a large catalog that
        costs one manifest read per binding, so pass `tables=[...]`
        to register only what the query touches.  With `tables=`,
        the CALLER owns completeness: a name the query references
        but the list omits resolves from whatever temp view an
        earlier call registered (possibly a superseded pin) or fails
        — list every name the query touches.  A listed binding whose
        table has no commits yet gets its temp view dropped so the
        query fails with table-not-found instead of silently reading
        a stale registration.

        `as_of` is the textual time-travel surface (`VERSION AS OF` /
        `TIMESTAMP AS OF` routing): a map of VIEW NAME -> snapshot
        spec, registered on top of the defaults above.
          * `{"orders": 12}` — serve `orders` at table version 12
            (overriding its pin: time travel addresses the table
            log, exactly like `read(version=)`);
          * `{"orders": "2024-01-02T00:00:00+00:00"}` or an epoch-
            seconds float — `TIMESTAMP AS OF` via `version_at`.
            Disambiguation is by TYPE: int = version, float/str =
            timestamp; an int in epoch-seconds territory (>= 1e8) is
            refused rather than read as a version, so a stray
            `int(time.time())` errors instead of resolving a wildly
            wrong snapshot;
          * `{"orders_old": ("orders", 1)}` — register an EXTRA view
            of `orders` at version 1 under the alias `orders_old`,
            which is how one query joins a table at two versions:
            `cat.sql("SELECT ... FROM orders o JOIN orders_old p "
            "ON o.k = p.k", as_of={"orders_old": ("orders", 1)})`."""
        if tables is None:
            self.register_views()
        else:
            state = self._state()["tables"]
            for name in tables:
                if name not in state:
                    raise TableNotFound(name)
                t = self._open(state[name])
                if t.exists():
                    t.register_view(name, version=state[name].get("pin"))
                else:
                    self.spark.catalog.dropTempView(name)
        for vname, spec in (as_of or {}).items():
            if isinstance(spec, tuple):
                src, at = spec
            else:
                src, at = vname, spec
            t = self.table(src)
            if isinstance(at, str):
                import datetime as _dt

                dt = _dt.datetime.fromisoformat(at)
                if dt.tzinfo is None:
                    # commit instants are UTC epoch (time.time()):
                    # a NAIVE string must mean UTC too, or the same
                    # SQL resolves different versions on differently-
                    # zoned drivers
                    dt = dt.replace(tzinfo=_dt.timezone.utc)
                at = dt.timestamp()
            if isinstance(at, bool):
                raise TypeError(
                    f"as_of[{vname!r}] is a bool; pass a version int, an "
                    "epoch-seconds float, or an ISO-8601 string"
                )
            if isinstance(at, int) and at >= 100_000_000:
                # disambiguation rule (documented): ints are table
                # VERSIONS, floats/strings are timestamps.  An int in
                # epoch-seconds territory (1e8 ≈ 1973) is never a
                # plausible version number — int(time.time()) would
                # silently resolve a wildly wrong snapshot, so refuse
                # instead of guessing
                raise ValueError(
                    f"as_of[{vname!r}] = {at} looks like an epoch-seconds "
                    "timestamp, but ints are interpreted as table "
                    "VERSIONS; pass float(ts) or an ISO-8601 string for "
                    "TIMESTAMP AS OF"
                )
            if isinstance(at, float):
                df = t.read(as_of_timestamp=at)
            else:
                df = t.read(version=at)
            df.createOrReplaceTempView(vname)
        try:
            # analysis is EAGER: the returned DataFrame's plan has
            # already resolved the views by the time sql() returns
            return self.spark.sql(query)
        finally:
            # drop the as_of registrations so a later query cannot
            # silently read a stale snapshot by the alias name (the
            # same stance as the tables=[] no-commits drop); an
            # override of a main catalog name fails-fast until the
            # next sql()/register_views() re-registers the pin view
            for vname in (as_of or {}):
                self.spark.catalog.dropTempView(vname)
