"""Model-based storage fuzz (VERDICT r8 item 1; extended r9).

A hypothesis stateful machine drives a random interleaved sequence of
the full DML/DDL surface on ONE SnapshotTable — append / upsert /
merge (dv & rewrite) / update (dv & rewrite) / delete (dv & rewrite) /
compact / add_columns / enable_column_mapping / rename_column /
drop_column / widen_column / enable_row_tracking(backfill) /
overwrite / evolve_partitioning / restore / vacuum — against a
driver-side reference model (a plain dict of rows keyed by `k` plus
expected schema / id / watermark state), and checks after EVERY step:

  * read-back equality (multiset of rows vs the model),
  * `__row_id` stability (rows that survive keep the id they were
    first observed with; new rows draw fresh never-seen ids),
  * watermark monotonicity across commits, for both id slots,
  * manifest protocol invariants (row_tracking => `row-tracking`
    writer feature, column_mapping => `column-mapping` reader
    feature, recorded features match the derived set),
  * CDF consistency on the clean-semantics ops (append => pure
    inserts of exactly the appended rows; compact => zero changes).

Randomly interleaved AUDIT rules re-check history against the model:

  * audit_time_travel — `read(version=v)` for a random past version
    must serve exactly the model's recorded rows, schema (that
    version's OWN column names) and row-id map;
  * audit_changes — `read_changes(v, keys)` for a random past version
    must equal the NET diff between the model state then and now
    (inserted / updated post-image / deleted old-values, translated
    to the LATEST column names via stable field ids), and must raise
    the documented refusal when the window crosses a column DROP or
    any other non-traversable mapping change.

Columns are tracked as (name, type, fid) triples — the fid is the
model's analog of the engine's column-mapping field id, which is what
makes cross-rename history comparison well-defined.

`restore` exercises the r9 boundary rule directly: restoring to a
pre-row-tracking version must be REFUSED (the restored files carry no
id column), while an allowed restore reverts rows to their
recorded-then values AND ids without ever reissuing ids burned by the
rolled-back-over versions (the all_ids freshness set is deliberately
NOT restored).

Every composition bug this project found by hand in rounds 6-8
(bloom x widening, stream x add_columns, upsert id fan-out,
commit_multi no-op laundering analog) lives in exactly this
cross-product of features, which is why the programs interleave
them randomly rather than testing each feature in isolation.

Runtime: each program is ~8 steps x ~1-2 Spark jobs.  CI runs a
bounded number of programs (PIXELSPARK_FUZZ_EXAMPLES, default 8);
the certified 200-program sweep is run per-round via
  PIXELSPARK_FUZZ_EXAMPLES=200 python -m pytest tests/test_storage_fuzz.py
and its result recorded in COVERAGE.md.

Reference anchor: the storage engine exists to serve the
append-as-update pattern (reference src/services/billing.ts:133-163)
whose correctness contract is exactly read-back-after-rewrites.
"""
from __future__ import annotations

import copy
import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, settings
from hypothesis import strategies as st
from hypothesis.stateful import (
    RuleBasedStateMachine,
    initialize,
    invariant,
    precondition,
    rule,
    run_state_machine_as_test,
)
from pyspark.sql import functions as F

from pixelspark.table import (
    SnapshotTable,
    entry_layout,
    reader_features,
    writer_features,
)

# SLOW TIER (r13): the storage-machine hypothesis sweep —
# certification-depth work excluded from the default fast tier
# (pytest.ini); run with -m slow, or -m "" for the whole suite.
pytestmark = pytest.mark.slow

FUZZ_EXAMPLES = int(os.environ.get("PIXELSPARK_FUZZ_EXAMPLES", "8"))
STEPS = int(os.environ.get("PIXELSPARK_FUZZ_STEPS", "8"))

_SPARK = None  # injected by the test functions (hypothesis machines
# are instantiated by the engine, so fixtures can't reach __init__)


def _schema_str(cols: list[tuple[str, str, int]]) -> str:
    return ", ".join(f"{n} {t}" for n, t, _ in cols)


class StorageMachine(RuleBasedStateMachine):
    """One random program over one SnapshotTable vs a dict model."""

    # -- model ------------------------------------------------------
    # rows: {k: {col: value}} for the LOGICAL data columns (never
    #   __row_id — ids are engine-assigned, learned then pinned).
    # cols: [(name, sql_type, fid)] logical schema, 'k' always first;
    #   fid is a stable per-column identity surviving renames (the
    #   model analog of the engine's column-mapping field id).
    # ids: {k: learned __row_id}; all_ids: every id ever observed.
    # highs: {slot: last seen watermark} for monotonicity.
    # history: {version: snapshot of the model} recorded after every
    #   green invariant pass — the oracle for time travel, CDF and
    #   restore.

    # uid (user identity column, enabled at CREATION for half the
    # programs — Delta semantics: identity is a creation-time spec):
    #   * append/overwrite frames OMIT it -> the engine assigns;
    #     values are learned-then-pinned like __row_id,
    #   * upsert/merge sources MUST carry it (the refuse-NULLs
    #     stance) -> the model provides the LEARNED value for hit
    #     keys and an explicit far-band value for new keys, so every
    #     uid is known to the model after one read,
    #   * assigned values stay < _UID_BAND and explicit ones start
    #     there, so the freshness check never false-positives.
    _UID_BAND = 1_000_000

    def __init__(self) -> None:
        super().__init__()
        self.spark = _SPARK
        self.dir = tempfile.mkdtemp(prefix="pixelspark-fuzz-")
        self.t = SnapshotTable(self.spark, f"{self.dir}/t")
        self.identity_on = False
        self.uids: dict[int, int] = {}
        self.all_uids: set[int] = set()
        self.rows: dict[int, dict] = {}
        self.cols: list[tuple[str, str, int]] = [
            ("k", "long", 0), ("v", "string", 1)]
        self.next_k = 0
        self.next_col = 0
        self.next_fid = 2
        self.tracking = False
        self.mapped = False
        self.pcol: str | None = None
        self.dropped_fids: tuple[int, ...] = ()
        self.ids: dict[int, int] = {}
        self.all_ids: set[int] = set()
        self.highs: dict[str, int] = {}
        self.history: dict[int, dict] = {}

    def teardown(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- helpers ----------------------------------------------------

    def _fresh_ks(self, n: int) -> list[int]:
        ks = list(range(self.next_k, self.next_k + n))
        self.next_k += n
        return ks

    def _mk_df(self, rows: list[dict]):
        data = [tuple(r.get(c) for c, _, _ in self.cols) for r in rows]
        return self.spark.createDataFrame(
            data, _schema_str(self.cols)).coalesce(4)

    def _mk_df_uid(self, rows: list[dict], uids: dict[int, int]):
        """Source frame CARRYING explicit uids (upsert/merge sources
        must: the user identity column refuses NULLs)."""
        data = [
            tuple(r.get(c) for c, _, _ in self.cols) + (uids[r["k"]],)
            for r in rows
        ]
        return self.spark.createDataFrame(
            data, _schema_str(self.cols) + ", uid long").coalesce(4)

    def _source_uids(self, rows: list[dict]) -> dict[int, int]:
        """uid per source key: the LEARNED value for existing keys
        (an upsert must not churn it), a fresh far-band explicit value
        for new keys (never collides with engine-assigned ones)."""
        out = {}
        for r in rows:
            k = r["k"]
            out[k] = self.uids.get(k, self._UID_BAND + k)
        return out

    def _value(self, k: int, tag: str) -> dict:
        """A full row for key k; non-key columns get deterministic,
        step-tagged values so every rewrite is observable."""
        out = {"k": k}
        for name, typ, _ in self.cols[1:]:
            if typ in ("int", "long", "bigint"):
                out[name] = k * 10 + len(tag)
            else:
                out[name] = f"{tag}:{k}"
        return out

    def _map_token(self):
        """Canonical model image of the engine's column_mapping dict:
        None when mapping is off; otherwise the live (fid, logical
        name) set plus the ordered dropped-fid list.  Two versions
        have equal mapping dicts iff their tokens are equal."""
        if not self.mapped:
            return None
        return (
            frozenset((fid, n) for n, _, fid in self.cols),
            self.dropped_fids,
        )

    def _now_tuple(self, k: int) -> tuple:
        row = self.rows[k]
        out = tuple(row.get(c) for c, _, _ in self.cols)
        if self.identity_on:
            out += (self.uids.get(k),)
        return out

    def _mixed_layout(self) -> bool:
        """True while partition evolution is IN PROGRESS: the table is
        partitioned but some entry still has a different layout (the
        documented state in which partition-scoped ops refuse)."""
        v = self.t.latest_version()
        if v is None:
            return False
        m = self.t.manifest(v)
        pc = m.get("partition_col")
        if pc is None:
            return False
        return any(entry_layout(e) != pc for e in m["entries"])

    def _then_tuple(self, snap: dict, k: int) -> tuple:
        """snap's row for k, projected onto the CURRENT columns via
        field ids (renamed columns translate, later-added columns are
        None) — how the change feed serves historical rows."""
        then_name = {fid: n for n, _, fid in snap["cols"]}
        row = snap["rows"][k]
        out = tuple(
            row.get(then_name[fid]) if fid in then_name else None
            for _, _, fid in self.cols
        )
        if self.identity_on:
            out += (snap["uids"].get(k),)
        return out

    # -- the invariant pack (runs after every rule) -------------------

    @invariant()
    def engine_matches_model(self) -> None:
        if not self.t.exists():
            assert not self.rows
            return
        df = self.t.read()
        got_cols = set(df.columns) - {"__row_id"}
        if self.identity_on:
            assert "uid" in got_cols, "identity column vanished"
            got_cols -= {"uid"}
        want_cols = {c for c, _, _ in self.cols}
        assert got_cols == want_cols, (got_cols, want_cols)
        recs = df.collect()
        got = sorted(
            tuple(r[c] for c, _, _ in self.cols) for r in recs
        )
        want = sorted(
            tuple(row.get(c) for c, _, _ in self.cols)
            for row in self.rows.values()
        )
        assert got == want, f"read-back mismatch:\n got {got}\nwant {want}"

        # __row_id: learned-then-pinned (assignment is partitioning-
        # dependent, so the model never predicts ids — it requires
        # stability once observed and freshness for new rows)
        if self.tracking:
            id_map = {r["k"]: r["__row_id"] for r in recs}
            assert None not in id_map.values(), "NULL __row_id served"
            assert len(set(id_map.values())) == len(id_map), (
                f"duplicate row ids: {id_map}")
            for k, rid in id_map.items():
                if k in self.ids:
                    assert self.ids[k] == rid, (
                        f"id churn for k={k}: {self.ids[k]} -> {rid}")
                else:
                    assert rid not in self.all_ids, (
                        f"recycled id {rid} for new k={k}")
                    self.ids[k] = rid
                    self.all_ids.add(rid)
            # rows gone from the table free their key, but the id
            # must never come back (all_ids keeps it)
            self.ids = {k: i for k, i in self.ids.items() if k in id_map}

        # uid: same learned-then-pinned discipline as __row_id, plus
        # non-NULL everywhere (identity-from-creation tables never
        # hold a pre-enablement row)
        if self.identity_on:
            uid_map = {r["k"]: r["uid"] for r in recs}
            assert None not in uid_map.values(), "NULL uid served"
            for k, u in uid_map.items():
                if k in self.uids:
                    assert self.uids[k] == u, (
                        f"uid churn for k={k}: {self.uids[k]} -> {u}")
                else:
                    assert u not in self.all_uids, (
                        f"recycled uid {u} for new k={k}")
                    self.uids[k] = u
                    self.all_uids.add(u)
            self.uids = {k: u for k, u in self.uids.items()
                         if k in uid_map}

        # record the now-verified model state as this version's
        # oracle snapshot (time travel / CDF / restore audits)
        v = self.t.latest_version()
        if v is not None and v not in self.history:
            self.history[v] = {
                "rows": copy.deepcopy(self.rows),
                "ids": dict(self.ids),
                "uids": dict(self.uids),
                "cols": list(self.cols),
                "tracking": self.tracking,
                "mapped": self.mapped,
                "pcol": self.pcol,
                "dropped_fids": self.dropped_fids,
                "map_token": self._map_token(),
            }

    @invariant()
    def manifest_invariants(self) -> None:
        v = self.t.latest_version()
        if v is None:
            return
        m = self.t.manifest(v)
        # watermarks monotone per slot
        for slot in ("identity", "row_tracking"):
            spec = m.get(slot)
            if spec:
                assert spec["high"] >= self.highs.get(slot, 0), (
                    f"{slot} watermark regressed: "
                    f"{self.highs.get(slot)} -> {spec['high']}")
                self.highs[slot] = spec["high"]
        # protocol fences: recorded features == derived features, and
        # the feature implications hold
        assert set(m.get("reader_features") or []) == set(
            reader_features(m))
        assert set(m.get("writer_features") or []) == set(
            writer_features(m))
        if m.get("row_tracking"):
            assert "row-tracking" in (m.get("writer_features") or [])
        if m.get("column_mapping"):
            assert "column-mapping" in (m.get("reader_features") or [])

    # -- rules ------------------------------------------------------

    @initialize(ident=st.booleans())
    def create(self, ident: bool) -> None:
        if ident:
            self.identity_on = True
            self.t = SnapshotTable(
                self.spark, f"{self.dir}/t",
                identity={"col": "uid", "start": 100, "step": 1})
        ks = self._fresh_ks(3)
        rows = [self._value(k, "init") for k in ks]
        self.t.append(self._mk_df(rows))
        for r in rows:
            self.rows[r["k"]] = r

    @rule(n=st.integers(min_value=1, max_value=3))
    def append(self, n: int) -> None:
        before = self.t.latest_version()
        ks = self._fresh_ks(n)
        rows = [self._value(k, "app") for k in ks]
        self.t.append(self._mk_df(rows))
        for r in rows:
            self.rows[r["k"]] = r
        # CDF: an append is pure inserts of exactly these rows
        ch = self.t.read_changes(before).collect()
        assert all(c["change_type"] == "inserted" for c in ch)
        assert sorted(c["k"] for c in ch) == sorted(ks)

    @rule(data=st.data())
    def append_subset_schema(self, data) -> None:
        """r10: a batch carrying a strict SUBSET of the declared
        columns must not narrow the DDL — the declared schema
        survives the commit and the batch's missing columns read
        NULL (the model's row.get(col) contract)."""
        if self.t.latest_version() is None:
            return
        non_key = self.cols[1:]
        if not non_key:
            return
        kept = data.draw(st.lists(
            st.sampled_from(non_key), unique=True,
            max_size=len(non_key) - 1))  # strict subset
        if self.pcol is not None:  # partitioned appends need the col
            pcol_t = next(c for c in self.cols if c[0] == self.pcol)
            if pcol_t != self.cols[0] and pcol_t not in kept:
                kept.append(pcol_t)
                if len(kept) == len(non_key):
                    return  # no longer a strict subset
        sub = [self.cols[0]] + [c for c in non_key if c in kept]
        ks = self._fresh_ks(data.draw(st.integers(1, 2)))
        rows = [{c: self._value(k, "sub").get(c)
                 for c, _, _ in sub} | {"k": k} for k in ks]
        df = self.spark.createDataFrame(
            [tuple(r.get(c) for c, _, _ in sub) for r in rows],
            _schema_str(sub)).coalesce(2)
        self.t.append(df)
        for r in rows:
            self.rows[r["k"]] = r  # missing cols absent -> None

    @rule()
    def append_empty(self) -> None:
        """r10: appending an EMPTY batch to an existing table is a
        true no-op — no version bump, no 0-row entry (the observed
        write count, not file existence, decides has_data)."""
        v = self.t.latest_version()
        if v is None:
            return
        got = self.t.append(self._mk_df([]))
        assert got == v, f"empty append bumped version {v} -> {got}"
        assert self.t.latest_version() == v

    @rule(data=st.data())
    def upsert(self, data) -> None:
        if not self.rows:
            return
        hit = data.draw(st.lists(
            st.sampled_from(sorted(self.rows)), max_size=2, unique=True))
        new = self._fresh_ks(data.draw(st.integers(0, 2)))
        if not hit and not new:
            return
        rows = [self._value(k, "ups") for k in hit + new]
        if self.identity_on:
            uids = self._source_uids(rows)
            self.t.upsert(self._mk_df_uid(rows, uids), keys=("k",))
            self.uids.update(uids)
            self.all_uids.update(uids.values())
        else:
            self.t.upsert(self._mk_df(rows), keys=("k",))
        for r in rows:
            self.rows[r["k"]] = r

    @rule(data=st.data(), mode=st.sampled_from(["rewrite", "dv"]))
    def merge(self, data, mode: str) -> None:
        if not self.rows:
            return
        hit = data.draw(st.lists(
            st.sampled_from(sorted(self.rows)), max_size=2, unique=True))
        new = self._fresh_ks(data.draw(st.integers(0, 1)))
        if not hit and not new:
            return
        rows = [self._value(k, "mrg") for k in hit + new]
        # r11: a merge keyed on the partition column no longer refuses
        # while layouts are mixed — it falls back to the whole-table
        # rewrite for that call (same visible rows), so the fuzz just
        # runs it and audits the state like any other merge
        if self.identity_on:
            uids = self._source_uids(rows)
            self.t.merge(self._mk_df_uid(rows, uids), keys=("k",),
                         mode=mode)
            self.uids.update(uids)
            self.all_uids.update(uids.values())
        else:
            self.t.merge(self._mk_df(rows), keys=("k",), mode=mode)
        for r in rows:
            self.rows[r["k"]] = r

    @rule(data=st.data(), mode=st.sampled_from(["rewrite", "dv"]))
    def delete(self, data, mode: str) -> None:
        if not self.rows:
            return
        victims = data.draw(st.lists(
            st.sampled_from(sorted(self.rows)), min_size=1, max_size=2,
            unique=True))
        # r11: rewrite-mode DELETE runs on mixed layouts too (the
        # entry scope of the copy-on-write commit) — no exclusion needed
        self.t.delete(F.col("k").isin(victims), mode=mode)
        for k in victims:
            del self.rows[k]

    @rule(data=st.data(), mode=st.sampled_from(["rewrite", "dv"]))
    def update(self, data, mode: str) -> None:
        if not self.rows:
            return
        k = data.draw(st.sampled_from(sorted(self.rows)))
        # target the v-slot by its CURRENT name (rename may have moved
        # it) — a hardcoded 'v' would silently no-op on both sides
        # after a rename, erasing UPDATE coverage mid-program
        vcol = self.cols[1][0]
        # r11: rewrite-mode UPDATE runs on mixed layouts too (the
        # entry scope of the copy-on-write commit) — no exclusion needed
        self.t.update({vcol: F.lit(f"upd:{k}")},
                      condition=F.col("k") == k, mode=mode)
        self.rows[k][vcol] = f"upd:{k}"

    @rule()
    def compact(self) -> None:
        before = self.t.latest_version()
        self.t.compact()
        # CDF: a compact changes nothing logically
        ch = self.t.read_changes(before, keys=("k",)).collect()
        assert ch == [], f"compact leaked changes: {ch}"

    @rule()
    def add_column(self) -> None:
        name = f"c{self.next_col}"
        self.next_col += 1
        self.t.add_columns({name: "string"})
        self.cols.append((name, "string", self.next_fid))
        self.next_fid += 1
        for r in self.rows.values():
            r[name] = None

    @precondition(lambda self: not self.mapped)
    @rule()
    def enable_mapping(self) -> None:
        self.t.enable_column_mapping()
        self.mapped = True

    @precondition(lambda self: self.mapped)
    @rule(data=st.data())
    def rename(self, data) -> None:
        renameable = [c for c, _, _ in self.cols[1:]]
        if not renameable:
            return
        old = data.draw(st.sampled_from(renameable))
        new = f"{old}_r"
        self.t.rename_column(old, new)
        self.cols = [
            (new if c == old else c, t, f) for c, t, f in self.cols]
        for r in self.rows.values():
            r[new] = r.pop(old, None)

    @precondition(lambda self: self.mapped)
    @rule(data=st.data())
    def drop(self, data) -> None:
        droppable = [(c, f) for c, _, f in self.cols[2:]]  # keep k, v-slot
        if not droppable:
            return
        col, fid = data.draw(st.sampled_from(droppable))
        self.t.drop_column(col)
        self.cols = [(c, t, f) for c, t, f in self.cols if c != col]
        self.dropped_fids = self.dropped_fids + (fid,)
        for r in self.rows.values():
            r.pop(col, None)

    @rule()
    def widen(self) -> None:
        # add an int column once, widen it on a later draw
        narrow = [c for c, t, _ in self.cols if t == "int"]
        if narrow:
            col = narrow[0]
            self.t.widen_column(col, "bigint")
            self.cols = [
                (c, "long" if c == col else t, f) for c, t, f in self.cols]
        else:
            name = f"w{self.next_col}"
            self.next_col += 1
            self.t.add_columns({name: "int"})
            self.cols.append((name, "int", self.next_fid))
            self.next_fid += 1
            for r in self.rows.values():
                r[name] = None

    @precondition(lambda self: not self.tracking)
    @rule()
    def enable_tracking(self) -> None:
        self.t.enable_row_tracking(backfill=True)
        self.tracking = True

    @rule(n=st.integers(min_value=1, max_value=2))
    def overwrite(self, n: int) -> None:
        ks = self._fresh_ks(n)
        rows = [self._value(k, "ovw") for k in ks]
        self.t.overwrite(self._mk_df(rows))
        self.rows = {r["k"]: r for r in rows}
        # a fresh frame carries no ids: every surviving key is new
        self.ids = {}
        self.uids = {}
        # a plain overwrite lays the new snapshot out UNPARTITIONED
        self.pcol = None

    @precondition(lambda self: not self.mapped)
    @rule(col=st.sampled_from([None, "k"]))
    def evolve_partitioning(self, col) -> None:
        """Iceberg-style partition evolution: future writes use the
        new layout, existing entries keep theirs — logical content
        must be untouched (the read-back invariant checks that)."""
        self.t.evolve_partitioning(col)
        self.pcol = col

    @rule(data=st.data())
    def restore(self, data) -> None:
        versions = sorted(self.history)
        if not versions:
            return
        v = data.draw(st.sampled_from(versions))
        snap = self.history[v]
        if self.tracking and not snap["tracking"]:
            # r9 boundary rule: the restored files carry no id column
            before = self.t.latest_version()
            with pytest.raises(ValueError, match="enabled after"):
                self.t.restore(v)
            assert self.t.latest_version() == before, (
                "refused restore must not commit")
            return
        self.t.restore(v)
        self.rows = copy.deepcopy(snap["rows"])
        self.ids = dict(snap["ids"])   # restored rows hold their old ids
        self.uids = dict(snap["uids"])
        self.cols = list(snap["cols"])
        self.mapped = snap["mapped"]
        self.pcol = snap["pcol"]
        self.dropped_fids = snap["dropped_fids"]
        # deliberately NOT restored: all_ids (ids burned by the
        # rolled-back-over versions stay burned — the head watermark
        # carries over), next_k/next_col/next_fid (freshness is global)

    @rule(keep=st.integers(min_value=2, max_value=4))
    def vacuum(self, keep: int) -> None:
        """Retention: prune old manifests + unreferenced data dirs.
        Current-state reads must be untouched (the read-back invariant
        checks that a live dir was never deleted); pruned versions
        lose time travel / CDF / restore."""
        self.t.vacuum(keep_versions=keep)
        vs = set(self.t.versions())
        gone = sorted(v for v in self.history if v not in vs)
        if gone:
            with pytest.raises((FileNotFoundError, OSError)):
                self.t.read(version=gone[0]).collect()
        self.history = {
            v: s for v, s in self.history.items() if v in vs}

    @precondition(lambda self: self.identity_on and self.mapped)
    @rule(op=st.sampled_from(["rename", "drop"]))
    def identity_ddl_refused(self, op: str) -> None:
        """The identity column can be neither renamed nor dropped —
        the manifest spec addresses it by logical name."""
        before = self.t.latest_version()
        with pytest.raises(ValueError, match="identity column"):
            if op == "rename":
                self.t.rename_column("uid", "uid_r")
            else:
                self.t.drop_column("uid")
        assert self.t.latest_version() == before

    # -- audit rules (read-only checks of history vs the model) ------

    @rule(data=st.data())
    def audit_time_travel(self, data) -> None:
        versions = sorted(self.history)
        if not versions:
            return
        v = data.draw(st.sampled_from(versions))
        snap = self.history[v]
        df = self.t.read(version=v)
        got_cols = set(df.columns) - {"__row_id"}
        if self.identity_on:
            got_cols -= {"uid"}
        assert got_cols == {c for c, _, _ in snap["cols"]}, (
            f"time travel to v{v}: schema mismatch")
        recs = df.collect()
        got = sorted(
            tuple(r[c] for c, _, _ in snap["cols"]) for r in recs)
        want = sorted(
            tuple(row.get(c) for c, _, _ in snap["cols"])
            for row in snap["rows"].values())
        assert got == want, (
            f"time travel to v{v}:\n got {got}\nwant {want}")
        if snap["tracking"]:
            id_map = {r["k"]: r["__row_id"] for r in recs}
            assert id_map == snap["ids"], (
                f"time travel to v{v}: id map {id_map} != {snap['ids']}")
        if self.identity_on:
            uid_map = {r["k"]: r["uid"] for r in recs}
            assert uid_map == snap["uids"], (
                f"time travel to v{v}: uid map {uid_map} != "
                f"{snap['uids']}")

    @rule(data=st.data())
    def audit_changes(self, data) -> None:
        versions = sorted(self.history)
        if not versions:
            return
        v = data.draw(st.sampled_from(versions))
        snap = self.history[v]
        if snap["map_token"] != self._map_token():
            # the engine refuses any window whose mapping change is
            # not traversable: a drop on either side, or a column of
            # the FROM side whose physical no longer survives
            then_fids = {f for _, _, f in snap["cols"]}
            now_fids = {f for _, _, f in self.cols}
            traversable = (
                then_fids <= now_fids
                and snap["dropped_fids"] == self.dropped_fids
            )
            if not traversable:
                with pytest.raises(ValueError, match="DROP|diff"):
                    self.t.read_changes(v, keys=("k",)).collect()
                return
        ch = self.t.read_changes(v, keys=("k",)).collect()
        got = {}
        for r in ch:
            assert r["k"] not in got, (
                f"duplicate change row for k={r['k']}: {ch}")
            vals = tuple(r[c] for c, _, _ in self.cols)
            if self.identity_on:
                vals += (r["uid"],)
            got[r["k"]] = (r["change_type"], vals)
        exp = {}
        then_keys, now_keys = set(snap["rows"]), set(self.rows)
        for k in now_keys - then_keys:
            exp[k] = ("inserted", self._now_tuple(k))
        for k in then_keys - now_keys:
            exp[k] = ("deleted", self._then_tuple(snap, k))
        for k in then_keys & now_keys:
            if self._then_tuple(snap, k) != self._now_tuple(k):
                exp[k] = ("updated", self._now_tuple(k))
        assert got == exp, (
            f"changes since v{v}:\n got {got}\nwant {exp}")


def test_storage_fuzz(spark):
    """CI entry: PIXELSPARK_FUZZ_EXAMPLES random programs (default 8);
    the certified 200-program sweep runs per-round out of band."""
    global _SPARK
    _SPARK = spark
    run_state_machine_as_test(
        StorageMachine,
        settings=settings(
            max_examples=FUZZ_EXAMPLES,
            stateful_step_count=STEPS,
            deadline=None,
            suppress_health_check=[
                HealthCheck.too_slow,
                HealthCheck.data_too_large,
                HealthCheck.filter_too_much,
            ],
        ),
    )


def test_fuzz_catches_seeded_id_churn_bug(spark, monkeypatch):
    """Detection-power proof: reintroduce the classic id-churn bug
    (a rewrite path reassigning ALL ids instead of filling only the
    NULLs — the shape of the r8 upsert fan-out advisory) and assert
    the machine's __row_id stability invariant catches it."""
    global _SPARK
    _SPARK = spark

    from pixelspark import table as table_mod

    def churn_fill(df, spec):
        # BUG (deliberate): drop carried ids, reassign the whole frame
        out, nh = table_mod.SnapshotTable._assign_identity(
            df.drop(spec["col"]), spec)
        return out, nh

    monkeypatch.setattr(
        table_mod.SnapshotTable, "_fill_null_ids",
        staticmethod(churn_fill))

    class Seeded(StorageMachine):
        """Deterministic program: enable tracking, learn ids, then an
        upsert must churn the carried rows' ids under the seeded bug."""

    machine = Seeded()
    try:
        machine.create(ident=False)
        machine.enable_tracking()
        machine.engine_matches_model()  # learn ids
        k = sorted(machine.rows)[0]
        machine.t.upsert(
            machine._mk_df([machine._value(k, "ups")]), keys=("k",))
        machine.rows[k] = machine._value(k, "ups")
        with pytest.raises(AssertionError, match="id churn|recycled id"):
            machine.engine_matches_model()
    finally:
        machine.teardown()


def test_fuzz_catches_seeded_restore_boundary_bug(spark, monkeypatch):
    """Detection-power proof for the r9 restore rules: disable the
    enablement-boundary refusal (restore blindly, pre-fix behavior)
    and assert the machine flags the tracked-table-serving-no-ids
    state on the very next invariant pass."""
    global _SPARK
    _SPARK = spark

    from pixelspark import table as table_mod

    # BUG (deliberate): while restore() runs, pretend every manifest
    # carries every slot, so its boundary refusal never fires; every
    # other reader of the slots (the id specs, the watermark CAS)
    # keeps the real answer
    real_slot = table_mod.SnapshotTable._slot_of
    real_restore = table_mod.SnapshotTable.restore
    restoring = {"on": False}

    def lying_restore(self, version):
        restoring["on"] = True
        try:
            return real_restore(self, version)
        finally:
            restoring["on"] = False

    monkeypatch.setattr(
        table_mod.SnapshotTable, "_slot_of",
        staticmethod(lambda m, key: {"col": "__row_id"} if restoring["on"]
                     else real_slot(m, key)))
    monkeypatch.setattr(table_mod.SnapshotTable, "restore", lying_restore)

    machine = StorageMachine()
    try:
        machine.create(ident=False)
        machine.engine_matches_model()       # record v1 in history
        v1 = machine.t.latest_version()
        machine.enable_tracking()
        machine.engine_matches_model()
        # drive the restore rule deterministically at the bad target
        snap = machine.history[v1]
        assert machine.tracking and not snap["tracking"]
        machine.t.restore(v1)                # pre-fix: silently allowed
        machine.rows = copy.deepcopy(snap["rows"])
        # the broken state surfaces as a missing/NULL __row_id on the
        # very next invariant pass (AssertionError, or the Row access
        # failing outright on the absent column)
        with pytest.raises((AssertionError, KeyError, ValueError)):
            machine.engine_matches_model()
    finally:
        machine.teardown()
