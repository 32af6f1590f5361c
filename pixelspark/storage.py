"""Storage abstraction for the driver-side filesystem ops the table
format and the write paths need (listings, existence and parquet
probes, deletes, small atomic text files).

The reference talks to BigQuery, where table swaps are server-side and
atomic.  Re-expressed over files, every table mutation goes through
`pixelspark.table.SnapshotTable`: data dirs are immutable, and a
commit is the atomic publication of one small manifest
(`write_text_atomic` below), so `replace_partitions`/`upsert`/
`overwrite` are transactional on every substrate with no rename of
live data at all:

* POSIX / HDFS: `rename` is atomic; directory listing is consistent.
* S3 (via s3a): rename is a non-atomic COPY+DELETE, which no commit
  relies on.  For MULTI-committer exactly-once on object stores, wrap
  the substrate in `ConditionalPutStorage` bound to the store's
  conditional-put API (S3 `If-None-Match: *`, GCS generation-match) —
  the server then arbitrates the commit race atomically.  The
  idempotency ledger still refuses object-store schemes (see
  `ledger_precondition`) because its O_EXCL claim files are a
  POSIX-only contract.

`LocalStorage` (os/shutil) is the zero-dependency test backend;
`HadoopStorage` routes every call through the Hadoop FileSystem API of
the path's own scheme (file://, hdfs://, s3a://...) via the JVM
gateway, so the SAME code path Spark uses for its writes handles the
manifests — no `os.listdir`/`os.rename` POSIX assumptions.  Both
backends are exercised by tests/test_storage.py; `storage_for` picks
Hadoop whenever a SparkSession is supplied and the path carries a
scheme.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import SparkSession


class Storage:
    """Minimal directory-level filesystem contract the write paths need."""

    # True when write_text_atomic's no-overwrite decision is made
    # ATOMICALLY by the substrate itself (POSIX link(2), HDFS rename,
    # or a server-side conditional put).  SnapshotTable consults this
    # to decide whether multi-committer optimistic concurrency is
    # supported on the path's scheme.
    conditional_put: bool = False

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def list(self, path: str) -> list[str]:
        """Child names (not full paths) of a directory; [] if missing."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Recursive delete; no-op if missing."""
        raise NotImplementedError

    def has_parquet(self, path: str) -> bool:
        """Does the tree under `path` hold any parquet data file."""
        raise NotImplementedError

    def read_text(self, path: str) -> str:
        """Full contents of a small text file (manifests, pointers)."""
        raise NotImplementedError

    def mtime(self, path: str) -> float | None:
        """Last-modification instant (epoch seconds) of a file or
        directory, or None when the backend cannot say.  Consumers
        must treat None conservatively (age unknown != old) — vacuum's
        orphan min-age window KEEPS a dir whose age it cannot prove."""
        return None

    def write_text_atomic(self, path: str, content: str) -> bool:
        """Publish a small IMMUTABLE text file with all-or-nothing
        visibility: readers see the complete file or no file, never a
        partial write.  Returns False (without touching `path`) when
        the destination already exists — the optimistic-concurrency
        primitive snapshot commits are built on.

        POSIX: temp file + hard-link (link(2) fails atomically with
        EEXIST).  HDFS: temp file + rename (namenode rejects an
        existing destination).  Object stores: a small single-object
        copy — atomic visibility always; the no-overwrite check is
        best-effort there (check-then-copy), so object-store tables
        assume a single committer per table (same stance as
        delta-on-S3 without a lock service)."""
        raise NotImplementedError


def _strip_file_scheme(path: str) -> str:
    """file:///x and scheme-less /x address the same local path."""
    return path.split("://", 1)[1] if path.startswith("file://") else path


class LocalStorage(Storage):
    """POSIX-local backend (tests, single-node runs).  Accepts both
    scheme-less and file:// paths — Spark writers emit/consume either."""

    conditional_put = True  # link(2) decides exclusivity atomically

    def exists(self, path: str) -> bool:
        return os.path.exists(_strip_file_scheme(path))

    def list(self, path: str) -> list[str]:
        path = _strip_file_scheme(path)
        return sorted(os.listdir(path)) if os.path.isdir(path) else []

    def delete(self, path: str) -> None:
        path = _strip_file_scheme(path)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def has_parquet(self, path: str) -> bool:
        path = _strip_file_scheme(path)
        if not os.path.isdir(path):
            return False
        for _root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read_text(self, path: str) -> str:
        with open(_strip_file_scheme(path), encoding="utf-8") as f:
            return f.read()

    def mtime(self, path: str) -> float | None:
        path = _strip_file_scheme(path)
        try:
            return os.path.getmtime(path)
        except OSError:
            return None

    def write_text_atomic(self, path: str, content: str) -> bool:
        path = _strip_file_scheme(path)
        parent = os.path.dirname(path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(parent or ".", f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)  # atomic create-if-absent (EEXIST on loss)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)


class HadoopStorage(Storage):
    """Hadoop FileSystem backend: each path resolves its own FileSystem
    from its scheme through the session's Hadoop configuration — the
    identical resolution Spark's writers use, so anything Spark can
    write to, these calls can manage.  Driver-side only (needs the JVM
    gateway)."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._path(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._path(path)))

    def list(self, path: str) -> list[str]:
        fs, p = self._fs(path), self._path(path)
        if not fs.exists(p):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(p))

    def delete(self, path: str) -> None:
        fs, p = self._fs(path), self._path(path)
        if fs.exists(p):
            fs.delete(p, True)

    def has_parquet(self, path: str) -> bool:
        fs, p = self._fs(path), self._path(path)
        if not fs.exists(p):
            return False
        it = fs.listFiles(p, True)  # recursive
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def mtime(self, path: str) -> float | None:
        fs, p = self._fs(path), self._path(path)
        try:
            ms = fs.getFileStatus(p).getModificationTime()
        except Exception:
            return None
        # Object stores report 0 for directory prefixes (S3A has no
        # real directory mtime).  0 must surface as "unknown", not
        # "epoch 1970" — otherwise vacuum's min-age floor would treat
        # a just-staged dir as infinitely old and delete it.
        return ms / 1000.0 if ms > 0 else None

    def read_text(self, path: str) -> str:
        fs, p = self._fs(path), self._path(path)
        stream = fs.open(p)
        try:
            # JVM-side drain: py4j passes byte[] by value, so a Python
            # read-into-buffer loop would never see the bytes.
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, content: str) -> bool:
        fs, dst = self._fs(path), self._path(path)
        if fs.exists(dst):  # cheap early loss check
            return False
        parent = dst.getParent()
        if parent is not None and not fs.exists(parent):
            fs.mkdirs(parent)
        tmp = self._path(f"{path}.tmp-{uuid.uuid4().hex}")
        stream = fs.create(tmp, True)
        try:
            stream.write(bytearray(content.encode("utf-8")))
        finally:
            stream.close()
        # HDFS rename refuses an existing destination -> atomic loss
        # detection; on object stores this is a small single-object
        # copy (atomic visibility, best-effort exclusivity).
        if fs.rename(tmp, dst):
            return True
        fs.delete(tmp, False)
        return False


class ConditionalPutStorage(Storage):
    """Object-store backend with SERVER-SIDE conditional put — the
    mode that makes multi-committer optimistic concurrency sound on
    object stores, where a client-side exists-then-copy check leaves
    a lost-commit window.

    Every modern store exposes the primitive: S3 `PutObject` with
    `If-None-Match: *` (412 on conflict, GA since 2024-08), GCS
    `x-goog-if-generation-match: 0`, Azure Blob `If-None-Match: *`.
    The store serializes the existence check and the write in ONE
    request, so two racing committers writing the same manifest key
    get exactly one winner — the same guarantee link(2) gives
    LocalStorage — and SnapshotTable's commit-race rebase plus the
    (app_id, batch_id) exactly-once guard hold with ANY number of
    committers (the role Delta fills with S3 conditional writes /
    DynamoDB LogStore).

    Construction takes the substrate Storage for everything else
    (data dirs are immutable and their ops — list/exists/recursive
    delete/parquet probe — are reads or idempotent deletes, safe on
    any substrate) plus `put_if_absent(path, content) -> bool`
    binding whichever SDK surface the deployment has.  The callable
    MUST return False on a conflict (key already present) and never
    overwrite; tests/test_storage.py pins the two-committer race."""

    conditional_put = True

    def __init__(self, inner: Storage, put_if_absent) -> None:
        self.inner = inner
        self._put_if_absent = put_if_absent

    def exists(self, path: str) -> bool:
        return self.inner.exists(path)

    def list(self, path: str) -> list[str]:
        return self.inner.list(path)

    def delete(self, path: str) -> None:
        self.inner.delete(path)

    def has_parquet(self, path: str) -> bool:
        return self.inner.has_parquet(path)

    def read_text(self, path: str) -> str:
        return self.inner.read_text(path)

    def mtime(self, path: str) -> float | None:
        return self.inner.mtime(path)

    def write_text_atomic(self, path: str, content: str) -> bool:
        return bool(self._put_if_absent(path, content))


def storage_for(path: str, spark: SparkSession | None = None) -> Storage:
    """Pick the backend for `path`: scheme-less and file:// paths use
    the local backend; any other scheme needs the Hadoop backend (and
    therefore a SparkSession)."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme in ("", "file"):
        return LocalStorage()
    if spark is None:
        raise ValueError(
            f"path scheme '{scheme}' needs the Hadoop FileSystem backend; pass a SparkSession"
        )
    return HadoopStorage(spark)


# ---------------------------------------------------------------------------
# Version logs
# ---------------------------------------------------------------------------


class VersionLog:
    """A directory of immutable version files `<prefix><N><suffix>`, N
    zero-padded to `width` digits — the one file format behind the
    table manifest log, the catalog log and the change-feed cursors.
    A version is published by create-if-absent (`write_text_atomic`),
    so two writers racing for N resolve to one winner.  Every call goes
    through `Storage`, never `os`, so any backend (and any wrapper
    around one) sees the log's whole traffic.  `dir=""` addresses bare
    relative names in the working directory."""

    def __init__(self, st: Storage, dir: str, prefix: str = "",
                 width: int = 0, suffix: str = "") -> None:
        self.st, self.dir = st, dir
        self.prefix, self.width, self.suffix = prefix, width, suffix

    def _at(self, name: str) -> str:
        return f"{self.dir}/{name}" if self.dir else name

    def path(self, v: int) -> str:
        return self._at(f"{self.prefix}{str(v).zfill(self.width)}{self.suffix}")

    def _parse(self, name: str) -> int | None:
        if not (name.startswith(self.prefix) and name.endswith(self.suffix)):
            return None
        try:
            return int(name[len(self.prefix):len(name) - len(self.suffix)])
        except ValueError:
            return None  # a temp file or a foreign name sharing the prefix

    def versions(self) -> list[int]:
        """Every published version, ascending: one listing."""
        vs = (self._parse(n) for n in self.st.list(self.dir or "."))
        return sorted(v for v in vs if v is not None)

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def read(self, v: int) -> dict:
        return json.loads(self.st.read_text(self.path(v)))

    def exists(self, v: int) -> bool:
        return self.st.exists(self.path(v))

    def create(self, v: int, text: str) -> bool:
        """Publish version `v` as `text`; False when it already exists."""
        return self.st.write_text_atomic(self.path(v), text)

    def retained(self, vs: list[int], keep_versions: int,
                 keep_hours: float | None = None,
                 now: float | None = None) -> set[int]:
        """The retention rule, over the listing `vs`: the
        `max(1, keep_versions)` newest versions plus every version
        whose `committed_at` lies within the trailing `keep_hours`
        (a version without the field counts as out of the window)."""
        keep = set(vs[-max(1, keep_versions):])
        if keep_hours is not None:
            cutoff = (time.time() if now is None else now) - keep_hours * 3600.0
            for v in vs:
                if v in keep:
                    continue  # already kept: skip the read
                try:
                    if (self.read(v).get("committed_at") or 0) >= cutoff:
                        keep.add(v)
                except OSError:
                    continue  # a racing prune already removed it
        return keep

    def drop(self, versions) -> None:
        """Delete the given versions, best effort (a racing prune may
        have removed one already)."""
        for v in versions:
            try:
                self.st.delete(self.path(v))
            except OSError:
                pass

    def sweep(self, now: float | None = None) -> None:
        """Delete the hour-old `.tmp-` files a crashed publisher left in
        the log's own directory.  Age-gated: a fresh one may be a live
        publisher's staged write, and one whose age the backend cannot
        report is kept."""
        cutoff = (time.time() if now is None else now) - 3600.0
        for name in self.st.list(self.dir or "."):
            mt = self.st.mtime(self._at(name)) if ".tmp-" in name else None
            if mt is not None and mt <= cutoff:
                self.st.delete(self._at(name))


# ---------------------------------------------------------------------------
# Idempotency-ledger precondition
# ---------------------------------------------------------------------------

# Object-store schemes with no atomic create-if-absent: an O_EXCL-style
# ledger CANNOT provide at-most-once semantics there.  (S3 grew a
# conditional-put If-None-Match in 2024, but it is not surfaced through
# the POSIX-ish file APIs the worker-side ledger uses.)
NON_ATOMIC_CREATE_SCHEMES = frozenset({"s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss"})


def ledger_precondition(ledger_dir: str) -> None:
    """Checked precondition for the claim-file ledger (the docstring
    promise 'shared storage with atomic create' made verifiable):

    * reject object-store schemes outright — no atomic create-if-absent;
    * for local paths, probe the semantics: claim the same key twice,
      the second attempt MUST lose.

    Raises ValueError when the substrate can't support the ledger."""
    scheme = ledger_dir.split("://", 1)[0] if "://" in ledger_dir else ""
    if scheme in NON_ATOMIC_CREATE_SCHEMES:
        raise ValueError(
            f"idempotency ledger needs atomic create-if-absent; scheme '{scheme}' "
            "has none — use a conditional-put ledger service or a table-format "
            "transaction log instead"
        )
    if scheme not in ("", "file"):
        # The claim files are created with POSIX os.open(O_EXCL) inside
        # executor tasks — a URI scheme those APIs cannot address (e.g.
        # hdfs://nn/ledger) would silently become a LITERAL local
        # './hdfs:/...' directory per executor: every executor gets its
        # own private ledger and the at-most-once guarantee is gone.
        # Only scheme-less paths on a shared mount (NFS, HDFS-FUSE,
        # Lustre) can honour the O_EXCL contract from every executor.
        raise ValueError(
            f"idempotency ledger uses POSIX create-if-absent; URI scheme "
            f"'{scheme}' is not addressable by POSIX file APIs — mount the "
            "shared filesystem and pass a scheme-less path, or use a "
            "conditional-put ledger service"
        )
    local = ledger_dir.split("://", 1)[-1]
    os.makedirs(local, exist_ok=True)
    probe = os.path.join(local, f".probe-{uuid.uuid4().hex}")
    fd = os.open(probe, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    try:
        fd2 = os.open(probe, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return  # atomic create-if-absent holds
    finally:
        os.remove(probe)
    os.close(fd2)
    raise ValueError(f"filesystem at {ledger_dir} ignored O_EXCL; ledger unsafe")
