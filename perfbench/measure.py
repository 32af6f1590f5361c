"""Measurement helpers: process-tree CPU and host steal from /proc, the
Spark event-log parser, and the layer spans of the traced run.

Spans are recorded from the benchmark's own code: in a traced run the
public functions of the io, report and external layers, and the local
storage backend, are wrapped so that each call is timed, counted and
tagged with its own Spark job group (`<op>#<round>/<layer.function>`).
Jobs then attribute to the op and to the layer call that ran them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file, None if gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None  # exited while listing
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _procs() -> dict[int, tuple[str, list[str]]]:
    """pid -> (comm, stat fields after comm) of every live process."""
    return {int(name): st for name in os.listdir("/proc")
            if name.isdigit() and (st := _stat(f"/proc/{name}/stat"))}


def _tree(root: int, procs: dict) -> list[int]:
    """`root` and every descendant of it in `procs` (f[1] = ppid)."""
    children = defaultdict(list)
    for pid, (_, f) in procs.items():
        children[int(f[1])].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """(cpu, jit) seconds of `root` and every live descendant: the
    driver Python, the JVM and its Python workers. `cpu` is user+sys
    plus reaped children; `jit` is the part spent by the JVM's JIT
    compiler threads, which the session keeps alive for the JVM's life
    (-XX:-UseDynamicNumberOfCompilerThreads) so that no compile time
    leaves with an exited thread."""
    procs = _procs()
    cpu = jit = 0
    for pid in _tree(os.getpid() if root is None else root, procs):
        comm, f = procs[pid]
        # f[11..14] = utime, stime, cutime, cstime
        cpu += sum(int(x) for x in f[11:15])
        if comm == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st and st[0].startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    jit += int(st[1][11]) + int(st[1][12])
    return cpu / _CLK, jit / _CLK


def descendants() -> dict[int, str]:
    """pid -> start time of every live descendant of this process."""
    procs = _procs()
    # f[19] = starttime: tells a process from a later one that reuses its pid
    return {pid: procs[pid][1][19] for pid in _tree(os.getpid(), procs)[1:]}


def running(pid: int, start: str) -> bool:
    """Whether the process `pid` started at `start` still runs (a zombie
    has ended; its new parent reaps it)."""
    st = _stat(f"/proc/{pid}/stat")
    return bool(st) and st[1][19] == start and st[1][0] != "Z"


def host_cpu() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor CPU, scan and shuffle
    bytes, the job intervals, and the number of stages that ran a Python
    worker (`py_stages`). Stages skipped because their shuffle output was
    reused never complete, so they are not counted."""
    with open(path) as f:
        events = [json.loads(line) for line in f if line.strip()]
    job_group, job_t0 = {}, {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = g
            job_t0[ev["Job ID"]] = ev["Submission Time"]
            groups[g]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            g = groups[job_group[ev["Job ID"]]]
            g.setdefault("intervals", []).append((job_t0[ev["Job ID"]], ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = groups[stage_group[info["Stage ID"]]]
            g["stages"] += 1
            if any("Python" in a.get("Name", "") for a in info.get("Accumulables", [])):
                g["py_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group[ev["Stage ID"]]]
            m = ev.get("Task Metrics") or {}
            g["tasks"] += 1
            g["exec_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            g["scan_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            g["shuffle_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0) / 1e6
    return {g: dict(v) for g, v in groups.items()}


def rollup(groups: dict[str, dict], prefix: str) -> dict[str, float]:
    """Sum the metrics of every job group at or below `prefix`; the job
    span is the union of all their job intervals, not the sum."""
    acc: dict[str, float] = defaultdict(float)
    intervals = []
    for g, vals in groups.items():
        if g == prefix or g.startswith(prefix + "/"):
            for k, v in vals.items():
                if k == "intervals":
                    intervals.extend(v)
                else:
                    acc[k] += v
    acc["job_span_ms"] = _union_ms(intervals)
    return dict(acc)


class Tracer:
    """Layer spans and call counters of one traced run."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.op: str | None = None          # current "<op>#<round>" job group
        self.spans: list[tuple[str, str, float]] = []  # (op group, layer, seconds)
        self.counts: dict[tuple[str, str], int] = defaultdict(int)
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def op_group(self, group: str):
        self.op = group
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.op = None
            self.sc.setJobGroup("", "")

    def count(self, key: str) -> None:
        if self.op is not None:
            self.counts[(self.op, key)] += 1

    def _patch(self, owner, name: str, wrapper) -> None:
        self._undo.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, wrapper)

    def wrap_layer(self, owner, name: str, layer: str) -> None:
        """Time and count every call of owner.<name>, running its jobs in
        the sub-group `<op>/<layer>`."""
        fn = owner.__dict__[name]
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            parent = tracer.op
            if parent is None:
                return fn(*args, **kwargs)
            tracer.sc.setJobGroup(f"{parent}/{layer}", layer)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.spans.append((parent, layer, time.perf_counter() - t0))
                tracer.counts[(parent, f"{layer}.calls")] += 1
                tracer.sc.setJobGroup(parent, parent)

        self._patch(owner, name, wrapper)

    def count_calls(self, owner, name: str, key, pred=None) -> None:
        """Count calls of owner.<name> (optionally only those whose first
        argument after self satisfies `pred`) under `key`."""
        fn = owner.__dict__[name]
        tracer = self

        @functools.wraps(fn)
        def wrapper(self_, path, *args, **kwargs):
            if pred is None or pred(path):
                tracer.count(key)
            return fn(self_, path, *args, **kwargs)

        self._patch(owner, name, wrapper)

    def layer_ms(self, group: str, layer: str) -> float:
        return 1000 * sum(s for g, lay, s in self.spans if g == group and lay == layer)

    def restore(self) -> None:
        for owner, name, fn in reversed(self._undo):
            setattr(owner, name, fn)
        self._undo.clear()
