"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_billing --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it ("context: {...}") carries the run context: host steal share
and load, Spark master and parallelism, seed, round counts, and the
per-operation medians and attempted/failed counts. --trace 0 reports
the end-to-end metrics. --trace 1 is a separate run with the Spark event
log on and the layer wrappers in place; it reports the per-layer
metrics. Everything a run writes lives under a fresh temp root inside
the checkout, removed on exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import measure  # noqa: E402

WORKLOAD_NAMES = ("daily_billing", "table_dml", "corpus_dedup")

# A run times round(--seconds / the workload's nominal round length)
# whole rounds, at least MIN_ROUNDS. The count depends on --seconds
# only, never on how fast the rounds ran, so every run of a seed, traced
# or not, covers the same days and table versions.
MIN_ROUNDS = 2
# Ops of the workloads BENCHMARK.json lists: every traced run reports
# their layer metrics (0 where it does not run them) plus its own.
BENCH_OPS = ("batch", "readback", "append", "merge", "delete", "scan", "refresh",
             "dedup", "portable")
STORAGE_OPS = ("batch", "readback", "append", "merge", "delete", "scan", "refresh")
SPARK_KEYS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
              ("driver_ms", "ms"), ("job_span_ms", "ms"), ("exec_cpu_ms", "ms"),
              ("scan_mb", "MB"), ("shuffle_mb", "MB"))
STORAGE_KEYS = ("manifest_reads", "manifest_writes", "lists")


class Run:
    """Times the operations of one run and tallies their checks."""

    def __init__(self, tracer: measure.Tracer | None):
        self.tracer = tracer
        self.round = 0
        self.timed = False
        self.wall: dict[str, list[float]] = defaultdict(list)  # op -> ms, timed rounds
        self.cpu: dict[str, list[float]] = defaultdict(list)   # op -> s, timed rounds
        self.round_wall: dict[int, float] = defaultdict(float)
        self.round_cpu: dict[int, float] = defaultdict(float)
        self.round_jit: dict[int, float] = defaultdict(float)
        self.attempted: dict[str, int] = defaultdict(int)
        self.failed: dict[str, int] = defaultdict(int)
        self.errors: list[str] = []

    @contextlib.contextmanager
    def op(self, name: str):
        """Time one operation, under the job group `<name>#<round>` in a
        traced run. An operation that raises is not recorded."""
        group = (self.tracer.op_group(f"{name}#{self.round}") if self.tracer
                 else contextlib.nullcontext())
        with group:
            c0, j0 = measure.tree_cpu_s()
            t0 = time.perf_counter()
            yield
            ms = 1000 * (time.perf_counter() - t0)
            c1, j1 = measure.tree_cpu_s()
        if self.timed:
            jit = j1 - j0
            cpu = c1 - c0 - jit
            self.wall[name].append(ms)
            self.cpu[name].append(cpu)
            self.round_wall[self.round] += ms
            self.round_cpu[self.round] += cpu
            self.round_jit[self.round] += jit
            self.attempted[name] += 1

    def check(self, op: str, ok: bool, why: str) -> None:
        if not ok:
            self.errors.append(f"{op}: {why}")

    def status_op(self, name: str, ok: bool) -> None:
        """An operation that is only a check: attempted, and failed when
        the check does not hold, without making the run incorrect."""
        if self.timed:
            self.attempted[name] += 1
            self.failed[name] += 0 if ok else 1


def configure_env(tmp: str, cpus: int) -> None:
    """Set before pixelspark is imported: its session module reads
    SPARK_GRAFT_CPUS at import time."""
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": f"{tmp}/spark-local",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path.insert(1, ROOT)


def spark_session(tmp: str, cpus: int, traced: bool):
    """A session at local[cpus] whose scratch, temp and event-log files
    all live under `tmp`."""
    from pixelspark.session import get_spark

    conf = {
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        os.makedirs(f"{tmp}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{tmp}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it and every process the
    run started, and wait until each has ended. Left alone, the JVM
    exits only once it reads end-of-file on its stdin, after this
    process has gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = measure.descendants()
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 10
        for pid, start in procs.items():
            while measure.running(pid, start):
                if time.monotonic() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def install_tracer(spark) -> measure.Tracer:
    """Wrap the layer entry points the workloads reach (traced run only)."""
    import pixelspark.io as pio
    import pixelspark.job as pjob
    from pixelspark.storage import LocalStorage

    tr = measure.Tracer(spark.sparkContext)
    tr.wrap_layer(pio, "append_records", "io.append_records")
    tr.wrap_layer(pjob, "build_report", "report.build_report")
    manifest = lambda p: "/_manifests/" in p  # noqa: E731
    tr.count_calls(LocalStorage, "read_text", "storage.manifest_reads", manifest)
    tr.count_calls(LocalStorage, "write_text_atomic", "storage.manifest_writes", manifest)
    tr.count_calls(LocalStorage, "list", "storage.lists")
    return tr


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(run: Run, tr: measure.Tracer, groups: dict, wl, session: dict) -> dict:
    """Every per-layer metric, 0 where the workload does not exercise it."""
    rounds = sorted(run.round_wall)
    out: dict[str, tuple[float, str]] = {}
    for op in BENCH_OPS + tuple(op for op in wl.ops if op not in BENCH_OPS):
        per_round = []
        for r, ms in zip(rounds, run.wall.get(op, [])):
            g = measure.rollup(groups, f"{op}#{r}")
            g["driver_ms"] = max(ms - g["job_span_ms"], 0.0)
            for k in STORAGE_KEYS:
                g[k] = tr.counts.get((f"{op}#{r}", f"storage.{k}"), 0)
            per_round.append(g)
        for k, unit in SPARK_KEYS:
            out[f"{op}.{k}"] = (median(g.get(k, 0) for g in per_round), unit)
        if op in STORAGE_OPS:
            for k in STORAGE_KEYS:
                out[f"storage.{k}.{op}"] = (median(g[k] for g in per_round), "count")

    days = [f"batch#{r}" for r in rounds] if run.wall.get("batch") else []

    def per_day(fn) -> float:
        return median(fn(g) for g in days)

    def sub_jobs(g: str, layer: str) -> float:
        return groups.get(f"{g}/{layer}", {}).get("jobs", 0)

    out["io.append_records.calls"] = (per_day(lambda g: tr.counts.get((g, "io.append_records.calls"), 0)), "count")
    out["io.append_records.ms"] = (per_day(lambda g: tr.layer_ms(g, "io.append_records")), "ms")
    out["io.append_records.jobs"] = (per_day(lambda g: sub_jobs(g, "io.append_records")), "count")
    out["report.build_report.ms"] = (per_day(lambda g: tr.layer_ms(g, "report.build_report")), "ms")
    out["report.build_report.jobs"] = (per_day(lambda g: sub_jobs(g, "report.build_report")), "count")
    out["external.charge_passes"] = (per_day(lambda g: measure.rollup(groups, g).get("py_stages", 0)), "count")
    calls, charged = getattr(wl, "timed_calls", 0), getattr(wl, "timed_charged", 0)
    out["external.api_calls"] = (calls / len(days) if days else 0.0, "count")
    out["external.api_calls_per_charged_shop"] = (calls / charged if charged else 0.0, "ratio")
    out["storage.manifest_kb"] = (wl.manifest_kb() if hasattr(wl, "manifest_kb") else 0.0, "KB")
    corpus = getattr(wl, "corpus", None)
    out["llm.candidate_pairs"] = (corpus.candidate_pairs if corpus else 0, "count")
    out["llm.verified_pairs"] = (corpus.verified_pairs if corpus else 0, "count")
    out["llm.cc_rounds"] = (corpus.cc_rounds if corpus else 0, "count")
    out["session.start_s"] = (session["start_s"], "s")
    out["session.warmup_s"] = (session["warmup_s"], "s")
    return {k: {"value": round(v, 6), "unit": u} for k, (v, u) in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    traced = bool(args.trace)
    cpus = min(4, os.cpu_count() or 1)
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    spark = None
    # a timeout's SIGTERM unwinds through `finally`, so the temp root goes too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        configure_env(tmp, cpus)
        from workloads import WORKLOADS

        cls = WORKLOADS[args.workload]
        n_timed = max(MIN_ROUNDS, round(args.seconds / cls.round_s))
        steal0, total0 = measure.host_cpu()
        load0 = measure.loadavg()
        c0, j0 = measure.tree_cpu_s()
        t0 = time.perf_counter()
        spark = spark_session(tmp, cpus, traced)
        start_s = time.perf_counter() - t0
        tr = install_tracer(spark) if traced else None
        run = Run(tr)
        os.makedirs(f"{tmp}/work")
        wl = cls(spark, f"{tmp}/work", args.seed, cls.warmup_rounds + n_timed)
        wl.prepare()
        t1 = time.perf_counter()
        prepare_s = t1 - t0 - start_s
        warm = []
        for r in range(cls.warmup_rounds):
            run.round = r
            wl.round(r, run)
            warm.append(round(time.perf_counter() - t1 - sum(warm), 3))
        setup_wall_s = time.perf_counter() - t0
        warmup_s = time.perf_counter() - t1
        c1, j1 = measure.tree_cpu_s()
        setup_jit_s = j1 - j0
        setup_cpu_s = c1 - c0 - setup_jit_s

        run.timed = True
        wl.start_timed()
        t2 = time.perf_counter()
        for r in range(cls.warmup_rounds, cls.warmup_rounds + n_timed):
            run.round = r
            wl.round(r, run)
        measured_s = time.perf_counter() - t2
        wl.end_timed(traced)
        parallelism = spark.sparkContext.defaultParallelism
        steal1, total1 = measure.host_cpu()
        load1 = measure.loadavg()
        stop_spark(spark)
        spark = None

        if traced:
            logs = os.listdir(f"{tmp}/eventlog")
            groups = measure.parse_event_log(f"{tmp}/eventlog/{logs[0]}")
            metrics = layer_metrics(run, tr, groups, wl, {"start_s": start_s, "warmup_s": warmup_s})
            tr.restore()
        else:
            cpu_p50s = [median(run.cpu[op]) for op in cls.ops]
            metrics = {
                "setup_s": {"value": round(setup_cpu_s, 4), "unit": "s"},
                "round_cpu_s": {"value": round(median(run.round_cpu.values()), 4), "unit": "s"},
                "op_cpu_geomean_s": {
                    "value": round(math.exp(statistics.fmean(math.log(c) for c in cpu_p50s)), 4),
                    "unit": "s"},
            }
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "master": f"local[{cpus}]", "default_parallelism": parallelism,
            "warmup_rounds": cls.warmup_rounds, "timed_rounds": n_timed,
            "measured_s": round(measured_s, 3),
            "setup_wall_s": round(setup_wall_s, 3), "setup_jit_cpu_s": round(setup_jit_s, 3),
            "setup_phases_s": {"session": round(start_s, 3), "inputs": round(prepare_s, 3),
                               "warmup_rounds": warm},
            "steal_share": round((steal1 - steal0) / max(total1 - total0, 1), 4),
            "loadavg_start": load0, "loadavg_end": load1,
            "round_p50_ms": round(median(run.round_wall.values()), 3),
            "op_p50_ms": {op: round(median(run.wall[op]), 3) for op in cls.ops},
            "op_cpu_p50_s": {op: round(median(run.cpu[op]), 3) for op in cls.ops},
            "round_jit_cpu_s": round(median(run.round_jit.values()), 3),
            "round_cpu_s_each": [round(run.round_cpu[r], 3) for r in sorted(run.round_cpu)],
            "round_jit_cpu_s_each": [round(run.round_jit[r], 3) for r in sorted(run.round_jit)],
            "attempted": dict(run.attempted), "failed": dict(run.failed),
            "errors": run.errors[:10],
        }
        print("context: " + json.dumps(context, sort_keys=True))
        print(json.dumps({
            "correct": not run.errors,
            "attempted": sum(run.attempted.values()),
            "failed": sum(run.failed.values()),
            "metrics": metrics,
        }))
        return 0
    finally:
        try:
            if "pyspark" in sys.modules:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(scratch)  # only if no other run is using it
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
