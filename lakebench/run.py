"""Lakehouse benchmark: one workload per run, in one Spark process.

    python3 lakebench/run.py --workload lakehouse_day --seed 1 --seconds 14 --trace 0

Run from the repository root. The package is imported from the current
directory; everything the run writes lives under ``.lakebench_work/`` and
is removed at exit.

Protocol:
* the session is pinned to ``local[nproc]`` with ``nproc`` shuffle
  partitions; Spark's local dirs and the temp dir sit in the work dir;
* ``setup_s`` = session start + the median of three input generations
  (``lakehouse_day``; ``query_mix`` reads fixed tables) + the warm-up
  (codegen, Python workers and most of the JIT are paid there);
* the timed region runs whole cycles until ``--seconds`` have passed
  (at least one); every operation is timed from outside the package, in
  wall seconds and in CPU seconds of the whole process tree (this driver,
  the Spark JVM and its Python workers), and its output checked off the
  clock. The contract metrics are the CPU figures: on a shared host the
  wall clock moves with other tenants' load, the CPU spent does not;
  the wall figures are in the report line;
* ``--trace 1`` runs one traced and then one untraced cycle instead, and
  reports per-layer metrics from spans and Spark's event log, plus the
  tracing overhead (traced minus untraced cycle wall);
* ``--corrupt`` drops one row of a checked output, to show the checks
  fail; the run must then report ``"correct": false``.

The last line of stdout is the result JSON; the line before it is a
report with the workload's own figures by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

SPANS = ["sources", "silver", "gold.dims", "gold.fact", "streaming.batch",
         "plans.warehouse", "plans.corpus"]
SPAN_METRICS = [("jobs", "count"), ("tasks_per_stage", "count"), ("busy_frac", "ratio"),
                ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("driver_gap_s", "s"),
                ("task_failures", "count")]
END_TO_END = [("setup_s", "s"), ("cycle_cpu_s", "cpu_s")]
# HotSpot's JIT compiler threads, as /proc truncates their names
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    from querymix import QUERIES

    out = [
        ("sources.s", "s"), ("sources.envelopes", "count"), ("sources.null_after_frac", "ratio"),
        ("silver.s", "s"), ("silver.rows_out", "count"), ("silver.kept_frac", "ratio"),
        ("gold.dims_s", "s"), ("gold.fact_s", "s"),
        ("scd2.s", "s"), ("scd2.changed_frac", "ratio"),
        ("storage.overwrite_s", "s"), ("storage.upsert_s", "s"),
        ("storage.files_written", "count"), ("storage.written_mb", "MB"),
        ("storage.rewrite_frac", "ratio"), ("storage.lake_mb", "MB"),
        ("streaming.bronze.trigger_s", "s"), ("streaming.silver.trigger_s", "s"),
        ("streaming.fact.add_batch_s", "s"), ("streaming.commit_s", "s"),
        ("streaming.startup_s", "s"),
    ]
    for q in QUERIES:
        out += [(f"plans.{q}.s", "s"), (f"plans.{q}.jobs", "count")]
    for span in SPANS:
        out += [(f"{span}.{m}", unit) for m, unit in SPAN_METRICS]
    out += [("trace.overhead_s", "s"), ("session.pinned_mb", "MB")]
    return out


class Run:
    """Times operations from outside, records their checks, and keeps the
    set-up breakdown."""

    def __init__(self, spark, work: str, seed: int, corrupt: bool):
        from spans import NullTracer

        self.spark, self.work, self.seed, self.corrupt = spark, work, seed, corrupt
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.phase = "setup"
        self.setup_parts: dict[str, float] = {}
        self.null_tracer = NullTracer()
        self.check_s = 0.0

    def op(self, kind: str, fn, check=None) -> bool:
        """Times ``fn`` and then runs its check off the clock. An operation
        that raises is recorded as failed, not propagated; returns whether
        ``fn`` completed, so a caller can end its cycle early."""
        rec = {"phase": self.phase, "kind": kind, "s": 0.0, "cpu": 0.0, "ok": True}
        self.ops.append(rec)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as e:
            rec["ok"] = False
            self.failures.append(f"{kind}: {type(e).__name__}: {e}"[:500])
        rec["s"] = time.perf_counter() - t0
        rec["cpu"] = tree_cpu_s() - cpu0
        if not rec["ok"]:
            return False
        if check:
            self._verdict(rec, check)
        return True

    def check(self, kind: str, fn) -> None:
        """An off-clock check charged to the latest operation of ``kind``."""
        rec = next(r for r in reversed(self.ops) if r["kind"] == kind)
        self._verdict(rec, fn)

    def _verdict(self, rec: dict, fn) -> None:
        t0 = time.perf_counter()
        try:
            bad = fn()
        except Exception as e:
            bad = [f"check raised {type(e).__name__}: {e}"[:500]]
        self.check_s += time.perf_counter() - t0
        if bad:
            rec["ok"] = False
            self.failures += [f"{rec['kind']}: {b}" for b in bad]

    def repeat_setup(self, fn, times: int = 3):
        walls, out = [], None
        for _ in range(times):
            t0 = time.perf_counter()
            out = fn()
            walls.append(time.perf_counter() - t0)
        self.setup_parts["inputs_s"] = statistics.median(walls)
        return out

    def warm(self, fn) -> None:
        self.phase = "warm"
        t0 = time.perf_counter()
        fn()
        self.setup_parts["warmup_s"] = time.perf_counter() - t0
        self.phase = "timed"

    def timed(self, kind: str | None = None, phase: str = "timed",
              field: str = "s") -> list[float]:
        return [r[field] for r in self.ops
                if r["phase"] == phase and (kind is None or r["kind"] == kind)]

    def cycle_totals(self, first_op: int) -> dict:
        """Wall and CPU seconds of the operations since ``first_op``."""
        ops = self.ops[first_op:]
        return {"ops_s": sum(r["s"] for r in ops), "ops_cpu_s": sum(r["cpu"] for r in ops)}

    def traced_ops(self, kind: str) -> list[float]:
        return self.timed(kind, phase="traced")


def median(values) -> float:
    """The median, or 0.0 when a failed cycle ended before any sample."""
    values = list(values)
    return statistics.median(values) if values else 0.0


def cpu_stat() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, as bench.py samples them."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError):
        return None


def read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, the fields after it) of a ``/proc`` stat file, or None if
    the process or thread has exited."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and all its descendants
    (this driver, the Spark JVM, its Python workers; live ones and those
    already reaped), less the JVM's JIT compiler threads: a run ends long
    before compilation settles, and how much of it lands in a given cycle
    depends on timing, not on the program."""
    children: dict[int, list[int]] = {}
    procs: dict[int, tuple[str, int]] = {}
    for entry in os.listdir("/proc"):
        stat = read_stat(f"/proc/{entry}/stat") if entry.isdigit() else None
        if stat:
            comm, fields = stat
            children.setdefault(int(fields[1]), []).append(int(entry))
            procs[int(entry)] = comm, sum(int(v) for v in fields[11:15])  # u+s, own+reaped
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        comm, ticks = procs.get(pid, ("", 0))
        total += ticks
        todo += children.get(pid, [])
        if comm != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            stat = read_stat(f"/proc/{pid}/task/{tid}/stat")
            if stat and stat[0].startswith(JIT_THREADS):
                total -= int(stat[1][11]) + int(stat[1][12])
    return total / os.sysconf("SC_CLK_TCK")


def pinned_mb(spark) -> float:
    """Memory and disk held by persisted and checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def start_session(work: str, nproc: int, trace: bool):
    from ubeardw_databricks_lakehouse_spark.core.session import get_spark, ship_package

    tmp = os.path.join(work, "tmp")
    conf = {
        # compiler threads that live as long as the JVM, so the CPU they
        # spend can be told apart from the program's (see tree_cpu_s)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="lakebench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


def stop_session(spark) -> None:
    """Stops Spark and waits for its JVM (and so its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["lakehouse_day", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="drop one row of a checked output (checker self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, os.getcwd())
    try:
        import ubeardw_databricks_lakehouse_spark  # noqa: F401
    except ImportError:
        print("lakebench: run from the repository root; the package "
              "ubeardw_databricks_lakehouse_spark is not importable here",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(os.getcwd(), ".lakebench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(TMPDIR=os.path.join(work, "tmp"),
                      SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                      SPARK_GRAFT_CPUS=str(nproc))
    tempfile.tempdir = os.path.join(work, "tmp")
    meta = {"nproc": nproc, "loadavg_start": os.getloadavg()[0], "seed": args.seed}
    wall0 = time.perf_counter()
    cpu0 = cpu_stat()

    spark = None
    crashed = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, nproc, bool(args.trace))
        session_s = time.perf_counter() - t0
        result = run_workload(spark, work, args, nproc)
        result["setup_s"] = session_s + sum(result["ctx"].setup_parts.values())
        meta.update(session_s=session_s, **result["ctx"].setup_parts)
    except Exception:
        crashed = traceback.format_exc()
        result = None
    finally:
        if spark is not None:
            stop_session(spark)

    cpu1 = cpu_stat()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        meta["steal_frac"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    try:
        if crashed or result is None:
            print(crashed or "lakebench: no result", file=sys.stderr)
            return 1
        meta.update(check_s=result["ctx"].check_s, wall_s=time.perf_counter() - wall0,
                    cycles_s=[c["ops_s"] for c in result["cycles"]],
                    cycles_cpu_s=[c["ops_cpu_s"] for c in result["cycles"]],
                    ops=[[r["phase"], r["kind"], round(r["s"], 3), round(r["cpu"], 2)]
                         for r in result["ctx"].ops])
        emit(result, args, work, nproc, meta)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def run_workload(spark, work: str, args, nproc: int) -> dict:
    from lakehouse import LakehouseDay
    from querymix import QueryMix

    ctx = Run(spark, work, args.seed, args.corrupt)
    wl = {"lakehouse_day": LakehouseDay, "query_mix": QueryMix}[args.workload](ctx)
    wl.setup()
    out = {"ctx": ctx, "workload": wl, "cycles": []}
    if args.trace:
        # traced first: JIT still settling makes that cycle slower, so
        # the overhead read against the untraced one errs high, not low
        from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

        from spans import Tracer, patch_package, unpatch

        tracer = Tracer(spark)
        undo = patch_package(tracer, Lakehouse)
        ctx.phase = "traced"
        try:
            out["traced"] = wl.cycle("traced", tracer=tracer)
        finally:
            unpatch(undo)
            ctx.phase = "timed"
        out["tracer"] = tracer
    t0 = time.perf_counter()
    while True:
        out["cycles"].append(wl.cycle(f"c{len(out['cycles'])}"))
        if args.trace or time.perf_counter() - t0 >= args.seconds:
            break
    out["pinned_mb"] = pinned_mb(spark)
    return out


def emit(result: dict, args, work: str, nproc: int, meta: dict) -> None:
    ctx, wl = result["ctx"], result["workload"]
    failed = sum(1 for r in ctx.ops if not r["ok"])
    attempted = len(ctx.ops)
    e2e, report = wl.summarize(result["cycles"])
    e2e["setup_s"] = result["setup_s"]
    report.update(failed_frac=(failed / attempted, "ratio"),
                  pinned_mb=(result["pinned_mb"], "MB"))
    if args.trace:
        from spans import attribute, read_event_log

        tracer = result["tracer"]
        by_span = attribute(tracer, read_event_log(os.path.join(work, "eventlog")))
        layers = {name: 0.0 for name, _ in layer_metrics()}
        layers.update(wl.layers(tracer, by_span, result["traced"], nproc))
        layers["trace.overhead_s"] = result["traced"]["ops_s"] - result["cycles"][0]["ops_s"]
        layers["session.pinned_mb"] = result["pinned_mb"]
        report["tracing_overhead_s"] = (layers["trace.overhead_s"], "s")
        metrics = {name: {"value": layers[name], "unit": unit}
                   for name, unit in layer_metrics()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    for msg in ctx.failures:
        print(f"lakebench: FAILED {msg}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "meta": meta, "report": {
        k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.exit(main())
