"""Spans around the package's public entry points, plus a Spark event-log
reader that charges each job, stage and task to the span that ran it.

A span records its name, parent, start and end (wall clock). Each span
also sets the Spark local property ``lakebench.span`` on the calling
thread, so every job it submits carries the span id into the event log;
streaming queries inherit it from the thread that started them. Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

PROP = "lakebench.span"


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "info")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.id, self.name, self.parent = sid, name, parent
        self.start, self.end = time.time(), None
        self.info: dict = {}

    @property
    def wall(self) -> float:
        return (self.end or time.time()) - self.start


class NullTracer:
    """The untraced path: every hook is free."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def materialize(self, frames: dict, layer: str, pk: dict | None = None) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._stacks: dict[int, list[Span]] = {}
        self._lock = threading.Lock()

    # -- span stack ---------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            self._stacks[threading.get_ident()] = st
        return st

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        # helper threads (a dimension-build pool, a foreachBatch callback)
        # nest under whatever the main thread has open
        main = self._stacks.get(self._main.ident) or []
        return main[-1] if main else None

    def open(self, name: str) -> Span:
        with self._lock:
            sp = Span(len(self.spans), name, self.current())
            self.spans.append(sp)
        sp.info["_prev"] = self.sc.getLocalProperty(PROP)
        self.sc.setLocalProperty(PROP, str(sp.id))
        self._stack().append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        self.sc.setLocalProperty(PROP, sp.info.pop("_prev", None))

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- layer boundaries ---------------------------------------------
    def materialize(self, frames: dict, layer: str, pk: dict | None = None) -> None:
        """Cache and count each frame inside the open span, so the layer's
        work is charged to it rather than to its consumer."""
        from pyspark.sql import functions as F

        for entity, df in frames.items():
            df.cache()
            aggs = [F.count(F.lit(1)).alias("n")]
            if pk:
                aggs.append(F.sum(F.col(pk[entity]).isNull().cast("int")).alias("nulls"))
            row = df.agg(*aggs).collect()[0]
            self.counters[f"{layer}.rows"] += row["n"]
            if pk:
                self.counters[f"{layer}.null_pk"] += row["nulls"] or 0

    # -- reporting ----------------------------------------------------
    def walls(self, name: str) -> float:
        return sum(s.wall for s in self.spans if s.name == name)

    def instances(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, name: str) -> float:
        """Wall of every ``name`` span minus the part its children cover
        (children of one span run one after another here)."""
        return sum(sp.wall - sum(c.wall for c in self.spans if c.parent is sp)
                   for sp in self.instances(name))


def patch_package(tracer: Tracer, lake_cls) -> list:
    """Wrap the package's layer entry points in spans. Returns the undo
    list for ``unpatch``."""
    from ubeardw_databricks_lakehouse_spark.pipelines import gold

    undo = []

    def setattr_undo(obj, attr, value):
        undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, value)

    def storage(op: str, fn):
        @functools.wraps(fn)
        def traced(self, name, *a, **kw):
            root = self.path(name)
            before = _files(root)
            sp = tracer.open(f"storage.{op}")
            try:
                return fn(self, name, *a, **kw)
            finally:
                tracer.close(sp)
                after = _files(root)
                new = {k: s for k, s in after.items() if k not in before}
                sp.info.update(
                    table=name,
                    files=len(new),
                    bytes=sum(new.values()),
                    table_bytes=sum(after.values()),
                )
                fact = tracer.current()
                if fact is not None and fact.name == "gold.fact" and fact.end is None:
                    tracer.close(fact)

        return traced

    setattr_undo(lake_cls, "overwrite", storage("overwrite", lake_cls.overwrite))
    setattr_undo(lake_cls, "upsert", storage("upsert", lake_cls.upsert))

    def scd2(fn):
        # records only the new-version count the call returns; the input
        # key counts come from the benchmark's own inputs, so no extra job
        @functools.wraps(fn)
        def traced(lake, table, *a, **kw):
            existed = lake.exists(table)
            with tracer.span("scd2") as sp:
                n_new = fn(lake, table, *a, **kw)
            if existed:
                sp.info.update(table=table, new_versions=n_new)
            return n_new

        return traced

    setattr_undo(gold, "apply_scd2", scd2(gold.apply_scd2))

    def gold_fact(fn):
        # build_trip_fact is lazy: the gold.fact span opens here and is
        # closed by the trip_fact upsert that executes the plan
        @functools.wraps(fn)
        def traced(*a, **kw):
            tracer.open("gold.fact")
            return fn(*a, **kw)

        return traced

    setattr_undo(gold, "build_trip_fact", gold_fact(gold.build_trip_fact))
    return undo


def unpatch(undo: list) -> None:
    for obj, attr, value in reversed(undo):
        setattr(obj, attr, value)


def _files(root: str) -> dict[tuple, int]:
    """Data files under ``root`` as (path, mtime, inode) -> size, so a file
    rewritten in place still reads as new."""
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")) or n.endswith(".crc"):
                continue
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[(p, st.st_mtime_ns, st.st_ino)] = st.st_size
    return out


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except FileNotFoundError:
                pass
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from the (finished) Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "run_ms": 0, "shuffle_b": 0, "spill_b": 0, "failed": 0})
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    span = props.get(PROP)
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "span": int(span) if span not in (None, "") else None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    if info.get("Failed"):
                        st["failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None:
            jobs[jid].setdefault("ran", []).append(st)
    return jobs


def attribute(tracer: Tracer, jobs: dict) -> dict[int, list[dict]]:
    """Span id -> jobs it submitted. A job without the span property is
    charged by time to the latest-started span, on any thread, that was
    open when the job was submitted."""
    by_span: dict[int, list[dict]] = defaultdict(list)
    for job in jobs.values():
        sid = job["span"]
        if sid is None or sid >= len(tracer.spans):
            best = None
            for s in tracer.spans:
                if s.start <= job["start"] <= (s.end or job["start"]):
                    if best is None or s.start >= best.start:
                        best = s
            if best is None:
                continue
            sid = best.id
        by_span[sid].append(job)
    return by_span


def span_work(tracer: Tracer, by_span: dict, name: str, cores: int,
              exclude: str | None = None) -> dict[str, float]:
    """Spark work under every instance of span ``name`` (descendants
    included), minus any subtree named ``exclude``."""
    roots = tracer.instances(name)
    wall = 0.0
    jobs: list[dict] = []
    gap = 0.0
    for root in roots:
        mine = []
        for s in tracer.spans:
            if _under(s, root) and not (exclude and _under_name(s, exclude, root)):
                mine.extend(by_span.get(s.id, []))
        ex_wall = sum(
            s.wall for s in tracer.spans
            if exclude and s.name == exclude and _under(s, root)
        )
        w = root.wall - ex_wall
        wall += w
        jobs.extend(mine)
        covered = _union(
            [(max(j["start"], root.start), min(j["end"] or root.end, root.end))
             for j in mine]
        )
        gap += max(0.0, w - covered)
    ran = [st for j in jobs for st in j.get("ran", [])]
    tasks = sum(st["tasks"] for st in ran)
    run_s = sum(st["run_ms"] for st in ran) / 1000.0
    return {
        "jobs": float(len(jobs)),
        "tasks_per_stage": tasks / len(ran) if ran else 0.0,
        "busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        "shuffle_mb": sum(st["shuffle_b"] for st in ran) / 1e6,
        "spill_mb": sum(st["spill_b"] for st in ran) / 1e6,
        "driver_gap_s": gap,
        "task_failures": float(sum(st["failed"] for st in ran)),
    }


def _under(s: Span, root: Span) -> bool:
    while s is not None:
        if s is root:
            return True
        s = s.parent
    return False


def _under_name(s: Span, name: str, root: Span) -> bool:
    while s is not None and s is not root:
        if s.name == name:
            return True
        s = s.parent
    return False


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
