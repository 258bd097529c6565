"""SparkSession factory tuned for the lakehouse workload.

The reference runs on Databricks with AQE + partition coalescing on
(reference: jobs/gold_pipeline_config.json:40-47) and Delta
optimizeWrite/autoCompact (jobs/batch_job.json:85-86). We reproduce the
engine-level knobs on OSS Spark and, when the ``delta-spark`` package is
importable, enable the Delta Lake catalog; otherwise the storage layer
falls back to parquet tables (see storage/lakehouse.py).

Scale notes (100 TB design intent):
- AQE is the primary runtime re-planner: skew-join splitting, partition
  coalescing, and dynamic broadcast conversion are all enabled.
- ``spark.sql.shuffle.partitions`` defaults to cores*2 locally; on a
  1000-executor cluster set it (or rely on AQE coalescing from a high
  initial number, e.g. 2000-8000 for 100 TB shuffles).
- ANSI mode is left ON (Spark 4 default): the engine uses try_* /
  explicit guards where the CDC input may be malformed, so correctness
  does not depend on silent-null casts.
"""

from __future__ import annotations

import math
import os
import re
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Python UDF/pandas_udf closures reference this module by name; when
    the SparkSession was created by an external driver (whose
    PYTHONPATH doesn't include the repo), workers fail to unpickle
    them. Zip the package once per session and addPyFile it — Spark
    distributes the zip and prepends it to every worker's sys.path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_ubeardw_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg_name = os.path.basename(pkg_root)
    fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="ubeardw_pkg_")
    os.close(fd)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        pkg_name, os.path.relpath(full, pkg_root)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._ubeardw_pkg_shipped = True


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except Exception:
        return False


def get_spark(
    app_name: str = "ubeardw-lakehouse",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: coalesce post-shuffle partitions, split skewed
        # joins, convert SMJ->BHJ when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / toPandas (the LLM-pipeline operators are
        # Arrow-batched; row-at-a-time Python is banned from the hot path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold: dims in this warehouse are small; 64 MB keeps
        # dim joins map-side at sf0.1 and on real clusters.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # driver testdata ships TIMESTAMP(NANOS) parquet; read as long
        # and truncate to micros in plans.common.normalize_event_ts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if delta_available():
        builder = (
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


_SCOPES = threading.local()


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, registered with the innermost
    ``checkpoint_scope`` open on this thread (if any) so the scope frees
    its blocks on exit. With no scope open it is a plain eager local
    checkpoint. Long-lived state — a frame that outlives the unit of
    work that builds it, like the cached ivfpq index — must use plain
    ``localCheckpoint`` and an explicit owner release instead."""
    out = df.localCheckpoint(eager=True)
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        stack[-1].append(out)
    return out


@contextmanager
def checkpoint_scope():
    """Lifetime of every ``checkpoint`` taken on this thread inside the
    block: on exit (normal or raised) each one is released with
    ``release_local_checkpoint``. The owner of a unit of work — a bench
    rep, a foreachBatch call, an index build — opens the scope; the
    operators it calls just ``checkpoint``. Scopes nest (a frame belongs
    to the innermost one) and are per thread. Anything derived from a
    scoped checkpoint must be consumed (written, collected, or
    re-checkpointed outside the scope's frames) before the block ends:
    a read after release recomputes from an empty lineage."""
    if not hasattr(_SCOPES, "stack"):
        _SCOPES.stack = []
    stack = _SCOPES.stack
    frames: list[DataFrame] = []
    stack.append(frames)
    try:
        yield
    finally:
        stack.pop()
        for df in frames:
            release_local_checkpoint(df)


def release_local_checkpoint(df, allow_projection: bool = False) -> bool:
    """Free the pinned blocks of an eagerly ``localCheckpoint``-ed
    DataFrame NOW instead of waiting for the JVM ContextCleaner.

    ``df.unpersist()`` does NOT release checkpoint blocks (it targets
    the cache manager, and a checkpointed frame is a LogicalRDD, not
    an InMemoryRelation) and dropping the Python reference frees them
    only on an eventual GC cycle — blocks stay pinned after del +
    gc.collect() + System.gc() on this runtime, so a long-lived
    session accretes every checkpoint it never releases.

    Call sites rarely need this directly: take query- and call-private
    checkpoints with ``checkpoint`` and let the owner's
    ``checkpoint_scope`` release them. Direct calls remain for two
    cases — iterative loops releasing the round they just superseded
    (bounding memory within one call), and owners of long-lived state
    retiring it (``plans.llm_q.invalidate_ivfpq_index``).

    Only call on a frame that is truly dead — a checkpointed frame
    read after release recomputes from an EMPTY lineage and returns
    wrong results. Returns True when blocks were actually released,
    False for a no-op. Accepts the checkpoint frame itself OR — with
    ``allow_projection=True`` — a plan over exactly one checkpoint
    leaf (e.g. the ``.drop()`` projection an iterative loop carries);
    multi-leaf plans are always left alone (another leaf might be
    live). ``allow_projection`` defaults to False because the
    single-leaf path cannot tell whether that leaf checkpoint is
    SHARED with another live DataFrame; opt in only when the caller
    owns every derivation of the checkpoint.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
            return True
        leaves = plan.collectLeaves()
        if allow_projection and leaves.size() == 1:
            leaf = leaves.apply(0)
            if leaf.getClass().getName().endswith(".LogicalRDD"):
                leaf.rdd().unpersist(False)
                return True
    except Exception:
        pass
    return False


_BYTE_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}


def _byte_string(value: str, unit: int = 1) -> int:
    """Bytes in a Spark size string: ``"-1"``, ``"10485760b"``,
    ``"10m"``, ``"64MB"``, ``"1g"``. A bare number counts in ``unit``
    bytes (1 for size confs; memory confs such as
    ``spark.executor.memory`` read a bare number as MiB)."""
    m = re.fullmatch(r"(-?\d+)\s*([bkmgtp]?)b?", value.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark byte string: {value!r}")
    num, suffix = int(m.group(1)), m.group(2)
    return num * (_BYTE_UNITS[suffix] if suffix else unit)


def _broadcast_threshold(spark) -> int:
    try:
        return _byte_string(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        return 10 * 1024 * 1024  # planner default — assume broadcasts allowed


def _heap_bytes(spark) -> int:
    """min(driver heap, executor heap): an explicit ``F.broadcast`` is
    collected and hydrated on the driver before it ships, so a small
    driver next to big executors bounds the budget. The driver heap is
    the JVM's own ``maxMemory`` when a JVM handle exists, else the
    configured ``spark.driver.memory``; the executor heap is the
    configured ``spark.executor.memory`` (unset in local mode, where
    the driver JVM is the executor). Unknowable parts fall back to
    Spark's 1 GiB default."""
    mib = 1 << 20
    try:
        driver = int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        try:
            driver = _byte_string(spark.conf.get("spark.driver.memory", "1g"), mib)
        except Exception:
            driver = 1 << 30
    try:
        executor = _byte_string(spark.conf.get("spark.executor.memory"), mib)
    except Exception:  # unset: local mode, the driver JVM is the executor
        executor = driver
    return min(driver, executor)


_HYDRATION = 4  # hash-relation bytes per unsafe-row byte on narrow rows


def resolve_broadcast_rows(spark, bytes_per_row: int) -> int:
    """Session-derived ROW budget behind ``broadcast_gate``, the
    iterative operators' explicit broadcasts (pagerank's rank vector,
    LPA's label vector, the triangle wedge probes, CC's endpoint
    labels) — r13 verdict #7: the former 4M-row literals assumed one
    memory geometry; derive the gate from the session the way
    ``sized_hash_build`` does, so small executors shrink it and big
    ones relax it.

    Derivation (guide §3.1/§5):

    - broadcast disabled for the session
      (``spark.sql.autoBroadcastJoinThreshold`` < 0) -> 0: the operator
      falls back to its shuffle path — the explicit hint must respect
      the session-wide opt-out (pinned by a plan test).
    - otherwise ``budget = max(threshold, heap/32)`` bytes, with
      ``heap = min(driver, executor)`` (``_heap_bytes``): never less
      than what the session already authorizes the planner to broadcast
      on its own, at most ~3% of the heap per relation (a hydrated hash
      relation must coexist with execution memory; guide §3.1 "a few
      hundred MB is usually fine, multiple GB is asking for OOMs"),
      capped well under Spark's 8 GB broadcast hard limit.
    - rows = budget / (``bytes_per_row`` × ``_HYDRATION``): 4x covers
      the unsafe-row + hash-relation overhead on narrow rows.

    Only public session APIs plus an optional JVM heap probe are used,
    so a session without a JVM handle (Spark Connect) degrades to the
    configured memory sizes instead of raising. At the shipped 8 GB
    local session this lands within ~5% of the r13 4M-row literal for
    16-byte edge rows.
    """
    thr = _broadcast_threshold(spark)
    if thr < 0:
        return 0
    budget = min(max(thr, _heap_bytes(spark) // 32), 2 << 30)
    return budget // (bytes_per_row * _HYDRATION)


def broadcast_gate(spark, rows=None):
    """The package's only explicit broadcast: returns ``F.broadcast``
    or the identity, to wrap the small side of a join.

    The rule: a side whose size Catalyst can see broadcasts when the
    planner's statistics put it under
    ``spark.sql.autoBroadcastJoinThreshold`` — no hint. This gate is
    for the sides it cannot see or overestimates: checkpointed frames
    (ExistingRDDs: an iterative operator's round state, the IVF
    centroids, the PQ codebook), joined frames whose estimate
    multiplies their inputs, and grouped aggregates and filtered slices
    that Catalyst sizes at the rows they read. Without it the big side
    (an edge set, a wedge set, a corpus) sort-merges against a table
    that is noise next to it.

    The gate forces the broadcast only when the session allows it:
    with ``spark.sql.autoBroadcastJoinThreshold`` < 0 it returns the
    identity without calling ``rows`` (a disabled session pays no count
    job), so such a session plans no broadcast anywhere in the package
    — its equi-joins shuffle, and its keyless joins (a scalar
    ``crossJoin``, the N×K IVF cell scoring) plan as a
    CartesianProduct. Otherwise ``rows`` — a zero-argument callable
    giving the small side's row count, typically a ``count`` of
    just-materialized checkpoint blocks — is checked against
    ``resolve_broadcast_rows(spark, 16)``; ``rows=None`` declares the
    side small by construction (K centroids, a codebook, one row per
    group, an ingest delta, an eval or query set) and broadcasts it. Join strategy never
    changes a join's rows."""
    budget = resolve_broadcast_rows(spark, 16)
    if budget and (rows is None or rows() <= budget):
        return F.broadcast
    return _identity


def _identity(df: DataFrame) -> DataFrame:
    return df


# average rows per hash build of ``sized_hash_build``: the 64M-point /
# 256-partition rung that ran OOM-free on an 8g heap (a point row is
# ~24 bytes of payload, so single-digit MB per build)
TARGET_BUILD_ROWS = 250_000


def sized_hash_build(build: DataFrame, keys: list[str], rows) -> DataFrame:
    """The build side of an exploded equi-join (radius_join's home
    cells, range_join_binned's binned points), planned from the sizes
    the session can see.

    Catalyst's own estimate of ``build``
    (``optimizedPlan().stats().sizeInBytes`` — free, no job) at or
    below ``spark.sql.autoBroadcastJoinThreshold``: ``build`` comes back
    unchanged and the planner broadcasts it, which is optimal at this
    size (a hash hint would force a shuffle none needs); ``rows`` is
    never called. Otherwise — above the threshold, broadcasts disabled
    (threshold < 0), or no estimate (a session without a JVM handle) —
    ``build`` is repartitioned on the join ``keys`` to
    ``max(shuffle.partitions, ceil(rows() / TARGET_BUILD_ROWS))``
    partitions and hinted SHUFFLE_HASH. The join reuses that
    partitioning (EnsureRequirements shuffles only the exploded probe
    side to match), so each per-map hash build holds
    ~``TARGET_BUILD_ROWS`` rows on average whatever the total.

    Measured at the 64M-point / 8g single-box spill wall: a
    SortMergeJoin's wall is the external SORT of the exploded side
    (177-199 s), the sized hash build runs 129 s with no sort, and an
    under-partitioned hash build OOMs outright (32 partitions) — hence
    the sizing. ``rows`` is a zero-argument callable giving the build
    side's row count (the ``broadcast_gate`` convention), so a
    broadcast-sized build pays no count job; above the threshold the
    count is amortized against a join that size.

    Skew: hash partitioning puts a hot key (a dense cell, a hot bin)
    whole in one partition, so concentrated data can exceed the
    average bound — shrink the cell or bin for known-hot keys. A wrong
    estimate (a selective filter under a raw scan inflates it) costs a
    shuffle, never rows: join strategy does not change a join's result.
    """
    try:
        size = int(str(
            build._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        size = -1  # no estimate -> assume big (safe at scale)
    spark = build.sparkSession
    if 0 <= size <= _broadcast_threshold(spark):
        return build
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_parts = max(parts, math.ceil(rows() / TARGET_BUILD_ROWS))
    return build.repartition(n_parts, *keys).hint("SHUFFLE_HASH")
