"""Lakehouse table storage with MERGE semantics.

The reference stores everything in Delta Lake and relies on
``DeltaTable.merge`` for SCD2 expiry and fact upserts (reference:
pipelines/gold_pipeline.py:187-195, 789-796). This module provides one
API over two backends:

- **delta** (used automatically when the ``delta-spark`` package is
  importable): native ``DeltaTable.merge`` — ACID, file-skipping,
  OPTIMIZE-able. This is the backend a real cluster runs.
- **parquet** (fallback when delta-spark is not installed):
  the same logical semantics computed as DataFrame joins and committed
  by a link flip. Correctness-equivalent for a single writer, which is
  what the tests and the bench exercise.

Every commit goes through this class: callers use ``overwrite``,
``append`` and ``upsert`` and never pick a backend protocol. On parquet
a table ``<root>/<name>`` is a symlink to its live version directory
``<root>/.v-<name>-<uuid>``. Every rewrite, and the creation of a
missing table, writes a complete new version and makes it live with one
``os.replace`` of a fresh link over ``<root>/<name>`` (``_commit``);
the superseded version is deleted after the flip. A crash before the
flip leaves the old table, a crash after it the new one, and the only
leftover is an unreferenced version (``maintenance.optimize.vacuum``
removes it). A failed job or a self-reading rewrite never touches the
live version. Appends to an existing table write into the live version
through the link.

Scale notes: ``upsert`` is a key-equi join — when the table is
partitioned on a subset of the merge keys, the parquet fallback reads
and rewrites only the partitions the source touches (see ``upsert``'s
partition-pruned rewrite), and AQE handles skewed keys.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.session import delta_available


class Lakehouse:
    """A directory of named tables with overwrite/append/upsert."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.fmt = "delta" if delta_available() else "parquet"
        os.makedirs(root, exist_ok=True)
        self._partitioning: dict[str, list[str]] = {}

    # -- basic I/O ---------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def partitioning(self, name: str) -> list[str] | None:
        """Partition spec for a table — remembered in-process, else
        inferred from the on-disk key=value directory layout, so a fresh
        Lakehouse instance never silently flattens a partitioned table."""
        if name in self._partitioning:
            return self._partitioning[name]
        cols: list[str] = []
        p = self.path(name)
        while os.path.isdir(p):
            sub = [
                d
                for d in os.listdir(p)
                if "=" in d and os.path.isdir(os.path.join(p, d))
            ]
            if not sub:
                break
            cols.append(sub[0].split("=", 1)[0])
            p = os.path.join(p, sub[0])
        if cols:
            self._partitioning[name] = cols
            return cols
        return None

    def exists(self, name: str) -> bool:
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        if self.fmt == "delta":
            return os.path.isdir(os.path.join(p, "_delta_log"))
        # require an actual data file: a PARTITIONED overwrite of an
        # empty DataFrame leaves only _SUCCESS (no partition values ->
        # no files -> no readable schema), and such a table must read
        # as absent so the next write re-creates it
        for root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, name: str, merge_schema: bool = False) -> DataFrame:
        """``merge_schema=True`` unions column sets across files (the
        read side of schema evolution; parquet needs it per read, delta
        resolves from its log)."""
        r = self.spark.read.format(self.fmt)
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return r.load(self.path(name))

    def read_table_meta(self, name: str) -> dict:
        """Sidecar metadata committed WITH the table (see ``overwrite``
        meta=). Underscore-prefixed, so file-source reads skip it the
        same way they skip ``_SUCCESS``. Absent file -> {}."""
        p = os.path.join(self.path(name), "_graft_meta.json")
        if not os.path.isfile(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def overwrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> None:
        """Full-table rewrite. On parquet ``df`` is written as a new
        version and committed by the link flip. A job that fails leaves
        the old table intact, and ``df`` may read the table it replaces.
        With ``meta`` set, the metadata file is written into the new
        version before the flip, so table data and metadata commit
        together — the parquet twin of Delta's txnAppId/txnVersion
        transaction tags (the idempotent-foreachBatch pattern). Without
        meta, existing sidecar properties carry forward (auto-compact
        thresholds survive INSERT OVERWRITE, matching Delta's
        table-property semantics).

        Delta writes in place, atomic through its log; ``meta`` is
        replaced in the table directory after that commit, so a crash
        between the two leaves new data under the old metadata."""
        if self.fmt == "delta":  # pragma: no cover - delta not in container
            writer = df.write.format(self.fmt).mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
                self._partitioning[name] = partition_by
            writer.save(self.path(name))
            if meta is not None:
                _write_meta(self.path(name), meta)
            return
        self._rewrite(name, df, partition_by, meta=meta)

    def append(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        merge_schema: bool = False,
    ) -> None:
        """Append with SCHEMA ENFORCEMENT by default (Delta's
        contract): columns not present in the existing table are
        rejected unless ``merge_schema=True`` opts into evolution —
        then new columns land and old rows read as null for them
        (pair with ``read(..., merge_schema=True)`` on parquet).
        A subset of columns is always allowed (missing -> null); a
        TYPE change on an existing column is always rejected (parquet
        cannot merge it and Delta refuses it too).

        Cost note: the check reads ONE file footer (delta: the log) —
        never a mergeSchema scan of every file; only when that sample
        lacks a column (a pre-evolution file) does it fall back to the
        merged-schema read to confirm.

        A missing table is created by ``overwrite``, so on parquet it
        goes through the commit like any rewrite and ``path(name)`` is
        always the table link."""
        if not self.exists(name):
            self.overwrite(name, df, partition_by)
            return
        sampled = {f.name: f.dataType for f in self.read(name).schema.fields}
        new_fields = {f.name: f.dataType for f in df.schema.fields}
        clash = sorted(
            c for c, t in new_fields.items() if c in sampled and sampled[c] != t
        )
        if clash:
            raise ValueError(
                f"append to {name!r} changes column types for "
                f"{clash}; rewrite the table instead"
            )
        extra = set(new_fields) - set(sampled)
        if extra:
            merged = {
                f.name for f in self.read(name, merge_schema=True).schema.fields
            }
            extra = set(new_fields) - merged
        if extra and not merge_schema:
            raise ValueError(
                f"append to {name!r} adds columns {sorted(extra)}; "
                "schema evolution requires merge_schema=True"
            )
        partition_by = partition_by or self.partitioning(name)
        df = self._maybe_optimize_write(name, df, partition_by)
        writer = df.write.format(self.fmt).mode("append")
        if merge_schema and self.fmt == "delta":
            writer = writer.option("mergeSchema", "true")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(self.path(name))
        self._maybe_auto_compact(name)

    def set_auto_compact(self, name: str, max_files: int) -> None:
        """Table property: compact whenever the file count exceeds
        ``max_files`` AND compaction can actually reduce it — the
        parquet twin of Delta's ``delta.autoOptimize.autoCompact``
        (M5). Stored in the sidecar meta (survives maintenance
        rewrites); the check+compaction runs at the END of each append,
        so steady micro-batch ingestion never accumulates unbounded
        file counts. On the delta backend the property is forwarded to
        the table itself (TBLPROPERTIES) and the engine enforces it."""
        if self.fmt == "delta":  # pragma: no cover - delta not in container
            self.spark.sql(
                f"ALTER TABLE delta.`{self.path(name)}` SET TBLPROPERTIES "
                "('delta.autoOptimize.autoCompact' = 'true')"
            )
        self._update_meta(name, auto_compact_max_files=int(max_files))

    def set_optimize_write(self, name: str, enabled: bool = True) -> None:
        """Table property: shuffle rows onto the table's partition
        columns BEFORE every write — the parquet twin of Delta's
        ``delta.autoOptimize.optimizeWrite`` (M5's other half; the
        autoCompact half is ``set_auto_compact``). Without it, every
        write task holding rows of a partition value opens its own
        file in that partition directory, so a 32-task append to a
        10-partition table emits up to 320 files; with it, all rows of
        a partition value land in ONE task and each directory gets one
        file per write. Skew note: a hot partition value becomes one
        task — exactly Delta's optimizeWrite behavior; for a known-hot
        key, leave this off and rely on auto-compact instead. No-op
        for unpartitioned tables (there is no per-directory writer
        explosion to prevent; sizing their file count is autoCompact's
        job, which has the post-write byte counts this pre-write hook
        lacks). On delta the property forwards to TBLPROPERTIES and
        the engine enforces it.

        Reference parity: jobs/batch_job.json:85-86 sets both
        autoOptimize properties on the gold tables."""
        if self.fmt == "delta":  # pragma: no cover - delta not in container
            self.spark.sql(
                f"ALTER TABLE delta.`{self.path(name)}` SET TBLPROPERTIES "
                f"('delta.autoOptimize.optimizeWrite' = '{str(enabled).lower()}')"
            )
        self._update_meta(name, optimize_write=bool(enabled))

    def _update_meta(self, name: str, **props) -> None:
        """Read-modify-write of the sidecar meta: set ``props``, keep
        every other key."""
        _write_meta(self.path(name), {**self.read_table_meta(name), **props})

    def _maybe_optimize_write(
        self, name: str, df: DataFrame, partition_by: list[str] | None
    ) -> DataFrame:
        if (
            self.fmt != "delta"  # delta enforces its own property
            and partition_by
            and self.read_table_meta(name).get("optimize_write")
        ):
            return df.repartition(*partition_by)
        return df

    def _maybe_auto_compact(self, name: str) -> None:
        mx = self.read_table_meta(name).get("auto_compact_max_files")
        if mx is None or self.fmt == "delta":
            return  # delta enforces its own autoCompact table property
        from ..maintenance.optimize import TARGET_FILE_BYTES

        n_files = 0
        size = 0
        for root, _dirs, files in os.walk(self.path(name)):
            for fn in files:
                if fn.endswith(".parquet"):
                    n_files += 1
                    size += os.path.getsize(os.path.join(root, fn))
        # a table legitimately bigger than max_files * target emits
        # ~size/target files after compaction; triggering below 2x that
        # ideal would rewrite the WHOLE table on every append (O(table)
        # write amplification) without getting under the bound — only
        # compact when fragmentation, not size, is the problem.
        ideal = max(1, size // TARGET_FILE_BYTES)
        if n_files > int(mx) and n_files > 2 * ideal:
            from ..maintenance.optimize import optimize_table

            optimize_table(self, name)

    def overwrite_bucketed(
        self,
        name: str,
        df: DataFrame,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Catalog-registered bucketed table (hash-bucketed files).

        Two tables bucketed the same way on their join key co-locate:
        the join (and groupBy on the key) runs with NO Exchange — the
        100 TB recipe for a fact table repeatedly joined on the same
        key. Requires the session catalog (bucket metadata lives
        there, not in parquet), so the table is addressed by name in
        SQL, and ``read`` of the raw path ignores bucketing.
        """
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self.path(name))
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)

    # -- merge semantics ---------------------------------------------------

    def upsert(
        self,
        name: str,
        source: DataFrame,
        keys: list[str],
        update_condition: str | None = None,
        partition_by: list[str] | None = None,
        allow_schema_evolution: bool = False,
    ) -> None:
        """MERGE: update matched (optionally guarded), insert unmatched.

        ``update_condition`` is a SQL boolean over ``source.*`` /
        ``target.*`` (e.g. ``source.updated_at > target.updated_at`` —
        the reference's late-data guard, gold_pipeline.py:794).

        ``allow_schema_evolution=True`` admits source-only columns into
        the table (existing rows get NULL) — Delta's
        ``schema.autoMerge`` contract; without it they are an error.

        **Partition-pruned rewrite (parquet twin).** When the table is
        partitioned and every partition column is also a merge KEY
        (``pcols <= keys`` — e.g. a ``pmod(xxhash64(key), B)`` bucket
        column carried in both source and keys), the parquet fallback
        reads ONLY the partitions the source touches, merges, and writes
        ONLY those directories: the bytes a batch reads and writes are
        O(touched partitions), not O(table) — the twin of Delta MERGE's
        file-pruning (reference: pipelines/gold_pipeline.py:789-796 is
        the pruned MERGE being twinned). The ``pcols <= keys`` gate is
        what makes pruning SAFE: a matched target row necessarily lives
        in a touched partition, so no match can hide in an unread one.
        Pruning factor is honest hash math: ``delta_rows`` uniformly
        hashed rows touch ``B*(1-(1-1/B)^delta_rows)`` of ``B`` buckets
        — real wins need ``delta_rows`` below ``B`` (at 100 TB, B is
        sized to ~128 MB buckets, i.e. large). An unpartitioned table
        (or one failing the gate) takes the full-table rewrite. The
        pruned rewrite commits like any other: the new version is the
        touched partitions Spark wrote plus a hard link (``os.link``)
        to every file of the untouched partitions, so bytes written stay
        O(touched) while the filesystem metadata calls (a directory
        walk, one link per untouched file, one unlink per file when the
        superseded version is deleted) are O(table files).
        Schema evolution always falls back to the full rewrite
        (untouched partitions must be rewritten to carry new columns).

        **Insert-only fast path.** Within the pruned path, if NO source
        key matches a row in the touched partitions (one semi-join
        probe — the steady state for append-mostly state like a band
        index, where every source row is guaranteed new), MERGE is
        definitionally an INSERT of every source row: the write is a
        plain partitioned append of delta-sized files, O(delta)
        regardless of how many buckets the batch touches — exactly
        Delta MERGE's no-matches behavior (new files only, nothing
        rewritten). Matches found (e.g. a crash-replayed batch) fall
        through to the pruned rewrite. Steady appends grow file counts:
        pair with ``set_auto_compact`` (checked after each fast-path
        write).
        """
        if not self.exists(name):
            self.overwrite(name, source, partition_by)
            return
        if self.fmt == "delta":
            from delta.tables import DeltaTable  # pragma: no cover

            if allow_schema_evolution:
                self.spark.conf.set(
                    "spark.databricks.delta.schema.autoMerge.enabled", "true"
                )
            cond = " AND ".join(f"target.{k} = source.{k}" for k in keys)
            m = (
                DeltaTable.forPath(self.spark, self.path(name))
                .alias("target")
                .merge(source.alias("source"), cond)
            )
            m = m.whenMatchedUpdateAll(condition=update_condition)
            m.whenNotMatchedInsertAll().execute()
            return
        # parquet fallback: full-outer join keyed on `keys`, row-wise choose.
        # Provenance markers (not key-null checks) decide which side a row
        # came from, so a source row with a NULL merge key inserts intact
        # (Delta MERGE whenNotMatchedInsertAll semantics) instead of
        # collapsing to an all-NULL row.
        full = self.read(name)
        pcols = self.partitioning(name)
        pruned = (
            bool(pcols)
            and set(pcols) <= set(keys)
            and set(pcols) <= set(source.columns)
            # schema evolution must rewrite untouched partitions too
            and set(source.columns) <= set(full.columns)
        )
        if pruned:
            # distinct partition values the source touches — bounded by
            # the partition count, a plan parameter not a data collect
            touched = source.select(*pcols).distinct().collect()
            if not touched:
                return
            # per-column isin: exact for one partition column, a
            # superset for nested specs (extra partitions merge as
            # no-ops and rewrite unchanged — correct, just less pruned)
            pred = None
            for p in pcols:
                c = F.col(p).isin([r[p] for r in touched])
                pred = c if pred is None else pred & c
            full = full.where(pred)
            # insert-only fast path: one semi-join probe over the
            # touched partitions; zero matches -> MERGE == plain
            # partitioned append of delta-sized files (no rewrite)
            has_match = bool(
                full.join(
                    source.select(*keys).distinct(), keys, "left_semi"
                ).take(1)
            )
            if not has_match:
                src_cols = set(source.columns)
                insert = source.select(
                    *[
                        F.col(f.name)
                        if f.name in src_cols
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in self.read(name).schema.fields
                    ]
                )
                # one file per touched directory per append (the
                # optimizeWrite shape) — without this, every write
                # task holding rows of a partition opens its own file
                # and steady micro-batches explode the file count
                insert.repartition(*pcols).write.format(self.fmt).mode(
                    "append"
                ).partitionBy(*pcols).save(self.path(name))
                self._maybe_auto_compact(name)
                return
        target = full.withColumn("_tgt", F.lit(True)).alias("target")
        src = source.withColumn("_src", F.lit(True)).alias("source")
        cond = None
        for k in keys:
            c = F.col(f"target.{k}") == F.col(f"source.{k}")
            cond = c if cond is None else cond & c
        joined = target.join(src, cond, "full_outer")
        take_source = F.col("source._src").isNotNull() & (
            F.col("target._tgt").isNull()
            | (F.expr(update_condition) if update_condition else F.lit(True))
        )
        # Output schema follows the TARGET (Delta whenMatchedUpdateAll
        # keeps target-only columns; without schema evolution, source-only
        # columns are an error — surface the mismatch instead of silently
        # dropping target columns).
        target_cols = [c for c in target.columns if c != "_tgt"]
        source_set = {c for c in source.columns}
        extra = source_set - set(target_cols)
        if extra and not allow_schema_evolution:
            raise ValueError(
                f"upsert source has columns not in target {name}: {sorted(extra)}"
            )
        out_cols = []
        key_set = set(keys)
        for c in target_cols:
            if c in key_set:
                out_cols.append(F.coalesce(F.col(f"source.{c}"), F.col(f"target.{c}")).alias(c))
            elif c in source_set:
                out_cols.append(
                    F.when(take_source, F.col(f"source.{c}"))
                    .otherwise(F.col(f"target.{c}"))
                    .alias(c)
                )
            else:
                # target-only column: kept on update, NULL on fresh insert
                out_cols.append(F.col(f"target.{c}").alias(c))
        for c in source.columns:
            if c not in set(target_cols):
                # evolved column: source value where the source row wins,
                # NULL for untouched target rows (Delta autoMerge shape)
                out_cols.append(
                    F.when(take_source, F.col(f"source.{c}"))
                    .otherwise(F.lit(None))
                    .alias(c)
                )
        merged = joined.select(*out_cols)
        self._rewrite(name, merged, pcols if pruned else partition_by, pruned=pruned)

    def update_where(
        self, name: str, condition: str, set_map: dict[str, str]
    ) -> None:
        """UPDATE t SET ... WHERE cond."""
        if self.fmt == "delta":  # pragma: no cover
            from delta.tables import DeltaTable

            DeltaTable.forPath(self.spark, self.path(name)).update(
                condition=condition, set=set_map
            )
            return
        df = self.read(name)
        cond = F.expr(condition)
        out = df.select(
            *[
                F.when(cond, F.expr(set_map[c])).otherwise(F.col(c)).alias(c)
                if c in set_map
                else F.col(c)
                for c in df.columns
            ]
        )
        self._rewrite(name, out)

    def delete_where(self, name: str, condition: str) -> None:
        """DELETE FROM t WHERE cond."""
        if self.fmt == "delta":  # pragma: no cover
            from delta.tables import DeltaTable

            DeltaTable.forPath(self.spark, self.path(name)).delete(condition)
            return
        df = self.read(name).where(~F.expr(condition))
        self._rewrite(name, df)

    def _rewrite(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        meta: dict | None = None,
        pruned: bool = False,
    ) -> None:
        """Write ``df`` as a complete new version of ``name`` and commit it.

        With ``meta=None`` the EXISTING sidecar metadata is carried
        forward — table properties (auto-compact thresholds, refresh
        watermarks) survive maintenance rewrites; pass a dict to
        replace it. ``pruned=True`` means ``df`` holds only the
        partitions it rewrites: each lands as one file per directory
        (the optimizeWrite shape) and the live version's other
        partitions are hard-linked in. Parquet only: a delta table is
        a real directory committed through its own log."""
        assert self.fmt != "delta"
        if meta is None:
            meta = self.read_table_meta(name) or None
        if partition_by:
            self._partitioning[name] = partition_by
        partition_by = partition_by or self.partitioning(name)
        if pruned:
            df = df.repartition(*partition_by)
        else:
            df = self._maybe_optimize_write(name, df, partition_by)
        writer = df.write.format(self.fmt).mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        version = os.path.join(self.root, f".v-{name}-{uuid.uuid4().hex[:8]}")
        try:
            writer.save(version)
            if meta is not None:
                _write_meta(version, meta)
            if pruned:
                _link_untouched(self.path(name), version)
        except BaseException:
            shutil.rmtree(version, ignore_errors=True)
            raise
        self._commit(name, version)

    def _commit(self, name: str, version: str) -> None:
        """Make the version directory ``version`` the live ``name``: one
        ``os.replace`` of a fresh relative symlink over ``path(name)``,
        then delete the version it superseded. The link is made inside
        ``version``, so a crash before the replace leaves the old table
        and one unreferenced version, and a crash after it the new table
        and possibly the old version; ``vacuum`` removes either."""
        link = os.path.join(version, "_link")
        os.symlink(os.path.basename(version), link)
        final = self.path(name)
        old = os.readlink(final) if os.path.islink(final) else None
        os.replace(link, final)
        if old is not None:
            shutil.rmtree(os.path.join(self.root, old))


def _write_meta(table_dir: str, meta: dict) -> None:
    """Replace ``table_dir``'s sidecar meta atomically: a temp file in the
    same directory, then ``os.replace``, so a failed write never leaves a
    truncated ``_graft_meta.json``."""
    p = os.path.join(table_dir, "_graft_meta.json")
    tmp = f"{p}.{uuid.uuid4().hex[:8]}"
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, p)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _link_untouched(live: str, version: str) -> None:
    """Hard-link into ``version`` every file of the live table whose
    partition directory ``version`` does not have: the partitions a
    pruned rewrite left alone, with their inode and mtime. Root-level
    files (``_SUCCESS``, the sidecar meta) belong to the new write."""
    for dirpath, _dirs, files in os.walk(live):
        dst = os.path.join(version, os.path.relpath(dirpath, live))
        if os.path.isdir(dst):  # the root and every touched partition
            continue
        os.makedirs(dst)
        for f in files:
            os.link(os.path.join(dirpath, f), os.path.join(dst, f))


def upsert_with_cdf(
    lake: "Lakehouse",
    name: str,
    source: DataFrame,
    keys: list[str],
    update_condition: str | None = None,
    batch_ts: str | None = None,
) -> None:
    """MERGE with a Change Data Feed twin on the parquet backend.

    Delta's CDF (``delta.enableChangeDataFeed``) records per-commit
    inserts/updates/deletes; this mirrors the contract for parquet:
    the pre-merge state is diffed against the source and change rows
    append to ``<name>__cdf`` with ``_change_type`` in
    {insert, update_preimage, update_postimage} plus a commit
    timestamp — the same row vocabulary Delta emits, so a consumer
    (e.g. a downstream incremental job) reads either backend alike.

    Scale: the diff is one keyed join of source against target
    (co-partitioned with the merge's own join), and the CDF table is
    append-only partitioned by commit — no rewrite amplification.
    Every commit also carries a monotonic ``_commit_version`` (Delta's
    CDF ordering key): timestamps may collide across commits (callers
    that omit ``batch_ts`` all share the epoch default), the version
    never does, so change-order-sensitive consumers (``read_as_of``,
    IVM watermarks) are deterministic.
    """
    key_cond = None
    for k in keys:
        c = F.col(f"source.{k}") == F.col(f"target.{k}")
        key_cond = c if key_cond is None else key_cond & c

    if lake.exists(name):
        target = lake.read(name).alias("target")
        src = source.alias("source")
        joined = src.join(target, key_cond, "left")
        # merge keys are non-null by merge semantics, so a NULL target
        # key means "matched nothing" — a nullable first data column
        # would misclassify matched rows as inserts
        is_new = F.col(f"target.{keys[0]}").isNull()
        # a row is an update only when some tracked column changed
        changed = F.lit(False)
        for c in source.columns:
            if c not in keys and c in target.columns:
                changed = changed | ~F.col(f"source.{c}").eqNullSafe(
                    F.col(f"target.{c}")
                )
        if update_condition:
            # CDF records only APPLIED changes (Delta's contract): a
            # guard-rejected late row keeps the target version, so it
            # must not emit pre/post images
            changed = changed & F.expr(update_condition)
        inserts = joined.where(is_new).select("source.*").withColumn(
            "_change_type", F.lit("insert")
        )
        pre = joined.where(~is_new & changed).select("target.*").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = joined.where(~is_new & changed).select("source.*").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        changes = inserts.unionByName(pre).unionByName(post)
    else:
        changes = source.withColumn("_change_type", F.lit("insert"))
    _append_changes(lake, name, changes, batch_ts)
    lake.upsert(name, source, keys, update_condition=update_condition)


def delete_where_with_cdf(
    lake: "Lakehouse",
    name: str,
    condition: str,
    batch_ts: str | None = None,
) -> None:
    """DELETE WHERE with the CDF twin: the deleted rows append to
    ``<name>__cdf`` as ``_change_type='delete'`` (Delta's vocabulary —
    completing insert/update_preimage/update_postimage/delete), then
    the table rewrite drops them. Incremental consumers
    (``storage/ivm``) subtract the deleted rows' contribution instead
    of rescanning the base."""
    deleted = (
        lake.read(name)
        .where(F.expr(condition))
        .withColumn("_change_type", F.lit("delete"))
    )
    _append_changes(lake, name, deleted, batch_ts)
    lake.delete_where(name, condition)


def _append_changes(
    lake: "Lakehouse", name: str, changes: DataFrame, batch_ts: str | None
) -> None:
    """Stamp one commit's change rows with its timestamp, id and version
    and append them to ``<name>__cdf`` (``append`` creates the table on
    the first commit)."""
    cdf_name = f"{name}__cdf"
    lake.append(
        cdf_name,
        changes.withColumn(
            "_commit_timestamp",
            F.lit(batch_ts or "1970-01-01 00:00:00").cast("timestamp"),
        )
        .withColumn("_commit_id", F.lit(uuid.uuid4().hex[:12]))
        .withColumn(
            "_commit_version",
            F.lit(_next_commit_version(lake, cdf_name)).cast("long"),
        ),
    )


def _next_commit_version(lake: "Lakehouse", cdf_name: str) -> int:
    """1 + max existing ``_commit_version`` in the CDF table (1 for a
    fresh table). On the parquet backend this is a scalar max over one
    pruned column of the append-only CDF; native Delta reads the same
    number straight from its commit log. Single-writer contract, like
    the rest of the parquet fallback."""
    if not lake.exists(cdf_name):
        return 1
    v = lake.read(cdf_name).agg(F.max("_commit_version")).first()[0]
    return int(v or 0) + 1


def read_changes(
    lake: "Lakehouse",
    name: str,
    since_ts: str | None = None,
    since_version: int | None = None,
) -> DataFrame:
    """Read the CDF table, optionally only commits after ``since_ts``
    (Delta's ``startingTimestamp`` contract) and/or strictly after
    ``since_version`` (Delta's ``startingVersion`` — the watermark key
    IVM uses, immune to colliding batch timestamps)."""
    df = lake.read(f"{name}__cdf")
    if since_ts is not None:
        df = df.where(F.col("_commit_timestamp") > F.lit(since_ts).cast("timestamp"))
    if since_version is not None:
        df = df.where(F.col("_commit_version") > F.lit(int(since_version)))
    return df


def read_as_of(
    lake: "Lakehouse", name: str, keys: list[str], as_of_ts: str
) -> DataFrame:
    """Time travel on the parquet backend: reconstruct the table as of
    ``as_of_ts`` from the current state plus the CDF (Delta's
    ``timestampAsOf`` twin).

    For every key mutated after T, its EARLIEST post-T change row
    pins its state at T exactly:

      insert           -> the key did not exist at T (drop it)
      update_preimage  -> the preimage IS the row at T (restore it)
      delete           -> the deleted row IS the row at T (restore it)

    Later changes to the same key are irrelevant — history between T
    and now replays forward from that first change. Requires every
    mutation to flow through the *_with_cdf writers (the same contract
    Delta's own time travel has with its commit log).

    Scale shape: one groupBy over post-T changes (keyed on the merge
    key, O(changes)), an anti-join to drop changed keys from the
    current snapshot, and a union of restored rows.
    """
    cur = lake.read(name)
    ch = read_changes(lake, name, since_ts=as_of_ts)
    w_key = [F.col(k) for k in keys]
    # total order inside a commit: preimage sorts before postimage so
    # the earliest row for an updated key is its preimage
    type_rank = (
        F.when(F.col("_change_type") == "update_postimage", F.lit(1))
        .otherwise(F.lit(0))
    )
    from pyspark.sql.window import Window

    # commits order by the monotonic _commit_version (Delta's CDF key):
    # _commit_timestamp collides whenever writers omit batch_ts, and the
    # random _commit_id would then break ties arbitrarily
    w = Window.partitionBy(*w_key).orderBy(F.col("_commit_version"), type_rank)
    first_change = (
        ch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    changed_keys = first_change.select(*keys)
    restored = first_change.where(
        F.col("_change_type").isin("update_preimage", "delete")
    ).drop("_change_type", "_commit_timestamp", "_commit_id", "_commit_version")
    return cur.join(changed_keys, keys, "left_anti").unionByName(restored)


def table_history(lake: "Lakehouse", name: str) -> DataFrame:
    """DESCRIBE HISTORY twin from the CDF commit log: one row per
    commit with per-operation row counts, newest first — the audit
    surface Delta exposes natively (reference:
    utils/optimize_tables.py DESCRIBE-family introspection), rebuilt
    for the parquet backend from the change rows themselves."""
    return (
        lake.read(f"{name}__cdf")
        .groupBy("_commit_version", "_commit_id", "_commit_timestamp")
        .agg(
            F.count(F.when(F.col("_change_type") == "insert", 1)).alias(
                "n_inserted"
            ),
            F.count(
                F.when(F.col("_change_type") == "update_postimage", 1)
            ).alias("n_updated"),
            F.count(F.when(F.col("_change_type") == "delete", 1)).alias(
                "n_deleted"
            ),
        )
        .orderBy(F.col("_commit_version").desc())
    )


def snapshot_diff(
    lake: "Lakehouse",
    name: str,
    keys: list[str],
    ts_a: str,
    ts_b: str,
) -> DataFrame:
    """Row-level diff between two CDF-reconstructed snapshots — the
    audit tool data versioning exists for ("what changed between
    Monday's training snapshot and today's?"): one row per differing
    key, tagged ``_diff`` in {'added', 'removed', 'changed'}, carrying
    the LATER snapshot's values (the earlier's for removals).

    Shapes: two ``read_as_of`` reconstructions (each O(history) CDF
    folds) + two left-anti joins and one null-safe-compare inner join,
    all equi-joins on the key. Mirrors Delta's
    ``table_changes(version_a, version_b)`` summarization.
    """
    a = read_as_of(lake, name, keys, ts_a)
    b = read_as_of(lake, name, keys, ts_b)
    val_cols = [c for c in b.columns if c not in keys]
    added = b.join(a, keys, "left_anti").withColumn("_diff", F.lit("added"))
    removed = a.join(b, keys, "left_anti").withColumn(
        "_diff", F.lit("removed")
    )
    neq = None
    for c in val_cols:
        cond = ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
        neq = cond if neq is None else (neq | cond)
    changed = (
        a.alias("a")
        .join(b.alias("b"), keys)
        .where(neq if neq is not None else F.lit(False))
        .select(*keys, *[F.col(f"b.{c}").alias(c) for c in val_cols])
        .withColumn("_diff", F.lit("changed"))
    )
    return added.unionByName(removed).unionByName(changed)
