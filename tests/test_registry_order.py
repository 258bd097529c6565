"""Ordering-contract guard for plans/registry.py.

The correctness driver evaluates only the FIRST 50 registry entries per
round. This test pins the rotation discipline: every query that does NOT
yet have green driver evidence (a fully-matching row in the most recent
CORRECTNESS_r*.json) must sit inside the first 50 positions, so it gets
driver-checked next round.
"""

from __future__ import annotations

import json
from pathlib import Path

from ubeardw_databricks_lakehouse_spark.plans.registry import QUERIES

REPO = Path(__file__).resolve().parents[1]
DRIVER_WINDOW = 50


def _row_ok(row: dict) -> bool:
    """Green = the strongest check available for this query passed:
    oracle-paired rows need all three matches; rows-only queries
    (err == 'no_oracle' by driver convention) are green when they
    executed cleanly — their value checks live in pytest pins."""
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return (
        row.get("err") is None
        and bool(row.get("rows_match"))
        and (row.get("hash_match") or row.get("hash_match") is None)
    )


def _latest_green() -> set[str]:
    reports = sorted(REPO.glob("CORRECTNESS_r*.json"))
    green: set[str] = set()
    for report in reports:  # later rounds refresh earlier evidence
        data = json.loads(report.read_text())
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if _row_ok(row):
                green.add(name)
            else:
                green.discard(name)  # regression: needs re-verification
    return green


def test_names_unique() -> None:
    names = [q.name for q in QUERIES]
    assert len(names) == len(set(names))


def test_every_query_has_fn_and_doc() -> None:
    for q in QUERIES:
        assert callable(q.fn), q.name
        assert q.doc, q.name


def test_all_query_outputs_are_scalar_columns(registry_builds) -> None:
    """The driver canonicalizes results with pandas sort_values over
    ALL columns — list/struct/map/binary cells are unhashable and
    crash the harness even for rows-only checks (round-2
    q_user_event_arrays / q_approx_profile). Every registry query must
    therefore emit only scalar columns; typed-array surfaces live on
    the operators and their pytests, not in the registry. The schemas
    come from the session's shared sf0.001 registry builds (a join
    strategy never changes an output schema)."""
    from pyspark.sql import types as T

    banned = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    assert set(registry_builds) == {q.name for q in QUERIES}
    offenders = []
    for name, (schema, _plan) in registry_builds.items():
        for f in schema.fields:
            if isinstance(f.dataType, banned):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert not offenders, offenders


def test_unverified_queries_inside_driver_window() -> None:
    """Exemption: names in registry._DEFERRED_NEW were added mid-round
    after the window saturated (the staleness rule filled all 50 slots);
    they carry in-repo differential evidence and must rotate in next
    round — test_deferred_new_queue pins their position and hygiene."""
    from ubeardw_databricks_lakehouse_spark.plans.registry import _DEFERRED_NEW

    green = _latest_green()
    window = {q.name for q in QUERIES[:DRIVER_WINDOW]}
    needs_evidence = [q.name for q in QUERIES if q.name not in green]
    outside = [
        n for n in needs_evidence if n not in window and n not in set(_DEFERRED_NEW)
    ]
    assert not outside, (
        f"{len(outside)} queries lack green driver evidence but sit past "
        f"position {DRIVER_WINDOW}: {outside} — reorder plans/registry.py"
    )


def test_deferred_new_queue() -> None:
    """_DEFERRED_NEW entries must (a) exist, (b) have never appeared in
    any CORRECTNESS report (genuinely new — the list may not be used to
    park red or stale queries), and (c) sit immediately after the
    window so the next rotation naturally promotes them."""
    from ubeardw_databricks_lakehouse_spark.plans.registry import _DEFERRED_NEW

    names = [q.name for q in QUERIES]
    ever_checked: set[str] = set()
    for report in REPO.glob("CORRECTNESS_r*.json"):
        data = json.loads(report.read_text())
        ever_checked.update(k for k, v in data.items() if isinstance(v, dict))
    for i, n in enumerate(_DEFERRED_NEW):
        assert n in names, n
        assert n not in ever_checked, f"{n} has driver history — not 'new'"
        assert names[DRIVER_WINDOW + i] == n, (
            f"{n} must sit at position {DRIVER_WINDOW + i + 1} "
            f"(right after the window), found at {names.index(n) + 1}"
        )


def test_no_query_goes_stale_unchecked() -> None:
    """The rotation ledger, mechanically — FORWARD-LOOKING: the window
    set NOW determines which entries the NEXT report refreshes, so an
    entry must be windowed when its latest green evidence sits outside
    the last (horizon-1) reports — otherwise, the moment the next
    report lands, that evidence falls off the horizon with no refresh
    (the r5→r6 lesson: the old backward-looking form only failed one
    round AFTER the rotation should have happened, making the contract
    voluntary exactly when it mattered). Horizon: the steady-state
    minimum, ceil(|registry| / 50) reports — a full pass of N entries
    at 50 slots/round takes that many rounds, so any tighter horizon
    becomes UNSATISFIABLE once the registry outgrows it (2 while <=100
    entries, 3 at 101-150 — the registry docstring's CAPACITY NOTE —
    4 at 151-200, where r7's 161 sits: with horizon 3 the r8 demand
    would be 44 r5-stale + 17 never-graded = 61 > 50 slots, a
    structurally red test). The per-round backstop for entries waiting
    their turn is tools/oracle_sweep.py (every oracle-paired entry vs
    DuckDB at sf0.01, run each round)."""
    import math

    reports = sorted(REPO.glob("CORRECTNESS_r*.json"))
    if len(reports) < 2:
        return
    latest_green_round: dict[str, str] = {}
    for report in reports:
        data = json.loads(report.read_text())
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            if _row_ok(row):
                latest_green_round[name] = report.name
    horizon = max(2, math.ceil(len(QUERIES) / DRIVER_WINDOW))
    # still-fresh-after-the-next-report = the last horizon-1 reports
    fresh = {r.name for r in reports[-(horizon - 1):]}
    window = {q.name for q in QUERIES[:DRIVER_WINDOW]}
    stale = [
        q.name
        for q in QUERIES
        if latest_green_round.get(q.name) is not None
        and latest_green_round[q.name] not in fresh
        and q.name not in window
    ]
    assert not stale, (
        f"{len(stale)} queries' newest green evidence falls off the "
        f"{horizon}-report horizon at the NEXT report and they sit past "
        f"position {DRIVER_WINDOW}: {stale} — rotate them into "
        f"plans/registry._WINDOW now"
    )


def test_rotation_plan_tool_agrees_with_ledger() -> None:
    """tools/rotation_plan.py duplicates this module's ledger math by
    necessity (tools are standalone); pin the shared invariants so the
    copies cannot drift: same definition-order universe as the
    registry, same row-green predicate on every report row."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "rotation_plan", REPO / "tools" / "rotation_plan.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert set(mod.definition_order()) == {q.name for q in QUERIES}
    for report in sorted(REPO.glob("CORRECTNESS_r*.json")):
        data = json.loads(report.read_text())
        for name, row in data.items():
            if isinstance(row, dict):
                assert mod._row_ok(row) == _row_ok(row), (report.name, name)
