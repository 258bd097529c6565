"""``lakehouse_day``: one day of the warehouse's write path.

A cycle on a fresh lake runs three kinds of operation, each timed from
outside through the package's public functions:

* ``day1`` — the daily gold job: CDC envelopes -> ``raw_kafka_df`` ->
  ``to_bronze`` -> ``silver_*`` -> ``run_gold_job`` (complete star schema);
* ``batch`` — a triggered CDC micro-batch: one JSON-lines file is renamed
  into the source directory, ``run_entity_pipeline(available_now=True)``
  lands bronze and silver, and ``start_incremental_trip_fact`` MERGEs the
  touched trips into ``trip_fact``. The clock stops when that commit is
  visible. Each file carries new trips' first events plus the lifecycle
  tails of the previous file's trips, so the MERGE updates and inserts;
* ``day2`` — the next daily job on the same lake: every trip so far plus a
  CDC update wave that changes tracked columns of about 10% of eaters and
  merchants, driving SCD2 expiry and the ``trip_fact`` MERGE.

Every timed operation's output is checked off the clock against a pure-Python
reduction of the generator's rows.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
from decimal import Decimal

from run import median
from spans import dir_bytes, span_work
from ubeardw_databricks_lakehouse_spark.pipelines.gold import build_trip_fact

ENTITIES = ("eater", "merchant", "courier", "trip_events")
HEAD_EVENTS = 3  # events of a trip that land with its first micro-batch
DAY1_TS = "2024-12-02 02:00:00"
DAY2_TS = "2024-12-03 02:00:00"
LAND_MS = 1_733_100_000_000  # Debezium ts_ms of the first streamed file
STATUS_ORDER = [  # trip_status precedence of build_trip_fact
    ("cancelled", "cancelled"), ("delivered", "completed"),
    ("dropoff_arrived", "in_delivery"), ("pickup_completed", "picked_up"),
    ("courier_dispatched", "dispatched"), ("order_accepted", "accepted"),
]


class Inputs:
    """Seeded inputs of one cycle: day-1 rows, micro-batch files, day-2 rows."""

    def __init__(self, seed: int, base_trips: int, batches: int, batch_trips: int):
        from ubeardw_databricks_lakehouse_spark.testing.generator import (
            generate,
            with_updates,
        )

        total = base_trips + batches * batch_trips
        rows = generate(
            n_eaters=max(base_trips // 10, 5), n_merchants=max(base_trips // 40, 3),
            n_couriers=max(base_trips // 20, 3), n_trips=total, seed=seed,
        )
        by_trip: dict[str, list[dict]] = {}
        for ev in rows["trip_events"]:
            by_trip.setdefault(ev["trip_id"], []).append(ev)
        trips = list(by_trip)
        base = trips[:base_trips]
        chunks = [trips[base_trips + i * batch_trips: base_trips + (i + 1) * batch_trips]
                  for i in range(batches)]

        self.day1 = dict(rows, trip_events=[e for t in base for e in by_trip[t]])
        self.files: list[list[dict]] = []
        for i, chunk in enumerate(chunks):
            heads = [e for t in chunk for e in by_trip[t][:HEAD_EVENTS]]
            tails = [e for t in (chunks[i - 1] if i else []) for e in by_trip[t][HEAD_EVENTS:]]
            self.files.append(heads + tails)
        self.streamed = [e for f in self.files for e in f]

        def move(u, rng):
            u["address_line_1"] = f"{rng.randrange(1, 999)} Rue Nouvelle"

        def rebrand(u, rng):
            u["cuisine_type"] = rng.choice(["thai", "korean", "peruvian"])

        self.updates = {  # the day-2 CDC 'u' wave
            "eater": with_updates(
                rows["eater"], max(len(rows["eater"]) // 10, 1), move, seed=seed + 1),
            "merchant": with_updates(
                rows["merchant"], max(len(rows["merchant"]) // 10, 1), rebrand, seed=seed + 2),
        }
        self.day2 = rows  # every trip: base, streamed, and the last file's tails
        self.n_eaters = len(rows["eater"])
        # business keys each SCD2 dimension receives on day 2
        self.keys = {f"dim_{e}": len({r[f"{e}_id"] for r in rows[e]})
                     for e in ("eater", "merchant", "courier")}

    def lines(self, i: int, offset: int) -> list[str]:
        from ubeardw_databricks_lakehouse_spark.testing.fixtures import debezium_envelope

        out = []
        for j, ev in enumerate(self.files[i]):
            out.append(json.dumps({
                "kafka_key": str(ev["event_id"]),
                "raw_value": debezium_envelope(
                    "trip_events", ev, op="c", ts_ms=LAND_MS + i * 60_000 + j),
                "kafka_topic": "ubear.public.trip_events",
                "kafka_partition": 0,
                "kafka_offset": offset + j,
                "kafka_timestamp": None,
            }))
        return out


def expected_trips(events: list[dict]) -> tuple[int, dict[str, tuple[int, Decimal]]]:
    """Trip count and per-status (count, sum of total_amount)."""
    kinds: dict[str, set] = {}
    amount: dict[str, Decimal] = {}
    for ev in events:
        kinds.setdefault(ev["trip_id"], set()).add(ev["event_type"])
        if ev["event_type"] == "order_placed":
            total = json.loads(ev["payload"]).get("total_amount")
            amount[ev["trip_id"]] = Decimal(str(total)).quantize(Decimal("0.01"))
    out: dict[str, list] = {}
    for trip, seen in kinds.items():
        status = next((s for ev, s in STATUS_ORDER if ev in seen), "pending")
        acc = out.setdefault(status, [0, Decimal("0.00")])
        acc[0] += 1
        acc[1] += amount.get(trip, Decimal("0.00"))
    return len(kinds), {k: (v[0], v[1]) for k, v in out.items()}


class LakehouseDay:
    def __init__(self, ctx, base_trips: int = 800, batches: int = 4, batch_trips: int = 40):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sizes = (base_trips, batches, batch_trips)
        self.silver_schema = None

    # -- setup --------------------------------------------------------
    def setup(self) -> None:
        ctx = self.ctx
        self.inputs = ctx.repeat_setup(lambda: Inputs(ctx.seed, *self.sizes))
        # warm-up: day 1 and two micro-batches on a small input of their
        # own, unchecked; day 2 reuses the code day 1 and the batches
        # compiled, and leaving it out keeps the run inside the time budget
        ctx.warm(lambda: self.cycle(
            "warm", inp=Inputs(ctx.seed + 10_000, 60, 2, 10), checked=False, day2=False))

    # -- one cycle ----------------------------------------------------
    def cycle(self, tag: str, tracer=None, inp: Inputs | None = None,
              checked: bool = True, day2: bool = True) -> dict:
        """Runs day1, the micro-batches and (unless ``day2`` is false) day2
        on a fresh lake."""
        from ubeardw_databricks_lakehouse_spark.storage.lakehouse import Lakehouse

        ctx = self.ctx
        tracer = tracer or ctx.null_tracer
        inp = inp or self.inputs
        root = os.path.join(ctx.work, f"lake_{tag}")
        shutil.rmtree(root, ignore_errors=True)
        lake = Lakehouse(self.spark, os.path.join(root, "gold"))
        self.offset = 0
        first_op = len(ctx.ops)

        progress = []
        if ctx.op("day1", lambda: self.batch_day(lake, inp.day1, DAY1_TS, tracer),
                  check=checked and (lambda: self.check_day(
                      lake, inp.day1["trip_events"], None))):
            self.stream_state(lake, inp, root)
            self.stream(lake, inp, root, tracer, progress, checked, day2)
        lake_bytes = dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        return {"lake_bytes": lake_bytes, "progress": progress, **ctx.cycle_totals(first_op)}

    def stream(self, lake, inp: Inputs, root: str, tracer, progress: list,
               checked: bool, day2: bool) -> None:
        """The micro-batches, then day 2; a batch that raises ends the cycle."""
        ctx = self.ctx
        for i in range(len(inp.files)):
            staged, queries = self.stage(inp, i), []
            if not ctx.op("batch", lambda: queries.append(
                    self.micro_batch(lake, staged, root, tracer))):
                return
            progress.append({"envelopes": self.staged_envelopes, **{
                q: [p.get("durationMs") or {} for p in query.recentProgress]
                for q, query in queries[0].items()}})
        if checked:
            ctx.check("batch", lambda: self.check_stream(lake, inp))
        if day2:
            ctx.op("day2", lambda: self.batch_day(lake, inp.day2, DAY2_TS, tracer, inp.updates),
                   check=checked and (lambda: self.check_day(lake, inp.day2["trip_events"], inp)))

    # -- metrics ------------------------------------------------------
    def summarize(self, cycles: list[dict]) -> tuple[dict, dict]:
        ctx = self.ctx
        batch = ctx.timed("batch")
        envelopes = sum(p["envelopes"] for c in cycles for p in c["progress"])
        tail, note = tail_latency(batch)
        e2e = {"cycle_cpu_s": median(c["ops_cpu_s"] for c in cycles)}
        report = {
            "cycle_s": (median(c["ops_s"] for c in cycles), "s"),
            "day1_s": (median(ctx.timed("day1")), "s"),
            "day2_s": (median(ctx.timed("day2")), "s"),
            "batch_latency_p50_s": (median(batch), "s"),
            "batch_cpu_p50_s": (median(ctx.timed("batch", field="cpu")), "cpu_s"),
            "batch_latency_tail_s": (tail, "s"),
            "batch_latency_tail_note": (note, "text"),
            "stream_events_per_s": (envelopes / sum(batch) if batch else 0.0, "envelopes/s"),
            "lake_mb": (median(c["lake_bytes"] for c in cycles) / 1e6, "MB"),
        }
        return e2e, report

    def layers(self, tracer, by_span: dict, traced: dict, cores: int) -> dict:
        c = tracer.counters
        src_rows = max(c["sources.rows"], 1)
        fact_s = tracer.walls("gold.fact")
        scd = [s.info for s in tracer.instances("scd2") if s.info]
        writes = tracer.instances("storage.overwrite") + tracer.instances("storage.upsert")
        rewrites = [s.info["bytes"] / s.info["table_bytes"] for s in tracer.instances(
            "storage.upsert") if s.info.get("table") == "trip_fact" and s.info["table_bytes"]]
        out = {
            "sources.s": tracer.walls("sources"),
            "sources.envelopes": c["sources.rows"],
            "sources.null_after_frac": c["sources.null_pk"] / src_rows,
            "silver.s": tracer.walls("silver"),
            "silver.rows_out": c["silver.rows"],
            "silver.kept_frac": c["silver.rows"] / src_rows,
            "gold.dims_s": tracer.walls("gold") - fact_s,
            "gold.fact_s": fact_s,
            "scd2.s": tracer.self_time("scd2"),
            "scd2.changed_frac": (sum(i["new_versions"] for i in scd)
                                  / max(sum(self.inputs.keys[i["table"]] for i in scd), 1)),
            "storage.overwrite_s": tracer.walls("storage.overwrite"),
            "storage.upsert_s": tracer.walls("storage.upsert"),
            "storage.files_written": sum(s.info.get("files", 0) for s in writes),
            "storage.written_mb": sum(s.info.get("bytes", 0) for s in writes) / 1e6,
            "storage.rewrite_frac": statistics.median(rewrites) if rewrites else 0.0,
            "storage.lake_mb": traced["lake_bytes"] / 1e6,
        }
        out.update(stream_layers(traced["progress"], self.ctx.traced_ops("batch")))
        for span in ("sources", "silver", "gold.fact", "streaming.batch"):
            out.update({f"{span}.{k}": v for k, v in span_work(
                tracer, by_span, span, cores).items()})
        out.update({f"gold.dims.{k}": v for k, v in span_work(
            tracer, by_span, "gold", cores, exclude="gold.fact").items()})
        return out

    def batch_day(self, lake, rows: dict, effective_ts: str, tracer,
                  updates: dict | None = None) -> None:
        from ubeardw_databricks_lakehouse_spark.core.schemas import ENTITY_PRIMARY_KEYS
        from ubeardw_databricks_lakehouse_spark.pipelines import silver as S
        from ubeardw_databricks_lakehouse_spark.pipelines.gold import run_gold_job
        from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
        from ubeardw_databricks_lakehouse_spark.testing.fixtures import raw_kafka_df

        spark = self.spark
        updates = updates or {}
        with tracer.span("sources"):
            bronze = {}
            for e in ENTITIES:
                raw = raw_kafka_df(spark, e, rows=rows[e])
                if updates.get(e):
                    raw = raw.unionByName(raw_kafka_df(spark, e, rows=updates[e], op="u"))
                bronze[e] = to_bronze(raw, e)
            tracer.materialize(bronze, "sources", ENTITY_PRIMARY_KEYS)
        with tracer.span("silver"):
            silver = {e: S.SILVER_BUILDERS[e](bronze[e]) for e in ENTITIES}
            tracer.materialize(silver, "silver")
        with tracer.span("gold"):
            run_gold_job(lake, silver["eater"], silver["merchant"], silver["courier"],
                         silver["trip_events"], effective_ts=effective_ts,
                         collect_counts=False)
        for df in list(bronze.values()) + list(silver.values()):
            df.unpersist()

    # -- streaming ----------------------------------------------------
    def stream_state(self, lake, inp: Inputs, root: str) -> None:
        """Off the clock: the directories and static silver inputs the
        incremental trip_fact query joins against."""
        from ubeardw_databricks_lakehouse_spark.pipelines.silver import (
            silver_eater,
            silver_merchant,
        )
        from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
        from ubeardw_databricks_lakehouse_spark.testing.fixtures import raw_kafka_df

        self.src = os.path.join(root, "cdc")
        self.staging = os.path.join(root, "staging")
        self.stream_out = os.path.join(root, "stream")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        static = {}
        for e, fn in (("eater", silver_eater), ("merchant", silver_merchant)):
            path = os.path.join(root, f"silver_{e}")
            fn(to_bronze(raw_kafka_df(self.spark, e, rows=inp.day1[e]), e)).write.parquet(path)
            static[e] = self.spark.read.parquet(path)
        self.static = static
        self.dim_location = lake.read("dim_location")

    def stage(self, inp: Inputs, i: int) -> str:
        """Writes micro-batch ``i`` outside the source directory."""
        lines = inp.lines(i, self.offset)
        self.offset += len(lines)
        staged = os.path.join(self.staging, f"part-{i:05d}.json")
        with open(staged, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        self.staged_envelopes = len(lines)
        return staged

    def micro_batch(self, lake, staged: str, root: str, tracer) -> dict:
        from ubeardw_databricks_lakehouse_spark.streaming.incremental_gold import (
            start_incremental_trip_fact,
        )
        from ubeardw_databricks_lakehouse_spark.streaming.pipeline import run_entity_pipeline

        spark = self.spark
        silver_path = os.path.join(self.stream_out, "silver_trip_events")
        with tracer.span("streaming.batch"):
            os.rename(staged, os.path.join(self.src, os.path.basename(staged)))
            with tracer.span("streaming.pipeline"):
                qs = run_entity_pipeline(spark, self.src, "trip_events", self.stream_out,
                                         available_now=True)
            if self.silver_schema is None:
                self.silver_schema = spark.read.parquet(silver_path).schema
            with tracer.span("streaming.fact"):
                stream = spark.readStream.schema(self.silver_schema).parquet(silver_path)
                fq = start_incremental_trip_fact(
                    spark, stream, silver_path, self.static["eater"],
                    self.static["merchant"], self.dim_location, lake,
                    checkpoint=os.path.join(root, "_ck_fact"), available_now=True)
                fq.awaitTermination()
        return {"bronze": qs["bronze"], "silver": qs["silver"], "fact": fq}

    # -- checks -------------------------------------------------------
    def check_day(self, lake, events: list[dict], inp) -> list[str]:
        from pyspark.sql import functions as F

        bad = []
        n_trips, per_status = expected_trips(events)
        fact = lake.read("trip_fact")
        if self.ctx.corrupt and inp is None:
            fact = fact.exceptAll(fact.limit(1))
        got = {r["trip_status"]: (r["n"], r["amt"]) for r in fact.groupBy("trip_status").agg(
            F.count(F.lit(1)).alias("n"), F.sum("total_amount").alias("amt")).collect()}
        if sum(n for n, _ in got.values()) != n_trips:
            bad.append(f"trip_fact rows {sum(n for n, _ in got.values())} != {n_trips}")
        if got != per_status:
            bad.append(f"trip_fact per-status {got} != {per_status}")
        if inp is None:  # the calendar dims are written once, on day 1
            counts = {t: lake.read(t).count() for t in ("dim_date", "dim_time")}
            if counts != {"dim_date": 4018, "dim_time": 1440}:
                bad.append(f"calendar dims {counts}")
        else:
            eater = lake.read("dim_eater").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_current").cast("int")).alias("cur"),
                F.countDistinct(F.when(F.col("is_current"), F.col("eater_id"))).alias("ids"),
            ).collect()[0]
            changed = len({u["eater_id"] for u in inp.updates["eater"]})
            want = (inp.n_eaters + changed, inp.n_eaters, inp.n_eaters)
            if (eater["n"], eater["cur"], eater["ids"]) != want:
                bad.append(f"dim_eater (rows, current, ids) "
                           f"{(eater['n'], eater['cur'], eater['ids'])} != {want}")
        return bad

    def check_stream(self, lake, inp: Inputs) -> list[str]:
        from ubeardw_databricks_lakehouse_spark.pipelines.silver import silver_trip_events
        from ubeardw_databricks_lakehouse_spark.sources.debezium import to_bronze
        from ubeardw_databricks_lakehouse_spark.testing.fixtures import raw_kafka_df

        bad = []
        streamed = self.spark.read.parquet(os.path.join(self.stream_out, "silver_trip_events"))
        n = streamed.count()
        if n != len(inp.streamed):
            bad.append(f"streamed silver rows {n} != envelopes landed {len(inp.streamed)}")
        day1 = silver_trip_events(to_bronze(
            raw_kafka_df(self.spark, "trip_events", rows=inp.day1["trip_events"]), "trip_events"))
        full = day1.unionByName(streamed.select(*day1.columns))
        want = build_trip_fact(full, self.static["eater"], self.static["merchant"],
                               self.dim_location)
        got = lake.read("trip_fact")
        if _checksum(got.select(*want.columns)) != _checksum(want):
            bad.append("trip_fact differs from build_trip_fact over full silver")
        return bad


def _checksum(df) -> tuple:
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")).collect()[0]
    return row["n"], row["h"]


def tail_latency(samples: list[float]) -> tuple[float | None, str]:
    """The highest whole percentile with at least 10 samples beyond it."""
    n = len(samples)
    pct = int(100 * (1 - 10 / n)) if n else 0
    if pct < 50:
        return None, f"undefined: {n} batches, a tail needs at least 20"
    value = statistics.quantiles(samples, n=100, method="inclusive")[pct - 1]
    return value, f"p{pct} of {n} batches"


def stream_layers(progress: list[dict], latencies: list[float]) -> dict:
    """Medians over micro-batches of the streaming queries' own durations."""
    rows = {k: [] for k in ("bronze", "silver", "fact", "commit", "startup")}
    for batch, latency in zip(progress, latencies):
        d = {q: batch[q] for q in ("bronze", "silver", "fact")}
        trig = {q: sum(x.get("triggerExecution", 0) for x in d[q]) / 1000 for q in d}
        rows["bronze"].append(trig["bronze"])
        rows["silver"].append(trig["silver"])
        rows["fact"].append(sum(x.get("addBatch", 0) for x in d["fact"]) / 1000)
        rows["commit"].append(sum(x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                  for q in d for x in d[q]) / 1000)
        rows["startup"].append(latency - sum(trig.values()))
    med = {k: statistics.median(v) if v else 0.0 for k, v in rows.items()}
    return {
        "streaming.bronze.trigger_s": med["bronze"],
        "streaming.silver.trigger_s": med["silver"],
        "streaming.fact.add_batch_s": med["fact"],
        "streaming.commit_s": med["commit"],
        "streaming.startup_s": med["startup"],
    }
