"""``query_mix``: read-only analytics over the shared sf0.01 test tables.

One client runs the ten registry queries below in a closed loop; each
execution is materialized to the ``noop`` sink and the seed permutes the
order within every pass. The tables are a verbatim copy of the
repository's deterministic sf0.01 test data (seed 42: 60k lineitem, 500
documents, 500 embeddings), kept under ``lakebench/data`` so a run reads
nothing outside its checkout. Before timing, one pass compares every
query against its DuckDB oracle with ``testing.oracle.compare_query``
(all five fields); that pass is also the warm-up.
"""

from __future__ import annotations

import os
import random

from run import median
from spans import dir_bytes, span_work

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# Ten of the registry's queries, five per family, chosen so one pass
# fits the run budget while covering what later work is expected to move:
# scan-split gains (dup_span_removal, pii_redaction, quality_rules) and the
# sessionization loss, job counts (triangle_suppliers) and checkpoint
# lifetimes (bm25_search).
WAREHOUSE = [
    "q01_pricing_summary", "q03_shipping_priority", "q18_large_orders",
    "q_sessionization", "q_scd2_history",
]
CORPUS = [
    "q_dup_span_removal", "q_pii_redaction", "q_quality_rules",
    "q_bm25_search", "q_triangle_suppliers",
]
QUERIES = WAREHOUSE + CORPUS
COMPARE_FIELDS = ("cols_match", "count_match", "values_match", "dtype_match", "driver_safe")


def family(name: str) -> str:
    return "warehouse" if name in WAREHOUSE else "corpus"


class QueryMix:
    def __init__(self, ctx):
        from ubeardw_databricks_lakehouse_spark.plans.registry import QUERIES as DEFS
        from ubeardw_databricks_lakehouse_spark.plans.registry import queries

        self.ctx = ctx
        self.spark = ctx.spark
        self.data = DATA
        self.fns = {n: fn for n, fn in queries().items() if n in QUERIES}
        self.oracles = {q.name: q.oracle for q in DEFS if q.name in QUERIES and q.oracle}
        self.passes = 0

    def setup(self) -> None:
        self.input_bytes = dir_bytes(self.data)
        self.ctx.warm(self.check_pass)

    def order(self) -> list[str]:
        names = list(QUERIES)
        random.Random(self.ctx.seed * 1009 + self.passes).shuffle(names)
        self.passes += 1
        return names

    def check_pass(self) -> None:
        """Compares every query once, in a fixed order, off the clock;
        also the warm-up."""
        from ubeardw_databricks_lakehouse_spark.testing.oracle import duck_con

        con = duck_con(self.data)
        try:
            for name in QUERIES:
                self.check_query(name, con)
        finally:
            con.close()

    def check_query(self, name: str, con) -> None:
        from ubeardw_databricks_lakehouse_spark.testing.oracle import compare_query

        fn = self.fns[name]
        if self.ctx.corrupt and name == "q01_pricing_summary":
            fn = _drop_one_row(fn)
        out = []
        self.ctx.op(name, lambda: out.append(compare_query(
            self.spark, con, fn, self.oracles[name], self.data)),
            check=lambda: [] if all(out[0][k] for k in COMPARE_FIELDS)
            else [f"oracle mismatch {out[0]}"])

    def run_query(self, name: str, tracer=None) -> None:
        tracer = tracer or self.ctx.null_tracer
        with tracer.span(f"plans.{family(name)}"), tracer.span(f"plans.{name}"):
            df = self.fns[name](self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()

    def cycle(self, tag: str, tracer=None) -> dict:
        """One pass over the queries in a seeded order."""
        tracer = tracer or self.ctx.null_tracer
        first_op = len(self.ctx.ops)
        for name in self.order():
            self.ctx.op(name, lambda: self.run_query(name, tracer))
        return self.ctx.cycle_totals(first_op)

    def summarize(self, cycles: list[dict]) -> tuple[dict, dict]:
        ctx = self.ctx
        med = {n: median(ctx.timed(n)) for n in QUERIES}
        # the mean, not the median: the ten queries differ in cost, and a
        # median over them jumps between the two middle queries
        latencies = ctx.timed()
        e2e = {"cycle_cpu_s": median(c["ops_cpu_s"] for c in cycles)}
        report = {
            "cycle_s": (median(c["ops_s"] for c in cycles), "s"),
            "latency_s": (sum(latencies) / len(latencies), "s"),
            "warehouse_q_s": (sum(med[n] for n in WAREHOUSE), "s"),
            "corpus_q_s": (sum(med[n] for n in CORPUS), "s"),
            "input_mb": (self.input_bytes / 1e6, "MB"),
        }
        return e2e, report

    def layers(self, tracer, by_span: dict, traced: dict, cores: int) -> dict:
        out = {}
        for q in QUERIES:
            out[f"plans.{q}.s"] = tracer.walls(f"plans.{q}")
            out[f"plans.{q}.jobs"] = span_work(tracer, by_span, f"plans.{q}", cores)["jobs"]
        for span in ("plans.warehouse", "plans.corpus"):
            out.update({f"{span}.{k}": v for k, v in span_work(
                tracer, by_span, span, cores).items()})
        return out


def _drop_one_row(fn):
    def corrupted(spark, data):
        df = fn(spark, data)
        return df.limit(max(df.count() - 1, 0))

    return corrupted
