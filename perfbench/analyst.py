"""``analyst_mix``: short read-only registry queries, one at a time.

The query list is fixed here by name (never derived from the registry's
order, which ``plans/__init__`` rearranges from the correctness history)
and spans every query module the mix draws on. Each pass runs the whole
list in a seeded order; the timed window is whole passes. Every query is
forced with the noop sink. Set-up generates the lake with
``tools/sfgen.py``, builds the artifacts the mix uses, and checks each
query once against its DuckDB oracle (``tools/parity.compare``); that
pass also warms the JVM.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys
import time

from perfbench.common import load_script

SCALE = 1.0  # sfgen multiplier vs sf0.01 row counts (1 = sf0.01)
QUERIES = (
    # plans.relational
    "pricing_summary", "shipping_priority",
    # plans.relational2 (reads the CLUSTER-BY events copy)
    "events_clustered_range",
    # plans.relational3
    "regional_revenue",
    # plans.relational4
    "price_percentiles_approx", "orders_status_pivot",
    # plans.relational5 (top_supplier reads the bucketed partsupp)
    "top_supplier", "market_share",
    # plans.measures, plans.behavioral, plans.quality, plans.streaming_batch
    "series_best_season_measure", "session_conversion",
    "dq_profile_union_approx", "events_sliding_stats",
)


class AnalystMix:
    uses_artifacts = True

    def __init__(self, spark, tracer, seed: int, work: str):
        from aws_imdb_data_pipeline_spark.plans import REGISTRY

        self.spark, self.tr, self.seed = spark, tracer, seed
        self.sf_dir = os.path.join(work, "sf")
        self.specs = {n: REGISTRY[n] for n in QUERIES}
        self.sfgen = load_script("tools/sfgen.py")
        self.parity = load_script("tools/parity.py")
        self.order: list[str] = []
        self.passes = 0
        self.bad: dict[str, list[str]] = {}
        self.setup_check_s = 0.0

    def prepare(self) -> None:
        with contextlib.redirect_stdout(sys.stderr):
            self.sfgen.generate(self.sf_dir, SCALE, self.seed)

    def warm(self) -> None:
        from aws_imdb_data_pipeline_spark.plans.partsupp import ensure_partsupp_bucketed
        from aws_imdb_data_pipeline_spark.plans.relational2 import ensure_clustered_events

        with self.tr.span("lifecycle.build_events_clustered"):
            ensure_clustered_events(self.spark, self.sf_dir)
        with self.tr.span("lifecycle.build_partsupp_bucketed"):
            ensure_partsupp_bucketed(self.spark, self.sf_dir)
        con = self.parity.duck_connection(self.sf_dir)
        try:
            for name, spec in self.specs.items():
                got = spec.fn(self.spark, self.sf_dir).toPandas()
                t = time.perf_counter()
                want = con.execute(spec.oracle).df()
                problems = self.parity.compare(name, got, want)
                self.setup_check_s += time.perf_counter() - t
                if problems:
                    self.bad[name] = problems
        finally:
            con.close()

    def next_op(self):
        if not self.order:
            self.order = list(QUERIES)
            random.Random(self.seed * 1000 + self.passes).shuffle(self.order)
            self.passes += 1
        self.current = self.order.pop(0)
        name = self.current
        return "query", lambda: self._query(name)

    def _query(self, name: str) -> None:
        with self.tr.span("plans.build", query=name):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with self.tr.span("plans.exec", query=name):
            df.write.format("noop").mode("overwrite").save()

    def after_op(self, op: dict) -> None:
        op["query"] = self.current

    def at_boundary(self) -> bool:
        return not self.order

    def check(self, ops: list[dict]) -> None:
        """Each query's output was compared with its oracle in set-up;
        every op of a query that failed that check is a failed op."""
        for op in ops:
            if op.get("query") in self.bad:
                op["ok"] = False
                op["problems"] += self.bad[op["query"]]

    def report(self, ops, p50, tail):
        lat = [op["s"] for op in ops if op["ok"]]
        return [
            ("query_p50_s", p50.get("query", float("nan")), "s"),
            ("query_p90_s", tail.get("query", float("nan")), "s"),
            ("queries_per_s", len(lat) / sum(op["s"] for op in ops), "1/s"),
            ("passes", self.passes, "count"),
        ]

    def layer_metrics(self, sp, ops) -> dict:
        return {}
