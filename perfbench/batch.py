"""The ``batch`` workload: a fixed list of the engine's driver queries,
each built and then fully materialised, one pass after another.

Every timed output is checked: the warm-up sample of each query against
its DuckDB ``oracle_sql()`` twin evaluated (untimed) on the same
generated tables, and every timed sample by digest against the checked
one. A query without a twin must give a non-empty result with the same
digest on every sample."""

from __future__ import annotations

import time

from check import digest, oracle_connection, same_as_oracle
from gen import TABLES

# scan + aggregate (shuffle), Python workers (mapInPandas) and streaming:
# one query per layer the batch path uses
QUERIES = [
    "q1_pricing_summary",
    "image_decode_features",
    "streaming_enriched_event_counts",
]

class Batch:
    def __init__(self, spark, data_dir: str, tracer):
        import __spark_entry__ as entry

        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.fns = entry.queries()
        self.oracles = entry.oracle_sql()
        # query -> (digest of the checked sample, why it failed or None)
        self.verified: dict[str, tuple[str, str | None]] = {}
        self.warm_results: list[tuple[str, str | None]] = []

    def bind(self, spark) -> None:
        self.spark = spark

    def settle(self) -> None:
        """One untimed pass on a fresh context before tracing."""
        for name in QUERIES:
            self.fns[name](self.spark, self.data_dir).toPandas()

    def passes(self):
        """Every pass runs each query once, in a fixed order."""
        while True:
            yield list(QUERIES)

    def warm_up(self) -> float:
        """One pass with cold caches and JIT, whose outputs are checked
        against the oracle, then one warm pass checked like a timed one
        (without it the first timed pass ran 10-40% slower than later
        ones). Returns the engine's seconds (the oracle and the checks
        are not counted)."""
        con = oracle_connection(self.data_dir, TABLES)
        took = 0.0
        for name in QUERIES:
            t0 = time.perf_counter()
            out = self.fns[name](self.spark, self.data_dir).toPandas()
            took += time.perf_counter() - t0
            if name in self.oracles:
                why = same_as_oracle(out, con.execute(self.oracles[name]).df())
            else:
                why = None if len(out) else "empty result"
            self.verified[name] = (digest(out), why)
        con.close()
        for name in QUERIES:
            t0 = time.perf_counter()
            out = self.fns[name](self.spark, self.data_dir).toPandas()
            took += time.perf_counter() - t0
            self.warm_results.append((f"{name} warm", self.check(name, out)))
        return took

    def run_op(self, name: str, op_id: int):
        """Build and materialise one query; returns its output frame."""
        with self.tracer.span("build", op=op_id, label=name):
            df = self.fns[name](self.spark, self.data_dir)
        with self.tracer.span("action", op=op_id, label=name):
            return df.toPandas()

    def after_op(self, op_id: int) -> None:
        """Nothing to do between a query's timer and its check."""

    def check(self, name: str, out) -> str | None:
        want, why = self.verified[name]
        if why is not None:
            return why
        if digest(out) != want:
            return "digest differs from the checked sample"
        return None
