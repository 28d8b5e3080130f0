"""analytics_mix: the analytics half of the read_mix workload, registered
analytics queries in seeded order, against duckdb running the same
queries' oracles.

Set-up generates a TPC-H-shaped star schema plus ``documents`` and
``embeddings`` at SCALE and runs one pass over QUERIES, which builds the
session stores the serve-tagged queries read and checks each result
against its duckdb oracle. Each measured pass runs every query once, in a
seeded order, collecting its result (so the result can be checked); a
duckdb pass over the same oracles follows each Spark pass, so both
engines see the same host load. Between queries, outside the timings,
pinned relations are released and the cache cleared, as ``bench.py`` does.
"""

from __future__ import annotations

import time

import numpy as np

import gen
from layers import ANALYTICS_QUERIES as QUERIES

SCALE = 0.01


class Workload:
    block_len = len(QUERIES)

    def __init__(self, ctx):
        from bigdataindexing_spark import registry, tables

        self.ctx, self.spark, self.tr = ctx, ctx.spark, ctx.tracer
        self.specs = {q: registry.all_specs()[q] for q in QUERIES}
        self.tables = tables
        self.setup_checks = self.setup_failed = 0
        self.expected: dict[str, list] = {}
        self.duck_s: list[float] = []
        self.n_run = self.n_passes = 0

    def generate(self) -> None:
        import duckdb

        from bigdataindexing_spark.tables import TABLE_NAMES

        self.sf = self.ctx.path("sf_analytics")
        gen.write_tables(gen.relational_tables(np.random.default_rng(self.ctx.seed), SCALE), self.sf)
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")

    def build(self) -> None:
        """The first pass: builds every session store, checks every query."""
        from tests.oracle import canon_rows, duckdb_result

        for q in QUERIES:
            self.expected[q] = canon_rows(
                *duckdb_result(self.con, self.specs[q].oracle_text()), sort_rows=False
            )
            ok = self._query(q)()()
            self.setup_checks += 1
            self.setup_failed += not ok

    def warm(self) -> None:
        pass

    def start(self) -> None:
        self.rng = np.random.default_rng((self.ctx.seed, 11))
        self.queue: list[str] = []

    def next_op(self):
        if not self.queue:
            self._catch_up()
            self.n_passes += 1
            self.queue = [QUERIES[i] for i in self.rng.permutation(len(QUERIES))]
        q = self.queue.pop()
        return q, self._query(q)

    def _query(self, q: str):
        spec = self.specs[q]
        layer = spec.builder.__module__.removeprefix("bigdataindexing_spark.")

        def op():
            with self.tr.span(f"registry.{q}", layer=layer):
                df = spec.builder(self.spark, self.sf)
                cols, rows = df.columns, df.collect()

            def check() -> bool:
                from tests.oracle import canon_rows

                self.tables.release_pinned()
                self.spark.catalog.clearCache()
                self.n_run += 1
                if self.n_run % 10 == 0:  # as bench.py: let the ContextCleaner reap
                    self.spark.sparkContext._jvm.System.gc()
                return canon_rows(cols, [tuple(r) for r in rows], sort_rows=False) == self.expected[q]

            return check

        return op

    def _catch_up(self) -> None:
        """One duckdb pass after each finished Spark pass."""
        while len(self.duck_s) < self.n_passes:
            t0 = time.perf_counter()
            for q in QUERIES:
                self.con.execute(self.specs[q].oracle_text()).arrow()
            self.duck_s.append(time.perf_counter() - t0)

    def finish(self) -> int:
        self._catch_up()
        return 0  # every query was checked as it ran

    def report(self, recs: list[dict]) -> dict:
        n = len(recs) // len(QUERIES)
        passes = [sum(r["s"] for r in recs[i * len(QUERIES) : (i + 1) * len(QUERIES)]) for i in range(n)]
        return {
            "analytics_pass_s": (float(np.median(passes)), "s"),
            "analytics_vs_duckdb": (float(np.median(passes) / np.median(self.duck_s)), "ratio"),
            "passes": (n, "count"),
        }

    def layer_extra(self) -> dict:
        return {}
