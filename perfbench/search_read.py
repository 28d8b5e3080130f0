"""search_read: the search half of the read_mix workload, a read-only
client of the search index and document store.

Set-up generates a ``documents`` table of N_DOCS token texts and N_PLANS
plan documents, ingests the plans with ``ingest_batch`` and builds the
search index cold with ``index.search.search_index_table`` (which runs
``index.build.write_index`` and the scoring sidecars), reported apart as
``index_build_s``.

The loop then sends requests in blocks of a fixed mix, each block in
seeded order: the five registered serves by name, BM25 top-10 over
``term_impacts`` for 1-3 Zipf-drawn terms, and the reference's four
document searches (match on objectId and wildcard on ``_org`` through
``documents.reassemble.reassemble``; range on copay and nested inner hits
over the shredded tables), in the DataFrame shapes of
``documents.contracts.search_*``. Parameters come from small seeded pools,
so every distinct request is checked against duckdb over the same
generated inputs the first time it runs, and its later results against
that answer.
"""

from __future__ import annotations

import json
import os

import numpy as np

import gen
from layers import SERVES
from run import dir_bytes, percentile

N_DOCS = 2_000
N_PLANS = 200
POOL = 6  # distinct parameter values per request kind
# one block: each registered serve once, three BM25 queries, one of each
# document search
BLOCK = ("bm25",) * 3 + ("match", "wildcard", "range", "nested")
KINDS = frozenset(("serve",) + BLOCK)
VOCAB = gen.BASE_WORDS + [gen.RARE_WORD] + list(gen.TAIL_WORDS)

BM25_SQL = """
WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS token FROM documents),
lens AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM lens),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token IN ({terms}) GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok WHERE token IN ({terms}) GROUP BY token)
SELECT doc_id, ROUND(SUM(LN(1 + (stats.n - df.df + 0.5) / (df.df + 0.5))
  * (tf.tf * ({k1} + 1)) / (tf.tf + {k1} * (1 - {b} + {b} * lens.dl / stats.avgdl))), 4) AS score
FROM tf JOIN df USING (token) JOIN lens USING (doc_id) CROSS JOIN stats
GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10
"""
COST_SHARES = """
(SELECT planCostShares.objectId AS object_id, planCostShares.copay AS copay FROM plans
 UNION ALL
 SELECT ps.planserviceCostShares.objectId, ps.planserviceCostShares.copay
 FROM (SELECT UNNEST(linkedPlanServices) AS ps FROM plans))
"""
DOC_SQL = {
    "match": "SELECT objectId AS object_id, to_json(p) AS doc_json FROM plans p "
    "WHERE objectId = '{0}'",
    "wildcard": "SELECT objectId AS object_id FROM plans WHERE _org LIKE '{0}%' "
    "ORDER BY object_id",
    "range": "SELECT object_id, copay FROM " + COST_SHARES
    + " WHERE copay BETWEEN {0} AND {1} ORDER BY object_id",
    "nested": "SELECT plan_id, inner_hit_ps, copay FROM (SELECT objectId AS plan_id, "
    "ps.objectId AS inner_hit_ps, ps.planserviceCostShares.copay AS copay "
    "FROM (SELECT objectId, UNNEST(linkedPlanServices) AS ps FROM plans)) "
    "WHERE copay >= {0} ORDER BY plan_id, inner_hit_ps",
}


def _canon_json(text: str) -> str:
    """Engine and oracle each render the document; compare it parsed."""
    return json.dumps(json.loads(text), sort_keys=True)


class Workload:
    block_len = len(SERVES) + len(BLOCK)

    def __init__(self, ctx):
        from pyspark.sql import functions as F

        from bigdataindexing_spark import registry
        from bigdataindexing_spark.documents.reassemble import reassemble
        from bigdataindexing_spark.index import build, search
        from bigdataindexing_spark.sources import json_ingest

        self.ctx, self.spark, self.tr, self.F = ctx, ctx.spark, ctx.tracer, F
        self.specs = registry.all_specs()
        self.reassemble, self.build_mod, self.search, self.ingest = (
            reassemble, build, search, json_ingest,
        )
        self.setup_checks = self.setup_failed = 0
        self.expected: dict[tuple, list] = {}

    # --- set-up -------------------------------------------------------------

    def generate(self) -> None:
        rng = np.random.default_rng(self.ctx.seed)
        self.sf = self.ctx.path("sf_search")
        gen.write_tables({"documents": gen.documents_table(rng, N_DOCS)}, self.sf)
        self.plans_in = self.ctx.path("plans_in")
        os.makedirs(self.plans_in)
        ids = []
        with open(os.path.join(self.plans_in, "part-0.jsonl"), "w") as f:
            for i in range(N_PLANS):
                doc = gen.plan_doc(i, rng)
                ids.append(doc["objectId"])
                f.write(json.dumps(doc) + "\n")
        zipf = np.minimum(rng.zipf(1.5, (POOL, 3)), len(VOCAB)) - 1
        lo = rng.integers(0, 196, POOL)
        self.pools = {
            "bm25": [tuple(sorted({VOCAB[r] for r in row[: 1 + k % 3]})) for k, row in enumerate(zipf)],
            "match": [(ids[i],) for i in rng.integers(N_PLANS, size=POOL)],
            "wildcard": [(f"org{k:02d}",) for k in rng.integers(30, size=POOL)],
            "range": [(int(a), int(a) + 3) for a in lo],
            "nested": [(int(x),) for x in rng.integers(190, 200, POOL)],
        }
        self.rng = rng

    def build(self) -> None:
        """Store builds: the plan ingest and the cold search-index build."""
        import time

        self.store_dir = self.ctx.path("plans")
        with self.tr.span("sources.json_ingest.ingest_batch") as rec:
            self.ingest.ingest_batch(self.spark, self.plans_in, self.store_dir)
            if rec is not None:
                rec["bytes_written"] = dir_bytes(self.store_dir)
        t0 = time.perf_counter()
        with self.tr.wrap(self.build_mod, "write_index", "index.build.write_index"):
            with self.tr.span("index.search.search_index_table"):
                self.search.search_index_table(self.spark, self.sf, "term_impacts")
        self.build_s = time.perf_counter() - t0

    def warm(self) -> None:
        """Run each request kind once: builds the serves' own session stores
        and checks each result against duckdb."""
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf}/documents.parquet')"
        )
        self.con.execute(
            "CREATE TABLE plans AS SELECT * FROM "
            f"read_json_auto('{self.plans_in}/part-0.jsonl', sample_size=-1, dateformat='%Y-%m-%d')"
        )
        self.store = self.ingest.read_store(self.spark, self.store_dir)
        n_docs = self.con.execute("SELECT COUNT(*) FROM documents").fetchone()[0]
        self.setup_checks += 1
        self.setup_failed += n_docs != N_DOCS
        warm = [("serve", (q,)) for q in SERVES] + [(k, p[0]) for k, p in self.pools.items()]
        for kind, params in warm:
            ok = self._request(kind, params)()()
            self.setup_checks += 1
            self.setup_failed += not ok

    # --- the measured loop -------------------------------------------------

    def start(self) -> None:
        self.rng = np.random.default_rng((self.ctx.seed, 7))
        self.queue: list[tuple] = []

    def next_op(self):
        if not self.queue:
            block = [("serve", (q,)) for q in SERVES] + [
                (k, self.pools[k][int(self.rng.integers(POOL))]) for k in BLOCK
            ]
            self.queue = [block[i] for i in self.rng.permutation(len(block))]
        kind, params = self.queue.pop()
        return kind, self._request(kind, params)

    def _oracle_rows(self, kind: str, params: tuple) -> list:
        from tests.oracle import canon_rows, duckdb_result

        if kind == "serve":
            sql = self.specs[params[0]].oracle_text()
        elif kind == "bm25":
            sql = BM25_SQL.format(
                terms=", ".join(f"'{t}'" for t in params),
                k1=self.search.BM25_K1,
                b=self.search.BM25_B,
            )
        else:
            sql = DOC_SQL[kind].format(*params)
        cols, rows = duckdb_result(self.con, sql)
        if kind == "match":
            rows = [(r[0], _canon_json(r[1])) for r in rows]
        return canon_rows(cols, rows, sort_rows=False)

    def _request(self, kind: str, params: tuple):
        F, spark, tr, sf = self.F, self.spark, self.tr, self.sf

        def run():
            if kind == "serve":
                with tr.span(f"index.search.{params[0]}"):
                    df = self.specs[params[0]].builder(spark, sf)
                    return df.columns, df.collect()
            if kind == "bm25":
                with tr.span("index.search.term_impacts") as rec:
                    df = (
                        self.search.search_index_table(spark, sf, "term_impacts")
                        .filter(F.col("token").isin(list(params)))
                        .groupBy("doc_id")
                        .agg(F.round(F.sum("w"), 4).alias("score"))
                        .orderBy(F.col("score").desc(), "doc_id")
                        .limit(10)
                    )
                    rows = df.collect()
                    if rec is not None:
                        rec["hits"] = len(rows)
                    return df.columns, rows
            with tr.span(f"documents.search.{kind}"):
                t = self.store
                if kind in ("match", "wildcard"):
                    with tr.span("documents.reassemble.reassemble"):
                        docs = self.reassemble(t)
                        if kind == "match":
                            df = docs.filter(F.col("object_id") == params[0]).select(
                                "object_id", F.to_json("doc").alias("doc_json")
                            )
                        else:
                            df = (
                                docs.filter(F.col("doc").getField("_org").like(f"{params[0]}%"))
                                .select("object_id")
                                .orderBy("object_id")
                            )
                        return df.columns, df.collect()
                if kind == "range":
                    df = (
                        t.member_cost_shares.filter(F.col("copay").between(*params))
                        .select("object_id", "copay")
                        .orderBy("object_id")
                    )
                    return df.columns, df.collect()
                hits = t.member_cost_shares.filter(
                    F.col("object_id").startswith("mcs-s") & (F.col("copay") >= params[0])
                ).select(F.col("object_id").alias("cs_id"), F.col("copay"))
                pscs = t.edges.filter(F.col("field") == "planserviceCostShares").select(
                    F.col("parent_id").alias("ps_id"), F.col("child_id").alias("cs_id")
                )
                lps = t.edges.filter(F.col("field") == "linkedPlanServices").select(
                    F.col("parent_id").alias("plan_id"), F.col("child_id").alias("ps_id")
                )
                df = (
                    hits.join(pscs, "cs_id")
                    .join(lps, "ps_id")
                    .select("plan_id", F.col("ps_id").alias("inner_hit_ps"), "copay")
                    .orderBy("plan_id", "inner_hit_ps")
                )
                return df.columns, df.collect()

        def op():
            cols, rows = run()

            def check() -> bool:
                from tests.oracle import canon_rows

                key = (kind, params)
                if key not in self.expected:
                    self.expected[key] = self._oracle_rows(kind, params)
                if kind == "match":
                    rows_ = [(r[0], _canon_json(r[1])) for r in rows]
                else:
                    rows_ = [tuple(r) for r in rows]
                return canon_rows(cols, rows_, sort_rows=False) == self.expected[key]

            return check

        return op

    # --- checks and report --------------------------------------------------

    def finish(self) -> int:
        return 0  # every request was checked as it ran

    def report(self, recs: list[dict]) -> dict:
        lat = [r["s"] for r in recs if r["ok"]]
        return {
            "index_build_s": (self.build_s, "s"),
            "search_p50_ms": (float(np.median(lat)) * 1e3, "ms"),
            "search_p90_ms": (percentile(lat, 90) * 1e3, "ms"),
            "search_qps": (len(lat) / sum(lat), "req/s"),
            "requests": (len(lat), "count"),
        }

    def layer_extra(self) -> dict:
        spans = [s for s in self.tr.spans if s["name"] == "index.search.term_impacts"]
        hits = sum(s.get("hits", 0) for s in spans)
        return {
            "index.search.term_impacts.rows_read_per_hit": (
                sum(s["input_records"] for s in spans) / hits if hits else 0.0
            )
        }

