"""write_path: JSON documents arrive, are validated, shredded, stored and
indexed; PATCH, PUT and DELETE rewrite the store between arrivals.

One block is an arrival (a JSON-lines file of ARRIVAL_DOCS plan bodies,
~2% invalid) followed by three updates of seeded documents: a PATCH, a PUT
and a DELETE, in that order. The order is fixed because an update's cost
grows with the store it rewrites: a seeded order would move cost between
runs. An arrival is ``ingest_batch`` into its own batch directory, then
``upsert_batch`` of the accepted bodies as (doc_id, text), then
``compact``, which folds the index partials, then a ``read_postings``
probe for the new document's id token; so every block holds one
compaction. An update reads the whole store (last rewrite plus the
batches since), applies ``merge`` / ``replace`` / ``cascade_delete`` and
commits it with ``write_tables`` into a new directory. The store grows by
one arrival a block and every update rewrites all of it, so no store is
reused from one operation to the next.
The generator keeps the expected store and index, which are checked at the
end. Set-up is a warm-up on a scratch store: one arrival that compacts
and one PUT.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import gen
from run import dir_bytes, percentile

ARRIVAL_DOCS = 200
INVALID_FRAC = 0.02
# measured time of one block on a 4-core host (run.py sizes the run by it)
BLOCK_S = 20.0
UPDATES = ("patch", "put", "delete")
TABLES = ("plans", "plan_services", "services", "member_cost_shares", "edges")
SPAN = {
    "patch": "documents.merge.merge",
    "put": "documents.merge.replace",
    "delete": "documents.delete.cascade_delete",
}


def _rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _tokens(body: str) -> set[str]:
    return set(body.lower().split(" ")) - {""}


class Workload:
    block_len = 1 + len(UPDATES)

    def __init__(self, ctx):
        from pyspark.sql import functions as F

        from bigdataindexing_spark.documents import delete, merge, reassemble, schema, shred
        from bigdataindexing_spark.documents.validate import validate
        from bigdataindexing_spark.sources import json_ingest
        from bigdataindexing_spark.streaming import index_maintenance

        self.ctx, self.spark, self.tr, self.F = ctx, ctx.spark, ctx.tracer, F
        self.merge, self.delete, self.shred = merge, delete, shred
        self.reassemble, self.schema, self.validate = reassemble, schema, validate
        self.ingest, self.im = json_ingest, index_maintenance
        self.setup_checks = self.setup_failed = 0
        self._n_starts = 0

    # --- set-up -------------------------------------------------------------

    def generate(self) -> None:
        """Arrivals are generated one at a time, just before hand-over."""

    def build(self) -> None:
        """Warm-up on a scratch store: one arrival that compacts and one PUT
        (``replace`` shreds, runs the DELETE path and writes the store)."""
        self.start(seed=(self.ctx.seed, 1000))
        ops = [self._arrival(0), self._update("put")]
        for op in ops:
            ok = op()()
            self.setup_checks += 1
            self.setup_failed += not ok

    def warm(self) -> None:
        pass

    # --- the measured loop -------------------------------------------------

    def start(self, seed=None) -> None:
        self._n_starts += 1
        self.root = self.ctx.path(f"store{self._n_starts}")
        self.index_dir = os.path.join(self.root, "index")
        os.makedirs(self.index_dir)
        self.rng = np.random.default_rng(self.ctx.seed if seed is None else seed)
        self.base: str | None = None  # last full rewrite of the store
        self.batches: list[str] = []  # arrival batches since then
        self.expected: dict[str, dict] = {}
        self.live: list[str] = []
        self.token_df: Counter = Counter()
        self.next_id = 0
        self.n_versions = 0
        self.accepted_bytes = self.bytes_written = 0
        self.arrival_docs: list[int] = []  # valid docs per arrival
        self.n_bodies = self.n_valid = 0
        self.partials_seen: list[int] = []
        self._it = self._ops()

    def next_op(self):
        return next(self._it)

    def _ops(self):
        k = 0
        while True:
            yield "arrival", self._arrival(k)
            for kind in UPDATES:
                yield kind, self._update(kind)
            k += 1

    def _arrival(self, k: int):
        bodies, valid = [], []
        for _ in range(ARRIVAL_DOCS):
            i = self.next_id
            self.next_id += 1
            if self.rng.random() < INVALID_FRAC:
                bodies.append(gen.invalid_body(i, self.rng))
                continue
            doc = gen.plan_doc(i, self.rng)
            body = json.dumps(doc)
            bodies.append(body)
            valid.append(body)
            self.expected[doc["objectId"]] = doc
            self.live.append(doc["objectId"])
            self.token_df.update(_tokens(body))
            self.accepted_bytes += len(body) + 1
        in_dir = os.path.join(self.root, "arrivals", f"a{k}")
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "part-0.jsonl"), "w") as f:
            f.write("\n".join(bodies) + "\n")
        self.n_bodies += len(bodies)
        self.n_valid += len(valid)
        probe = json.loads(valid[0])["objectId"]
        probe_tok = f'"{probe}",'
        batch = os.path.join(self.root, "batches", f"b{k}")
        partial = os.path.join(self.index_dir, f"batch={k}")
        F, spark, tr = self.F, self.spark, self.tr

        def op():
            with tr.span("sources.json_ingest.ingest_batch") as rec:
                self.ingest.ingest_batch(spark, in_dir, batch)
                if rec is not None:
                    rec["bytes_written"] = dir_bytes(batch)
            with tr.span("streaming.index_maintenance.upsert_batch"):
                accepted, _ = self.validate(self.ingest.read_documents(spark, in_dir))
                self.im.upsert_batch(self.index_dir)(
                    accepted.select(
                        F.col("doc").getField("objectId").alias("doc_id"),
                        F.col("value").alias("text"),
                    ),
                    k,
                )
            self.bytes_written += dir_bytes(batch) + dir_bytes(partial)
            self.batches.append(batch)
            self.partials_seen.append(len(os.listdir(self.index_dir)))
            self._compact(k)
            with tr.span("streaming.index_maintenance.read_postings"):
                hit = (
                    self.im.read_postings(spark, self.index_dir)
                    .filter(F.col("token") == probe_tok)
                    .collect()
                )

            def check() -> bool:
                self.arrival_docs.append(len(valid))
                return (
                    _rows(os.path.join(batch, "plans.parquet")) == len(valid)
                    and _rows(os.path.join(batch, "quarantine.parquet")) == len(bodies) - len(valid)
                    and [r["df"] for r in hit] == [1]
                )

            return check

        return op

    def _compact(self, k: int) -> None:
        tmp = os.path.join(self.root, "index_compacted")
        with self.tr.span("streaming.index_maintenance.compact"):
            self.im.compact(self.spark, self.index_dir, tmp)
        self.bytes_written += dir_bytes(tmp)
        for d in os.listdir(self.index_dir):
            shutil.rmtree(os.path.join(self.index_dir, d))
        os.rename(tmp, os.path.join(self.index_dir, f"batch=c{k}"))

    def _store(self):
        dirs = ([self.base] if self.base else []) + self.batches
        return self.shred.ShreddedTables(
            **{
                t: self.spark.read.parquet(*[os.path.join(d, f"{t}.parquet") for d in dirs])
                for t in TABLES
            }
        )

    def _parsed(self, body: str):
        return self.schema.local_strings_df(self.spark, [body]).select(
            self.F.from_json("value", self.schema.PLAN_SCHEMA).alias("doc")
        )

    def _update(self, kind: str):
        pid = self.live[int(self.rng.integers(len(self.live)))]
        body = None
        if kind == "patch":
            patch, exp = gen.patch_doc(self.expected[pid], self.rng, self.n_versions)
            body = json.dumps(patch)
            doc = self.expected[pid]
            doc["planType"] = exp["planType"]
            doc["planCostShares"]["copay"] = exp["copay"]
            doc["linkedPlanServices"].append(exp["appended"])
        elif kind == "put":
            doc = gen.plan_doc(int(pid[5:]), self.rng, version=self.n_versions + 1)
            body = json.dumps(doc)
            self.expected[pid] = doc
        else:
            del self.expected[pid]
            self.live.remove(pid)
        if body is not None:
            self.accepted_bytes += len(body) + 1
        self.n_versions += 1
        out = os.path.join(self.root, "base", f"v{self.n_versions}")
        tr = self.tr

        def op():
            cur = self._store()
            with tr.span(SPAN[kind]):
                if kind == "patch":
                    new = self.merge.merge(cur, self._parsed(body))
                elif kind == "put":
                    new = self.merge.replace(cur, self._parsed(body))
                else:
                    new = self.delete.cascade_delete(cur, [pid])
                with tr.span("documents.shred.write_tables") as rec:
                    self.shred.write_tables(new, out)
                    if rec is not None:
                        rec["bytes_written"] = dir_bytes(out)
            for d in ([self.base] if self.base else []) + self.batches:
                shutil.rmtree(d)
            self.base, self.batches = out, []
            self.bytes_written += dir_bytes(out)
            return lambda: True

        return op

    # --- checks and report --------------------------------------------------

    def finish(self) -> int:
        """Wrong documents in the final store, plus 1 if the merged index
        differs from the postings of every accepted arrival body."""
        F = self.F
        got = {
            r["object_id"]: json.loads(r["j"])
            for r in self.reassemble.reassemble(self._store())
            .select("object_id", F.to_json("doc").alias("j"))
            .collect()
        }
        wrong = sum(got.get(k) != v for k, v in self.expected.items())
        wrong += len(set(got) - set(self.expected))
        postings = {
            r["token"]: r["df"] for r in self.im.read_postings(self.spark, self.index_dir).collect()
        }
        wrong += postings != dict(self.token_df)
        if wrong:
            print(f"write_path: {wrong} wrong documents/index", flush=True)
        self.live_bytes = sum(
            dir_bytes(d) for d in ([self.base] if self.base else []) + self.batches
        ) + dir_bytes(self.index_dir)
        return wrong

    def report(self, recs: list[dict]) -> dict:
        arr = [r["s"] for r in recs if r["kind"] == "arrival" and r["ok"]]
        upd = [r["s"] for r in recs if r["kind"] != "arrival" and r["ok"]]
        out = {
            "write_docs_per_s": (sum(self.arrival_docs) / sum(arr), "docs/s"),
            "freshness_p50_s": (float(np.median(arr)), "s"),
            "freshness_p90_s": (percentile(arr, 90), "s"),
            "write_amp": (self.bytes_written / self.accepted_bytes, "ratio"),
            "space_amp": (self.live_bytes / self.accepted_bytes, "ratio"),
        }
        if upd:
            out["update_p50_s"] = (float(np.median(upd)), "s")
        out["arrivals"] = (len(arr), "count")
        out["updates"] = (len(upd), "count")
        return out

    def layer_extra(self) -> dict:
        return {
            "documents.validate.valid_frac": self.n_valid / self.n_bodies,
            "streaming.index_maintenance.partials": float(np.mean(self.partials_seen)),
        }
