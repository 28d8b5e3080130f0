"""read_mix: one read-only client sending search requests and analytics
queries, interleaved in seeded order.

A block is one search block (``search_read``: the five registered serves,
three BM25 top-10 queries, the four document searches) plus one analytics
pass (``analytics_mix``: one registered query per analytics module), so
every block runs the same mix. Set-up is both parts' set-up in one
session: the plan ingest, the cold search-index build, the analytics
stores' first pass and one warm request of each search kind. Each part
reads its own generated input directory.
"""

from __future__ import annotations

import numpy as np

import analytics_mix
import search_read


# measured time of one block on a 4-core host (run.py sizes the run by it)
BLOCK_S = 8.5


class Workload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.parts = (search_read.Workload(ctx), analytics_mix.Workload(ctx))
        self.block_len = sum(p.block_len for p in self.parts)

    @property
    def setup_checks(self) -> int:
        return sum(p.setup_checks for p in self.parts)

    @property
    def setup_failed(self) -> int:
        return sum(p.setup_failed for p in self.parts)

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def build(self) -> None:
        for p in self.parts:
            p.build()

    def warm(self) -> None:
        for p in self.parts:
            p.warm()

    def start(self) -> None:
        self.rng = np.random.default_rng((self.ctx.seed, 3))
        self.order: list[int] = []
        for p in self.parts:
            p.start()

    def next_op(self):
        if not self.order:
            slots = np.repeat(np.arange(len(self.parts)), [p.block_len for p in self.parts])
            self.order = list(self.rng.permutation(slots))
        return self.parts[self.order.pop()].next_op()

    def finish(self) -> int:
        return sum(p.finish() for p in self.parts)

    def report(self, recs: list[dict]) -> dict:
        search = [r["kind"] in search_read.KINDS for r in recs]
        out = self.parts[0].report([r for r, s in zip(recs, search) if s])
        out.update(self.parts[1].report([r for r, s in zip(recs, search) if not s]))
        return out

    def layer_extra(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_extra().items()}
