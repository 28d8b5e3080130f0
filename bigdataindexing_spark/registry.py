"""Central registry of declared queries (SURVEY.md §2).

Each :class:`QuerySpec` carries a DataFrame builder ``(spark, sf_dir) ->
DataFrame`` and, where the semantics are ANSI-SQL-expressible, the duckdb
oracle SQL the driver hash-matches against. Non-SQL-expressible operators
(stateful streaming, LSH candidate generation, document-pipeline contracts)
register with ``oracle=None`` and are verified by pytest contracts instead.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

# An oracle is either the duckdb SQL string itself or a zero-arg callable
# producing it. Callables are for oracles with env-dependent constants
# (the hot-shingle df cap): they resolve at CHECK time, so a post-import
# env override can never make the driver gate compare a differently-
# capped oracle against the store the Spark side actually built
# (ADVICE r6).


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: "str | Callable[[], str] | None"
    tags: tuple[str, ...] = ()
    bench: bool = True  # include in bench.py headline timing
    doc: str = ""

    def oracle_text(self) -> str | None:
        """The oracle SQL, resolved NOW (env-dependent constants bake in
        at check time, not import time)."""
        return self.oracle() if callable(self.oracle) else self.oracle


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: "str | Callable[[], str] | None",
    tags: tuple[str, ...] = (),
    bench: bool = True,
    doc: str = "",
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tags, bench=bench,
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


def all_specs() -> dict[str, QuerySpec]:
    """Every registered query: oracle-bearing queries first, then the
    no-oracle contracts, each group in registration order."""
    _ensure_loaded()
    ordered = sorted(_REGISTRY.values(), key=lambda s: s.oracle is None)
    return {s.name: s for s in ordered}


def queries() -> dict[str, Builder]:
    return {n: s.builder for n, s in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        n: s.oracle_text()
        for n, s in all_specs().items()
        if s.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from bigdataindexing_spark.operators import (  # noqa: F401
        relational,
        semistructured,
        text_analysis,
        dedup,
        similarity,
        multimodal,
        skew,
        grouped_python,
        pipeline,
        udtf_ops,
        behavioral,
        sketches,
        graph,
    )
    from bigdataindexing_spark.plans import sql  # noqa: F401
    from bigdataindexing_spark.documents import contracts  # noqa: F401
    from bigdataindexing_spark.index import rollup, search  # noqa: F401
    from bigdataindexing_spark.sources import (  # noqa: F401
        delta_log,
        json_ingest,
        layout,
        maintenance,
        skipping,
    )
    from bigdataindexing_spark.streaming import (  # noqa: F401
        lsh_dedup,
        queries,
        stateful,
    )

    _LOADED = True
