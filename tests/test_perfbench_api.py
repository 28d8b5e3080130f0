"""The engine names perfbench calls, with the positional arguments it
passes (``perfbench/write_path.py``, ``perfbench/search_read.py``).

perfbench is the benchmark and changes only with it, so an engine
refactor that renames or re-signs one of these must fail here, in
tier-1, not at bench time. Spark-free: nothing is called, only resolved
and bound."""

from __future__ import annotations

import importlib
import inspect

import pytest

PKG = "bigdataindexing_spark"
TABLES = ("plans", "plan_services", "services", "member_cost_shares", "edges")

# (module, name, positional argument count perfbench passes); None for a
# constant
CALLS = [
    ("sources.json_ingest", "ingest_batch", 3),
    ("sources.json_ingest", "read_documents", 2),
    ("sources.json_ingest", "read_store", 2),
    ("documents.shred", "write_tables", 2),
    ("documents.merge", "merge", 2),
    ("documents.merge", "replace", 2),
    ("documents.delete", "cascade_delete", 2),
    ("documents.reassemble", "reassemble", 1),
    ("documents.schema", "PLAN_SCHEMA", None),
    ("documents.schema", "local_strings_df", 2),
    ("documents.validate", "validate", 1),
    ("streaming.index_maintenance", "upsert_batch", 1),
    ("streaming.index_maintenance", "compact", 3),
    ("streaming.index_maintenance", "read_postings", 2),
]


def _resolve(module: str, name: str):
    return getattr(importlib.import_module(f"{PKG}.{module}"), name)


@pytest.mark.parametrize(
    "module,name,n_args", CALLS, ids=[f"{m}.{n}" for m, n, _ in CALLS]
)
def test_engine_name_resolves_with_perfbench_arguments(module, name, n_args):
    obj = _resolve(module, name)
    if n_args is None:
        from pyspark.sql.types import StructType

        assert isinstance(obj, StructType)
    else:
        inspect.signature(obj).bind(*[None] * n_args)


def test_shredded_tables_take_perfbench_table_names():
    """write_path builds ``ShreddedTables(**{table: df})`` over its own
    table-name tuple."""
    inspect.signature(_resolve("documents.shred", "ShreddedTables")).bind(
        **dict.fromkeys(TABLES)
    )
