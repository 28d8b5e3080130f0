"""Every registered query with a SQL oracle must hash-match duckdb.

This is the local mirror of the driver's t2 correctness gate
(CORRECTNESS_r{N}.json). Run against sf0.01 with
``SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 pytest tests/ -q``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from bigdataindexing_spark import registry
from tests.oracle import compare

SPECS = registry.all_specs()
ORACLE_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, s in SPECS.items() if s.oracle is None)


def _assert_scalar_schema(name: str, df) -> None:
    """Driver-hashability gate (VERDICT r7 #3a): the correctness harness
    hashes result columns through pandas, which dies on list/map values
    (the sim_ann_index_upsert r07 red). Every registered output must be
    scalar-only — arrays canonicalize as n + md5(array_join(...)), the
    idx_postings_merge pattern."""
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{name}: non-scalar output columns {complex_cols} — the driver "
        "hasher cannot hash these; emit count + md5(array_join(...)) instead"
    )


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, spark, duck, sf_dir):
    spec = SPECS[name]
    df = spec.builder(spark, sf_dir)
    _assert_scalar_schema(name, df)
    result = compare(df, duck, spec.oracle_text())
    assert result["match"], f"{name}: {result}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, spark, sf_dir):
    spec = SPECS[name]
    df = spec.builder(spark, sf_dir)
    _assert_scalar_schema(name, df)
    assert df.count() >= 0


def test_specs_order_oracle_first_then_registration():
    """queries() order is one rule: oracle-bearing queries first, then the
    no-oracle contracts, each group in registration order."""
    registered = list(registry._REGISTRY)
    with_oracle = [n for n in registered if SPECS[n].oracle is not None]
    without = [n for n in registered if SPECS[n].oracle is None]
    assert with_oracle and without
    assert list(SPECS) == with_oracle + without
    assert list(registry.queries()) == list(SPECS)
