"""Regenerate tests/golden_plans.json — the committed plan-audit golden
for serve-tagged benched queries (VERDICT r5 #7), and the repo's one
plan-audit source.

For every serve-tagged query (the store-backed rows whose plan shape is
the product's serving contract), the regression-class plan properties —
exchange count, join strategies, Python stages, pushed-filter scan count
— are pinned per scale factor. The paired pytest
(tests/test_plans.py::test_serve_plans_match_committed_golden) re-audits
under the exact test-session settings and fails on ANY drift, so a
deliberate plan change requires re-running this script and committing the
diff.

Usage: python scripts/gen_plan_golden.py   (rewrites tests/golden_plans.json
for both sf0.001 and sf0.01 — the two SFs the pytest gate runs at)
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataindexing_spark import registry, tables  # noqa: E402
from bigdataindexing_spark.session import get_spark, tune_for_local_tests  # noqa: E402

GOLDEN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden_plans.json",
)
SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
PY_KINDS = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)


def audit(df) -> dict:
    """Materialize ``df`` once so AQE finalizes, then read the
    regression-class fields off ``explain('formatted')`` (VERDICT r5 #7):
    a new exchange, a join falling back (BHJ -> SMJ), a new Python
    stage, or a pushed-filter scan count drop."""
    df.write.mode("overwrite").format("noop").save()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    full = buf.getvalue()
    final = full.split("== Initial Plan ==")[0]
    return {
        "exchanges": final.count("Exchange ("),
        "joins": [k for k in JOIN_KINDS if k in final],
        "python": [k for k in PY_KINDS if k in full],
        "pushed_scans": len(re.findall(r"PushedFilters: \[[^\]]", full)),
    }


def golden_for(spark, sf_dir: str) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for name, spec in sorted(registry.all_specs().items()):
        if not spec.bench or "serve" not in spec.tags:
            continue
        out[name] = audit(spec.builder(spark, sf_dir))
        tables.release_pinned()
        spark.catalog.clearCache()
    return out


def main() -> None:
    # mirror the pytest session EXACTLY (tests/conftest.py): same session
    # factory, same local tuning — the golden is only meaningful under the
    # settings the gate re-audits with
    spark = get_spark(
        app_name="bdi-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    tune_for_local_tests(spark)
    spark.sparkContext.setLogLevel("ERROR")
    golden = {
        os.path.basename(sf_dir.rstrip("/")): golden_for(spark, sf_dir)
        for sf_dir in SF_DIRS
    }
    with open(GOLDEN_PATH, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {GOLDEN_PATH}")
    spark.stop()


if __name__ == "__main__":
    main()
