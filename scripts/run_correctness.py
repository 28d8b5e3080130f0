"""Self-reported correctness sweep: every registry query vs its duckdb
oracle, driver conditions (plain SparkSession, sf0.01), written to
CORRECTNESS_SELF.json at the repo root.

The round driver's own CORRECTNESS_r{N}.json has historically recorded
only the first ~50 `queries()` entries; this sweep is the same check over
ALL entries so the full oracle surface is evidenced every round.
No-oracle queries record a rows-only entry (the driver does the same).

Usage: python scripts/run_correctness.py  [env SPARK_GRAFT_SF_DIR overrides]
       python scripts/run_correctness.py --only name1,name2
           (targeted re-check merged into the existing artifact, so a
            newly-registered query can be evidenced without re-running
            the full ~8-minute sweep; aggregate counts are recomputed
            over the merged set — VERDICT r9 #8 pairs this with
            tests/test_sweep_drift.py, which fails when the registry
            outgrows the artifacts)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdataindexing_spark import registry, tables  # noqa: E402
from bigdataindexing_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, make_duckdb  # noqa: E402


def artifact_name(sf_dir: str) -> str:
    """Per-SF artifact filename (sf0.01 keeps the historical unsuffixed
    name; other SFs get a suffix, matching the committed artifacts)."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    names = {
        "sf0.01": "CORRECTNESS_SELF.json",
        "sf0.001": "CORRECTNESS_SELF_sf001.json",
        "sf0.1": "CORRECTNESS_SELF_sf01.json",
    }
    return names.get(tag, f"CORRECTNESS_SELF_{tag.replace('.', '')}.json")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only: set[str] | None = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        unknown = only - set(registry.all_specs())
        if unknown:
            raise SystemExit(f"--only names not in registry: {sorted(unknown)}")
    # session.get_spark pins spark.sql.session.timeZone=UTC — the
    # NTZ->LTZ cast in tables.events_ts is only value-preserving in a
    # UTC session, so a plain SparkSession here would silently diverge
    # from the oracle on every events-based query on a non-UTC host.
    spark = get_spark(cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("ERROR")
    con = make_duckdb(sf_dir)
    out: dict[str, dict] = {}
    t0 = time.time()
    for name, spec in registry.all_specs().items():
        if only is not None and name not in only:
            continue
        try:
            if spec.oracle is not None:
                r = compare(spec.builder(spark, sf_dir), con, spec.oracle_text())
                out[name] = {
                    "rows_match": r["spark_rows"] == r["duck_rows"],
                    "schema_match": r["cols_match"],
                    "hash_match": r["match"],
                    "ordered_match": r.get("ordered_match"),
                    "spark_rows": r["spark_rows"],
                    "oracle_rows": r["duck_rows"],
                    "err": None,
                }
            else:
                n = spec.builder(spark, sf_dir).count()
                out[name] = {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": n,
                    "oracle_rows": None,
                    "err": None,
                }
        except Exception as exc:  # record, keep sweeping
            out[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": f"{type(exc).__name__}: {exc}"[:200],
            }
        tables.release_pinned()
        spark.catalog.clearCache()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(root, artifact_name(sf_dir))
    if only is not None and os.path.exists(out_path):
        # merge the targeted re-check into the existing sweep artifact
        prior = json.load(open(out_path))["queries"]
        prior.update(out)
        out = prior
    payload = {
        "sf_dir": sf_dir,
        "total": len(out),
        "oracle_checked": sum(
            1 for v in out.values() if v["hash_match"] is not None
        ),
        "green": sum(1 for v in out.values() if v["hash_match"] is True),
        "rows_only": sum(
            1 for v in out.values() if v["hash_match"] is None and not v["err"]
        ),
        "failed": sorted(
            n for n, v in out.items() if v["hash_match"] is False
        ),
        "wall_sec": round(time.time() - t0, 1),
        "queries": out,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(
        f"{os.path.basename(out_path)}: "
        f"{payload['green']}/{payload['oracle_checked']} "
        f"oracle-green, {payload['rows_only']} rows-only, "
        f"failed={payload['failed']}, {payload['wall_sec']}s"
    )
    spark.stop()


if __name__ == "__main__":
    main()
