"""Round-11 interleaved A/B probes (guide §1: measure first; memory:
same-weather interleaving is the only trustworthy delta on this host).

Targets (VERDICT r10 "Next round" items 2-5):
  q80    hinted (SHUFFLE_HASH) vs unhinted TPC-H Q21 — settle the one
         code-changed row the driver measured slower under storm.
  q129   current bigram-LM serve (store marginalization + first_tok leg
         + uni_full join + cross-join n) vs lp-store serve (per-bigram
         interpolated logprob precomputed at build; serve = pairs ⋈ lp).
  q125   current 4-leg dq audit (4 single-row aggregates unioned) vs
         fused variant (legs emit violation labels, ONE groupBy('chk')
         counts them, 5-row names frame restores zero-count checks).

Each timed run = full noop-sink execution under bench-session knobs
(parts=4, AQE off, maxPartitionBytes=4m). Variants alternate A,B,A,B...
per pass; report best-of-N and the per-pass pairs so a steal burst that
hits one pass is visible.

Usage: python scripts/probe_r11.py [passes] [targets-csv]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from bigdataindexing_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _time(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


# --- q80: hinted vs unhinted Q21 -------------------------------------------


def q80_variants(spark):
    from bigdataindexing_spark.plans import sql as sqlmod
    from bigdataindexing_spark.tables import register_views

    register_views(spark, SF_DIR)
    return {
        "A_unhinted": lambda: spark.sql(sqlmod._Q21),
        "B_shj_hint": lambda: spark.sql(sqlmod._Q21_SPARK),
    }


# --- q129: current serve vs lp-store serve ----------------------------------

_SEQ = """
    WITH seq AS (
      SELECT doc_id, pos, token AS b,
             LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS a
      FROM (SELECT doc_id,
                   posexplode(split(lower(text), ' ')) AS (pos, token)
            FROM {docs})
      WHERE token != ''
    )
"""


def _build_bigram_lm_lp(spark, sf_dir: str) -> DataFrame:
    """v2 store: (a, b, c_ab, c_a, lp) — lp is the full Jelinek-Mercer
    interpolated -LN term, computable at build because it depends only
    on the bigram (c_w and n are corpus constants)."""
    from bigdataindexing_spark.operators.text_analysis import BIGRAM_LAMBDA
    from bigdataindexing_spark.tables import table_view

    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        WITH seq AS (
          SELECT doc_id, pos, token AS b,
                 LAG(token) OVER (PARTITION BY doc_id ORDER BY pos) AS a
          FROM (SELECT doc_id,
                       posexplode(split(lower(text), ' ')) AS (pos, token)
                FROM {docs})
          WHERE token != ''
        ),
        bc AS (SELECT a, b, COUNT(1) AS c_ab FROM seq
               WHERE a IS NOT NULL AND a != '' GROUP BY a, b),
        ac AS (SELECT a, SUM(c_ab) AS c_a FROM bc GROUP BY a),
        uni AS (SELECT b AS w, COUNT(1) AS c FROM seq GROUP BY b),
        n AS (SELECT SUM(c) AS n FROM uni)
        SELECT bc.a, bc.b, bc.c_ab, ac.c_a,
               -LN({BIGRAM_LAMBDA} * bc.c_ab / ac.c_a
                   + {1 - BIGRAM_LAMBDA} * uni.c / n.n) AS lp
        FROM bc JOIN ac ON ac.a = bc.a
        JOIN uni ON uni.w = bc.b
        CROSS JOIN n
    """)


def q129_variants(spark):
    from bigdataindexing_spark.operators import text_analysis as ta
    from bigdataindexing_spark.tables import bounded_sort
    from bigdataindexing_spark.sources.store_dirs import (
        SessionParquetStore,
        write_store,
    )
    from bigdataindexing_spark.tables import table_view

    lm_v2_store = SessionParquetStore(
        "bigram_lm_v2",
        lambda spark, sf_dir, path: write_store(
            _build_bigram_lm_lp(spark, sf_dir), path, "a", "b"
        ),
    )
    # build both stores untimed (bench charges build to pass 1; the row
    # is serve-tagged and min-of-5 reports serve cost)
    ta._BIGRAM_LM_STORE.view(spark, SF_DIR)
    lm_v2 = lm_v2_store.view(spark, SF_DIR)
    docs = table_view(spark, SF_DIR, "documents")

    def new():
        out = spark.sql(f"""
            {_SEQ.format(docs=docs)},
            pairs AS (SELECT doc_id, a, b FROM seq
                      WHERE a IS NOT NULL AND a != '')
            SELECT p.doc_id,
                   FLOOR(AVG(lm.lp) * 1e3 + 0.5) / 1e3 AS nll2
            FROM pairs p
            JOIN {lm_v2} lm ON lm.a = p.a AND lm.b = p.b
            GROUP BY p.doc_id
        """)
        return bounded_sort(out, "doc_id", barrier=True)

    from bigdataindexing_spark.registry import all_specs

    cur = all_specs()["q129_bigram_logprob"].builder
    return {
        "A_current": lambda: cur(spark, SF_DIR),
        "B_lp_store": new,
    }


# --- q125: 4-leg audit vs fused single-agg ----------------------------------


def _dq_fused(docs, ev, li, orders, cust) -> DataFrame:
    from bigdataindexing_spark.tables import bounded_sort

    checks = [
        "documents_dup_doc_id",
        "events_null_props",
        "lineitem_nonpositive_qty",
        "lineitem_orphan_orderkey",
        "orders_orphan_custkey",
    ]
    dup = (
        docs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select(F.lit("documents_dup_doc_id").alias("chk"))
    )
    nulls = ev.filter(F.col("props").isNull()).select(
        F.lit("events_null_props").alias("chk")
    )
    li_labels = (
        li.select("l_orderkey", "l_quantity")
        .join(
            orders.select(F.col("o_orderkey").alias("_ok")).distinct(),
            F.col("l_orderkey") == F.col("_ok"),
            "left",
        )
        .select(
            F.explode(
                F.array_compact(
                    F.array(
                        F.when(
                            F.col("l_quantity") <= 0,
                            F.lit("lineitem_nonpositive_qty"),
                        ),
                        F.when(
                            F.col("_ok").isNull(),
                            F.lit("lineitem_orphan_orderkey"),
                        ),
                    )
                )
            ).alias("chk")
        )
    )
    orphan_o = orders.join(
        F.broadcast(cust.select("c_custkey")),
        orders["o_custkey"] == F.col("c_custkey"),
        "left_anti",
    ).select(F.lit("orders_orphan_custkey").alias("chk"))
    labels = dup.unionByName(nulls).unionByName(li_labels).unionByName(orphan_o)
    spark = docs.sparkSession
    names = spark.createDataFrame([(c,) for c in checks], "chk string")
    counts = labels.groupBy("chk").agg(F.count(F.lit(1)).alias("v"))
    out = (
        names.join(counts, "chk", "left")
        .select(
            "chk", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("violations")
        )
    )
    return bounded_sort(out, "chk")


def q125_variants(spark):
    from bigdataindexing_spark.operators.relational import dq_checks
    from bigdataindexing_spark.tables import table

    t = {n: table(spark, SF_DIR, n) for n in
         ("documents", "events", "lineitem", "orders", "customer")}
    args = (t["documents"], t["events"], t["lineitem"], t["orders"],
            t["customer"])
    return {
        "A_current": lambda: dq_checks(*args),
        "B_fused": lambda: _dq_fused(*args),
    }


TARGETS = {
    "q80": q80_variants,
    "q129": q129_variants,
    "q125": q125_variants,
}


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    names = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else list(TARGETS)
    )
    spark = get_spark(app_name="probe-r11", cpus="32")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    for tname in names:
        variants = TARGETS[tname](spark)
        # one untimed warm pass per variant (codegen/JIT)
        for label, fn in variants.items():
            _time(fn())
        best: dict[str, float] = {}
        rows = []
        s0 = _steal()
        for p in range(passes):
            pass_row = {}
            for label, fn in variants.items():
                spark.sparkContext.setJobDescription(f"{tname}:{label}:p{p}")
                el = _time(fn())
                pass_row[label] = round(el, 4)
                if label not in best or el < best[label]:
                    best[label] = el
            rows.append(pass_row)
        s1 = _steal()
        print(f"== {tname} (steal {round((s1 - s0) / 100.0, 1)}s) ==")
        for r in rows:
            print("  ", r)
        for label, v in sorted(best.items()):
            print(f"  best {label}: {round(v, 4)}")
        # sanity: variants must produce identical rows
        dfs = {label: fn() for label, fn in variants.items()}
        keys = sorted(dfs)
        a = dfs[keys[0]].collect()
        for k in keys[1:]:
            b = dfs[k].collect()
            same = sorted(map(tuple, a)) == sorted(map(tuple, b))
            print(f"  rows_equal[{keys[0]} vs {k}]: {same}")
            if not same:
                print("   A sample:", sorted(map(tuple, a))[:3])
                print("   B sample:", sorted(map(tuple, b))[:3])
    spark.stop()


if __name__ == "__main__":
    main()
