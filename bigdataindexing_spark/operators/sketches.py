"""Mergeable-sketch operators: Bloom-filter decontamination and
count-min-sketch heavy hitters (SURVEY.md §2.9 extensions X27/X28).

Sketches are the 100 TB answer when the exact structure doesn't fit:

- q81_decontaminate holds the full eval shingle SET on the join's build
  side — fine while benchmarks are small, impossible when the blocklist
  is billions of entries. The BLOOM variant compresses the eval set to a
  fixed M-bit mask (8 KiB here; a few GiB in production) that broadcasts
  to every executor and probes as a row-local expression inside the scan
  stage — no join, no shuffle, and the one-sided error is exactly the
  direction decontamination wants (never a false NEGATIVE: a truly
  contaminated document always hits).
- Exact token counts need a full shuffle of the long tail; the COUNT-MIN
  sketch caps the state at D×W counters that merge by addition (map-side
  partial → tiny exchange), overestimating only via hash collisions.

Both sketches hash with the md5_long trick (functions/text.py), so the
registered duckdb oracles rebuild bitset and counters END TO END in SQL
and the driver hash-gates the sketch CONTENTS, not just a property.
Like every approximate operator here, pytest additionally pins the
approximation guarantee itself (no-false-negative / overestimate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdataindexing_spark.registry import register
from bigdataindexing_spark.sources.store_dirs import SessionParquetStore, write_store
from bigdataindexing_spark.tables import bounded_sort, table_view

# --- Bloom-filter decontamination -------------------------------------------

BLOOM_N = 5            # shingle width (q81_decontaminate parity)
BLOOM_M = 1 << 16      # filter bits (8 KiB mask)
BLOOM_K = 4            # hash functions
# Spark/duckdb twin fragments for hash i of shingle s: 60-bit md5
# prefix mod M (md5_long's cross-engine recipe).
_POS_SPARK = (
    "CAST(conv(substr(md5(concat({s}, '_', CAST({i} AS STRING))), 1, 15), "
    f"16, 10) AS BIGINT) % {BLOOM_M}"
)
_POS_DUCK = (
    "CAST('0x' || substr(md5({s} || '_' || CAST({i} AS VARCHAR)), 1, 15) "
    f"AS BIGINT) % {BLOOM_M}"
)

_SHINGLE_SPARK = (
    "explode(array_distinct(transform("
    f"sequence(1, size(t) - {BLOOM_N - 1}), "
    f"i -> array_join(slice(t, i, {BLOOM_N}), ' '))))"
)

def _build_bloom_mask(spark: SparkSession, sf_dir: str, path: str) -> list[int]:
    """The Bloom bitset over the eval split's distinct shingles: one
    aggregation jobs the bit positions into M/64 bit-or'd words; absent
    words are zero. The collect is M-bounded (1024 rows) — the fixed
    sketch size, NOT data-proportional. The mask is written as the one-row
    ``mask ARRAY<BIGINT>`` table the serve broadcasts, and returned."""
    docs = table_view(spark, sf_dir, "documents")
    rows = spark.sql(f"""
        WITH ev AS (
          SELECT DISTINCT {_SHINGLE_SPARK} AS s
          FROM (SELECT split(lower(text), ' ') AS t FROM {docs}
                WHERE doc_id % 97 = 0)
          WHERE size(t) >= {BLOOM_N}
        ),
        pos AS (
          SELECT explode(transform(sequence(0, {BLOOM_K - 1}),
                 i -> {_POS_SPARK.format(s='s', i='i')})) AS p
          FROM ev
        )
        SELECT CAST(p DIV 64 AS INT) AS word,
               CAST(bit_or(shiftleft(CAST(1 AS BIGINT),
                                     CAST(p % 64 AS INT))) AS BIGINT) AS bits
        FROM pos GROUP BY word
    """).collect()
    mask = [0] * (BLOOM_M // 64)
    for r in rows:
        mask[r["word"]] = r["bits"]
    write_store(spark.createDataFrame([(mask,)], "mask ARRAY<BIGINT>"), path)
    return mask


_BLOOM_MASK = SessionParquetStore("bloom_mask", _build_bloom_mask)


def bloom_mask(spark: SparkSession, sf_dir: str) -> list[int]:
    """The session's Bloom bitset as M/64 longs (built once per session)."""
    return _BLOOM_MASK.meta(spark, sf_dir)


_BLOOM_ORACLE = f"""
WITH tok AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t
             FROM documents),
sh AS (SELECT doc_id, lang,
              list_distinct(list_transform(range(0, len(t) - {BLOOM_N - 1}),
                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                     t[i+4] || ' ' || t[i+5])) AS ss
       FROM tok WHERE len(t) >= {BLOOM_N}),
d AS (SELECT doc_id, lang, UNNEST(ss) AS s FROM sh),
ks AS (SELECT UNNEST(range(0, {BLOOM_K})) AS i),
evpos AS (
  SELECT DISTINCT {_POS_DUCK.format(s='s', i='i')} AS p
  FROM (SELECT DISTINCT s FROM d WHERE doc_id % 97 = 0) ev CROSS JOIN ks),
probe AS (
  SELECT doc_id, lang, s, i, {_POS_DUCK.format(s='s', i='i')} AS p
  FROM d CROSS JOIN ks WHERE doc_id % 97 <> 0),
hit AS (
  SELECT doc_id, lang, s FROM probe JOIN evpos USING (p)
  GROUP BY doc_id, lang, s HAVING COUNT(DISTINCT i) = {BLOOM_K}),
per AS (SELECT doc_id, lang, COUNT(*) AS n_hits FROM hit
        GROUP BY doc_id, lang)
SELECT lang, COUNT(*) AS flagged_docs,
       CAST(SUM(n_hits) AS BIGINT) AS hit_shingles
FROM per GROUP BY lang ORDER BY lang
"""


@register(
    "dedup_bloom_decontaminate",
    oracle=_BLOOM_ORACLE,
    tags=("dedup", "decontamination", "pipeline", "serve"),
    doc="Bloom-filter decontamination (X27): the eval split's distinct "
    f"{BLOOM_N}-gram shingles compress into a {BLOOM_M}-bit / "
    f"{BLOOM_K}-hash Bloom mask built once per session (one aggregation "
    "to M/64 bit-or'd words, an M-bounded driver collect); the serve "
    "query broadcasts the one-row mask store and flags "
    "training documents whose shingles hit all K bits — a row-local "
    "forall over element_at/shiftleft inside the scan stage, NO join "
    "and NO shuffle until the per-lang rollup. One-sided error by "
    "construction: every truly contaminated document is flagged (pytest "
    "pins bloom-flags ⊇ exact-flags vs q81's semantics); false "
    "positives are hash collisions the oracle reproduces exactly, since "
    "the bitset is md5-derived and rebuilt END TO END in duckdb SQL. "
    "At 100 TB this is the shape that survives when the blocklist no "
    "longer fits a broadcast hash set: the mask is fixed-size, "
    "executors never exchange eval data, and the filter runs at scan "
    "throughput.",
)
def dedup_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table_view(spark, sf_dir, "documents")
    mask_view = _BLOOM_MASK.view(spark, sf_dir)
    out = spark.sql(f"""
        WITH d AS (
          SELECT doc_id, lang, {_SHINGLE_SPARK} AS s
          FROM (SELECT doc_id, lang, split(lower(text), ' ') AS t
                FROM {docs} WHERE doc_id % 97 != 0)
          WHERE size(t) >= {BLOOM_N}
        ),
        hit AS (
          SELECT /*+ BROADCAST(m) */ doc_id, lang
          FROM d CROSS JOIN {mask_view} m
          WHERE forall(
            transform(sequence(0, {BLOOM_K - 1}),
                      i -> {_POS_SPARK.format(s='s', i='i')}),
            p -> (element_at(m.mask, CAST(p DIV 64 AS INT) + 1)
                  & shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0)
        ),
        per AS (
          SELECT doc_id, lang, COUNT(1) AS n_hits
          FROM hit GROUP BY doc_id, lang
        )
        SELECT lang, COUNT(1) AS flagged_docs,
               SUM(n_hits) AS hit_shingles
        FROM per GROUP BY lang
    """)
    return bounded_sort(out, "lang")


# --- Count-min-sketch heavy hitters ------------------------------------------

CMS_D = 4      # hash rows
CMS_W = 1024   # counters per row
CMS_TOP = 20   # heavy hitters reported

_CMS_POS_SPARK = (
    "CAST(conv(substr(md5(concat({t}, '#', CAST({d} AS STRING))), 1, 15), "
    f"16, 10) AS BIGINT) % {CMS_W}"
)
_CMS_POS_DUCK = (
    "CAST('0x' || substr(md5({t} || '#' || CAST({d} AS VARCHAR)), 1, 15) "
    f"AS BIGINT) % {CMS_W}"
)

def _build_cms(spark: SparkSession, sf_dir: str):
    """The CMS counter table: every token occurrence increments one
    counter per hash row; counters merge by addition, so the build is
    one partial-aggregating shuffle whose output is AT MOST D×W rows
    regardless of corpus size."""
    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        WITH tok AS (
          SELECT explode(split(lower(text), ' ')) AS t FROM {docs}
        ),
        pos AS (
          SELECT d, {_CMS_POS_SPARK.format(t='t', d='d')} AS w
          FROM tok
          LATERAL VIEW explode(sequence(0, {CMS_D - 1})) dd AS d
          WHERE t != ''
        )
        SELECT d, w, COUNT(1) AS cnt FROM pos GROUP BY d, w
    """)


_CMS_STORE = SessionParquetStore(
    "cms_counters",
    lambda spark, sf_dir, path: write_store(_build_cms(spark, sf_dir), path, "d", "w"),
)


_CMS_ORACLE = f"""
WITH tok AS (SELECT UNNEST(string_split(lower(text), ' ')) AS t
             FROM documents),
cnts AS (SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t),
ds AS (SELECT UNNEST(range(0, {CMS_D})) AS d),
cms AS (
  SELECT d, {_CMS_POS_DUCK.format(t='t', d='d')} AS w,
         CAST(SUM(c) AS BIGINT) AS cnt
  FROM cnts CROSS JOIN ds GROUP BY 1, 2),
top AS (SELECT t, c FROM cnts ORDER BY c DESC, t LIMIT {CMS_TOP}),
probe AS (
  SELECT top.t, top.c, ds.d, {_CMS_POS_DUCK.format(t='top.t', d='ds.d')} AS w
  FROM top CROSS JOIN ds)
SELECT p.t AS token, CAST(p.c AS BIGINT) AS true_cnt,
       MIN(cms.cnt) AS cms_cnt
FROM probe p JOIN cms ON cms.d = p.d AND cms.w = p.w
GROUP BY p.t, p.c ORDER BY true_cnt DESC, token
"""


@register(
    "txt_cms_heavy_hitters",
    oracle=_CMS_ORACLE,
    tags=("text", "sketch", "serve"),
    doc=f"Count-min-sketch heavy hitters (X28): a {CMS_D}×{CMS_W} "
    "counter table built once per session (every token occurrence "
    "increments one md5-derived counter per hash row; counters merge by "
    "ADDITION, so the build partial-aggregates map-side and the "
    "exchange carries at most D×W rows — fixed state where an exact "
    "token count shuffles the whole long tail). The serve query takes "
    f"the true top-{CMS_TOP} tokens and reports each one's exact count "
    "next to its sketch estimate (min over the D probed counters — a "
    "broadcast join against the 4096-row counter store). "
    "cms_cnt >= true_cnt ALWAYS (pytest pins the overestimate "
    "guarantee); the estimates themselves are hash-gated because the "
    "md5 counter layout rebuilds exactly in duckdb SQL. At 100 TB the "
    "sketch is how per-shard token statistics merge into corpus "
    "statistics without re-touching the data: sum the D×W tables.",
)
def txt_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table_view(spark, sf_dir, "documents")
    cms = _CMS_STORE.view(spark, sf_dir)
    out = spark.sql(f"""
        WITH tok AS (
          SELECT explode(split(lower(text), ' ')) AS t FROM {docs}
        ),
        cnts AS (SELECT t, COUNT(1) AS c FROM tok WHERE t != '' GROUP BY t),
        top AS (SELECT t, c FROM cnts ORDER BY c DESC, t LIMIT {CMS_TOP}),
        probe AS (
          SELECT t, c, d, {_CMS_POS_SPARK.format(t='t', d='d')} AS w
          FROM top LATERAL VIEW explode(sequence(0, {CMS_D - 1})) dd AS d
        )
        SELECT p.t AS token, p.c AS true_cnt, MIN(cm.cnt) AS cms_cnt
        FROM probe p JOIN {cms} cm ON cm.d = p.d AND cm.w = p.w
        GROUP BY p.t, p.c
    """)
    return bounded_sort(out, F.col("true_cnt").desc(), "token")


# --- mergeable quantile sketch (fixed-grid histogram) -------------------------

QH_W = 16  # bin width over documents.n_chars (range ~44-577 -> ~36 bins)


def _build_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard (source) partial histograms over a FIXED, data-independent
    bin grid — the mergeable-quantile artifact. Counts are additive, so
    shard partials sum into the corpus histogram with no re-touch of the
    data; the fixed grid is what makes the sketch deterministic enough
    for a SQL oracle (production swaps in t-digest/KLL for adaptive
    resolution; the merge algebra is identical)."""
    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(f"""
        SELECT source, CAST(FLOOR(n_chars / {QH_W}.0) AS BIGINT) AS bin,
               COUNT(1) AS cnt
        FROM {docs} GROUP BY source, bin
    """)


_QH_STORE = SessionParquetStore(
    "quantile_hist",
    lambda spark, sf_dir, path: write_store(
        _build_quantile_hist(spark, sf_dir), path, "source", "bin"
    ),
)


_QH_SERVE = """
WITH h AS (SELECT bin, SUM(cnt) AS cnt FROM {src} GROUP BY bin),
c AS (SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h),
n AS (SELECT SUM(cnt) AS n FROM h),
t AS (SELECT 'p50' AS q, CAST(CEIL(0.5e0 * n) AS BIGINT) AS rnk FROM n
      UNION ALL
      SELECT 'p90', CAST(CEIL(0.9e0 * n) AS BIGINT) FROM n
      UNION ALL
      SELECT 'p99', CAST(CEIL(0.99e0 * n) AS BIGINT) FROM n),
b AS (SELECT t.q, t.rnk, MIN(c.bin) AS bin
      FROM t JOIN c ON c.cum >= t.rnk GROUP BY t.q, t.rnk)
SELECT b.q,
       FLOOR((b.bin * {w} + {w}e0 * (b.rnk - (c.cum - c.cnt)) / c.cnt)
             * 1e4 + 0.5) / 1e4 AS est
FROM b JOIN c ON b.bin = c.bin
ORDER BY q
"""


@register(
    "q119_quantile_sketch",
    oracle=_QH_SERVE.format(
        src=f"(SELECT CAST(FLOOR(n_chars / {QH_W}.0) AS BIGINT) AS bin, "
        "COUNT(*) AS cnt FROM documents GROUP BY bin)",
        w=QH_W,
    ),
    tags=("sketch", "serve"),
    doc="Mergeable quantile sketch: per-shard fixed-grid histograms "
    "(source x bin x count) materialize once in the session store; "
    "quantile serves merge the partials by ADDITION (the HLL/CMS merge "
    "algebra applied to quantiles) and interpolate p50/p90/p99 inside "
    "the covering bin — rank error bounded by one bin width, pinned by "
    "the pytest contract against the exact percentile. The duckdb "
    "oracle rebuilds the same histogram from raw documents and must "
    "match the interpolated estimates exactly (the grid is fixed and "
    "data-independent, so the sketch is deterministic). At 100 TB each "
    "shard histogram is a few hundred rows regardless of shard size: "
    "cross-shard quantiles become a ~bins-sized merge instead of a "
    "corpus-wide percentile sort — the reason warehouses keep t-digest/"
    "KLL columns per partition; the fixed grid here trades adaptive "
    "resolution for oracle-exact determinism, the merge path is "
    "identical.",
)
def q119_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _QH_STORE.view(spark, sf_dir)
    out = spark.sql(
        _QH_SERVE.format(src=view, w=QH_W).rsplit("ORDER BY q", 1)[0]
    )
    return bounded_sort(out, "q")


# --- adaptive two-pass quantile sketch (VERDICT r7 #7) -------------------------
#
# X35's fixed grid has rank error <= one bin's mass, which degrades wherever
# the data concentrates. This variant adapts resolution in two passes while
# keeping BOTH properties that make the fixed grid production-worthy:
#   - merge-by-addition: boundaries are decided GLOBALLY (pass 1), so every
#     shard bins identically and partial counts sum — the KLL/t-digest serve
#     algebra without their nondeterministic compaction;
#   - full SQL oracle: every binning decision is INTEGER arithmetic over
#     BIGINT n_chars (coarse bin = (x-mn)*G DIV span; sub-bin budget
#     k_g = ceil(B*c_g/n); sub = (x-lo_g)*k_g DIV w_g), bit-exact in any
#     engine — no float edge can flip a bin.
# Pass 1 collects G+3 scalars (driver-bounded); pass 2 is one row-local
# scan into (source, bin, cnt) partials. Max refined-bin mass is
# ~n/B + one coarse-granularity slack, so rank error stays under 1%
# at B=256 (pinned by tests/test_sketches.py::test_adaptive_quantile_*).

AQ_G = 16   # pass-1 coarse bins
AQ_B = 256  # refined bin budget (max bin mass ~ n/AQ_B)


def _aq_layout(spark: SparkSession, sf_dir: str):
    """Pass 1: global integer stats -> per-coarse-bin refined layout."""
    docs = table_view(spark, sf_dir, "documents")
    row = spark.sql(
        f"SELECT COUNT(1) AS n, MIN(n_chars) AS mn, "
        f"MAX(n_chars) - MIN(n_chars) + 1 AS span FROM {docs}"
    ).collect()[0]
    n, mn, span = row["n"], row["mn"], row["span"]
    coarse = {
        r["g"]: r["c"]
        for r in spark.sql(
            f"SELECT CAST((n_chars - {mn}) * {AQ_G} DIV {span} AS INT) AS g, "
            f"COUNT(1) AS c FROM {docs} GROUP BY g"
        ).collect()
    }
    lo = [mn + (g * span + AQ_G - 1) // AQ_G for g in range(AQ_G + 1)]
    k, off, cum = [], [], 0
    for g in range(AQ_G):
        c = coarse.get(g, 0)
        kg = (AQ_B * c + n - 1) // n if c else 0
        k.append(kg)
        off.append(cum)
        cum += kg
    return n, mn, span, lo, k, off


def _aq_pass2_sql(
    src: str, shard_col: str, mn: int, span: int, lo: list, k: list, off: list
) -> str:
    """Pass-2 binning SQL under a FROZEN pass-1 layout (literal arrays):
    rows from `src` fold into ({shard_col}, bin, blo, bhi, cnt) partials —
    pure integer arithmetic, shared by the batch store builder and the
    ST16 streaming maintenance twin."""
    arr = lambda xs: "array(" + ", ".join(str(x) for x in xs) + ")"  # noqa: E731
    return f"""
        WITH v AS (
          SELECT {shard_col}, n_chars AS x,
                 CAST((n_chars - {mn}) * {AQ_G} DIV {span} AS INT) AS g
          FROM {src}
        ),
        a AS (
          SELECT {shard_col}, x,
                 element_at({arr(k)}, g + 1) AS k,
                 element_at({arr(off)}, g + 1) AS off,
                 element_at({arr(lo[:AQ_G])}, g + 1) AS lo,
                 element_at({arr(lo[1:])}, g + 1)
                   - element_at({arr(lo[:AQ_G])}, g + 1) AS w
          FROM v
        ),
        sb AS (
          SELECT {shard_col}, (x - lo) * k DIV w AS sub, k, off, lo, w FROM a
        )
        SELECT {shard_col}, off + sub AS bin,
               MIN(lo + (sub * w + k - 1) DIV k) AS blo,
               MIN(lo + ((sub + 1) * w + k - 1) DIV k) AS bhi,
               COUNT(1) AS cnt
        FROM sb GROUP BY {shard_col}, off + sub
    """


def _build_adaptive_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pass 2: shard-local (source, bin, blo, bhi, cnt) partials under the
    pass-1 global layout — additive across shards by construction."""
    _n, mn, span, lo, k, off = _aq_layout(spark, sf_dir)
    docs = table_view(spark, sf_dir, "documents")
    return spark.sql(_aq_pass2_sql(docs, "source", mn, span, lo, k, off))


_AQ_STORE = SessionParquetStore(
    "adaptive_quantile_hist",
    lambda spark, sf_dir, path: write_store(
        _build_adaptive_hist(spark, sf_dir), path, "source", "bin"
    ),
)

# serve: merge partials by addition, rank into the covering refined bin,
# interpolate inside [blo, bhi) — same shape as _QH_SERVE but the bin
# bounds come from the sketch rows (they are layout-derived integers).
# est is an integer ratio that CAN land on a non-dyadic exact 1e-4 half
# (cnt with 5^k factors), where engine ROUND paths split — hence the
# explicit half-up FLOOR idiom, identical text on both engines (r08
# review finding; same fix applied to _QH_SERVE above)
_AQ_SERVE = """
WITH h AS (SELECT bin, MIN(blo) AS blo, MIN(bhi) AS bhi, SUM(cnt) AS cnt
           FROM {src} GROUP BY bin),
c AS (SELECT bin, blo, bhi, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h),
n AS (SELECT SUM(cnt) AS n FROM h),
t AS (SELECT 'p50' AS q, CAST(CEIL(0.5e0 * n) AS BIGINT) AS rnk FROM n
      UNION ALL
      SELECT 'p90', CAST(CEIL(0.9e0 * n) AS BIGINT) FROM n
      UNION ALL
      SELECT 'p99', CAST(CEIL(0.99e0 * n) AS BIGINT) FROM n),
b AS (SELECT t.q, t.rnk, MIN(c.bin) AS bin
      FROM t JOIN c ON c.cum >= t.rnk GROUP BY t.q, t.rnk)
SELECT b.q,
       FLOOR((c.blo + (c.bhi - c.blo) * 1e0 * (b.rnk - (c.cum - c.cnt))
             / c.cnt) * 1e4 + 0.5) / 1e4 AS est
FROM b JOIN c ON b.bin = c.bin
ORDER BY q
"""

# the duckdb oracle rebuilds BOTH passes from raw documents in integer
# arithmetic — layout CTEs mirror _aq_layout, binning mirrors pass 2
_AQ_ORACLE_SRC = f"""(
  WITH s AS (SELECT COUNT(*) AS n, MIN(n_chars) AS mn,
                    MAX(n_chars) - MIN(n_chars) + 1 AS span FROM documents),
  cg AS (SELECT ((n_chars - mn) * {AQ_G}) // span AS g, COUNT(*) AS c
         FROM documents, s GROUP BY g),
  kk AS (SELECT g, ({AQ_B} * c + n - 1) // n AS k,
                COALESCE(SUM(({AQ_B} * c + n - 1) // n) OVER (ORDER BY g
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         FROM cg, s),
  vals AS (SELECT kk.k, kk.off,
                  s.mn + (kk.g * s.span + {AQ_G - 1}) // {AQ_G} AS lo,
                  ((kk.g + 1) * s.span + {AQ_G - 1}) // {AQ_G}
                    - (kk.g * s.span + {AQ_G - 1}) // {AQ_G} AS w,
                  d.n_chars AS x
           FROM documents d, s
           JOIN kk ON ((d.n_chars - s.mn) * {AQ_G}) // s.span = kk.g),
  sb AS (SELECT off + ((x - lo) * k) // w AS bin, ((x - lo) * k) // w AS sub,
                lo, w, k
         FROM vals)
  SELECT bin, MIN(lo + (sub * w + k - 1) // k) AS blo,
         MIN(lo + ((sub + 1) * w + k - 1) // k) AS bhi,
         COUNT(*) AS cnt
  FROM sb GROUP BY bin
)"""


@register(
    "q126_adaptive_quantile",
    oracle=_AQ_SERVE.format(src=_AQ_ORACLE_SRC),
    tags=("sketch", "serve"),
    doc="Adaptive-resolution mergeable quantile sketch (two-pass): pass 1 "
    "fixes a GLOBAL layout — 16 coarse integer bins get sub-bin budgets "
    "proportional to their mass, 256 refined bins total — and pass 2 "
    "bins every shard against that shared layout into additive "
    "(source, bin, count) partials served from the session store. "
    "Equi-depth-ish refinement bounds any refined bin's mass near n/256, "
    "so rank error stays under 1% where the fixed-grid X35 sketch "
    "degrades on concentrated data; the merge-by-addition serve algebra "
    "is unchanged (the reason warehouses keep KLL/t-digest columns per "
    "partition — this is that design made oracle-exact by doing every "
    "binning decision in BIGINT arithmetic, which no float edge can "
    "flip). The duckdb oracle replays both passes from raw documents; "
    "the 1%-rank and shard-additivity contracts live in "
    "tests/test_sketches.py.",
)
def q126_adaptive_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _AQ_STORE.view(spark, sf_dir)
    out = spark.sql(_AQ_SERVE.format(src=view).rsplit("ORDER BY q", 1)[0])
    return bounded_sort(out, "q")
