"""Seeded input generators for the benchmark workloads.

Everything the engine sees is made here from the run's seed: plan
documents (the ``documents.schema.make_plan`` shape) for the write path,
and a TPC-H-shaped star schema plus ``documents``/``embeddings``/
``events`` tables in the value domains the registered queries filter on.
Same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 300 tenant domains, so an `_org` prefix wildcard selects a few percent
ORGS = tuple(f"org{k:03d}.example.com" for k in range(300))
PLAN_TYPES = ("inNetwork", "outOfNetwork")
DEDUCTIBLES = (0, 10, 1000, 2000)
SERVICE_NAMES = ("Yearly physical", "well baby", "Dental checkup", "X ray", "MRI scan")

# Token vocabulary of the text tables: the 30 words the registered serves
# and oracles probe, a rare marker, and a Zipf-distributed tail.
BASE_WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
RARE_WORD = "dup"
TAIL_WORDS = tuple(f"w{i}" for i in range(2000))
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.15, 0.14, 0.13)


# --- plan documents ----------------------------------------------------------


def _cost_share(oid: str, org: str, rng: np.random.Generator) -> dict:
    return {
        "objectId": oid,
        "objectType": "membercostshare",
        "_org": org,
        "deductible": DEDUCTIBLES[int(rng.integers(4))],
        "copay": int(rng.integers(200)),
    }


def plan_doc(i: int, rng: np.random.Generator, version: int = 0) -> dict:
    """Plan document ``plan-<i>``; ``version`` > 0 gives a replacement body
    whose children carry fresh object ids."""
    org = ORGS[int(rng.integers(len(ORGS)))]
    sfx = f"-r{version}" if version else ""
    return {
        "objectId": f"plan-{i}",
        "objectType": "plan",
        "_org": org,
        "planType": PLAN_TYPES[int(rng.integers(2))],
        "creationDate": f"{int(rng.integers(1, 29)):02d}-{int(rng.integers(1, 13)):02d}"
        f"-20{10 + int(rng.integers(9))}",
        "planCostShares": _cost_share(f"mcs-p{i}{sfx}", org, rng),
        "linkedPlanServices": [
            _plan_service(f"{i}-{j}{sfx}", org, rng) for j in range(int(rng.integers(4)))
        ],
    }


def _plan_service(key: str, org: str, rng: np.random.Generator) -> dict:
    return {
        "objectId": f"ps-{key}",
        "objectType": "planservice",
        "_org": org,
        "linkedService": {
            "objectId": f"svc-{key}",
            "objectType": "service",
            "_org": org,
            "name": SERVICE_NAMES[int(rng.integers(5))],
        },
        "planserviceCostShares": _cost_share(f"mcs-s{key}", org, rng),
    }


def invalid_body(i: int, rng: np.random.Generator) -> str:
    """One rejected body: a missing required field, a wrong type, or
    malformed JSON (the kinds ``documents.schema.invalid_plans`` lists)."""
    d = plan_doc(i, rng)
    kind = int(rng.integers(4))
    if kind == 0:
        del d[("objectId", "_org", "planType", "creationDate", "planCostShares")[int(rng.integers(5))]]
    elif kind == 1:
        d["linkedPlanServices"].append(_plan_service(f"{i}-x", d["_org"], rng))
        del d["linkedPlanServices"][-1]["linkedService"]["name"]
    elif kind == 2:
        d["planCostShares"]["copay"] = "not-a-number"
    else:
        return json.dumps(d)[: 20 + int(rng.integers(40))]
    return json.dumps(d)


def patch_doc(doc: dict, rng: np.random.Generator, n_new: int) -> tuple[dict, dict]:
    """A sparse PATCH body for ``doc`` and the fields it sets.

    It overwrites ``planType`` and the plan cost share's copay (same
    objectId, so the child merges field-wise) and appends one new
    planservice. Returns (patch body, expected patched fields)."""
    pid = doc["objectId"]
    new_ps = _plan_service(f"{pid[5:]}-p{n_new}", doc["_org"], rng)
    copay = int(rng.integers(200))
    plan_type = PLAN_TYPES[int(rng.integers(2))]
    body = {
        "objectId": pid,
        "planType": plan_type,
        "planCostShares": {"objectId": doc["planCostShares"]["objectId"], "copay": copay},
        "linkedPlanServices": [new_ps],
    }
    expect = {"planType": plan_type, "copay": copay, "appended": new_ps}
    return body, expect


# --- text and relational tables ---------------------------------------------


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Token strings: 80% base words, 20% Zipf tail, ~5% of docs carry the
    rare marker, ~5% are near-copies of an earlier doc (for dedup)."""
    lens = rng.integers(10, 100, n)
    tail_rank = np.minimum(rng.zipf(1.3, int(lens.sum())), len(TAIL_WORDS)) - 1
    from_tail = rng.random(int(lens.sum())) < 0.2
    base = rng.integers(len(BASE_WORDS), size=int(lens.sum()))
    out: list[str] = []
    pos = 0
    for k, ln in enumerate(lens):
        words = [
            TAIL_WORDS[tail_rank[pos + j]] if from_tail[pos + j] else BASE_WORDS[base[pos + j]]
            for j in range(ln)
        ]
        pos += ln
        if k > 10 and rng.random() < 0.05:
            words = out[int(rng.integers(k))].split(" ")
            words[int(rng.integers(len(words)))] = RARE_WORD
        elif rng.random() < 0.05:
            words.insert(int(rng.integers(ln)), RARE_WORD)
        out.append(" ".join(words))
    return out


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = _texts(rng, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i}" for i in rng.integers(20, size=n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _dates(rng, n, lo: dt.date, hi: dt.date) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """region/nation/customer/supplier/part/orders/lineitem/events/
    embeddings at ``scale`` (1.0 is 6M lineitem rows), plus documents."""
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_docs, n_vec, n_ev = int(50_000 * scale), int(50_000 * scale), int(1_000_000 * scale)
    regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    segs = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
    ptypes = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    adj = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
    noun = ("plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil")
    prio = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    flags = (("A", "O"), ("A", "F"), ("N", "O"), ("N", "F"), ("R", "O"), ("R", "F"))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(regions)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": [segs[i] for i in rng.integers(5, size=n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(8, size=(n_part, 2))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [ptypes[i] for i in rng.integers(6, size=n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": [("P", "O", "F")[i] for i in rng.integers(3, size=n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": [prio[i] for i in rng.integers(5, size=n_ord)],
        }
    )
    okeys = np.sort(rng.integers(n_ord, size=n_line))
    lineno = np.zeros(n_line, np.int32)
    for k in range(1, n_line):
        lineno[k] = lineno[k - 1] + 1 if okeys[k] == okeys[k - 1] else 0
    qty = rng.integers(1, 51, n_line).astype(float)
    fl = rng.integers(6, size=n_line)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(lineno + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": [flags[i][0] for i in fl],
            "l_linestatus": [flags[i][1] for i in fl],
            "l_shipdate": _dates(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 86_400_000_000 * 7, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(100, size=n_ev), pa.int64()),
            "event_type": [("click", "view", "error", "buy")[i] for i in rng.integers(4, size=n_ev)],
            "value": _money(rng, n_ev, 0, 100),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(100, size=n_ev)],
        }
    )
    t["documents"] = documents_table(rng, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(10, size=n_vec)
    vec = centers[labels] * 0.15 + rng.normal(0, 0.15, (n_vec, 64))
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
