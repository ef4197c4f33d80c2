"""Input generation: the base tables, the queuedata view, the ask/sql stream.

Base tables mirror the star schema the operator registry reads (the same
ten parquet tables, names, types and value domains as the repo's fixture
directories). They are generated from a fixed seed, once per checkout,
because the DuckDB oracle counts the pipeline workloads check against are
computed from them. Everything a run varies comes from ``--seed``: the
queuedata rows, the request stream and the operator order.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the base tables; bump DATA_VERSION when the generator changes.
BASE_SEED = 42
DATA_VERSION = 1

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array((start + offsets_us).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.1: 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_user = max(150, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * _DAY_US)})
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n_evt, n_evt)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(40.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = [
        " ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
        for n in rng.integers(8, 100, n_doc)
    ]
    # one document in twenty is an earlier document plus a trailing token:
    # the near-duplicate pairs the dedup and similarity operators look for
    for j in range(20, n_doc, 20):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# queuedata: the reference product's table, at a size where some answers
# exceed the CLI's 1000-row display cap
# --------------------------------------------------------------------------

QUEUEDATA_ROWS = 6000
STATUSES = ("online", "offline", "test", "brokeroff")
CLOUDS = ("CA", "CERN", "DE", "ES", "FR", "IT", "ND", "NL", "RU", "UK", "US", "WORLD")
COUNTRIES = ("United States", "Germany", "France", "Italy", "United Kingdom", "Canada")
SUITES = ("AFT", "PFT", "PFT_MCORE", "GPU", "ARM")
TOOLS = ("rucio", "xrdcp", "gfal", "mv")

QUEUEDATA_SCHEMA = pa.schema([
    ("id", pa.int64()), ("queue", pa.string()), ("status", pa.string()),
    ("cloud", pa.string()), ("country", pa.string()), ("corecount", pa.int32()),
    ("corepower", pa.float64()), ("copytools", pa.string()),
    ("hc_suite", pa.string()), ("harvester", pa.string()),
    ("harvester_template", pa.string()),
])


def queuedata_table(seed: int, n: int = QUEUEDATA_ROWS) -> pa.Table:
    """Rows in the library fixture's schema; one status in seven is upper-cased."""
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        status = rnd.choice(STATUSES)
        if rnd.random() < 1 / 7:
            status = status.upper()
        tools = {t: {"setup": rnd.choice(["", f"/opt/{t}/{i % 50}"])}
                 for t in TOOLS if rnd.random() < 0.5}
        rows.append({
            "id": i,
            "queue": f"SITE_QUEUE_{i}",
            "status": status,
            "cloud": rnd.choice(CLOUDS),
            "country": rnd.choice(COUNTRIES),
            "corecount": None if rnd.random() < 0.1 else rnd.randint(1, 256),
            "corepower": None if rnd.random() < 0.1 else round(rnd.uniform(0, 20), 2),
            "copytools": json.dumps(tools, sort_keys=True),
            "hc_suite": json.dumps([s for s in SUITES if rnd.random() < 0.4]),
            "harvester": None if rnd.random() < 0.15 else f"CERN_central_{rnd.choice('ABC')}",
            "harvester_template": rnd.choice([None, "", "production.push", "analysis.push"]),
        })
    return pa.Table.from_pylist(rows, schema=QUEUEDATA_SCHEMA)
