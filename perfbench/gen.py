"""Seeded input generator for the benchmark workloads.

Every table is written as a directory of ``nproc`` parquet part files
(the CPUs this process may run on), so each scan runs as several
parallel tasks. The same ``(workload, seed)`` always produces
byte-identical inputs on a host with the same ``nproc``; sizes are
fixed per workload, only content varies with the seed.

    python3 perfbench/gen.py --workload etl_clickstream --seed 7 --out DIR

Writes the tables under ``DIR`` plus ``DIR/manifest.json`` (the part
count, and rows and bytes per table). Imported by ``run.py`` only
through a subprocess, so the benchmark process does not pay
numpy/pandas imports before its set-up clock starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# sizes (rows); fixed per workload so runs with different seeds do the
# same amount of work
# --------------------------------------------------------------------------

#: TPC-H-ish scale for ``analytics_queries``; 1.0 would be the sf1 row
#: counts below.
ANALYTICS_SF = 0.02
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
#: ``corpus_curation`` corpus
CURATION_DOCS = 300
CURATION_VECS = 150
#: ``etl_clickstream`` raw log rows and category-dimension products per site
ETL_LOG_ROWS = 30_000
ETL_PRODUCTS_PER_SITE = 1_000
#: ``incremental_ingest``: users in the initial snapshot, events in it,
#: and events per landed micro-batch file (half update known users)
INGEST_BASE_USERS = 20_000
INGEST_BASE_EVENTS = 40_000
INGEST_BATCH_EVENTS = 8_000
INGEST_BATCHES = 64

# --------------------------------------------------------------------------
# categorical domains the registered queries filter on
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
BRANDS = [f"Brand#{i}" for i in range(1, 26)]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = [
    "anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
    "new", "old", "plate", "red", "ring", "rod", "small", "widget",
]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
SOURCES = [f"src{i}" for i in range(20)]
DOC_WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
EMBED_DIM = 64
EMBED_LABELS = 10
#: ``text_decontaminate`` treats ``doc_id % 97 == 0`` as the eval set
EVAL_MOD = 97

#: clickstream site families (FIXTURES.md A1): site id -> family
SITES = {"154992": "default", "-48": "type1", "155138": "type2", "4550": "type3"}
LOGTYPES = ["login", "purchase", "cart", "view"]
#: (family, logtype) -> (code key, name key); "*" is every other logtype
FAMILY_KEYS = {
    "default": {"view": ("rb:itemId", "rb:itemName"), "*": ("productCode", "productName")},
    "type1": {
        "cart": ("goodsCode", "name"),
        "view": ("tas:productCode", "og:title"),
        "*": ("goodsCode", "goodsName"),
    },
    "type2": {"view": ("og:url", "og:title"), "*": ("productCode", "productName")},
    "type3": {"view": ("tas:productCode", "Title"), "*": ("productCode", "productName")},
}
DIM_COLS = [
    "SHOPPING_ID", "ITEM_CODE", "INTG_ID", "ITEM_NAME",
    "CAT1", "CAT2", "CAT3", "CAT4", "INTG_CAT1", "INTG_CAT2", "INTG_CAT3", "INTG_CAT4",
]

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def rng_for(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, salt]))


def write_table(out: str, name: str, table: pa.Table, parts: int) -> dict:
    """Write ``table`` as ``out/name.parquet/part-NNNNN.parquet`` files."""
    path = os.path.join(out, f"{name}.parquet")
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, parts + 1).astype(int)
    size = 0
    for i in range(parts):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        size += os.path.getsize(f)
    return {"rows": n, "bytes": size, "files": parts}


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng, n, lo: str, hi: str, unit: str = "s"):
    lo_v = np.datetime64(lo, unit).astype(np.int64)
    hi_v = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(lo_v, hi_v, n).astype(f"datetime64[{unit}]")


def _pick(rng, pool, n):
    return np.asarray(pool, dtype=object)[rng.integers(0, len(pool), n)]


def events_table(rng, ids: np.ndarray, users: np.ndarray, lo: str, hi: str) -> pa.Table:
    n = len(ids)
    ts = _timestamps(rng, n, lo, hi, "us")
    return pa.table(
        {
            "event_id": ids.astype(np.int64),
            "ts": ts,
            "user_id": users.astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": _money(rng, n, 0.01, 500.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped tables plus ``events`` (FIXTURES.md group B schemas)."""
    rows = {t: max(1, int(r * sf)) for t, r in SF1_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    rng = rng_for(seed, 1)
    n = rows["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    rng = rng_for(seed, 2)
    n = rows["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    rng = rng_for(seed, 3)
    n = rows["part"]
    w = _pick(rng, PART_WORDS, 2 * n)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(w[:n], w[n:])],
            "p_brand": _pick(rng, BRANDS, n),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": _money(rng, n, 900.0, 999.9),
        }
    )
    rng = rng_for(seed, 4)
    n = rows["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, rows["customer"], n).astype(np.int64),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _timestamps(rng, n, "1995-01-01", "2001-08-01", "D").astype(
                "datetime64[us]"
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    rng = rng_for(seed, 5)
    n = rows["lineitem"]
    owner = np.sort(rng.integers(0, rows["orders"], n)).astype(np.int64)
    first = np.r_[True, owner[1:] != owner[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    linenumber = (np.arange(n) - run_start + 1).astype(np.int32)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": owner,
            "l_partkey": rng.integers(0, rows["part"], n).astype(np.int64),
            "l_suppkey": rng.integers(0, rows["supplier"], n).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, RETURN_FLAGS, n),
            "l_linestatus": _pick(rng, LINE_STATUS, n),
            "l_shipdate": _timestamps(rng, n, "1995-01-02", "2001-11-04", "D").astype(
                "datetime64[us]"
            ),
        }
    )
    rng = rng_for(seed, 6)
    n = rows["events"]
    users = max(10, rows["customer"] // 10)
    t["events"] = events_table(
        rng,
        np.arange(n),
        rng.integers(0, users, n),
        "2024-01-01T00:00:00",
        "2024-01-31T00:00:00",
    )
    return t


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """``documents`` + ``embeddings`` with planted exact duplicates,
    near-duplicates, repetition blocks and eval-set contamination."""
    rng = rng_for(seed, 7)
    vocab = np.asarray(DOC_WORDS, dtype=object)
    texts = []
    for _ in range(n_docs):
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))])
        if rng.random() < 0.08:  # repetition block
            i = int(rng.integers(0, len(words)))
            words[i : i + 1] = [words[i]] * int(rng.integers(4, 12))
        texts.append(words)
    eval_docs = [i for i in range(n_docs) if i % EVAL_MOD == 0]
    for i in range(n_docs):
        r = rng.random()
        if i % EVAL_MOD == 0:
            continue
        if r < 0.02:  # exact duplicate of an earlier doc
            texts[i] = list(texts[int(rng.integers(0, max(1, i)))])
        elif r < 0.10:  # near duplicate: one word replaced
            w = list(texts[int(rng.integers(0, max(1, i)))])
            w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts[i] = w
        elif r < 0.13:  # contamination: a 12-token span of an eval doc
            src = texts[eval_docs[int(rng.integers(0, len(eval_docs)))]]
            span = src[:12]
            at = int(rng.integers(0, len(texts[i])))
            texts[i] = texts[i][:at] + span + texts[i][at:]
    joined = [" ".join(w) for w in texts]
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": joined,
            "lang": _pick(rng, LANGS, n_docs),
            "source": _pick(rng, SOURCES, n_docs),
            "n_chars": np.array([len(s) for s in joined], dtype=np.int64),
        }
    )
    rng = rng_for(seed, 8)
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMBED_DIM))
    for _ in range(n_vecs // 20):  # planted near neighbours
        a, b = rng.integers(0, n_vecs, 2)
        vecs[b] = vecs[a] + rng.normal(0.0, 0.01, EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": rng.integers(0, EMBED_LABELS, n_vecs).astype(np.int32),
        }
    )
    return {"documents": docs, "embeddings": emb}


def clickstream_tables(seed: int, n_logs: int, n_products: int) -> dict[str, pa.Table]:
    """Raw clickstream ``logs`` (FIXTURES.md A1) and the ``category``
    dimension (A2): all four site families x four logtypes, JSON array
    payloads with multi-element, empty and missing keys, secondless
    timestamps and null userids."""
    rng = rng_for(seed, 9)
    sites = list(SITES)
    site = _pick(rng, sites, n_logs)
    logtype = _pick(rng, LOGTYPES, n_logs)
    users = rng.integers(0, n_logs // 8, n_logs)
    maid = [f"maid{u}" for u in users]
    null_uid = rng.random(n_logs) < 0.2
    userid = [None if z else f"user{u}" for u, z in zip(users, null_uid)]
    secs = _timestamps(rng, n_logs, "2019-06-01", "2019-06-08", "ms")
    iso = np.datetime_as_string(secs, unit="ms")
    secondless = rng.random(n_logs) < 0.3
    stamps = [s[:19] + "Z" if z else s + "Z" for s, z in zip(iso, secondless)]
    n_items = rng.integers(1, 4, n_logs)
    prod = rng.integers(0, int(n_products * 1.25), (n_logs, 3))
    shape = rng.random(n_logs)
    custom = []
    for i in range(n_logs):
        fam = SITES[site[i]]
        keys = FAMILY_KEYS[fam]
        ck, nk = keys.get(logtype[i], keys["*"])
        k = int(n_items[i])
        codes = [f"{site[i]}-pc{p}" for p in prod[i, :k]]
        names = [f"{site[i]}-pn{p}" for p in prod[i, :k]]
        if fam == "type2" and logtype[i] == "view":
            codes = [f"http://shop.example/p/{c}" for c in codes]
        if shape[i] < 0.04:  # missing name key
            payload = {ck: codes}
        elif shape[i] < 0.07:  # empty arrays
            payload = {ck: [], nk: []}
        elif shape[i] < 0.10:  # fewer names than codes
            payload = {ck: codes, nk: names[:1]}
        else:
            payload = {ck: codes, nk: names}
        custom.append(json.dumps(payload, separators=(",", ":")))
    logs = pa.table(
        {
            "maid": maid,
            "info": pa.array([{"siteseq": s} for s in site], pa.struct([("siteseq", pa.string())])),
            "userid": pa.array(userid, pa.string()),
            "custid": [f"cust{u % 997}" for u in users],
            "timestamp": stamps,
            "logtype": logtype,
            "custom": custom,
        }
    )
    rng = rng_for(seed, 10)
    rows = []
    for s in sites:
        # only ~80% of the products a log can name exist in the dimension:
        # the inner join doubles as the validity filter
        for p in range(n_products):
            c = [f"c{int(x)}" for x in rng.integers(0, 20, 4)]
            rows.append(
                [s, f"{s}-pc{p}", f"intg{s}{p}", f"{s}-item{p}", *c, *[x.upper() for x in c]]
            )
    dim = pa.table({col: [r[j] for r in rows] for j, col in enumerate(DIM_COLS)})
    return {"logs": logs, "category": dim}


def ingest_tables(seed: int) -> dict[str, pa.Table]:
    """Initial events file ``batch_00000`` plus ``INGEST_BATCHES``
    micro-batch files.
    Each batch draws half its user keys from users already seen and
    half from new ones, so every batch both updates and inserts."""
    rng = rng_for(seed, 11)
    out = {}
    seen = INGEST_BASE_USERS
    out["batch_00000"] = events_table(
        rng,
        np.arange(INGEST_BASE_EVENTS),
        rng.integers(0, seen, INGEST_BASE_EVENTS),
        "2024-01-01T00:00:00",
        "2024-01-02T00:00:00",
    )
    next_id = INGEST_BASE_EVENTS
    half = INGEST_BATCH_EVENTS // 2
    for b in range(INGEST_BATCHES):
        fresh = INGEST_BATCH_EVENTS // 8
        users = np.concatenate(
            [rng.integers(0, seen, half), seen + rng.integers(0, fresh, INGEST_BATCH_EVENTS - half)]
        )
        seen += fresh
        day = np.datetime64("2024-01-02") + np.timedelta64(b, "D")
        out[f"batch_{b + 1:05d}"] = events_table(
            rng,
            np.arange(next_id, next_id + INGEST_BATCH_EVENTS),
            users,
            str(day),
            str(day + np.timedelta64(1, "D")),
        )
        next_id += INGEST_BATCH_EVENTS
    return out


def generate(workload: str, seed: int, out: str) -> dict:
    if workload == "etl_clickstream":
        tables = clickstream_tables(seed, ETL_LOG_ROWS, ETL_PRODUCTS_PER_SITE)
    elif workload == "corpus_curation":
        tables = corpus_tables(seed, CURATION_DOCS, CURATION_VECS)
    elif workload == "analytics_queries":
        tables = tpch_tables(seed, ANALYTICS_SF)
    elif workload == "incremental_ingest":
        tables = ingest_tables(seed)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    parts = len(os.sched_getaffinity(0))
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "parts": parts, "tables": {}}
    for name, table in tables.items():
        if name.startswith("batch_"):
            # one file per micro-batch; run.py moves them into the
            # stream's landing directory one at a time
            os.makedirs(os.path.join(tmp, "batches"), exist_ok=True)
            f = os.path.join(tmp, "batches", f"{name}.parquet")
            pq.write_table(table, f)
            manifest["tables"][name] = {"rows": table.num_rows, "bytes": os.path.getsize(f), "files": 1}
        else:
            manifest["tables"][name] = write_table(tmp, name, table, parts)
    with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, out)
    return manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    generate(args.workload, args.seed, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
