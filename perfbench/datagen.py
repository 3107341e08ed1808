"""Deterministic benchmark inputs, generated and cached in the checkout.

The tables follow the shape the engine's catalog queries expect (a
TPC-H-like star schema, an ``events`` click stream, a ``documents``
corpus with planted near-duplicates and an ``embeddings`` table of unit
vectors). Row counts, column types and value ranges follow the engine's
test data at the same scale (sf 0.1 = 600 k lineitem rows, 5 k
documents); ``compare_inputs.py`` checks that against a copy of it.

Inputs depend only on (DATA_SEED, sf, this file's source), never on the
run's ``--seed``, which picks the lake's deliveries. A finished build
is stamped with a fingerprint of exactly those three things, so a
changed generator or scale rebuilds instead of reusing stale files.
Every table is written with ROW_GROUPS row groups so scans split across
the local cores instead of planning one task per file.

The DuckDB oracle's canonical result for every oracle-backed query is
computed once per build and stored beside the data, so runs only pay
for Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
ROW_GROUPS = 16

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
_PNOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "fr", "de", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _us(day: str) -> int:
    return int((np.datetime64(day, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``, fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n = counts(sf)
    day_us = 86_400 * 10**6
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": np.char.add(
            np.char.add(np.array(_PADJ)[rng.integers(0, 8, np_)], " "),
            np.array(_PNOUN)[rng.integers(0, 8, np_)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(np_) % 1000 / 10, 1),
    })

    no = n["orders"]
    first, span = _us("1995-01-01"), (_us("2001-08-01") - _us("1995-01-01")) // day_us
    odate = first + rng.integers(0, span + 1, no) * day_us
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl).astype(np.int64)
    out["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odate[lorder] + rng.integers(1, 122, nl) * day_us),
    })

    ne = n["events"]
    t0 = _us("2024-01-01")
    # sorted offsets plus the index keep every timestamp distinct
    ts = t0 + np.sort(rng.integers(0, 30 * day_us - ne, ne)) + np.arange(ne)
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), ne).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    kinds = rng.random(nd)
    for i in range(nd):
        if i > 0 and kinds[i] < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kinds[i] < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return out


def fingerprint(sf: float, seed: int = DATA_SEED) -> str:
    with open(__file__, "rb") as fh:
        src = fh.read()
    h = hashlib.sha256(src)
    h.update(f"{sf!r}:{seed}:{ROW_GROUPS}".encode())
    return h.hexdigest()[:16]


def data_digest(tables: dict[str, pa.Table]) -> str:
    """sha256 over the tables' contents (Arrow IPC), so what is keyed
    by it follows the data, not the generator's source text."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()[:16]


def oracle_results(data_dir: str, oracles: dict[str, str]) -> dict[str, int]:
    """Run each oracle query in DuckDB over ``data_dir`` and store its
    canonical result in ``_oracle/<query>.json``; returns the row
    counts."""
    import duckdb

    from perfbench import stats

    os.makedirs(os.path.join(data_dir, "_oracle"), exist_ok=True)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'"
            )
        out = {}
        for name, sql in sorted(oracles.items()):
            canon = stats.canon_frame(con.sql(sql).df())
            with open(oracle_path(data_dir, name), "w") as fh:
                json.dump(canon, fh)
            out[name] = len(canon["rows"])
        return out
    finally:
        con.close()


def oracle_path(data_dir: str, name: str) -> str:
    return os.path.join(data_dir, "_oracle", f"{name}.json")


def ensure(cache_root: str, sf: float, oracles: dict[str, str]) -> tuple[str, dict[str, int], str]:
    """The data dir for ``sf`` under ``cache_root``, the oracle's row
    count per query and the data's :func:`data_digest`, building the
    data and the oracle's answers when missing or stale. A build goes
    to a temporary dir and is renamed into place only when complete."""
    fp = fingerprint(sf)
    data_dir = os.path.join(cache_root, f"sf{sf:g}-{fp}")
    stamp = os.path.join(data_dir, "_build.json")
    meta: dict = {}
    built = False
    if os.path.exists(stamp):
        with open(stamp) as fh:
            meta = json.load(fh)
    if meta.get("fingerprint") != fp:
        tmp = data_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        tables = generate(sf)
        for name, tbl in tables.items():
            pq.write_table(
                tbl, os.path.join(tmp, f"{name}.parquet"),
                row_group_size=max(1, -(-len(tbl) // ROW_GROUPS)),
            )
        meta = {"fingerprint": fp, "sf": sf, "seed": DATA_SEED,
                "data_digest": data_digest(tables),
                "built": dt.datetime.now(dt.timezone.utc).isoformat(),
                "oracle": {}}
        shutil.rmtree(data_dir, ignore_errors=True)
        os.rename(tmp, data_dir)
        built = True
    missing = {k: v for k, v in oracles.items() if k not in meta["oracle"]}
    if missing:
        meta["oracle"].update(oracle_results(data_dir, missing))
    if missing or built:
        with open(stamp + ".tmp", "w") as fh:
            json.dump(meta, fh, indent=1, sort_keys=True)
        os.replace(stamp + ".tmp", stamp)
    return data_dir, {k: meta["oracle"][k] for k in oracles}, meta["data_digest"]
