"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from one seed:
the star-schema + events + documents + embeddings tables the registry
queries read (same schemas and physical types as the project's test
data), the keyed serving table with its Zipf key popularity and request
schedule, and the ingest documents with fixed shares of exact and near
duplicates. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the project's synthetic documents
VOCAB = (
    "a the row key value table column query spark stream batch merge join "
    "hash sort group agg filter scan window order part line customer data "
    "vector small big fast slow dup"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_WORDS = ("new", "red", "small", "large", "hot", "gizmo", "anvil", "bolt", "ring")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EMB_DIM = 64
EMB_LABELS = 10

# rows per unit scale factor (sf1 = 10x the project's sf0.1 test data)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per input kind: adding a new
    generator never shifts the draws of an existing one."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    us = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(us + offsets.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(rng: np.random.Generator, n: int, block: int = 40, exact: int = 2,
              near: int = 2, short: int = 1) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows with ascending ids: random word bags where
    every ``block`` consecutive documents hold exactly ``exact`` exact
    duplicates and ``near`` near duplicates (a few words swapped) of earlier
    documents and ``short`` documents under the 10-word quality floor, at
    seeded positions — so every ingest file carries the same mix."""
    kinds = np.concatenate([
        rng.permutation(np.repeat([0, 1, 2, 3], [block - exact - near - short, exact, near, short]))
        for _ in range(-(-n // block))
    ])
    rows: list[tuple[int, str, str]] = []
    for i in range(n):
        kind = kinds[i] if rows else 0
        if kind == 1:
            text = rows[int(rng.integers(0, len(rows)))][1]
        elif kind == 2:
            words = rows[int(rng.integers(0, len(rows)))][1].split(" ")
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            text = " ".join(words)
        elif kind == 3:
            text = _text(rng, int(rng.integers(3, 10)))
        else:
            text = _text(rng, int(rng.integers(10, 100)))
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        rows.append((i, text, lang))
    return rows


def write_tables(out_dir: str, seed: int, sf: float, doc_sf: float | None = None) -> dict:
    """Write the ten query tables under ``out_dir`` (one parquet each);
    ``doc_sf`` scales documents/embeddings separately from the star
    schema. Returns {table: {"rows", "bytes"}}."""
    os.makedirs(out_dir, exist_ok=True)
    doc_sf = sf if doc_sf is None else doc_sf
    n = {t: max(int(r * (doc_sf if t in ("documents", "embeddings") else sf)), 10)
         for t, r in ROWS_PER_SF.items()}
    tabs: dict[str, pa.Table] = {}
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    nc = n["customer"]
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)],
    })
    r = _rng(seed, "supplier")
    ns = n["supplier"]
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r.uniform(-999.99, 9999.99, ns)),
    })
    r = _rng(seed, "part")
    npart = n["part"]
    w = r.integers(0, len(PART_WORDS), (npart, 2))
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _money(900.0 + (np.arange(npart) % 1000) / 10.0),
    })
    r = _rng(seed, "orders")
    no = n["orders"]
    odays = r.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": _money(r.uniform(900.0, 450_000.0, no)),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), odays),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
    })
    r = _rng(seed, "lineitem")
    per = r.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]) if no else np.array([])
    nl = len(okey)
    qty = r.integers(1, 51, nl).astype(float)
    flags = r.integers(0, 6, nl)
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * r.uniform(900.0, 2100.0, nl)),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("O", "F")[i % 2] for i in flags],
        "l_shipdate": _days(dt.datetime(1995, 1, 1), odays[okey] + r.integers(1, 122, nl)),
    })
    r = _rng(seed, "events")
    ne = n["events"]
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, ne)) + t0
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(ne // 66, 10), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": _money(r.exponential(50.0, ne)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
    })
    r = _rng(seed, "documents")
    nd = n["documents"]
    drows = documents(r, nd)
    tabs["documents"] = pa.table({
        "doc_id": pa.array([d[0] for d in drows], pa.int64()),
        "text": [d[1] for d in drows],
        "lang": [d[2] for d in drows],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(d[1]) for d in drows], pa.int64()),
    })
    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    centers = r.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    labels = r.integers(0, EMB_LABELS, nv)
    vec = centers[labels] + r.normal(0.0, 2.5, (nv, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    stats = {}
    for name, tab in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path)
        stats[name] = {"rows": tab.num_rows, "bytes": os.path.getsize(path)}
    return stats


# -- serving workload -------------------------------------------------------

SERVE_TS0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z in ms
SERVE_SPAN_MS = 30 * 86_400_000


def serve_rows(seed: int, n_keys: int, rows_per_key: int) -> list[dict]:
    """The keyed serving table: (user_id, ts_ms) keys with a cents value
    and a tag; ``rows_per_key`` time-stamped rows under each user."""
    r = _rng(seed, "serve_rows")
    rows = []
    for u in range(n_keys):
        ts = np.sort(r.choice(SERVE_SPAN_MS, rows_per_key, replace=False)) + SERVE_TS0
        for t in ts:
            rows.append({"user_id": u, "ts_ms": int(t),
                         "cents": int(r.integers(0, 100_000)),
                         "tag": EVENT_TYPES[int(r.integers(0, 5))]})
    return rows


def zipf_keys(r: np.random.Generator, n_keys: int, size: int, s: float = 1.1) -> np.ndarray:
    """Zipf-skewed key draws over a seed-shuffled popularity order."""
    ranks = np.arange(1, n_keys + 1, dtype=float)
    p = ranks ** -s
    p /= p.sum()
    order = r.permutation(n_keys)
    return order[r.choice(n_keys, size=size, p=p)]


def serve_requests(seed: int, stream: int, n_keys: int, n: int, rate: float,
                   mix=(0.80, 0.12, 0.08), post_rows: int = 4) -> list[dict]:
    """Request schedule ``stream`` of a seed: ``n`` requests at ``rate`` per
    second (even spacing with seeded jitter of +-40% of the gap) in an
    exact, seed-shuffled mix of time-bounded scans, point gets and upsert
    POSTs of ``post_rows`` fresh rows under one key (timestamps after the
    seeded rows' span and distinct per stream and request, so a POST always
    adds rows)."""
    r = _rng(seed, f"serve{stream}")
    due = (np.arange(n) + 0.5 + r.uniform(-0.4, 0.4, n)) / rate
    keys = zipf_keys(r, n_keys, n)
    n_post, n_kv = round(n * mix[2]), round(n * mix[1])
    kinds = r.permutation(np.repeat([0, 1, 2], [n - n_post - n_kv, n_kv, n_post]))
    out = []
    for i in range(n):
        k = int(keys[i])
        req = {"id": f"{stream}.{i}", "due": float(due[i]), "key": k}
        if kinds[i] == 0:
            a = int(r.integers(0, SERVE_SPAN_MS // 2))
            b = a + int(r.integers(SERVE_SPAN_MS // 8, SERVE_SPAN_MS // 2))
            req.update(op="scan", **{"from": SERVE_TS0 + a, "until": SERVE_TS0 + b})
        elif kinds[i] == 1:
            req.update(op="kv")
        else:
            req.update(op="post", rows=[
                {"user_id": k, "ts_ms": SERVE_TS0 + SERVE_SPAN_MS + (stream * 10**6 + i) * 1000 + j,
                 "cents": int(r.integers(0, 100_000)), "tag": "post"}
                for j in range(post_rows)])
        out.append(req)
    return out
