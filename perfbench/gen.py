"""Seeded input generator for the benchmark.

Writes the ten tables the engine's declared queries read (the TPC-H-ish
star schema, ``events``, ``documents`` and ``embeddings``; schemas as in
FIXTURES.md) as one parquet file each. The same ``(seed, sf)`` always
gives byte-identical files; another seed gives other data.

Keys are unique and every foreign key points at an existing row:
``lineitem -> orders -> customer -> nation -> region`` and
``lineitem -> part / supplier``; ``(l_orderkey, l_linenumber)`` is
unique. Row counts scale linearly with ``sf`` (``sf=0.1`` matches the
sf0.1 fixture's 600k lineitem rows).

The document corpus draws words from a Zipf-weighted vocabulary, so
unrelated documents share few distinct words, and then derives a set
share of documents from earlier ones: exact copies, and near copies
with a few words replaced. :func:`neardup_share` reports the share of
documents that have another document at token-set Jaccard >= 0.8, the
property the engine's dedup operators depend on.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at sf=1 (the star schema follows TPC-H's ratios).
BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
TABLES = (*BASE_ROWS, "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "nut", "pipe", "spring"]
_EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.44, 0.13, 0.14, 0.15, 0.14]
_SYLL = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "se", "di", "pa", "qu", "zo"]

#: Documents derived from an earlier one: this share is copied exactly,
#: the same share again is copied with a few words replaced.
EXACT_SHARE = 0.05
NEAR_SHARE = 0.15
VOCAB = 2000
EMBED_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Target row count per table at scale ``sf`` (lineitem is ~4 rows
    per order, so its exact count depends on the seed)."""
    out = {
        t: (n if t in ("region", "nation") else max(10, int(round(n * sf))))
        for t, n in BASE_ROWS.items()
    }
    out["lineitem"] = 4 * out["orders"]
    return out


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _vocab(rng: np.random.Generator) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB:
        k = int(rng.integers(2, 5))
        words.add("".join(_SYLL[i] for i in rng.integers(0, len(_SYLL), k)))
    return sorted(words)


def documents(rng: np.random.Generator, n: int) -> dict[str, list]:
    """Corpus columns: Zipf-weighted words, then exact and near copies."""
    vocab = _vocab(rng)
    p = 1.0 / np.arange(1, VOCAB + 1) ** 0.9
    p /= p.sum()
    texts: list[list[str]] = []
    n_exact = int(n * EXACT_SHARE)
    n_near = int(n * NEAR_SHARE)
    kinds = np.array(["base"] * (n - n_exact - n_near) + ["exact"] * n_exact + ["near"] * n_near)
    rng.shuffle(kinds)
    kinds[0] = "base"  # the first document has nothing to copy
    for i, kind in enumerate(kinds):
        if kind == "base" or not texts:
            words = rng.choice(VOCAB, int(rng.integers(20, 100)), p=p)
            texts.append([vocab[w] for w in words])
            continue
        src = list(texts[int(rng.integers(0, len(texts)))])
        if kind == "near":
            # one replaced word in 40 keeps token-set Jaccard near 0.95
            for j in rng.choice(len(src), max(1, len(src) // 40), replace=False):
                src[j] = vocab[int(rng.integers(0, VOCAB))]
        texts.append(src)
    return {
        "doc_id": list(range(n)),
        "text": [" ".join(t) for t in texts],
        "lang": list(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": list(rng.integers(48, 554, n)),
    }


def neardup_share(texts: list[str], threshold: float = 0.8) -> float:
    """Share of documents with another document at token-set Jaccard
    >= ``threshold``. Prefix-filtered (PPJoin): two sets can reach the
    threshold only if they share a word among each one's
    ``n - ceil(t*n) + 1`` rarest words, so only those pairs are
    verified; the result equals the all-pairs count."""
    sets = [frozenset(t.split()) for t in texts]
    df: dict[str, int] = {}
    for s in sets:
        for w in s:
            df[w] = df.get(w, 0) + 1
    index: dict[str, list[int]] = {}
    has = [False] * len(sets)
    for i, s in enumerate(sets):
        order = sorted(s, key=lambda w: (df[w], w))
        prefix = order[: len(order) - math.ceil(threshold * len(order)) + 1]
        cands = {j for w in prefix for j in index.get(w, ())}
        for j in cands:
            inter = len(s & sets[j])
            if inter >= threshold * (len(s) + len(sets[j]) - inter):
                has[i] = has[j] = True
        for w in prefix:
            index.setdefault(w, []).append(i)
    return sum(has) / max(1, len(sets))


def _star(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    """The relational star schema: one draw, so foreign keys match the
    key ranges drawn alongside them."""
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ns = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    nc = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    })
    npart = rows["part"]
    retail = np.round(900 + (np.arange(npart) % 1000) / 10, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    no = rows["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(rng, no, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    })
    # 1..7 lines per order, numbered 1..k: (orderkey, linenumber) unique
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    pkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), per_order), pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng, nl, "1995-01-02", 2498),
    })
    return t


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps = rng.integers(1_000_000, 60_000_000, n)  # sub-minute, in µs
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": _money(rng, 0.01, 490.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.8, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


_DOC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])

#: Independent draws: each group has its own random stream, so writing a
#: subset of tables gives the same files as writing all of them.
_GROUPS = {
    "star": lambda rng, rows: _star(rng, rows),
    "events": lambda rng, rows: {"events": _events(rng, rows["events"])},
    "documents": lambda rng, rows: {
        "documents": pa.table(documents(rng, rows["documents"]), schema=_DOC_SCHEMA)
    },
    "embeddings": lambda rng, rows: {"embeddings": _embeddings(rng, rows["embeddings"])},
}


def generate(out_dir: str, seed: int, sf: float, groups=tuple(_GROUPS)) -> dict:
    """Write the tables of ``groups`` (``star``, ``events``,
    ``documents``, ``embeddings``) under ``out_dir`` and return a
    manifest of the seed, the row counts and, when documents are
    written, the corpus near-duplicate share."""
    rows = row_counts(sf)
    tables: dict[str, pa.Table] = {}
    for i, g in enumerate(_GROUPS):
        if g in groups:
            tables.update(_GROUPS[g](np.random.default_rng([seed, i]), rows))
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    out = {"seed": seed, "sf": sf, "rows": {n: t.num_rows for n, t in tables.items()}}
    if "documents" in tables:
        out["neardup_share"] = round(
            neardup_share(tables["documents"].column("text").to_pylist()), 4
        )
    return out
