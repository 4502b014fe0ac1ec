"""Seeded input corpora for the benchmark workloads.

A base corpus mirrors the schema and value rules of the repository's
synthetic TPC-H-style test tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings). Larger corpora
are built from the base by the replication rules of
``tools/scale_up.py``:

- fact keys are offset by ``replica * 10**9`` so joins stay consistent
  inside a replica; region and nation stay single-copy;
- replica ``r > 0`` prefixes every document token with a per-replica
  tag, so near-duplicate structure is kept inside a replica and
  cross-replica shingle overlap is zero (pair volume grows linearly);
- replica ``r > 0`` flips the sign of each embedding component by a
  per-replica diagonal, which keeps norms and within-replica cosines
  exact and decorrelates replicas.

The seed is mixed into the base values, the token tags, the sign
vectors and the crawl-batch split, so the same seed always gives the
same files. Nothing here touches Spark: the tables are written with
pyarrow before the session starts.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10**9

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE_COPY = ("region", "nation")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EMBED_DIM = 64
DUP_FRAC = 0.05

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


@dataclass(frozen=True)
class Shape:
    """Row counts of one base replica (the test tables' sf ratios)."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float, documents: int = 500, embeddings: int = 500) -> "Shape":
        return cls(
            customers=int(150_000 * sf), suppliers=int(10_000 * sf),
            parts=int(200_000 * sf), orders=int(1_500_000 * sf),
            events=int(1_000_000 * sf), documents=documents,
            embeddings=embeddings,
        )


def _mix(seed: int, *parts) -> int:
    tag = ":".join(str(p) for p in (seed, *parts)).encode()
    return int.from_bytes(hashlib.md5(tag).digest()[:8], "little")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 100)))
            texts.append(" ".join(words.tolist()))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base_tables(seed: int, shape: Shape) -> dict[str, pa.Table]:
    """One replica of every table, drawn from ``seed``."""
    rng = np.random.default_rng(_mix(seed, "base"))
    s = shape
    nat = np.arange(25, dtype=np.int32)
    t: dict[str, pa.Table] = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=np.int32),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": nat,
                            "n_name": [f"NATION_{i}" for i in nat],
                            "n_regionkey": (nat % 5).astype(np.int32)}),
    }
    ck = np.arange(s.customers, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, s.customers).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
        "c_mktsegment": rng.choice(SEGMENTS, s.customers).tolist(),
    })
    sk = np.arange(s.suppliers, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, s.suppliers).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
    })
    pk = np.arange(s.parts, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in pk],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s.parts)],
        "p_type": rng.choice(PART_TYPES, s.parts).tolist(),
        "p_size": rng.integers(1, 51, s.parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(s.orders, dtype=np.int64)
    order_days = rng.integers(0, 2404, s.orders)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], s.orders).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, s.orders).tolist(),
    })
    nl = 4 * s.orders
    ship_days = rng.integers(1, 2499, nl)  # 1995-01-02 .. 2001-11-04
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, nl).astype(np.int64),
        "l_partkey": rng.integers(0, s.parts, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, s.suppliers, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.uniform(0.0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(_EPOCH_1995 + ship_days * _US_PER_DAY),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / max(s.events, 1), s.events)
    t["events"] = pa.table({
        "event_id": np.arange(s.events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": rng.integers(0, max(s.customers // 10, 1), s.events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, s.events).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, s.events), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    })
    t["documents"] = _documents(rng, s.documents)
    emb = rng.standard_normal((s.embeddings, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, s.embeddings).astype(np.int32),
    })
    return t


def token_tag(seed: int, replica: int) -> str:
    """Per-replica token prefix (replica 0 keeps the base tokens)."""
    return "" if replica == 0 else f"r{_mix(seed, 'tag', replica) % 4096:03x}"


def sign_vector(seed: int, replica: int, dim: int = EMBED_DIM) -> np.ndarray:
    if replica == 0:
        return np.ones(dim, dtype=np.float32)
    rng = np.random.default_rng(_mix(seed, "sign", replica))
    return rng.choice(np.array([-1.0, 1.0], dtype=np.float32), dim)


def replicate(seed: int, base: dict[str, pa.Table], replicas: int) -> dict[str, pa.Table]:
    """``replicas`` copies of ``base`` under the scale-up rules."""
    out = {t: base[t] for t in SINGLE_COPY}
    for name, keys in KEY_COLS.items():
        parts = []
        for r in range(replicas):
            tbl = base[name]
            for k in keys:
                i = tbl.schema.get_field_index(k)
                tbl = tbl.set_column(i, k, pc.add(tbl[k], r * OFFSET))
            if name == "documents" and r > 0:
                tag = token_tag(seed, r)
                text = [" ".join(tag + w for w in s.split(" "))
                        for s in tbl["text"].to_pylist()]
                tbl = tbl.set_column(tbl.schema.get_field_index("text"), "text",
                                     pa.array(text))
                tbl = tbl.set_column(tbl.schema.get_field_index("n_chars"), "n_chars",
                                     pa.array([len(s) for s in text], pa.int64()))
            if name == "embeddings" and r > 0:
                signs = sign_vector(seed, r)
                emb = np.stack(tbl["embedding"].to_numpy(zero_copy_only=False)) * signs
                tbl = tbl.set_column(tbl.schema.get_field_index("embedding"), "embedding",
                                     pa.array(list(emb.astype(np.float32)),
                                              pa.list_(pa.float32())))
            parts.append(tbl)
        out[name] = pa.concat_tables(parts)
    return out


def write_corpus(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def crawl_batches(seed: int, docs: pa.Table, standing_frac: float, batches: int,
                  recrawls: int) -> tuple[np.ndarray, list[pa.Table]]:
    """Seeded split of ``docs`` into standing-corpus ids and equal crawl
    batches. Each batch also re-crawls ``recrawls`` standing documents
    (the text plus one token, as the base corpus makes its duplicates,
    under fresh ids), so every batch carries the same near-duplicate
    load whatever the seed."""
    rng = np.random.default_rng(_mix(seed, "crawl"))
    perm = rng.permutation(docs.num_rows)
    n_stand = int(docs.num_rows * standing_frac)
    out = []
    for b, part in enumerate(np.array_split(perm[n_stand:], batches)):
        again = docs.take(rng.choice(perm[:n_stand], recrawls, replace=False))
        text = [t + " dup" for t in again["text"].to_pylist()]
        again = pa.table({
            "doc_id": np.arange(recrawls, dtype=np.int64) + (100 + b) * OFFSET,
            "text": text,
            "lang": again["lang"],
            "source": again["source"],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        })
        out.append(pa.concat_tables([docs.take(np.sort(part)), again]))
    return np.sort(docs["doc_id"].to_numpy()[perm[:n_stand]]), out
