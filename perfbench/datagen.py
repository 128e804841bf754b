"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, sizes)``: numpy's PCG64 stream
seeded once per table, written with pyarrow as the same one-file-per-table
``<name>.parquet`` layout the engine's ``Catalog`` reads. The engine never
sees anything but these generated tables.

- ``write_star``: the TPC-H-shaped star schema plus the ``events`` stream
  table, with the value domains the relational queries filter on (segment
  and region names, 1995-2001 dates, cent-rounded prices, 0.01-step
  discounts) so every query returns rows.
- ``documents``: a base corpus with planted exact and near duplicates,
  then amplified ``k`` times with a per-replica token salt (``word#r``):
  every shingle is distinct across replicas, so the duplicate structure
  (true pairs, LSH bucket sizes) grows linearly in ``k``, not ``k**2``.
- ``write_stream_shards``: a document stream split into parquet shards,
  one shard per micro-batch.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
def _vocabulary(n_words: int = 1000) -> list[str]:
    """A fixed vocabulary of three-syllable pseudo-words (not seeded: the
    language is the same for every seed, only the documents change)."""
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    order = np.random.default_rng(0).permutation(len(syl) ** 3)[:n_words]
    n = len(syl)
    return [syl[i // (n * n)] + syl[(i // n) % n] + syl[i % n] for i in order]


WORDS = _vocabulary()

DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

STAR_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]

# Star-schema rows per unit of scale factor (sf1 = 6M lineitem rows).
STAR_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent, reproducible stream per table
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem/events;
    returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in STAR_ROWS.items()}
    rows: dict[str, int] = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(out_dir, name, t)
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    c = n["customer"]
    put("customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": r.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _cents(r, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, c)],
    })
    r = _rng(seed, "supplier")
    s = n["supplier"]
    put("supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": r.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _cents(r, -999.99, 9999.99, s),
    })
    r = _rng(seed, "part")
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    put("part", {
        "p_partkey": keys,
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[r.integers(0, 8, p)], " "),
            np.array(PART_NOUN)[r.integers(0, 8, p)],
        ),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, p).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, p)],
        "p_size": r.integers(1, 51, p).astype(np.int32),
        "p_retailprice": 900.0 + (keys % 1000) / 10.0,
    })
    r = _rng(seed, "orders")
    o = n["orders"]
    put("orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": r.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, o)],
    })
    r = _rng(seed, "lineitem")
    li = n["lineitem"]
    put("lineitem", {
        "l_orderkey": r.integers(0, o, li),
        "l_partkey": r.integers(0, p, li),
        "l_suppkey": r.integers(0, s, li),
        "l_linenumber": r.integers(1, 8, li).astype(np.int32),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        # whole hundreds: price x (1 - discount) x (1 + tax) has at most
        # 2 decimals and price / quantity never ends in a 4-dp half, so no
        # rounded money value sits on a boundary where Spark's and
        # DuckDB's rounding differ
        "l_extendedprice": r.integers(9, 1051, li) * 100.0,
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, li)],
        "l_shipdate": _ts(EPOCH_1995 + r.integers(1, 2499, li) * DAY_US),
    })
    r = _rng(seed, "events")
    e = n["events"]
    put("events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(np.sort(EPOCH_2024 + r.integers(0, 30 * DAY_US, e))),
        "user_id": r.integers(0, n["users"], e),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, e)],
        "value": _cents(r, 0.0, 560.0, e),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, e).astype(str)), "}"),
    })
    return rows


def base_corpus(seed: int, n_docs: int) -> list[str]:
    """Texts of ``n_docs`` documents of 40-160 words: 70% fresh, 25%
    near-duplicates of an earlier doc (5% of words substituted), 5% exact
    copies."""
    r = _rng(seed, "documents")
    words = np.array(WORDS)
    texts: list[str] = []
    kinds = r.random(n_docs)
    for i in range(n_docs):
        if i and kinds[i] < 0.05:
            texts.append(texts[r.integers(0, i)])
        elif i and kinds[i] < 0.30:
            toks = texts[r.integers(0, i)].split()
            hit = r.random(len(toks)) < 0.05
            toks = [words[r.integers(0, len(words))] if h else t for t, h in zip(toks, hit)]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[r.integers(0, len(words), int(r.integers(40, 161)))]))
    return texts


def documents(seed: int, n_base: int, k: int) -> pa.Table:
    """The base corpus x ``k`` replicas; replica ``rep`` salts every
    token as ``word#rep`` (replica 0 is the unsalted base)."""
    base = base_corpus(seed, n_base)
    r = _rng(seed, "doc_meta")
    lang = np.array(LANGS)[r.integers(0, len(LANGS), n_base)]
    source = np.char.add("src", r.integers(0, 20, n_base).astype(str))
    ids, texts, langs, sources = [], [], [], []
    for rep in range(k):
        salt = f"#{rep}" if rep else ""
        for i, t in enumerate(base):
            ids.append(rep * n_base + i)
            texts.append(" ".join(w + salt for w in t.split()) if salt else t)
        langs.append(lang)
        sources.append(source)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.concatenate(langs),
        "source": np.concatenate(sources),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_table(out_dir: str, name: str, table: pa.Table) -> None:
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, name, table)


def write_stream_shards(out_dir: str, table: pa.Table, n_shards: int) -> list[str]:
    """Split ``table`` into ``n_shards`` contiguous parquet shards named
    so that the file source lists them in arrival order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_shards + 1).astype(int)
    paths = []
    for i in range(n_shards):
        path = os.path.join(out_dir, f"shard-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths
