"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (`sources.tables.TABLES`)
as one parquet file each, `{out_dir}/{table}.parquet`, so both
`sources.load_table` and a DuckDB connection that reads single files
can open them. The arrow types match the reference test data exactly
(timestamps are naive microseconds, embeddings are `list<float>`).

The benchmark may read nothing outside its checkout, so it cannot copy
the reference tables. Instead every row count and distribution
parameter comes from `reference_stats.json`, the statistics
`refstats.py` measured on the reference sf0.01 and sf0.1 tables:
category shares, numeric ranges, the exponential mean of
`events.value`, events per user, the document vocabulary with its term
shares, tokens per document and the near-duplicate share. The code
below fixes only the form each column has in the reference: sequential
keys, uniform foreign keys, uniform ranges, timestamps increasing with
`event_id`, near duplicates as another document's text plus a marker
term, unclustered unit vectors. `python3 perfbench/refstats.py compare`
prints generated statistics next to the reference ones.

The seed changes the rows of every table except the fixed `region` and
`nation` dimensions; the row counts of a profile and the distributions
stay fixed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference_stats.json")) as _f:
    REF = json.load(_f)

# the reference set whose row count each table takes, per profile:
# "small" has the sf0.01 row counts; "corpus" keeps them and takes the
# sf0.1 document corpus, ten times as many documents
_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")
PROFILE_SOURCES = {
    "small": dict.fromkeys(_TABLES, "sf0.01"),
    "corpus": {**dict.fromkeys(_TABLES, "sf0.01"), "documents": "sf0.1"},
}
PROFILES = {
    p: {t: REF[src]["rows"][t] for t, src in sources.items()}
    for p, sources in PROFILE_SOURCES.items()
}
# distributions come from the larger reference sample
STATS = REF["sf0.1"]

_US_PER_DAY = 86_400 * 1_000_000


def _col(table: str, column: str) -> dict:
    return STATS["columns"][table][column]


def _pick(rng, table: str, column: str, n: int) -> pa.Array:
    """Draw a category column with its measured shares."""
    shares = _col(table, column)["shares"]
    p = np.array(list(shares.values()))
    values = np.asarray(list(shares), dtype=object)
    return pa.array(values[rng.choice(len(values), n, p=p / p.sum())])


def _ints(rng, table: str, column: str, n: int, dtype=np.int64) -> np.ndarray:
    """Uniform integers over the measured [min, max]."""
    c = _col(table, column)
    return rng.integers(int(c["min"]), int(c["max"]) + 1, n, dtype=dtype)


def _money(rng, table: str, column: str, n: int) -> np.ndarray:
    """Uniform values over the measured range, rounded to cents."""
    c = _col(table, column)
    return np.round(rng.uniform(c["min"], c["max"], n), 2)


def _steps(rng, table: str, column: str, n: int) -> np.ndarray:
    """Uniform over the measured distinct values of an evenly spaced column."""
    c = _col(table, column)
    return np.round(np.linspace(c["min"], c["max"], c["distinct"])[rng.integers(0, c["distinct"], n)], 2)


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso[:10], "D").astype("datetime64[us]").astype(np.int64))


def _dates(rng, table: str, column: str, n: int) -> pa.Array:
    """Midnight timestamps drawn uniformly from the measured range."""
    c = _col(table, column)
    lo, hi = _day_us(c["min"]), _day_us(c["max"])
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return pa.array(lo + days * _US_PER_DAY, pa.timestamp("us"))


def _fk(rng, n: int, parent_rows: int) -> np.ndarray:
    return rng.integers(0, parent_rows, n, dtype=np.int64)


def _region(rng, n, sizes):
    names = list(_col("region", "r_name")["shares"])
    return {"r_regionkey": np.arange(len(names), dtype=np.int32), "r_name": names}


def _nation(rng, n, sizes):
    keys = np.arange(n, dtype=np.int32)
    return {
        "n_nationkey": keys,
        "n_name": [f"NATION_{k}" for k in keys],
        "n_regionkey": keys % sizes["region"],
    }


def _customer(rng, n, sizes):
    keys = np.arange(n, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": _ints(rng, "customer", "c_nationkey", n, np.int32),
        "c_acctbal": _money(rng, "customer", "c_acctbal", n),
        "c_mktsegment": _pick(rng, "customer", "c_mktsegment", n),
    }


def _supplier(rng, n, sizes):
    keys = np.arange(n, dtype=np.int64)
    return {
        "s_suppkey": keys,
        "s_name": [f"Supplier#{k:09d}" for k in keys],
        "s_nationkey": _ints(rng, "supplier", "s_nationkey", n, np.int32),
        "s_acctbal": _money(rng, "supplier", "s_acctbal", n),
    }


def _part(rng, n, sizes):
    keys = np.arange(n, dtype=np.int64)
    return {
        "p_partkey": keys,
        "p_name": _pick(rng, "part", "p_name", n),
        "p_brand": _pick(rng, "part", "p_brand", n),
        "p_type": _pick(rng, "part", "p_type", n),
        "p_size": _ints(rng, "part", "p_size", n, np.int32),
        # the reference cycles the price with the key: 900.0, 900.1, ...
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    }


def _orders(rng, n, sizes):
    return {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": _fk(rng, n, sizes["customer"]),
        "o_orderstatus": _pick(rng, "orders", "o_orderstatus", n),
        "o_totalprice": _money(rng, "orders", "o_totalprice", n),
        "o_orderdate": _dates(rng, "orders", "o_orderdate", n),
        "o_orderpriority": _pick(rng, "orders", "o_orderpriority", n),
    }


def _lineitem(rng, n, sizes):
    return {
        "l_orderkey": _fk(rng, n, sizes["orders"]),
        "l_partkey": _fk(rng, n, sizes["part"]),
        "l_suppkey": _fk(rng, n, sizes["supplier"]),
        "l_linenumber": _ints(rng, "lineitem", "l_linenumber", n, np.int32),
        "l_quantity": _ints(rng, "lineitem", "l_quantity", n).astype(np.float64),
        "l_extendedprice": _money(rng, "lineitem", "l_extendedprice", n),
        "l_discount": _steps(rng, "lineitem", "l_discount", n),
        "l_tax": _steps(rng, "lineitem", "l_tax", n),
        "l_returnflag": _pick(rng, "lineitem", "l_returnflag", n),
        "l_linestatus": _pick(rng, "lineitem", "l_linestatus", n),
        "l_shipdate": _dates(rng, "lineitem", "l_shipdate", n),
    }


def _events(rng, n, sizes):
    ts_col = _col("events", "ts")
    start = _day_us(ts_col["min"])
    span = _day_us(ts_col["max"]) + _US_PER_DAY - start
    ts = np.sort(rng.integers(0, span, n)) + start
    # users in proportion to events, as in the reference
    users = max(1, round(n * STATS["events_per_user"]["keys"] / STATS["rows"]["events"]))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": _pick(rng, "events", "event_type", n),
        # exponential, with the measured mean
        "value": np.round(rng.exponential(_col("events", "value")["mean"], n), 2),
        "props": _pick(rng, "events", "props", n),
    }


def _documents(rng, n, sizes):
    doc = STATS["documents"]
    (marker, marked), = doc["last_terms"].items()
    shares = {w: s for w, s in doc["term_shares"].items() if w != marker}
    vocab = np.asarray(list(shares), dtype=object)
    p = np.array(list(shares.values()))
    # the measured maximum counts the marker term of a near duplicate
    lengths = rng.integers(doc["tokens_min"], doc["tokens_max"], n)
    words = vocab[rng.choice(len(vocab), int(lengths.sum()), p=p / p.sum())]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    # near duplicates: another document's text plus the marker term; two
    # of them copying the same document are exact duplicates
    dups = rng.choice(n, round(n * marked / STATS["rows"]["documents"]), replace=False)
    for i, src in zip(dups, rng.integers(0, n, len(dups))):
        texts[i] = texts[src] + " " + marker
    keys = np.arange(n, dtype=np.int64)
    sources = len(_col("documents", "source")["shares"])
    return {
        "doc_id": keys,
        "text": texts,
        "lang": _pick(rng, "documents", "lang", n),
        "source": [f"src{k % sources}" for k in keys],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n, sizes):
    dim = _col("embeddings", "embedding")["dim"]
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(x.ravel(), dim).cast(
            pa.list_(pa.float32())
        ),
        "label": _ints(rng, "embeddings", "label", n, np.int32),
    }


_SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
}

_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(out_dir: str, profile: str, seed: int) -> dict[str, int]:
    """Write every table of `profile` for `seed` into `out_dir`; return
    the row count per table. Each table draws from its own child of the
    seed, so tables are independent of generation order."""
    sizes = PROFILES[profile]
    os.makedirs(out_dir, exist_ok=True)
    children = np.random.SeedSequence(seed).spawn(len(_BUILDERS))
    rows = {}
    for (name, build), child in zip(_BUILDERS.items(), children):
        rng = np.random.default_rng(child)
        cols = build(rng, sizes[name], sizes)
        schema = pa.schema(_SCHEMAS[name])
        table = pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema},
                         schema=schema)
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
