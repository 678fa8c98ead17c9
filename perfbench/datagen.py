"""Seeded input generation for the benchmark.

Two kinds of input, both written as parquet with pyarrow (no Spark):

* ``write_star_schema`` -- the ten tables ``__spark_entry__.queries()``
  reads (TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column names, types and value shapes of the
  synthetic tables the package's tests use, at a chosen scale factor.
* ``write_catalog`` -- a wide catalog of schema-only tables (few rows,
  many columns of mixed types) plus the policy that exercises every
  policy feature over it: the input of the ``catalog_build`` workload.

The same seed gives byte-identical files: every value comes from one
``numpy.random.Generator`` seeded from the argument, and the parquet
writer is pinned (no statistics timestamps, fixed compression).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "large", "old", "cold", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _ts_us(base: dt.datetime, micros: np.ndarray) -> pa.Array:
    start = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(start + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten star-schema tables at scale factor ``sf`` into
    ``out_dir`` (one ``<name>.parquet`` each); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.integers(0, len(_ADJ), n_part)
    noun = rng.integers(0, len(_NOUN), n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in rng.integers(0, len(_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(
            dt.datetime(1995, 1, 1),
            rng.integers(0, 2400, n_ord) * 86_400_000_000,
        ),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_us(
            dt.datetime(1995, 1, 2),
            rng.integers(0, 2500, n_line) * 86_400_000_000,
        ),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us(dt.datetime(2024, 1, 1), ev_us),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(8, 90, n_docs)
    word_ids = rng.integers(0, len(_VOCAB), int(n_words.sum()))
    texts, pos = [], 0
    for n in n_words:
        texts.append(" ".join(_VOCAB[w] for w in word_ids[pos:pos + n]))
        pos += n
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Wide catalog
# ---------------------------------------------------------------------------

APP = "WIDE"
BANNED_COLUMN = "SSN"
REDACTION_LITERAL = "<redacted>"
SOFT_DELETE_COLUMN = "deleted_at"
PREFIX = "CAT"
RESERVED_COLUMNS = ("order", "select", "table")

_CATALOG_TYPES = (
    ("int", pa.int32()),
    ("big", pa.int64()),
    ("amt", pa.float64()),
    ("txt", pa.string()),
    ("flag", pa.bool_()),
    ("ts", pa.timestamp("us")),
)


def _column(rng: np.random.Generator, typ: pa.DataType, n: int) -> pa.Array:
    if typ == pa.int32() or typ == pa.int64():
        return pa.array(rng.integers(0, 1000, n), typ)
    if typ == pa.float64():
        return pa.array(np.round(rng.uniform(0, 1000, n), 2), typ)
    if typ == pa.string():
        return pa.array([f"v{i}" for i in rng.integers(0, 1000, n)], typ)
    if typ == pa.bool_():
        return pa.array(rng.integers(0, 2, n).astype(bool), typ)
    return _ts_us(dt.datetime(2020, 1, 1), rng.integers(0, 10**12, n))


def catalog_table_names(n_tables: int) -> list[str]:
    return [f"t{i:03d}" for i in range(n_tables)]


def write_catalog(
    out_dir: str, seed: int, n_tables: int, n_cols: int, n_rows: int = 3
) -> dict:
    """Write ``n_tables`` parquet tables of ``n_cols`` mixed-type columns
    into ``out_dir`` and return the policy (a plain dict, the shape of
    one app in the ``build`` CLI's config YAML) plus the facts the
    output check needs.

    Every table carries the banned column and the soft-delete column;
    the first three carry reserved-word column names; column types and
    order vary per table with the seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    names = catalog_table_names(n_tables)
    for i, name in enumerate(names):
        cols: dict[str, pa.Array] = {"id": pa.array(np.arange(n_rows), pa.int64())}
        cols[BANNED_COLUMN.lower()] = _column(rng, pa.string(), n_rows)
        soft = _column(rng, pa.timestamp("us"), n_rows)
        # one soft-deleted row per table, so the filter has work to do
        cols[SOFT_DELETE_COLUMN] = pa.array(
            [None] + soft.to_pylist()[1:], pa.timestamp("us")
        )
        if i < 3:
            for word in RESERVED_COLUMNS:
                cols[word] = _column(rng, pa.string(), n_rows)
        kinds = rng.integers(0, len(_CATALOG_TYPES), n_cols - len(cols))
        for j, k in enumerate(kinds):
            label, typ = _CATALOG_TYPES[k]
            cols[f"c{j:02d}_{label}"] = _column(rng, typ, n_rows)
        _write(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    excluded = names[-2:]  # EXCLUDE filters these out
    unmanaged = names[-3]  # matched by unmanaged_tables
    redacted = [t for k, t in enumerate(names) if k % 3 == 0 and t not in excluded]
    redactions = {}
    for t in redacted:
        schema = pq.read_schema(os.path.join(out_dir, f"{t}.parquet"))
        text_cols = [f.name for f in schema if f.name.endswith("_txt")][:2]
        num_cols = [f.name for f in schema if f.name.endswith("_amt")][:1]
        red = {c.upper(): REDACTION_LITERAL for c in text_cols}
        red.update({c.upper(): 0 for c in num_cols})
        redactions[f"{APP}.{t.upper()}"] = red
    policy = {
        "sources": {
            "RAW": {
                "EXCLUDE": excluded,
                "SOFT_DELETE": {SOFT_DELETE_COLUMN: "IS NOT NULL"},
                "PREFIX": PREFIX,
            }
        },
        "redactions": redactions,
        "banned_columns": [BANNED_COLUMN],
        "unmanaged_tables": [f"{APP}.{unmanaged.upper()}"],
        "downstream_allow_list": [],
    }
    managed = [t for t in names if t not in excluded and t != unmanaged]
    return {"names": names, "policy": policy, "managed": managed}
