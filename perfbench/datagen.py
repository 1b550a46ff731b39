"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``catalog.TESTDATA_TABLES``)
as one parquet file each, with the same schemas and value distributions as
the project's synthetic test data: a TPC-H-ish star schema, an ``events``
stream table, a small text corpus with planted exact and near duplicates,
and unit-norm embeddings. Row counts scale with ``sf`` the way the test
data does (lineitem = 6M x sf). The same ``(seed, sf)`` always gives
byte-identical inputs, so the engine sees only generated data.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, last: str, n):
    span = (np.datetime64(last) - np.datetime64(first)).astype(int)
    d = rng.integers(0, span + 1, n)
    return np.datetime64(first, "us") + d.astype("timedelta64[D]")


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # planted duplicates: ~5% near-dups (an earlier doc plus a marker token)
    # and ~0.2% exact copies, the shapes the dedup operators look for
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        elif r < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build every input table in memory."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (max(10, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_line, n_ev = (int(k * sf) for k in (1_500_000, 6_000_000, 1_000_000))
    n_users = max(15, int(15_000 * sf))
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table(
            {
                "r_regionkey": i32(range(5)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": pa.array(
                    [
                        f"{_ADJ[a]} {_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": _choice(rng, _PTYPE, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
                "o_orderpriority": _choice(rng, _PRIORITY, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
                "l_partkey": i64(rng.integers(0, n_part, n_line)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _choice(rng, ["F", "O"], n_line),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_ev)),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]")
                ),
                "user_id": i64(rng.integers(0, n_users, n_ev)),
                "event_type": _choice(rng, _EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    return out


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Generate and write every table to ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
