"""Seeded input generator for the benchmark workloads.

Writes the FIXTURES.md table schemas as single Parquet files, one per
table, at a stated scale.  The same ``(seed, size)`` always gives the
same bytes: every table draws from its own PCG64 stream keyed by
``(seed, table name)``, so adding a table never shifts another.

The value shapes copy what the fixture files of FIXTURES.md measure
(sf0.001, sf0.01 and sf0.1 all agree; numbers in notes.json
``input_shape``):

- ``sf``: TPC-H-like scale; row counts follow FIXTURES.md
  (lineitem = 6e6·sf, orders = 1.5e6·sf, events = 1e6·sf, ...).
- documents: 10-99 tokens each, drawn uniformly from the fixtures'
  30-word vocabulary (median ~300 chars); ``dup_frac`` of them (5% in
  the fixtures) are near duplicates, a copy of another document with the
  token ``dup`` appended.  lang is 40% ``en`` and 15% each of four
  others, source is ``src{i % 20}``, n_chars is the text's length.
- events: users uniform over 15 000·sf ids (~67 events per user),
  uniform event types, exponential values (mean 50), ``{"k": 0..99}``
  props, and ts spread over 2 592 s from 2024-01-01 (in every fixture
  size), stored as timestamp[us] like the fixture files.
- events chunks: ``n_chunks`` ts-ordered files of ``chunk_rows`` rows,
  each starting where the previous one ended (no late rows).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = np.array([0.40, 0.15, 0.15, 0.15, 0.15])
#: the fixtures' document vocabulary, in first-seen order; ``dup`` marks
#: the near-duplicate copies and is never drawn as a word
WORDS = np.array("batch part spark line column order small sort fast value scan a hash "
                 "slow group agg filter query big key window row table stream merge "
                 "data vector customer the join".split())
#: the ts span of the fixtures' events table, at every scale
EVENTS_SPAN_US = 2_592 * 1_000_000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_WORDS = np.array(["blue", "red", "small", "large", "anvil", "widget", "ring", "gear"])


def rng_for(seed: int, name: str) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(name.encode())]))


def write_table(table: pa.Table, path: str) -> str:
    """One row group, fixed writer options: byte-identical per input."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        table, path, compression="snappy", version="2.6",
        row_group_size=max(1, table.num_rows), store_schema=False,
    )
    return path


def _ts_ms(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = rng_for(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)],
    })
    r = rng_for(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = rng_for(seed, "part")
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(P_WORDS[r.integers(0, 4, n_part)], " "),
                              P_WORDS[r.integers(4, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": P_TYPES[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    r = rng_for(seed, "orders")
    o_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_ms(o_days),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, n_ord)],
    })
    r = rng_for(seed, "lineitem")
    l_ord = np.sort(r.integers(0, n_ord, n_li))
    first = np.r_[True, l_ord[1:] != l_ord[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    qty = r.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ord.astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - run_start + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_ms(o_days[l_ord] + r.integers(1, 122, n_li)),
    })
    return out


def events_table(seed: int, n: int, n_users: int, start_us: int = EPOCH_2024_US,
                 first_id: int = 0, name: str = "events",
                 gap_us: float = EVENTS_SPAN_US / 100_000) -> pa.Table:
    """ts-ordered events; gaps are exponential with mean ``gap_us`` (by
    default the sf0.1 fixture's, 100 000 rows over ``EVENTS_SPAN_US``)."""
    r = rng_for(seed, name)
    ts_us = start_us + np.cumsum(r.exponential(gap_us, n)).astype(np.int64)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n, dtype=np.int64),
        "event_type": EVENT_TYPES[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}"),
    })


def zipf_ids(r: np.random.Generator, n_keys: int, n: int, a: float = 1.1) -> np.ndarray:
    """n draws from a truncated Zipf(a) over 0..n_keys-1."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    return r.choice(n_keys, size=n, p=w / w.sum()).astype(np.int64)


def corpus_table(seed: int, n_docs: int, dup_frac: float = 0.05) -> pa.Table:
    """Documents in the fixtures' shape; ``round(dup_frac * n_docs)`` of
    them, at seeded positions, copy another (non-copy) document's text
    and append `` dup``."""
    r = rng_for(seed, "documents")
    n_tok = r.integers(10, 100, n_docs)
    text = np.array([" ".join(WORDS[r.integers(0, len(WORDS), k)]) for k in n_tok],
                    dtype=object)
    dups = r.choice(n_docs, size=round(dup_frac * n_docs), replace=False)
    is_dup = np.zeros(n_docs, bool)
    is_dup[dups] = True
    originals = np.flatnonzero(~is_dup)
    text[dups] = [t + " dup" for t in text[r.choice(originals, size=len(dups))]]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(text, pa.string()),
        "lang": LANGS[r.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings_table(seed: int, n: int, dim: int = 64) -> pa.Table:
    r = rng_for(seed, "embeddings")
    vecs = (r.standard_normal((n, dim)) * 0.1).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
            pa.list_(pa.float32())),
        "label": r.integers(0, 10, n, dtype=np.int32),
    })


def write_fixture_dir(out_dir: str, seed: int, sf: float, n_vecs: int,
                      corpus: dict) -> str:
    """All ten FIXTURES.md tables under ``out_dir`` (the ``sf_dir`` form
    the query registry reads); ``corpus`` holds ``corpus_table``'s
    keyword parameters."""
    tables = star_tables(seed, sf)
    n_events = int(1_000_000 * sf)
    tables["events"] = events_table(seed, n_events, n_users=int(15_000 * sf),
                                    gap_us=EVENTS_SPAN_US / n_events)
    tables["documents"] = corpus_table(seed, **corpus)
    tables["embeddings"] = embeddings_table(seed, n_vecs)
    for name, t in tables.items():
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def write_event_chunks(out_dir: str, seed: int, n_chunks: int, chunk_rows: int,
                       n_users: int, tag: str, start_us: int = EPOCH_2024_US) -> list[str]:
    """``n_chunks`` consecutive ts-ordered event files ``<tag>_NNNN.parquet``."""
    paths = []
    for i in range(n_chunks):
        t = events_table(seed, chunk_rows, n_users, start_us=start_us,
                         first_id=i * chunk_rows, name=f"{tag}_{i}")
        start_us = int(t.column("ts")[-1].value) + 1_000_000
        paths.append(write_table(t, os.path.join(out_dir, f"{tag}_{i:04d}.parquet")))
    return paths
