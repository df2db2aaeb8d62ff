"""Seeded input generation for the benchmark.

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical tables. Two products:

* a TPC-H-shaped lake (``region`` … ``lineitem``, ``events``,
  ``documents``, ``embeddings``) with the schemas and value domains the
  catalog queries expect, written as one Parquet file per table;
* an OMOP-``NOTE``-shaped pandas frame that the ``note_dump`` workload
  loads into embedded Derby through the program's own JDBC writer.

The lake sizes scale from one knob, the ``lineitem`` row count, with the
same ratios as the catalog's sf0.1 fixture (lineitem : orders : customer
: part : supplier : events = 600 : 150 : 15 : 20 : 1 : 100).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "green", "hot", "large", "old", "red", "small"]
P_NOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "valve", "wheel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64
LAKE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def lake_sizes(lineitem_rows: int, documents: int, embeddings: int) -> dict[str, int]:
    """Row count per lake table for a ``lineitem`` row count."""
    li = lineitem_rows
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": max(10, li // 40),
        "supplier": max(10, li // 600),
        "part": max(10, li // 30),
        "orders": max(10, li // 4),
        "lineitem": li,
        "events": max(10, li // 6),
        "documents": documents,
        "embeddings": embeddings,
    }


def _days(rng, start: dt.date, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "ms")
    days = rng.integers(0, span_days + 1, size=n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("ms"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents over a 31-word vocabulary; about 5% are a
    copy of an earlier document plus the token ``dup`` (the near-dup
    and exact-dup groups the dedup operators look for)."""
    vocab = np.array(DOC_VOCAB)
    texts: list[str] = []
    originals: list[int] = []
    lengths = rng.integers(10, 101, size=n)
    dup_draw = rng.random(n)
    for i in range(n):
        if originals and dup_draw[i] < 0.05:
            texts.append(texts[originals[int(rng.integers(len(originals)))]] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lengths[i])]))
            originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32())
    emb = pa.ListArray.from_arrays(offsets, pa.array(v.ravel(), pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng, n: int) -> pa.Table:
    gaps_us = rng.exponential(26e6, n).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype(
        "timedelta64[us]"
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(2, n // 66), n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
            "value": pa.array(_money(rng, 0.0, 560.0, n), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def write_lake(out_dir: str, seed: int, sizes: dict[str, int]) -> int:
    """Write every lake table under ``out_dir``; returns total bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = sizes
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": pa.array(
                    [f"Customer#{i:09d}" for i in range(n["customer"])], pa.string()
                ),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n["customer"])),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": pa.array(
                    [f"Supplier#{i:09d}" for i in range(n["supplier"])], pa.string()
                ),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(P_ADJ, size=n["part"]),
                            rng.choice(P_NOUN, size=n["part"]),
                        )
                    ],
                    pa.string(),
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])], pa.string()
                ),
                "p_type": pa.array(rng.choice(P_TYPES, size=n["part"])),
                "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n["customer"], n["orders"]), pa.int64()
                ),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n["orders"])),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
                "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n["orders"]),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n["orders"])),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(
                    rng.integers(0, n["orders"], n["lineitem"]), pa.int64()
                ),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
                "l_suppkey": pa.array(
                    rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()
                ),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
                "l_quantity": pa.array(
                    rng.integers(1, 51, n["lineitem"]).astype(np.float64)
                ),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n["lineitem"])),
                "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n["lineitem"])),
                "l_linestatus": pa.array(rng.choice(["F", "O"], size=n["lineitem"])),
                "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n["lineitem"]),
            }
        ),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    total = 0
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def _note_vocabulary(rng, size: int = 4000) -> np.ndarray:
    """Pronounceable pseudo-words, so note text compresses like prose
    rather than like one repeated string."""
    consonants = list("bcdfghklmnprstvz")
    vowels = list("aeiou")
    words = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 5))
        words.add(
            "".join(
                rng.choice(consonants) + rng.choice(vowels) for _ in range(n_syl)
            )
        )
    return np.array(sorted(words))


NOTE_TEXT_BYTES = 1024
ZIPF_SLOTS = 1 << 20


def notes_frame(seed: int, n_rows: int) -> pd.DataFrame:
    """An OMOP ``NOTE``-shaped frame: ``NOTE_ID`` 0..n-1, ``PERSON_ID``,
    ``NOTE_DATE``, ``PROVIDER_ID`` NULL on about 1 row in 7, and a
    ``NOTE_TEXT`` of about ``NOTE_TEXT_BYTES`` characters drawn
    Zipf-like from a seeded vocabulary."""
    rng = np.random.default_rng(seed + 7919)
    vocab = _note_vocabulary(rng)
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    avg_word = float((np.char.str_len(vocab) * weights).sum()) + 1.0
    n_words = max(1, int(NOTE_TEXT_BYTES / avg_word))
    # inverse-CDF lookup table: one integer draw per word
    slots = np.searchsorted(np.cumsum(weights), (np.arange(ZIPF_SLOTS) + 0.5) / ZIPF_SLOTS)
    draws = slots[rng.integers(0, ZIPF_SLOTS, n_rows * n_words)]
    words = pa.array(vocab).take(np.minimum(draws, len(vocab) - 1))
    rows = pa.ListArray.from_arrays(np.arange(0, n_rows * n_words + 1, n_words), words)
    texts = pc.binary_join(rows, " ").to_pandas()
    provider = rng.integers(1, 5000, n_rows).astype("float64")
    provider[rng.random(n_rows) < 1 / 7] = np.nan
    return pd.DataFrame(
        {
            "NOTE_ID": np.arange(n_rows, dtype=np.int32),
            "PERSON_ID": rng.integers(1, max(2, n_rows // 20), n_rows).astype(np.int32),
            "NOTE_DATE": (
                np.datetime64("2010-01-01") + rng.integers(0, 5000, n_rows)
            ).astype("datetime64[D]").astype(object),
            "PROVIDER_ID": pd.array(provider, dtype="Int32"),
            "NOTE_TEXT": texts,
        }
    )
