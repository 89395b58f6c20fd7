"""Seeded sf0.1 catalog fixture: the ten tables the catalog reads
(``sources.TABLES``), written as one parquet file each.

Row counts, column names and types, and value domains and distributions
were measured on the sf0.1 fixture the catalog was built against
(TPC-H-like star schema, an ``events`` stream with microsecond
timestamps sorted by ``event_id``, unit-norm 64-d ``embeddings``, and a
``documents`` corpus of 10-100 words a document over a 30-word
vocabulary, with 8 exact twin pairs and 250 near duplicates).  The
values are drawn from ``numpy``'s PCG64 seeded with the benchmark seed,
so one seed always gives the same bytes and another seed gives other
data of the same shape.

Run as a script to write a fixture: ``python3 fixtures.py OUT_DIR SEED``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64
N_EXACT_TWINS = 8
N_NEAR_DUPS = 250

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _days(base: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array(base + offsets.astype("timedelta64[D]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(10, 101, N_DOCUMENTS)  # words per document
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    vocab = np.array(WORDS, dtype=object)
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(vocab[word_ids[pos : pos + n]]))
        pos += n
    # exact twins: the second document of a pair repeats the first
    picks = rng.choice(N_DOCUMENTS, 2 * N_EXACT_TWINS, replace=False)
    for src, dst in zip(picks[:N_EXACT_TWINS], picks[N_EXACT_TWINS:]):
        texts[dst] = texts[src]
    # near duplicates: another document plus the word "dup", applied in
    # turn, so a source edited earlier gives "... dup dup".  Targets avoid
    # the twins, and the sources are distinct and never a twin's copy, so
    # the corpus keeps exactly N_EXACT_TWINS exact-duplicate groups.  With
    # at least 10 words the 3-shingle Jaccard is >= 8/9, well inside the
    # band MinHash-LSH (16 bands x 4 rows) finds with certainty.
    targets = rng.choice(np.setdiff1d(np.arange(N_DOCUMENTS), picks), N_NEAR_DUPS, replace=False)
    sources = iter(rng.permutation(np.setdiff1d(np.arange(N_DOCUMENTS), picks[N_EXACT_TWINS:])))
    for dst in targets:
        src = next(sources)
        if src == dst:
            src = next(sources)
        texts[dst] = texts[src] + " dup"
    if len(set(texts)) != N_DOCUMENTS - N_EXACT_TWINS:
        raise RuntimeError("documents fixture: unplanned exact duplicates")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, N_DOCUMENTS, p=LANG_P), pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, N_DOCUMENTS)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
        }
    )


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` (pure: no I/O)."""
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    nation_keys = np.arange(25)
    tables = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": i32(nation_keys),
                "n_name": [f"NATION_{k}" for k in nation_keys],
                "n_regionkey": i32(nation_keys % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(N_CUSTOMER)),
                "c_name": _names("Customer", N_CUSTOMER),
                "c_nationkey": i32(rng.integers(0, 25, N_CUSTOMER)),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(N_SUPPLIER)),
                "s_name": _names("Supplier", N_SUPPLIER),
                "s_nationkey": i32(rng.integers(0, 25, N_SUPPLIER)),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(N_PART)),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                "p_type": rng.choice(PART_TYPES, N_PART),
                "p_size": i32(rng.integers(1, 51, N_PART)),
                "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(N_ORDERS)),
                "o_custkey": i64(rng.integers(0, N_CUSTOMER, N_ORDERS)),
                "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
                "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
                "o_orderdate": _days(_EPOCH_1995, rng.integers(0, 2405, N_ORDERS)),
                "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, N_ORDERS, N_LINEITEM)),
                "l_partkey": i64(rng.integers(0, N_PART, N_LINEITEM)),
                "l_suppkey": i64(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
                "l_linenumber": i32(rng.integers(1, 8, N_LINEITEM)),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
                "l_discount": np.round(rng.uniform(0.0, 0.1, N_LINEITEM), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, N_LINEITEM), 2),
                "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
                "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
                "l_shipdate": _days(_EPOCH_1995 + np.timedelta64(1, "D"), rng.integers(0, 2499, N_LINEITEM)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(N_EVENTS)),
                "ts": pa.array(
                    _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS)).astype("timedelta64[us]"),
                    pa.timestamp("us"),
                ),
                "user_id": i64(rng.integers(0, 1500, N_EVENTS)),
                "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
                "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
            }
        ),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return tables


def write_fixture(out_dir: str, seed: int) -> str:
    """Write the fixture for ``seed`` to ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


if __name__ == "__main__":
    import sys

    write_fixture(sys.argv[1], int(sys.argv[2]))
