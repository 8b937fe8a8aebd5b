"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of the seed:

- the MapReduce corpus: ``CORPUS_FILES`` plain-text files whose words are
  drawn from a Zipf law (exponent ``ZIPF_S``) over ``VOCAB_SIZE``
  letter-only words, ``CORPUS_BYTES`` in total (the reference's Lab 1
  corpus is 8 files, 3.3 MB);
- the ten parquet tables the registered queries read (``catalog.TABLES``),
  with the row counts, column types and value ranges of the engine's
  sf0.1 test data (FIXTURES.md): a TPC-H-like star schema with
  ``timestamp[ms]`` dates, an ``events`` stream table over 30 days with
  a ``timestamp[ns]`` column, short ``documents`` with planted
  near-duplicates, and unit-norm 64-dimensional ``embeddings``.

Only numpy and pyarrow are used, so inputs exist before the engine is
imported and the engine sees nothing but these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_FILES = 8
CORPUS_BYTES = 2 * 3_301_104
ZIPF_S = 1.1
VOCAB_SIZE = 20_000
#: The vocabulary and its rank order do not depend on the run's seed:
#: which words are frequent decides how the shuffle's hash partitioning
#: skews, and that should not change from one seed to the next.
VOCAB_SEED = 0

#: Row counts of the generated tables (the engine's sf0.1 shape).
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500
EMBED_DIM = 64

_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LETTERS = "abcdefghijklmnopqrstuvwxyzéüßø"


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """Distinct letter-only words; a tenth are capitalised so that the
    case-sensitive word count sees both forms."""
    letters = np.array(list(_LETTERS))
    lengths = rng.integers(2, 11, 2 * VOCAB_SIZE)
    chars = rng.choice(letters, int(lengths.sum()))
    words = np.split(chars, np.cumsum(lengths)[:-1])
    capital = rng.random(len(words)) < 0.1
    seen: dict[str, None] = {}
    for w, cap in zip(words, capital):
        word = "".join(w)
        seen[word.capitalize() if cap else word] = None
        if len(seen) == VOCAB_SIZE:
            break
    return np.array(list(seen))


def make_corpus(seed: int, out_dir: str) -> list[str]:
    """Write the corpus files and return their paths, sorted."""
    vocab_rng = np.random.default_rng(VOCAB_SEED)
    vocab = _vocabulary(vocab_rng)
    rank_order = vocab_rng.permutation(VOCAB_SIZE)
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    weights /= weights.sum()
    rng = np.random.default_rng(seed)
    # Separators exercise the tokenizer: digits and punctuation split
    # letter runs exactly like whitespace does.
    seps = np.array([" "] * 6 + ["\n", ", ", ". ", " 42 "])
    vocab_bytes = np.array([len(w.encode()) for w in vocab])
    sep_bytes = np.array([len(s) for s in seps])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per_file = CORPUS_BYTES // CORPUS_FILES
    for i in range(CORPUS_FILES):
        # Draw more words than needed, then cut at the byte budget.
        n = per_file // 6
        words = rank_order[rng.choice(VOCAB_SIZE, n, p=weights)]
        gaps = rng.integers(0, len(seps), n)
        k = int(np.searchsorted(np.cumsum(vocab_bytes[words] + sep_bytes[gaps]), per_file))
        text = "".join(np.char.add(vocab[words[:k]], seps[gaps[:k]]))
        path = os.path.join(out_dir, f"pg-{i}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        paths.append(path)
    return paths


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[ms]"), pa.timestamp("ms"))


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    vocab = np.array(_DOC_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near-duplicate: an earlier document with a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(vocab, k)))
    langs = rng.choice(np.array(["en", "zh", "es", "fr", "de"]), n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = ROWS["embeddings"]
    x = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    span = 30 * 86_400 * 10**9
    ts = np.sort(rng.integers(start, start + span, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
            "event_type": pa.array(
                rng.choice(np.array(["view", "click", "purchase", "signup", "error"]), n),
                pa.string(),
            ),
            "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def _star_schema(rng: np.random.Generator) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    nc, ns, npart = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    no, nl = ROWS["orders"], ROWS["lineitem"]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    adjectives = "red blue hot cold new old small large".split()
    nouns = "bolt ring rod plate gear anvil nut spring".split()
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(regions)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), i64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": pa.array(
                    rng.choice(
                        np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
                        nc,
                    )
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), i64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), i64),
                "p_name": pa.array(
                    [
                        f"{adjectives[a]} {nouns[b]}"
                        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
                "p_type": pa.array(
                    rng.choice(
                        np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
                        npart,
                    )
                ),
                "p_size": pa.array(rng.integers(1, 51, npart), i32),
                "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), i64),
                "o_custkey": pa.array(rng.integers(0, nc, no), i64),
                "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), no)),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                "o_orderpriority": pa.array(
                    rng.choice(
                        np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                        no,
                    )
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
                "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
                "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), nl)),
                "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), nl)),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
            }
        ),
    }


def make_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write one parquet file per table; return table name -> path."""
    rng = np.random.default_rng(seed)
    tables = _star_schema(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
