"""Seeded input generators for the benchmark.

Two families:

* ``write_tables`` writes the ten parquet tables the registered queries
  read (``sources/tables.TABLES``), with the schemas of FIXTURES.md §B and
  the value domains of the fixture generation the queries were written
  against: uniform keys, the TPC-H-ish categorical domains, a 30-word
  document vocabulary with planted " dup" near-duplicates, unit-norm
  64-d embeddings and a month of Poisson-spaced events.
* ``write_corpus`` writes the whole-file text corpus the compat jobs map
  over: mixed-case, punctuated prose over a Zipf vocabulary that includes
  non-ASCII letters, so ``wc``/``indexer`` meet the Unicode-letter rule of
  ``compat/apps._words``.

Everything is a pure function of its arguments: the same arguments write
the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000


def _days_us(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("int64") * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, domain: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(domain), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(domain)
    ).cast(pa.string())


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; linear in ``sf`` except the text/vector
    tables, which keep a floor so similarity queries have neighbours."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(15, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), type=pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), type=pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), type=pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), type=pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(npart)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, type=pa.int64()),
        "p_name": _pick(rng, names, npart),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), type=pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), type=pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", no, rng)),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", nl, rng)),
    })
    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    span = 30 * _DAY_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), type=pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, span, ne))),
        "user_id": pa.array(rng.integers(0, n["users"], ne), type=pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    vocab = np.array(DOC_WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(nd)
    ]
    # 5% planted near-duplicates: another document's text plus " dup".
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), type=pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64()),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), type=pa.int32()),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- compat corpus ---------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyzéèüößñçåøæ"
_PUNCT = [", ", ". ", "; ", "! ", "? ", " -- ", ": "]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list(_LETTERS))
    # ASCII letters dominate; accented ones appear in ~1 of 8 draws.
    p = np.r_[np.full(26, 7.0 / (8 * 26)), np.full(len(_LETTERS) - 26, 1.0 / (8 * (len(_LETTERS) - 26)))]
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters, int(rng.integers(1, 11)), p=p)))
    return sorted(words)


def write_corpus(out_dir: str, seed: int, n_files: int, file_bytes: int) -> list[str]:
    """Write ``n_files`` text files of about ``file_bytes`` each and return
    their paths. Word ranks follow Zipf(1.1) over a 20k-word vocabulary;
    about a fifth of the tokens are capitalised or upper-cased."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, 20_000), dtype=object)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        n_words = file_bytes // 6
        ranks = rng.zipf(1.1, n_words)
        words = vocab[np.minimum(ranks, len(vocab)) - 1]
        case = rng.random(n_words)
        parts = []
        for w, c in zip(words, case):
            parts.append(w.upper() if c < 0.03 else w.capitalize() if c < 0.2 else w)
        seps = rng.choice(len(_PUNCT) + 1, n_words, p=[0.85] + [0.15 / len(_PUNCT)] * len(_PUNCT))
        out = []
        for i, w in enumerate(parts):
            out.append(w)
            out.append(" " if seps[i] == 0 else _PUNCT[seps[i] - 1])
            if i % 14 == 13:
                out.append("\n")
        path = os.path.join(out_dir, f"pg-{f:02d}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("".join(out))
        paths.append(path)
    return paths
