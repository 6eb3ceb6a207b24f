"""Seeded input generator for the benchmark (numpy + pyarrow, one process).

Writes the ten fixture tables with the exact schemas of TESTDATA.md /
FIXTURES.md (one single-row-group parquet file each, like the fixtures)
and produces the ``speed_layer`` topic records in memory.  Row counts
depend only on the scale factor; with any seed they equal the fixture
counts at the same scale (``sf=0.1`` gives the ``sf0.1`` counts).

The program under test only ever sees the generated files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_NOUN = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


#: share of documents that are near-duplicates, as in the fixtures
NEAR_DUP_SHARE = 0.05


def row_counts(sf: float) -> dict[str, int]:
    """Fixture row counts at scale ``sf`` (TESTDATA.md).  The text and
    vector tables have a 500-row floor, like the fixtures."""
    return {
        "region": 5, "nation": 25,
        "customer": round(150_000 * sf), "supplier": round(10_000 * sf),
        "part": round(200_000 * sf), "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf), "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table: changing one table's recipe
    # never shifts another table's values
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919
                                  + len(stream)])


def zipf_indices(rng: np.random.Generator, n: int, universe: int,
                 s: float) -> np.ndarray:
    """``n`` draws from {0..universe-1} with P(k) proportional to
    1/(k+1)^s."""
    w = 1.0 / np.arange(1, universe + 1, dtype=np.float64) ** s
    return rng.choice(universe, size=n, p=w / w.sum())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(d, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    n = row_counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, nc)]})

    r = _rng(seed, "supplier")
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})

    r = _rng(seed, "part")
    npart = n["part"]
    keys = np.arange(npart)
    adj = np.array(_ADJ)[r.integers(0, len(_ADJ), npart)]
    noun = np.array(_NOUN)[r.integers(0, len(_NOUN), npart)]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               (r.integers(1, 26, npart)).astype(str)),
        "p_type": np.array(_PTYPES)[r.integers(0, len(_PTYPES), npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})

    r = _rng(seed, "orders")
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, max(nc, 1), no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, no)],
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, no)]})

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, max(no, 1), nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, max(npart, 1), nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, max(ns, 1), nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, nl)],
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", nl)})

    r = _rng(seed, "events")
    ne = n["events"]
    users = max(1, round(15_000 * sf))   # uniform, as the fixtures
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, ne))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, ne), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, ne)],
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})

    out["documents"] = _documents(_rng(seed, "documents"), n["documents"])

    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    x = r.standard_normal((nv, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})
    return out


def _documents(r: np.random.Generator, nd: int) -> pa.Table:
    """10-100 words over a 30-word vocabulary; ``NEAR_DUP_SHARE`` of the
    documents are near-duplicates: another document's text + " dup"."""
    lens = r.integers(10, 101, nd)
    words = np.array(_VOCAB)[r.integers(0, len(_VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    n_dup = int(round(nd * NEAR_DUP_SHARE))
    dups = r.choice(nd, n_dup, replace=False) if n_dup else []
    originals = np.setdiff1d(np.arange(nd), dups)
    for d in dups:
        texts[d] = texts[int(r.choice(originals))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(len(_LANGS), nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write every table as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows),
                       compression="snappy")


@dataclass(frozen=True)
class TweetBatch:
    """Tweet-shaped topic records (FIXTURES.md B2), column-wise."""
    author: np.ndarray        # author index (key = "u%06d")
    views: np.ndarray
    likes: np.ndarray
    replies: np.ndarray
    retweets: np.ndarray

    def __len__(self) -> int:
        return len(self.author)


def author_key(i: int) -> str:
    return f"u{int(i):06d}"


def tweets(seed: int, n: int, n_authors: int, zipf_s: float) -> TweetBatch:
    """``n`` tweet records with Zipf(``zipf_s``)-skewed author keys."""
    r = _rng(seed, "tweets")
    return TweetBatch(
        author=zipf_indices(r, n, n_authors, zipf_s),
        views=r.integers(0, 10_000, n),
        likes=r.integers(0, 500, n),
        replies=r.integers(0, 50, n),
        retweets=r.integers(0, 100, n))
