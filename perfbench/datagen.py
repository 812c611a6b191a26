"""Seeded synthetic inputs with the shapes of the repository's test tables.

The benchmark reads nothing outside its checkout, so it cannot load the
parquet test tables (TESTDATA.md, seed 42); it generates tables with
the same shapes instead. Every parameter below was measured on the
sf0.1 tables (and agrees with sf0.001), see README.md, "Inputs":

- ``lineitem``: every column independent and uniform. Order keys in
  [0, rows / 4), so an order has Poisson(4)-like line counts; line
  numbers 1..7 drawn independently, so (orderkey, linenumber) is not
  unique; part keys in [0, 200,000 × sf), supplier keys in
  [0, 10,000 × sf); quantity 1..50; extended price uniform on
  [900, 105,000] and independent of quantity; discount 0.00..0.10;
  tax 0.00..0.08; flags uniform; ship dates uniform days in
  1995-01-02..2001-11-04.
- ``customer``: ``Customer#<9-digit key>`` names, nation 0..24,
  balance uniform on [-999.99, 9,999.99], five market segments.
- ``documents``: 10..100 words (uniform) drawn uniformly from a
  30-word vocabulary; 5% of documents are another document with
  `` dup`` appended (near duplicates; two of them copying the same
  document are the only exact duplicates, 0.16% of rows at sf0.1);
  language 41% ``en``, 15% each of ``de``, ``es``, ``fr``, ``zh``;
  source ``src<i mod 20>``.
- ``embeddings``: 64-d isotropic Gaussian vectors scaled to unit norm
  (no cluster structure; the label is uniform on 0..9 and unrelated to
  the vector).

Everything is a pure function of a ``numpy.random.Generator``: the same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

LI_KEYS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
LINES_PER_ORDER = 4
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_SHIP_FIRST = np.datetime64("1995-01-02T00:00:00", "us")
_SHIP_DAYS = int((np.datetime64("2001-11-04") - np.datetime64("1995-01-02")).astype(int)) + 1
_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
NEAR_DUP_SHARE = 0.05


def lineitem(rng: np.random.Generator, n: int, first_order: int, sf: float) -> pd.DataFrame:
    """``n`` lineitem rows with order keys in ``first_order`` +
    [0, n / 4), keys unique on ``LI_KEYS`` (a repeated key, rare at
    these ranges, is dropped, as the library's own workload does)."""
    orders = max(1, n // LINES_PER_ORDER)
    df = pd.DataFrame(
        {
            "l_orderkey": rng.integers(first_order, first_order + orders, n).astype("int64"),
            "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n).astype("int64"),
            "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
            "l_linestatus": _STATUS[rng.integers(0, 2, n)],
            "l_shipdate": pd.to_datetime(
                _SHIP_FIRST + rng.integers(0, _SHIP_DAYS, n).astype("timedelta64[D]")
            ).tz_localize("UTC"),
        }
    )
    return df.drop_duplicates(LI_KEYS, ignore_index=True)


def customer(rng: np.random.Generator, n: int, first_key: int = 0) -> pd.DataFrame:
    keys = np.arange(first_key, first_key + n, dtype="int64")
    return pd.DataFrame(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9_999.99, n), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, len(_SEGMENTS), n)],
        }
    )


def documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), int(k))]) for k in rng.integers(10, 101, n)]
    for i in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def normalized(text: str) -> str:
    """The library's ``normalize_text`` for the space-only texts made
    here: lowercase, trim spaces, collapse whitespace runs."""
    return re.sub(r"\s+", " ", text.lower().strip(" "))


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pd.DataFrame:
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": list(v.astype("float32")),
            "label": rng.integers(0, 10, n).astype("int32"),
        }
    )
