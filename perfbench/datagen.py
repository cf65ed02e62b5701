"""Seeded input generators: TPC-H-shaped lineitem/orders and a documents
corpus with planted duplicates. The same seed gives the same rows.

Everything is built with NumPy and returned as Arrow tables, so the
benchmark needs no data outside its checkout and DuckDB can compute the
expected answers from the very rows that were written.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

EPOCH = dt.date(1995, 1, 1)
FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _dates(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    return np.datetime64(EPOCH) + rng.integers(0, days, n).astype("timedelta64[D]")


def orders(rng: np.random.Generator, n: int, *, first_key: int = 0,
           days: int = 730) -> pa.Table:
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return pa.table({
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, 1 + max(1, n // 10), n).astype(np.int64),
        "o_orderstatus": rng.choice(STATUS, n),
        "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n), 2),
        "o_orderdate": _dates(rng, n, days),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def lineitem(rng: np.random.Generator, order_keys: np.ndarray,
             order_dates: np.ndarray, lines_per_order: int = 4) -> pa.Table:
    n = len(order_keys) * lines_per_order
    ok = np.repeat(order_keys, lines_per_order)
    od = np.repeat(order_dates, lines_per_order)
    return pa.table({
        "l_orderkey": ok,
        "l_linenumber": np.tile(np.arange(1, lines_per_order + 1, dtype=np.int32),
                                len(order_keys)),
        "l_quantity": rng.integers(1, 51, n).astype(np.int64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(FLAGS, n),
        "l_linestatus": rng.choice(STATUS, n),
        "l_shipdate": od + rng.integers(1, 122, n).astype("timedelta64[D]"),
    })


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def documents(rng: np.random.Generator, n_base: int, *, words_per_doc: int = 60,
              near_dup_share: float = 0.1, exact_dup_share: float = 0.05,
              boilerplate_share: float = 0.2, query_terms: tuple = ()) -> pa.Table:
    """``n_base`` distinct documents of random words, plus planted copies:

    - exact copies of ``exact_dup_share`` of them (same text, new id);
    - near copies of ``near_dup_share`` of them, with one word of each
      ``words_per_doc`` replaced (shingle Jaccard stays far above 0.7);
    - a fixed 12-word boilerplate footer on ``boilerplate_share`` of the
      base documents (and so on their copies), so duplicated spans exist
      inside otherwise unique texts.

    ``cluster`` is the ground truth: documents that share it are exact or
    near duplicates of one base document. ``query_terms`` are spread over a
    known subset of base documents with seeded counts, for retrieval.
    """
    vocab = _vocab(rng, 6000)
    texts = [list(rng.choice(vocab, words_per_doc)) for _ in range(n_base)]
    for term in query_terms:
        for d in rng.choice(n_base, max(1, n_base // 50), replace=False):
            k = int(rng.integers(1, 4))
            for _ in range(k):
                texts[d][int(rng.integers(0, words_per_doc))] = term
    footer = list(rng.choice(vocab, 12))
    for d in rng.choice(n_base, int(n_base * boilerplate_share), replace=False):
        texts[d] = texts[d] + footer
    cluster = list(range(n_base))
    lang = list(rng.choice(np.array(["en", "de", "fr"]), n_base, p=[0.6, 0.2, 0.2]))
    n_exact = int(n_base * exact_dup_share)
    n_near = int(n_base * near_dup_share)
    picks = rng.choice(n_base, n_exact + n_near, replace=False)
    for i, src in enumerate(picks):
        words = list(texts[src])
        if i >= n_exact:
            words[int(rng.integers(0, words_per_doc))] = str(rng.choice(vocab))
        texts.append(words)
        cluster.append(int(src))
        lang.append(lang[src])
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [" ".join(texts[i]) for i in order],
        "lang": [str(lang[i]) for i in order],
        "cluster": np.array([cluster[i] for i in order], dtype=np.int64),
    })
