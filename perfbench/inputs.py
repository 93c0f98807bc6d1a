"""Seeded input generators for the benchmark workloads.

Everything here is plain NumPy/pandas/pyarrow: the program under test only
ever sees the files and frames these functions produce. The same seed gives
the same inputs, byte for byte. The CDC table follows the sf0.1 testdata
orders layout (150,000 orders of 15,000 customers); the corpus follows the
documents table's vocabulary and length distribution, with planted exact
and near duplicates so the dedup stages have work to do.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 15_000
N_ORDERS = 150_000
STATUSES = ["F", "O", "P"]

# corpus: N_DOCS documents, each curation pass reads a fresh SAMPLE_FRACTION
# sample of them
N_DOCS = 625
SAMPLE_FRACTION = 0.8
N_SOURCES = 20
VOCAB = ("a the data spark table query row column key value join group agg "
         "filter sort scan hash merge window stream batch vector part order "
         "customer line fast slow big small").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
BOILERPLATE = ("all rights reserved terms of use privacy policy contact "
               "support subscribe newsletter")

# CDC: the table is seeded with the orders whose key % 8 != 0; a change
# batch is CHANGE_ROWS rows of updates, deletes and inserts of absent keys
CHANGE_ROWS = 1_500
CHANGE_MIX = {"update": 0.6, "delete": 0.15, "insert": 0.25}
REPEAT_SHARE = 0.05     # updated keys that get a second, later update
LOOKUP_KEYS = 20


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream): adding a stream never
    shifts the draws of another."""
    return np.random.default_rng([seed, *stream.encode()])


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


# -- corpus ------------------------------------------------------------------

def corpus(seed: int) -> pd.DataFrame:
    """N_DOCS documents of 10-100 words over the testdata vocabulary. About
    12% are near copies of an earlier document (a tenth of the words
    replaced), 2% exact copies, and 5% carry a shared boilerplate footer."""
    r = rng_for(seed, "corpus")
    texts: "list[str]" = []
    for i in range(N_DOCS):
        u = r.random()
        if i > 10 and u < 0.02:
            texts.append(texts[int(r.integers(0, i))])
            continue
        if i > 10 and u < 0.14:
            words = texts[int(r.integers(0, i))].split()
            for j in r.choice(len(words), max(1, len(words) // 10), replace=False):
                words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            n = int(r.integers(10, 101))
            words = [VOCAB[int(j)] for j in r.integers(0, len(VOCAB), n)]
        text = " ".join(words)
        if r.random() < 0.05:
            text = f"{text} {BOILERPLATE}"
        texts.append(text)
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": r.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def corpus_samples(seed: int, n: int) -> "list[pd.DataFrame]":
    """``n`` independent SAMPLE_FRACTION samples of the corpus, one per
    curation pass, each sorted by doc_id."""
    docs = corpus(seed)
    r = rng_for(seed, "samples")
    k = int(round(len(docs) * SAMPLE_FRACTION))
    return [docs.iloc[np.sort(r.choice(len(docs), k, replace=False))]
            .reset_index(drop=True) for _ in range(n)]


# -- CDC ---------------------------------------------------------------------

CDC_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


def cdc_orders(seed: int) -> pd.DataFrame:
    r = rng_for(seed, "cdc-orders")
    return pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": r.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": r.choice(STATUSES, N_ORDERS),
        "o_totalprice": np.round(r.uniform(1000, 500000, N_ORDERS), 2),
    })


def cdc_seed_rows(orders: pd.DataFrame) -> pd.DataFrame:
    return orders[orders["o_orderkey"] % 8 != 0].reset_index(drop=True)


class _KeyPool:
    """A set of keys with O(1) seeded random draws and removals."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: j for j, k in enumerate(self.keys)}

    def __len__(self) -> int:
        return len(self.keys)

    def add(self, k: int) -> None:
        if k not in self.pos:
            self.pos[k] = len(self.keys)
            self.keys.append(k)

    def remove(self, k: int) -> None:
        j = self.pos.pop(k)
        last = self.keys.pop()
        if last != k:
            self.keys[j] = last
            self.pos[last] = j

    def draw(self, rng: np.random.Generator, n: int) -> "list[int]":
        """``n`` distinct keys, removed from the pool."""
        out = []
        for _ in range(n):
            k = self.keys[int(rng.integers(0, len(self.keys)))]
            self.remove(k)
            out.append(k)
        return out


class ChangeStream:
    """Generates change batches against a running model of the table, so
    updates and deletes hit live keys and inserts hit absent ones.

    Batch ``i`` carries seq ``2i + 1``; a REPEAT_SHARE of its updated keys
    carry a second update at seq ``2i + 2``, so last-op-wins by seq is
    exercised inside a batch. Batches are pandas frames with the table's
    columns plus ``seq`` and ``op``."""

    def __init__(self, seed: int, seed_rows: pd.DataFrame, stream: str):
        self.rng = rng_for(seed, stream)
        live = seed_rows["o_orderkey"].to_numpy()
        self.live = _KeyPool(int(k) for k in live)
        self.absent = _KeyPool(int(k) for k in
                               np.setdiff1d(np.arange(N_ORDERS), live))
        self.next_new = N_ORDERS
        self.batches = 0

    def next_batch(self, rows: int = CHANGE_ROWS) -> pd.DataFrame:
        seq = 2 * self.batches + 1
        self.batches += 1
        n_upd = int(rows * CHANGE_MIX["update"])
        n_del = int(rows * CHANGE_MIX["delete"])
        n_rep = int(n_upd * REPEAT_SHARE)
        n_ins = rows - n_upd - n_del - n_rep
        upd = self.live.draw(self.rng, n_upd)
        dele = self.live.draw(self.rng, n_del)
        ins = self.absent.draw(self.rng, min(n_ins // 2, len(self.absent)))
        n_fresh = n_ins - len(ins)
        ins += list(range(self.next_new, self.next_new + n_fresh))
        self.next_new += n_fresh
        keys = upd + upd[:n_rep] + dele + ins
        n = len(keys)
        r = self.rng
        batch = pd.DataFrame({
            "o_orderkey": np.array(keys, dtype=np.int64),
            "o_custkey": r.integers(0, N_CUSTOMERS, n).astype(np.int64),
            "o_orderstatus": r.choice(STATUSES, n),
            "o_totalprice": np.round(r.uniform(1000, 500000, n), 2),
            "seq": np.array([seq] * n_upd + [seq + 1] * n_rep
                            + [seq] * (n_del + len(ins)), dtype=np.int64),
            "op": ["update"] * (n_upd + n_rep) + ["delete"] * n_del
                  + ["insert"] * len(ins),
        })
        for k in upd + ins:
            self.live.add(k)
        for k in dele:
            self.absent.add(k)
        return batch


def lookup_draw(rng: np.random.Generator, batch: pd.DataFrame,
                n: int = LOOKUP_KEYS) -> "list[int]":
    """Read-your-writes probe: ``n`` distinct keys of ``batch``."""
    keys = batch["o_orderkey"].unique()
    return sorted(int(k) for k in rng.choice(keys, n, replace=False))
