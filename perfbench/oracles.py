"""Independent checks of every operation's output.

Nothing here runs Spark or the library's operators: the curation output
is replayed in DuckDB (the repository's ``curation_pipeline`` oracle SQL
over the pass's sample), and the CDC table is mirrored by a plain dict.
Each check returns a list of error strings; an empty list means the output
passed.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pandas as pd


def _multiset_diff(got, want, label: str, limit: int = 3) -> "list[str]":
    g, w = Counter(map(tuple, got)), Counter(map(tuple, want))
    if g == w:
        return []
    extra, missing = list((g - w).elements()), list((w - g).elements())
    return [f"{label}: {len(got)} rows vs {len(want)} expected; "
            f"unexpected {extra[:limit]} missing {missing[:limit]}"]


# -- curation --------------------------------------------------------------------

class CurationOracle:
    """DuckDB replay of the curation_pipeline oracle SQL over one pass's
    sample."""

    def __init__(self, pipeline_sql: str):
        self.con = duckdb.connect()
        self.sql = pipeline_sql

    def close(self) -> None:
        self.con.close()

    def expected(self, sample: pd.DataFrame) -> "list[tuple]":
        self.con.register("documents", sample)
        return [tuple(r) for r in self.con.execute(self.sql).fetchall()]

    def check(self, sample: pd.DataFrame, rows: "list[tuple]") -> "list[str]":
        return _multiset_diff(rows, self.expected(sample), "curation_pipeline replay")


# -- CDC ---------------------------------------------------------------------------

class DictModel:
    """The CDC table as a dict: key -> (custkey, status, price). Changes
    apply last-op-wins by seq; a delete removes the key."""

    def __init__(self, seed_rows: pd.DataFrame):
        self.rows = {int(k): (int(c), s, float(p)) for k, c, s, p in
                     seed_rows[["o_orderkey", "o_custkey", "o_orderstatus",
                                "o_totalprice"]].itertuples(index=False)}

    def apply(self, batch: pd.DataFrame) -> None:
        for k, c, s, p, _seq, op in batch.sort_values("seq", kind="stable") \
                .itertuples(index=False):
            if op == "delete":
                self.rows.pop(int(k), None)
            else:
                self.rows[int(k)] = (int(c), s, float(p))

    def lookup(self, keys) -> "list[tuple]":
        return [(k, *self.rows[k]) for k in keys if k in self.rows]

    def checksum(self) -> "tuple[int, int, int, int]":
        """(rows, sum of keys, sum of key-mixed custkeys, sum of cents)."""
        n = len(self.rows)
        keys = sum(self.rows)
        cust = sum(c * (1 + k % 7) for k, (c, _s, _p) in self.rows.items())
        cents = sum(int(round(p * 100)) for _c, _s, p in self.rows.values())
        return n, keys, cust, cents


def check_lookup(expected: "list[tuple]", got: "list[tuple]") -> "list[str]":
    return _multiset_diff(got, expected, "lookup vs dict model")


def check_checksum(expected: tuple, got: tuple) -> "list[str]":
    if tuple(expected) == tuple(got):
        return []
    return [f"current() checksum {tuple(got)} != dict model {tuple(expected)}"]
