"""Each checker accepts the true output and rejects a planted wrong row.

Run with ``python3 -m pytest perfbench/test_oracles.py``; no Spark needed.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import oracles  # noqa: E402

import __spark_entry__ as lanes  # noqa: E402


@pytest.fixture(scope="module")
def curation():
    oracle = oracles.CurationOracle(lanes._sql_curation_pipeline())
    sample = inputs.corpus_samples(7, 1)[0]
    yield oracle, sample, oracle.expected(sample)
    oracle.close()


def test_curation_accepts_true_output(curation):
    oracle, sample, rows = curation
    assert rows and oracle.check(sample, rows) == []


def test_curation_rejects_wrong_row(curation):
    oracle, sample, rows = curation
    r = rows[0]
    bad = [(r[0], r[1], r[2], r[3] + 1, *r[4:])] + rows[1:]
    assert oracle.check(sample, bad)
    assert oracle.check(sample, rows[1:])


def _cdc_model():
    seed_rows = inputs.cdc_seed_rows(inputs.cdc_orders(7))
    stream = inputs.ChangeStream(7, seed_rows, "changes")
    model = oracles.DictModel(seed_rows)
    batch = stream.next_batch()
    model.apply(batch)
    return model, batch


def test_cdc_model_last_op_wins_by_seq():
    model = oracles.DictModel(pd.DataFrame(
        {"o_orderkey": [1, 2], "o_custkey": [10, 20], "o_orderstatus": ["F", "O"],
         "o_totalprice": [1.0, 2.0]}))
    model.apply(pd.DataFrame(
        {"o_orderkey": [1, 1, 2, 3], "o_custkey": [12, 11, 0, 30],
         "o_orderstatus": ["P", "O", "F", "F"], "o_totalprice": [3.0, 4.0, 0.0, 5.0],
         "seq": [3, 2, 2, 2], "op": ["update", "update", "delete", "insert"]}))
    assert model.lookup([1, 2, 3]) == [(1, 12, "P", 3.0), (3, 30, "F", 5.0)]


def test_cdc_lookup_rejects_wrong_row():
    model, batch = _cdc_model()
    keys = inputs.lookup_draw(inputs.rng_for(7, "lookups"), batch)
    want = model.lookup(keys)
    assert oracles.check_lookup(want, list(want)) == []
    k, c, s, p = want[0]
    assert oracles.check_lookup(want, [(k, c, s, p + 1.0)] + want[1:])
    assert oracles.check_lookup(want, want[1:])


def test_cdc_checksum_rejects_wrong_row():
    model, _ = _cdc_model()
    want = model.checksum()
    assert oracles.check_checksum(want, want) == []
    k = next(iter(model.rows))
    c, s, p = model.rows[k]
    model.rows[k] = (c, s, p + 0.01)
    assert oracles.check_checksum(want, model.checksum())
