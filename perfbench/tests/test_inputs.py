"""The seed alone determines every generated input."""

import io

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs


def _parquet_bytes(tables) -> dict:
    out = {}
    for name, tab in tables.items():
        buf = io.BytesIO()
        pq.write_table(tab, buf)
        out[name] = buf.getvalue()
    return out


def _all_inputs(seed: int) -> dict:
    vecs, centres = inputs.corpus(seed, 500, 16, 8)
    return {
        "tables": _parquet_bytes(inputs.tpch_tables(seed, 0.001)),
        "order": [inputs.query_order(seed, p) for p in range(3)],
        "cdc_base": inputs.cdc_base(seed, 1_000).to_csv().encode(),
        "cdc": [inputs.cdc_batch(seed, b, 1_000, 50).to_csv().encode()
                for b in range(3)],
        "lookup": inputs.lookup_keys(seed, 0, 1_000, 150, 20),
        "corpus": vecs.tobytes(),
        "queries": inputs.query_vectors(seed, 0, vecs, 4).tobytes(),
        "append": inputs.append_vectors(seed, 0, centres, 32).tobytes(),
    }


def test_same_seed_gives_identical_inputs():
    assert _all_inputs(3) == _all_inputs(3)


def test_other_seed_changes_every_input():
    a, b = _all_inputs(3), _all_inputs(4)
    for key in a:
        assert a[key] != b[key], key


def test_query_order_is_a_permutation():
    for p in range(5):
        assert sorted(inputs.query_order(9, p)) == sorted(inputs.OLAP_QUERIES)


def test_cdc_batch_shares_and_fresh_insert_keys():
    b0 = inputs.cdc_batch(1, 0, 1_000, 100)
    b1 = inputs.cdc_batch(1, 1, 1_000, 100)
    assert b0["k"].is_unique and len(b0) == 100
    assert (b0["op"] == "D").sum() == 15
    inserted0 = set(b0.loc[b0["k"] >= 1_000, "k"])
    inserted1 = set(b1.loc[b1["k"] >= 1_000, "k"])
    assert len(inserted0) == 15 and not inserted0 & inserted1
    assert b1["seq"].min() > b0["seq"].max()


def test_corpus_low_ids_cover_every_cluster():
    vecs, centres = inputs.corpus(5, 400, 8, 6)
    nearest = ((vecs[:6, None, :] - centres[None]) ** 2).sum(-1).argmin(1)
    assert sorted(nearest) == list(range(6))
    assert vecs.dtype == np.float32
