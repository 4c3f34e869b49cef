"""Output checks: right outputs pass, corrupted ones are counted as
failed operations and never raise."""

import numpy as np
import pandas as pd

from perfbench import checks, inputs
from perfbench.spans import Tracer
from perfbench.workloads import Ctx, tail


def _ctx() -> Ctx:
    return Ctx(spark=None, seed=0, work="", tracer=Tracer(enabled=False))


def test_rows_match_tolerates_float_noise_and_order():
    cols = ["a", "b"]
    exp = [("x", 1.0), ("y", 2.5)]
    got = [(2.5 * (1 + 1e-12), "y"), (1.0, "x")]
    assert checks.rows_match(["b", "a"], got, cols, exp)
    # low bits that order two near-equal rows differently on each side
    exp = [(1.0, "a"), (1.0 + 1e-12, "b")]
    got = [(1.0 + 2e-12, "a"), (1.0, "b")]
    assert checks.rows_match(["x", "y"], got, ["x", "y"], exp)


def test_rows_match_rejects_corruption():
    cols = ["a", "b"]
    exp = [("x", 1.0), ("y", 2.5)]
    assert not checks.rows_match(cols, [("x", 1.0), ("y", 2.6)], cols, exp)
    assert not checks.rows_match(cols, [("x", 1.0)], cols, exp)
    assert not checks.rows_match(["a", "c"], exp, cols, exp)


def test_corrupted_result_is_counted_as_failed():
    ctx = _ctx()
    cols = ["k", "v"]
    exp = [(1, 10.0), (2, 20.0)]
    good = ctx.run("q", "queries.q", lambda: list(exp),
                   lambda rows: checks.rows_match(cols, rows, cols, exp), 0)
    bad = ctx.run("q", "queries.q", lambda: [(1, 10.0), (2, 21.0)],
                  lambda rows: checks.rows_match(cols, rows, cols, exp), 0)
    assert good == exp and bad == [(1, 10.0), (2, 21.0)]
    assert [o.ok for o in ctx.ops] == [True, False]


def test_raising_call_or_check_is_counted_not_raised():
    ctx = _ctx()

    def boom():
        raise RuntimeError("engine failure")

    ctx.run("op", "operators.x.op", boom, None, 0)
    ctx.run("op", "operators.x.op", lambda: 1, lambda _: 1 / 0, 0)
    ctx.run("op", "operators.x.op", lambda: 1, None, 0)
    assert [o.ok for o in ctx.ops] == [False, False, True]


def test_run_counts_bytes_written(tmp_path):
    ctx = _ctx()
    (tmp_path / "old").write_bytes(b"x" * 10)

    def write():
        (tmp_path / "new").write_bytes(b"y" * 7)
        (tmp_path / "old").write_bytes(b"x" * 12)

    ctx.run("w", "operators.x.w", write, None, 0, writes=str(tmp_path))
    assert ctx.ops[0].bytes_written == 19


def test_tail_has_ten_samples_beyond():
    assert tail(list(range(10))) is None
    t = tail([float(v) for v in range(20, 0, -1)])
    assert t == {"value": 10.0, "percentile": 50.0, "samples": 20}


def test_cdc_fold_follows_batches():
    base = inputs.cdc_base(1, 100)
    fold = checks.CdcFold(base)
    b = inputs.cdc_batch(1, 0, 100, 20)
    fold.apply(b)
    state = {r[0]: r for r in fold.rows()}
    for row in b.itertuples(index=False):
        if row.op == "D":
            assert row.k not in state
        else:
            assert state[row.k][1:] == (row.status, row.price, row.prio,
                                        row.seq)
    assert len(state) == 100 - 3 + 3
    agg = fold.aggregate("status", "price")
    assert sum(n for _, n, _, _ in agg) == len(state)


def test_cdc_lookup_with_stale_row_fails():
    base = inputs.cdc_base(1, 50)
    fold = checks.CdcFold(base)
    b = inputs.cdc_batch(1, 0, 50, 10)
    fold.apply(b)
    keys = sorted(set(b.loc[b["op"] == "U", "k"]) & {*range(50)})[:3]
    cols = fold.columns()
    stale = checks.CdcFold(base).rows(keys)
    assert not checks.rows_match(cols, stale, cols, fold.rows(keys))


def test_topk_valid_and_recall():
    corpus = np.random.default_rng(0).normal(size=(50, 4))
    q = corpus[:3] + 0.01
    truth = checks.exact_topk(corpus, q, 5)
    ids = np.arange(100, 150)
    rows = [(qi, int(ids[j])) for qi in range(3) for j in truth[qi]]
    known = set(ids.tolist())
    assert checks.topk_valid(rows, range(3), 5, known)
    assert checks.recall(rows, truth, ids) == 1.0
    assert truth[0][0] == 0
    # a missing row, a duplicate id and an id outside the corpus all fail
    assert not checks.topk_valid(rows[:-1], range(3), 5, known)
    assert not checks.topk_valid(rows[:-1] + [rows[-2]], range(3), 5, known)
    assert not checks.topk_valid(rows[:-1] + [(2, 999)], range(3), 5, known)
    assert checks.recall(rows[:-1] + [(2, 999)], truth, ids) < 1.0


def test_fold_matches_pandas_reference():
    base = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"],
                         "_cdc_seq": [0, 0, 0]})
    fold = checks.CdcFold(base)
    fold.apply(pd.DataFrame({"k": [2, 3, 4, 3], "v": ["B", None, "D", "C"],
                             "op": ["U", "D", "U", "U"],
                             "seq": [1, 2, 3, 4]}))
    assert sorted(fold.rows()) == [(1, "a", 0), (2, "B", 1), (3, "C", 4),
                                   (4, "D", 3)]
