"""Output checks. Each returns ``True`` when the engine's output is right;
none of them raises on a wrong output. The workloads run them outside
the timed region and count a ``False`` as a failed operation.

The benchmark runs the engine in fast mode (plain double arithmetic), so
float cells are compared with a relative tolerance, not bit for bit.
"""

from __future__ import annotations

import math
from decimal import Decimal

import numpy as np
import pandas as pd

REL_TOL = 1e-6
ABS_TOL = 1e-6


def _num(v):
    if isinstance(v, (np.generic,)):
        v = v.item()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _raw_key(row: tuple) -> tuple:
    """Sort key on the values themselves: fast, but float low bits can
    order two near-equal rows differently on the two sides."""
    return tuple((0, 0) if v is None
                 else (1, v) if isinstance(v, (int, float))
                 else (2, v) if isinstance(v, str)
                 else (3, repr(v)) for v in row)


def _key(row: tuple) -> tuple:
    """Sort key that does not depend on float low bits."""
    return tuple(("~", f"{v:.6g}") if isinstance(v, float)
                 else ("", repr(v)) for v in row)


def _cell_eq(a, b) -> bool:
    a, b = _num(a), _num(b)
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def rows_match(cols: list, rows: list, exp_cols: list,
               exp_rows: list) -> bool:
    """Order-insensitive comparison of two result sets with the same
    column names, floats within the fast-mode tolerance. Rows are paired
    by sorting both sides on their values; when that pairing fails, on
    values with floats rounded to six digits, which low bits cannot
    reorder."""
    if sorted(cols) != sorted(exp_cols) or len(rows) != len(exp_rows):
        return False
    order = sorted(cols)
    pos = [cols.index(c) for c in order]
    epos = [exp_cols.index(c) for c in order]
    a = [tuple(_num(r[i]) for i in pos) for r in rows]
    b = [tuple(_num(r[i]) for i in epos) for r in exp_rows]
    return any(all(len(x) == len(y) and all(map(_cell_eq, x, y))
                   for x, y in zip(sorted(a, key=key), sorted(b, key=key)))
               for key in (_raw_key, _key))


# ------------------------------------------------------------ lakehouse_cdc

class CdcFold:
    """The table state a CDC stream should produce, folded in pandas:
    a delete drops the key, an upsert sets the row. Column names are the
    ones ``inputs.cdc_base`` and ``inputs.cdc_batch`` produce."""

    key = "k"
    seq_col = "_cdc_seq"  # table column: seq of the change that set the row
    op_col = "op"  # batch column: 'U' or 'D'
    src_seq_col = "seq"  # batch column: the change's seq

    def __init__(self, base: pd.DataFrame):
        self.payload = [c for c in base.columns
                        if c not in (self.key, self.seq_col)]
        self.state = base.set_index(self.key)[
            self.payload + [self.seq_col]].copy()

    def apply(self, batch: pd.DataFrame) -> None:
        last = (batch.sort_values(self.src_seq_col)
                .drop_duplicates(self.key, keep="last"))
        dead = last.loc[last[self.op_col] == "D", self.key]
        self.state = self.state.drop(index=dead, errors="ignore")
        up = last[last[self.op_col] == "U"].set_index(self.key)
        up = up[self.payload + [self.src_seq_col]].rename(
            columns={self.src_seq_col: self.seq_col})
        self.state = pd.concat(
            [self.state.drop(index=up.index, errors="ignore"), up])

    def rows(self, keys=None) -> list[tuple]:
        st = self.state if keys is None else self.state[
            self.state.index.isin(keys)]
        st = st.reset_index()
        return list(st[[self.key, *self.payload, self.seq_col]]
                    .itertuples(index=False, name=None))

    def columns(self) -> list[str]:
        return [self.key, *self.payload, self.seq_col]

    def aggregate(self, by: str, value: str) -> list[tuple]:
        """``(by, n_rows, sum(value), max(seq))`` per group."""
        g = self.state.groupby(by).agg(
            n=(value, "size"), total=(value, "sum"),
            max_seq=(self.seq_col, "max")).reset_index()
        return list(g.itertuples(index=False, name=None))


# ----------------------------------------------------------- vector_serving

def topk_valid(rows: list[tuple], query_ids, k: int, corpus_ids) -> bool:
    """``rows`` are ``(q_id, vec_id)`` pairs: every query has exactly
    ``k`` distinct ids, all present in the corpus."""
    per: dict = {}
    for q, v in rows:
        per.setdefault(q, []).append(v)
    if set(per) != set(query_ids):
        return False
    return all(len(ids) == k and len(set(ids)) == k
               and all(int(i) in corpus_ids for i in ids)
               for ids in per.values())


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int
               ) -> np.ndarray:
    """Row indices of the ``k`` nearest corpus rows (L2) per query."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    d = (c * c).sum(1)[None, :] - 2.0 * q @ c.T
    part = np.argpartition(d, k, axis=1)[:, :k]
    order = np.take_along_axis(d, part, 1).argsort(1)
    return np.take_along_axis(part, order, 1)


def recall(rows: list[tuple], truth: np.ndarray, ids: np.ndarray) -> float:
    """Mean recall@k of ``(q_id, vec_id)`` rows against exact top-k row
    indices ``truth``; ``ids`` maps a corpus row to its ``vec_id``."""
    per: dict = {}
    for q, v in rows:
        per.setdefault(int(q), set()).add(int(v))
    k = truth.shape[1]
    hits = [len(per.get(qi, set()) & {int(ids[j]) for j in truth[qi]}) / k
            for qi in range(len(truth))]
    return float(np.mean(hits))
