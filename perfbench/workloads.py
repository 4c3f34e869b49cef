"""The three workloads. Each one builds its state in ``setup`` (timed as
part of ``setup_s``) and then runs passes of a fixed operation mix.

Every engine call is timed on its own with ``time.perf_counter``, from
the call to the last result row on the driver. Input frames are built
before the clock starts, and every output check runs after it stops. A
check that fails, or a call that raises, counts as a failed operation;
the pass goes on.

Each workload declares ``mix`` (operations of each kind per pass),
``cycle`` (the passes of one whole mix cycle, in which every kind runs)
and ``passes`` (the least number of timed passes a run makes: enough
samples per kind for steady medians, within the time the runs may take),
and returns its own figures from ``finish``.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, inputs
from .spans import Tracer, bytes_created, dir_bytes


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    pass_no: int  # -1 during set-up warm-up
    traced: bool
    bytes_written: int = 0


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: Tracer
    ops: list = field(default_factory=list)

    def run(self, kind: str, span: str, call, check, pass_no: int,
            writes: str | None = None):
        """Time ``call()`` inside a leaf span named ``span``, then pass its
        result to ``check`` (``None``: not raising is success). The bytes
        created or rewritten under directory ``writes`` are counted by
        listing it before and after the call, outside the clock."""
        before = dir_bytes([writes]) if writes else None
        op = Op(kind, 0.0, False, pass_no, self.tracer.enabled)
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, leaf=True) as sp:
                t0 = time.perf_counter()
                out = call()
                op.seconds = time.perf_counter() - t0
        except Exception:
            op.seconds = time.perf_counter() - t0
            traceback.print_exc()
            return None
        if writes:
            op.bytes_written = bytes_created(before, dir_bytes([writes]))
            if sp is not None:
                sp.bytes_written = op.bytes_written
        try:
            op.ok = check is None or bool(check(out))
        except Exception:
            traceback.print_exc()
        return out


def latencies(ops, traced: bool | None = None) -> dict[str, list[float]]:
    """Timed latencies per operation kind (set-up warm-up excluded);
    ``traced`` keeps only traced or only untraced passes."""
    lat: dict[str, list[float]] = {}
    for o in ops:
        if o.pass_no >= 0 and traced in (None, o.traced):
            lat.setdefault(o.kind, []).append(o.seconds)
    return lat


def p50(lat: dict, *kinds: str) -> float | None:
    v = [x for k in kinds for x in lat.get(k, [])]
    return statistics.median(v) if v else None


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it, with
    its percentile and sample count; ``None`` below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    return {"value": sorted(values)[n - 11],
            "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------- olap_scan

class OlapScan:
    """Eleven read-only registered queries over generated TPC-H-shaped
    tables, in a seed-permuted order per pass."""

    scale = 0.02
    cycle = 1
    passes = 3
    mix = {q: 1 for q in inputs.OLAP_QUERIES}

    def setup(self, ctx: Ctx) -> None:
        import duckdb

        from bodo_spark.queries import all_queries

        self.data = os.path.join(ctx.work, "tables")
        tables = inputs.tpch_tables(ctx.seed, self.scale)
        inputs.write_tables(tables, self.data)
        registry = all_queries()
        self.queries = {n: registry[n] for n in inputs.OLAP_QUERIES}
        con = duckdb.connect()
        try:
            for t in tables:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.expected = {}
            for n, qd in self.queries.items():
                cur = con.execute(qd.oracle)
                self.expected[n] = ([d[0] for d in cur.description],
                                    cur.fetchall())
        finally:
            con.close()
        self.orders = 0
        self.run_pass(ctx, -1)  # warm-up

    def run_pass(self, ctx: Ctx, pass_no: int) -> None:
        order = inputs.query_order(ctx.seed, self.orders)
        self.orders += 1
        for name in order:
            def call(qd=self.queries[name]):
                with ctx.tracer.span("plan", leaf=True):
                    df = qd.fn(ctx.spark, self.data)
                with ctx.tracer.span("collect", leaf=True):
                    return df.columns, _rows(df)

            ctx.run(name, f"queries.{name}", call,
                    lambda out, name=name: checks.rows_match(
                        *out, *self.expected[name]), pass_no)

    def finish(self, ctx: Ctx) -> dict:
        lat = latencies(ctx.ops)
        return {f"{k}_p50_s": p50(lat, k) for k in sorted(lat)}


# ------------------------------------------------------------ lakehouse_cdc

_CDC_SCHEMA = ("k long, status string, price double, prio string, "
               "op string, seq long")


class LakehouseCdc:
    """A seeded CDC stream applied to a key-bucketed merge-on-read table
    and, by MERGE, to a bucket-partitioned copy-on-write copy of the same
    orders-derived table; point lookups and scans read it back."""

    n_keys = 50_000
    n_buckets = 32
    batch_rows = 300
    lookup_keys = 20
    compact_every = 2
    cycle = compact_every
    passes = 4
    mix = {"mor_apply": 2, "merge_into_partitioned": 1, "mor_lookup": 1,
           "mor_read": 1, "mor_compact": 1 / compact_every}

    def setup(self, ctx: Ctx) -> None:
        from bodo_spark.operators import merge, mor

        self.mor_path = os.path.join(ctx.work, "mor")
        self.cow_path = os.path.join(ctx.work, "cow")
        base = inputs.cdc_base(ctx.seed, self.n_keys)
        self.fold = checks.CdcFold(base)
        src = os.path.join(ctx.work, "cdc_base.parquet")
        pq.write_table(pa.Table.from_pandas(base, preserve_index=False), src)
        df = ctx.spark.read.parquet(src)
        with ctx.tracer.span("operators.mor.mor_init", leaf=True):
            mor.mor_init(df, self.mor_path, key_cols=["k"],
                         n_buckets=self.n_buckets)
        with ctx.tracer.span("operators.merge.write_bucket_partitioned",
                             leaf=True):
            merge.write_bucket_partitioned(df, self.cow_path, ["k"],
                                           self.n_buckets)
        self.batches = 0
        self.change_bytes = 0
        self.run_pass(ctx, -1, compact=True)  # warm-up

    def _batch(self, ctx: Ctx) -> pd.DataFrame:
        b = inputs.cdc_batch(ctx.seed, self.batches, self.n_keys,
                             self.batch_rows)
        self.batches += 1
        self.change_bytes += pa.Table.from_pandas(
            b, preserve_index=False).nbytes
        return b

    def run_pass(self, ctx: Ctx, pass_no: int, compact: bool | None = None
                 ) -> None:
        from pyspark.sql import functions as F

        from bodo_spark.operators import merge, mor

        spark = ctx.spark
        applied = []
        for _ in range(2):
            b = self._batch(ctx)
            changes = spark.createDataFrame(b, _CDC_SCHEMA)

            def check(seg, b=b):
                self.fold.apply(b)
                return os.path.isdir(seg)

            ctx.run("mor_apply", "operators.mor.mor_apply",
                    lambda c=changes: mor.mor_apply(c, self.mor_path,
                                                    key_cols=["k"]),
                    check, pass_no, writes=self.mor_path)
            applied.append(b)

        last = (pd.concat(applied).sort_values("seq")
                .drop_duplicates("k", keep="last"))
        source = spark.createDataFrame(last, _CDC_SCHEMA)
        upd = {c: F.col(f"src_{c}") for c in ("status", "price", "prio")}
        ctx.run("merge_into_partitioned",
                "operators.merge.merge_into_partitioned",
                lambda: merge.merge_into_partitioned(
                    spark, self.cow_path, source, ["k"],
                    n_buckets=self.n_buckets,
                    when_matched_update={**upd,
                                         "_cdc_seq": F.col("src_seq")},
                    when_matched_delete=F.col("src_op") == "D",
                    when_not_matched_insert={
                        "k": F.col("src_k"), **upd,
                        "_cdc_seq": F.col("src_seq")},
                    when_not_matched_insert_condition=(
                        F.col("src_op") != "D")),
                lambda touched: len(touched) >= 1, pass_no,
                writes=self.cow_path)

        keys = inputs.lookup_keys(ctx.seed, self.batches, self.n_keys,
                                  self.batches * self.batch_rows,
                                  self.lookup_keys)
        cols = self.fold.columns()
        ctx.run("mor_lookup", "operators.mor.mor_lookup",
                lambda: _rows(mor.mor_lookup(spark, self.mor_path, keys,
                                             key_cols=["k"])
                              .select(*cols)),
                lambda rows: checks.rows_match(cols, rows, cols,
                                               self.fold.rows(keys)),
                pass_no)

        agg_cols = ["status", "n", "total", "max_seq"]
        ctx.run("mor_read", "operators.mor.mor_read",
                lambda: _rows(mor.mor_read(spark, self.mor_path,
                                           key_cols=["k"])
                              .groupBy("status")
                              .agg(F.count(F.lit(1)).alias("n"),
                                   F.sum("price").alias("total"),
                                   F.max("_cdc_seq").alias("max_seq"))),
                lambda rows: checks.rows_match(
                    agg_cols, rows, agg_cols,
                    self.fold.aggregate("status", "price")),
                pass_no)

        if compact is None:
            compact = pass_no % self.compact_every == self.compact_every - 1
        if compact:
            ctx.run("mor_compact", "operators.mor.mor_compact",
                    lambda: mor.mor_compact(spark, self.mor_path,
                                            key_cols=["k"]),
                    lambda _: mor.mor_delta_stats(
                        spark, self.mor_path)["n_segments"] == 0,
                    pass_no, writes=self.mor_path)

    def finish(self, ctx: Ctx) -> dict:
        """Checks the final copy-on-write table against the fold (one
        more counted operation), and returns the workload's figures."""
        tab = pq.read_table(self.cow_path).to_pandas()
        cols = self.fold.columns()
        ok = checks.rows_match(cols, list(tab[cols].itertuples(
            index=False, name=None)), cols, self.fold.rows())
        ctx.ops.append(Op("cow_final", 0.0, ok, -2, False))
        lat = latencies(ctx.ops)
        return {"commit_p50_s": p50(lat, "mor_apply"),
                "commit_tail_s": tail(lat.get("mor_apply", [])),
                "merge_p50_s": p50(lat, "merge_into_partitioned"),
                "lookup_p50_s": p50(lat, "mor_lookup"),
                "scan_p50_s": p50(lat, "mor_read"),
                "compact_p50_s": p50(lat, "mor_compact"),
                "write_amp": sum(o.bytes_written for o in ctx.ops)
                / self.change_bytes}


# ----------------------------------------------------------- vector_serving

class VectorServing:
    """Stored IVF-SQ8 and IVF-PQ indexes over a generated clustered
    corpus, served with seeded query batches; every few passes a seeded
    batch of new vectors is appended to both stores."""

    n_vectors = 4_000
    dim = 64
    n_cells = 32
    sq_batch = 16
    pq_batch = 1
    k = 10
    n_probe = 4
    append_rows = 256
    append_every = 2
    cycle = append_every
    passes = 2
    mix = {"sq_serve": 1, "pq_serve": 1, "sq_append": 1 / append_every,
           "pq_append": 1 / append_every}

    def _frame(self, ctx: Ctx, ids: np.ndarray, vecs: np.ndarray, name: str):
        """Writes vectors as parquet under the work dir and reads them
        back as the engine's input frame."""
        vecs = np.ascontiguousarray(vecs, dtype=np.float32)
        offsets = pa.array(np.arange(len(vecs) + 1, dtype=np.int32)
                           * vecs.shape[1])
        emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.ravel()))
        path = os.path.join(ctx.work, f"{name}.parquet")
        pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                                 "embedding": emb}), path)
        return ctx.spark.read.parquet(path)

    def setup(self, ctx: Ctx) -> None:
        from bodo_spark.operators import pq as P
        from bodo_spark.operators import sq as S

        self.vectors, self.centres = inputs.corpus(
            ctx.seed, self.n_vectors, self.dim, self.n_cells)
        self.ids = np.arange(self.n_vectors, dtype=np.int64)
        emb = self._frame(ctx, self.ids, self.vectors, "corpus")
        self.sq_path = os.path.join(ctx.work, "sq_store")
        self.pq_path = os.path.join(ctx.work, "pq_store")
        with ctx.tracer.span("operators.sq.sq_train", leaf=True):
            los, his = S.sq_train(emb)
        with ctx.tracer.span("operators.sq.sq_store_index", leaf=True):
            S.sq_store_index(S.ivf_sq_index(emb, los, his,
                                            n_cells=self.n_cells),
                             self.sq_path, los, his,
                             n_cells=self.n_cells, seed_vectors=emb)
        with ctx.tracer.span("operators.pq.train_pq_codebooks", leaf=True):
            books = P.train_pq_codebooks(emb)
        with ctx.tracer.span("operators.pq.pq_store_index", leaf=True):
            P.pq_store_index(P.ivf_pq_index(emb, books,
                                            n_cells=self.n_cells),
                             self.pq_path, books,
                             n_cells=self.n_cells, seed_vectors=emb)
        self.queries = 0
        self.appends = 0
        self.recalls = {"sq": [], "pq": []}
        self.run_pass(ctx, -1, append=True)  # warm-up

    def _serve(self, ctx: Ctx, kind: str, fn, path: str, count: int,
               pass_no: int) -> None:
        q = inputs.query_vectors(ctx.seed, self.queries, self.vectors,
                                 count)
        self.queries += 1
        qdf = ctx.spark.createDataFrame(
            pd.DataFrame({"q_id": np.arange(count, dtype=np.int64),
                          "q_vec": list(q.astype(np.float64))}),
            "q_id long, q_vec array<double>")
        known = set(self.ids.tolist())

        def check(rows):
            truth = checks.exact_topk(self.vectors, q, self.k)
            self.recalls[kind].append(checks.recall(rows, truth, self.ids))
            return checks.topk_valid(rows, range(count), self.k, known)

        ctx.run(f"{kind}_serve", f"operators.{kind}.{kind}_stored_topk",
                lambda: _rows(fn(ctx.spark, path, qdf, k=self.k,
                                 n_probe=self.n_probe)
                              .select("q_id", "vec_id")),
                check, pass_no)

    def run_pass(self, ctx: Ctx, pass_no: int, append: bool | None = None
                 ) -> None:
        from bodo_spark.operators import pq as P
        from bodo_spark.operators import sq as S

        self._serve(ctx, "sq", S.sq_stored_topk, self.sq_path,
                    self.sq_batch, pass_no)
        self._serve(ctx, "pq", P.pq_stored_topk, self.pq_path,
                    self.pq_batch, pass_no)
        if append is None:
            append = pass_no % self.append_every == self.append_every - 1
        if not append:
            return
        new = inputs.append_vectors(ctx.seed, self.appends, self.centres,
                                    self.append_rows)
        ids = self.n_vectors + self.appends * self.append_rows + np.arange(
            self.append_rows, dtype=np.int64)
        self.appends += 1
        batch = self._frame(ctx, ids, new, f"append-{self.appends}")
        for kind, fn, path in (("sq", S.sq_stored_append, self.sq_path),
                               ("pq", P.pq_stored_append, self.pq_path)):
            ctx.run(f"{kind}_append", f"operators.{kind}.{kind}_stored_append",
                    lambda fn=fn, path=path: fn(batch, path), None, pass_no,
                    writes=path)
        self.vectors = np.concatenate([self.vectors, new])
        self.ids = np.concatenate([self.ids, ids])

    def finish(self, ctx: Ctx) -> dict:
        lat = latencies(ctx.ops)
        sq, pq_ = (float(np.mean(self.recalls[k])) for k in ("sq", "pq"))
        return {"sq_serve_p50_s": p50(lat, "sq_serve"),
                "sq_serve_tail_s": tail(lat.get("sq_serve", [])),
                "pq_serve_p50_s": p50(lat, "pq_serve"),
                "append_p50_s": p50(lat, "sq_append", "pq_append"),
                "recall_at_10": (sq + pq_) / 2, "sq_recall_at_10": sq,
                "pq_recall_at_10": pq_}


WORKLOADS = {"olap_scan": OlapScan, "lakehouse_cdc": LakehouseCdc,
             "vector_serving": VectorServing}
