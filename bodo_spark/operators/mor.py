"""Merge-on-read (MoR) table maintenance: the delta-log half of the
lakehouse MERGE design space.

The file-pruned COW merge (merge.merge_into_partitioned) bounds the
per-batch REWRITE by the touched partitions; this module removes the
rewrite entirely: each change batch is APPENDED as a delta segment
(write cost O(batch), full stop), readers reconcile base + deltas at
scan time (latest version per key wins, deletes drop the row), and a
compaction folds the accumulated deltas back into a fresh base when
read amplification crosses the budget. This is the Hudi MoR / Iceberg
v2 position-delete economics re-expressed over plain parquet
directories; the reference gets the equivalent from Iceberg
(bodo/io/iceberg/merge_into.py:33).

Layout under ``path``:
    base/                   the compacted table (payload + seq column;
                            hive-partitioned by a key-hash bucket when
                            initialized with ``n_buckets``)
    delta/d-<n>-*.parquet   one directory-free segment per batch,
                            rows = (keys, payload, seq, _op 'U'|'D');
                            ``<n>`` is a GLOBAL monotone segment number
    meta.json               {n_buckets, bucket_col, base_seg,
                            archived_bases} -- base_seg = how many
                            segments the current base has folded in
    archive/                (retain_history compactions only) hardlink
                            snapshots ``base-<g>`` of superseded bases
                            plus the consumed delta segments -- the
                            snapshot history that keeps as-of reads
                            valid ACROSS compactions

Reconcile semantics (mor_read): among a key's base row (op 'U') and
all its delta rows, the HIGHEST seq wins; ties break delete-first
('D' < 'U' -- the apply_cdc_stream delete-wins convention), and a
delta 'U' tied with the base row on seq loses to it; a winning 'D'
removes the key.

Read-path scale shape: between compactions the delta log is a small
fraction of the base, so the pruned reconcile never shuffles the base.
The delta log alone goes through the per-key window (a delta-sized
exchange) down to one winner per key, which is broadcast; ONE
full-width base scan joins it and keeps or swaps each row by a scalar
comparison. Delta-only inserts come from a second, keys-only base scan
semi-joined against the broadcast raw delta keys. The naive alternative
(union the full base and window every key) hash-shuffles 100% of the
base per read -- the read-side analogue of the full-COW rewrite;
``pruned=False`` keeps it for the degenerate delta-log-~=-base case
and for mor_lookup's key-filtered sliver, where both inputs are tiny.
Every step is built from SQL text (one py4j call per DataFrame step,
not one per Column node).

Write-path contract mirrors apply_cdc_stream: per-key seq must be
monotone across batches (a replayed batch re-appends rows, but
reconcile picks the same winners -- append + deterministic reconcile
is naturally idempotent for same-content replays at read time; the
mor gate pins a full replay).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..rowframe import data_files, table_reader, table_schema
from .similarity import sql_ident

__all__ = ["mor_init", "mor_apply", "mor_read", "mor_lookup",
           "mor_compact", "mor_maintain", "mor_delta_stats",
           "mor_changes", "mor_expire_snapshots",
           "apply_cdc_stream_mor"]

_OP = "_op"
_META = "meta.json"


def _read_meta(path: str) -> dict:
    p = os.path.join(path, _META)
    if os.path.exists(p):
        with open(p) as f:
            meta = json.load(f)
    else:
        meta = {}
    meta.setdefault("n_buckets", None)
    meta.setdefault("bucket_col", "mbucket")
    meta.setdefault("base_seg", 0)
    meta.setdefault("archived_bases", [])
    meta.setdefault("seq_col", "_cdc_seq")
    meta.setdefault("evolved", {})
    return meta


def _write_meta(path: str, meta: dict) -> None:
    tmp = os.path.join(path, f".{_META}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, _META))  # atomic on POSIX


def mor_init(df: DataFrame, path: str, *, seq_col: str = "_cdc_seq",
             mode: str = "errorifexists",
             key_cols: list[str] | None = None,
             n_buckets: int | None = None,
             bucket_col: str = "mbucket") -> None:
    """Initialize the MoR table: ``df`` (payload + ``seq_col``) becomes
    the base; the delta log starts empty.

    ``n_buckets`` (with ``key_cols``): store the base key-hash-bucket
    partitioned (merge.write_bucket_partitioned), so mor_compact folds
    deltas into ONLY the touched bucket directories -- compaction cost
    bound by the change mass, not the base size."""
    if seq_col not in df.columns:
        raise ValueError(f"df lacks seq column {seq_col!r}")
    clash = {c for c in df.columns} & {_OP, "_seq"}
    if clash:
        raise ValueError(f"columns {sorted(clash)} collide with the "
                         "MoR bookkeeping columns (_op, _seq) -- "
                         "rename them")
    if n_buckets is not None:
        if not key_cols:
            raise ValueError("n_buckets requires key_cols at init "
                             "(the bucket is a key hash)")
        from .merge import write_bucket_partitioned
        write_bucket_partitioned(df, os.path.join(path, "base"),
                                 list(key_cols), int(n_buckets),
                                 bucket_col=bucket_col, mode=mode)
    else:
        df.write.mode(mode).parquet(os.path.join(path, "base"))
    os.makedirs(os.path.join(path, "delta"), exist_ok=True)
    _write_meta(path, {"n_buckets": n_buckets, "bucket_col": bucket_col,
                       "base_seg": 0, "archived_bases": [],
                       "seq_col": seq_col, "evolved": {}})


def _delta_dirs(path: str, *, base_seg: int | None = None) -> list[str]:
    """LIVE delta segments: numbered at or above the base's fold point.
    Segments below ``base_seg`` are already folded into the base --
    they exist on disk only in the crash window between a compaction's
    meta commit and its segment removal (meta is written FIRST so that
    window is harmless: every reader filters them out here, and the
    next compaction sweeps them)."""
    if base_seg is None:
        base_seg = _read_meta(path)["base_seg"]
    return [s for s in
            sorted(glob.glob(os.path.join(path, "delta", "d-*")))
            if _seg_num(s) >= base_seg]


def _seg_num(seg_dir: str) -> int:
    return int(os.path.basename(seg_dir).split("-")[1])


def _next_seg_num(path: str, meta: dict) -> int:
    """Next GLOBAL segment number: one past everything ever written --
    live segments, stale folded leftovers, and archived segments alike
    -- floored at base_seg. Derived from the directory listing rather
    than counts so a crashed compaction (stale segments on disk) or a
    retained archive can never collide numbering."""
    nums = [_seg_num(s) for s in
            glob.glob(os.path.join(path, "delta", "d-*"))]
    nums += [_seg_num(s) for s in
             glob.glob(os.path.join(path, "archive", "delta", "d-*"))]
    return max([meta["base_seg"]] + [n + 1 for n in nums])


def _tree_bytes(*roots: str) -> int:
    """Driver-local on-disk size of parquet directory trees -- the
    cheap delta-mass statistic the self-defending read path keys its
    broadcast-vs-shuffle choice on (a filesystem stat walk; no Spark
    job, no data read)."""
    total = 0
    for root in roots:
        for r, _dirs, files in os.walk(root):
            for fn in files:
                try:
                    total += os.path.getsize(os.path.join(r, fn))
                except OSError:
                    pass
    return total


def _part_cols(meta: dict) -> dict | None:
    """The base's declared hive partition column: the int key-hash
    bucket of a bucketed table, none for a plain one."""
    from pyspark.sql.types import IntegerType
    if meta["n_buckets"] is None:
        return None
    return {meta["bucket_col"]: IntegerType()}


def _read_base(spark, base_path: str, meta: dict,
               touched: list | None = None) -> DataFrame:
    """Base reader with the footer-derived explicit schema
    (rowframe.table_reader: no inference job). ``touched`` (bucketed
    tables only): read ONLY those bucket directories as direct paths
    under basePath -- listing cost O(touched) instead of
    O(n_buckets), same rows as a partition-pruned full read
    (compaction's touched-slice path)."""
    reader = table_reader(spark, base_path, _part_cols(meta))
    if touched is not None and meta["n_buckets"] is not None:
        paths = [os.path.join(base_path,
                              f"{meta['bucket_col']}={int(t)}")
                 for t in touched]
        paths = [p for p in paths if os.path.isdir(p)]
        if paths:
            return reader.option("basePath", base_path).parquet(*paths)
        # nothing staged under the touched values yet: empty slice
        return (reader.parquet(base_path)
                .where(F.lit(False)))
    return reader.parquet(base_path)


def _base_fields(spark, path: str, meta: dict) -> set[str]:
    """Column names of the MoR base -- the footer schema without a
    reader construction (listing + schema job) per ``mor_apply``
    schema guard, else the inference reader's."""
    base_path = os.path.join(path, "base")
    sch = table_schema(base_path, _part_cols(meta))
    if sch is None:
        sch = _read_base(spark, base_path, meta).schema
    return set(sch.fieldNames())


def _read_deltas(spark, segs: list[str]) -> DataFrame:
    """Delta-segment read with schema union across segments: segments
    written before a column evolution lack the new columns and read as
    NULL for them -- exactly the versions-predate-the-column semantics
    the reconcile needs. rowframe.table_reader unifies ONE footer per
    segment (segments are single-write uniform) in mergeSchema's field
    order, so the read needs neither the schema-inference job nor the
    distributed ``mergeSchema`` footer pass, which stays the fallback."""
    return table_reader(spark, segs).parquet(*segs)


def _widen_evolved(base: DataFrame, deltas: DataFrame,
                   payload: list[str]
                   ) -> tuple[DataFrame, DataFrame, list[str]]:
    """Schema-evolution read support, both directions: columns present
    in the delta log but not (yet) in the base -- added by
    mor_apply(allow_schema_evolution=True) and folded into the base
    only at the next compaction -- are backfilled onto the base as
    typed NULLs; base payload columns ABSENT from the delta log --
    every live segment written by an old producer after the fold --
    are backfilled onto the deltas the same way (an old producer's row
    versions the evolved column as NULL: full-row semantics). The
    reconcile then runs over the UNION schema (the Iceberg add-column
    economics, no catalog)."""
    extra = [f for f in deltas.schema.fields
             if f.name not in base.columns
             and f.name not in ("_seq", _OP)]
    for f in extra:
        base = base.withColumn(f.name, F.lit(None).cast(f.dataType))
    btypes = {f.name: f.dataType for f in base.schema.fields}
    for c in payload:
        if c not in deltas.columns:
            deltas = deltas.withColumn(c, F.lit(None).cast(btypes[c]))
    return base, deltas, payload + [f.name for f in extra]


def mor_apply(changes: DataFrame, path: str, *, key_cols: list[str],
              op_col: str = "op", src_seq_col: str = "seq",
              allow_schema_evolution: bool = False) -> str:
    """Apply a change batch as ONE appended delta segment -- the write
    cost is O(batch) regardless of table size (no read of the base, no
    rewrite of anything). Intra-batch disorder is resolved here
    (last-change-per-key by seq desc, delete-wins tiebreak), so each
    segment carries at most one row per key. Returns the segment dir.

    Schema contract (rows are FULL-ROW versions): the batch must carry
    every payload column of the current table schema -- a
    partial-column batch would silently null what it meant to keep, so
    missing columns RAISE -- except columns added by a prior
    evolution, which an old producer may omit (they version as NULL).
    NEW columns require ``allow_schema_evolution=True``: they are
    registered in the table meta as PERMANENTLY OPTIONAL (old
    producers keep working even after a compaction folds the column
    into the base), reads backfill pre-evolution rows with typed
    NULLs (_widen_evolved), and the next compaction folds them into
    the base -- the Iceberg/Delta add-column path without a catalog.
    Unknown columns without the flag RAISE (they were previously
    dropped silently at read time, the worst failure mode)."""
    last = _winners(changes, key_cols, f"{sql_ident(src_seq_col)} DESC, "
                                       f"{sql_ident(op_col)}")
    from .merge import publish_lock
    with publish_lock(path, owner="mor_apply"):
        meta = _read_meta(path)
        base_cols = _base_fields(changes.sparkSession, path, meta)
        evolved = dict(meta.get("evolved", {}))
        known = base_cols | set(evolved)
        batch = [c for c in changes.columns
                 if c not in (op_col, src_seq_col)]
        missing = sorted(base_cols - set(batch) - set(key_cols)
                         - {meta.get("bucket_col") or "",
                            meta["seq_col"]} - set(evolved))
        if missing:
            raise ValueError(
                f"change batch is missing payload columns {missing} "
                "of the table schema -- MoR rows are full-row "
                "versions; a partial batch would null what it meant "
                "to keep")
        new = sorted(set(batch) - known)
        if new and not allow_schema_evolution:
            raise ValueError(
                f"change batch carries columns {new} not in the "
                "table schema -- pass allow_schema_evolution=True to "
                "add them (pre-evolution rows will read NULL)")
        if new:
            sch = {f.name: f.dataType.simpleString()
                   for f in changes.schema.fields}
            evolved.update({c: sch[c] for c in new})
            meta["evolved"] = evolved
            _write_meta(path, meta)
        n = _next_seg_num(path, meta)
        seg = os.path.join(path, "delta",
                           f"d-{n:06d}-{uuid.uuid4().hex[:8]}")
        towrite = (last.withColumnRenamed(op_col, _OP)
                   .withColumnRenamed(src_seq_col, "_seq"))
        obs = None
        if meta["n_buckets"] is not None:
            # apply/compact phase fusion: capture the batch's touched
            # bucket set DURING the segment write (Observation rides
            # the write job -- no extra scheduled job) and persist it
            # as a segment sidecar, so the folding compaction can skip
            # its touched-bucket distinct+collect job over the delta
            # log (one job per compaction, i.e. per micro-batch under
            # a self-maintaining CDC stream). collect_set is bounded
            # by n_buckets. The sidecar is purely an optimization:
            # compaction falls back to the collect when any consumed
            # segment lacks one (old producer) or was written under a
            # different bucket count (pre-relayout).
            from pyspark.sql import Observation

            from .merge import _bucket_expr
            obs = Observation()
            towrite = towrite.observe(
                obs, F.collect_set(
                    _bucket_expr(list(key_cols),
                                 meta["n_buckets"])).alias("b"))
        towrite.write.mode("errorifexists").parquet(seg)
        if obs is not None:
            try:
                _write_touched_sidecar(
                    seg, int(meta["n_buckets"]),
                    sorted(int(v) for v in _observed(obs)["b"]))
            except Exception:
                pass  # optional fast path; compaction falls back
    return seg


_OBSERVATION_WAIT_S = 5.0


def _observed(obs) -> dict:
    """An Observation's metrics, waiting at most _OBSERVATION_WAIT_S:
    ``obs.get`` waits on the JVM's ``Duration.Inf``, unbounded under the
    publish lock, while ``getRowOrEmpty`` waits at most 100 ms per call
    (Spark 4.1.2). Raises TimeoutError when the metrics never arrive --
    no added latency once they have."""
    deadline = time.monotonic() + _OBSERVATION_WAIT_S
    while not obs._jo.getRowOrEmpty().isDefined():
        if time.monotonic() > deadline:
            raise TimeoutError("observed metrics did not arrive")
    return obs.get


def _write_touched_sidecar(seg: str, n_buckets: int,
                           touched: list[int]) -> None:
    """``_touched.json`` inside a delta segment: the batch's bucket
    set under the table's current bucket count. Underscore-prefixed,
    so every parquet reader (Spark and the driver-local footer walks)
    ignores it."""
    tmp = os.path.join(seg, f"._touched.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump({"n_buckets": n_buckets, "touched": touched}, f)
    os.replace(tmp, os.path.join(seg, "_touched.json"))


def _touched_from_sidecars(segs: list[str],
                           n_buckets: int) -> list[int] | None:
    """Union of the segments' sidecar bucket sets, or None when any
    segment lacks a well-formed sidecar -- missing or unparsable (old
    producer), not a dict, no ``touched`` list of in-range int buckets,
    or a different recorded bucket count (written before a partition
    re-layout). The sidecar is purely an optimization: on None the
    caller falls back to the distributed distinct+collect."""
    out: set[int] = set()
    for s in segs:
        try:
            with open(os.path.join(s, "_touched.json")) as f:
                d = json.load(f)
        except (OSError, ValueError):
            return None
        touched = d.get("touched") if isinstance(d, dict) else None
        if (not isinstance(touched, list)
                or d.get("n_buckets") != n_buckets
                or not all(type(v) is int and 0 <= v < n_buckets
                           for v in touched)):
            return None
        out.update(touched)
    return sorted(out)

_DELTA_ORDER = f"_seq DESC, {_OP}"  # highest seq, then 'D' before 'U'


def _idents(names: list[str]) -> list[str]:
    return [sql_ident(c) for c in names]


def _winners(df: DataFrame, key_cols: list[str], order: str) -> DataFrame:
    """The first row of each key of ``df`` under ``order`` (SQL
    ``ORDER BY`` text): a per-key ``row_number`` window built as SQL
    text, one py4j call per DataFrame step."""
    keys = ", ".join(_idents(key_cols))
    return (df.selectExpr("*", f"row_number() OVER (PARTITION BY {keys} "
                               f"ORDER BY {order}) AS _rn")
            .where("_rn = 1").drop("_rn"))


def _reconcile(base: DataFrame, deltas: DataFrame,
               key_cols: list[str], payload: list[str],
               seq_col: str, *, pruned: bool) -> DataFrame:
    """base + delta rows -> current state (one winner per key, winning
    deletes dropped). Base keys are assumed unique (the keyed-table
    invariant mor_init/compaction maintain). Both forms return the same
    rows, and a delta 'U' tied with its base row on seq loses to it.

    ``pruned`` (the scale path): window the delta log ALONE down to one
    winner per key (a delta-sized exchange) and broadcast it into ONE
    full-width base scan, where a base row keeps or swaps by a scalar
    comparison (delta wins on higher seq; equal seq -> only a 'D' wins,
    the apply_cdc_stream delete-wins tiebreak) -- no base shuffle, no
    window over base rows. Delta-only inserts are the winners whose key
    a second base scan, column-pruned to THE KEYS ONLY, does not hold:
    that scan semi-joins the broadcast RAW delta keys (duplicates cannot
    change a semi join, and the raw keys need no second delta exchange)
    and the result is broadcast into an anti join on the winners.

    ``pruned=False`` unions the base into the delta window (base rows
    rank after a delta 'D' and before a delta 'U' of the same seq) -- a
    hash shuffle of everything it reads, so a full-table shuffle per
    read, but a single exchange over a key-filtered sliver
    (mor_lookup). Null-safe key matches mirror the window's NULL
    grouping. All expressions are SQL text."""
    cols = _idents(key_cols + payload)
    seq = sql_ident(seq_col)
    if not pruned:
        un = base.selectExpr(*cols, f"{seq} AS _seq", f"'U' AS {_OP}",
                             "0 AS _src").unionByName(
            deltas.selectExpr(*cols, "_seq", _OP, "1 AS _src"))
        return (_winners(un, key_cols, f"{_DELTA_ORDER}, _src")
                .where(f"{_OP} = 'U'").selectExpr(*cols, f"_seq AS {seq}"))

    def renamed(prefix: str, names: list[str]) -> list[str]:
        return [f"{sql_ident(c)} AS {sql_ident(prefix + c)}" for c in names]

    def on(prefix: str):
        return F.expr(" AND ".join(
            f"{sql_ident(k)} <=> {sql_ident(prefix + k)}" for k in key_cols))

    dw = _winners(deltas.selectExpr(*cols, "_seq", _OP), key_cols,
                  _DELTA_ORDER)
    j = base.join(F.broadcast(dw.selectExpr(
        *renamed("_dk_", key_cols), *renamed("_dv_", payload),
        "_seq AS _dseq", f"{_OP} AS _dop")), on("_dk_"), "left")
    dwin = (f"(_dseq IS NOT NULL AND (_dseq > {seq} "
            f"OR (_dseq = {seq} AND _dop = 'D')))")
    resolved = j.where(f"NOT ({dwin} AND _dop = 'D')").selectExpr(
        *_idents(key_cols),
        *[f"CASE WHEN {dwin} THEN {sql_ident('_dv_' + c)} "
          f"ELSE {sql_ident(c)} END AS {sql_ident(c)}" for c in payload],
        f"CASE WHEN {dwin} THEN _dseq ELSE {seq} END AS {seq}")
    # no distinct on either side: base keys are unique (invariant) and
    # a semi join cannot duplicate them -- the branch stays shuffle-free
    in_base = (base.selectExpr(*_idents(key_cols))
               .join(F.broadcast(deltas.selectExpr(
                   *renamed("_dk_", key_cols))), on("_dk_"), "left_semi")
               .selectExpr(*renamed("_ib_", key_cols)))
    inserts = (dw.join(F.broadcast(in_base), on("_ib_"), "left_anti")
               .where(f"{_OP} = 'U'").selectExpr(*cols, f"_seq AS {seq}"))
    return resolved.unionByName(inserts)


def _resolve_pruned(pruned, segs: list[str], base_path: str, *,
                    broadcast_budget_bytes: int,
                    fail_above_amplification: float | None) -> bool:
    """The self-defending read switch: the pruned reconcile BROADCASTS
    the full-width delta winner set, which is only safe while the delta
    mass fits a driver/executor broadcast budget. ``pruned='auto'``
    consults the on-disk delta byte mass (a driver-local stat walk --
    no job) and falls back to the shuffle-based full window past the
    budget, so scale posture never relies on operator discipline.
    ``fail_above_amplification=r`` additionally REFUSES the read when
    delta bytes exceed ``r x`` base bytes -- at that amplification
    every read repays the un-run compaction, so raising with guidance
    beats silently paying it (opt-in: toy-scale tables hit parquet
    per-file floors long before real amplification)."""
    if not isinstance(pruned, str):
        return bool(pruned)
    if pruned != "auto":
        raise ValueError(f"pruned must be True/False/'auto', "
                         f"got {pruned!r}")
    db = _tree_bytes(*segs)
    if fail_above_amplification is not None:
        bb = _tree_bytes(base_path)
        if bb and db > fail_above_amplification * bb:
            raise ValueError(
                f"delta log is {db / bb:.1f}x the base on disk "
                f"(> fail_above_amplification="
                f"{fail_above_amplification}) -- run mor_compact "
                "before reading, or pass pruned=False to pay the "
                "full-window reconcile explicitly")
    return db <= int(broadcast_budget_bytes)


def mor_read(spark, path: str, *, key_cols: list[str],
             seq_col: str = "_cdc_seq",
             as_of_segment: int | None = None,
             pruned: bool | str = "auto",
             broadcast_budget_bytes: int = 64 << 20,
             fail_above_amplification: float | None = None) -> DataFrame:
    """Reconciled current state with the base schema (payload +
    ``seq_col``). Read amplification = delta mass scanned on top of the
    base -- watch mor_delta_stats and compact.

    ``pruned=True``: the delta winners are broadcast into the base
    scan -- base rows never enter the reconcile window or any exchange
    (plan-contract-tested). ``pruned=False`` windows the full union --
    only sensible when the delta log rivals the base.
    ``pruned='auto'`` (default) picks between them from the on-disk
    delta byte mass vs ``broadcast_budget_bytes`` (the pruned path
    broadcasts the full-width delta winner set, so past the budget the
    shuffle window is the safe plan), and with
    ``fail_above_amplification`` set refuses pathologically
    amplified reads with mor_compact guidance -- see _resolve_pruned.

    ``as_of_segment=n``: TIME TRAVEL -- the table state after the first
    ``n`` delta segments GLOBALLY (0 = the initial base). Segments the
    current base has folded in are replayed from the archive when the
    folding compaction ran with ``retain_history=True`` (hardlink base
    snapshots + archived segments -- the Iceberg retained-snapshot
    economics); otherwise pre-compaction states raise cleanly."""
    meta = _read_meta(path)
    base_seg = meta["base_seg"]
    live = _delta_dirs(path, base_seg=base_seg)
    head = base_seg + len(live)
    n = head if as_of_segment is None else as_of_segment
    if not 0 <= n <= head:
        raise ValueError(
            f"as_of_segment must be in [0, {head}], got {n}")
    if n >= base_seg:
        base_path = os.path.join(path, "base")
        segs = live[:n - base_seg]
    else:
        gens = sorted(int(g) for g in meta["archived_bases"])
        cands = [g for g in gens if g <= n]
        if not cands:
            raise ValueError(
                f"snapshot as_of_segment={n} predates the oldest "
                "retained base -- the folding compaction ran without "
                "retain_history=True, so that state is gone")
        g = max(cands)
        base_path = os.path.join(path, "archive", f"base-{g:06d}")
        arch = sorted(glob.glob(os.path.join(path, "archive", "delta",
                                             "d-*")))
        segs = [s for s in arch if g <= _seg_num(s) < n]
        if len(segs) != n - g:
            raise ValueError(
                f"archive is missing segments for [{g}, {n}) -- a "
                "compaction in that range ran without "
                "retain_history=True")
    base = _read_base(spark, base_path, meta)
    if meta["n_buckets"] is not None:
        base = base.drop(meta["bucket_col"])
    payload = [c for c in base.columns
               if c not in key_cols and c != seq_col]
    if not segs:
        return base.select(*key_cols, *payload, seq_col)
    deltas = _read_deltas(spark, segs)
    base, deltas, payload = _widen_evolved(base, deltas, payload)
    use_pruned = _resolve_pruned(
        pruned, segs, base_path,
        broadcast_budget_bytes=broadcast_budget_bytes,
        fail_above_amplification=fail_above_amplification)
    return _reconcile(base, deltas, key_cols, payload, seq_col,
                      pruned=use_pruned)


def mor_lookup(spark, path: str, keys: list, *, key_cols: list[str],
               seq_col: str = "_cdc_seq") -> DataFrame:
    """POINT LOOKUP on a MoR table -- the serving-side read. A filter
    on the key pushes into the scans but can NEVER prune the bucket
    directories (the bucket is a hash Catalyst cannot derive from
    ``k = 7``; probed: PartitionFilters stays empty), so a filtered
    mor_read still lists and opens every bucket dir of a 100-TB base.
    This path computes the looked-up keys' buckets ENGINE-SIDE (a
    bounded tiny-frame evaluation of the same bucket expression --
    engine-identical hashing, never reimplemented driver-side) and
    reads the base with a literal ``bucket IN (...)`` partition filter
    plus the key predicate: I/O is a few bucket dirs + the delta log,
    then the union+window reconcile runs over the sliver (per-key
    semantics make the restricted reconcile exact; the sliver makes its
    one exchange tiny). On an unbucketed
    table the key predicate still pushes into every scan branch.

    ``keys``: scalars for single-column keys, tuples for composite.
    NULL keys are refused (a NULL never equals a stored key; use
    mor_read + eqNullSafe for forensic reads)."""
    import functools

    meta = _read_meta(path)
    rows = [(k,) if not isinstance(k, tuple) else tuple(k)
            for k in keys]
    if any(v is None for r in rows for v in r):
        raise ValueError("NULL lookup keys are not supported -- use "
                         "mor_read and filter with eqNullSafe")
    bcol, nb = meta["bucket_col"], meta["n_buckets"]
    base = _read_base(spark, os.path.join(path, "base"), meta)
    if nb is not None and rows:
        from pyspark.sql import types as _T

        from ..rowframe import local_df
        from .merge import _bucket_expr
        kdf = local_df(spark, rows,
                       _T.StructType([base.schema[c] for c in key_cols]))
        # no distinct(): a Project over the local key relation is folded
        # and collected on the driver with zero Spark jobs, an Aggregate
        # on top forces two; the set dedupes
        buckets = sorted({r[0] for r in kdf.select(
            _bucket_expr(list(key_cols), nb).alias("_b")).collect()})
        base = base.where(f"{sql_ident(bcol)} IN "
                          f"({', '.join(map(str, buckets))})")
    if nb is not None:
        base = base.drop(bcol)
    payload = [c for c in base.columns
               if c not in key_cols and c != seq_col]
    if not rows:
        return base.select(*key_cols, *payload, seq_col).where(F.lit(False))
    if len(key_cols) == 1:
        # pushes down as one In predicate
        keyf = F.col(key_cols[0]).isin([r[0] for r in rows])
    else:
        keyf = functools.reduce(
            lambda a, b: a | b,
            [functools.reduce(lambda a, b: a & b,
                              [F.col(c) == F.lit(v)
                               for c, v in zip(key_cols, r)])
             for r in rows])
    base = base.where(keyf)
    segs = _delta_dirs(path, base_seg=meta["base_seg"])
    if not segs:
        return base.select(*key_cols, *payload, seq_col)
    deltas = _read_deltas(spark, segs).where(keyf)
    base, deltas, payload = _widen_evolved(base, deltas, payload)
    # both inputs are key-filtered slivers (<= keys x (1 + segments)
    # rows): one sliver-sized exchange beats three broadcasts
    return _reconcile(base, deltas, key_cols, payload, seq_col,
                      pruned=False)


def mor_changes(spark, path: str, *, key_cols: list[str],
                since_segment: int, until_segment: int | None = None,
                seq_col: str = "_cdc_seq",
                op_col: str = "op") -> DataFrame:
    """Incremental pull (the Hudi incremental-query / Iceberg
    changelog-read economics): ONE ROW PER KEY changed in
    ``[since_segment, until_segment)`` -- its FINAL state within the
    range as (keys, payload, seq_col, op_col) with op 'U' (upsert to
    this version) or 'D' (key deleted). Applying the pull onto the
    ``since`` snapshot with CDC merge semantics reproduces the
    ``until`` snapshot exactly (per-key seq monotonicity makes a
    range-winner supersede any earlier state), which is what the
    merge_mor_incremental_pull gate pins.

    Cost is bound by the CHANGE mass: only the range's delta segments
    are scanned (archived ones resolve when retained); the base is
    never read. This is how a downstream incremental consumer at
    100 TB tails a maintained table without re-reading it."""
    meta = _read_meta(path)
    base_seg = meta["base_seg"]
    live = _delta_dirs(path, base_seg=base_seg)
    head = base_seg + len(live)
    until = head if until_segment is None else until_segment
    if not 0 <= since_segment <= until <= head:
        raise ValueError(
            f"need 0 <= since <= until <= {head}, got "
            f"[{since_segment}, {until})")
    arch = sorted(glob.glob(os.path.join(path, "archive", "delta",
                                         "d-*")))
    pool = {**{_seg_num(s): s for s in arch},
            **{_seg_num(s): s for s in live}}
    want = list(range(since_segment, until))
    missing = [i for i in want if i not in pool]
    if missing:
        raise ValueError(
            f"segments {missing[:5]} were compacted away without "
            "retain_history=True -- the incremental range is gone")
    segs = [pool[i] for i in want]
    if not segs:
        base = _read_base(spark, os.path.join(path, "base"), meta)
        if meta["n_buckets"] is not None:
            base = base.drop(meta["bucket_col"])
        payload = [c for c in base.columns
                   if c not in key_cols and c != seq_col]
        return (base.select(*key_cols, *payload, seq_col,
                            F.lit("U").alias(op_col))
                .where(F.lit(False)))
    d = _read_deltas(spark, segs)
    payload = [c for c in d.columns
               if c not in key_cols and c not in ("_seq", _OP)]
    return _winners(d, key_cols, _DELTA_ORDER).selectExpr(
        *_idents(key_cols + payload), f"_seq AS {sql_ident(seq_col)}",
        f"{_OP} AS {sql_ident(op_col)}")


def _tree_rows(spark, *roots: str) -> int:
    """Exact parquet row count of directory trees from file-footer
    metadata, driver-locally (num_rows is a footer field -- no data
    read, no Spark job), over the files a Spark scan reads
    (rowframe.data_files). Falls back to a distributed count past 10k
    files, where a driver-side footer walk would serialize what the
    executors' aggregate-pushdown count does in parallel, and on any
    unreadable footer."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    files = data_files(*roots)
    if len(files) <= 10_000:
        try:
            return sum(papq.ParquetFile(f).metadata.num_rows
                       for f in files)
        except (OSError, pa.ArrowException):
            pass  # the distributed count below reads what Spark reads
    return table_reader(spark, list(roots)).parquet(*roots).count()


def mor_delta_stats(spark, path: str) -> dict:
    """Bounded read-amplification signal: segment count and delta row
    mass vs base rows -- the compaction trigger (compact when
    delta_rows / base_rows or n_segments crosses the budget). Row
    counts come from parquet footer metadata on the driver (no count
    jobs -- this is a stats probe called between maintenance steps)."""
    dd = _delta_dirs(path)
    base_rows = _tree_rows(spark, os.path.join(path, "base"))
    delta_rows = _tree_rows(spark, *dd) if dd else 0
    return {"n_segments": len(dd), "base_rows": base_rows,
            "delta_rows": delta_rows,
            "delta_bytes": _tree_bytes(*dd) if dd else 0,
            "base_bytes": _tree_bytes(os.path.join(path, "base")),
            "amplification": (delta_rows / base_rows
                              if base_rows else float("inf"))}


def mor_maintain(spark, path: str, *, key_cols: list[str],
                 seq_col: str = "_cdc_seq",
                 max_delta_fraction: float = 0.2,
                 max_segments: int = 64,
                 retain_history: bool = False,
                 broadcast_budget_bytes: int = 64 << 20) -> dict:
    """The TABLE SERVICE loop (the Hudi inline-compaction scheduling
    analogue; the reference leans on warehouse-side Iceberg maintenance
    jobs): consult the table's read-amplification signals and compact
    ONLY when a budget is crossed -- delta on-disk byte mass above
    ``max_delta_fraction`` x base bytes, or live segment count above
    ``max_segments`` (each segment is an extra parquet listing + scan
    per read, a per-file floor that byte mass misses). The decision is
    a driver-local stat walk -- declining costs NO Spark job, so a
    scheduler can call this after every ingest batch; compaction, when
    triggered, runs under the table's publish lock like any direct
    mor_compact. Returns the decision and the stats it was keyed on:
    ``{compacted, reason, n_segments, delta_bytes, base_bytes}``."""
    base_bytes = _tree_bytes(os.path.join(path, "base"))
    live = _delta_dirs(path)
    delta_bytes = _tree_bytes(*live) if live else 0
    reason = None
    if live and delta_bytes > max_delta_fraction * base_bytes:
        reason = (f"delta bytes {delta_bytes} > "
                  f"{max_delta_fraction} x base {base_bytes}")
    elif len(live) > max_segments:
        reason = (f"{len(live)} live segments > "
                  f"max_segments={max_segments}")
    if reason is not None:
        mor_compact(spark, path, key_cols=key_cols, seq_col=seq_col,
                    retain_history=retain_history,
                    broadcast_budget_bytes=broadcast_budget_bytes)
    return {"compacted": reason is not None, "reason": reason,
            "n_segments": len(live), "delta_bytes": delta_bytes,
            "base_bytes": base_bytes}


def mor_compact(spark, path: str, *, key_cols: list[str],
                seq_col: str = "_cdc_seq",
                retain_history: bool = False,
                broadcast_budget_bytes: int = 64 << 20,
                n_buckets: int | None | str = "keep") -> None:
    """Fold the delta log into the base and clear the consumed
    segments. Readers spanning the compaction see either the old
    base+deltas or the new base -- the same state by the reconcile
    invariant.

    Cost shape: on a bucketed table (mor_init ``n_buckets``) only the
    partitions whose buckets the deltas touch are reconciled and
    swapped (merge._publish_partitions) -- compaction work is bound by
    the CHANGE mass; untouched bucket directories are never opened. A
    plain table pays one full reconcile + COW publish (guarded swap,
    cow_publish).

    ``retain_history``: snapshot the superseded base into ``archive/``
    (hardlinks -- metadata cost only) and move the consumed segments
    there instead of deleting, so mor_read(as_of_segment=) keeps
    replaying PRE-compaction states.

    ``n_buckets``: PARTITION EVOLUTION (the Iceberg
    rewrite-with-new-spec economics). The default ``"keep"`` preserves
    the layout; an int re-buckets the base to that count (the knob for
    a table that outgrew the bucket count chosen at init -- at 100x
    growth the per-bucket file mass stops fitting compaction memory),
    ``None`` flattens a bucketed base. A re-layout is a full rewrite
    by nature (every row moves buckets) and also folds the delta log;
    it runs even with an empty log.

    Concurrency/crash posture: the whole compaction runs under the
    table's publish_lock (a concurrent mor_apply/mor_compact raises
    ConcurrentWriteError instead of being folded past), and the meta
    commit is ordered so every crash window reads consistently --
    consumed segments are archived (or the bumped base_seg is written)
    BEFORE anything is deleted, and readers filter live segments by
    base_seg, so a leftover folded segment is inert and swept by the
    next compaction. The reconcile picks broadcast-pruned vs
    shuffle-window from the on-disk delta mass (the delta log is at
    its LARGEST at compaction time, exactly when an unconditional
    broadcast would be most dangerous)."""
    from .merge import (ConcurrentWriteError, _bucket_expr,
                        _publish_partitions, cow_publish, publish_lock)
    from .store_swap import snapshot_hardlink
    with publish_lock(path, owner="mor_compact"):
        meta = _read_meta(path)
        # sweep leftovers from a crashed prior compaction (folded
        # segments whose removal never completed -- readers already
        # ignore them)
        for seg in glob.glob(os.path.join(path, "delta", "d-*")):
            if _seg_num(seg) < meta["base_seg"]:
                shutil.rmtree(seg, ignore_errors=True)
        consumed = _delta_dirs(path, base_seg=meta["base_seg"])
        relayout = (n_buckets != "keep"
                    and n_buckets != meta["n_buckets"])
        if not consumed and not relayout:
            return
        pruned = (_tree_bytes(*consumed)
                  <= int(broadcast_budget_bytes)) if consumed else True
        base_path = os.path.join(path, "base")
        if retain_history:
            snap = os.path.join(path, "archive",
                                f"base-{meta['base_seg']:06d}")
            if not os.path.isdir(snap):
                snapshot_hardlink(base_path, snap)
        nb = meta["n_buckets"]
        if relayout:
            # partition evolution (the Iceberg rewrite-with-new-spec
            # economics): fold the log AND re-layout the base in one
            # full rewrite -- re-bucket to a new count when the table
            # outgrew the one chosen at init, bucket a plain table, or
            # flatten a bucketed one. Always a bulk rewrite by nature.
            nbt = n_buckets
            bcol = meta["bucket_col"]
            cur = mor_read(spark, path, key_cols=key_cols,
                           seq_col=seq_col, pruned=pruned)
            if nbt is None:
                cow_publish(cur, base_path)
            else:
                if bcol in cur.columns:
                    raise ValueError(
                        f"payload column {bcol!r} collides with the "
                        "bucket bookkeeping column -- rename it "
                        "before re-bucketing")
                from .merge import _keyed_write_width
                merged = (cur.withColumn(
                    bcol, _bucket_expr(list(key_cols), int(nbt)))
                    .repartition(_keyed_write_width(cur, int(nbt)),
                                 F.col(bcol)))
                cow_publish(merged, base_path, partition_by=[bcol])
            meta["n_buckets"] = None if nbt is None else int(nbt)
        elif nb is not None:
            deltas = _read_deltas(spark, consumed)
            bcols = _base_fields(spark, path, meta)
            evolving = any(f.name not in bcols
                           for f in deltas.schema.fields
                           if f.name not in ("_seq", _OP))
            bcol = meta["bucket_col"]
            # sidecar fast path (written by mor_apply during the
            # segment write): the union of the consumed segments'
            # touched sets IS the delta log's bucket set -- no
            # distinct+collect job per compaction. Falls back to the
            # collect for sidecar-less or pre-relayout segments.
            touched = _touched_from_sidecars(consumed, nb)
            if touched is None:
                touched = sorted(
                    r[0] for r in deltas
                    .select(_bucket_expr(list(key_cols), nb).alias("_b"))
                    .distinct().collect())
            if evolving or len(touched) > nb // 2:
                # evolving: a touched-dirs-only publish would leave
                # the new columns present in some bucket dirs and
                # absent in others (partitioned tables keep ONE
                # schema) -- the evolution fold must rewrite every
                # bucket once.
                # change mass ~ table: the per-directory publish would
                # pay a near-full shuffle PLUS per-dir swap overhead --
                # one bulk bucketed rewrite (repartition by bucket, the
                # write_bucket_partitioned discipline, under
                # cow_publish's guarded swap) is strictly better and
                # keeps the layout
                base_all = _read_base(spark, base_path,
                                       meta).drop(bcol)
                payload = [c for c in base_all.columns
                           if c not in key_cols and c != seq_col]
                base_all, deltas, payload = _widen_evolved(
                    base_all, deltas, payload)
                cur = _reconcile(base_all, deltas, list(key_cols),
                                 payload, seq_col, pruned=pruned)
                from .merge import _keyed_write_width
                merged = (cur.withColumn(
                    bcol, _bucket_expr(list(key_cols), nb))
                    .repartition(_keyed_write_width(cur, nb),
                                 F.col(bcol)))
                cow_publish(merged, base_path, partition_by=[bcol])
            else:
                # direct touched-dir paths: listing O(touched)
                # instead of O(n_buckets), same rows as the former
                # isin partition-pruned full read
                base_slice = _read_base(spark, base_path, meta,
                                        touched=touched).drop(bcol)
                payload = [c for c in base_slice.columns
                           if c not in key_cols and c != seq_col]
                base_slice, deltas, payload = _widen_evolved(
                    base_slice, deltas, payload)
                cur = _reconcile(base_slice, deltas, list(key_cols),
                                 payload, seq_col, pruned=pruned)
                merged = cur.withColumn(bcol,
                                        _bucket_expr(list(key_cols), nb))
                _publish_partitions(merged, base_path, bcol, touched)
        else:
            cur = mor_read(spark, path, key_cols=key_cols,
                           seq_col=seq_col, pruned=pruned)
            cow_publish(cur, base_path)
        # belt-and-braces under the lock: a writer that bypassed the
        # lockfile (removed it manually, or raced from another host
        # where O_EXCL is not honored) would have moved base_seg --
        # refuse to commit over it rather than corrupt the numbering
        if _read_meta(path)["base_seg"] != meta["base_seg"]:
            raise ConcurrentWriteError(
                f"meta.json moved during compaction of {path} -- "
                "another writer bypassed the publish lock; the new "
                "base was published but the segment fold was NOT "
                "committed; re-run mor_compact")
        if retain_history:
            # archive the consumed segments BEFORE the meta commit:
            # a crash in between leaves head reads exact (the new base
            # already holds the fold; live filtering hides nothing
            # because the segments are gone from delta/) and the
            # archive complete; only the archived_bases registration
            # is lost, which as-of reads surface as a clean error.
            adelta = os.path.join(path, "archive", "delta")
            os.makedirs(adelta, exist_ok=True)
            for seg in consumed:
                shutil.move(seg, os.path.join(adelta,
                                              os.path.basename(seg)))
            meta["archived_bases"] = sorted(
                set(meta["archived_bases"]) | {meta["base_seg"]})
            meta["base_seg"] += len(consumed)
            _write_meta(path, meta)
        else:
            # meta FIRST, deletion after: the reverse order's crash
            # window left base_seg stale while the segments were gone,
            # so the next apply reused GLOBAL numbers already folded
            # (r13 ADVICE). This order's window leaves folded segments
            # on disk, which every reader filters out by number.
            meta["base_seg"] += len(consumed)
            _write_meta(path, meta)
            for seg in consumed:
                shutil.rmtree(seg, ignore_errors=True)


def mor_expire_snapshots(path: str, *, keep_from: int) -> dict:
    """Retention-horizon maintenance (the Iceberg expire_snapshots
    analogue): drop archived history no longer needed to replay any
    ``as_of_segment >= keep_from`` -- archived BASE generations older
    than the newest generation <= keep_from, and archived delta
    segments below that generation. as-of reads and incremental pulls
    at or after the horizon keep working exactly; older ones raise the
    same clean error an unretained compaction produces. Driver-local
    metadata work plus directory unlinks (hardlinked snapshot files
    free only when their last reference goes). Returns
    ``{expired_bases, expired_segments, kept_from_gen}``."""
    from .merge import publish_lock
    with publish_lock(path, owner="mor_expire_snapshots"):
        return _expire_snapshots_locked(path, keep_from=keep_from)


def _expire_snapshots_locked(path: str, *, keep_from: int) -> dict:
    meta = _read_meta(path)
    gens = sorted(int(g) for g in meta["archived_bases"])
    cands = [g for g in gens if g <= keep_from]
    if not cands:
        # nothing at or below the horizon -- no-op (the horizon is
        # already unreachable or nothing is archived)
        return {"expired_bases": 0, "expired_segments": 0,
                "kept_from_gen": None}
    floor_gen = max(cands)
    drop_bases = [g for g in gens if g < floor_gen]
    n_segs = 0
    for seg in sorted(glob.glob(os.path.join(path, "archive", "delta",
                                             "d-*"))):
        if _seg_num(seg) < floor_gen:
            shutil.rmtree(seg, ignore_errors=True)
            n_segs += 1
    for g in drop_bases:
        shutil.rmtree(os.path.join(path, "archive", f"base-{g:06d}"),
                      ignore_errors=True)
    meta["archived_bases"] = [g for g in gens if g >= floor_gen]
    _write_meta(path, meta)
    return {"expired_bases": len(drop_bases),
            "expired_segments": n_segs, "kept_from_gen": floor_gen}


def apply_cdc_stream_mor(changes: DataFrame, path: str, *,
                         key_cols: list[str], op_col: str = "op",
                         src_seq_col: str = "seq",
                         seq_col: str = "_cdc_seq",
                         compact_every: int | None = None,
                         max_delta_fraction: float | None = None,
                         retain_history: bool = False,
                         allow_schema_evolution: bool = False,
                         query_name: str = "cdc_apply_mor",
                         available_now: bool = True):
    """Streaming CDC apply, merge-on-read mode: each micro-batch is ONE
    O(batch) delta append (vs the COW modes' read+rewrite);
    ``compact_every`` folds the log into the base every N batches (the
    maintenance knob -- readers pay the delta scan until then;
    ``retain_history`` keeps the superseded snapshots replayable). The
    stream_cdc_apply_mor gate pins the reconciled table against the
    SAME oracle as the COW modes: three designs, one state.

    ``max_delta_fraction`` routes maintenance through mor_maintain
    instead: after each append the table's own BYTE amplification
    (on-disk delta mass vs base -- a driver-local stat walk) decides
    whether to fold, with ``compact_every`` as the segment-count bound
    when both are given. Segment COUNT misses batch-size variance --
    ten tiny batches are cheap to keep, one table-sized backfill batch
    is not -- so the byte budget is the knob a 100-TB ingest loop
    actually wants; with it set the stream is fully self-maintaining
    (the stream_cdc_apply_mor_maintained gate pins the same state AND
    an empty delta log at stream end)."""

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.take(1):
            return
        mor_apply(bdf, path, key_cols=key_cols, op_col=op_col,
                  src_seq_col=src_seq_col,
                  allow_schema_evolution=allow_schema_evolution)
        if max_delta_fraction is not None:
            mor_maintain(bdf.sparkSession, path, key_cols=key_cols,
                         seq_col=seq_col,
                         max_delta_fraction=max_delta_fraction,
                         max_segments=compact_every or (1 << 30),
                         retain_history=retain_history)
        elif compact_every and len(_delta_dirs(path)) >= compact_every:
            mor_compact(bdf.sparkSession, path, key_cols=key_cols,
                        seq_col=seq_col, retain_history=retain_history)

    q = (changes.writeStream.queryName(query_name)
         .foreachBatch(apply_batch)
         .option("checkpointLocation", f"{path}__mor_ckpt"))
    if available_now:
        sq = q.trigger(availableNow=True).start()
        sq.awaitTermination()
        return sq
    return q.start()
