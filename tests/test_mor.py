"""Merge-on-read delta-log table (operators/mor.py): O(batch) appends,
read-time reconcile, compaction equivalence, tombstone semantics."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from bodo_spark.operators import mor as M


def _init(spark, tmp_path):
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
        "k long, seg string, _cdc_seq long"), path)
    return path


def _state(spark, path):
    return sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .select("k", "seg", "_cdc_seq").collect()))


def test_mor_apply_read_compact_roundtrip(spark, tmp_path):
    path = _init(spark, tmp_path)
    b1 = spark.createDataFrame(
        [(1, "a2", "U", 1), (9, "new", "U", 1), (2, None, "D", 1)],
        "k long, seg string, op string, seq long")
    b2 = spark.createDataFrame(
        [(1, "a3", "U", 2), (9, None, "D", 2)],
        "k long, seg string, op string, seq long")
    M.mor_apply(b1, path, key_cols=["k"])
    mid = _state(spark, path)
    assert mid == [(1, "a2", 1), (3, "c", 0), (9, "new", 1)]
    M.mor_apply(b2, path, key_cols=["k"])
    want = [(1, "a3", 2), (3, "c", 0)]
    assert _state(spark, path) == want
    stats = M.mor_delta_stats(spark, path)
    assert stats["n_segments"] == 2 and stats["delta_rows"] == 5
    # compaction folds the log and preserves the state exactly
    M.mor_compact(spark, path, key_cols=["k"])
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    assert _state(spark, path) == want
    assert not glob.glob(os.path.join(path, "base.__*"))


def test_mor_tombstone_beats_late_old_upsert(spark, tmp_path):
    """The delta log keeps the delete as a TOMBSTONE: an older upsert
    arriving in a later batch loses to it at reconcile -- strictly
    stronger than the COW modes' documented no-tombstone caveat."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(2, None, "D", 5)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_apply(spark.createDataFrame(
        [(2, "late-old", "U", 3)],
        "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    assert all(k != 2 for k, _, _ in _state(spark, path))


def test_mor_intra_batch_disorder_and_equal_seq_delete_wins(spark,
                                                            tmp_path):
    path = _init(spark, tmp_path)
    b = spark.createDataFrame(
        [(1, "v2", "U", 2), (1, "v1", "U", 1),        # out of order
         (3, "u?", "U", 7), (3, None, "D", 7)],        # equal seq
        "k long, seg string, op string, seq long")
    M.mor_apply(b, path, key_cols=["k"])
    got = _state(spark, path)
    assert (1, "v2", 2) in got
    assert all(k != 3 for k, _, _ in got)              # delete wins


def test_mor_replay_is_idempotent_at_read(spark, tmp_path):
    path = _init(spark, tmp_path)
    b = spark.createDataFrame(
        [(1, "a2", "U", 1), (2, None, "D", 1)],
        "k long, seg string, op string, seq long")
    M.mor_apply(b, path, key_cols=["k"])
    first = _state(spark, path)
    M.mor_apply(b, path, key_cols=["k"])   # full replay re-appends
    assert _state(spark, path) == first    # reconcile picks same winners


def test_mor_init_validates_seq(spark, tmp_path):
    with pytest.raises(ValueError, match="seq column"):
        M.mor_init(spark.createDataFrame([(1,)], "k long"),
                   str(tmp_path / "x"))


def test_mor_stream_with_mid_stream_compaction(spark, tmp_path_factory):
    """Streaming MoR apply with compact_every=2: the reconciled state
    must equal the batch-applied state, and the log must have been
    folded mid-stream."""
    from bodo_spark.streaming import read_stream_parquet

    stage = str(tmp_path_factory.mktemp("mors"))
    M.mor_init(spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "k long, seg string, _cdc_seq long"),
        f"{stage}/tbl")
    ch = spark.createDataFrame(
        [(1, "a2", "U", 1), (2, None, "D", 2), (9, "new", "U", 3)],
        "k long, seg string, op string, seq long")
    ch.repartition(3).write.mode("append").parquet(f"{stage}/ch")
    src = spark.read.parquet(f"{stage}/ch")
    stream = read_stream_parquet(spark, f"{stage}/ch", src.schema,
                                 max_files_per_trigger=1)
    M.apply_cdc_stream_mor(stream, f"{stage}/tbl", key_cols=["k"],
                           compact_every=2, query_name="mor_unit")
    got = _state(spark, f"{stage}/tbl")
    assert got == [(1, "a2", 1), (9, "new", 3)]
    # 3 single-row batches, compaction at >=2 segments: log was folded
    assert M.mor_delta_stats(spark, f"{stage}/tbl")["n_segments"] < 3


def test_mor_as_of_segment_time_travel(spark, tmp_path):
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_apply(spark.createDataFrame(
        [(1, None, "D", 2), (9, "new", "U", 2)],
        "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    def st(n):
        return sorted(map(tuple, M.mor_read(
            spark, path, key_cols=["k"], as_of_segment=n)
            .select("k", "seg", "_cdc_seq").collect()))
    assert st(0) == [(1, "a", 0), (2, "b", 0), (3, "c", 0)]
    assert st(1) == [(1, "a2", 1), (2, "b", 0), (3, "c", 0)]
    assert st(2) == _state(spark, path)   # full log == head read
    with pytest.raises(ValueError, match="as_of_segment"):
        M.mor_read(spark, path, key_cols=["k"], as_of_segment=3)


def test_mor_init_refuses_bookkeeping_collisions(spark, tmp_path):
    with pytest.raises(ValueError, match="collide"):
        M.mor_init(spark.createDataFrame(
            [(1, "x", 0)], "k long, _op string, _cdc_seq long"),
            str(tmp_path / "y"))


def test_mor_pruned_read_equals_full_window_read(spark, tmp_path):
    """The broadcast anti/semi split and the full-union window must be
    value-identical, including NULL keys (null-safe key match)."""
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (None, "nul", 0), (4, "d", 0)],
        "k long, seg string, _cdc_seq long"), path)
    b = spark.createDataFrame(
        [(1, "a2", "U", 1), (None, "nul2", "U", 1), (4, None, "D", 1),
         (9, "new", "U", 1)],
        "k long, seg string, op string, seq long")
    M.mor_apply(b, path, key_cols=["k"])

    def st(pruned):
        return sorted(map(tuple, M.mor_read(
            spark, path, key_cols=["k"], pruned=pruned)
            .select("k", "seg", "_cdc_seq").collect()),
            key=lambda t: (t[0] is None, t))

    got = st(True)
    assert got == st(False)
    assert (None, "nul2", 1) in got and (2, "b", 0) in got
    assert all(k != 4 for k, _, _ in got)


def test_mor_bucketed_pruned_compact_leaves_untouched_files(spark,
                                                            tmp_path):
    """Bucketed MoR: compaction must rewrite ONLY the touched bucket
    directories -- untouched bucket files stay byte-identical -- and
    the folded state must equal the plain reconcile."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"s{i}", 0) for i in range(200)],
        "k long, seg string, _cdc_seq long")
    M.mor_init(base, path, key_cols=["k"], n_buckets=32)
    ch = spark.createDataFrame(
        [(3, "upd", "U", 1), (7, None, "D", 1), (900, "new", "U", 1)],
        "k long, seg string, op string, seq long")
    M.mor_apply(ch, path, key_cols=["k"])
    want = sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .select("k", "seg", "_cdc_seq").collect()))
    from bodo_spark.operators.merge import _bucket_expr
    touched = {r[0] for r in ch.select(
        _bucket_expr(["k"], 32).alias("b")).distinct().collect()}
    tdirs = [f"mbucket={t}" for t in touched]

    def files():
        return {(p, os.path.getmtime(p), os.path.getsize(p))
                for p in glob.glob(os.path.join(path, "base", "**",
                                                "*.parquet"),
                                   recursive=True)
                if not any(os.sep + d + os.sep in p for d in tdirs)}

    before = files()
    M.mor_compact(spark, path, key_cols=["k"])
    assert files() == before and len(touched) < 32
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    got = sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                     .select("k", "seg", "_cdc_seq").collect()))
    assert got == want
    assert (3, "upd", 1) in got and (900, "new", 1) in got
    assert all(k != 7 for k, _, _ in got)


def _assert_fallback_compaction(spark, path, monkeypatch):
    """mor_compact must skip the sidecar fast path (the parser returns
    None) and fold the batch applied by the caller to the right table."""
    want = _state(spark, path)
    seen = []
    parse = M._touched_from_sidecars

    def spy(segs, nb):
        seen.append(parse(segs, nb))
        return seen[-1]

    monkeypatch.setattr(M, "_touched_from_sidecars", spy)
    M.mor_compact(spark, path, key_cols=["k"])
    assert seen == [None]
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    assert _state(spark, path) == want
    assert (3, "upd", 1) in want and (900, "new", 1) in want
    assert all(k != 7 for k, _, _ in want)


@pytest.mark.parametrize("bad", [
    [3, 7],
    {"n_buckets": 32},
    {"n_buckets": 32, "touched": [3, "7"]},
    {"n_buckets": 32, "touched": [99]},
], ids=["not-a-dict", "no-touched", "non-int-entry", "out-of-range"])
def test_mor_compact_malformed_sidecar_falls_back(spark, tmp_path,
                                                  monkeypatch, bad):
    """A touched-bucket sidecar that parses as JSON but has the wrong
    shape must make mor_compact take the distinct+collect fallback
    (never raise, never trust it) and fold to the correct table."""
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(i, f"s{i}", 0) for i in range(50)],
        "k long, seg string, _cdc_seq long"), path, key_cols=["k"],
        n_buckets=32)
    M.mor_apply(spark.createDataFrame(
        [(3, "upd", "U", 1), (7, None, "D", 1), (900, "new", "U", 1)],
        "k long, seg string, op string, seq long"), path, key_cols=["k"])
    cars = glob.glob(os.path.join(path, "delta", "*", "_touched.json"))
    assert cars
    for c in cars:
        with open(c, "w") as f:
            json.dump(bad, f)
    _assert_fallback_compaction(spark, path, monkeypatch)


def test_mor_apply_observation_wait_is_bounded(spark, tmp_path,
                                               monkeypatch):
    """mor_apply reads its touched-bucket Observation under the publish
    lock: a read that never completes must time out, not hang -- the
    apply returns without a sidecar and compaction folds through the
    distinct+collect fallback to the correct table."""
    import time
    from types import SimpleNamespace

    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(i, f"s{i}", 0) for i in range(50)],
        "k long, seg string, _cdc_seq long"), path, key_cols=["k"],
        n_buckets=32)

    class _Pending:
        def getRowOrEmpty(self):
            time.sleep(0.1)
            return SimpleNamespace(isDefined=lambda: False)

    observed = M._observed
    monkeypatch.setattr(M, "_OBSERVATION_WAIT_S", 0.5)
    monkeypatch.setattr(M, "_observed", lambda obs: observed(
        SimpleNamespace(_jo=_Pending())))
    t0 = time.monotonic()
    seg = M.mor_apply(spark.createDataFrame(
        [(3, "upd", "U", 1), (7, None, "D", 1), (900, "new", "U", 1)],
        "k long, seg string, op string, seq long"), path, key_cols=["k"])
    assert time.monotonic() - t0 < 60
    assert os.path.isdir(seg)
    assert not glob.glob(os.path.join(path, "delta", "*", "_touched.json"))
    assert not os.path.exists(f"{path}.__lock")
    _assert_fallback_compaction(spark, path, monkeypatch)


def test_mor_retained_time_travel_across_compaction(spark, tmp_path):
    """retain_history=True keeps PRE-compaction snapshots replayable:
    as-of reads for every global segment number must return the same
    states before and after compacting, and numbering stays global."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_apply(spark.createDataFrame(
        [(2, None, "D", 2), (9, "new", "U", 2)],
        "k long, seg string, op string, seq long"),
        path, key_cols=["k"])

    def st(n):
        return sorted(map(tuple, M.mor_read(
            spark, path, key_cols=["k"], as_of_segment=n)
            .select("k", "seg", "_cdc_seq").collect()))

    pre = {n: st(n) for n in (0, 1, 2)}
    M.mor_compact(spark, path, key_cols=["k"], retain_history=True)
    for n in (0, 1, 2):
        assert st(n) == pre[n], n
    # a post-compaction batch gets the next GLOBAL number and as-of
    # spanning base generations still resolves
    M.mor_apply(spark.createDataFrame(
        [(3, "c2", "U", 3)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    assert st(3) != pre[2]
    assert st(2) == pre[2]
    M.mor_compact(spark, path, key_cols=["k"], retain_history=True)
    for n in (0, 1, 2):
        assert st(n) == pre[n], n


def test_mor_unretained_compaction_raises_on_old_as_of(spark, tmp_path):
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"])  # no retention
    with pytest.raises(ValueError, match="retain_history"):
        M.mor_read(spark, path, key_cols=["k"], as_of_segment=0)
    # the head read is unaffected
    assert (1, "a2", 1) in _state(spark, path)


def test_mor_bucketed_compact_wide_touch_bulk_rewrite(spark, tmp_path):
    """When the delta log touches MOST buckets, compaction must fall
    back to one bulk bucketed rewrite (same state, layout preserved)
    instead of per-directory swaps."""
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"s{i}", 0) for i in range(64)],
        "k long, seg string, _cdc_seq long")
    M.mor_init(base, path, key_cols=["k"], n_buckets=4)
    ch = spark.createDataFrame(
        [(i, "upd", "U", 1) for i in range(0, 64, 2)],
        "k long, seg string, op string, seq long")
    M.mor_apply(ch, path, key_cols=["k"])
    want = sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .select("k", "seg", "_cdc_seq").collect()))
    M.mor_compact(spark, path, key_cols=["k"])
    got = sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                     .select("k", "seg", "_cdc_seq").collect()))
    assert got == want
    # layout preserved: the base is still bucket-partitioned
    assert glob.glob(os.path.join(path, "base", "mbucket=*"))
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    # and a follow-up SMALL batch still prunes through the same table
    M.mor_apply(spark.createDataFrame(
        [(1, "v2", "U", 2)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"])
    got2 = sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .select("k", "seg", "_cdc_seq").collect()))
    assert (1, "v2", 2) in got2 and len(got2) == 64


def test_mor_changes_incremental_pull(spark, tmp_path):
    """mor_changes([since, until)) applied onto the since snapshot must
    reproduce the until snapshot exactly -- including keys created and
    deleted within the range -- and cross a retained compaction."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1), (9, "tmp", "U", 1)],
        "k long, seg string, op string, seq long"), path,
        key_cols=["k"])
    M.mor_apply(spark.createDataFrame(
        [(9, None, "D", 2), (2, "b2", "U", 2)],
        "k long, seg string, op string, seq long"), path,
        key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"], retain_history=True)
    M.mor_apply(spark.createDataFrame(
        [(3, "c2", "U", 3)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    # pull [1, 3): batch 2 (archived) + batch 3 (live)
    pull = M.mor_changes(spark, path, key_cols=["k"], since_segment=1)
    got_ops = {(r["k"], r["op"]) for r in pull.collect()}
    assert got_ops == {(9, "D"), (2, "U"), (3, "U")}
    # replay: since-snapshot + pull == head
    snap1 = M.mor_read(spark, path, key_cols=["k"], as_of_segment=1)
    p2 = str(tmp_path / "replay")
    M.mor_init(snap1, p2)
    M.mor_apply(pull, p2, key_cols=["k"], op_col="op",
                src_seq_col="_cdc_seq")
    head = sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .select("k", "seg", "_cdc_seq").collect()))
    replayed = sorted(map(tuple, M.mor_read(spark, p2, key_cols=["k"])
                          .select("k", "seg", "_cdc_seq").collect()))
    assert replayed == head
    # empty range; bad ranges
    assert M.mor_changes(spark, path, key_cols=["k"],
                         since_segment=3).count() == 0
    with pytest.raises(ValueError, match="need 0 <= since"):
        M.mor_changes(spark, path, key_cols=["k"], since_segment=4)


def test_mor_changes_unretained_range_raises(spark, tmp_path):
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"])  # no retention
    with pytest.raises(ValueError, match="retain_history"):
        M.mor_changes(spark, path, key_cols=["k"], since_segment=0)


def test_mor_expire_snapshots_keeps_horizon(spark, tmp_path):
    """Expiry drops history strictly below the newest retained base
    generation <= keep_from; as-of reads at/after the horizon still
    replay exactly, older ones raise the unretained-compaction error."""
    path = _init(spark, tmp_path)

    def batch(k, seg, seq):
        return spark.createDataFrame(
            [(k, seg, "U", seq)], "k long, seg string, op string, "
                                  "seq long")

    M.mor_apply(batch(1, "v1", 1), path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"], retain_history=True)
    M.mor_apply(batch(2, "v2", 2), path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"], retain_history=True)
    M.mor_apply(batch(3, "v3", 3), path, key_cols=["k"])

    def st(n):
        return sorted(map(tuple, M.mor_read(
            spark, path, key_cols=["k"], as_of_segment=n)
            .select("k", "seg", "_cdc_seq").collect()))

    pre = {n: st(n) for n in (0, 1, 2, 3)}
    out = M.mor_expire_snapshots(path, keep_from=1)
    assert out["expired_bases"] == 1 and out["kept_from_gen"] == 1
    assert out["expired_segments"] == 1          # segment 0
    for n in (1, 2, 3):
        assert st(n) == pre[n], n
    with pytest.raises(ValueError, match="retain_history"):
        M.mor_read(spark, path, key_cols=["k"], as_of_segment=0)
    # incremental pull across the kept range still works
    assert M.mor_changes(spark, path, key_cols=["k"],
                         since_segment=1).count() == 2
    # expiring with nothing below the horizon is a no-op
    assert M.mor_expire_snapshots(path, keep_from=1)[
        "expired_bases"] == 0


def test_mor_auto_pruned_budget_switch_and_value_parity(spark, tmp_path):
    """pruned='auto' (the self-defending default) must pick the
    broadcast-pruned reconcile under the byte budget and the
    shuffle-window reconcile past it, with identical values either
    way; fail_above_amplification refuses pathological logs with
    compact guidance."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1), (9, "new", "U", 1), (2, None, "D", 1)],
        "k long, seg string, op string, seq long"), path, key_cols=["k"])
    segs = M._delta_dirs(path)
    assert 0 < M._tree_bytes(*segs) < (64 << 20)
    # under the default budget auto resolves to the pruned plan ...
    assert M._resolve_pruned("auto", segs, os.path.join(path, "base"),
                            broadcast_budget_bytes=64 << 20,
                            fail_above_amplification=None) is True
    # ... and past a 1-byte budget to the shuffle window
    assert M._resolve_pruned("auto", segs, os.path.join(path, "base"),
                            broadcast_budget_bytes=1,
                            fail_above_amplification=None) is False
    want = _state(spark, path)
    got_full = sorted(map(tuple, M.mor_read(
        spark, path, key_cols=["k"], broadcast_budget_bytes=1)
        .select("k", "seg", "_cdc_seq").collect()))
    assert got_full == want
    # a delta log larger than r x base refuses the read with guidance
    with pytest.raises(ValueError, match="mor_compact"):
        M.mor_read(spark, path, key_cols=["k"],
                   fail_above_amplification=0.001).collect()
    # explicit booleans and bad strings keep their contracts
    assert M._resolve_pruned(False, segs, path,
                            broadcast_budget_bytes=1,
                            fail_above_amplification=None) is False
    with pytest.raises(ValueError, match="auto"):
        M._resolve_pruned("always", segs, path,
                          broadcast_budget_bytes=1,
                          fail_above_amplification=None)


def test_mor_single_writer_lock(spark, tmp_path):
    """mor_apply/mor_compact are single-writer: a held publish lock
    makes the second mutator raise ConcurrentWriteError instead of
    interleaving (the Iceberg commit-conflict analogue)."""
    from bodo_spark.operators.merge import (ConcurrentWriteError,
                                            publish_lock)
    path = _init(spark, tmp_path)
    b = spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long")
    with publish_lock(path, owner="test-holder"):
        with pytest.raises(ConcurrentWriteError, match="test-holder"):
            M.mor_apply(b, path, key_cols=["k"])
        with pytest.raises(ConcurrentWriteError):
            M.mor_compact(spark, path, key_cols=["k"])
    # released -> both proceed
    M.mor_apply(b, path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"])
    assert _state(spark, path) == [(1, "a2", 1), (2, "b", 0),
                                   (3, "c", 0)]
    assert not os.path.exists(f"{path}.__lock")


def test_mor_stale_folded_segment_is_inert(spark, tmp_path):
    """The crash window between a compaction's meta commit and its
    segment removal leaves folded segments on disk: readers must
    filter them by number, numbering must not collide, and the next
    compaction must sweep them."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    seg0 = M._delta_dirs(path)[0]
    M.mor_compact(spark, path, key_cols=["k"])
    want = _state(spark, path)
    # simulate the crash: resurrect the folded segment under its old
    # number (below base_seg)
    stale = os.path.join(path, "delta", os.path.basename(seg0))
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "leftover"), "w") as f:
        f.write("x")
    assert M._delta_dirs(path) == []          # readers ignore it
    assert _state(spark, path) == want
    meta = M._read_meta(path)
    assert M._next_seg_num(path, meta) == meta["base_seg"]
    M.mor_apply(spark.createDataFrame(
        [(7, "z", "U", 2)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"])  # sweeps the leftover
    assert not os.path.isdir(stale)
    assert (1, "a2", 1) in _state(spark, path)


def test_cow_publish_single_writer(spark, tmp_path):
    from bodo_spark.operators.merge import (ConcurrentWriteError,
                                            cow_publish, publish_lock)
    p = str(tmp_path / "tbl")
    df = spark.range(5)
    df.write.parquet(p)
    with publish_lock(p, owner="other"):
        with pytest.raises(ConcurrentWriteError):
            cow_publish(spark.range(3), p)
    cow_publish(spark.range(3), p)
    assert spark.read.parquet(p).count() == 3


def test_mor_maintain_budgeted_compaction(spark, tmp_path):
    """The table service compacts ONLY past a budget: a small delta
    declines (base untouched -- same files), byte amplification past
    max_delta_fraction triggers the fold, and the segment-count bound
    fires even when the byte mass stays tiny."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    base_files = sorted(glob.glob(os.path.join(path, "base", "*")))
    # generous byte budget + segment budget: declines, no Spark job
    r = M.mor_maintain(spark, path, key_cols=["k"],
                       max_delta_fraction=100.0, max_segments=64)
    assert not r["compacted"] and r["n_segments"] == 1
    assert sorted(glob.glob(os.path.join(path, "base", "*"))) \
        == base_files
    # byte-amplification trigger
    r = M.mor_maintain(spark, path, key_cols=["k"],
                       max_delta_fraction=0.0, max_segments=64)
    assert r["compacted"] and "delta bytes" in r["reason"]
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    assert _state(spark, path) == [(1, "a2", 1), (2, "b", 0),
                                   (3, "c", 0)]
    # segment-count trigger under an infinite byte budget
    for s in (2, 3, 4):
        M.mor_apply(spark.createDataFrame(
            [(1, f"a{s + 1}", "U", s)],
            "k long, seg string, op string, seq long"),
            path, key_cols=["k"])
    r = M.mor_maintain(spark, path, key_cols=["k"],
                       max_delta_fraction=float("inf"), max_segments=2)
    assert r["compacted"] and "live segments" in r["reason"]
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    assert _state(spark, path) == [(1, "a5", 4), (2, "b", 0),
                                   (3, "c", 0)]


def test_mor_schema_evolution_lifecycle(spark, tmp_path):
    """Add-column evolution end-to-end: unknown columns refused
    without the flag (they used to be silently dropped at read);
    union-schema reads backfill pre-evolution rows with NULL in BOTH
    reconcile modes; compaction folds the column into the base; an
    OLD-PRODUCER batch (no evolved column) still applies after the
    fold and versions the column as NULL."""
    path = _init(spark, tmp_path)
    ev = spark.createDataFrame(
        [(2, "b2", 7, "U", 1), (9, "new", 3, "U", 1)],
        "k long, seg string, tier long, op string, seq long")
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        M.mor_apply(ev, path, key_cols=["k"])
    M.mor_apply(ev, path, key_cols=["k"], allow_schema_evolution=True)

    def state(**kw):
        return sorted(map(tuple,
                          M.mor_read(spark, path, key_cols=["k"], **kw)
                          .select("k", "seg", "tier", "_cdc_seq")
                          .collect()))
    want = [(1, "a", None, 0), (2, "b2", 7, 1), (3, "c", None, 0),
            (9, "new", 3, 1)]
    assert state(pruned=True) == want
    assert state(pruned=False) == want
    M.mor_compact(spark, path, key_cols=["k"])
    assert "tier" in spark.read.parquet(f"{path}/base").columns
    assert state() == want
    # old producer keeps working after the fold: tier versions as NULL
    old = spark.createDataFrame(
        [(2, "b3", "U", 2)], "k long, seg string, op string, seq long")
    M.mor_apply(old, path, key_cols=["k"])
    assert state() == [(1, "a", None, 0), (2, "b3", None, 2),
                       (3, "c", None, 0), (9, "new", 3, 1)]
    M.mor_compact(spark, path, key_cols=["k"])
    assert state() == [(1, "a", None, 0), (2, "b3", None, 2),
                       (3, "c", None, 0), (9, "new", 3, 1)]


def test_mor_apply_rejects_partial_batch(spark, tmp_path):
    """Full-row contract: a batch missing a payload column raises
    instead of silently nulling what it meant to keep."""
    path = _init(spark, tmp_path)
    partial = spark.createDataFrame(
        [(1, "U", 1)], "k long, op string, seq long")
    with pytest.raises(ValueError, match="missing payload columns"):
        M.mor_apply(partial, path, key_cols=["k"])


def test_mor_schema_evolution_bucketed_bulk_fold(spark, tmp_path):
    """Evolution on a BUCKETED base: the touched-dirs-only compaction
    would leave the new column in some bucket dirs only (partitioned
    tables keep ONE schema), so the evolving fold must take the bulk
    rewrite -- every bucket dir carries the column afterwards and the
    state is exact."""
    path = str(tmp_path / "tb")
    M.mor_init(spark.createDataFrame(
        [(k, f"s{k}", 0) for k in range(1, 9)],
        "k long, seg string, _cdc_seq long"), path,
        key_cols=["k"], n_buckets=4)
    ev = spark.createDataFrame(
        [(1, "s1b", 5, "U", 1)],
        "k long, seg string, tier long, op string, seq long")
    M.mor_apply(ev, path, key_cols=["k"], allow_schema_evolution=True)
    M.mor_compact(spark, path, key_cols=["k"])
    import pyarrow.parquet as pq_
    for d in glob.glob(os.path.join(path, "base", "mbucket=*")):
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert files and all(
            "tier" in pq_.read_schema(f).names for f in files), \
            f"bucket dir {d} missing evolved column"
    got = sorted(map(tuple,
                     M.mor_read(spark, path, key_cols=["k"])
                     .select("k", "seg", "tier").collect()))
    assert got == [(1, "s1b", 5)] + [(k, f"s{k}", None)
                                     for k in range(2, 9)]


def test_mor_compact_rebucket_partition_evolution(spark, tmp_path):
    """Partition evolution at compaction: plain -> bucketed,
    re-bucketed to a new count, and flattened back -- each re-layout
    folds the log, preserves the state exactly, updates the table
    meta, and leaves the base in the target layout (pruned compaction
    and bucketed reads pick it up)."""
    path = _init(spark, tmp_path)
    M.mor_apply(spark.createDataFrame(
        [(1, "a2", "U", 1), (9, "new", "U", 1)],
        "k long, seg string, op string, seq long"), path,
        key_cols=["k"])
    want = [(1, "a2", 1), (2, "b", 0), (3, "c", 0), (9, "new", 1)]
    # plain -> 4 buckets (fold + re-layout in one rewrite)
    M.mor_compact(spark, path, key_cols=["k"], n_buckets=4)
    assert M._read_meta(path)["n_buckets"] == 4
    assert len(glob.glob(os.path.join(path, "base", "mbucket=*"))) > 0
    assert _state(spark, path) == want
    # 4 -> 8 with a fresh delta folded in the same pass
    M.mor_apply(spark.createDataFrame(
        [(2, None, "D", 2)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"], n_buckets=8)
    assert M._read_meta(path)["n_buckets"] == 8
    want2 = [(1, "a2", 1), (3, "c", 0), (9, "new", 1)]
    assert _state(spark, path) == want2
    assert M.mor_delta_stats(spark, path)["n_segments"] == 0
    # bucketed -> flat (re-layout with an EMPTY delta log)
    M.mor_compact(spark, path, key_cols=["k"], n_buckets=None)
    assert M._read_meta(path)["n_buckets"] is None
    assert not glob.glob(os.path.join(path, "base", "mbucket=*"))
    assert _state(spark, path) == want2
    # a later touched-dirs compaction works under the evolved layout
    M.mor_compact(spark, path, key_cols=["k"], n_buckets=16)
    M.mor_apply(spark.createDataFrame(
        [(3, "c2", "U", 3)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    M.mor_compact(spark, path, key_cols=["k"])
    assert _state(spark, path) == [(1, "a2", 1), (3, "c2", 3),
                                   (9, "new", 1)]


def test_mor_lookup_point_reads(spark, tmp_path):
    """Point lookup ≡ filtered full read on bucketed AND plain tables,
    across upserts, deletes, evolution, and missing/empty keys."""
    for nb in (None, 4):
        path = str(tmp_path / f"t{nb}")
        M.mor_init(spark.createDataFrame(
            [(k, f"s{k}", 0) for k in range(20)],
            "k long, seg string, _cdc_seq long"), path,
            key_cols=["k"], n_buckets=nb)
        M.mor_apply(spark.createDataFrame(
            [(3, "u3", "U", 1), (5, None, "D", 1), (77, "new", "U", 1)],
            "k long, seg string, op string, seq long"), path,
            key_cols=["k"])
        got = sorted(map(tuple, M.mor_lookup(
            spark, path, [3, 5, 7, 77, 999], key_cols=["k"])
            .collect()))
        assert got == [(3, "u3", 1), (7, "s7", 0), (77, "new", 1)]
        assert M.mor_lookup(spark, path, [],
                            key_cols=["k"]).count() == 0
        with pytest.raises(ValueError, match="NULL lookup keys"):
            M.mor_lookup(spark, path, [None], key_cols=["k"])


def test_mor_lookup_prunes_bucket_partitions(spark, tmp_path):
    """Plan contract for the serving read: the base scan carries a
    literal bucket IN list as PartitionFilters (a plain filtered
    mor_read cannot -- the bucket hash is underivable from the key
    predicate), so a point lookup opens a few bucket dirs of a 100-TB
    base, not all of them."""
    import re
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(k, f"s{k}", 0) for k in range(64)],
        "k long, seg string, _cdc_seq long"), path,
        key_cols=["k"], n_buckets=16)
    M.mor_apply(spark.createDataFrame(
        [(1, "u", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    df = M.mor_lookup(spark, path, [3, 7], key_cols=["k"])
    p = df._jdf.queryExecution().executedPlan().toString()
    # base scans are the ones carrying the partition column in their
    # output (explain truncates Location paths, so match on schema)
    base_scans = [ln for ln in p.splitlines()
                  if "FileScan" in ln and "mbucket" in
                  ln.split("Batched")[0]]
    assert base_scans, p
    for ln in base_scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", ln)
        assert m and "mbucket" in m.group(1) \
            and " IN " in m.group(1), ln
