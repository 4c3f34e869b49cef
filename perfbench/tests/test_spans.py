"""Job time is the union of job intervals, attributed to spans."""

import pytest

from perfbench.spans import (Span, attribute, bytes_created, clipped,
                             interval_union)


def test_union_counts_overlap_once():
    # 0-4 and 2-6 overlap on 2-4; 8-9 is disjoint; 8.5-8.7 is nested
    jobs = [(2, 6), (0, 4), (8, 9), (8.5, 8.7)]
    assert interval_union(jobs) == pytest.approx(7.0)
    assert sum(e - s for s, e in jobs) == pytest.approx(9.2)


def test_union_edge_cases():
    assert interval_union([]) == 0.0
    assert interval_union([(1, 1), (3, 2)]) == 0.0
    assert interval_union([(0, 1), (1, 2)]) == pytest.approx(2.0)
    assert interval_union([(0, 10), (1, 2), (3, 4)]) == pytest.approx(10.0)


def test_clip_to_span():
    assert clipped([(0, 5), (6, 7), (9, 12)], 2, 10) == [(2, 5), (6, 7),
                                                        (9, 10)]


def _job(i, group, start, end, stages=()):
    return {"id": i, "group": group, "start": start, "end": end,
            "stage_ids": list(stages)}


def test_attribute_union_gap_and_stage_measures():
    spans = [Span(0, "bench.pass", None, 0.0, 20.0),
             Span(1, "operators.mor.mor_apply", 0, 1.0, 11.0),
             Span(2, "operators.mor.mor_read", 0, 12.0, 19.0)]
    spans[1].bytes_written = 1234
    jobs = [_job(0, "pb-1", 2.0, 7.0, [0]), _job(1, "pb-1", 5.0, 9.0, [1]),
            _job(2, None, 13.0, 14.0, [2]),  # no group: matched by time
            _job(3, "other", 30.0, 31.0, [3])]
    stages = {i: {"executor_cpu_s": 1.0, "gc_s": 0.5, "shuffle_bytes": 10,
                  "input_bytes": 100} for i in range(4)}
    m = attribute(spans, jobs, stages)
    apply_ = m[1]
    assert apply_["jobs"] == 2
    assert apply_["job_s"] == pytest.approx(7.0)  # 2-9, not 5 + 4
    assert apply_["driver_gap_s"] == pytest.approx(3.0)
    assert apply_["executor_cpu_s"] == pytest.approx(2.0)
    assert apply_["bytes_written"] == 1234
    assert m[2]["jobs"] == 1 and m[2]["job_s"] == pytest.approx(1.0)
    top = m[0]
    assert top["jobs"] == 3 and top["job_s"] == pytest.approx(8.0)
    assert top["self_s"] == pytest.approx(20.0 - 17.0)


def test_bytes_created_counts_new_and_rewritten_files():
    before = {"a": 10, "b": 20}
    after = {"a": 10, "b": 25, "c": 5}
    assert bytes_created(before, after) == 30


def test_traced_blocks_go_abba_and_swap_on_odd_seeds():
    from perfbench.run import traced_block

    even = [traced_block(b, 2) for b in range(8)]
    odd = [traced_block(b, 3) for b in range(8)]
    assert even == [False, True, True, False] * 2
    assert odd == [not t for t in even]
