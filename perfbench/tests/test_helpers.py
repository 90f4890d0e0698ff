"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, workloads  # noqa: E402
from perfbench.spans import (  # noqa: E402
    JobIndex,
    Span,
    Tracer,
    event_log_files,
    max_task_skew,
    read_event_log,
    self_times,
)
from perfbench.stats import beyond, percentile, tail_percentile, union_length  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# --- percentile selection ------------------------------------------------------


def test_percentile_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([7.0], 90) == 7.0
    assert percentile([3, 1, 2], 50) == 2


def test_beyond_counts_samples_above_the_percentile():
    assert beyond(100, 90) == 10
    assert beyond(100, 99) == 1
    assert beyond(40, 75) == 10


@pytest.mark.parametrize(
    "n, want_p",
    [
        (100, 90.0),  # p95 has 5 beyond, p90 has 10
        (200, 95.0),  # p95 has 10 beyond
        (1000, 99.0),  # p99 has 10 beyond, p99.9 has 1
        (10_000, 99.9),
        (50, 80.0),
        (40, 75.0),
        (20, 50.0),
    ],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, want_p):
    xs = [float(i) for i in range(n)]
    p, value, count = tail_percentile(xs)
    assert p == want_p
    assert count == n
    assert value == percentile(xs, want_p)
    assert beyond(n, p) >= 10


def test_tail_percentile_none_when_too_few_samples():
    assert tail_percentile([1.0] * 19) is None


# --- event log --------------------------------------------------------------------


def test_event_log_files_in_write_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (2, 1, 10):
        (d / f"events_{i}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(f) for f in event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_parse_captured_event_log():
    """The log was captured from a 2-core session running a grouped
    count under job group g1 and a plain count under g2, and trimmed to
    the events and fields the parser reads."""
    jobs = read_event_log(DATA)
    assert sorted(jobs) == [0, 1, 2, 3]
    idx = JobIndex(jobs)
    assert sorted(j.job_id for j in idx.by_group["g1"]) == [0, 1]
    assert sorted(j.job_id for j in idx.by_group["g2"]) == [2, 3]
    j0 = jobs[0]
    assert (j0.submit_ms, j0.end_ms) == (1792206025298, 1792206025910)
    assert j0.run_ms == 258 + 260
    assert j0.cpu_ns == 82184567 + 216178288
    assert j0.gc_ms == 28
    assert j0.shuffle_write_bytes == 364
    assert j0.task_ms == {0: [383, 402]}
    assert j0.spill_bytes == 0
    # job time of g1: two disjoint job intervals
    busy = JobIndex.busy_s(idx.by_group["g1"])
    assert busy == pytest.approx((1792206025910 - 1792206025298 + 1792206026286 - 1792206026041) / 1000)
    assert max_task_skew(list(jobs.values())) == pytest.approx(402 / 392.5)


# --- span arithmetic --------------------------------------------------------------


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6 = 5
        Span("c", 9.0, 12.0, parent=0),  # runs past the parent: clipped to 1
        Span("a.1", 2.0, 3.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 3.0, 1.0])


def test_spans_written_with_self_time(tmp_path):
    import json

    tr = Tracer()
    tr.spans = [Span("op", 0.0, 10.0), Span("a", 1.0, 4.0, parent=0)]
    tr.write(str(tmp_path / "spans.json"))
    out = json.loads((tmp_path / "spans.json").read_text())
    assert [(s["name"], s["parent"]) for s in out] == [("op", None), ("a", 0)]
    assert [s["self_s"] for s in out] == pytest.approx([7.0, 3.0])


# --- run plan -----------------------------------------------------------------------


def test_plan_gives_the_named_family_the_extra_seconds():
    m = workloads.MIN_PLAN
    extra = 12
    seconds = workloads.MIN_PLAN_S + extra
    assert workloads.plan("unary_rw", workloads.MIN_PLAN_S) == m
    u = workloads.plan("unary_rw", seconds)
    assert (u.unary_ops, u.bulk_reps, u.analytics_passes, u.live_steps) == (
        m.unary_ops + extra, m.bulk_reps, m.analytics_passes, m.live_steps
    )
    c = workloads.plan("connector", seconds)
    assert c.live_steps > m.live_steps and c.unary_ops == m.unary_ops
    # every family keeps its minimum share whatever the workload
    for w in ("unary_rw", "bulk_ingest", "analytics", "connector"):
        p = workloads.plan(w, 0)
        assert p == m


def test_union_length_merges_overlaps_and_drops_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([]) == 0


def test_busy_clipped_to_span():
    from perfbench.spans import Job

    jobs = [Job(0, "g", 1000, 3000), Job(1, "g", 2500, 5000)]
    assert JobIndex.busy_s(jobs) == pytest.approx(4.0)
    assert JobIndex.busy_s(jobs, 2.0, 4.0) == pytest.approx(2.0)


# --- inputs -------------------------------------------------------------------------


def test_inputs_are_seeded_and_mixed():
    import zlib

    a = gen.unary_ops(5, 3, 2, 10, 1024)
    assert a == gen.unary_ops(5, 3, 2, 10, 1024)
    assert a != gen.unary_ops(6, 3, 2, 10, 1024)
    assert [s for s, _ in a] == ["s0", "s1", "s0"]
    body = a[0][1][0]
    assert len(body) == 1024
    # half random bytes, half text: the text half compresses, the
    # random half does not
    half = int(len(body) * gen.COMPRESSIBLE_FRAC)
    assert len(zlib.compress(body[-half:])) < 0.6 * half
    assert len(zlib.compress(body[:-half])) > 0.95 * (len(body) - half)


def test_text_is_vocabulary_words_of_exact_length():
    import numpy as np

    for n in (1, 7, 5000):
        t = gen._text(np.random.default_rng(n), n).tobytes()
        assert len(t) == n
    words = gen._text(np.random.default_rng(0), 5000).tobytes().decode().split(" ")
    assert set(words[:-1]) <= set(gen._VOCAB)


def test_analytics_tables_seeded():
    t1 = gen.analytics_tables(3, 0.01)
    t2 = gen.analytics_tables(3, 0.01)
    assert all(t1[k].equals(t2[k]) for k in t1)
    ev = t1["events"].to_pydict()
    assert ev["ts"] == sorted(ev["ts"])
    assert ev["event_id"] == list(range(len(ev["event_id"])))
