"""Event-log parsing, job-to-span attribution and self-time arithmetic.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log recorded from two
small queries (an Arrow-UDF image hash and a group-by), trimmed to the
records and fields the parser reads.
"""

import os

import pytest

import spans

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
T = 1792212670.0  # the log's epoch seconds, minus a round offset


@pytest.fixture(scope="module")
def jobs():
    with open(LOG) as fh:
        return spans.parse_event_log(fh)


def _span(i, parent, name, lo, hi):
    return spans.Span(id=i, parent=parent, name=name, detail="", start=T + lo, end=T + hi)


def test_parse_counts_and_sums(jobs):
    assert [j.id for j in jobs] == list(range(11))
    total = spans.sum_metrics(jobs)
    assert total["jobs"] == 11
    assert total["stages"] == 11  # stages listed but skipped are not counted
    assert total["tasks"] == 12
    assert total["failed_tasks"] == 0
    assert total["task_run_s"] == pytest.approx(4.119)
    assert total["shuffle_write_bytes"] == 2128
    assert total["python_bytes_sent"] == 154536
    assert total["python_bytes_received"] == 110512
    assert jobs[1].submit == pytest.approx(T + 7.430)
    assert jobs[1].end == pytest.approx(T + 9.151)


def test_task_wait_is_launch_minus_stage_submit(jobs):
    # one task in stage 0: submitted at ...74971 ms, launched at ...75083 ms
    assert jobs[0].metrics["task_wait_s"] == pytest.approx(0.112)


def test_attribution_picks_innermost_enclosing_span(jobs):
    ss = [
        _span(0, None, "query_a", 4.9, 5.5),
        _span(1, None, "query_b", 7.4, 9.2),
        _span(2, 1, "sink", 7.48, 9.16),  # jobs from a worker thread
        _span(3, None, "rest", 9.5, 11.6),
    ]
    by = spans.attribute(ss, jobs)
    assert [j.id for j in by[0]] == [0]
    assert [j.id for j in by[1]] == [1]  # submitted before "sink" began
    assert [j.id for j in by[2]] == [2]
    assert [j.id for j in by[3]] == [4, 5, 6, 7, 8, 9, 10]
    # job 3 (submitted at +9.293) falls between spans
    assert 3 not in {j.id for js in by.values() for j in js}
    assert [j.id for j in spans.subtree_jobs(ss, by, 1)] == [1, 2]


def test_self_time_subtracts_children_and_jobs(jobs):
    ss = [_span(0, None, "query_b", 7.4, 9.2), _span(1, 0, "sink", 7.48, 9.16)]
    by = spans.attribute(ss, jobs)
    self_t = spans.self_times(ss, by)
    # union of job 1 [7.430, 9.151] and child [7.48, 9.16] is [7.43, 9.16]
    assert self_t[0] == pytest.approx(1.8 - 1.73, abs=1e-6)
    # the child's own job 2 [7.485, 9.147] covers all but its edges
    assert self_t[1] == pytest.approx(1.68 - 1.662, abs=1e-6)


@pytest.mark.parametrize(
    "intervals, want",
    [
        ([], 0.0),
        ([(1, 2)], 1.0),
        ([(1, 3), (2, 4)], 3.0),  # overlap counted once
        ([(1, 2), (3, 4)], 2.0),  # disjoint
        ([(1, 2), (2, 3)], 2.0),  # touching
        ([(-5, 1), (9, 20)], 2.0),  # clipped to [0, 10]
        ([(11, 12)], 0.0),  # outside
        ([(2, 8), (3, 4)], 6.0),  # nested
    ],
)
def test_covered(intervals, want):
    assert spans.covered(0.0, 10.0, intervals) == pytest.approx(want)


def test_tracer_nesting_and_dump():
    tr = spans.Tracer("run-1")
    with tr.span("op", "warm"):
        with tr.span("inner"):
            pass
    with tr.span("next"):
        pass
    d = tr.dump()
    assert [(s["name"], s["parent"]) for s in d] == [("op", None), ("inner", 0), ("next", None)]
    assert all(s["run_id"] == "run-1" and s["end"] >= s["start"] for s in d)
    assert [s.id for s in spans.descendants(tr.spans, 0)] == [1]
