"""Event-log parsing and the span/job-group join.

``data/eventlog_tiny.jsonl`` is a Spark 4 event log, cut down to the
fields the parser reads, of this session on ``local[2]`` with
``spark.shuffle.spill.numElementsForceSpillThreshold=50``:

    sc.setJobGroup("r.0", ...)   # jobs 0, 1: repartition + sort (spills) to noop
    sc.setJobGroup("r.1", ...)   # jobs 2, 3: groupBy count, collected
    <no group>                   # jobs 4, 5: range(5).count()
"""

import os

import pytest

from tracing import Recorder, Span, parse_event_log, span_spark, subtree_ids, union_seconds

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG, encoding="utf-8") as f:
        return parse_event_log(f)


def test_union_of_overlapping_intervals():
    assert union_seconds([]) == 0
    assert union_seconds([(5, 6), (0, 2), (1, 3)]) == 4
    assert union_seconds([(0, 10), (2, 3)]) == 10


def test_jobs_and_stages_carry_their_group(log):
    assert {j: log.jobs[j].group for j in log.jobs} == {0: "r.0", 1: "r.0", 2: "r.1", 3: "r.1",
                                                       4: None, 5: None}
    assert [log.jobs[j].end_ms - log.jobs[j].start_ms for j in (0, 1, 2, 3)] == [530, 353, 126, 67]
    assert {s: log.stages[s].group for s in log.stages} == {0: "r.0", 2: "r.0", 3: "r.1", 5: "r.1",
                                                           6: None, 8: None}


def test_span_join_driver_gap_shuffle_and_spill(log):
    # a root span over both groups, with one child span per group
    t0 = 1792210843.800
    spans = [Span("r.p", "day", None, "r", t0, t0 + 2.0),
             Span("r.0", "sort", "r.p", "r", t0, t0 + 1.2),
             Span("r.1", "agg", "r.p", "r", t0 + 1.5, t0 + 1.9)]
    ids = subtree_ids(spans)
    assert ids["r.p"] == {"r.p", "r.0", "r.1"}

    sort = span_spark(spans[1], ids["r.0"], log)
    assert (sort.jobs, sort.stages, sort.tasks) == (2, 2, 4)
    # jobs 0 and 1 cover 530 + 353 ms of the 1.2 s span
    assert sort.driver_gap_s == pytest.approx(1.2 - 0.883)
    assert sort.shuffle_write == 1979 + 2581
    assert sort.shuffle_read == 2010 + 2550
    assert sort.spill == 2378 + 3066
    assert sort.executor_run_s == pytest.approx((154 + 154 + 247 + 247) / 1000)
    assert sort.gc_s == pytest.approx((6 + 6 + 28 + 28) / 1000)
    assert sort.worst_skew == 1.0

    day = span_spark(spans[0], ids["r.p"], log)
    assert (day.jobs, day.tasks) == (4, 7)
    assert day.driver_gap_s == pytest.approx(2.0 - (0.530 + 0.353 + 0.126 + 0.067))
    assert day.spill == sort.spill and day.shuffle_write == sort.shuffle_write + 133 + 133


def test_job_intervals_are_clipped_to_the_span(log):
    t0 = 1792210843.892 + 0.1  # starts inside job 0
    s = Span("r.0", "late", None, "r", t0, t0 + 0.2)
    assert span_spark(s, {"r.0"}, log).driver_gap_s == pytest.approx(0.0)


class FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, description):
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_recorder_counts_failures_and_tags_spans():
    sc = FakeContext()
    rec = Recorder("run", sc=sc)
    with rec.batch(), rec.span("day"):
        assert rec.call("ok", lambda: 7) == 7
        assert rec.call("status", lambda: {"success": False, "details": {}}) is None
        assert rec.call("boom", lambda: 1 / 0) is None
    assert (rec.attempted, rec.failed) == (3, 2)
    assert list(rec.samples) == ["ok"] and len(rec.batches) == 1 and rec.batches[0] > 0
    day, ok = rec.spans[0], rec.spans[1]
    assert ok.parent == day.id and day.parent is None and ok.run == "run"
    # a child restores its parent's group; the root clears it
    assert sc.calls[:3] == [("group", day.id), ("group", ok.id), ("group", day.id)]
    assert sc.calls[-1] == ("spark.job.description", None)


def test_step_is_one_sample_unless_a_call_in_it_failed():
    rec = Recorder("run")
    with rec.step("read-back"):
        rec.call("a", lambda: 1)
        rec.call("b", lambda: 2)
    with rec.step("read-back"):
        rec.call("a", lambda: 1 / 0)
    assert len(rec.samples["read-back"]) == 1 and rec.attempted == 3 and rec.failed == 1
