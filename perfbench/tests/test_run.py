import time
from contextlib import nullcontext

from perfbench.run import run_operation
from perfbench.workloads import Operation


class FakeContext:
    def __init__(self):
        self.cancels = 0

    def cancelAllJobs(self):
        self.cancels += 1


def no_span(layer, name):
    return nullcontext()


def test_operation_within_its_limit_returns_its_result():
    op = Operation("q", "", lambda: 2, lambda x: x * 21)
    assert run_operation(op, FakeContext(), 5.0, no_span) == (42, None)


def test_operation_that_raises_reports_the_error():
    def boom(_df):
        raise ValueError("bad")

    op = Operation("q", "", lambda: None, boom)
    result, err = run_operation(op, FakeContext(), 5.0, no_span)
    assert result is None and err == "ValueError: bad"


def test_overrun_between_jobs_fails_even_when_the_operation_ends_cleanly():
    # the limit passes while the driver is busy (no job to cancel); the
    # operation then finishes normally but must still count as failed
    sc = FakeContext()
    op = Operation("q", "", lambda: time.sleep(0.2), lambda _df: "late result")
    assert run_operation(op, sc, 0.05, no_span) == (None, "time limit exceeded")
    assert sc.cancels == 1


def test_cancelled_operation_reports_the_limit_not_the_cancellation():
    def cancelled(_df):
        time.sleep(0.2)
        raise RuntimeError("Job cancelled")

    op = Operation("q", "", lambda: None, cancelled)
    assert run_operation(op, FakeContext(), 0.05, no_span) == (None, "time limit exceeded")
