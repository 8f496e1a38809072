import time

from perfbench import run


class FakeContext:
    def __init__(self):
        self.cancels = 0

    def cancelAllJobs(self):
        self.cancels += 1


class FakeSpark:
    def __init__(self):
        self.sparkContext = FakeContext()


def bench_run():
    r = run.Run.__new__(run.Run)
    r.spark = FakeSpark()
    return r


def test_deadline_cancels_jobs_of_a_slow_execution(monkeypatch):
    monkeypatch.setattr(run, "ENTRY_TIMEOUT_S", 0.05)
    r = bench_run()
    with r._deadline() as timed_out:
        time.sleep(0.3)
    assert timed_out and r.spark.sparkContext.cancels == 1


def test_deadline_leaves_a_fast_execution_alone(monkeypatch):
    monkeypatch.setattr(run, "ENTRY_TIMEOUT_S", 0.5)
    r = bench_run()
    with r._deadline() as timed_out:
        pass
    time.sleep(0.6)  # the timer was cancelled, not merely not yet fired
    assert not timed_out and r.spark.sparkContext.cancels == 0
