"""The shard runner's helpers in conftest.py: worker sizing, flag
pass-through and the dead-JVM stop. Pure Python -- no Spark session."""

import os
import subprocess
import types

import conftest


def test_worker_flags_keep_empty_option_values(monkeypatch):
    """`pytest -m "" tests/` must reach every worker as `-m ""`: the
    empty markexpr resolves to the working directory under abspath and
    used to be dropped as if it were the suite path, leaving `-m` to
    swallow the next flag in every worker."""
    tests_dir = os.path.dirname(os.path.abspath(conftest.__file__))
    root = os.path.dirname(tests_dir)
    monkeypatch.chdir(root)
    suite = (tests_dir, root)
    args = ["tests/", "-q", "-m", "", "-p", "no:cacheprovider"]
    assert conftest._worker_flags(args, suite) == [
        "-q", "-m", "", "-p", "no:cacheprovider",
    ]
    # the suite path itself is still re-sharded away in any spelling
    assert conftest._worker_flags([".", tests_dir, "-x"], suite) == ["-x"]


def test_suite_sizing_from_cpus_and_memory():
    # a 4-core / ~15 GB host: two workers, heap = share minus overhead
    assert conftest._suite_sizing(4, 15.2) == (2, 5)
    # a large host keeps the old fleet: four workers at the 8 GB default
    assert conftest._suite_sizing(32, 120.0) == (4, 8)
    # memory, not cores, bounds the fleet when it is short
    assert conftest._suite_sizing(32, 13.0) == (2, 4)
    assert conftest._suite_sizing(32, 5.0)[0] == 1
    # no MemAvailable reading: the CPU bound and the default heap
    assert conftest._suite_sizing(4, None) == (2, 8)
    # an explicit worker count still gets a heap that fits
    assert conftest._worker_heap_gb(4, 15.2) == 1
    assert conftest._worker_heap_gb(1, 15.2) == 8


def test_dead_jvm_stops_run_with_one_line(monkeypatch):
    from pyspark import SparkContext

    class Proc:
        code = None

        def wait(self, timeout):
            if self.code is None:
                raise subprocess.TimeoutExpired("java", timeout)
            return self.code

    proc = Proc()
    monkeypatch.setattr(SparkContext, "_gateway", types.SimpleNamespace(proc=proc))
    monkeypatch.setenv("LS_SUITE_WORKER", "1")
    session = types.SimpleNamespace(shouldstop=False)
    item = types.SimpleNamespace(session=session, nodeid="tests/test_x.py::test_y")
    failed = types.SimpleNamespace(excinfo=object())

    # a failure while the JVM runs is an ordinary failure
    conftest.pytest_runtest_makereport(item, failed)
    assert session.shouldstop is False

    proc.code = -9
    # a passing test never probes
    conftest.pytest_runtest_makereport(item, types.SimpleNamespace(excinfo=None))
    assert session.shouldstop is False
    conftest.pytest_runtest_makereport(item, failed)
    reason = (
        "JVM died (likely OOM) in worker 1, last test "
        "tests/test_x.py::test_y (exit code -9)"
    )
    assert session.shouldstop == reason
    # the parent finds the reason in the worker's interrupted summary
    log = f"1 failed, 3 passed\n!!!!! Interrupted: {reason} !!!!!\n"
    assert conftest._JVM_DIED_RE.findall(log) == [reason]
