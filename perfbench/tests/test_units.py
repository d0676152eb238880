"""Self-tests of the benchmark's pure parts: the percentile rule, the
event-log parser, the span tracer, the memory sampler's process
classes and the wait for a run's processes.

    python3 -m pytest perfbench/tests/test_units.py -q
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import eventlog, host  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from perfbench.stats import (percentile, quartile_spread,  # noqa: E402
                             tail_percentile)


# ------------------------------------------------------------ percentiles
@pytest.mark.parametrize("n", [1, 2, 7, 100, 1001])
@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(n, q):
    xs = [random.Random(n).uniform(0, 100) for _ in range(n)]
    assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize("n,q", [
    (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_keeps_ten_beyond(n, q):
    assert tail_percentile(n) == q
    if q is not None:
        assert round(n * (100 - q) / 100, 9) >= 10


def test_quartile_spread_is_iqr_over_median():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 12.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx(
        (q3 - q1) / statistics.median(xs))


# -------------------------------------------------------------- event log
def _task(stage, run_ms, cpu_ns, gc_ms=0, shuffle=0, spill=0, py=None):
    acc = []
    if py:
        for name, v in zip(("time to run Python workers",
                            "data sent to Python workers",
                            "data returned from Python workers"), py):
            acc.append({"ID": 1, "Name": name, "Update": str(v),
                        "Value": str(v)})
    acc.append({"ID": 2, "Name": "number of output rows", "Update": "5"})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _job(job, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job,
            "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group}}


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": stage}}


def test_eventlog_sums_only_the_group(tmp_path):
    events = [
        _job(0, "setup", [0]), _stage_done(0), _task(0, 999, 10**9),
        _job(1, "op00000", [1, 2]),
        _task(1, 100, 2 * 10**8, gc_ms=5, shuffle=300, py=(40, 1000, 50)),
        _task(1, 300, 4 * 10**8, gc_ms=15, shuffle=100, spill=7,
              py=(60, 3000, 150)),
        _stage_done(1),
        _task(2, 50, 10**8), _stage_done(2),
        _job(2, "check", [3]), _task(3, 500, 10**9), _stage_done(3),
        _job(3, "op00001", [4]), _task(4, 10, 10**7), _stage_done(4),
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events)
                 + "\n{\"Event\": \"torn")
    t = eventlog.parse(str(p), "op")
    assert (t.jobs, t.stages, t.tasks) == (2, 3, 4)
    assert t.executor_cpu_s == pytest.approx(0.71)
    assert t.gc_s == pytest.approx(0.02)
    assert t.shuffle_write_bytes == 400
    assert t.spill_bytes == 7
    assert t.python_worker_s == pytest.approx(0.1)
    assert (t.python_bytes_sent, t.python_bytes_returned) == (4000, 200)
    # only stage 1 has two tasks: max 300 / median 200
    assert t.task_skew() == pytest.approx(1.5)


def test_eventlog_skew_defaults_to_one(tmp_path):
    p = tmp_path / "log"
    p.write_text(json.dumps(_job(0, "op0", [0])) + "\n"
                 + json.dumps(_task(0, 10, 1)) + "\n")
    assert eventlog.parse(str(p), "op").task_skew() == 1.0


# ------------------------------------------------------------------ spans
def test_spans_nest_and_total():
    tr = Tracer(True)
    with tr.span("op"):
        with tr.span("run"):
            with tr.span("write.a"):
                pass
        with tr.span("retention"):
            with tr.span("write.a"):
                pass
    names = [(s.name, tr.parent_name(s)) for s in tr.spans]
    assert names == [("op", None), ("run", "op"), ("write.a", "run"),
                     ("retention", "op"), ("write.a", "retention")]
    both = tr.total("write.a")
    under_run = tr.total("write.a", parent="run")
    assert 0 <= under_run <= both
    assert all(s.t1 >= s.t0 for s in tr.spans)


def test_disabled_tracer_records_nothing():
    class C:
        def f(self, x):
            return x + 1

    tr = Tracer(False)
    tr.wrap_method(C, "f", lambda *_a: "f")
    with tr.span("op"):
        assert C().f(1) == 2
    assert tr.spans == [] and not hasattr(C.f, "__wrapped__")


def test_wrap_method_times_each_call():
    class C:
        def f(self, x, name):
            return x * 2

    tr = Tracer(True)
    tr.wrap_method(C, "f", lambda _self, _x, name: f"f.{name}")
    assert C().f(3, "t") == 6
    assert [s.name for s in tr.spans] == ["f.t"]


# ------------------------------------------------------------- processes
def _stat(pid: int, comm: str, ppid: int, rss_pages: int) -> str:
    return f"{pid} ({comm}) S {ppid} " + "0 " * 19 + f"{rss_pages} 0"


def test_tree_mem_leaves_out_jvm_spawns(monkeypatch):
    """A child the JVM spawns runs the java executable in the JVM's
    memory until it execs; it counts neither as Python nor twice."""
    procs = {  # pid: (name, parent, executable, RSS pages)
        10: ("python3", 1, "python3.11", 100),
        11: ("java", 10, "java", 1000),
        12: ("python", 11, "python3.11", 10),
        13: ("python", 12, "python3.11", 20),
        14: ("Executor task l", 11, "java", 1000),
        15: ("chmod", 11, "chmod", 1),
    }
    stats = {p: _stat(p, n, pp, r) for p, (n, pp, _e, r) in procs.items()}
    monkeypatch.setattr(host, "_exe", lambda pid: procs[pid][2])
    monkeypatch.setattr(host, "_pss_bytes", lambda pid: pid)
    total, java, py = host._tree_mem_bytes(sorted(procs), stats)
    assert py == {10: 10, 12: 12, 13: 13}
    assert java == 1000 * host._PAGE
    assert total == (100 + 1000 + 10 + 20 + 1) * host._PAGE


def test_descendants_and_alive_follow_a_child():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(30)"])
    try:
        start = host.descendants(os.getpid())[child.pid]
        assert host.alive(child.pid, start)
        assert not host.alive(child.pid, start + "1")
    finally:
        child.kill()
        child.wait()
    assert not host.alive(child.pid, start)
    assert child.pid not in host.descendants(os.getpid())
