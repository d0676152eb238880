"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rollup_ingest --seed 1 \
        --seconds 12 --trace 0

One fresh process, one `local[K]` SparkSession (K = min(4, nproc)), one
closed-loop single client.  The run sets up (session, seeded input
table built three times, workload inputs, warm-up until op time
settles), then runs ops back to back until their summed wall time
reaches --seconds and a schedule round is complete, checking every op's
output between ops (outside the timed walls).

The last stdout line is one JSON object: correct / attempted / failed /
metrics.  --trace 0 reports the end-to-end metrics; --trace 1 switches
on the Spark event log and the layer spans and reports the per-layer
metrics.  The line before it holds every figure of the run, with units
and sample counts.  All scratch data lives under .perfbench_work/ in
the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: input builds per run; setup_s counts their median
INPUT_BUILDS = 3
#: a warm-up round counts as settled within this share of the previous
SETTLE = 0.15

E2E_UNITS = {
    "setup_s": "s", "work_per_s": "1/s", "op_p50_ms": "ms",
    "ops_ok_frac": "ratio", "peak_py_mem_mb": "MB",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("rollup_ingest", "tier_serve",
                             "segment_graphs"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every byte the JVM writes inside the work dir; the event
    log only on the traced run."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the program's own GC choice, plus a JVM tmpdir in the work dir
        "spark.driver.extraJavaOptions":
            "-XX:+UseParallelGC -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Runner:
    def __init__(self, args: argparse.Namespace, work: str):
        from perfbench import host
        from perfbench.spans import Tracer

        self.args = args
        self.work = work
        self.host = host
        self.tr = Tracer(bool(args.trace))
        self.parallelism = min(4, os.cpu_count() or 1)
        self.ops: list = []
        self.lat_s: list[float] = []
        self.failed = 0
        self.final_ok = True
        self.persisted: list[int] = []
        self.errors: list[str] = []
        #: layer figures of workloads outside BENCHMARK.json's set
        self.extra_layers: dict[str, float] = {}

    # -- setup --------------------------------------------------------
    def setup(self) -> None:
        from ts2g2_spark.catalog import Catalog
        from ts2g2_spark.session import get_spark

        from perfbench.workloads import WORKLOADS

        a = self.args
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{a.workload}",
            parallelism=self.parallelism,
            extra_conf=session_conf(self.work, bool(a.trace)))
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tr.wrap_method(
            Catalog, "write",
            lambda _cat, _df, name, *a, **k: f"catalog.write.{name}")
        self.wl = WORKLOADS[a.workload](
            self.spark, self.tr, self.work, a.seed, self.parallelism)
        self.sc.setJobGroup("setup", "inputs")
        builds = []
        for b in range(INPUT_BUILDS):
            t = time.perf_counter()
            self.wl.build_input(os.path.join(self.work, f"input{b}"))
            builds.append(time.perf_counter() - t)
        self.input_s = statistics.median(builds)
        t = time.perf_counter()
        self.wl.prepare()
        self.prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        self.warm_rounds = self.warm_up()
        self.warmup_s = time.perf_counter() - t
        self.setup_s = (self.session_s + self.input_s + self.prepare_s
                        + self.warmup_s)

    def _round(self, i0: int, warm: bool) -> tuple[float, list]:
        """One schedule round; returns (summed op wall, results)."""
        busy, out = 0.0, []
        for i in range(i0, i0 + self.wl.round_ops):
            self.sc.setJobGroup(f"{'warm' if warm else 'op'}{i:05d}", "op")
            t = time.perf_counter()
            with self.tr.span("op"):
                res = self.wl.op(i, warm)
            dt = time.perf_counter() - t
            busy += dt
            res.wall_s = dt
            out.append(res)
        return busy, out

    def warm_up(self) -> int:
        """Warm-up rounds until a round's op time is within SETTLE of
        the previous one (at least two rounds, at most the workload's
        cap).  Warm-up outputs are discarded unchecked."""
        prev = None
        self.warm_round_s: list[float] = []
        for r in range(self.wl.max_warmup_rounds):
            busy, res = self._round(r * self.wl.round_ops, warm=True)
            self.warm_round_s.append(busy)
            for x in res:
                self.wl.discard(x)
            if prev is not None and abs(busy - prev) <= SETTLE * prev:
                return r + 1
            prev = busy
        return self.wl.max_warmup_rounds

    def _check(self, res) -> bool:
        try:
            return bool(self.wl.check(res))
        except Exception:  # a check that cannot run is a failed check
            self.errors.append(traceback.format_exc(limit=3))
            return False

    # -- timed phase --------------------------------------------------
    def timed(self) -> None:
        h = self.host
        self.tr.spans.clear()
        self.probe_before = h.probe_s(self.args.seed)
        cpu0 = h.cpu_times()
        i = 0
        busy = 0.0
        while busy < self.args.seconds:
            try:
                b, res = self._round(i, warm=False)
            except Exception:
                self.errors.append(traceback.format_exc(limit=5))
                self.failed += 1
                self.lat_s.append(float("nan"))
                if self.failed >= 3:
                    break
                i += self.wl.round_ops
                continue
            busy += b
            i += self.wl.round_ops
            self.sc.setJobGroup("check", "check")
            for x in res:
                self.ops.append(x)
                self.lat_s.append(x.wall_s)
                if not self._check(x):
                    self.errors.append(f"timed op {x.kind} failed check")
                    self.failed += 1
                self.persisted.append(
                    self.sc._jsc.getPersistentRDDs().size())
        self.busy_s = busy
        self.cpu_util, self.steal = h.cpu_shares(cpu0, h.cpu_times())
        self.probe_after = h.probe_s(self.args.seed)
        try:
            self.final_ok = self.wl.final_check() and self.final_ok
        except Exception:
            self.errors.append(traceback.format_exc(limit=5))
            self.final_ok = False

    # -- report -------------------------------------------------------
    def attempted(self) -> int:
        return len(self.lat_s)

    def end_to_end(self, peak_py_mem_mb: float) -> dict[str, float]:
        from perfbench.stats import percentile

        ok_lat = [x for x in self.lat_s if x == x]
        n = self.attempted()
        return {
            "setup_s": self.setup_s,
            "work_per_s": sum(o.work for o in self.ops) / self.busy_s,
            "op_p50_ms": 1e3 * percentile(ok_lat, 50),
            "ops_ok_frac": (n - self.failed) / n,
            "peak_py_mem_mb": peak_py_mem_mb,
        }

    def layers(self) -> dict[str, float]:
        from perfbench import eventlog

        n = max(len(self.ops), 1)
        out = dict.fromkeys(LAYER_METRICS, 0.0)
        for k, v in self.wl.layers(self.ops).items():
            (out if k in LAYER_METRICS else self.extra_layers)[k] = v
        self.spark.stop()  # flushes the event log
        logs = glob.glob(os.path.join(self.work, "events", "*"))
        ev = eventlog.parse(logs[0], "op")
        out.update({
            "spark.jobs": ev.jobs / n,
            "spark.stages": ev.stages / n,
            "spark.tasks": ev.tasks / n,
            "spark.executor_cpu_s": ev.executor_cpu_s / n,
            "spark.gc_s": ev.gc_s / n,
            "spark.shuffle_write_bytes": ev.shuffle_write_bytes / n,
            "spark.spill_bytes": ev.spill_bytes / n,
            "spark.python_worker_s": ev.python_worker_s / n,
            "spark.python_bytes_sent": ev.python_bytes_sent / n,
            "spark.python_bytes_returned": ev.python_bytes_returned / n,
            "spark.task_skew": ev.task_skew(),
            "spark.persisted_rdds_after_op": float(max(self.persisted,
                                                       default=0)),
            "host.cpu_util": self.cpu_util,
            "host.steal_frac": self.steal,
            "host.probe_s": statistics.median(
                [self.probe_before, self.probe_after]),
            "trace.work_per_s": sum(o.work for o in self.ops) / self.busy_s,
            "trace.unattributed_frac": self.unattributed(),
        })
        return out

    def unattributed(self) -> float:
        """Largest share of an op's wall time not covered by the layer
        spans directly under it."""
        worst = 0.0
        spans = self.tr.spans
        for idx, s in enumerate(spans):
            if s.name != "op":
                continue
            covered = sum(c.dur for c in spans if c.parent == idx)
            worst = max(worst, (s.dur - covered) / s.dur)
        return worst

    def detail(self, metrics: dict[str, float]) -> dict:
        from perfbench.stats import percentile, tail_percentile

        kinds = {}
        for kind in sorted({o.kind for o in self.ops}):
            lat = [o.wall_s * 1e3 for o in self.ops
                   if o.kind == kind]
            q = tail_percentile(len(lat))
            kinds[kind] = {
                "n": len(lat), "p50_ms": percentile(lat, 50),
                "p90_ms": percentile(lat, 90),
                "tail_q": q, "tail_ms": percentile(lat, q) if q else None,
                "op_ms": lat,
            }
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "parallelism": self.parallelism,
            "ops": len(self.ops), "busy_s": self.busy_s,
            "latency_by_kind": kinds,
            "setup": {"session_s": self.session_s, "input_s": self.input_s,
                      "prepare_s": self.prepare_s,
                      "warmup_s": self.warmup_s,
                      "warmup_rounds": self.warm_rounds,
                      "warmup_round_s": self.warm_round_s},
            "persisted_rdds_after_op": self.persisted,
            "host": {"cpu_util": self.cpu_util, "steal_frac": self.steal,
                     "probe_s": [self.probe_before, self.probe_after]},
            "errors": self.errors,
            "extra_layers": self.extra_layers,
            "metrics": metrics,
        }


#: every per-layer metric of BENCHMARK.json with its unit and direction;
#: a workload that does not touch a layer reports 0 for it
LAYER_METRICS = {
    **{f"catalog.write_s.{t}": ("s/op", "lower") for t in
       ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")},
    "plans.pipeline.overhead_s": ("s/op", "lower"),
    "plans.rollup.retention_s": ("s/op", "lower"),
    **{f"plans.rollup.rows_per_point.{t}": ("rows/point", "lower")
       for t in ("1m", "1h", "1d")},
    "plans.rollup.gapfilled_frac": ("ratio", "lower"),
    "plans.chunks.bytes_per_point": ("B/point", "lower"),
    "catalog.stored_bytes_per_point": ("B/point", "lower"),
    **{f"operators.graphs.{g}_s": ("s/op", "lower") for g in
       ("visibility_hvg", "visibility_nvg", "opg", "qg")},
    **{f"operators.graphmetrics.{g}_s": ("s/op", "lower") for g in
       ("graph_summary", "clustering", "pagerank")},
    **{f"operators.graphs.edges_per_segment.{g}": ("edges/segment",
                                                   "lower")
       for g in ("hvg", "nvg", "opg", "qg")},
    "spark.jobs": ("count/op", "lower"),
    "spark.stages": ("count/op", "lower"),
    "spark.tasks": ("count/op", "lower"),
    "spark.executor_cpu_s": ("s/op", "lower"),
    "spark.gc_s": ("s/op", "lower"),
    "spark.shuffle_write_bytes": ("B/op", "lower"),
    "spark.spill_bytes": ("B/op", "lower"),
    "spark.python_worker_s": ("s/op", "lower"),
    "spark.python_bytes_sent": ("B/op", "lower"),
    "spark.python_bytes_returned": ("B/op", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.persisted_rdds_after_op": ("count", "lower"),
    "host.cpu_util": ("ratio", "lower"),
    "host.steal_frac": ("ratio", "lower"),
    "host.probe_s": ("s", "lower"),
    "trace.work_per_s": ("1/s", "higher"),
    "trace.unattributed_frac": ("ratio", "lower"),
}


def isolate(name: str) -> str:
    """Make the checkout importable for this process and the Spark Python
    workers, whatever the working directory, and point every temp dir
    at a fresh work dir .perfbench_work/<name>; returns its path."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(ROOT, ".perfbench_work", name)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "events"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return work


def stop_processes(spark, seen: dict[int, str],
                   grace_s: float = 30.0) -> None:
    """Stop the session and its JVM, and wait until every process the run
    started has ended: the JVM, its Python worker daemon and the workers,
    whether still below this process or among those `seen` below it
    earlier (pid -> start time).  One that outlives `grace_s` is sent
    SIGTERM, then SIGKILL."""
    from pyspark import SparkContext

    from perfbench import host

    started = {**seen, **host.descendants(os.getpid())}
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            pass  # a signal cut a JVM call short; the JVM is ended below
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass  # the JVM side is gone already; its stdin still ends it
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    started.update(host.descendants(os.getpid()))

    def left() -> list[int]:
        return [p for p, st in started.items() if host.alive(p, st)]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in left():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass  # ended since left() looked
        end = time.monotonic() + grace_s
        while left() and time.monotonic() < end:
            time.sleep(0.05)
        if not left():
            return


def main(argv: list[str]) -> int:
    # a SIGTERM unwinds through main's cleanup like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ts2g2_spark")):
        print(f"perfbench: no ts2g2_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = isolate(f"{args.workload}-{os.getpid()}")

    from perfbench.host import MemSampler

    runner = Runner(args, work)
    mem = MemSampler()
    try:
        with mem:
            runner.setup()
            runner.timed()
        if args.trace:
            metrics = runner.layers()
            units = {k: LAYER_METRICS[k][0] for k in metrics}
        else:
            metrics = runner.end_to_end(mem.peak_py / 2**20)
            units = E2E_UNITS
    finally:
        stop_processes(getattr(runner, "spark", None), mem.seen)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    detail = runner.detail(metrics)
    detail["peak_mem_mb"] = {"tree_rss": mem.peak / 2**20,
                             "jvm_rss": mem.peak_jvm / 2**20,
                             "python_pss": mem.peak_py / 2**20,
                             "python_at_peak": mem.py_at_peak}
    print(json.dumps(detail))
    correct = runner.final_ok and runner.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted(),
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
