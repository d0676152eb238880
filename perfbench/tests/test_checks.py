"""Each workload's output check passes on a real op and fails on a
deliberately corrupted output.  Runs small inputs on a local[2]
SparkSession (about two minutes):

    python3 -m pytest perfbench/tests/test_checks.py -q
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench import run  # noqa: E402

from perfbench import workloads as wl  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from ts2g2_spark.functions import codecs  # noqa: E402
from ts2g2_spark.session import get_spark  # noqa: E402


class SmallRollup(wl.RollupIngest):
    n_docs = 120


class SmallServe(wl.TierServe):
    n_docs = 60


class SmallGraphs(wl.SegmentGraphs):
    n_docs = 60
    n_segments = 12


@pytest.fixture(scope="module")
def env():
    work = run.isolate(f"tests-{os.getpid()}")
    s = get_spark(parallelism=2, extra_conf=run.session_conf(work, False))
    s.sparkContext.setLogLevel("ERROR")
    yield s, work
    s.stop()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # a benchmark run's work dir is still there


def make(cls, env, name):
    spark, root = env
    work = os.path.join(root, name)
    os.makedirs(work)
    w = cls(spark, Tracer(False), work, seed=5, parallelism=2)
    w.build_input(os.path.join(work, "input"))
    w.prepare()
    return w


def rewrite(spark, path, fn):
    """Replace the Parquet table at `path` by fn(table)."""
    tmp = path + ".corrupt"
    fn(spark.read.parquet(path)).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


# ------------------------------------------------------------ rollup
def _first_doc(df):
    return F.col("doc_id") == df.agg(F.min("doc_id")).first()[0]


ROLLUP_CORRUPTIONS = {
    # one series over-counts: the 1m sum(cnt) != input points
    "rollup_1m": lambda df: df.withColumn(
        "cnt", F.when(_first_doc(df) & ~F.col("gapfilled"), F.col("cnt") + 1)
        .otherwise(F.col("cnt"))),
    # a series' 1h buckets are lost: the tier no longer conserves counts
    "rollup_1h": lambda df: df.where(~_first_doc(df)),
    # a 1d bucket is duplicated
    "rollup_1d": lambda df: df.unionByName(df.limit(1)),
    # gap-fill markers are gone
    "rollup_1m#gaps": lambda df: df.where(~F.col("gapfilled")),
    # every chunk payload decodes to the same two values
    "chunks": lambda df: df.withColumn("val_gorilla", F.lit(
        codecs.gorilla_encode(np.array([1.0, 2.0])))),
}


def test_rollup_check(env):
    spark = env[0]
    w = make(SmallRollup, env, "rollup")
    assert w.check(w.op(0, warm=False))
    for i, (target, fn) in enumerate(ROLLUP_CORRUPTIONS.items(), 1):
        res = w.op(i, warm=False)
        rewrite(spark, os.path.join(res.detail["root"],
                                    target.split("#")[0]), fn)
        assert not w.check(res), target


# ------------------------------------------------------------ graphs
def _corrupt(o, part, k, i, delta):
    row = list(o[part][k])
    row[i] += delta
    o[part][k] = tuple(row)


GRAPH_CORRUPTIONS = {
    "summary_edges": lambda o, k: _corrupt(o, "summary", k, 1, 1),
    "hvg_count": lambda o, k: _corrupt(o, "hvg", k, 0, -1),
    "opg_weight": lambda o, k: _corrupt(o, "opg", k, 1, 0.01),
    "qg_weight": lambda o, k: _corrupt(o, "qg", k, 1, 100.0),
    "clustering_degree": lambda o, k: _corrupt(o, "clustering", k, 1, 2),
    "pagerank_mass": lambda o, k: _corrupt(o, "pagerank", k, 0, 0.001),
    "missing_segment": lambda o, k: o["nvg"].pop(k),
}


def test_graphs_check(env):
    w = make(SmallGraphs, env, "graphs")
    res = w.op(0, warm=False)
    assert w.check(res)
    key = w.keys[len(w.keys) // 2]
    for name, fn in GRAPH_CORRUPTIONS.items():
        bad = copy.deepcopy(res)
        fn(bad.detail, key)
        assert not w.check(bad), name


# ------------------------------------------------------------ serving
def test_serve_and_fold_checks(env):
    w = make(SmallServe, env, "serve")
    w.schedule = ["serve", "fold"]          # pop() runs the fold first
    fold = w.op(0, warm=False)
    assert fold.kind == "fold" and w.check(fold)
    serve = w.op(1, warm=False)
    while not serve.detail["rows"]:         # a range that holds data
        w.schedule = ["serve"]
        serve = w.op(2, warm=False)
    assert w.check(serve)
    w.serves = [serve]
    assert w.final_check()

    # the tiered answer differs from the tiers=None answer
    row = list(serve.detail["rows"][0])
    row[2] += 1
    serve.detail["rows"][0] = tuple(row)
    assert not w.final_check()
    # avg above max
    row[8] = row[5] + 1.0
    serve.detail["rows"][0] = tuple(row)
    assert not w.check(serve)

    # a data file of the live fold version is lost
    with open(os.path.join(w.fold_root, "_LATEST")) as f:
        version = json.load(f)["version"]
    live = os.path.join(w.fold_root, version)
    victim = next(os.path.join(d, f) for d, _s, fs in sorted(os.walk(live))
                  for f in sorted(fs) if f.endswith(".parquet"))
    os.remove(victim)
    assert not w.check(fold)
