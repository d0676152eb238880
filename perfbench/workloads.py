"""The benchmark's workloads.  Each one builds its inputs from the seed
with `ts2g2_spark.datagen`, runs one kind of closed-loop op through the
package's public API, and checks every op's output.

A workload exposes:
  prepare()          one-time derived inputs (after the input table)
  op(i, warm)        one unit of work; returns an OpResult
  check(res)         True when the op's output is right (not timed)
  discard(res)       drop a warm-up op's output unchecked
  final_check()      checks that need the whole run (not timed)
  layers(ops)        per-layer figures for the traced run
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts2g2_spark import datagen
from ts2g2_spark.catalog import Catalog
from ts2g2_spark.operators import graphmetrics, graphs
from ts2g2_spark.plans import rollup as rollup_mod
from ts2g2_spark.plans.chunks import decompress_chunks
from ts2g2_spark.plans.pipeline import RollupPipeline
from ts2g2_spark.plans.points import BASE_EPOCH, explode_points
from ts2g2_spark.streaming.ingest import (incremental_tier_fold,
                                          read_tier_snapshot)

from perfbench.spans import Tracer

TIERS = ("1m", "1h", "1d")
_US = 1_000_000


@dataclass
class OpResult:
    kind: str
    work: float
    detail: dict = field(default_factory=dict)
    wall_s: float = 0.0


def parquet_bytes(root: str) -> int:
    """Bytes of the Parquet data files under `root` (no checksums,
    markers or manifests)."""
    total = 0
    for d, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Workload:
    #: input table size and gap probability
    n_docs = 0
    gap_p = 0.0
    #: ops per schedule round; the timed phase ends on a round boundary
    round_ops = 1
    max_warmup_rounds = 3

    def __init__(self, spark: SparkSession, tracer: Tracer, workdir: str,
                 seed: int, parallelism: int):
        self.spark = spark
        self.tr = tracer
        self.work = workdir
        self.seed = seed
        self.parallelism = parallelism
        self.rng = random.Random(seed)
        self.inp: DataFrame | None = None

    def build_input(self, path: str) -> None:
        datagen.tokenized_sequences(
            self.spark, self.n_docs, seed=self.seed, gap_p=self.gap_p,
            num_partitions=self.parallelism,
        ).write.mode("overwrite").parquet(path)
        self.inp = self.spark.read.parquet(path)

    def prepare(self) -> None:
        pass

    def op(self, i: int, warm: bool) -> OpResult:
        raise NotImplementedError

    def check(self, res: OpResult) -> bool:
        raise NotImplementedError

    def discard(self, res: OpResult) -> None:
        pass

    def final_check(self) -> bool:
        return True

    def layers(self, ops: list[OpResult]) -> dict[str, float]:
        return {}


# --------------------------------------------------------------- rollup
class RollupIngest(Workload):
    """RollupPipeline.run from a committed gappy parquet input into a
    fresh catalog, then retention: the north-rule batch job."""

    n_docs = 2000
    gap_p = 0.02
    #: retention clock: three days after the data, so every tier keeps
    #: every bucket and tier counts must be conserved
    now_epoch = BASE_EPOCH + 3 * 86400
    sample_docs = 8

    def prepare(self) -> None:
        self.points = int(self.inp.agg(F.sum("n_tok")).first()[0])
        ids = sorted(r.doc_id for r in self.inp.select("doc_id").collect())
        sample = self.rng.sample(ids, self.sample_docs)
        self.expected_tokens = {
            r.doc_id: list(r.tokens) for r in
            self.inp.where(F.col("doc_id").isin(sample))
            .select("doc_id", "tokens").collect()}

    def op(self, i: int, warm: bool) -> OpResult:
        root = os.path.join(self.work, f"catalog_{'w' if warm else 't'}{i}")
        p = RollupPipeline(self.spark, root, positions_col="positions")
        with self.tr.span("plans.pipeline.run"):
            p.run(self.inp, f"perfbench seed={self.seed}")
        with self.tr.span("plans.rollup.retention"):
            p.retention(self.now_epoch)
        return OpResult("rollup", self.points, {"root": root})

    def discard(self, res: OpResult) -> None:
        shutil.rmtree(res.detail["root"], ignore_errors=True)

    def tier_counts(self, root: str) -> dict[str, dict]:
        parts = [
            self.spark.read.parquet(os.path.join(root, f"rollup_{t}"))
            .select(F.lit(t).alias("tier"), "cnt",
                    F.col("gapfilled").cast("long").alias("g"))
            for t in TIERS]
        u = parts[0].unionByName(parts[1]).unionByName(parts[2])
        return {r.tier: {"rows": r.rows, "cnt": r.cnt, "gapfilled": r.g}
                for r in u.groupBy("tier").agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("cnt").alias("cnt"), F.sum("g").alias("g"))
                .collect()}

    def decoded_sample(self, root: str) -> dict[str, list[int]]:
        chunks = self.spark.read.parquet(os.path.join(root, "chunks"))
        got = decompress_chunks(
            chunks.where(F.col("doc_id").isin(list(self.expected_tokens))))
        return {r.doc_id: list(r.tokens) for r in got.collect()}

    def check(self, res: OpResult) -> bool:
        root = res.detail["root"]
        try:
            counts = self.tier_counts(root)
            res.detail["counts"] = counts
            res.detail["chunk_bytes"] = parquet_bytes(
                os.path.join(root, "chunks"))
            res.detail["stored_bytes"] = parquet_bytes(root)
            ok = (
                # the 1m tier holds every input point ...
                counts["1m"]["cnt"] == self.points
                # ... every coarser tier conserves that count ...
                and all(counts[t]["cnt"] == self.points for t in TIERS)
                # ... gap-fill had work on the gappy input ...
                and counts["1m"]["gapfilled"] > 0
                # ... and the chunk codec round-trips the sampled docs
                and self.decoded_sample(root) == self.expected_tokens)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        return ok

    def layers(self, ops: list[OpResult]) -> dict[str, float]:
        n = len(ops)
        tr = self.tr
        out = {f"catalog.write_s.{name}": tr.total(
            f"catalog.write.{name}", parent="plans.pipeline.run") / n
            for name in ("rollup_1m", "rollup_1h", "rollup_1d", "chunks")}
        run_s = tr.total("plans.pipeline.run") / n
        out["plans.pipeline.overhead_s"] = run_s - sum(out.values())
        out["plans.rollup.retention_s"] = tr.total(
            "plans.rollup.retention") / n
        pts = float(self.points)
        for t in TIERS:
            out[f"plans.rollup.rows_per_point.{t}"] = sum(
                o.detail["counts"][t]["rows"] for o in ops) / n / pts
        out["plans.rollup.gapfilled_frac"] = sum(
            o.detail["counts"]["1m"]["gapfilled"] / o.detail["counts"]["1m"]
            ["rows"] for o in ops) / n
        out["plans.chunks.bytes_per_point"] = sum(
            o.detail["chunk_bytes"] for o in ops) / n / pts
        out["catalog.stored_bytes_per_point"] = sum(
            o.detail["stored_bytes"] for o in ops) / n / pts
        return out


# ---------------------------------------------------------- tier serving
class TierServe(Workload):
    """A seeded mix of serve_range reads (1m tier through the fold
    table's snapshot, 1h/1d from the catalog committed in setup) and
    incremental_tier_fold writes of small late batches into that same
    1m table."""

    n_docs = 300
    gap_p = 0.02
    round_ops = 4          # three serves and one fold, seeded order
    late_points = 24
    #: late points land on whole minutes of the third hour, which no
    #: base series reaches (<= 4096 one-second points); served ranges
    #: end on a whole minute before that hour ends, so no served range
    #: covers it from the (unfolded) 1h tier and no raw sliver holds a
    #: late point -- the tiered answer must equal the all-raw answer
    late_hour = BASE_EPOCH + 2 * 3600
    serve_end = BASE_EPOCH + 3 * 3600 - 60
    check_samples = 2

    def prepare(self) -> None:
        self.catalog = Catalog(os.path.join(self.work, "catalog"),
                               self.spark)
        RollupPipeline(self.spark, self.catalog.root,
                       positions_col="positions").run(
            self.inp, f"perfbench seed={self.seed}", stop_after="rollup_1d")
        pts_path = os.path.join(self.work, "points")
        explode_points(self.inp, positions_col="positions").select(
            "doc_id", "source", "ts", "value").write.parquet(pts_path)
        self.points = self.spark.read.parquet(pts_path)
        self.base_points = self.points.count()
        self.fold_root = os.path.join(self.work, "tier_1m")
        self.fold = incremental_tier_fold(self.spark, self.fold_root)
        self.fold(self.points, 0)
        self.batch_id = 0
        self.keys = sorted(
            (r.doc_id, r.source) for r in
            self.inp.select("doc_id", "source").collect())
        self.late: list[list[tuple]] = []
        self.serves: list[OpResult] = []
        self.schedule: list[str] = []

    def _next_kind(self) -> str:
        if not self.schedule:
            self.schedule = ["serve", "serve", "serve", "fold"]
            self.rng.shuffle(self.schedule)
        return self.schedule.pop()

    def op(self, i: int, warm: bool) -> OpResult:
        if self._next_kind() == "fold":
            return self._fold()
        return self._serve(timed=not warm)

    def _serve(self, timed: bool) -> OpResult:
        t0 = BASE_EPOCH + self.rng.randrange(0, self.serve_end - BASE_EPOCH
                                             - 300)
        if t0 % 60 == 0:
            t0 += 1 + self.rng.randrange(58)
        t1 = min((t0 // 60 + self.rng.randrange(5, 150)) * 60,
                 self.serve_end)
        t0_us, t1_us = t0 * _US, t1 * _US
        with self.tr.span("plans.rollup.serve_range"):
            tiers = {
                "1m": rollup_mod.finalize_state(
                    read_tier_snapshot(self.spark, self.fold_root)),
                "1h": self.catalog.read("rollup_1h"),
                "1d": self.catalog.read("rollup_1d"),
            }
            rows = rollup_mod.serve_range(
                self.points, t0_us, t1_us, tiers=tiers).collect()
        segs = rollup_mod.decompose_range(
            t0_us, t1_us, sorted((s * _US for s in
                                  rollup_mod.TIER_SECONDS.values()),
                                 reverse=True))
        res = OpResult("serve", 1, {
            "timed": timed, "t0_us": t0_us, "t1_us": t1_us,
            "n_late": len(self.late),
            "rows": sorted(tuple(r) for r in rows),
            "segments": sum(len(v) for v in segs.values())})
        self.serves.append(res)
        return res

    def _fold(self) -> OpResult:
        self.batch_id += 1
        rows = [(d, s, dt.datetime.fromtimestamp(
                     self.late_hour + 60 * self.rng.randrange(59),
                     dt.timezone.utc),
                 float(self.rng.randrange(datagen.VOCAB)))
                for d, s in self.rng.sample(self.keys, self.late_points)]
        batch = self.spark.createDataFrame(
            rows, "doc_id string, source string, ts timestamp, value double")
        with self.tr.span("streaming.ingest.fold"):
            self.fold(batch, self.batch_id)
        self.late.append(rows)
        return OpResult("fold", 1, {"batch_id": self.batch_id})

    def _snapshot_files(self) -> tuple[int, int]:
        """(files rewritten, files hard-linked) in the live version."""
        with open(os.path.join(self.fold_root, "_LATEST")) as f:
            version = json.load(f)["version"]
        new = linked = 0
        for d, _dirs, files in os.walk(os.path.join(self.fold_root, version)):
            for f in files:
                if f.endswith(".parquet"):
                    if os.stat(os.path.join(d, f)).st_nlink > 1:
                        linked += 1
                    else:
                        new += 1
        return new, linked

    def check(self, res: OpResult) -> bool:
        if res.kind == "serve":
            return all(
                r[2] > 0 and r[4] <= r[8] + 1e-6 and r[8] <= r[5] + 1e-6
                for r in res.detail["rows"])
        snap = read_tier_snapshot(self.spark, self.fold_root)
        total = snap.agg(F.sum("cnt")).first()[0]
        res.detail["files_rewritten"], res.detail["files_linked"] = \
            self._snapshot_files()
        return total == self.base_points + self.late_points * len(self.late)

    def expected_serve(self, res: OpResult) -> list[tuple]:
        """The all-from-raw answer (tiers=None) over the base points
        plus every late batch folded before the serve ran."""
        pts = self.points
        late = [r for b in self.late[:res.detail["n_late"]] for r in b]
        if late:
            pts = pts.unionByName(self.spark.createDataFrame(
                late, "doc_id string, source string, ts timestamp, "
                "value double"))
        got = rollup_mod.serve_range(
            pts, res.detail["t0_us"], res.detail["t1_us"], tiers=None)
        return sorted(tuple(r) for r in got.collect())

    def final_check(self) -> bool:
        timed = [s for s in self.serves if s.detail["timed"]]
        picks = self.rng.sample(timed, min(self.check_samples, len(timed)))
        return all(self.expected_serve(s) == s.detail["rows"] for s in picks)

    def layers(self, ops: list[OpResult]) -> dict[str, float]:
        serves = [o for o in ops if o.kind == "serve"]
        folds = [o for o in ops if o.kind == "fold"]
        ns, nf = max(len(serves), 1), max(len(folds), 1)
        return {
            "plans.rollup.serve_range_s":
                self.tr.total("plans.rollup.serve_range") / ns,
            "plans.rollup.serve_segments":
                sum(o.detail["segments"] for o in serves) / ns,
            "streaming.ingest.fold_s":
                self.tr.total("streaming.ingest.fold") / nf,
            "streaming.ingest.fold.files_rewritten":
                sum(o.detail["files_rewritten"] for o in folds) / nf,
            "streaming.ingest.fold.files_linked":
                sum(o.detail["files_linked"] for o in folds) / nf,
        }


# -------------------------------------------------------- segment graphs
class SegmentGraphs(Workload):
    """ts2g2's unit of work: 256-point segments (move 128) of the token
    series through HVG/NVG visibility, ordinal-partition and quantile
    graphs, and the fused summary / clustering / PageRank metrics."""

    n_docs = 400
    win, move = 256, 128
    n_segments = 96
    opg_w, opg_tau = 3, 1
    qg_q = 8

    def prepare(self) -> None:
        segs = graphs.sliding_windows(
            graphs.series_from_tokens(self.inp), self.win, self.move)
        # one key per segment: the per-series kernels key their output by
        # series_key, which sliding_windows keeps from the parent series
        segs = (segs.select(
            F.concat_ws("#", "series_key", "start_idx").alias("series_key"),
            "values")
            .orderBy("series_key").limit(self.n_segments)
            .repartition(2 * self.parallelism))
        path = os.path.join(self.work, "segments")
        segs.write.parquet(path)
        self.segs = self.spark.read.parquet(path)
        self.keys = sorted(r.series_key for r in
                           self.segs.select("series_key").collect())

    def _run(self, name: str, build, *aggs) -> dict:
        """Per-segment aggregates of the frame `build()` returns; the
        span covers planning and the action."""
        with self.tr.span(name):
            rows = build().groupBy("series_key").agg(*aggs).collect()
        return {r[0]: tuple(r[1:]) for r in rows}

    def op(self, i: int, warm: bool) -> OpResult:
        s = self.segs
        n = F.count(F.lit(1))
        w = F.sum("weight")
        out = {
            "hvg": self._run(
                "operators.graphs.visibility_hvg",
                lambda: graphs.visibility_edges(s, "horizontal"), n),
            "nvg": self._run(
                "operators.graphs.visibility_nvg",
                lambda: graphs.visibility_edges(s, "natural"), n),
            "opg": self._run(
                "operators.graphs.opg",
                lambda: graphs.opg_edges(s, self.opg_w, self.opg_tau), n, w),
            "qg": self._run(
                "operators.graphs.qg",
                lambda: graphs.qg_edges(s, self.qg_q), n, w),
            "summary": self._run(
                "operators.graphmetrics.graph_summary",
                lambda: graphmetrics.graph_summary_from_series(
                    s, "horizontal"),
                F.first("n_nodes"), F.first("n_edges")),
            "clustering": self._run(
                "operators.graphmetrics.clustering",
                lambda: graphmetrics.clustering_from_series(s, "horizontal"),
                n, F.sum("degree")),
            "pagerank": self._run(
                "operators.graphmetrics.pagerank",
                lambda: graphmetrics.pagerank_from_series(s, "horizontal"),
                F.sum("rank")),
        }
        return OpResult("graphs", len(self.keys), out)

    def check(self, res: OpResult) -> bool:
        o = res.detail
        if any(sorted(v) != self.keys for v in o.values()):
            return False
        npat = self.win - (self.opg_w - 1) * self.opg_tau
        for k in self.keys:
            hvg = o["hvg"][k][0]
            n_nodes, n_edges = o["summary"][k]
            nodes, deg_sum = o["clustering"][k]
            ok = (
                # the fused summary sees exactly the HVG edges
                n_edges == hvg and n_nodes == self.win and hvg >= self.win - 1
                # both visibility graphs keep the path edges
                and o["nvg"][k][0] >= self.win - 1
                # OPG weights are transitions / patterns
                and abs(o["opg"][k][1] - (npat - 1) / npat) < 1e-9
                # QG weights are normalised per source node
                and 0 < o["qg"][k][1] <= self.qg_q + 1e-9
                and nodes == n_nodes and deg_sum == 2 * n_edges
                and abs(o["pagerank"][k][0] - 1.0) < 1e-6)
            if not ok:
                return False
        return True

    def layers(self, ops: list[OpResult]) -> dict[str, float]:
        n = len(ops)
        out = {f"{name}_s": self.tr.total(name) / n for name in (
            "operators.graphs.visibility_hvg",
            "operators.graphs.visibility_nvg",
            "operators.graphs.opg", "operators.graphs.qg",
            "operators.graphmetrics.graph_summary",
            "operators.graphmetrics.clustering",
            "operators.graphmetrics.pagerank")}
        segs = n * len(self.keys)
        for g in ("hvg", "nvg", "opg", "qg"):
            out[f"operators.graphs.edges_per_segment.{g}"] = sum(
                sum(v[0] for v in o.detail[g].values()) for o in ops) / segs
        return out


WORKLOADS = {
    "rollup_ingest": RollupIngest,
    "tier_serve": TierServe,
    "segment_graphs": SegmentGraphs,
}
