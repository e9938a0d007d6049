"""One pass of a workload through the program's public API, and the
standalone layer probes of a traced run.

A pass is: ingest (input table -> cached edge table); PageRank in
tolerance mode with a durable checkpoint every superstep, stopped after
``CKPT_STOP`` supersteps and finished by a fresh runner that resumes from
the checkpoint; min-label connected components; ``LP_ITERS`` rounds of
label propagation; triangle counting.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from combblas_spark.algorithms import cc_minlabel, label_propagation, pagerank, triangle_count
from combblas_spark.core.semiring import PLUS_TIMES
from combblas_spark.core.tuning import partition_by_key
from combblas_spark.operators.multiply import spgemm, spmv
from combblas_spark.plans.grid import Grid2D, auto_grid_shape, spmv_grid
from combblas_spark.plans.superstep import SuperstepRunner
from combblas_spark.sources.corpus import (
    assert_no_id_collisions,
    build_edges_cooccurrence,
    build_vertices,
)
from combblas_spark.sources.graphs import build_graph

import oracle

PR_ALPHA = 0.85
# the cap binds before the tolerance on both graphs (star components of the
# corpus decay only as alpha**k), so every pass runs PR_CAP supersteps, each
# with its convergence check
PR_TOL = 1e-9
PR_CAP = 4
CKPT_STOP = 2
LP_ITERS = 5


class TimedRunner(SuperstepRunner):
    """Records the seconds of each superstep job (``truncate_agg``), of each
    durable save with the bytes it wrote, and of each resume."""

    def __init__(self, spark, checkpoint_dir=None):
        super().__init__(spark, checkpoint_dir=checkpoint_dir, every=1)
        self.steps: list[float] = []
        self.saves: list[float] = []
        self.save_bytes: list[int] = []
        self.resumes: list[float] = []

    def truncate_agg(self, df, *aggs):
        t = time.perf_counter()
        out = super().truncate_agg(df, *aggs)
        self.steps.append(time.perf_counter() - t)
        return out

    def save(self, iteration, states, metrics):
        if self.dir is None:
            return super().save(iteration, states, metrics)
        before = _tree_bytes(self.dir)
        t = time.perf_counter()
        super().save(iteration, states, metrics)
        self.saves.append(time.perf_counter() - t)
        self.save_bytes.append(_tree_bytes(self.dir) - before)

    def resume(self):
        t = time.perf_counter()
        out = super().resume()
        self.resumes.append(time.perf_counter() - t)
        return out


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


@dataclass
class Expected:
    """Oracle answers for one seed; computed once, outside every timing."""

    graph: oracle.Graph
    edges: tuple
    pagerank: np.ndarray
    pr_steps: int
    cc: np.ndarray
    lp: np.ndarray
    triangles: int
    wedges: int

    @classmethod
    def of(cls, g: oracle.Graph) -> "Expected":
        pr, steps = oracle.pagerank(g, PR_ALPHA, PR_TOL, PR_CAP)
        return cls(
            g, g.edge_frame(), pr, steps, g.ids[oracle.components(g)],
            g.ids[oracle.label_propagation(g, LP_ITERS)], oracle.triangles(g),
            oracle.wedges(g),
        )


@dataclass
class PassResult:
    times: dict = field(default_factory=dict)
    steps: list = field(default_factory=list)  # seconds of each PR and CC superstep job
    pr_steps: int = 0
    cc_steps: int = 0
    saves: list = field(default_factory=list)
    save_bytes: list = field(default_factory=list)
    resume_calls: list = field(default_factory=list)
    resumed_mid: bool = False
    outputs: dict = field(default_factory=dict)
    attempted: int = 0
    failed: list = field(default_factory=list)


class Workload:
    """Inputs and ingest of one workload inside a Spark session."""

    mode = "broadcast"

    def __init__(self, input_path: str):
        self.input_path = input_path
        self.table = None

    def load(self, spark):
        """Read the Parquet input and cache it (part of set-up)."""
        self.table = spark.read.parquet(self.input_path).persist()
        return self.table.count()

    def ingest(self, tracer):
        raise NotImplementedError


class CorpusWorkload(Workload):
    def ingest(self, tracer):
        with tracer.span("sources.build_vertices"):
            v = build_vertices(self.table, dense=False).persist()
            v.count()
        with tracer.span("sources.assert_no_id_collisions"):
            assert_no_id_collisions(v)
        with tracer.span("sources.build_edges_cooccurrence"):
            e = build_edges_cooccurrence(self.table, v).persist()
            e.count()
        return e, v

    def vertex_ids(self, v, keys: np.ndarray, shas: list[str]) -> np.ndarray:
        """ids of ``keys`` from the program's vertex table, after checking
        that it holds each key once with the right sha256 and distinct ids."""
        pdf = v.select("id", "key", "sha").toPandas()
        if len(pdf) != len(keys) or pdf["id"].nunique() != len(pdf):
            raise AssertionError("vertex table: wrong row count or duplicate ids")
        pdf = pdf.set_index("key").reindex(keys)
        if pdf["id"].isna().any() or list(pdf["sha"]) != shas:
            raise AssertionError("vertex table: missing keys or wrong sha256")
        return pdf["id"].to_numpy(np.int64)


class RmatWorkload(Workload):
    mode = "grid"

    def ingest(self, tracer):
        with tracer.span("sources.build_graph"):
            e = build_graph(self.table).persist()
            e.count()
        return e, None


def _check(res: PassResult, name: str, fn) -> None:
    """Run one validation; an exception or mismatch counts as a failure."""
    res.attempted += 1
    try:
        ok = fn()
    except Exception as exc:  # noqa: BLE001 — any error is a failed output
        res.failed.append(f"{name}: {exc!r}")
        return
    if not ok:
        res.failed.append(f"{name}: mismatch")


def _vector(df, exp: Expected) -> np.ndarray:
    """(id, val) DataFrame -> val in the oracle's vertex order."""
    pdf = df.toPandas()
    if len(pdf) != exp.graph.n:
        raise AssertionError(f"{len(pdf)} rows, expected {exp.graph.n}")
    idx = np.searchsorted(exp.graph.ids, pdf["id"].to_numpy(np.int64))
    if not np.array_equal(exp.graph.ids[np.minimum(idx, exp.graph.n - 1)], pdf["id"].to_numpy()):
        raise AssertionError("unknown vertex ids")
    if len(np.unique(idx)) != exp.graph.n:
        raise AssertionError("duplicate vertex ids")
    out = np.empty(exp.graph.n, dtype=pdf["val"].dtype)
    out[idx] = pdf["val"].to_numpy()
    return out


def _edges_match(e, exp: Expected) -> bool:
    pdf = e.select("src", "dst", "w").toPandas().sort_values(["src", "dst"])
    s, d, w = exp.edges
    return (
        len(pdf) == len(s)
        and np.array_equal(pdf["src"].to_numpy(), s)
        and np.array_equal(pdf["dst"].to_numpy(), d)
        and np.array_equal(pdf["w"].to_numpy(), w)
    )


def run_pass(spark, wl: Workload, tracer, ckpt_dir: str) -> PassResult:
    """One timed pass. ``ckpt_dir`` must not exist yet: a stale manifest
    would make the first durable run resume instead of start."""
    if os.path.exists(ckpt_dir):
        raise FileExistsError(ckpt_dir)
    res = PassResult()
    mode = wl.mode
    t, out = res.times, res.outputs
    with tracer.span("pass") as job:
        with tracer.span("ingest") as sp:
            out["edges"], out["vertices"] = wl.ingest(tracer)
        t["ingest_s"] = sp.seconds
        e = out["edges"]
        # PageRank checkpoints every superstep, is stopped after CKPT_STOP of
        # them, and a fresh runner on the same directory finishes the job
        r_stop = TimedRunner(spark, ckpt_dir)
        with tracer.span("algorithms.pagerank") as pr_span:
            with tracer.span("checkpoint.interrupted"):
                pagerank(spark, e, alpha=PR_ALPHA, tol=PR_TOL, max_iter=CKPT_STOP,
                         runner=r_stop, mode=mode)
            r_res = TimedRunner(spark, ckpt_dir)
            with tracer.span("checkpoint.resume") as sp:
                out["pagerank"] = pagerank(spark, e, alpha=PR_ALPHA, tol=PR_TOL,
                                           max_iter=PR_CAP, runner=r_res, mode=mode)
        t["pagerank_s"] = pr_span.seconds
        t["resume_s"] = sp.seconds
        r_cc = TimedRunner(spark)
        with tracer.span("algorithms.cc_minlabel") as sp:
            out["cc"] = cc_minlabel(spark, e, runner=r_cc, mode=mode)
        t["cc_s"] = sp.seconds
        with tracer.span("algorithms.label_propagation") as sp:
            out["label_propagation"] = label_propagation(spark, e, num_iters=LP_ITERS, mode=mode)
        t["labelprop_s"] = sp.seconds
        with tracer.span("algorithms.triangle_count") as sp:
            out["triangles"] = triangle_count(e)
        t["triangles_s"] = sp.seconds
    t["job_s"] = job.seconds
    res.steps = r_stop.steps + r_res.steps + r_cc.steps
    res.pr_steps, res.cc_steps = len(r_stop.steps) + len(r_res.steps), len(r_cc.steps)
    res.saves = r_stop.saves + r_res.saves
    res.save_bytes = r_stop.save_bytes + r_res.save_bytes
    res.resume_calls = r_res.resumes
    # the resumed run must pick up at the interruption, not start over
    res.resumed_mid = len(r_stop.saves) == CKPT_STOP and len(r_res.saves) == PR_CAP - CKPT_STOP
    return res


def validate(res: PassResult, exp: Expected) -> None:
    """Check every output of a pass against the oracle, then release it."""
    out = res.outputs
    e = out["edges"]
    edges = len(exp.edges[0])
    t = res.times
    t["mteps"] = (
        (res.pr_steps + res.cc_steps + LP_ITERS) * edges / 1e6
        / (t["pagerank_s"] + t["cc_s"] + t["labelprop_s"])
    )
    _check(res, "ingest", lambda: _edges_match(e, exp))
    # the resumed run must pick up at the interruption and end where an
    # uninterrupted run ends
    _check(res, "pagerank", lambda: res.resumed_mid and res.pr_steps == exp.pr_steps
           and np.allclose(_vector(out["pagerank"], exp), exp.pagerank, rtol=1e-9, atol=0))
    _check(res, "cc", lambda: np.array_equal(_vector(out["cc"], exp), exp.cc))
    _check(res, "label_propagation",
           lambda: np.array_equal(_vector(out["label_propagation"], exp), exp.lp))
    _check(res, "triangles", lambda: out["triangles"] == exp.triangles)
    if out["vertices"] is not None:
        out["vertices"].unpersist()
    res.outputs = {"edges": e}


def partition_skew(df) -> tuple[int, float]:
    """(partitions, max/mean rows per partition) of a persisted layout."""
    n = df.rdd.getNumPartitions()
    counts = [r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    return n, max(counts) * n / sum(counts)


def layer_probes(spark, e, exp: Expected, tracer, res: PassResult) -> dict:
    """One standalone call into each layer on the pass's cached edge table."""
    m = {}
    total_w = float(exp.graph.w.sum())
    x = e.select(F.col("dst").alias("id")).distinct().select("id", F.lit(1.0).alias("val"))
    x = x.persist()
    x.count()

    with tracer.span("core.tuning.partition_by_key") as sp:
        lay = partition_by_key(e.select("src", "dst", "w"), "dst").persist()
        lay.count()
    m["core.tuning.partition_by_key_s"] = sp.seconds
    m["core.tuning.partitions"], m["core.tuning.partition_skew"] = partition_skew(lay)
    with tracer.span("operators.multiply.spmv") as sp:
        y = spmv(lay, x, PLUS_TIMES, broadcast_x=True).agg(F.sum("val")).collect()[0][0]
    m["operators.multiply.spmv_s"] = sp.seconds
    _check(res, "probe.spmv", lambda: y == total_w)
    lay.unpersist()

    grid = Grid2D(spark, *auto_grid_shape(spark, len(exp.edges[0])))
    with tracer.span("plans.grid.partition_edges") as sp:
        ge = grid.partition_edges(e).persist()
        ge.count()
    m["plans.grid.partition_edges_s"] = sp.seconds
    m["plans.grid.partition_skew"] = partition_skew(ge)[1]
    with tracer.span("plans.grid.spmv_grid") as sp:
        yg = spmv_grid(ge, x, grid, PLUS_TIMES).agg(F.sum("val")).collect()[0][0]
    m["plans.grid.spmv_grid_s"] = sp.seconds
    _check(res, "probe.spmv_grid", lambda: yg == total_w)
    ge.unpersist()
    x.unpersist()

    a, b = oracle.degree_ordered(exp.graph)
    ids = exp.graph.ids
    L = spark.createDataFrame(
        pd.DataFrame({"src": ids[a], "dst": ids[b], "w": np.ones(len(a), dtype=np.int64)})
    ).persist()
    L.count()
    with tracer.span("operators.multiply.spgemm") as sp:
        wedges = spgemm(L, L, PLUS_TIMES).agg(F.sum("w")).collect()[0][0]
    m["operators.multiply.spgemm_s"] = sp.seconds
    L.unpersist()
    _check(res, "probe.spgemm", lambda: wedges == exp.wedges)
    m["algorithms.triangles.wedges"] = wedges
    m["algorithms.triangles.closure_ratio"] = exp.triangles / max(wedges or 0, 1)
    return m
