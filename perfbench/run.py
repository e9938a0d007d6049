"""Link-graph benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 0

Run from the repository root. The benchmark generates its inputs from
``--seed``, drives the public API of ``combblas_spark`` on
``local[<cores>]`` from a single driver thread, checks every result
against an oracle computed outside the timings, and prints one JSON
object as its last line: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = {
    # paper pipeline: string ingest, Zipf repo sizes (cliques + hub stars),
    # broadcast-mode vector exchange
    "corpus": dict(n_repos=300, n_files=3000, zipf_s=1.0),
    # Graph500 R-MAT, no string ingest, 2D band-grid vector exchange
    "rmat_grid": dict(scale=11, edgefactor=16),
}
SETUP_ROUNDS = 3
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def make_inputs(workload: str, seed: int, work: str):
    """Write the seed's input table to Parquet; return (path, expected,
    summary) where ``expected(workload, vertices)`` gives the oracle graph.
    The corpus graph needs the program's vertex ids, hence the vertex table."""
    import numpy as np

    import inputs
    import oracle

    cfg = WORKLOADS[workload]
    path = os.path.join(work, f"{workload}.parquet")
    if workload == "corpus":
        table = inputs.corpus_table(seed, **cfg)
        sizes = inputs.repo_sizes(cfg["n_repos"], cfg["n_files"], cfg["zipf_s"])
        repos = table.column("repo").to_numpy(zero_copy_only=False)
        keys = np.char.add(np.char.add(repos.astype(str), "/"),
                           table.column("path").to_numpy(zero_copy_only=False).astype(str))
        shas = [hashlib.sha256(c.encode()).hexdigest()
                for c in table.column("content").to_pylist()]
        _, repo_idx = np.unique(repos, return_inverse=True)
        summary = {
            "rows": table.num_rows, "repos": cfg["n_repos"],
            "star_repos": int((sizes > 64).sum()),
            "largest_repos": sorted(sizes.tolist(), reverse=True)[:5],
        }

        def expected(wl, v):
            ids = wl.vertex_ids(v, keys, shas)
            return oracle.build_graph(*oracle.cooccurrence_pairs(repo_idx, ids))
    else:
        table = inputs.rmat_table(seed, cfg["scale"], cfg["edgefactor"])
        src = table.column("src").to_numpy()
        dst = table.column("dst").to_numpy()
        summary = {"rows": table.num_rows, "scale": cfg["scale"],
                   "edgefactor": cfg["edgefactor"]}

        def expected(wl, v):
            return oracle.build_graph(src, dst)
    inputs.write_parquet(table, path)
    return path, expected, summary


def start_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # a fixed, pre-touched heap: the peak RSS then moves with what the
        # program adds beyond it, not with when G1 decides to grow the heap
        .config("spark.driver.extraJavaOptions",
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.default.parallelism", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def quantile(xs, q: int) -> float:
    """q-th decile (1..9) of xs; the value itself for a single sample."""
    return float(xs[0]) if len(xs) == 1 else statistics.quantiles(xs, n=10)[q - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import combblas_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    work = os.path.join(os.getcwd(), ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything the run writes stays under the working directory; the
    # Python workers Spark forks need the repository on their path
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = None
    spark = None
    try:
        spark, result = run(args, work, cores)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(args, work: str, cores: int):
    import passes
    import tracing

    trace = bool(args.trace)
    path, expected_graph, summary = make_inputs(args.workload, args.seed, work)
    wl_cls = passes.CorpusWorkload if args.workload == "corpus" else passes.RmatWorkload
    wl = wl_cls(path)

    # set-up: (re)start the session and load the cached input table, several
    # times; the first round also launches the JVM
    spark, rounds = None, []
    for _ in range(SETUP_ROUNDS):
        t = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work, cores, trace)
        wl.load(spark)
        rounds.append(time.perf_counter() - t)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tracer = tracing.Tracer(spark, run_id, enabled=False)
    done: list = []
    exp = None

    def one_pass(traced: bool, prefix: str = ""):
        tracer.enabled, tracer.prefix = traced, prefix
        res = passes.run_pass(spark, wl, tracer, os.path.join(work, f"ckpt-{len(done)}"))
        done.append(res)
        if exp is not None:
            passes.validate(res, exp)
        return res

    # The measured window starts with the session's first pass: a batch user
    # pays JIT and codegen warm-up on every job, and a warm-up pass would
    # double the run. At the configured run length it holds one pass.
    t0 = time.perf_counter()
    sm = tracing.SparkMetrics(spark) if trace else None
    gc0 = sm.driver_gc_ms() if trace else 0
    with tracing.RssSampler() as rss:
        first = one_pass(trace, "traced/")
    peak_rss = rss.peak
    gc_s = (sm.driver_gc_ms() - gc0) / 1000.0 if trace else 0.0
    # the corpus oracle needs the program's vertex ids, so it is built from
    # the first pass's vertex table (outside every timing)
    exp = passes.Expected.of(expected_graph(wl, first.outputs["vertices"]))
    passes.validate(first, exp)
    measured = [first]
    while not trace and time.perf_counter() - t0 < args.seconds:
        measured[-1].outputs["edges"].unpersist()
        with tracing.RssSampler() as rss:
            measured.append(one_pass(False))
        peak_rss = max(peak_rss, rss.peak)
    summary.update(vertices=exp.graph.n, edges=len(exp.edges[0]),
                   triangles=exp.triangles, wedges=exp.wedges)
    print("# inputs " + json.dumps(summary), flush=True)

    if trace:
        groups = sm.by_group("traced/")
        tracer.enabled = True
        probe = passes.PassResult()
        probes = passes.layer_probes(spark, first.outputs["edges"], exp, tracer, probe)
        done.append(probe)
        metrics = layer_metrics(first, exp, probes, groups, gc_s)
        out = os.path.join(os.getcwd(), ".perfbench", f"trace-{run_id}.json")
        with open(out, "w") as f:
            json.dump({"spans": tracer.records(), "spark_groups": groups,
                       "inputs": summary}, f, indent=1)
        print(f"# trace written to {os.path.relpath(out)}", flush=True)
    attempted = sum(r.attempted for r in done)
    failed = [f for r in done for f in r.failed]
    if not trace:
        def med(k):
            return statistics.median(r.times[k] for r in measured)

        metrics = {
            "setup_s": (statistics.median(rounds), "s"),
            **{k: (med(k), "s") for k in ("job_s", "ingest_s", "pagerank_s", "cc_s",
                                           "labelprop_s", "triangles_s", "resume_s")},
            "mteps": (med("mteps"), "MTEPS"),
            "ok_ratio": ((attempted - len(failed)) / attempted, "ratio"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    for f in failed:
        print(f"# FAILED {f}", file=sys.stderr)
    for name, (val, unit) in metrics.items():
        print(f"# {name} = {val:.6g} {unit}", flush=True)
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return spark, result


def layer_metrics(traced, exp, probes: dict, groups: dict, gc_s: float) -> dict:
    """Per-layer metrics of one traced pass plus the standalone probes."""
    t = traced.times
    spark_totals = {
        k: sum(g[k] for g in groups.values())
        for k in ("jobs", "tasks", "failed_tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
    }
    return {
        "sources.ingest_s": (t["ingest_s"], "s"),
        "sources.vertices": (exp.graph.n, "count"),
        "sources.edges": (len(exp.edges[0]), "count"),
        **{k: (val, _unit(k)) for k, val in probes.items()},
        "plans.superstep.step_s_p50": (statistics.median(traced.steps), "s"),
        "plans.superstep.step_s_p90": (quantile(traced.steps, 9), "s"),
        "plans.superstep.outside_s": (
            t["pagerank_s"] + t["cc_s"] - sum(traced.steps) - sum(traced.saves), "s"),
        "algorithms.pagerank.supersteps": (traced.pr_steps, "count"),
        "algorithms.cc.supersteps": (traced.cc_steps, "count"),
        "plans.superstep.save_s": (statistics.median(traced.saves), "s"),
        "plans.superstep.save_mb": (statistics.median(traced.save_bytes) / 1e6, "MB"),
        "plans.superstep.resume_s": (statistics.median(traced.resume_calls), "s"),
        **{f"spark.{k}": (val, "MB" if k.endswith("_mb") else "count")
           for k, val in spark_totals.items()},
        "spark.gc_s": (gc_s, "s"),
        "trace.job_s": (t["job_s"], "s"),
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith(("skew", "ratio")) else "count"


if __name__ == "__main__":
    sys.exit(main())
