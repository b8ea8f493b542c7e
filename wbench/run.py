#!/usr/bin/env python3
"""Repository benchmark: one client process drives one workload through
``wikid_spark``'s public functions on ``local[<nproc>]``.

Usage (from the root of a checkout):

    python3 wbench/run.py --workload wiki_etl --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics from spans around the calls into each package module
(see ``wbench/WORKLOADS.md``). The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it is a detail record (not metrics).

Each run is isolated: its own temp dir (the persisted-index caches live
under ``tempfile.gettempdir()``), Spark local dirs, warehouse and JVM temp
dir, all under ``.wbench/`` in the checkout, removed at exit. Inputs and
oracle results are cached in ``.wbench/cache`` under content keys.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A run times the first pass of a fresh driver JVM: what a batch job
# submitted on its own sees, compile and class-loading costs included.
# Regular benchmark runs share a budget of 3,420 s for 4 + 22 x W runs
# (W workloads), which leaves no room for a warm-up pass (about half a
# cold pass) on top; see WORKLOADS.md.
DRIVER_MEM = "1g"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "peak_pss_mb": "MB",
    "read_p50_ms": "ms",
    "read_p90_ms": "ms",
    "write_p50_ms": "ms",
}


def _pin_environment(run_dir: str, cpus: int) -> None:
    """Everything the package and Spark read from the environment, set the
    same way on every run, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    jtmp = os.path.join(run_dir, "jvm_tmp")
    local = os.path.join(run_dir, "spark_local")
    for d in (tmp, jtmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = " ".join(
        [
            # A fixed heap with a fixed 64 MB young generation. With an
            # adaptive young generation G1 grows eden over most of the
            # heap, the whole heap becomes resident and peak_pss_mb cannot
            # see heap use; with no -Xms the heap size itself varies run
            # to run (peak PSS spread 10-12 %). With both fixed, the
            # resident heap follows the old generation's high-water mark.
            f"-Xms{DRIVER_MEM}",
            "-Xmn64m",
            # C1 only: each pass plans new queries and generates new
            # classes, so with C2 the JIT kept compiling through every
            # pass (7-10 CPU-s of a 35 CPU-s pass, varying run to run);
            # C1 cuts that to ~2 CPU-s and each run by ~10 s
            "-XX:TieredStopAtLevel=1",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={jtmp}",
            "-Dlog4j2.level=error",
        ]
    )
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_INITIAL_PARTITIONS": str(max(256, 8 * cpus)),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options {shlex.quote(java_opts)} "
                "--conf spark.ui.showConsoleProgress=false pyspark-shell"
            ),
            "PYTHONHASHSEED": "0",
        }
    )
    import tempfile

    tempfile.tempdir = tmp


def _quantile(xs: list[float], q: float) -> float:
    """Inclusive-interpolated quantile (steadier than nearest-rank on
    small samples)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def execute(
    spark, workload: str, seed: int, seconds: float, trace: bool,
    run_dir: str, cache: str, cpus: int, session_s: float,
) -> tuple[dict, dict]:
    """Run one workload in an existing session: inputs, then passes
    until ``seconds`` of pass time. The metrics come from the first pass
    (traced in a traced run); any later pass is checked and its wall time
    listed in the detail record. Returns the detail record and the
    result line."""
    import layers
    import workloads
    from spans import ProcTree, PssSampler, Tracer

    tmp_root = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tree = ProcTree()
    tracer = Tracer(spark, tree, enabled=False)
    ctx = SimpleNamespace(
        spark=spark, tracer=tracer, seed=seed, cpus=cpus, cache=cache,
        run_dir=run_dir, tmp_root=tmp_root, checks=workloads.Checks(),
    )
    ctx.index_cache = workloads.IndexCache(tracer)
    wl = workloads.WORKLOADS[workload](ctx)
    checks = ctx.checks

    t0 = time.perf_counter()
    wl.inputs()
    inputs_s = time.perf_counter() - t0

    def one_pass(i: int, traced: bool) -> dict:
        """One pass, PSS sampled throughout, then checked; ``failed`` is
        set when it raised."""
        wl.prepare_pass(i)
        tracer.enabled = traced
        sampler = PssSampler(tree)
        sampler.start()
        cpu0 = tree.cpu()
        t = time.perf_counter()
        try:
            with tracer.span("pass", index=i):
                res = wl.run_pass(i)
        except Exception as e:  # a failed pass is counted, not raised
            import traceback

            traceback.print_exc(file=sys.stderr)
            checks.check(False, f"pass {i} raised {type(e).__name__}: {e}"[:300])
            res = {"failed": True}
        finally:
            wall = time.perf_counter() - t
            cpu1 = tree.cpu()
            sampler.stop()
            tracer.enabled = False
        res.update(
            wall=wall,
            cpu=sum(cpu1.values()) - sum(cpu0.values()),
            pss=sampler.peak,
        )
        if not res.get("failed"):
            t = time.perf_counter()
            wl.check_pass(i, res)
            res["checks_s"] = time.perf_counter() - t
        return res

    passes = [one_pass(0, traced=trace)]
    while sum(r["wall"] for r in passes) < seconds and not passes[-1].get("failed"):
        passes.append(one_pass(len(passes), traced=False))
    first = passes[0]
    detail = {
        "workload": workload,
        "seed": seed,
        "cpus": cpus,
        "session_start_s": round(session_s, 3),
        "pass_s": [round(r["wall"], 3) for r in passes],
        "pass_cpu_s": [round(r["cpu"], 3) for r in passes],
        "inputs_and_oracle_s": round(inputs_s, 3),
        "checks_s": [round(r.get("checks_s", 0.0), 3) for r in passes],
        "read_s": [round(x, 3) for x in first.get("reads", ())],
        "write_s": [round(x, 3) for x in first.get("writes", ())],
        "check_notes": checks.notes,
    }
    if first.get("failed"):
        return detail, {}
    detail.update(wl.detail([first]))
    if trace:
        # the tracer's own reads of /proc and the status stores during the
        # traced pass: its overhead on pass_s
        detail["trace_overhead_s"] = round(tracer.self_s, 4)
        detail["span_coverage"] = layers.coverage(tracer.spans)
        metrics = layers.per_layer(tracer.spans, wl, session_s)
        tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        detail["spans"] = len(tracer.spans)
    else:
        reads, writes = first["reads"], first["writes"]
        values = {
            "setup_s": session_s,
            "pass_s": first["wall"],
            "pass_cpu_s": first["cpu"],
            "peak_pss_mb": first["pss"],
            "read_p50_ms": 1000 * _quantile(reads, 0.5),
            "read_p90_ms": 1000 * _quantile(reads, 0.9),
            "write_p50_ms": 1000 * _quantile(writes, 0.5),
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wikid_spark")):
        print(f"wikid_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".wbench")
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    _pin_environment(run_dir, cpus)
    sys.path.insert(0, ROOT)
    cwd = os.getcwd()
    os.chdir(run_dir)  # warehouse, metastore and derby.log land in the run dir
    spark = None
    try:
        from wikid_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"wbench-{args.workload}")
        session_s = time.perf_counter() - t0
        detail, result = execute(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            run_dir, cache, cpus, session_s,
        )
        if not result:
            return 1
        if args.trace:
            shutil.copy(
                os.path.join(run_dir, "spans.jsonl"),
                os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl"),
            )
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


if __name__ == "__main__":
    sys.exit(main())
