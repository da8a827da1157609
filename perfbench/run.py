#!/usr/bin/env python3
"""Node benchmark: drives the document node through its public entry points.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 25 --trace 0

Workloads: ``serve_mixed`` (one client: signed wire-format SendMutations,
each followed by reads of the same collection) and ``log_pipeline`` (block
ingest, index-node catch-up, rollup recovery). ``--seconds`` sizes the
seeded input: one write step per 2.5 s for ``serve_mixed`` and one
staged block per 30 s for ``log_pipeline``, so a run's
counters depend only on the seed and the size. ``--trace 1`` wraps the
layer boundaries (perfbench/spans.py), writes the spans to
``.perfbench/spans-<workload>-<seed>.jsonl`` and reports per-layer metrics
instead of the end-to-end ones.

Standard output: one JSON line with provenance, sizes and every metric
(``"report"``), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. Work files live under
``.perfbench/`` in the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def provenance() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "rtstore_spark")
    for dirpath, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                src.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    src.update(f.read())
    import pyspark

    return {
        "git_commit": commit, "source_sha256": src.hexdigest()[:16],
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(), "spark": pyspark.__version__,
        "machine": platform.machine(),
    }


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session started."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(result: dict, tracer, names: dict) -> dict:
    from perfbench.spans import span_cost_us

    layers = dict(result["layers"])
    roots = [s for s in tracer.spans if s["parent"] is None and s["rid"] is not None]
    inside = sum(s["rid"] is not None for s in tracer.spans) - len(roots)
    layers["bench.span_cost_us"] = span_cost_us()
    layers["bench.spans_per_root"] = inside / max(1, len(roots))
    return {k: layers.get(k, 0.0) for k in names}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        why = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(why))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[0] = ROOT  # import the program and this package from the checkout
    # a SIGTERM unwinds through the finally below: the JVM is stopped and
    # the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark threads and shuffle partitions (the engine reads this at import).
    # One: the same process runs the node's HTTP server, the client and the
    # py4j bridge, and the JVM its JIT and GC threads. On a 4-vCPU VM
    # local[4] made writes ~1.6x and block apply ~1.7x slower than
    # local[2], and local[2] ran writes and every log_pipeline phase
    # 5-30% slower than local[1], with a wider spread between runs.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "1")
    try:
        import rtstore_spark  # noqa: F401 — the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench import common, log_pipeline, serve_mixed
    from perfbench.spans import Tracer

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir

    from rtstore_spark.engine import get_spark

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", **spark_conf(work))
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.probes import SparkCounter

            tracer = Tracer(next_job=SparkCounter(spark).next_job)
            tracer.install()
        ctx = SimpleNamespace(spark=spark, seed=args.seed, seconds=args.seconds,
                              work=work, session_s=session_s, tracer=tracer)
        module = {"serve_mixed": serve_mixed, "log_pipeline": log_pipeline}[args.workload]
        result = module.run(ctx)
        if tracer:
            tracer.uninstall()
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: {"value": v, "unit": common.PER_LAYER[k]}
                       for k, v in layer_metrics(result, tracer, common.PER_LAYER).items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["e2e"].items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    tally = result["tally"]
    report = {
        "workload": args.workload, "why": why[args.workload], "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, **provenance(),
        "sizes": result["sizes"], "failed_frac": tally.failed / max(1, tally.attempted),
        "failures": tally.failures, **result["info"],
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in result["e2e"].items()},
    }
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "failed": tally.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
