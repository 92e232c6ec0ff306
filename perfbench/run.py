#!/usr/bin/env python3
"""Closed-loop benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Run from the repository root.  One driver process runs Spark on
``local[<usable cores>]`` with one job in flight at a time; passes
repeat back to back until ``--seconds`` have elapsed (at least one
pass), and every pass's output is checked against truth built without
the kernels.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of one traced pass (see ``perfbench/README.md``).
A record of the run (walls, host context, spans) is written under
``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.harness import Trace, plain_call  # noqa: E402
from perfbench.procmon import PeakRss  # noqa: E402

WORKLOAD_NAMES = ("extract", "curate")
DRIVER_MEMORY = "2g"
SETUP_REPS = 3   # inputs are built this many times; the median counts


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


@dataclass
class Context:
    """What a workload needs from the run: the session, its core count,
    the seed and a private scratch directory inside the checkout."""
    spark: object
    cores: int
    seed: int
    work: Path


def start_spark(cores: int, work: Path):
    from table_transformer_spark.pipeline.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)   # py4j handshake file, workers
    tempfile.tempdir = None
    # the environment variable wins over spark.local.dir, so set it
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def host_context() -> dict:
    sys.path.insert(0, str(ROOT / "scripts"))
    from probe_gate import probe_sec

    return {"loadavg": list(os.getloadavg()), "probe_s": probe_sec()}


def attempt(wl, call, tracer=None) -> tuple[float, object, list[str]]:
    """One pass and its check: (pass wall, result, problems).  A pass
    that raises is a problem too.  With *tracer*, the pass (not its
    check) runs under a ``pass`` span."""
    t0 = time.perf_counter()
    try:
        with tracer.span("pass") if tracer else contextlib.nullcontext():
            result = wl.run_pass(call)
        wall = time.perf_counter() - t0
        return wall, result, wl.check(result)
    except Exception:
        return time.perf_counter() - t0, None, [traceback.format_exc()]


def measure(wl, seconds: float) -> tuple[list[float], int, int]:
    """Back-to-back passes within *seconds*: a pass starts only if one as
    long as the last (with its check) still ends inside the window, and
    the first always runs.  The pass count then does not flip between
    runs whose passes differ by a few percent.  Returns the walls of
    correct passes, passes attempted and passes failed."""
    walls, attempted, failed = [], 0, 0
    start, last = time.perf_counter(), 0.0
    while attempted == 0 or time.perf_counter() - start + last <= seconds:
        attempted += 1
        t0 = time.perf_counter()
        wall, _, problems = attempt(wl, plain_call)
        last = time.perf_counter() - t0
        if problems:
            failed += 1
            log(f"pass {attempted} failed: {problems}")
        else:
            walls.append(wall)
            log(f"pass {attempted}: {wall:.3f}s")
    return walls, attempted, failed


def traced(wl, name: str, spark, run_id: str, untraced_s: float):
    """One traced pass, the workload's layer split and the kernel rates.
    Returns (per-layer metrics, problems, trace); the metrics are empty
    when the pass failed."""
    from perfbench.kernels import kernel_rates

    trace = Trace(spark, run_id)
    _, result, problems = attempt(wl, trace, trace.tracer)
    if problems:
        return {}, problems, trace
    rates = kernel_rates()
    try:
        metrics = {**rates, **wl.layers(result, trace, rates)}
    except Exception:
        return {}, [traceback.format_exc()], trace
    pass_s = trace.tracer.durations()["pass"]
    driver_self = trace.tracer.self_times()["pass"]
    metrics.update({
        f"{name}.pass_s": untraced_s,
        f"{name}.trace_overhead_s": pass_s - untraced_s,
        # untraced wall the layer self times leave unaccounted for
        f"{name}.unexplained_s": untraced_s - (pass_s - driver_self),
    })
    return metrics, problems, trace


def run(args) -> dict:
    # imports the package under test, checked importable by main()
    from perfbench.workloads import WORKLOADS

    layers = json.loads((ROOT / "perfbench" / "layers.json").read_text())
    cores = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:8]
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "cores": cores, "run_id": run_id,
                    "host": host_context()}
    log(f"{args.workload} seed={args.seed} cores={cores} "
        f"host={record['host']}")
    work = ROOT / ".perfbench_work" / f"{args.workload}-{run_id}"
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores, work)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](
            Context(spark, cores, args.seed, work))
        builds = []
        for slot in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.materialize(slot)
            builds.append(time.perf_counter() - t0)
        # one checked pass over the real inputs fills the Python worker
        # pool, imports the kernels in the workers and lets the JVM
        # compile the hot paths at full input size
        warm_s, _, problems = attempt(wl, plain_call)
        setup_s = session_s + statistics.median(builds) + warm_s
        record["setup"] = {"session_s": session_s, "materialize_s": builds,
                           "warm_s": warm_s}
        log(f"setup {setup_s:.2f}s {record['setup']}")
        attempted, failed = 1, int(bool(problems))
        if problems:
            log(f"warm-up pass failed: {problems}")

        rss = PeakRss().start()
        try:
            walls, n, bad = measure(wl, args.seconds)
        finally:
            rss.stop()
        attempted, failed = attempted + n, failed + bad
        record.update(walls=walls, peak_rss_mb=rss.peak_mb)
        median_s = statistics.median(walls) if walls else 0.0
        if not args.trace:
            metrics = {
                "docs_per_s": (wl.docs / median_s if walls else 0.0, "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
            }
        else:
            layer, problems, trace = traced(wl, args.workload, spark,
                                            run_id, median_s)
            attempted += 1
            if problems:
                failed += 1
                log(f"traced pass failed: {problems}")
            unknown = set(layer) - set(layers)
            if unknown:
                raise RuntimeError(f"metrics missing from layers.json: "
                                   f"{sorted(unknown)}")
            # layers of the other workload did no work in this one
            metrics = {n: (layer.get(n, 0.0), spec["unit"])
                       for n, spec in layers.items()}
            record["spans"] = [vars(s) for s in trace.tracer.spans]
            record["self_s"] = trace.tracer.self_times()
            record["layers"] = layer
        record.update(attempted=attempted, failed=failed)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    runs = ROOT / ".perfbench_runs"
    runs.mkdir(exist_ok=True)
    with open(runs / f"{args.workload}-seed{args.seed}-trace{args.trace}"
              f"-{run_id}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import table_transformer_spark  # noqa: F401
    except ImportError as exc:
        log(f"the package under test is not importable ({exc}); run from "
            "a full checkout of the repository")
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
