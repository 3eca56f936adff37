"""Benchmark for the pdfmef_spark KG engine.

Run from the repository root:

    python3 kgbench/run.py --workload kg_batch_fixed --seed 1 --seconds 10 --trace 0

Workloads: kg_batch_fixed and dedup_collapse (gated in BENCHMARK.json),
kg_batch_growing and kg_stream_ticks (run by name); kgbench/doc.json
describes each workload and metric. One closed-loop client drives one
local Spark session with one core per available CPU.

Every metric is printed as ``# name value unit``; the last line of stdout
is the JSON result, whose metrics are the gated end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. Spans of a
traced run are written to ``.kgbench_work/spans/``. Scratch files live
under ``.kgbench_work/<run id>/`` next to this directory and are removed
at exit; ``.kgbench_work/expected.json`` keeps the output hashes that
later runs must reproduce.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "4g"

# the end-to-end metrics of the result line, as BENCHMARK.json gates them;
# the wall-time metrics are printed above it but left out: wall time
# follows the CPU time other guests take from a shared host too closely
# to gate on
GATED_E2E = ["task_cpu_ms_per_doc", "setup_s"]
UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "cpu_ms_per_doc": "ms",
    "task_cpu_ms_per_doc": "ms", "tick_p50_s": "s", "base_load_s": "s",
}


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last in ("link_yield", "precision", "recall", "write_amp"):
        return "ratio"
    return "count"


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (the benchmark's own tests)")
    return ap.parse_args(argv)


def isolate(run_dir: Path) -> None:
    """Keep Spark's and Java's scratch files inside the run directory and
    make the checkout importable by the driver and its Python workers."""
    for sub in ("local", "tmp"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    # _JAVA_OPTIONS is read after the command line, so it overrides the
    # engine's -Djava.io.tmpdir=/tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM and
    every other child process to end."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits at EOF on its stdin
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    args = parse_args(argv)
    import workloads
    from probes import RssSampler, cpu_ticks, steal_share, tree_cpu_s

    sys.path.insert(0, str(ROOT))
    try:
        import pdfmef_spark  # noqa: F401 - the program under test must be present
    except ImportError as e:
        print(f"kgbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_root = ROOT / ".kgbench_work"
    run_dir = work_root / run_id
    isolate(run_dir)
    os.chdir(run_dir)

    from pdfmef_spark.session import get_spark

    sizes = (workloads.TINY if args.tiny else workloads.SIZES)[args.workload]
    with RssSampler() as rss:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        spark = get_spark(
            "kgbench", cores=len(os.sched_getaffinity(0)), driver_memory=DRIVER_MEMORY
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s, session_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        try:
            run = workloads.Run(
                spark=spark, work=str(run_dir), seed=args.seed, seconds=args.seconds,
                trace=bool(args.trace), run_id=run_id, session_s=session_s,
                session_cpu_s=session_cpu_s, rss=rss,
                sizes=sizes,
            )
            ticks0 = cpu_ticks()
            res = workloads.WORKLOADS[args.workload](run)
            # diagnostic: CPU time the hypervisor gave other guests meanwhile
            print(f"# cpu steal {steal_share(ticks0, cpu_ticks()):.3f}", file=sys.stderr)
            if args.trace:
                run.tracer.write(str(work_root / "spans" / f"{run_id}.json"))
        finally:
            stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    for p in run.problems:
        print(f"# FAILED: {p}", file=sys.stderr)
    shown = res["layers"] if args.trace else res["e2e"]
    for name, v in shown.items():
        print(f"# {name} {v} {unit_of(name)}")
    metrics = shown if args.trace else {k: shown[k] for k in GATED_E2E}
    print(json.dumps({
        "correct": run.failed == 0 and not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
