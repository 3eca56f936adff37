"""The benchmark's own tests: every workload once at a tiny size, span
nesting, the seeded tick split, and the refusal to run without the
engine.

Run from the repository root (takes a few minutes; each workload starts
its own Spark session):

    python3 -m pytest kgbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from probes import Span, check_spans, self_times  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
GATED = [w["name"] for w in SPEC["workloads"]]
E2E = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


def _run(workload: str, trace: int, seed: int = 7, cwd: Path = ROOT, env=None):
    cmd = [sys.executable, str(cwd / "kgbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600, env=env)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, proc.stderr[-4000:]
    assert res["failed"] == 0 and res["attempted"] >= 1
    return res


def test_benchmark_json_lists_the_printed_per_layer_metrics():
    import workloads

    assert [m["name"] for m in SPEC["per_layer"]] == workloads.per_layer_names()


@pytest.mark.parametrize("workload", ["kg_batch_fixed", "kg_batch_growing", "dedup_collapse", "kg_stream_ticks"])
def test_workload_tiny_traced(workload):
    res = _result(_run(workload, trace=1))
    names = set(res["metrics"])
    assert PER_LAYER <= names, sorted(PER_LAYER - names)
    if workload in GATED:
        assert names == PER_LAYER
    # the traced run leaves its spans behind, well-formed
    spans_dir = ROOT / ".kgbench_work" / "spans"
    latest = max(spans_dir.glob(f"{workload}-s7-t1-*.json"), key=os.path.getmtime)
    spans = [Span(**s) for s in json.loads(latest.read_text())]
    assert spans
    assert check_spans(spans) == []


@pytest.mark.parametrize("workload", GATED + ["kg_stream_ticks"])
def test_workload_tiny_end_to_end(workload):
    res = _result(_run(workload, trace=0))
    assert E2E <= set(res["metrics"])
    if workload in GATED:
        assert set(res["metrics"]) == E2E
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name


def test_span_checks_catch_bad_nesting():
    ok = [Span(0, "op", 0.0, 10.0, None, "r"), Span(1, "extract", 1.0, 4.0, 0, "r"),
          Span(2, "graph", 5.0, 9.0, 0, "r")]
    assert check_spans(ok) == []
    assert self_times(ok)[0] == pytest.approx(3.0)
    outside = ok + [Span(3, "linking", 9.5, 11.0, 0, "r")]
    assert check_spans(outside)
    other_run = ok + [Span(3, "linking", 2.0, 3.0, 0, "other")]
    assert check_spans(other_run)


def test_closed_loop_starts_an_op_only_if_it_fits_the_window():
    import time
    from types import SimpleNamespace

    import workloads

    def ops_run(op_s: float, seconds: float) -> int:
        done = []
        workloads.closed_loop(
            SimpleNamespace(seconds=seconds, trace=False),
            lambda k: (time.sleep(op_s), done.append(k)),
        )
        return len(done)

    assert ops_run(0.3, 1.0) == 3
    assert ops_run(0.6, 1.0) == 1


def _spark():
    sys.path.insert(0, str(ROOT))
    from pdfmef_spark.session import get_spark

    return get_spark("kgbench_tests", cores=2, driver_memory="2g")


def test_dedup_docs_shape():
    import workloads
    from pyspark.sql import functions as F

    docs = workloads.dedup_docs(_spark(), 2000).withColumn(
        "words", F.size(F.split("text", " "))
    )
    copies = docs.filter(F.col("text").endswith(" dup"))
    r = docs.agg(F.min("words"), F.max("words"), F.count_distinct("doc_id")).first()
    assert (r[0], r[2]) == (10, 2000) and r[1] <= 101
    assert 50 <= copies.count() <= 150  # one doc in DUP_EVERY = 20
    # the input takes no seed: every call gives the same table
    assert workloads.table_hash(docs, ["doc_id", "text"]) == workloads.table_hash(
        workloads.dedup_docs(_spark(), 2000), ["doc_id", "text"]
    )


def test_tick_split_follows_seed():
    import workloads

    spark = _spark()
    sizes = workloads.TINY["kg_stream_ticks"]

    def split(seed):
        df = workloads.tick_split(spark, sizes, seed)
        ticks = {r["url"]: r["tick"] for r in df.select("url", "tick").collect()}
        return ticks, workloads.table_hash(df, df.columns)

    a, ha = split(1)
    b, hb = split(1)
    c, hc = split(2)
    assert a == b and ha == hb
    assert a != c and ha != hc
    # the base load is the same whatever the seed; only the deltas move
    assert {u for u, t in a.items() if t == 0} == {u for u, t in c.items() if t == 0}
    assert set(a.values()) == set(range(sizes["ticks"] + 1))


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "kgbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = _run(GATED[0], trace=0, cwd=tmp_path, env=env)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
