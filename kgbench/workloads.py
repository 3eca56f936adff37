"""The benchmark's workloads: inputs, timed operations and output checks.

Every workload follows the same shape:

1. set-up: generate its inputs into the run directory ``SETUP_REPEATS``
   times, then (batch and dedup) run one untimed warm-up operation.
   ``setup_s`` is the CPU time of session start, the median generation
   and the warm-up, so the cold start (JIT, class loading, Python
   workers) lands in set-up and the timed operations run warm. The
   stream's cold start is its base load, reported as ``base_load_s``;
2. a closed loop: each operation starts only after the previous one
   ended; the first always runs, a later one only if it would end
   inside a window of ``seconds`` at the pace of the one before;
3. output checks, outside every timer.

An operation is one ``run_pipeline`` call, one stream tick or one
SimHash+MinHash collapse. It fails when it raises or when its check
fails; ``attempted`` and ``failed`` count operations. Each timed
operation records its wall, the CPU of the whole process tree, and its
task CPU: the executor CPU Spark reports for the stages it submitted
plus the CPU of the Python UDF workers.

With ``trace`` on, each timed operation is followed by the batch
pipeline's layers called one by one (batch only): untraced, traced,
untraced again. The traced call puts each layer in a span and a Spark
job group, and its counters become the ``<layer>.*`` metrics. Tracing
overhead compares it with the mean of the untraced calls around it,
which run the same code. Dedup traces a second collapse instead.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import ExitStack, nullcontext
from dataclasses import dataclass, field

from probes import (
    COUNTERS, LAYERS, StageCounters, Tracer, dir_files, tree_cpu_s, worker_cpu_s,
    written_between,
)

SETUP_REPEATS = 3

# Inputs per workload. The oracle corpus, stress_pages and the dedup
# documents are functions of their size only; the seed sets the tick
# split of kg_stream_ticks.
SIZES = {
    "kg_batch_fixed": {"docs": 2000},
    "kg_batch_growing": {"docs": 2000},
    "dedup_collapse": {"docs": 1500},
    "kg_stream_ticks": {"base": 400, "tick_docs": 60, "ticks": 6},
}
TINY = {
    "kg_batch_fixed": {"docs": 60},
    "kg_batch_growing": {"docs": 60},
    "dedup_collapse": {"docs": 200},
    "kg_stream_ticks": {"base": 40, "tick_docs": 10, "ticks": 2},
}

NODE_COLS = ["entity_id", "canonical", "type", "n_mentions"]
EDGE_COLS = ["src", "dst", "pred", "weight"]
TRIPLE_KEY = ["url", "subj", "pred", "obj"]  # same key as tests/test_triples.py
MIN_TRIPLE_PR = 0.95
# per-layer metrics beyond the Spark counters of each layer
LAYER_EXTRAS = [
    "extract.error_rows", "triples.precision", "triples.recall",
    "linking.candidate_pairs", "linking.links", "linking.link_yield",
    "linking.buckets_dropped", "linking.members_dropped",
    "components.components", "graph.nodes", "graph.edges", "pipeline.overhead_s",
    "dedup.simhash_pairs", "dedup.minhash_pairs", "dedup.simhash_pairs_s",
    "dedup.minhash_pairs_s", "dedup.simhash_collapse_s", "dedup.minhash_collapse_s",
    "dedup.collapse_s", "dedup.clusters", "trace.overhead_s",
    "process.peak_rss_mb",
]

# documents for dedup_collapse, shaped like the engine's `documents`
# test table: 10-100 words drawn uniformly from a 30-word vocabulary,
# and one doc in DUP_EVERY a copy of an earlier doc with " dup" appended
DEDUP_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window vector column order small data join customer query "
    "filter group stream big"
).split()
DUP_EVERY = 20


@dataclass
class Run:
    """State of one benchmark run, created by run.py and passed down."""

    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    run_id: str
    session_s: float
    session_cpu_s: float
    rss: object
    sizes: dict
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    tracer: Tracer | None = None
    counters: StageCounters | None = None
    layers: dict[str, dict] = field(default_factory=dict)
    extra: dict[str, list] = field(default_factory=dict)

    def __post_init__(self):
        self.tracer = Tracer(self.run_id, enabled=self.trace)
        self.counters = StageCounters(self.spark)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.problems.append(what)

    def attempt(self, name: str, fn):
        """Run one operation; a raise counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - an operation failure is data
            self.failed += 1
            self.fail(f"{name} raised:\n{traceback.format_exc()}")
            return None

    def note(self, name: str, value: float) -> None:
        self.extra.setdefault(name, []).append(value)
        print(f"# {self.run_id} {name} {value}", file=sys.stderr, flush=True)

    def add_layer(self, layer: str, counters: dict) -> None:
        acc = self.layers.setdefault(layer, {})
        for k, v in counters.items():
            acc.setdefault(k, []).append(v)


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def table_hash(df, cols: list[str]) -> tuple[int, int]:
    """(rows, xor of row hashes) over ``cols``: order-free content hash."""
    from pyspark.sql import functions as F

    r = df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(F.struct(*cols))), F.lit(0)).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"])


def graph_hash(spark, out: str) -> tuple:
    return (
        table_hash(spark.read.parquet(f"{out}/nodes"), NODE_COLS),
        table_hash(spark.read.parquet(f"{out}/edges"), EDGE_COLS),
    )


def engine_digest() -> str:
    """sha256 over the Python sources of the engine and of this benchmark
    (which generates the inputs), so that outputs recorded for one
    version of either are never expected of another."""
    import hashlib

    import pdfmef_spark

    h = hashlib.sha256()
    for root in (os.path.dirname(pdfmef_spark.__file__), os.path.dirname(__file__)):
        for dirpath, dirs, files in sorted(os.walk(root)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def same_output(run: Run, name: str, value) -> None:
    """Fail the run unless ``value`` equals what every earlier op of this
    run, and every earlier run in this checkout with the same inputs and
    engine sources, produced under ``name``."""
    value = json.loads(json.dumps(value))
    path = os.path.join(os.path.dirname(run.work), "expected.json")
    key = f"{name}:{sorted(run.sizes.items())}:{engine_digest()}"
    try:
        with open(path) as fh:
            seen = json.load(fh)
    except (FileNotFoundError, ValueError):
        seen = {}
    if key not in seen:
        seen[key] = value
        with open(f"{path}.{os.getpid()}", "w") as fh:
            json.dump(seen, fh)
        os.replace(f"{path}.{os.getpid()}", path)
    elif seen[key] != value:
        run.failed += 1
        run.fail(f"{name}: output {value} != {seen[key]} of an earlier op or run")


def measured(run: Run, fn):
    """Call ``fn()``; returns its result and its cost: ``wall``, ``cpu``
    (the whole process tree) and ``task_cpu`` (executor CPU of the
    stages submitted meanwhile, as Spark reports it, plus the CPU of the
    Python UDF workers). Task CPU leaves out JIT compilation, GC and
    query planning, which the tree's CPU holds."""
    c0, w0, t0_ms = tree_cpu_s(), worker_cpu_s(), time.time() * 1e3
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    t1_ms = time.time() * 1e3
    cpu, workers = tree_cpu_s() - c0, worker_cpu_s() - w0
    executor = run.counters.fold_window(t0_ms, t1_ms)["cpu_s"]
    return out, {
        "wall": wall, "cpu": cpu, "task_cpu": executor + workers,
        "executor_cpu": executor, "worker_cpu": workers,
    }


def setup(run: Run, gen, warm_up=None) -> None:
    """Generate the inputs ``SETUP_REPEATS`` times (the last generation's
    inputs stay in place), then call ``warm_up()`` once; it returns the
    cost of its op (None if the op failed), its output check left out.
    Notes ``setup_s``: CPU seconds of session start + the median
    generation + the warm-up, and ``setup_wall_s``, the same in wall
    time."""
    gens = [measured(run, gen)[1] for _ in range(SETUP_REPEATS)]
    warm = (warm_up() if warm_up else None) or {"wall": 0.0, "cpu": 0.0}
    run.note("gen_s", median([g["wall"] for g in gens]))
    run.note("warmup_s", warm["wall"])
    run.note("setup_wall_s", run.session_s + median([g["wall"] for g in gens]) + warm["wall"])
    run.note("setup_s", run.session_cpu_s + median([g["cpu"] for g in gens]) + warm["cpu"])


def cost_metrics(run: Run, n_docs: int) -> dict:
    """End-to-end metrics of a batch or dedup run from its timed ops."""
    x = {k: median(run.extra.get(k, [])) for k in ("wall", "cpu", "task_cpu", "setup_s")}
    return {
        "setup_s": x["setup_s"],
        "task_cpu_ms_per_doc": 1e3 * x["task_cpu"] / n_docs,
        "cpu_ms_per_doc": 1e3 * x["cpu"] / n_docs,
        "docs_per_s": n_docs / x["wall"] if x["wall"] else 0.0,
        "setup_wall_s": median(run.extra.get("setup_wall_s", [])),
    }


def closed_loop(run: Run, op, traced_op=None) -> None:
    """Run ``op(k)`` back to back inside a window of ``run.seconds``: the
    first op always runs, and a later one only if it would end inside
    the window at the pace of the op before it, so that how many ops a
    run times does not hang on a small difference in speed. With tracing
    on, each untraced op is followed by ``traced_op(k)``, outside the
    window."""
    t_end = time.perf_counter() + run.seconds
    k, last = 0, 0.0
    while k == 0 or time.perf_counter() + last < t_end:
        t0 = time.perf_counter()
        op(k)
        last = time.perf_counter() - t0
        if run.trace and traced_op is not None:
            traced_op(k)
            t_end += time.perf_counter() - t0 - last
        k += 1


def rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def summary(run: Run, e2e: dict, peak_rss_mb: float, layer_extra: dict | None = None) -> dict:
    """Metrics for the result line: end-to-end always, per-layer with
    trace. Every name in ``per_layer_names()`` is present; a layer or
    count the workload does not run reads 0."""
    layers = {}
    if run.trace:
        for layer in LAYERS:
            got = run.layers.get(layer, {})
            for c in COUNTERS:
                layers[f"{layer}.{c}"] = median(got.get(c, []))
        layers.update({name: 0 for name in LAYER_EXTRAS})
        layers.update(layer_extra or {})
        layers["process.peak_rss_mb"] = peak_rss_mb
    return {"e2e": e2e, "layers": layers}


def per_layer_names() -> list[str]:
    """The per-layer metrics every gated workload prints with trace on."""
    return [f"{layer}.{c}" for layer in LAYERS for c in COUNTERS] + LAYER_EXTRAS


# ---------------------------------------------------------------------------
# batch workloads: kg_batch_fixed, kg_batch_growing
# ---------------------------------------------------------------------------


def _gen_fixed_pages(spark, n: int, path: str) -> None:
    from pdfmef_spark import corpus
    from pdfmef_spark.sources import store
    from pyspark.sql import functions as F

    # same layout as store.materialize_corpus writes for the oracle corpus
    pages = corpus.pages_df(spark, n).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(store.N_BUCKETS)).cast("int")
    )
    n_files = max(store.N_BUCKETS, spark.sparkContext.defaultParallelism * 2)
    pages.repartition(n_files).write.mode("overwrite").parquet(path)


def _gen_growing_pages(spark, n: int, path: str) -> None:
    from pdfmef_spark.plans import stress

    stress.stress_pages(spark, n).write.mode("overwrite").parquet(path)


def _group(run: Run, layer: str, k, groups: dict):
    """Spark job group around one layer call, recorded for folding."""
    g = f"{run.run_id}:{layer}:{k}"
    groups[g] = layer
    return run.counters.group(g)


class _LayerScope:
    """Span, job group and Python-worker CPU around one layer call of a
    traced op; nothing at all around an untraced one."""

    def __init__(self, run: Run, k, traced: bool):
        self.run, self.k, self.traced = run, k, traced
        self.groups: dict[str, str] = {}
        self.py_cpu: dict[str, float] = {}

    def __call__(self, layer: str):
        if not self.traced:
            return nullcontext()
        stack = ExitStack()
        stack.enter_context(self.run.tracer.span(layer))
        stack.enter_context(_group(self.run, layer, self.k, self.groups))
        w0 = worker_cpu_s()

        def add_py_cpu():
            self.py_cpu[layer] = self.py_cpu.get(layer, 0.0) + worker_cpu_s() - w0

        stack.callback(add_py_cpu)
        return stack


def _fold_spans(run: Run, root_id: int) -> dict[str, float]:
    """Layer -> summed duration of the root's direct child spans."""
    out: dict[str, float] = {}
    for s in run.tracer.spans:
        if s.parent == root_id:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
    return out


def _layered_pipeline(run: Run, pages, out: str, k: int, traced: bool) -> dict:
    """The pipeline's layers called one by one, in run_pipeline's order,
    each writing parquet before the next reads it. Untraced, it returns
    {}; traced, each layer runs in a span and a job group, and it
    returns the extra layer counts (computed after the timed calls)."""
    from pdfmef_spark.operators import components, extract, graph, linking
    from pdfmef_spark.operators import triples as triples_op
    from pyspark.sql import Observation, functions as F

    spark = run.spark
    read = spark.read.parquet
    layer = _LayerScope(run, k, traced)
    cap_obs = Observation(f"bench_caps_{k}_{int(traced)}")
    t0 = time.perf_counter()
    with (run.tracer.span("op") if traced else nullcontext()) as root:
        with layer("extract"):
            extract.extract_pages(pages).write.parquet(f"{out}/extracted")
        with layer("triples"):
            triples_op.extract_triples(read(f"{out}/extracted")).write.parquet(f"{out}/triples")
            triples_op.mentions_from_triples(read(f"{out}/triples")).write.parquet(
                f"{out}/mentions"
            )
        with layer("linking"):
            linking.surface_keys(read(f"{out}/mentions")).write.parquet(f"{out}/keys")
            linking.link_entities(keys=read(f"{out}/keys"), cap_obs=cap_obs).write.parquet(
                f"{out}/links"
            )
        with layer("components"):
            components.assign_components(
                read(f"{out}/keys"), read(f"{out}/links")
            ).write.parquet(f"{out}/assignments")
        with layer("graph"):
            keys = read(f"{out}/keys")
            # run_pipeline's broadcast rule
            broadcast_map = keys.limit(100_001).count() <= 100_000
            nodes, edges = graph.materialize_graph(
                read(f"{out}/triples"), keys, read(f"{out}/assignments"),
                broadcast_map=broadcast_map,
            )
            nodes.write.partitionBy("type").parquet(f"{out}/nodes")
            edges.write.partitionBy("pred").parquet(f"{out}/edges")
    wall = time.perf_counter() - t0
    if not traced:
        run.note("layered_wall", wall)
        return {}
    run.note("traced_wall", wall)
    spans = _fold_spans(run, root.id)
    folded = run.counters.fold_groups(layer.groups)
    for name in ["extract", "triples", "linking", "components", "graph"]:
        run.add_layer(name, {
            **folded.get(name, {}), "span_s": spans.get(name, 0.0),
            "py_cpu_s": layer.py_cpu.get(name, 0.0),
        })
    run.note("layers_wall", sum(spans.values()))

    keys = read(f"{out}/keys")
    cands = linking.candidate_pairs(keys).count()
    links = read(f"{out}/links").count()
    caps = cap_obs.get
    return {
        "extract.error_rows": read(f"{out}/extracted").filter(F.col("error").isNotNull()).count(),
        "linking.candidate_pairs": cands,
        "linking.links": links,
        "linking.link_yield": links / cands if cands else 0.0,
        "linking.buckets_dropped": caps.get("buckets_dropped", 0),
        "linking.members_dropped": caps.get("members_dropped", 0),
        "components.components": read(f"{out}/assignments").select("component").distinct().count(),
        "graph.nodes": read(f"{out}/nodes").count(),
        "graph.edges": read(f"{out}/edges").count(),
    }


def run_batch(run: Run, kind: str) -> dict:
    from pdfmef_spark import corpus, pipeline as P

    spark = run.spark
    n = run.sizes["docs"]
    pages_path = run.path("input", "pages")
    gen = _gen_fixed_pages if kind == "fixed" else _gen_growing_pages
    pages = None

    def op(k) -> dict | None:
        out = run.path("out", f"op{k}")
        rm(out)

        def call():
            return measured(run, lambda: P.run_pipeline(
                spark, pages, out, run_id=f"{run.run_id}-{k}"
            ))[1]

        cost = run.attempt(f"run_pipeline op {k}", call)
        if cost is None:
            return None
        same_output(run, f"{kind} nodes/edges", graph_hash(spark, out))
        if k == "warmup":
            rm(out)
            return cost
        for name, v in cost.items():
            run.note(name, v)
        if k != 0:
            rm(out)
        return cost

    def gen_pages() -> None:
        nonlocal pages
        gen(spark, n, pages_path)
        pages = spark.read.parquet(pages_path)

    setup(run, gen_pages, lambda: op("warmup"))
    n_docs = pages.count()
    run.rss.reset()

    layer_extra: list[dict] = []

    def layered(k: int) -> None:
        # untraced calls on both sides of the traced one, so that the
        # JIT warming up over the run does not bias the tracing overhead
        for traced in (False, True, False):
            out = run.path("out", f"layered{k}")
            rm(out)
            extra = run.attempt(
                f"layered op {k} traced={traced}",
                lambda: _layered_pipeline(run, pages, out, k, traced),
            )
            if extra is not None:
                if traced:
                    layer_extra.append(extra)
                same_output(run, f"{kind} nodes/edges", graph_hash(spark, out))
            rm(out)

    closed_loop(run, op, layered)
    peak = run.rss.peak_mb

    # checks outside the timed section, on the first timed op's output
    precision = recall = 0.0
    if kind == "fixed" and not os.path.exists(run.path("out", "op0", "triples")):
        run.failed += 1
        run.fail("no triples output to check against the golden triples")
    elif kind == "fixed":
        got = spark.read.parquet(run.path("out", "op0", "triples")).select(
            *TRIPLE_KEY
        ).dropDuplicates(TRIPLE_KEY)
        gold = corpus.golden_triples_df(spark, n).select(*TRIPLE_KEY).dropDuplicates(TRIPLE_KEY)
        n_got, n_gold = got.count(), gold.count()
        tp = got.join(gold, TRIPLE_KEY, "inner").count()
        precision = tp / n_got if n_got else 0.0
        recall = tp / n_gold if n_gold else 0.0
        print(f"# triple precision {precision:.4f} recall {recall:.4f}", flush=True)
        if precision < MIN_TRIPLE_PR or recall < MIN_TRIPLE_PR:
            run.failed += 1
            run.fail(f"triple P/R {precision:.4f}/{recall:.4f} < {MIN_TRIPLE_PR}")
    rm(run.path("out"))

    extra = {}
    if run.trace:
        extra = {k: median([e[k] for e in layer_extra]) for k in (layer_extra[0] if layer_extra else {})}
        extra["triples.precision"] = precision
        extra["triples.recall"] = recall
        x = {k: median(v) for k, v in run.extra.items()}
        extra["pipeline.overhead_s"] = x.get("wall", 0.0) - x.get("layers_wall", 0.0)
        extra["trace.overhead_s"] = x.get("traced_wall", 0.0) - x.get("layered_wall", 0.0)
    return summary(run, cost_metrics(run, n_docs), peak, extra)


# ---------------------------------------------------------------------------
# dedup_collapse
# ---------------------------------------------------------------------------


def dedup_docs(spark, n: int):
    """Fixed (doc_id, text) table shaped like the `documents` test table:
    each text is 10-100 words drawn uniformly from DEDUP_VOCAB, and one
    doc in DUP_EVERY copies the text of an earlier doc and appends
    " dup". Such texts all have close SimHash signatures, so SimHash
    pairs grow with the square of the docs while MinHash pairs stay
    near the planted copies."""
    from pyspark.sql import functions as F

    vocab = F.array(*[F.lit(w) for w in DEDUP_VOCAB])
    nv = len(DEDUP_VOCAB)
    doc = F.col("doc_id")
    is_copy = (doc > 0) & (F.pmod(F.xxhash64(doc, F.lit("dup")), F.lit(DUP_EVERY)) == 0)
    # a copy draws its words from the doc it copies
    src = F.when(is_copy, F.pmod(F.xxhash64(doc, F.lit("src")), doc)).otherwise(doc)
    length = (F.pmod(F.xxhash64(src, F.lit("len")), F.lit(91)) + 10).cast("int")
    words = F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda j: F.element_at(vocab, (F.pmod(F.xxhash64(src, j), F.lit(nv)) + 1).cast("int")),
    )
    text = F.array_join(words, " ")
    return spark.range(n).select(F.col("id").alias("doc_id")).select(
        "doc_id", F.when(is_copy, F.concat(text, F.lit(" dup"))).otherwise(text).alias("text")
    )


def cluster_hash(df) -> tuple[int, int, int]:
    """(docs, non-keepers, xor hash of (doc_id, cluster_id))."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).alias("dropped"),
        F.coalesce(F.bit_xor(F.xxhash64("doc_id", "cluster_id")), F.lit(0)).alias("h"),
    ).first()
    return int(r["n"]), int(r["dropped"] or 0), int(r["h"])


def run_dedup(run: Run) -> dict:
    """One op = SimHash pairs, then MinHash pairs, each written to parquet
    and collapsed with dedup_keep_min into a written cluster table; the
    dedup caches are released before each method. Every op must give
    the same clusters."""
    from pdfmef_spark.operators import dedup

    spark = run.spark
    n = run.sizes["docs"]
    docs_path = run.path("input", "docs")
    docs = None
    methods = {"simhash": dedup.simhash_dedup_pairs, "minhash": dedup.minhash_dedup_pairs}

    def collapse(k, traced: bool) -> dict | None:
        groups: dict[str, str] = {}
        out = run.path("out")
        span = run.tracer.span if traced else (lambda _name: nullcontext())

        def call():
            walls = {}
            for name, pairs_fn in methods.items():
                dedup.release_caches()
                spark.catalog.clearCache()
                p_out, c_out = f"{out}/{name}_pairs", f"{out}/{name}_clusters"
                t0 = time.perf_counter()
                with span("dedup"), (_group(run, "dedup", f"{name}{k}", groups) if traced else nullcontext()):
                    with span(f"{name}_pairs"):
                        pairs_fn(docs).write.parquet(p_out)
                    t1 = time.perf_counter()
                    with span(f"{name}_collapse"):
                        dedup.dedup_keep_min(docs, spark.read.parquet(p_out)).select(
                            "doc_id", "cluster_id", "keep"
                        ).write.parquet(c_out)
                walls[name] = (t1 - t0, time.perf_counter() - t1)
            return walls

        rm(out)
        w0 = worker_cpu_s()
        res = run.attempt(f"collapse op {k}", lambda: measured(run, call))
        if res is None:
            return None
        walls, cost = res
        for name in methods:
            clusters = spark.read.parquet(f"{out}/{name}_clusters")
            same_output(run, f"{name} clusters", cluster_hash(clusters))
            if traced:
                run.note(f"{name}_pairs", spark.read.parquet(f"{out}/{name}_pairs").count())
                run.note(f"{name}_pairs_s", walls[name][0])
                run.note(f"{name}_collapse_s", walls[name][1])
                multi = clusters.groupBy("cluster_id").count().filter("count > 1").count()
                run.note(f"{name}_clusters", multi)
        rm(out)
        if k == "warmup":
            return cost
        if traced:
            run.note("traced_wall", cost["wall"])
            folded = run.counters.fold_groups(groups).get("dedup", {})
            run.add_layer("dedup", {
                **folded, "span_s": sum(a + b for a, b in walls.values()),
                "py_cpu_s": worker_cpu_s() - w0,
            })
        else:
            for name, v in cost.items():
                run.note(name, v)
        return cost

    def gen_docs() -> None:
        nonlocal docs
        dedup_docs(spark, n).write.mode("overwrite").parquet(docs_path)
        docs = spark.read.parquet(docs_path)

    setup(run, gen_docs, lambda: collapse("warmup", False))
    n_docs = docs.count()
    run.rss.reset()
    def traced(k) -> None:
        # an untraced collapse on each side of the traced one, so that
        # the JIT warming up over the run does not bias tracing overhead
        collapse(k, True)
        collapse(f"{k}b", False)

    closed_loop(run, lambda k: collapse(k, False), traced)
    peak = run.rss.peak_mb
    dedup.release_caches()
    spark.catalog.clearCache()

    extra = {}
    if run.trace:
        x = {k: median(v) for k, v in run.extra.items()}
        extra = {
            "dedup.simhash_pairs": x.get("simhash_pairs", 0),
            "dedup.minhash_pairs": x.get("minhash_pairs", 0),
            "dedup.simhash_pairs_s": x.get("simhash_pairs_s", 0.0),
            "dedup.minhash_pairs_s": x.get("minhash_pairs_s", 0.0),
            "dedup.simhash_collapse_s": x.get("simhash_collapse_s", 0.0),
            "dedup.minhash_collapse_s": x.get("minhash_collapse_s", 0.0),
            "dedup.collapse_s": x.get("simhash_collapse_s", 0.0) + x.get("minhash_collapse_s", 0.0),
            "dedup.clusters": x.get("simhash_clusters", 0) + x.get("minhash_clusters", 0),
            "trace.overhead_s": x.get("traced_wall", 0.0) - x.get("wall", 0.0),
        }
    return summary(run, cost_metrics(run, n_docs), peak, extra)


# ---------------------------------------------------------------------------
# kg_stream_ticks
# ---------------------------------------------------------------------------

# incremental stage -> layer, for the program-reported stage seconds
STAGE_LAYER = {
    "extracted": "extract", "triples": "triples", "mentions": "triples",
    "surfaces": "linking", "bucket_keys": "linking", "links": "linking",
    "assignments": "components", "nodes": "graph", "edges": "graph",
}
LINK_COLS = ["type", "src", "dst", "score9"]
ASSIGN_COLS = ["type", "norm", "component"]


def tick_split(spark, sizes: dict, seed: int):
    """stress_pages with a ``tick`` column: the first ``base`` docs are
    tick 0 (the base load); the rest go to ticks 1..ticks by a hash of
    (url, seed), so the seed alone sets the split."""
    from pdfmef_spark.plans import stress
    from pyspark.sql import functions as F

    base, n_ticks = sizes["base"], sizes["ticks"]
    n = base + n_ticks * sizes["tick_docs"]
    idx = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    tick = F.when(idx < base, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(n_ticks)) + 1
    )
    return stress.stress_pages(spark, n).withColumn("tick", tick.cast("int"))


def _semantic_hashes(spark, out: str) -> dict:
    from pyspark.sql import functions as F

    links = spark.read.parquet(f"{out}/links").withColumn("score9", F.round("score", 9))
    return {
        "nodes": table_hash(spark.read.parquet(f"{out}/nodes"), NODE_COLS),
        "edges": table_hash(spark.read.parquet(f"{out}/edges"), EDGE_COLS),
        "links": table_hash(links, LINK_COLS),
        "assignments": table_hash(spark.read.parquet(f"{out}/assignments"), ASSIGN_COLS),
    }


def run_stream(run: Run) -> dict:
    from pdfmef_spark import pipeline as P
    from pdfmef_spark.streaming.incremental import Ledger
    from pdfmef_spark.streaming.ingest import run_streaming_kg_updates
    from pyspark.sql import functions as F

    spark = run.spark
    sizes = run.sizes
    staged = run.path("input", "staged")
    setup(
        run,
        lambda: tick_split(spark, sizes, run.seed)
        .write.partitionBy("tick").mode("overwrite").parquet(staged),
    )
    arrival, out, ckpt = run.path("arrive"), run.path("out", "kg"), run.path("ckpt")
    for p in (arrival, out, ckpt):
        rm(p)
    os.makedirs(arrival)
    snapshot = spark.read.parquet(staged).drop("tick")
    tick_docs = {
        r["tick"]: r["count"] for r in spark.read.parquet(staged).groupBy("tick").count().collect()
    }

    def drop(t: int) -> int:
        """Copy tick t's files into the arrival dir; returns bytes dropped."""
        src = f"{staged}/tick={t}"
        n = 0
        for i, f in enumerate(sorted(os.listdir(src)) if os.path.exists(src) else []):
            if f.endswith(".parquet"):
                shutil.copy(f"{src}/{f}", f"{arrival}/t{t}_{i}.parquet")
                n += os.path.getsize(f"{src}/{f}")
        return n

    def tick(t: int) -> float | None:
        stage_s: dict[str, float] = {}

        def on_batch(res, _epoch):
            for name, r in res.results.items():
                stage_s[name] = stage_s.get(name, 0.0) + r.seconds

        before = dir_files(out)
        in_bytes = drop(t)

        def call():
            t0_ms = time.time() * 1e3
            w0 = worker_cpu_s()
            with run.tracer.span(f"tick{t}"):
                q = run_streaming_kg_updates(
                    spark, arrival, out, checkpoint_dir=ckpt, on_batch=on_batch
                )
                q.awaitTermination()
            return t0_ms, time.time() * 1e3, worker_cpu_s() - w0

        res = run.attempt(f"tick {t}", lambda: measured(run, call))
        if res is None:
            return None
        (t0_ms, t1_ms, py_cpu), cost = res
        wall = cost["wall"]
        if t == 0:
            return wall
        written, files = written_between(before, dir_files(out))
        run.note("tick_wall", wall)
        run.note("tick_cpu", cost["cpu"])
        run.note("tick_task_cpu", cost["task_cpu"])
        run.note("tick_docs", tick_docs.get(t, 0))
        if run.trace:
            stage_total = sum(stage_s.values())
            run.note("stage_s", stage_total)
            run.note("unattributed_s", wall - stage_total)
            run.note("bytes_written_mb", written / 1e6)
            run.note("files_written", files)
            run.note("write_amp", written / in_bytes if in_bytes else 0.0)
            run.add_layer("incremental", {**run.counters.fold_window(t0_ms, t1_ms), "py_cpu_s": py_cpu})
            per_layer: dict[str, float] = {}
            for name, secs in stage_s.items():
                layer = STAGE_LAYER.get(name, name)
                per_layer[layer] = per_layer.get(layer, 0.0) + secs
            for layer, secs in per_layer.items():
                run.note(f"stage.{layer}", secs)
            t0 = time.perf_counter()
            Ledger(spark, f"{out}/ledger", key="url").unprocessed(snapshot).count()
            run.note("ledger_probe_s", time.perf_counter() - t0)
        return wall

    base_s = tick(0)
    run.rss.reset()
    done = [0]
    t_end = time.perf_counter() + run.seconds
    for t in range(1, sizes["ticks"] + 1):
        if t > 1 and time.perf_counter() >= t_end:
            break
        tick(t)
        done.append(t)
    peak = run.rss.peak_mb

    # check: the incremental tables equal run_pipeline over the union
    full = run.path("out", "full")
    union = spark.read.parquet(staged).filter(F.col("tick").isin(done)).drop("tick")
    try:
        P.run_pipeline(spark, union, full, run_id="union")
        want, got = _semantic_hashes(spark, full), _semantic_hashes(spark, out)
        for table in want:
            if want[table] != got[table]:
                run.failed += 1
                run.fail(f"stream {table} {got[table]} != run_pipeline {want[table]}")
    except Exception:  # noqa: BLE001 - a failed check is a failed result
        run.failed += 1
        run.fail(f"stream check raised:\n{traceback.format_exc()}")

    walls = run.extra.get("tick_wall", [])
    delta_docs = sum(run.extra.get("tick_docs", [])) or 1
    e2e = {
        "setup_s": median(run.extra["setup_s"]),
        "task_cpu_ms_per_doc": 1e3 * sum(run.extra.get("tick_task_cpu", [])) / delta_docs,
        "cpu_ms_per_doc": 1e3 * sum(run.extra.get("tick_cpu", [])) / delta_docs,
        "docs_per_s": delta_docs / sum(walls) if walls else 0.0,
        "setup_wall_s": median(run.extra["setup_wall_s"]),
        "tick_p50_s": median(walls),
        "base_load_s": base_s or 0.0,
    }
    extra = {}
    if run.trace:
        x = {k: median(v) for k, v in run.extra.items()}
        inc = run.layers.get("incremental", {})
        extra = {f"incremental.{c}": median(inc.get(c, [])) for c in COUNTERS if c != "span_s"}
        extra.update({
            "incremental.stage_s": x.get("stage_s", 0.0),
            "ingest.unattributed_s": x.get("unattributed_s", 0.0),
            "incremental.ledger_probe_s": x.get("ledger_probe_s", 0.0),
            "incremental.bytes_written_mb": x.get("bytes_written_mb", 0.0),
            "incremental.files_written": x.get("files_written", 0),
            "incremental.write_amp": x.get("write_amp", 0.0),
        })
        for layer in ["extract", "triples", "linking", "components", "graph"]:
            extra[f"incremental.{layer}_stage_s"] = x.get(f"stage.{layer}", 0.0)
    return summary(run, e2e, peak, extra)


WORKLOADS = {
    "kg_batch_fixed": lambda run: run_batch(run, "fixed"),
    "kg_batch_growing": lambda run: run_batch(run, "growing"),
    "dedup_collapse": run_dedup,
    "kg_stream_ticks": run_stream,
}
