"""End-to-end KG pipeline runner with per-stage manifest + resume.

Stage DAG (all DataFrame -> DataFrame; topology fixed, like the
reference's hard-coded runnable order, src/extractor/main.py:71-98,
but declared data-dependencies instead of insertion order):

    pages -> extracted -> triples -> mentions -> links -> assignments
                              `-----------------------------> nodes, edges

Each stage writes partitioned parquet + manifest rows
(run_id, stage, partition_id, status, rows_out, n_errors, content_sha).
A rerun skips any stage whose manifest records status=complete — the
generalization of pdfmef's CRAWLED/EXTRACTING/PASS/FAIL state machine
(properties.config:27-31, wrappers.py:180-195): state is data in a
table, not a log to re-parse (main.py:23-41 re-parses logs; we don't).

Kill the job between stages and rerun: completed stages are read back
from parquet, not recomputed (asserted by tests/test_resume.py).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F

STAGES = ["extracted", "triples", "mentions", "links", "assignments", "nodes", "edges"]


@dataclass
class StageResult:
    name: str
    df: DataFrame
    recomputed: bool
    rows: int = -1
    seconds: float = 0.0
    metrics: dict | None = None


@dataclass
class PipelineRun:
    out_dir: str
    run_id: str
    results: dict[str, StageResult] = field(default_factory=dict)

    def df(self, stage: str) -> DataFrame:
        return self.results[stage].df


def _manifest_path(out_dir: str) -> str:
    return f"{out_dir}/manifest"


def _completed_stages(spark: SparkSession, out_dir: str) -> set[str]:
    """One manifest read per run (not one per stage)."""
    mp = _manifest_path(out_dir)
    if not os.path.exists(mp):
        return set()
    m = spark.read.parquet(mp)
    return {
        r.stage
        for r in m.filter(F.col("status") == "complete").select("stage").distinct().collect()
    }


def _per_partition_counts(path: str) -> list[int]:
    """Rows per output file, footer-metadata only, ordered by file path.

    pyarrow dataset discovery skips `_SUCCESS`/dot files and resolves
    hive partition dirs; `fragment.metadata` reads just the parquet
    footer through the dataset's filesystem (local here, s3/gcs/abfs
    the same way), so no data pass over the stage output ever happens.
    """
    import pyarrow.dataset as pads

    try:
        dset = pads.dataset(path, format="parquet", partitioning="hive")
    except FileNotFoundError:
        # an empty incremental batch touches no partition under dynamic
        # overwrite — its counts dir never materializes
        return []
    frags = sorted(dset.get_fragments(), key=lambda fr: fr.path)
    return [fr.metadata.num_rows for fr in frags]


def _write_stage(
    spark: SparkSession, out_dir: str, run_id: str, stage: str, df: DataFrame,
    error_col: str | None = None,
    partition_by: list[str] | None = None,
    extra_obs=None,
    out_metrics: dict | None = None,
    writer_options: dict | None = None,
    counts_path: str | None = None,
) -> DataFrame:
    """Write stage output + manifest.

    Totals (rows, errors, content sha) ride the write job itself via
    ``df.observe`` (zero extra passes); per-partition row counts come
    from the just-written parquet FOOTERS only (pyarrow dataset
    fragment metadata — a few KB per file, no data pages touched, and
    fragment discovery works against any pyarrow filesystem, so the
    same code path holds on an object store). The reference recovers
    the same information by re-parsing its result log
    (src/extractor/main.py:23-41) — here it is observed once and
    stored as data, with zero re-scan of the stage output.
    """
    path = f"{out_dir}/{stage}"
    err_expr = (
        F.sum(F.when(F.col(error_col).isNotNull(), 1).otherwise(0))
        if error_col and error_col in df.columns
        else F.sum(F.lit(0))
    )
    from pyspark.sql import Observation

    obs = Observation(f"{stage}_metrics")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        err_expr.cast("long").alias("n_errors"),
        F.coalesce(F.bit_xor(F.xxhash64(F.struct("*"))), F.lit(0)).alias("sha_long"),
    )
    writer = observed.write.mode("overwrite")
    if writer_options:
        writer = writer.options(**writer_options)
    if partition_by:
        # hive layout on low-cardinality columns (edges by pred, nodes by
        # type): downstream per-predicate/per-type reads prune partitions
        # at the scan (the Iceberg-table shape from the north star)
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    totals = obs.get
    # operator-level side metrics (e.g. linking cap drop counters) rode
    # the same write job via their own Observation — available now
    metrics_json = None
    if extra_obs is not None:
        import json

        try:
            vals = {k: int(v) for k, v in dict(extra_obs.get).items()}
        except Exception:
            # Spark 4.1 AQE empty-relation propagation drops sub-root
            # CollectMetrics rows when the stage output is EMPTY (the
            # root observation above still delivers). An empty stage has
            # no candidates to have capped — record the metrics as absent
            # rather than failing the write.
            vals = None
        if vals is not None:
            if out_metrics is not None:
                out_metrics.update(vals)
            metrics_json = json.dumps(vals, sort_keys=True)

    records = []
    for pid, n_rows in enumerate(_per_partition_counts(counts_path or path)):
        # dense index over sorted file paths: unique even under hive
        # partitioned layouts where task-numbered file names repeat
        # across partition directories
        records.append(
            (run_id, stage, pid, "partition_done", None, n_rows, None, None, None)
        )
    records.append(
        # sum-style observation totals are NULL on a zero-row write
        (run_id, stage, -1, "complete", None, int(totals["rows_out"] or 0),
         int(totals["n_errors"] or 0),
         format(int(totals["sha_long"] or 0) & (2**64 - 1), "x"),
         metrics_json)
    )
    _append_manifest(out_dir, records)
    if int(totals["rows_out"] or 0) == 0 and not _has_parquet(path):
        # a zero-row stage under a partitioned overwrite writes no
        # parquet files (first incremental batch with e.g. no triples),
        # so a read-back can't infer a schema — return an empty frame
        # with the stage's own schema instead of failing the run. A
        # zero-row batch into a directory that already holds earlier
        # batches reads back like any other write: the result is always
        # the whole stage table, never just this write's rows.
        return spark.createDataFrame([], df.schema)
    # read back with the KNOWN schema: with an inferred schema the
    # reader additionally opens parquet FOOTERS at DataFrame
    # construction, a cost that grows with the accumulated batch_id
    # partitions; providing the written frame's schema skips that
    # (measured ~17% of construction at 800 files — partition-directory
    # LISTING itself still happens either way). Hive partition columns
    # ride the written frame itself, so df.schema already includes them;
    # their values are recovered from the directory names.
    try:
        return spark.read.schema(df.schema).parquet(path)
    except Exception:
        # e.g. a filesystem where even the lazy reader probes the root
        # path at construction — fall back to the inferring read
        return spark.read.parquet(path)


def _has_parquet(path: str) -> bool:
    """Whether ``path`` holds any parquet data file (in any partition
    dir). A zero-row partitioned write leaves a directory with none, and
    a schema-less read of such a directory throws."""
    return any(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def _run_stage(
    spark: SparkSession,
    run: PipelineRun,
    name: str,
    build,
    completed: set[str] = frozenset(),
    batch_id: int | None = None,
    **write_kw,
) -> DataFrame:
    """Build, write and time one stage; record its StageResult.

    A stage in ``completed`` is read back instead of rebuilt (resume).
    With ``batch_id`` the stage is doc-local: its rows land in their own
    ``batch_id=<B>`` hive partition under DYNAMIC partition overwrite,
    so re-running a crashed batch replaces exactly that partition, and
    the returned frame is the whole table across batches.
    """
    if name in completed:
        df = spark.read.parquet(f"{run.out_dir}/{name}")
        run.results[name] = StageResult(name, df, recomputed=False)
        return df
    t0 = time.time()
    df = build()
    if batch_id is not None:
        df = df.withColumn("batch_id", F.lit(batch_id))
        write_kw.update(
            partition_by=["batch_id"],
            writer_options={"partitionOverwriteMode": "dynamic"},
            counts_path=f"{run.out_dir}/{name}/batch_id={batch_id}",
        )
    metrics: dict = {}
    out = _write_stage(
        spark, run.out_dir, run.run_id, name, df, out_metrics=metrics, **write_kw
    )
    run.results[name] = StageResult(
        name, out, recomputed=True, seconds=round(time.time() - t0, 2),
        metrics=metrics or None,
    )
    return out


def _write_graph(
    spark: SparkSession,
    run: PipelineRun,
    nodes_df: DataFrame,
    edges_df: DataFrame,
    completed: set[str] = frozenset(),
) -> None:
    """Write the graph tail: nodes hive-partitioned by type, edges by
    pred, so per-type/per-predicate reads prune partitions at the scan.

    Nodes and edges share no data dependency — both write jobs are
    submitted from a 2-thread pool so the tail tasks of one back-fill
    cores the other's stragglers leave idle. Jobs submitted from driver
    threads interleave in Spark's FIFO scheduler; manifest appends are
    per-file (uuid-named) and run.results updates are GIL-atomic dict
    stores, so _run_stage is thread-safe as-is.
    """
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_nodes = pool.submit(
            _run_stage, spark, run, "nodes", lambda: nodes_df,
            completed=completed, partition_by=["type"],
        )
        f_edges = pool.submit(
            _run_stage, spark, run, "edges", lambda: edges_df,
            completed=completed, partition_by=["pred"],
        )
        f_nodes.result()
        f_edges.result()


def _append_manifest(out_dir: str, records: list[tuple]) -> None:
    """Append manifest rows as one parquet file via pyarrow directly.

    The manifest is a handful of rows per stage; routing it through a
    Spark write job costs a full job-scheduling round trip (~0.5-1 s of
    driver latency) seven times per pipeline run. A direct footer-sized
    pyarrow file append is milliseconds, and the resulting directory is
    still one parquet table Spark reads back for resume. (On an object
    store this is one PUT — the same append-only-table idiom.)
    """
    import datetime
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    now = datetime.datetime.now(datetime.timezone.utc)
    cols = list(zip(*records)) if records else [[]] * 9
    table = pa.table(
        {
            "run_id": pa.array(cols[0], pa.string()),
            "stage": pa.array(cols[1], pa.string()),
            "partition_id": pa.array(cols[2], pa.int32()),
            "status": pa.array(cols[3], pa.string()),
            "rows_in": pa.array(cols[4], pa.int64()),
            "rows_out": pa.array(cols[5], pa.int64()),
            "n_errors": pa.array(cols[6], pa.int64()),
            "content_sha": pa.array(cols[7], pa.string()),
            "metrics": pa.array(cols[8], pa.string()),
            "updated_ts": pa.array([now] * len(records), pa.timestamp("us", tz="UTC")),
        }
    )
    mp = _manifest_path(out_dir)
    os.makedirs(mp, exist_ok=True)
    pq.write_table(table, f"{mp}/manifest-{uuid.uuid4().hex}.parquet")


def refresh_analytics(
    spark: SparkSession,
    out_dir: str,
    run: "PipelineRun",
    run_id: str,
    iterations: int = 3,
) -> None:
    """Recompute graph analytics (PageRank over the materialized edge
    table) into the ``pagerank`` stage dir.

    Contract (the incremental-analytics decision, made explicit):
    analytics are RECOMPUTED from the merged graph each refresh, not
    incrementally maintained. Rationale: entity canonicalization can
    merge components across batches, changing historical edge endpoints
    — rank deltas are not local to the new batch, and incremental
    PageRank maintenance (e.g. Monte-Carlo residual push) trades exact
    cross-engine reproducibility for speed the edge-table size doesn't
    yet demand. The recompute cost is measured per batch (a StageResult
    like any stage, and a bench row), so the point where maintenance
    becomes worth its complexity is a number, not a guess."""
    from pdfmef_spark.operators import pagerank as pr_op

    edges = spark.read.parquet(f"{out_dir}/edges")
    t0 = time.time()
    df = _write_stage(
        spark, out_dir, run_id, "pagerank",
        pr_op.pagerank(edges, iterations=iterations),
    )
    run.results["pagerank"] = StageResult(
        "pagerank", df, recomputed=True, seconds=round(time.time() - t0, 2)
    )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    link_threshold: float = 0.70,
    analytics: bool = False,
) -> PipelineRun:
    """Run (or resume) the full pipeline; every stage idempotent."""
    from pdfmef_spark.operators import components, extract, graph, linking, triples as triples_op

    run_id = run_id or f"run-{int(time.time())}"
    os.makedirs(out_dir, exist_ok=True)
    run = PipelineRun(out_dir=out_dir, run_id=run_id)

    completed = _completed_stages(spark, out_dir)

    stage = partial(_run_stage, spark, run, completed=completed)

    extracted = stage("extracted", lambda: extract.extract_pages(pages), error_col="error")
    triples = stage("triples", lambda: triples_op.extract_triples(extracted))
    mentions = stage("mentions", lambda: triples_op.mentions_from_triples(triples))
    # candidate caps drop hot buckets silently at scale — observe the
    # drop counters on the links write job and store them in the manifest
    from pyspark.sql import Observation

    # keys is the distinct-surface vocabulary — tiny next to mentions,
    # but computing it is a full shuffle over the mentions table, and
    # FOUR downstream write jobs (links, assignments, nodes, edges)
    # embed it in their plans. persist() computes that shuffle once.
    keys = linking.surface_keys(mentions).persist()
    # broadcast the surface->entity map only while it is genuinely small:
    # building a multi-hundred-k-row broadcast is driver work that repeats
    # per write job and does not shrink with executor count (and at
    # 10^12-doc vocabulary it would not fit at all — the shuffle join
    # with AQE skew handling is the scale path)
    broadcast_map = keys.limit(100_001).count() <= 100_000
    cap_obs = Observation(f"links_caps_{run_id}")
    try:
        links = stage(
            "links",
            lambda: linking.link_entities(
                mentions, link_threshold, cap_obs=cap_obs, keys=keys
            ),
            extra_obs=cap_obs,
        )
        assignments = stage(
            "assignments", lambda: components.assign_components(keys, links)
        )
        # materialize_graph is pure plan construction (no jobs run until a
        # stage writes), so building both outputs up front costs nothing on
        # resume and each stage writes its own DataFrame — no hand-off state
        nodes_df, edges_df = graph.materialize_graph(
            triples, keys, assignments, broadcast_map=broadcast_map
        )
        _write_graph(spark, run, nodes_df, edges_df, completed=completed)
    finally:
        keys.unpersist()
    if analytics:
        refresh_analytics(spark, out_dir, run, run_id)
    return run


def run_pipeline_incremental(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    link_threshold: float = 0.70,
    analytics: bool = False,
) -> PipelineRun:
    """Incremental KG update: extract only NEW pages, rebuild the graph.

    The crawl grows snapshot by snapshot (the reference's polling daemon,
    src/extractor/main.py:139-176, re-queries its MySQL work queue each
    tick); here the "queue" is an anti-join against a parquet ledger
    (streaming/incremental.Ledger). Stage split by cost model:

    * doc-local stages (extracted, triples, mentions, and the per-batch
      surface-vocabulary delta) touch only the url DELTA and land in
      ``batch_id=<B>`` hive partitions via DYNAMIC partition overwrite,
      so re-running a crashed batch replaces exactly its own partition
      (idempotent, effectively-once together with the ledger commit
      that happens strictly last).
    * corpus-global stages (links, assignments, nodes, edges) operate
      on the distinct-surface vocabulary. Because surface frequencies
      are additive and the ledger guarantees each url lands in exactly
      one batch, the vocabulary is the SUM of the per-batch deltas —
      the tail aggregates O(vocab x batches) delta rows and never
      rescans the historical mentions table. The LINKS stage is
      itself incremental: block keys are a pure function of the norm
      string (linking.tag_block_keys), each batch persists keys for
      its NEW norms only (``bucket_keys``, hive batch partitions), and
      candidate generation expands only buckets a new norm touched —
      links = prev_links UNION score(new-touching pairs), exactly the
      full recompute (pinned by tests) unless a touched bucket crossed
      its cap this tick, which forces a full links rebuild (the
      bucket's old pairs must vanish with it). Measured at 5k docs /
      6 batches: links+keys 3.6 s -> 0.9 s per tick, same links table.
      Graph materialization is
      DELTA + REMAP: entity_id = xxhash64 over the component's minimum
      member norm is a pure function of component membership, so a
      cross-batch merge reduces to a (old_id -> new_id) remap of the
      previous edges table plus resolution of only the new batch's
      triples (operators/graph.materialize_graph_delta). Tail input per
      batch is O(prev graph + delta + vocab), never O(all triples);
      each tick still rewrites assignments, nodes and edges whole, in
      the same layout as ``run_pipeline`` (assignments flat, nodes by
      type, edges by pred); byte-identity with from-scratch is pinned
      by tests. Fallbacks to
      the full merged-triples rebuild: first batch, a crash-retry of a
      batch whose tail already started (a "tail started" manifest row
      keyed on batch_id — the delta may already be folded into prev
      links / edges), and a component SPLIT (only
      possible when LSH candidate caps dropped links). Incremental
      connected components is still not worth its complexity at this
      stage-size ratio: at 10^12 docs the extract stages are ~all of
      the cost and are never recomputed.

    At scale the delta chain would be read back from the just-committed
    Iceberg snapshot instead of persist(); local parquet has no
    snapshot isolation, so the delta is cached across the three writes.
    """
    from pdfmef_spark import schemas
    from pdfmef_spark.operators import components, extract, graph, linking, triples as triples_op
    from pdfmef_spark.streaming.incremental import Ledger

    os.makedirs(out_dir, exist_ok=True)
    if os.path.exists(f"{out_dir}/extracted") and not os.path.exists(f"{out_dir}/ledger"):
        # a run_pipeline output has flat stage dirs; appending hive
        # batch_id partitions into them would leave an unreadable mixed
        # layout — refuse instead of corrupting
        raise ValueError(
            f"{out_dir} holds a non-incremental pipeline output (no ledger); "
            "incremental mode needs a fresh out_dir"
        )
    ledger = Ledger(spark, f"{out_dir}/ledger", key="url")
    prev = ledger.read()
    batch_id = (prev.agg(F.coalesce(F.max("batch_id"), F.lit(-1))).first()[0] or 0) + 1
    run_id = run_id or f"inc-{batch_id}"
    run = PipelineRun(out_dir=out_dir, run_id=run_id)

    delta = ledger.unprocessed(pages)
    if delta.isEmpty():
        # nothing new: stages stand as-is (read back lazily), no writes
        for name in STAGES:
            p = f"{out_dir}/{name}"
            if os.path.exists(p):
                run.results[name] = StageResult(
                    name, spark.read.parquet(p), recomputed=False
                )
        return run

    stage = partial(_run_stage, spark, run)
    batch_stage = partial(_run_stage, spark, run, batch_id=batch_id)

    extracted_d = extract.extract_pages(delta).persist()
    try:
        batch_stage("extracted", lambda: extracted_d, error_col="error")
        triples_d = triples_op.extract_triples(extracted_d).persist()
        try:
            triples = batch_stage("triples", lambda: triples_d)
            mentions_d = triples_op.mentions_from_triples(triples_d)
            batch_stage("mentions", lambda: mentions_d)
            # per-batch vocabulary DELTA: surface freq is a plain count
            # and each url lands in exactly one batch, so the full
            # vocabulary is the SUM over batch deltas — the tail below
            # then never rescans the historical mentions table, it
            # aggregates vocabulary-sized deltas (the difference between
            # O(corpus) and O(vocab x batches) per incremental tick)
            surfaces = batch_stage("surfaces", lambda: linking.surface_keys(mentions_d))
        finally:
            triples_d.unpersist()
    finally:
        extracted_d.unpersist()

    # graph-tail mode: delta + remap when the previous batch's tail
    # output exists AND THIS batch_id never started its tail (a crash
    # after a tail write but before the ledger committed re-runs the
    # same batch — its delta may already be folded into prev links /
    # edges, so applying it again would double-count; the retry
    # rebuilds from the merged triples instead, which is idempotent).
    # The guard is a "tail started" manifest row keyed on batch_id,
    # written before the first tail write: a retry may carry any
    # run_id, and a batch with no new norms writes no bucket_keys
    # partition, so neither can mark a poisoned retry. The previous
    # snapshots are localCheckpoint-ed BEFORE the overwrite of their
    # dirs — at cluster scale this read-prev-then-overwrite sequence is
    # an Iceberg snapshot read, local parquet has no isolation.
    #
    # file presence, not dir existence: a zero-row stage under a
    # partitioned overwrite leaves a dir with no parquet files, and a
    # schema-less read of it throws. Until every graph-tail table has
    # real rows the full rebuild is the cheap path anyway. (The links
    # table is read with an explicit schema below, so a legitimately
    # zero-link corpus does not block the incremental-links path.)
    tail_ready = all(
        _has_parquet(f"{out_dir}/{s}") for s in ("assignments", "nodes", "edges")
    )
    poisoned = os.path.exists(_manifest_path(out_dir)) and (
        spark.read.parquet(_manifest_path(out_dir))
        .filter(
            (F.col("stage") == "tail")
            & (F.col("partition_id") == batch_id)
            & (F.col("status") == "started")
        )
        .limit(1)
        .count()
        > 0
    )
    use_delta = tail_ready and not poisoned
    if use_delta:
        prev_assign = spark.read.parquet(f"{out_dir}/assignments").localCheckpoint()
        prev_doc_nodes = (
            spark.read.parquet(f"{out_dir}/nodes")
            .filter(F.col("type") == "DOC")
            .localCheckpoint()
        )
        prev_edges = spark.read.parquet(f"{out_dir}/edges").localCheckpoint()

    keys = (
        surfaces.groupBy("type", "norm", "surface")
        .agg(F.sum("freq").alias("freq"))
        .persist()
    )
    try:
        # Incremental links: a norm's block keys are a pure function of
        # the norm string (linking.tag_block_keys), so each batch
        # persists keys for its NEW norms only and candidate generation
        # touches only buckets a new norm landed in. The accumulated
        # links table holds every old-old pair's scored survivor, so
        # links = prev_links UNION scored(new-touching pairs) — exactly
        # the full recompute, UNLESS a touched bucket crossed its cap
        # this tick (its old pairs must vanish with the bucket; only a
        # full rebuild reproduces that) or this is a poisoned retry
        # (prev links already contain this batch's delta). Per-tick
        # links cost drops from re-MinHashing the whole vocabulary to
        # O(delta x bucket density + a column-pruned key-table scan).
        norms_now = keys.select("type", "norm").distinct()
        bk_dir = f"{out_dir}/bucket_keys"
        have_prev_bk = _has_parquet(bk_dir)
        links_delta_ok = (
            not poisoned
            and have_prev_bk
            and os.path.exists(f"{out_dir}/links")
        )
        if have_prev_bk:
            # always delta the key table itself (even on full-rebuild
            # ticks): a norm must live in exactly ONE batch partition,
            # or future bucket counts double-count it. Excluding the
            # current batch_id makes a crash-retry overwrite idempotent.
            # previous norms come from the SURFACES partitions, not the
            # key table: same norm set (every batch's surfaces carry its
            # full vocabulary delta), but one row per (norm, batch)
            # instead of ~18 block-key rows per norm — the anti-join
            # scans 18x fewer bytes
            prev_norms = (
                surfaces.filter(F.col("batch_id") != batch_id)
                .select("type", "norm")
                .distinct()
            )
            new_norms = norms_now.join(prev_norms, ["type", "norm"], "left_anti")
        else:
            new_norms = norms_now  # bootstrap: key the whole vocabulary
        batch_stage("bucket_keys", lambda: linking.tag_block_keys(new_norms))
        links_mode = "full"
        if links_delta_ok:
            keyed_all = spark.read.parquet(bk_dir).withColumn(
                "is_new", F.col("batch_id") == F.lit(batch_id)
            )
            d_pairs, crossed = linking.delta_candidate_pairs(keyed_all)
            if crossed.limit(1).count() == 0:
                # checkpoint BEFORE the overwrite of the links dir; the
                # explicit schema keeps a zero-link table readable (a
                # file-less dir cannot infer one)
                prev_links = (
                    spark.read.schema(schemas.LINKS)
                    .parquet(f"{out_dir}/links")
                    .localCheckpoint()
                )
                # schema-version guard: parquet read does not enforce
                # nullability, so a links table written before `type`
                # existed reads back as silent nulls and would corrupt
                # the concat_ws component keys — detect and rebuild
                # fully instead
                if prev_links.filter(F.col("type").isNull()).limit(1).count() > 0:
                    links_mode = "full"
                else:
                    # checkpointed once: reused by the links write AND
                    # the delta component update below
                    delta_links = linking.score_pairs(
                        d_pairs, threshold=link_threshold
                    ).localCheckpoint()
                    links_mode = "delta"
        # every write from here on may fold this batch into the tail
        _append_manifest(
            out_dir, [(run_id, "tail", batch_id, "started", None, None, None, None, None)]
        )
        if links_mode == "delta":
            links = stage("links", lambda: prev_links.unionByName(delta_links))
        else:
            links = stage(
                "links",
                lambda: linking.link_entities(threshold=link_threshold, keys=keys),
            )
        run.results["links"].metrics = {"links_mode": links_mode}
        if links_mode != "delta":
            # A full links rebuild may SHRINK the link set (cap-crossing
            # drops a whole bucket's old pairs), so the merge-only
            # premise behind delta assignments AND the remap-based graph
            # tail no longer holds. The remap's n_new>1 split probe
            # cannot catch every split either: a 2-way split whose
            # min-norm fragment keeps the old component id shows
            # n_new=1 over the CHANGED rows it inspects. Rebuild the
            # whole tail from merged triples on any full-links tick —
            # merge-only ticks (links strictly grew) are the only sound
            # delta ticks, and on those a split is impossible by
            # construction.
            use_delta = False
        if use_delta:
            # merge-only tick (links grew, never shrank), so component
            # assignment is a remap of O(delta) representatives over
            # prev_assign — no CC over the full links table
            # (components.assign_components_delta; equality pinned)
            new_norms_now = (
                keyed_all.filter(F.col("is_new")).select("type", "norm").distinct()
            )
            assignments = stage(
                "assignments",
                lambda: components.assign_components_delta(
                    prev_assign, delta_links, new_norms_now
                ),
            )
        else:
            assignments = stage(
                "assignments", lambda: components.assign_components(keys, links)
            )
        run.results["assignments"].metrics = {
            "assignments_mode": "delta" if use_delta else "full"
        }
        broadcast_map = keys.limit(100_001).count() <= 100_000
        if use_delta:
            remap = graph.component_remap(prev_assign, assignments).persist()
            # a component SPLIT (possible only if LSH candidate caps
            # dropped previously-found links) makes old-edge remapping
            # ambiguous — rebuild from merged triples instead
            if remap.filter(F.col("n_new") > 1).limit(1).count() > 0:
                use_delta = False
        if use_delta:
            trip_delta_dir = f"{out_dir}/triples/batch_id={batch_id}"
            trip_delta = (
                spark.read.parquet(trip_delta_dir)
                if os.path.exists(trip_delta_dir)
                else spark.createDataFrame([], schemas.TRIPLES)
            )
            nodes_df, edges_df = graph.materialize_graph_delta(
                trip_delta, keys, assignments, prev_doc_nodes, prev_edges,
                remap, broadcast_map=broadcast_map,
            )
        else:
            nodes_df, edges_df = graph.materialize_graph(
                triples.drop("batch_id"), keys, assignments,
                broadcast_map=broadcast_map,
            )
        _write_graph(spark, run, nodes_df, edges_df)
        run.results["edges"].metrics = {
            "tail_mode": "delta" if use_delta else "full"
        }
    finally:
        keys.unpersist()

    if analytics:
        # recompute-from-merged-graph contract: see refresh_analytics
        refresh_analytics(spark, out_dir, run, run_id)

    # ledger commit LAST: a crash anywhere above leaves the claim
    # unrecorded and the whole batch re-runs idempotently
    ledger.commit(delta, batch_id)
    return run
