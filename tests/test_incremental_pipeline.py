"""Incremental KG update: delta-only extraction, full-graph equivalence.

Contract (pipeline.run_pipeline_incremental): growing the corpus
snapshot and running incrementally must (a) run the doc-local stages on
ONLY the new urls, and (b) end with exactly the graph a from-scratch
run over the full snapshot produces.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdfmef_spark import pipeline as P


def _graph_sets(run):
    nodes = {
        (r.entity_id, r.canonical, r.type, r.n_mentions)
        for r in run.df("nodes").collect()
    }
    edges = {
        (r.src, r.dst, r.pred, r.weight) for r in run.df("edges").collect()
    }
    return nodes, edges


def _rows(run, stage):
    """Every row of a stage table, whole (all columns, by name), as a
    sorted multiset — incremental and batch stores share one layout."""
    return sorted(
        tuple(sorted(r.asDict().items())) for r in run.df(stage).collect()
    )


def _links_set(run):
    return {
        (r.type, r.src, r.dst, round(r.score, 9))
        for r in run.df("links").collect()
    }


def _batch_rows(spark, out_dir, stage, batch_id):
    return (
        spark.read.parquet(f"{out_dir}/{stage}")
        .filter(F.col("batch_id") == batch_id)
        .count()
    )


def test_incremental_equals_full(spark, smoke_pages, tmp_path):
    pages = smoke_pages
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) != 0)
    n_first, n_all = first.count(), pages.count()
    n_delta = n_all - n_first
    assert 0 < n_delta < n_all

    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")

    # batch 0: initial load through the incremental path
    P.run_pipeline_incremental(spark, first, inc_dir)
    assert _batch_rows(spark, inc_dir, "extracted", 0) == n_first

    # batch 1: the grown snapshot — only the delta is extracted
    run_inc = P.run_pipeline_incremental(spark, pages, inc_dir)
    assert _batch_rows(spark, inc_dir, "extracted", 1) == n_delta
    assert (
        spark.read.parquet(f"{inc_dir}/extracted").count() == n_all
    )

    run_full = P.run_pipeline(spark, pages, full_dir)
    assert _graph_sets(run_inc) == _graph_sets(run_full)


def test_incremental_noop_batch(spark, smoke_pages, tmp_path):
    out = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, smoke_pages, out)
    before = spark.read.parquet(f"{out}/edges").count()
    run2 = P.run_pipeline_incremental(spark, smoke_pages, out)
    # no new urls: no stage recomputed, outputs untouched
    assert all(not r.recomputed for r in run2.results.values())
    assert run2.df("edges").count() == before


def test_incremental_refuses_flat_layout_dir(spark, smoke_pages, tmp_path):
    out = str(tmp_path / "flat")
    P.run_pipeline(spark, smoke_pages.limit(30), out)
    with pytest.raises(ValueError, match="fresh out_dir"):
        P.run_pipeline_incremental(spark, smoke_pages, out)


def test_vocabulary_from_batch_deltas_equals_full(spark, smoke_pages, tmp_path):
    """The summed per-batch surface deltas must equal the vocabulary a
    full mentions scan produces — the invariant that lets the
    incremental tail skip historical mentions entirely."""
    from pdfmef_spark.operators import extract, linking, triples as T

    pages = smoke_pages
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
    out = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, first, out)
    P.run_pipeline_incremental(spark, pages, out)

    merged = {
        (r.type, r.norm, r.surface, r.freq)
        for r in (
            spark.read.parquet(f"{out}/surfaces")
            .groupBy("type", "norm", "surface")
            .agg(F.sum("freq").alias("freq"))
            .collect()
        )
    }
    full = {
        (r.type, r.norm, r.surface, r.freq)
        for r in linking.surface_keys(
            T.mentions_from_triples(T.extract_triples(extract.extract_pages(pages)))
        ).collect()
    }
    assert merged == full


def test_incremental_analytics_equals_from_scratch(spark, smoke_pages, tmp_path):
    """analytics=True: after an incremental batch, the refreshed PageRank
    table must be bit-identical to ranks computed on a from-scratch run
    over the same snapshot (the recompute-from-merged-graph contract,
    pipeline.refresh_analytics)."""
    pages = smoke_pages
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(5)) != 0)

    inc_dir = str(tmp_path / "inc")
    full_dir = str(tmp_path / "full")
    P.run_pipeline_incremental(spark, first, inc_dir)
    inc = P.run_pipeline_incremental(spark, pages, inc_dir, analytics=True)
    assert inc.results["pagerank"].seconds is not None

    full = P.run_pipeline(spark, pages, full_dir, analytics=True)
    got = {(r.node, r.pr) for r in inc.df("pagerank").collect()}
    want = {(r.node, r.pr) for r in full.df("pagerank").collect()}
    assert got == want


def test_incremental_first_batch_with_empty_stage(spark, tmp_path):
    """A first batch whose pages yield ZERO rows for a downstream stage
    (no relation sentences -> no triples) must not fail the read-back:
    the stage comes back as an empty typed DataFrame (ADVICE r3)."""
    pages = spark.createDataFrame(
        [("https://e.org/1",
          b"<html><head><title>t</title></head><body><main>"
          b"<h1>plain</h1><p>no relations here at all.</p></main></body></html>",
          "en")],
        "url string, html binary, lang string",
    )
    run = P.run_pipeline_incremental(spark, pages, str(tmp_path / "inc"))
    # title block yields a hasTitle triple, so force the truly-empty case
    # through the mentions stage (title objects are DOC-attributes only)
    assert run.df("mentions").count() == 0
    assert "surface" in run.df("mentions").columns


def test_delta_tail_three_batches_byte_identical(spark, smoke_pages, tmp_path):
    """Three incremental batches: batches 2+ must take the delta+remap
    graph tail (component-stable entity ids, no historical-triples
    rescan) and still end byte-identical to a from-scratch run — the
    round-4 'documented next increment'."""
    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    r1 = P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    r2 = P.run_pipeline_incremental(spark, pages.filter(b != 2), inc_dir)
    r3 = P.run_pipeline_incremental(spark, pages, inc_dir)
    # first batch has no previous tail; later batches must be delta
    assert r1.results["edges"].metrics["tail_mode"] == "full"
    assert r2.results["edges"].metrics["tail_mode"] == "delta"
    assert r3.results["edges"].metrics["tail_mode"] == "delta"
    # the links stage must ALSO run delta (prev links + new-norm pairs
    # only), and the accumulated links table must equal from-scratch
    assert r1.results["links"].metrics["links_mode"] == "full"
    assert r2.results["links"].metrics["links_mode"] == "delta"
    assert r3.results["links"].metrics["links_mode"] == "delta"
    # assignments ride the same delta ticks (merge-only remap, no CC
    # over the full links table) and still match from-scratch below
    assert r2.results["assignments"].metrics["assignments_mode"] == "delta"
    assert r3.results["assignments"].metrics["assignments_mode"] == "delta"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _links_set(r3) == _links_set(run_full)
    for st in ("assignments", "nodes", "edges"):
        assert _rows(r3, st) == _rows(run_full, st), st


def test_delta_tail_plan_never_scans_historical_triples(spark, smoke_pages, tmp_path):
    """The delta tail's edges plan reads prev_edges + the CURRENT batch's
    triples partition + the vocab — never earlier batch partitions
    (O(delta + vocab + prev graph) input, the fix for the round-4
    'tail re-reads the full triples table' debt)."""
    from pdfmef_spark.operators import components, graph, linking

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    P.run_pipeline_incremental(spark, pages, inc_dir)

    # rebuild the exact delta-tail plan the pipeline ran for batch 2
    keys = (
        spark.read.parquet(f"{inc_dir}/surfaces")
        .groupBy("type", "norm", "surface")
        .agg(F.sum("freq").alias("freq"))
    )
    assignments = spark.read.parquet(f"{inc_dir}/assignments")
    prev_doc_nodes = spark.read.parquet(f"{inc_dir}/nodes").filter(F.col("type") == "DOC")
    prev_edges = spark.read.parquet(f"{inc_dir}/edges")
    remap = graph.component_remap(assignments, assignments)
    trip_delta = spark.read.parquet(f"{inc_dir}/triples/batch_id=1")
    _, edges_df = graph.materialize_graph_delta(
        trip_delta, keys, assignments, prev_doc_nodes, prev_edges, remap
    )
    plan = edges_df._jdf.queryExecution().executedPlan().toString()
    assert "batch_id=0" not in plan


@pytest.mark.parametrize("retry_run_id", [None, "attempt-2"])
def test_delta_tail_crash_retry_falls_back_to_full(
    spark, smoke_pages, tmp_path, retry_run_id
):
    """A retry of a batch whose tail already wrote (crash before the
    ledger commit) must NOT delta-update — its edges are already folded
    into prev_edges and would double-count. The manifest's "tail
    started" row for the batch_id forces the idempotent full rebuild
    whatever run_id the retry carries, and the result still matches
    from-scratch row for row (duplicates included)."""
    import shutil

    pages = smoke_pages
    b = F.pmod(F.xxhash64("url"), F.lit(3))
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, pages.filter(b == 0), inc_dir)
    P.run_pipeline_incremental(spark, pages, inc_dir)
    # simulate: the last batch's tail completed but its ledger commit was lost
    kept = spark.read.parquet(f"{inc_dir}/ledger").filter(F.col("batch_id") != 1)
    rows, schema = kept.collect(), kept.schema
    shutil.rmtree(f"{inc_dir}/ledger")
    spark.createDataFrame(rows, schema).write.parquet(f"{inc_dir}/ledger")
    retry = P.run_pipeline_incremental(spark, pages, inc_dir, run_id=retry_run_id)
    assert retry.results["edges"].metrics["tail_mode"] == "full"
    # the links stage shares the poisoned-retry guard: prev links
    # already contain this batch's delta, so a delta union would dup
    assert retry.results["links"].metrics["links_mode"] == "full"
    run_full = P.run_pipeline(spark, pages, str(tmp_path / "full"))
    assert _rows(retry, "links") == _rows(run_full, "links")
    assert _graph_sets(retry) == _graph_sets(run_full)


def _page(url: str, body: str):
    # first block renders as the <h1> title; the relation sentence must
    # be a LATER block or it is consumed as the hasTitle triple
    html = (
        "<html><head><title>t</title></head><body><main><article>"
        f"<h1>A page about things</h1><p>{body}</p>"
        "</article></main></body></html>"
    ).encode()
    return (url, html, "en")


def test_delta_links_cap_crossing_falls_back(spark, tmp_path, monkeypatch):
    """A blocking bucket that CROSSES its cap on this tick (>= 2 old
    members, now over cap) cannot be delta-updated — full recompute
    drops the whole bucket, so its old pairs must vanish from the
    links table. The tick must fall back to a full links rebuild and
    still match from-scratch under the same cap."""
    from pdfmef_spark.operators import linking

    monkeypatch.setattr(linking, "TOKEN_BLOCK_CAP", 2)
    schema = "url string, html binary, lang string"
    b1 = spark.createDataFrame(
        [
            _page("https://x.org/1", "Alpha Systems is located in Paris."),
            _page("https://x.org/2", "Beta Systems is located in Lyon."),
        ],
        schema,
    )
    all_pages = b1.unionByName(
        spark.createDataFrame(
            [_page("https://x.org/3", "Gamma Systems is located in Nice.")],
            schema,
        )
    )
    inc_dir = str(tmp_path / "inc")
    r1 = P.run_pipeline_incremental(spark, b1, inc_dir)
    r2 = P.run_pipeline_incremental(spark, all_pages, inc_dir)
    assert r1.results["links"].metrics["links_mode"] == "full"
    # t:systems grows 2 -> 3 past the patched cap: crossing detected
    assert r2.results["links"].metrics["links_mode"] == "full"
    run_full = P.run_pipeline(spark, all_pages, str(tmp_path / "full"))
    assert _links_set(r2) == _links_set(run_full)
    # a full links rebuild can shrink the link set, under which the
    # remap-based graph tail is unsound (a split can hide from the
    # n_new probe when one fragment keeps the old component id —
    # ADVICE r5 high); the tick must rebuild the tail fully and match
    # from-scratch byte-for-byte on the GRAPH too, not just links
    assert r2.results["edges"].metrics["tail_mode"] == "full"
    for st in ("assignments", "nodes", "edges"):
        assert _rows(r2, st) == _rows(run_full, st), st


def test_clone_under_new_url_equals_full(spark, smoke_pages, tmp_path):
    """A batch that adds no new norms — one page cloned under a new url
    — takes the merge-only delta tail with zero delta links and zero new
    bucket keys. Every tail table must still equal run_pipeline over the
    union (the zero-row bucket_keys batch and the empty remap must not
    shrink the tables read back for the tail)."""
    first = smoke_pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    clone = first.orderBy("url").limit(1).withColumn(
        "url", F.concat("url", F.lit("?clone=1"))
    )
    union = first.unionByName(clone)
    inc_dir = str(tmp_path / "inc")
    P.run_pipeline_incremental(spark, first, inc_dir)
    r2 = P.run_pipeline_incremental(spark, union, inc_dir)
    # the clone mentions only known norms: surfaces grow, keys do not
    assert _batch_rows(spark, inc_dir, "surfaces", 1) > 0
    assert _batch_rows(spark, inc_dir, "bucket_keys", 1) == 0
    assert r2.results["assignments"].metrics["assignments_mode"] == "delta"
    assert r2.results["edges"].metrics["tail_mode"] == "delta"
    run_full = P.run_pipeline(spark, union, str(tmp_path / "full"))
    assert _links_set(r2) == _links_set(run_full)
    for st in ("assignments", "nodes", "edges"):
        assert _rows(r2, st) == _rows(run_full, st), st
