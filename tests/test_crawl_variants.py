"""Equivalence variants: depth-gate skips, robots-off mode, politeness
determinism."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from map_the_net_crawler_spark import schemas as S
from map_the_net_crawler_spark.config import CrawlConfig
from map_the_net_crawler_spark.oracle.pyref import ReferenceOracle
from map_the_net_crawler_spark.plans.crawl import run_crawl
from map_the_net_crawler_spark.plans.iteration import CrawlInputs
from map_the_net_crawler_spark.storage import TableIO


def _inputs(spark, fixture_paths):
    return CrawlInputs(
        pages=spark.read.parquet(fixture_paths["pages"]),
        robots=spark.read.parquet(fixture_paths["robots"]),
        redirects=spark.read.schema(S.REDIRECTS)
        .parquet(fixture_paths["redirects"]),
        whois=spark.read.parquet(fixture_paths["whois"]),
        dns=spark.read.parquet(fixture_paths["dns"]),
        ssl=spark.read.parquet(fixture_paths["ssl"]),
        geo=spark.read.parquet(fixture_paths["geo"]))


def test_depth_gate_skips_match_oracle(spark, fixture_paths, fixture_frames):
    """max_depth=1: depth-1 discoveries are claimed then skipped with
    'Max depth reached' (domain_collector.py:1386-1390) — the skip path
    must match the oracle exactly, including statuses and crawl order."""
    cfg = CrawlConfig(max_depth=1, max_items=15)
    oracle = ReferenceOracle(fixture_frames, cfg)
    ost = oracle.run(max_iterations=4)

    tio = TableIO(tempfile.mkdtemp(prefix="mtn_depth_"), spark)
    summary = run_crawl(spark, tio, _inputs(spark, fixture_paths), cfg,
                        seeds=spark.read.parquet(fixture_paths["frontier_seed"]),
                        max_iterations=4)
    eng = []
    for r in summary.iterations:
        rows = tio.read("gated", version=r.iteration) \
            .orderBy("claim_rank").collect()
        eng += [(r.iteration, c.claim_rank, c.url, c.gate_status,
                 c.gate_reason) for c in rows]
    want = []
    for (it, rank, url) in ost.crawl_order:
        q = ost.queue[url]
        if q["status"] == "skipped" and q["processed_iteration"] == it:
            want.append((it, rank, url, "skipped", q["error_message"]))
        else:
            want.append((it, rank, url, "process", None))
    assert eng == want
    assert any(e[3] == "skipped" for e in eng)   # the path actually fired
    # final frontier statuses identical
    eng_f = {r.url: (r.status, r.error_message)
             for r in tio.read("frontier", S.FRONTIER).collect()}
    ora_f = {u: (q["status"], q["error_message"])
             for u, q in ost.queue.items()}
    assert eng_f == ora_f


def test_politeness_budget_deterministic(spark, fixture_paths):
    """Politeness mode is an engine extension (no oracle), but its claim
    selection must be deterministic across input partitionings and salt
    configurations must respect the budget."""
    from map_the_net_crawler_spark.operators.frontier import claim_batch
    f = spark.read.parquet(fixture_paths["frontier_seed"])
    cfg = CrawlConfig(max_items=12)
    a = [r.url for r in claim_batch(f, cfg, politeness_budget=1)
         .orderBy("claim_rank").collect()]
    b = [r.url for r in claim_batch(f.repartition(5), cfg, politeness_budget=1)
         .orderBy("claim_rank").collect()]
    assert a == b
    per_dom = (claim_batch(f, cfg, politeness_budget=1)
               .groupBy("domain_name").count().collect())
    assert all(r["count"] <= 1 for r in per_dom)


def test_keyed_read_io_reported(spark, fixture_paths):
    """Every iteration reports the file-skipping telemetry of its four
    keyed state reads, also on a small table at a small bucket count,
    and the JIT compile ms and Janino class count the JVM spent during
    it, as non-negative deltas."""
    # compact_every=2 folds the seen/nodes deltas into bucket files at
    # iteration 2, so iteration 3's keyed reads have files to skip
    tio = TableIO(tempfile.mkdtemp(prefix="mtn_rio_"), spark,
                  num_buckets=8, compact_every=2)
    summary = run_crawl(spark, tio, _inputs(spark, fixture_paths),
                        CrawlConfig(),
                        seeds=spark.read.parquet(
                            fixture_paths["frontier_seed"]),
                        max_iterations=3)
    assert len(summary.iterations) == 3
    for r in summary.iterations:
        assert r.read_io is not None, r
        assert set(r.read_io) == {"seen_gate", "nodes_batch",
                                  "seen_targets", "nodes_touched"}, r
        for info in r.read_io.values():
            assert info["pruned"] is True, r.read_io
            assert info["files_opened"] <= info["files_total"], r.read_io
        assert set(r.jvm) == {"jit_compile_ms", "codegen_classes"}, r.jvm
        assert all(isinstance(v, int) and v >= 0
                   for v in r.jvm.values()), r.jvm
    last = summary.iterations[-1].read_io
    assert all(info["files_total"] > 0 for info in last.values()), last


def test_claim_io_pruned_in_crawl_loop(spark, fixture_paths):
    """End-to-end guard for the stats-pruned claim read (VERDICT r5 item
    5): a bucketed crawl at a scale-sized bucket count must report
    claim_io.pruned on every iteration with files_opened strictly below
    files_total once the frontier outgrows the claim, and the pruning
    must actually be LOAD-BEARING: dropping the per-file stats from the
    manifest flips the read to the unpruned fallback."""
    tio = TableIO(tempfile.mkdtemp(prefix="mtn_cio_"), spark,
                  num_buckets=8, stats_max_records_per_file=1024)
    seeds = spark.read.parquet(fixture_paths["frontier_seed"])
    # priority-0 filler (never claimed) grows the frontier well past the
    # top-k so file skipping has files to skip — the bench_frontier_growth
    # shape
    from map_the_net_crawler_spark.operators.frontier import \
        DISCOVERY_TS_BASE
    max_seq = seeds.agg(F.max("discovery_seq")).collect()[0][0]
    filler = spark.range(50_000).select(
        F.concat(F.lit("http://filler-"), F.col("id"),
                 F.lit(".zz")).alias("url"),
        F.concat(F.lit("filler-"), F.col("id"), F.lit(".zz"))
        .alias("domain_name"),
        F.lit(None).cast("string").alias("source_domain"),
        F.lit(0).alias("priority"),
        F.lit("pending").alias("status"),
        (F.col("id") + max_seq + 1).alias("discovery_seq"),
        F.lit(DISCOVERY_TS_BASE.replace(tzinfo=None))
        .cast("timestamp").alias("discovery_ts"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("int").alias("processed_iteration"))
    seeds = seeds.unionByName(
        filler.select(*[f.name for f in S.FRONTIER.fields]))
    summary = run_crawl(spark, tio, _inputs(spark, fixture_paths),
                        CrawlConfig(max_items=5),
                        seeds=seeds, max_iterations=3)
    assert len(summary.iterations) == 3
    for r in summary.iterations:
        assert r.claim_io is not None and r.claim_io["pruned"] is True
    last = summary.iterations[-1].claim_io
    assert last["files_opened"] <= last["files_total"] // 2, last

    # red-line check: strip bucket_files from the newest manifest and
    # re-read — the pruned path must refuse (fallback, pruned=False)
    import json as _json
    import os as _os
    name = "frontier"
    v = tio._manifest_version_le(name, None)
    p = _os.path.join(tio._ptr_dir(name), f"v{v:06d}.json")
    with open(p) as f:
        man = _json.load(f)
    man.pop("bucket_files", None)
    man.pop("bucket_files_ref", None)
    with open(p, "w") as f:
        _json.dump(man, f)
    tio._manifest_cache.clear()
    _df, info = tio.read_claim_candidates(name, v, 5, schema=S.FRONTIER)
    assert info["pruned"] is False
