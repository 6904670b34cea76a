"""Bucketed merge-on-read state commits (VERDICT r3 item 1) + retention.

The state-table layout must be (a) invariant under its storage knobs —
the same crawl gives bit-identical frontier/seen/nodes/edges/metrics
whether or not the delta log is folded mid-run, and at any bucket
count, (b) incremental — bytes written per iteration scale with the
BATCH, not the corpus, when the bucket count is sized to the corpus
(Iceberg-style: bucket files of roughly constant size, bucket COUNT
grows with the data), and (c) prunable — a retention window bounds disk
while keeping resume and reads at retained versions working.  Reads
open only the buckets and files their keys can live in.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from map_the_net_crawler_spark import schemas as S
from map_the_net_crawler_spark.config import CrawlConfig
from map_the_net_crawler_spark.operators.frontier import DISCOVERY_TS_BASE
from map_the_net_crawler_spark.plans.crawl import (init_run, read_outputs,
                                                   run_crawl)
from map_the_net_crawler_spark.plans.iteration import CrawlInputs
from map_the_net_crawler_spark.storage import STATE_TABLES, TableIO, bucket_of


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


def _tables(tio):
    out = {}
    for t in ("frontier", "seen", "nodes", "edges", "metrics"):
        out[t] = sorted(map(tuple, tio.read(t, getattr(S, t.upper()))
                            .collect()))
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class TestBucketedLayout:
    def test_compaction_identity(self, spark, fixture_paths):
        """Folding the delta log mid-run changes no table: a 3-iteration
        crawl with compact_every=2 (crosses a merge-on-read compaction
        boundary) equals one with compact_every=100 bit for bit."""
        results, folded = {}, {}
        for every in (2, 100):
            tio = TableIO(tempfile.mkdtemp(prefix=f"mtn_fold_{every}_"),
                          spark, num_buckets=8, compact_every=every)
            run_crawl(spark, tio, _inputs(spark, fixture_paths),
                      CrawlConfig(),
                      seeds=spark.read.parquet(fixture_paths["frontier_seed"]),
                      max_iterations=3)
            results[every] = _tables(tio)
            # a fold: a manifest whose delta list is empty right after
            # one that held deltas
            folded[every] = {
                t for t in STATE_TABLES for v in range(1, 4)
                if tio._manifest_json(t, v - 1).get("deltas")
                and tio._manifest_json(t, v).get("deltas") == []}
            # bucketed state: manifests + bucket dirs exist
            assert os.path.isdir(os.path.join(tio.root, "frontier",
                                              "_ptr"))
            assert any(e.startswith("b") for e in
                       os.listdir(os.path.join(tio.root, "frontier")))
            # metrics is a pure per-iteration partition append
            mdir = os.path.join(tio.root, "metrics")
            assert all(e.startswith("part_v") for e in os.listdir(mdir))
        # only the compact_every=2 run folds (the size trigger's
        # 4096-row floor is far above this fixture's deltas)
        assert folded[2] and not folded[100], folded
        assert results[2] == results[100]

    def test_snapshot_layout_state_dir_refused(self, spark):
        """A state table written by the retired full-rewrite layout (a
        snapshot pointer, no manifests) is refused, not read as empty."""
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_oldlay_"), spark)
        os.makedirs(os.path.join(tio.root, "frontier"))
        with open(os.path.join(tio.root, "frontier", "_current"), "w") as f:
            f.write('{"version": 3}')
        with pytest.raises(ValueError, match="snapshot layout"):
            tio.read("frontier", S.FRONTIER)

    def test_merge_state_unit(self, spark):
        """merge_state upsert semantics under merge-on-read: O(batch)
        delta partitions, overlay reads, time travel, bucket pruning,
        and compaction folding the delta log into its touched buckets."""
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_ms_"), spark,
                      num_buckets=16, compact_every=3)

        def nrow(domain, title):
            return {f.name: None for f in S.NODES.fields} | {
                "domain_id": 0, "domain_name": domain, "title": title,
                "ssl_valid": False, "updated_iteration": 0}

        base = spark.createDataFrame(
            [nrow("a.com", "A"), nrow("b.com", "B")], S.NODES)
        tio.write("nodes", base, 0)
        delta = spark.createDataFrame(
            [nrow("b.com", "B2"), nrow("c.com", "C")], S.NODES)
        tio.merge_state("nodes", delta, 1, 0)
        got = {r.domain_name: r.title
               for r in tio.read("nodes", S.NODES).collect()}
        assert got == {"a.com": "A", "b.com": "B2", "c.com": "C"}
        # merge-on-read: the commit wrote ONE delta partition, not
        # rewritten buckets (O(batch) write path)
        ndir = os.path.join(tio.root, "nodes")
        assert os.path.isdir(os.path.join(ndir, "delta_v000001"))
        assert not any(os.path.isdir(os.path.join(ndir, e, "v000001"))
                       for e in os.listdir(ndir) if e.startswith("b"))
        # time travel to version 0 still sees the pre-merge rows
        got0 = {r.domain_name: r.title
                for r in tio.read("nodes", S.NODES, version=0).collect()}
        assert got0 == {"a.com": "A", "b.com": "B"}
        # a later delta wins over an earlier one for the same key
        tio.merge_state("nodes", spark.createDataFrame(
            [nrow("b.com", "B3")], S.NODES), 2, 1)
        got2 = {r.domain_name: r.title
                for r in tio.read("nodes", S.NODES, version=2).collect()}
        assert got2 == {"a.com": "A", "b.com": "B3", "c.com": "C"}
        # bucket-pruned read sees the overlay too
        nb = tio.num_buckets
        bmap = {r.domain_name: r.b for r in
                tio.read("nodes", S.NODES)
                .select("domain_name",
                        bucket_of("domain_name", nb).alias("b")).collect()}
        want_bucket = bmap["c.com"]
        pruned = {r.domain_name for r in
                  tio.read_state("nodes", buckets=[want_bucket]).collect()}
        assert "c.com" in pruned
        assert pruned == {d for d, b in bmap.items() if b == want_bucket}
        # third merge hits compact_every: deltas fold into exactly their
        # touched buckets and the manifest's delta list resets
        tio.merge_state("nodes", spark.createDataFrame(
            [nrow("d.com", "D")], S.NODES), 3, 2)
        man = tio._load_manifest("nodes", 3)
        assert man["deltas"] == []
        got3 = {r.domain_name: r.title
                for r in tio.read("nodes", S.NODES).collect()}
        assert got3 == {"a.com": "A", "b.com": "B3", "c.com": "C",
                        "d.com": "D"}
        d_bucket = spark.range(1).select(
            bucket_of(F.lit("d.com"), nb).alias("b")).collect()[0]["b"]
        compacted = {int(e[1:]) for e in os.listdir(ndir)
                     if e.startswith("b")
                     and os.path.isdir(os.path.join(ndir, e, "v000003"))}
        assert compacted == {bmap["b.com"], bmap["c.com"], d_bucket}
        # time travel across the compaction boundary still resolves
        gotv2 = {r.domain_name: r.title
                 for r in tio.read("nodes", S.NODES, version=2).collect()}
        assert gotv2 == got2

    def test_pruned_read_path_identity(self, spark, fixture_paths):
        """The keyed state reads (seen gates / nodes enrich+complete+
        minimal / frontier anti-join keys) open only the keys' buckets:
        the crawl is bit-identical at 8 and at 128 buckets."""
        results = {}
        for nb in (8, 128):
            tio = TableIO(tempfile.mkdtemp(prefix=f"mtn_pr_{nb}_"),
                          spark, num_buckets=nb)
            run_crawl(spark, tio, _inputs(spark, fixture_paths),
                      CrawlConfig(),
                      seeds=spark.read.parquet(fixture_paths["frontier_seed"]),
                      max_iterations=3)
            results[nb] = _tables(tio)
        assert results[8] == results[128]

    def test_commit_io_scales_with_batch(self, spark, fixture_paths):
        """VERDICT r3 item 1 'done' criterion: with buckets sized to the
        corpus (constant rows per bucket, Iceberg-style), bytes written
        per iteration are governed by the batch, not the corpus — a 10×
        bigger (unclaimed) frontier must NOT write ~10× more per
        iteration, as the old full-rewrite layout did."""
        growth = {}
        for n_filler in (4_000, 40_000):
            # bucket count ∝ corpus keeps bucket size constant — the
            # at-scale sizing rule (bucket ≈ target file size)
            nb = max(32, n_filler // 250)
            tio = TableIO(tempfile.mkdtemp(prefix=f"mtn_io_{n_filler}_"),
                          spark, num_buckets=nb)
            seeds = spark.read.parquet(fixture_paths["frontier_seed"])
            max_seq = seeds.agg(F.max("discovery_seq")).collect()[0][0]
            filler = spark.range(n_filler).select(
                F.concat(F.lit("http://filler-"), F.col("id"),
                         F.lit(".zz")).alias("url"),
                F.concat(F.lit("filler-"), F.col("id"),
                         F.lit(".zz")).alias("domain_name"),
                F.lit(None).cast("string").alias("source_domain"),
                F.lit(0).alias("priority"),          # below every seed
                F.lit("pending").alias("status"),
                (F.col("id") + max_seq + 1).alias("discovery_seq"),
                F.lit(DISCOVERY_TS_BASE.replace(tzinfo=None))
                .cast("timestamp").alias("discovery_ts"),
                F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("error_message"),
                F.lit(None).cast("int").alias("processed_iteration"))
            all_seeds = seeds.unionByName(
                filler.select(*[f.name for f in S.FRONTIER.fields]))
            run_crawl(spark, tio, _inputs(spark, fixture_paths),
                      CrawlConfig(), seeds=all_seeds, max_iterations=1)
            s1 = _dir_bytes(tio.root)
            run_crawl(spark, tio, _inputs(spark, fixture_paths),
                      CrawlConfig(), seeds=None, max_iterations=1)
            growth[n_filler] = _dir_bytes(tio.root) - s1
        # full rewrite would be ~10×; incremental commits stay ~flat
        # (same batch, same touched-bucket count, same bucket size)
        assert growth[40_000] < 3 * growth[4_000], growth

    def test_pruned_read_io_bounded(self, spark, fixture_paths):
        """VERDICT r4 item 7: bucket-pruned reads must be pruned at the
        I/O level (bucket dirs actually resolved into the scan), not
        just produce identical rows — red if pruning silently degrades
        to a full read."""
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_prio_"), spark,
                      num_buckets=128)
        run_crawl(spark, tio, _inputs(spark, fixture_paths), CrawlConfig(),
                  seeds=spark.read.parquet(fixture_paths["frontier_seed"]),
                  max_iterations=2)
        # frontier has a seeded bucketed BASE (seen/nodes may still live
        # entirely in merge deltas after two iterations)
        man = tio._load_manifest("frontier", None)
        populated = len(man["buckets"])
        assert populated > 4
        some = sorted(man["buckets"])[:3]
        tio.read_state("frontier", buckets=some)
        telem = tio.last_base_read
        assert telem["table"] == "frontier"
        assert telem["buckets_total"] == populated
        assert len(telem["paths"]) <= len(some) < populated
        # negative control: pruning off ⇒ every populated bucket opens
        tio.read_state("frontier", buckets=None)
        assert len(tio.last_base_read["paths"]) == populated

    def test_retention_gc(self, spark, fixture_paths):
        """snapshot_retain bounds versions per table/bucket while the
        final tables and resume stay intact."""
        ref = TableIO(tempfile.mkdtemp(prefix="mtn_keep_"), spark)
        run_crawl(spark, ref, _inputs(spark, fixture_paths), CrawlConfig(),
                  seeds=spark.read.parquet(fixture_paths["frontier_seed"]),
                  max_iterations=4)

        tio = TableIO(tempfile.mkdtemp(prefix="mtn_gc_"), spark)
        cfg = CrawlConfig(snapshot_retain=1)
        run_crawl(spark, tio, _inputs(spark, fixture_paths), cfg,
                  seeds=spark.read.parquet(fixture_paths["frontier_seed"]),
                  max_iterations=3)
        # resume for one more iteration from the pruned checkpoint
        run_crawl(spark, tio, _inputs(spark, fixture_paths), cfg,
                  seeds=None, max_iterations=1)
        assert _tables(tio) == _tables(ref)
        # per bucket: at most the window (1) + the pre-window anchor
        for t in STATE_TABLES:
            tdir = os.path.join(tio.root, t)
            for e in os.listdir(tdir):
                if not e.startswith("b") or not e[1:].isdigit():
                    continue
                versions = os.listdir(os.path.join(tdir, e))
                assert len(versions) <= 2, (t, e, versions)
        # retention run uses strictly less disk than the keep-all run
        assert _dir_bytes(tio.root) < _dir_bytes(ref.root)


def _synthetic_frontier(spark, n: int, n_domains: int = 97):
    """n frontier rows, ~2/3 pending, uniform pseudo-random priorities,
    unique discovery_seq (the claim order is total)."""
    return spark.range(n).select(
        F.concat(F.lit("http://d"), (F.col("id") % n_domains),
                 F.lit(".com/p"), F.col("id")).alias("url"),
        F.concat(F.lit("d"), (F.col("id") % n_domains),
                 F.lit(".com")).alias("domain_name"),
        F.lit(None).cast("string").alias("source_domain"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(1000)).cast("int")
        .alias("priority"),
        F.when(F.col("id") % 3 == 0, F.lit("visited"))
        .otherwise(F.lit("pending")).alias("status"),
        F.col("id").alias("discovery_seq"),
        F.lit(DISCOVERY_TS_BASE.replace(tzinfo=None)).cast("timestamp")
        .alias("discovery_ts"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("int").alias("processed_iteration"),
    ).select(*[f.name for f in S.FRONTIER.fields])


class TestClaimStatsPruning:
    """read_claim_candidates: manifest per-file footer stats skip base
    data files that provably cannot contribute to the pending top-k
    (VERDICT r4 item 1 — the last O(corpus) per-iteration read)."""

    def _claims(self, view, cfg):
        from map_the_net_crawler_spark.operators.frontier import claim_batch
        return [tuple(r) for r in
                claim_batch(view, cfg).orderBy("claim_rank").collect()]

    def test_claim_identity_and_delta_masking(self, spark):
        """Pruned-view claims == full-read claims, including after a
        MERGE delta that masks top-priority base rows (the k+D slack in
        the τ bound) and adds new above-everything candidates."""
        from map_the_net_crawler_spark.operators.frontier import claim_order
        cfg = CrawlConfig()
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_cs_"), spark,
                      num_buckets=16, stats_max_records_per_file=512)
        tio.write("frontier", _synthetic_frontier(spark, 12_000), 0)
        view, info = tio.read_claim_candidates("frontier", None,
                                               cfg.max_items)
        assert info["pruned"]
        assert info["files_opened"] < info["files_total"]
        full = tio.read_state("frontier", schema=S.FRONTIER)
        assert self._claims(view, cfg) == self._claims(full, cfg)

        # delta: mask the current top-5 (flip to visited) + 5 new
        # max-priority pending rows
        top5 = (full.filter(F.col("status") == "pending")
                .orderBy(*claim_order()).limit(5)
                .withColumn("status", F.lit("visited")))
        newbies = _synthetic_frontier(spark, 5).select(
            F.concat(F.lit("http://new"), F.col("discovery_seq"),
                     F.lit(".org/")).alias("url"),
            F.concat(F.lit("new"), F.col("discovery_seq"),
                     F.lit(".org")).alias("domain_name"),
            "source_domain",
            F.lit(5000).alias("priority"), "status",
            (F.col("discovery_seq") + 1_000_000).alias("discovery_seq"),
            "discovery_ts", "depth", "error_message",
            "processed_iteration",
        ).withColumn("status", F.lit("pending")) \
         .select(*[f.name for f in S.FRONTIER.fields])
        tio.merge_state("frontier", top5.unionByName(newbies), 1, 0)

        view1, info1 = tio.read_claim_candidates("frontier", None,
                                                 cfg.max_items)
        full1 = tio.read_state("frontier", schema=S.FRONTIER)
        got = self._claims(view1, cfg)
        assert got == self._claims(full1, cfg)
        # the masked urls are gone, the new candidates lead the claim
        urls = [r[0] for r in got]
        masked = {r.url for r in top5.collect()}
        assert not masked & set(urls)
        assert all(u.startswith("http://new") for u in urls[:5])

    def test_files_opened_flat_as_corpus_grows(self, spark):
        """VERDICT r4 item 1 'done' criterion: files opened by the
        claim read stay bounded as the pending frontier grows 10×
        (file-count growth goes to files_total, not files_opened)."""
        stats = {}
        for n in (20_000, 200_000):
            tio = TableIO(tempfile.mkdtemp(prefix=f"mtn_cf_{n}_"),
                          spark, num_buckets=8,
                          stats_max_records_per_file=1024)
            tio.write("frontier", _synthetic_frontier(spark, n), 0)
            cfg = CrawlConfig()
            view, info = tio.read_claim_candidates("frontier", None,
                                                   cfg.max_items)
            assert info["pruned"]
            full = tio.read_state("frontier", schema=S.FRONTIER)
            assert self._claims(view, cfg) == self._claims(full, cfg)
            stats[n] = info
        assert stats[200_000]["files_total"] \
            >= 5 * stats[20_000]["files_total"]
        assert stats[200_000]["files_opened"] \
            <= 3 * stats[20_000]["files_opened"], stats
        # and the big corpus skips the overwhelming majority of files
        assert stats[200_000]["files_opened"] \
            <= stats[200_000]["files_total"] // 4, stats


class TestKeyedReads:
    """read_keyed_state (VERDICT r4 item 8): seen/nodes lookups keyed by
    a batch-bounded domain set must skip data FILES whose footer key
    range cannot contain any requested key — pruning grain ∝ file size,
    active at any bucket count — while staying row-identical (for the
    requested keys) to the full read, including under a pending
    merge-on-read delta log."""

    @staticmethod
    def _seen_rows(n):
        return [("https://d%04d.com/p%d" % (i, j), "d%04d.com" % i,
                 "success", j, 0)
                for i in range(n) for j in range(3)]

    def test_keyed_read_identity_and_file_skip(self, spark):
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_keyed_"), spark,
                      num_buckets=4, stats_max_records_per_file=64)
        tio.write("seen", spark.createDataFrame(self._seen_rows(400),
                                                S.SEEN), 0)
        keys = ["d0007.com", "d0123.com", "d0391.com"]
        kb = {r["domain_name"]: r["b"] for r in
              spark.createDataFrame([(k,) for k in keys],
                                    "domain_name string")
              .select("domain_name",
                      bucket_of("domain_name", 4).alias("b")).collect()}
        view, info = tio.read_keyed_state("seen", None, keys=keys,
                                          key_buckets=kb, schema=S.SEEN)
        assert info["pruned"]
        # with key→bucket routing each key touches ≤2 sorted files in
        # its own bucket (1 + straddling a split boundary); files_total
        # counts only the routed buckets' files
        assert info["files_opened"] <= 2 * len(keys), info
        assert info["files_opened"] < info["files_total"], info
        full = tio.read_state("seen", schema=S.SEEN)
        want = sorted(map(tuple, full.filter(
            F.col("domain_name").isin(keys)).collect()))
        got = sorted(map(tuple, view.filter(
            F.col("domain_name").isin(keys)).collect()))
        assert got == want and len(got) == 9
        # without the routing, pruning is weaker (every key tested
        # against every bucket's ranges) but must stay sound
        view2, info2 = tio.read_keyed_state("seen", None, keys=keys,
                                            schema=S.SEEN)
        assert info2["pruned"]
        # unrouted read scans every bucket's file list
        assert info2["files_total"] >= 12
        assert info2["files_opened"] >= info["files_opened"]
        assert info2["files_opened"] < info2["files_total"]
        got2 = sorted(map(tuple, view2.filter(
            F.col("domain_name").isin(keys)).collect()))
        assert got2 == want

    def test_keyed_read_with_delta_overlay(self, spark):
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_keyedd_"), spark,
                      num_buckets=4, compact_every=10,
                      stats_max_records_per_file=64)
        tio.write("seen", spark.createDataFrame(self._seen_rows(200),
                                                S.SEEN), 0)
        # delta: update one url of an existing domain + a new domain
        delta = spark.createDataFrame(
            [("https://d0005.com/p0", "d0005.com", "failed", 9, 1),
             ("https://new.com/p0", "new.com", "success", 1, 1)], S.SEEN)
        tio.merge_state("seen", delta, 1, 0)
        keys = ["d0005.com", "new.com", "d0150.com"]
        view, info = tio.read_keyed_state("seen", 1, keys=keys,
                                          schema=S.SEEN)
        assert info["pruned"] and info["delta_parts"] == 1
        got = {(r.url, r.status, r.links_found)
               for r in view.filter(F.col("domain_name").isin(keys))
               .collect()}
        assert ("https://d0005.com/p0", "failed", 9) in got
        assert ("https://new.com/p0", "success", 1) in got
        assert len(got) == 3 + 1 + 3  # d0005 still has its other 2 urls

    def test_keyed_read_bucket_and_file_prune_compose(self, spark):
        """key_buckets routes the prune: only the owning bucket's dirs
        are listed, the key range skips files inside it; identity
        holds."""
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_keyedb_"), spark,
                      num_buckets=8, stats_max_records_per_file=32)
        tio.write("seen", spark.createDataFrame(self._seen_rows(300),
                                                S.SEEN), 0)
        keys = ["d0042.com"]
        brow = (spark.createDataFrame([(k,) for k in keys],
                                      "domain_name string")
                .select(bucket_of("domain_name", 8).alias("b")).collect())
        view, info = tio.read_keyed_state(
            "seen", None, keys=keys,
            key_buckets={keys[0]: brow[0]["b"]}, schema=S.SEEN)
        assert info["pruned"] and info["files_opened"] <= 2
        # total reflects only the owning bucket's files (others skipped
        # at the directory grain)
        assert info["files_total"] <= 4, info
        assert sorted(r.url for r in view
                      .filter(F.col("domain_name") == "d0042.com")
                      .collect()) == ["https://d0042.com/p%d" % j
                                      for j in range(3)]

    def test_keyed_read_fallback_without_stats(self, spark):
        """a table without stats_cols (edges) falls back to the plain
        bucket-pruned read, flagged un-pruned."""
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_keyedf_"), spark,
                      num_buckets=4)
        rows = [("a.com", "b.com", "link", "t", "u", 0)]
        edges = spark.createDataFrame(rows, S.EDGES)
        tio.write("edges", edges, 0)
        view, info = tio.read_keyed_state("edges", None, keys=["a.com"],
                                          schema=S.EDGES)
        assert not info["pruned"]
        assert view.count() == 1


class TestManifestStubs:
    """Per-iteration MERGE commits write an O(1) manifest STUB whose
    bucket_files live by reference in the last full manifest (the
    Iceberg manifest-list analogue): commit metadata scales with the
    pending-delta count, never with the table's total data-file count."""

    def _raw_manifest(self, tio, name, version):
        import json
        path = os.path.join(tio.root, name, "_ptr",
                            f"v{version:06d}.json")
        with open(path) as f:
            return json.load(f), os.path.getsize(path)

    def test_delta_commit_writes_stub(self, spark):
        cfg = CrawlConfig()
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_stub_"), spark,
                      num_buckets=16, compact_every=100,
                      compact_ratio=1.0, compact_min_rows=10**9,
                      stats_max_records_per_file=512)
        tio.write("frontier", _synthetic_frontier(spark, 12_000), 0)
        full_doc, full_bytes = self._raw_manifest(tio, "frontier", 0)
        assert full_doc["bucket_files"], "full manifest inlines stats"
        for v in (1, 2, 3):
            delta = (_synthetic_frontier(spark, 50)
                     .withColumn("url", F.concat(F.lit("http://nv"),
                                                 F.lit(v), F.col("url")))
                     .withColumn("discovery_seq",
                                 F.col("discovery_seq") + 10_000 * v))
            tio.merge_state("frontier", delta, v, v - 1)
        for v in (1, 2, 3):
            doc, stub_bytes = self._raw_manifest(tio, "frontier", v)
            assert "bucket_files" not in doc, "stub must not inline"
            assert doc["bucket_files_ref"] == 0, "ref -> last full write"
            # the stub carries O(deltas) metadata (delta stats + bucket
            # map), never the O(total data files) bucket_files blob
            assert stub_bytes < full_bytes, (stub_bytes, full_bytes)
        # resolution: reads at stub versions still see the stats
        man = tio._load_manifest("frontier", 3)
        assert man["bucket_files"] and man["_files_ref"] == 0
        assert man["deltas"] == [1, 2, 3]
        # claim file-skipping still active at a stub version
        view, info = tio.read_claim_candidates("frontier", None,
                                               cfg.max_items)
        assert info["pruned"]
        assert info["files_opened"] < info["files_total"]
        # and the merged content is right (delta rows present)
        got = tio.read_state("frontier", schema=S.FRONTIER)
        assert got.filter(F.col("url").startswith("http://nv")).count() \
            == 150
        assert man["base_rows"] + sum(man["delta_rows"].values()) \
            == 12_000 + 150
        # a compaction (full bucket write) re-anchors the ref
        tio._compact("frontier", 4)
        man4 = tio._load_manifest("frontier", 4)
        assert man4["_files_ref"] == 4 and man4["deltas"] == []

    def test_prune_keeps_referenced_full_manifest(self, spark):
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_stubp_"), spark,
                      num_buckets=8, compact_every=100,
                      compact_ratio=1.0, compact_min_rows=10**9,
                      stats_max_records_per_file=512)
        tio.write("frontier", _synthetic_frontier(spark, 6_000), 0)
        for v in (1, 2, 3, 4):
            delta = (_synthetic_frontier(spark, 20)
                     .withColumn("url", F.concat(F.lit("http://nv"),
                                                 F.lit(v), F.col("url")))
                     .withColumn("discovery_seq",
                                 F.col("discovery_seq") + 10_000 * v))
            tio.merge_state("frontier", delta, v, v - 1)
        tio.prune(retain=1, upto=4)
        ptr = os.path.join(tio.root, "frontier", "_ptr")
        kept = sorted(os.listdir(ptr))
        # the cutoff would drop v0, but stub v3/v4 reference it
        assert "v000000.json" in kept, kept
        man = tio._load_manifest("frontier", 4)
        assert man["bucket_files"], "stats resolve after prune"
        got = tio.read_state("frontier", schema=S.FRONTIER)
        assert got.filter(F.col("url").startswith("http://nv")).count() \
            == 80


class _FrontierMergeFailed(RuntimeError):
    pass


class _SeenMergeFailed(RuntimeError):
    pass


class _NewPendingWriteFailed(RuntimeError):
    pass


class _FailingMerges(TableIO):
    """TableIO double whose frontier and seen merges raise."""

    def merge_state(self, name, *args, **kwargs):
        if name == "frontier":
            raise _FrontierMergeFailed("frontier merge")
        if name == "seen":
            raise _SeenMergeFailed("seen merge")
        return super().merge_state(name, *args, **kwargs)


class _FailingPendingWrite(_FailingMerges):
    """_FailingMerges whose new_pending write raises too: the body fails
    before it reaches the frontier merge or joins the early commits."""

    def write(self, name, *args, **kwargs):
        if name == "new_pending":
            raise _NewPendingWriteFailed("new_pending write")
        return super().write(name, *args, **kwargs)


class TestCommitPoint:
    def test_frontier_merge_error_is_not_masked(self, spark, fixture_paths):
        """A body failure while a concurrent early commit (seen) fails
        too: the body's error is the one that propagates, with the seen
        failure attached instead of replacing it or being dropped.  Two
        cases: the frontier merge fails (the body's last step before it
        joins the commits) and the new_pending write fails (earlier)."""
        for io_cls, err in ((_FailingMerges, _FrontierMergeFailed),
                            (_FailingPendingWrite, _NewPendingWriteFailed)):
            tio = io_cls(tempfile.mkdtemp(prefix="mtn_fail_"), spark,
                         num_buckets=8)
            with pytest.raises(err) as ei:
                run_crawl(spark, tio, _inputs(spark, fixture_paths),
                          CrawlConfig(),
                          seeds=spark.read.parquet(
                              fixture_paths["frontier_seed"]),
                          max_iterations=1)
            notes = getattr(ei.value, "__notes__", [])
            assert any("_SeenMergeFailed" in n for n in notes), (err, notes)
            # nothing was committed: the run meta still points at the seed
            assert tio.read_meta()["iteration"] == 0

    def test_read_outputs_reads_at_meta_version(self, spark, fixture_paths):
        """A table version written without a meta commit (a crash
        between an early commit and the meta write) stays invisible to
        read_outputs until the meta commits it."""
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_meta_"), spark,
                      num_buckets=8)
        init_run(spark, tio,
                 spark.read.parquet(fixture_paths["frontier_seed"]))
        row = spark.createDataFrame(
            [("http://orphan.example", "orphan.example", "success", 3, 1)],
            S.SEEN)
        tio.merge_state("seen", row, 1, 0)
        assert tio.read("seen", S.SEEN).count() == 1   # on disk
        assert read_outputs(tio)["seen"].count() == 0
        tio.write_meta({**tio.read_meta(), "iteration": 1})
        assert [r.url for r in read_outputs(tio)["seen"].collect()] == \
            ["http://orphan.example"]
