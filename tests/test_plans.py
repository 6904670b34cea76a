"""Physical-plan hygiene (SURVEY.md §4): the properties that make the
100 TB story real must be visible in the optimized plan, not just
claimed — filter/column pushdown into the parquet scan, broadcast of
dimension sides, distributed top-k for the claim, no cartesian products
on the hot paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestPushdown:
    def test_pricing_filter_reaches_scan(self, spark):
        plan = plan_of(E.q_pricing_summary(spark, SF))
        assert "PushedFilters" in plan
        assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]

    def test_column_pruning(self, spark):
        # Q1 touches 6 lineitem columns; the wide ones must not be read
        plan = plan_of(E.q_pricing_summary(spark, SF))
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema and "l_comment" not in read_schema[0]
        assert "l_partkey" not in read_schema[0]


class TestJoins:
    def test_dimension_join_broadcasts(self, spark):
        plan = plan_of(E.q_revenue_by_nation(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_minhash_verify_join_not_cartesian(self, spark):
        plan = plan_of(E.q_minhash_lsh(spark, SF))
        assert "CartesianProduct" not in plan


class TestClaim:
    def test_claim_is_distributed_topk(self, spark):
        """W1: the frontier claim must compile to TakeOrderedAndProject
        (per-partition local top-k + k-row merge), NEVER a single-task
        global sort window (SURVEY.md §4.5)."""
        from map_the_net_crawler_spark.config import CrawlConfig
        from map_the_net_crawler_spark.operators.frontier import claim_batch
        f = spark.createDataFrame(
            [(f"http://d{i}.com", f"d{i}.com", None, 1, "pending", i, None,
              0, None, None) for i in range(100)],
            "url string, domain_name string, source_domain string, "
            "priority int, status string, discovery_seq long, "
            "discovery_ts timestamp, depth int, error_message string, "
            "processed_iteration int")
        plan = plan_of(claim_batch(f, CrawlConfig(max_items=10)))
        assert "TakeOrderedAndProject" in plan


class TestSkew:
    def test_salted_claim_splits_hub_domain(self, spark):
        """§4.2 hub-domain skew: with salt_buckets>1 the per-domain rank
        window partitions by (domain, salt), so one hub domain holding
        90% of pending URLs cannot collapse the window stage into a
        single task — pinned both in the plan (the salt expression is
        part of the window partition spec) and behaviorally (per-salt
        sub-quota bound, budget respected after the union)."""
        from map_the_net_crawler_spark.config import CrawlConfig
        from map_the_net_crawler_spark.operators.frontier import claim_batch
        rows = [(f"http://hub.com/p{i}", "hub.com", None, 1, "pending", i,
                 None, 0, None, None) for i in range(900)]
        rows += [(f"http://d{i}.com", f"d{i}.com", None, 1, "pending",
                  900 + i, None, 0, None, None) for i in range(100)]
        f = spark.createDataFrame(
            rows,
            "url string, domain_name string, source_domain string, "
            "priority int, status string, discovery_seq long, "
            "discovery_ts timestamp, depth int, error_message string, "
            "processed_iteration int")
        cfg = CrawlConfig(max_items=200)
        out = claim_batch(f, cfg, politeness_budget=64, salt_buckets=16)
        plan = plan_of(out)
        assert "pmod" in plan and "xxhash64" in plan  # salted partition key
        got = out.collect()
        hub = [r for r in got if r.domain_name == "hub.com"]
        # sub-quota = ceil(64/16) = 4 per (domain, salt): the hub's rows
        # come from ≤16 independent window groups of ≤4 rows each
        assert 0 < len(hub) <= 64
        # claim stays a distributed top-k after the salting
        assert "TakeOrderedAndProject" in plan


def _broadcast_subtrees(plan: str) -> list[str]:
    """Return, for each BroadcastExchange in a ``formatted`` plan, the
    concatenated DETAIL text of the exchange's descendant nodes.

    Parses the tree section (indentation = parent/child) and maps node
    ids to their detail blocks, so assertions can inspect what actually
    feeds each broadcast."""
    import re
    lines = plan.splitlines()
    tree: list[tuple[int, str, int]] = []   # (depth, name, id)
    details: dict[int, str] = {}
    in_tree = False
    cur_id = None
    for ln in lines:
        m = re.match(r"^([ :+\-*]*)([A-Za-z][A-Za-z0-9_ .]*?) \((\d+)\)\s*$",
                     ln)
        if m and not ln.startswith("("):
            in_tree = True
            depth = len(m.group(1))
            tree.append((depth, m.group(2).strip(), int(m.group(3))))
            continue
        d = re.match(r"^\((\d+)\) (.+)$", ln)
        if d:
            cur_id = int(d.group(1))
            details[cur_id] = d.group(2) + "\n"
            continue
        if cur_id is not None:
            details[cur_id] = details.get(cur_id, "") + ln + "\n"
    out = []
    for i, (depth, name, nid) in enumerate(tree):
        if "BroadcastExchange" not in name:
            continue
        desc_ids = []
        for depth2, name2, nid2 in tree[i + 1:]:
            if depth2 <= depth:
                break
            desc_ids.append(nid2)
        out.append("".join(details.get(x, f"{tree}") for x in desc_ids)
                   or " ".join(n for _, n, x in tree[i + 1:i + 9]))
    return out


class TestBoundedBroadcasts:
    """VERDICT r3 item 8: every broadcast side on the crawl hot path
    must be batch-bounded — if it scans a corpus-growing parquet table
    it MUST be pruned by a LeftSemi against the batch key set first.  A
    regression reintroducing a corpus-sized broadcast fails here."""

    def _assert_bounded(self, plan, corpus_marker: str):
        subs = _broadcast_subtrees(plan)
        assert subs, "expected at least one BroadcastExchange"
        offenders = [s for s in subs
                     if corpus_marker in s and "LeftSemi" not in s]
        assert not offenders, offenders

    def test_seen_counts_broadcast_is_pruned(self, spark, tmp_path):
        """The per-domain history counts the quota gates broadcast must
        descend from the batch-keyed semi-join, never the global
        aggregate over the whole seen table."""
        import pandas as pd

        from map_the_net_crawler_spark.operators.seen import \
            seen_counts_pruned
        seen_path = str(tmp_path / "seen_pq")
        spark.createDataFrame(pd.DataFrame({
            "url": [f"http://d{i}.com/x" for i in range(500)],
            "domain_name": [f"d{i % 50}.com" for i in range(500)]})) \
            .write.mode("overwrite").parquet(seen_path)
        seen = spark.read.parquet(seen_path)
        batch = spark.createDataFrame(pd.DataFrame(
            {"domain_name": ["d1.com", "d2.com"], "n": [1, 2]}))
        counts = seen_counts_pruned(seen, batch)
        gated = batch.join(F.broadcast(counts), "domain_name", "left")
        self._assert_bounded(plan_of(gated), "Scan parquet")

    def test_complete_set_broadcast_is_pruned(self, spark, tmp_path):
        """F13: the complete-data key set broadcast into the node-update
        anti-join is semi-join-pruned to the batch."""
        import pandas as pd

        from map_the_net_crawler_spark import schemas as S
        from map_the_net_crawler_spark.plans.iteration import \
            complete_data_domains
        nodes_path = str(tmp_path / "nodes_pq")
        spark.createDataFrame([], S.NODES).write.mode("overwrite") \
            .parquet(nodes_path)
        nodes = spark.read.schema(S.NODES).parquet(nodes_path)
        batch = spark.createDataFrame(pd.DataFrame(
            {"domain_name": ["a.com"], "title": ["t"]}))
        complete = complete_data_domains(nodes, batch)
        out = batch.join(F.broadcast(complete), "domain_name", "left_anti")
        self._assert_bounded(plan_of(out), "Scan parquet")

    def test_enrich_dim_broadcasts_are_pruned(self, spark):
        """S4-S7: every enrichment dimension broadcast that scans a dim
        parquet snapshot is bounded by a batch-key semi-join (the
        _bounded prune in operators/enrich.py)."""
        import os

        import pandas as pd

        from map_the_net_crawler_spark import schemas as S
        from map_the_net_crawler_spark.operators.enrich import enrich_batch
        fx = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "fixtures")
        whois = spark.read.parquet(os.path.join(fx, "whois.parquet"))
        dns = spark.read.parquet(os.path.join(fx, "dns.parquet"))
        ssl = spark.read.parquet(os.path.join(fx, "ssl.parquet"))
        geo = spark.read.parquet(os.path.join(fx, "geo.parquet"))
        nodes = spark.createDataFrame([], S.NODES)
        batch = spark.createDataFrame(pd.DataFrame(
            {"domain_name": ["site00000.com", "a.site00001.org"],
             "batch_rank": [1, 2]}))
        out = enrich_batch(batch, whois, dns, ssl, geo, nodes)
        self._assert_bounded(plan_of(out), "Scan parquet")



class TestPythonStages:
    """One Python pass per crawled page: in a crawl iteration only the
    robots gate (the claim snapshot ``gated``) and the extract pass run
    Python.  The link pipeline (``rels``) and the node rows
    (``nodes_batch``) read the extract snapshot's ``is_sub`` and
    ``category``/``tags`` columns instead of re-entering Python."""

    PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                    "PythonUDF")

    def test_only_gates_and_extract_run_python(self, spark, fixture_paths,
                                               tmp_path):
        from map_the_net_crawler_spark import schemas as S
        from map_the_net_crawler_spark.config import CrawlConfig
        from map_the_net_crawler_spark.plans.crawl import init_run
        from map_the_net_crawler_spark.plans.iteration import (
            CrawlInputs, run_iteration)
        from map_the_net_crawler_spark.storage import TableIO
        tio = TableIO(str(tmp_path / "run"), spark)
        init_run(spark, tio,
                 spark.read.parquet(fixture_paths["frontier_seed"]))
        plans: dict[str, str] = {}

        def tap(method):
            orig = getattr(tio, method)

            def w(name, df, *a):
                plans[name] = df._jdf.queryExecution().toString()
                return orig(name, df, *a)
            setattr(tio, method, w)

        for m in ("write", "merge_state", "append_partition"):
            tap(m)
        fx = fixture_paths
        inputs = CrawlInputs(
            pages=spark.read.parquet(fx["pages"]),
            robots=spark.read.parquet(fx["robots"]),
            redirects=spark.read.schema(S.REDIRECTS).parquet(fx["redirects"]),
            whois=spark.read.parquet(fx["whois"]),
            dns=spark.read.parquet(fx["dns"]),
            ssl=spark.read.parquet(fx["ssl"]),
            geo=spark.read.parquet(fx["geo"]))
        res = run_iteration(spark, tio, inputs, CrawlConfig(), 1, 0)
        assert res.processed > 0
        assert {"rels", "nodes_batch"} <= set(plans)
        python = {name for name, plan in plans.items()
                  if any(n in plan for n in self.PYTHON_NODES)}
        assert python == {"gated", "extract"}, python
