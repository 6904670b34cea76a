"""Spark-side operator tests: Column pipeline vs the pure-Python oracle,
claim determinism, extract UDF byte-identity."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from map_the_net_crawler_spark.config import CrawlConfig
from map_the_net_crawler_spark.functions.extract import extract_pages
from map_the_net_crawler_spark.functions.filters import url_exclusion_reason
from map_the_net_crawler_spark.htmlx import extract_page
from map_the_net_crawler_spark.operators.frontier import (claim_batch,
                                                          merge_frontier_upsert)
from map_the_net_crawler_spark.oracle.pyref import should_exclude_url
from map_the_net_crawler_spark.urlkit import parse_href


class TestFilterParity:
    """The JVM Column filter pipeline must agree with the sequential
    oracle's should_exclude_url on every fixture link (drift guard)."""

    def test_exclusion_reasons_match_oracle(self, spark, fixture_frames):
        lc = fixture_frames["link_candidates"]
        rows = []
        for r in lc.itertuples():
            p = parse_href(r.href)
            rows.append({
                "href": r.href, "link_text": r.link_text,
                "href_netloc": p["netloc"], "href_path": p["path"],
                "n_query_params": p["n_query_params"],
                "param_names": p["param_names"],
            })
        sdf = spark.createDataFrame(pd.DataFrame(rows))
        out = sdf.withColumn("reason", url_exclusion_reason(
            F.col("href"), F.col("link_text"), F.col("href_netloc"),
            F.col("href_path"), F.col("n_query_params"),
            F.col("param_names"))).collect()
        for row in out:
            expected = should_exclude_url(row.href, row.link_text or "")
            assert row.reason == expected, (row.href, row.link_text)


class TestClaim:
    def _seed_df(self, spark, fixture_paths):
        return spark.read.parquet(fixture_paths["frontier_seed"])

    def test_claim_order_partition_invariant(self, spark, fixture_paths):
        """W1 determinism (SURVEY.md §7.3 hard part 1): claim order must
        not depend on input partitioning."""
        f = self._seed_df(spark, fixture_paths)
        cfg = CrawlConfig(max_items=10)
        a = [r.url for r in claim_batch(f, cfg).orderBy("claim_rank").collect()]
        b = [r.url for r in claim_batch(f.repartition(7), cfg)
             .orderBy("claim_rank").collect()]
        c = [r.url for r in claim_batch(f.repartition(1), cfg)
             .orderBy("claim_rank").collect()]
        assert a == b == c
        # priority DESC dominates, then discovery_seq ASC
        rows = claim_batch(f, cfg).orderBy("claim_rank").collect()
        keys = [(-r.priority, r.discovery_seq) for r in rows]
        assert keys == sorted(keys)

    def test_politeness_budget_caps_per_domain(self, spark):
        rows = [(f"http://d{i % 3}.com/p{i}", f"d{i % 3}.com", None, 1,
                 "pending", i, None, 1, None, None) for i in range(30)]
        f = spark.createDataFrame(
            rows, "url string, domain_name string, source_domain string, "
                  "priority int, status string, discovery_seq long, "
                  "discovery_ts timestamp, depth int, error_message string, "
                  "processed_iteration int")
        cfg = CrawlConfig(max_items=30)
        out = claim_batch(f, cfg, politeness_budget=2)
        per_dom = (out.groupBy("domain_name").count().collect())
        assert all(r["count"] <= 2 for r in per_dom)
        # salted sub-quota mode also respects the (ceiled) budget
        out_s = claim_batch(f, cfg, politeness_budget=4, salt_buckets=2)
        per_dom = (out_s.groupBy("domain_name").count().collect())
        assert all(r["count"] <= 4 for r in per_dom)

    def test_politeness_claims_match_pandas_reference(self, spark):
        """VERDICT r4 item 2: the shuffle-free _local_domain_topk
        pre-filter must leave politeness claims IDENTICAL to the plain
        per-domain rank window — pinned against an independent pandas
        restatement on skewed multi-partition data (one hub domain owns
        most pending rows, so local batches disagree with the global
        rank unless the pre-filter is a true superset)."""
        import pandas as pd

        n = 5_000
        rows = [(f"http://hub.com/p{i}" if i % 5 else f"http://d{i}.com/",
                 "hub.com" if i % 5 else f"d{i}.com", None,
                 (i * 37) % 100, "pending", i, None, 1, None, None)
                for i in range(n)]
        f = spark.createDataFrame(
            rows, "url string, domain_name string, source_domain string, "
                  "priority int, status string, discovery_seq long, "
                  "discovery_ts timestamp, depth int, error_message string, "
                  "processed_iteration int").repartition(13)
        budget, k = 3, 50
        cfg = CrawlConfig(max_items=k)
        got = [r.url for r in claim_batch(f, cfg, politeness_budget=budget)
               .orderBy("claim_rank").collect()]

        pdf = pd.DataFrame(rows, columns=[
            "url", "domain_name", "source_domain", "priority", "status",
            "discovery_seq", "discovery_ts", "depth", "error_message",
            "processed_iteration"])
        pdf = pdf.sort_values(["priority", "discovery_seq"],
                              ascending=[False, True], kind="mergesort")
        pdf = pdf[pdf.groupby("domain_name", sort=False).cumcount()
                  < budget]
        want = pdf.head(k)["url"].tolist()
        assert got == want

    def test_merge_upsert_greatest_least(self, spark):
        base = spark.createDataFrame(
            [("u1", "d", None, 1, "pending", 0, None, 3, None, None)],
            "url string, domain_name string, source_domain string, "
            "priority int, status string, discovery_seq long, "
            "discovery_ts timestamp, depth int, error_message string, "
            "processed_iteration int")
        new = spark.createDataFrame(
            [("u1", "d", None, 5, "pending", 9, None, 1, None, None)],
            base.schema)
        out = merge_frontier_upsert(base, new).collect()
        assert len(out) == 1
        assert out[0].priority == 5 and out[0].depth == 1   # database.py:321-323


_DISC_SCHEMA = ("clean_url string, target_domain string, "
                "source_domain string, src_depth int, source_rank int, "
                "link_pos int, is_internal boolean")


def _disc_row(rank: int, pos: int, internal: bool, url: str) -> tuple:
    return (url, url.split("/")[2], f"src{rank}.com", rank % 3, rank, pos,
            internal)


def _python_merge(rows: list[tuple], frontier_urls: set[str],
                  next_seq: int) -> dict[str, int]:
    """merge_discoveries restated in Python for inputs with no quota in
    play: each URL's first finding (earlier source, internal before
    external, earlier position) unless the frontier holds it, numbered
    densely from ``next_seq`` in enqueue order."""
    def order(r):
        url, _t, _s, _d, rank, pos, internal = r
        return (rank, not internal, pos, url)
    first = {}
    for r in sorted(rows, key=order):
        first.setdefault(r[0], r)
    fresh = sorted((r for u, r in first.items() if u not in frontier_urls),
                   key=order)
    return {r[0]: next_seq + i for i, r in enumerate(fresh)}


class TestSequenceBySource:
    """``merge_discoveries`` numbers new frontier rows with one plan: a
    window per source plus a running sum over one row per source.  Each
    case checks ``(url, discovery_seq)`` against a Python sort of the
    same rows."""

    def _merge(self, spark, rows, frontier_urls=(), next_seq=500,
               partitions=1):
        from map_the_net_crawler_spark.operators.frontier import \
            merge_discoveries
        disc = spark.createDataFrame(rows, _DISC_SCHEMA)
        if rows:
            disc = disc.repartition(partitions)
        # a pandas frame is a local relation the planner can size, so
        # the frontier side of the anti-join is broadcast as in a crawl
        frontier = spark.createDataFrame(
            pd.DataFrame({"url": list(frontier_urls)}, dtype=object),
            "url string")
        seen = spark.createDataFrame([], "domain_name string, seen_cnt int")
        procd = spark.createDataFrame(
            [], "domain_name string, batch_rank int, records_history boolean")
        return merge_discoveries(frontier, disc, seen, procd, CrawlConfig(),
                                 next_seq=next_seq)

    def _check(self, spark, rows, frontier_urls=(), partitions=1):
        out = self._merge(spark, rows, frontier_urls, partitions=partitions)
        got = {r.url: r.discovery_seq for r in out.collect()}
        assert got == _python_merge(rows, set(frontier_urls), 500)
        return out

    def _many_sources(self):
        """40 sources with 1-30 links each; URLs repeat across sources,
        and every 7th URL is already in the frontier."""
        rows = []
        for rank in range(1, 41):
            for pos in range(1 + (rank * 7) % 30):
                rows.append(_disc_row(rank, pos, (rank + pos) % 3 == 0,
                                      f"http://t{(rank * pos) % 53}.com/"
                                      f"p{(rank + pos) % 41}"))
        frontier = sorted({r[0] for r in rows[::7]})
        return rows, frontier

    def test_many_sources_over_several_partitions(self, spark):
        rows, frontier = self._many_sources()
        out = self._check(spark, rows, frontier, partitions=5)
        assert out.count() > 100

    def test_source_at_link_cap(self, spark):
        cfg = CrawlConfig()
        rows = [_disc_row(2, p, True, f"http://src2.com/i{p}")
                for p in range(cfg.max_internal_links)]
        rows += [_disc_row(2, p, False, f"http://x{p}.org/")
                 for p in range(cfg.max_external_links)]
        rows += [_disc_row(1, 0, False, "http://first.org/"),
                 _disc_row(3, 0, False, "http://last.org/")]
        out = self._check(spark, rows, partitions=3)
        seq = {r.url: r.discovery_seq for r in out.collect()}
        assert seq["http://first.org/"] == 500
        assert seq["http://last.org/"] == 500 + 1 + cfg.max_links_per_page

    def test_link_pos_tie_puts_internal_first(self, spark):
        rows = [_disc_row(1, p, internal, f"http://{kind}{p}.com/")
                for p in range(4)
                for internal, kind in ((False, "ext"), (True, "int"))]
        out = self._check(spark, rows, partitions=2)
        order = [r.url for r in out.orderBy("discovery_seq").collect()]
        assert order[:2] == ["http://int0.com/", "http://int1.com/"]

    def test_url_found_twice_keeps_earlier_source(self, spark):
        rows = [_disc_row(5, 0, False, "http://shared.com/"),
                _disc_row(5, 1, False, "http://five.com/"),
                _disc_row(2, 3, False, "http://shared.com/"),
                _disc_row(2, 0, False, "http://two.com/")]
        out = self._check(spark, rows, partitions=2)
        got = {r.url: (r.discovery_seq, r.source_domain)
               for r in out.collect()}
        assert got["http://shared.com/"] == (501, "src2.com")

    def test_empty_input_gives_no_rows(self, spark):
        assert self._merge(spark, []).collect() == []

    def test_same_sequence_at_any_shuffle_partitions(self, spark):
        rows, frontier = self._many_sources()
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        got = []
        try:
            for n in ("1", "7"):
                spark.conf.set(key, n)
                got.append(sorted(map(tuple, self._merge(
                    spark, rows, frontier, partitions=3).collect())))
        finally:
            spark.conf.set(key, old)
        assert got[0] == got[1] and got[0]

    def test_no_unpartitioned_window_over_rows(self, spark):
        """The only window without a partition key runs over the
        per-source counts (one row per source), and the counts re-read
        the exchange of the per-source window: the merge subtree below
        it runs once."""
        import re
        rows, frontier = self._many_sources()
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "7")
            out = self._merge(spark, rows, frontier, partitions=3)
            out.collect()
        finally:
            spark.conf.set(key, old)
        qe = out._jdf.queryExecution()
        todo, global_windows = [qe.optimizedPlan()], []
        while todo:
            node = todo.pop()
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
            if (node.getClass().getSimpleName() == "Window"
                    and node.partitionSpec().isEmpty()):
                global_windows.append(node)
        assert len(global_windows) == 1
        child = global_windows[0].child()
        while child.getClass().getSimpleName() in ("Project", "Sort",
                                                   "Filter"):
            child = child.child()
        assert child.getClass().getSimpleName() == "Aggregate"
        grouping = child.groupingExpressions()
        assert grouping.size() == 1
        assert grouping.apply(0).toString().startswith("source_rank")
        # the final plan prints a reused exchange without its subtree:
        # one planned exchange per key means nothing below ran twice
        plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
        for k in ("source_rank", "clean_url"):
            planned = re.findall(rf"\+- Exchange hashpartitioning\({k}",
                                 plan)
            assert len(planned) == 1, (k, plan)
        assert re.search(r"ReusedExchange .*hashpartitioning\(source_rank",
                         plan), plan


class TestExtractUdf:
    def test_byte_identical_text(self, spark, committed_fixdir):
        """BASELINE.json input_hint invariant: extracted text == pages.text."""
        pages = spark.read.parquet(f"{committed_fixdir}/pages.parquet")
        ex = extract_pages(pages.select(
            "url", F.lit("d").alias("domain_name"), "html"))
        meta = ex.filter(F.col("link_pos") == -1) \
                 .select("url", F.col("text").alias("extracted"))
        joined = pages.select("url", "text").join(meta, "url")
        bad = joined.filter(F.col("text") != F.col("extracted")).count()
        assert bad == 0
        assert joined.count() == pages.count()

    def test_links_match_pure_python(self, spark, committed_fixdir):
        pages_pd = pd.read_parquet(f"{committed_fixdir}/pages.parquet").head(5)
        pages = spark.createDataFrame(pages_pd[["url", "html"]])
        ex = extract_pages(pages.select(
            "url", F.lit("d").alias("domain_name"), "html"))
        got = {(r.url, r.link_pos, r.href, r.link_text)
               for r in ex.filter(F.col("link_pos") >= 0).collect()}
        want = set()
        for r in pages_pd.itertuples():
            for pos, href, text in extract_page(bytes(r.html)).links:
                want.add((r.url, pos, href, text))
        assert got == want

    def test_missing_page_marks_fetch_failed(self, spark):
        df = spark.createDataFrame(
            [("http://gone.example", "gone.example", None)],
            "url string, domain_name string, html binary")
        rows = extract_pages(df).collect()
        assert len(rows) == 1
        assert rows[0].fetch_ok is False and rows[0].link_pos == -1


class TestFusedLinkFilter:
    """The survival predicate fused into the extract snapshot
    (plans/iteration.py `_link_ok`) must keep exactly the rows
    operators.links.filter_links keeps — the regexes run once at extract
    time, so any drift between the two expressions would silently change
    the link pipeline."""

    def test_fused_predicate_equals_filter_links(self, spark,
                                                 committed_fixdir):
        from map_the_net_crawler_spark.functions import filters as X
        from map_the_net_crawler_spark.operators.links import filter_links
        pages = spark.read.parquet(f"{committed_fixdir}/pages.parquet")
        ex = extract_pages(pages.select(
            "url",
            F.regexp_replace("url", "^http://", "").alias("domain_name"),
            "html"))
        link_cols = ["domain_name", "link_pos", "href", "link_text",
                     "href_scheme", "href_netloc", "href_path",
                     "n_query_params", "param_names", "target_domain",
                     "clean_url"]
        links = ex.filter(F.col("link_pos") >= 0).select(*link_cols)
        want = {(r.domain_name, r.link_pos, r.href)
                for r in filter_links(links).collect()}
        fused = (X.url_exclusion_reason(
            F.col("href"), F.col("link_text"), F.col("href_netloc"),
            F.col("href_path"), F.col("n_query_params"),
            F.col("param_names")).isNull()
            & (F.col("target_domain") != "")
            & X.domain_format_valid(F.col("target_domain")))
        got = {(r.domain_name, r.link_pos, r.href)
               for r in links.filter(fused).collect()}
        assert got == want
        assert len(want) > 0


class TestFusedExtractColumns:
    """The extract pass computes C4 ``is_sub`` and the node row's
    ``category``/``tags`` in Python.  They must equal the Column
    statements of the same rules (classify.is_subdomain_rel over the
    psl_extract parts, category_col/tags_col over the robots- and
    fetch-masked inputs), so moving them into the pass cannot change
    the crawl's edges or nodes."""

    def _extracted(self, spark, committed_fixdir):
        pages = spark.read.parquet(f"{committed_fixdir}/pages.parquet")
        fetched = pages.select(
            "url",
            F.regexp_replace("url", "^http://", "").alias("domain_name"),
            "html",
            (F.pmod(F.xxhash64("url"), F.lit(2)) == 0).alias("robots_ok"))
        # a page absent from the snapshot: fetch_ok = false
        fetched = fetched.unionByName(spark.range(1).select(
            F.lit("http://gone.example").alias("url"),
            F.lit("gone.example").alias("domain_name"),
            F.lit(None).cast("binary").alias("html"),
            F.lit(True).alias("robots_ok")))
        return fetched, extract_pages(fetched)

    def test_is_sub_equals_psl_column_predicate(self, spark,
                                                committed_fixdir):
        from map_the_net_crawler_spark.functions import classify as C
        _, ex = self._extracted(spark, committed_fixdir)
        links = ex.filter(F.col("link_pos") >= 0).select(
            "domain_name", "link_pos", "target_domain", "is_sub",
            C.psl_extract(F.col("domain_name")).alias("s"),
            C.psl_extract(F.col("target_domain")).alias("t"))
        want = C.is_subdomain_rel(
            F.col("s.subdomain"), F.col("s.domain"), F.col("s.suffix"),
            F.col("t.subdomain"), F.col("t.domain"), F.col("t.suffix"))
        rows = links.select("is_sub", want.alias("want")).collect()
        assert rows
        assert all(r.is_sub == r.want for r in rows)
        assert any(r.is_sub for r in rows)

    def test_category_tags_equal_columns(self, spark, committed_fixdir):
        from map_the_net_crawler_spark.functions import classify as C
        fetched, ex = self._extracted(spark, committed_fixdir)
        meta = (ex.filter(F.col("link_pos") == -1)
                .join(fetched.select("url", "robots_ok"), "url"))
        vis = F.col("robots_ok") & F.col("fetch_ok")
        cat = C.category_col(F.when(vis, F.col("title")),
                             F.when(vis, F.col("description")),
                             F.col("domain_name"))
        tags = C.tags_col(F.when(F.col("fetch_ok"), F.col("meta_keywords")),
                          F.col("domain_name"), cat)
        # the 44-branch CASE compiles for minutes under whole-stage
        # codegen; interpreted evaluation gives the same values
        old = spark.conf.get("spark.sql.codegen.wholeStage")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            rows = meta.select("robots_ok", "fetch_ok", "category", "tags",
                               cat.alias("want_cat"),
                               tags.alias("want_tags")).collect()
        finally:
            spark.conf.set("spark.sql.codegen.wholeStage", old)
        assert {(r.robots_ok, r.fetch_ok) for r in rows} >= {
            (True, True), (False, True), (True, False)}
        for r in rows:
            assert (r.category, r.tags) == (r.want_cat, r.want_tags), r

    def test_default_robots_ok_is_true(self, spark, committed_fixdir):
        fetched, _ = self._extracted(spark, committed_fixdir)
        allowed = fetched.withColumn("robots_ok", F.lit(True))
        key = ["url", "link_pos"]
        got = sorted(map(tuple, extract_pages(allowed.drop("robots_ok"))
                         .select(*key, "category", "tags").collect()))
        want = sorted(map(tuple, extract_pages(allowed)
                          .select(*key, "category", "tags").collect()))
        assert got == want


class TestIsinLiterals:
    """The one-expression IN filter keeps exactly the rows Column.isin
    keeps, for keys SQL string literals must escape."""

    VALUES = ["a.com", "o'brien.com", "back\\slash.com", "q\\'mix",
              "tab\there", "x" * 300, "ünï.com", ""]

    def test_same_rows_and_expression_as_isin(self, spark):
        from map_the_net_crawler_spark.operators.enrich import isin_literals
        rows = [(v,) for v in self.VALUES + ["other.com", None, "A.COM"]]
        df = spark.createDataFrame(rows, "domain_name string")
        want = df.filter(F.col("domain_name").isin(self.VALUES))
        got = df.filter(isin_literals("domain_name", self.VALUES))
        assert sorted(r[0] for r in got.collect()) == \
            sorted(r[0] for r in want.collect()) == sorted(self.VALUES)
        assert (got._jdf.queryExecution().optimizedPlan().toString()
                == want._jdf.queryExecution().optimizedPlan().toString())

    def test_empty_list_keeps_no_rows(self, spark):
        from map_the_net_crawler_spark.operators.enrich import isin_literals
        df = spark.createDataFrame([("a",), (None,)], "k string")
        assert df.filter(isin_literals("k", [])).count() == 0
