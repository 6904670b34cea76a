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


class TestGlobalSequence:
    def test_ranged_path_equals_window_path(self, spark):
        """assign_global_sequence must produce the identical mapping via
        the single-window path and the range-partitioned two-phase path
        (scale path), at any parallelism."""
        from map_the_net_crawler_spark.operators.frontier import \
            assign_global_sequence
        import pandas as pd
        rows = pd.DataFrame({
            "clean_url": [f"http://d{i % 37}.com/p{i}" for i in range(997)],
            "source_rank": [i % 11 for i in range(997)],
            "is_internal": [bool(i % 2) for i in range(997)],
            "link_pos": [i % 53 for i in range(997)],
        })
        df = spark.createDataFrame(rows).repartition(7)
        order = [F.col("source_rank").asc(), F.col("is_internal").desc(),
                 F.col("link_pos").asc(), F.col("clean_url").asc()]
        small = {r.clean_url: r.discovery_seq for r in
                 assign_global_sequence(df, order, 100,
                                        small_threshold=10**9).collect()}
        ranged = {r.clean_url: r.discovery_seq for r in
                  assign_global_sequence(df, order, 100,
                                         small_threshold=1).collect()}
        assert small == ranged
        assert sorted(small.values()) == list(range(100, 100 + 997))

    def test_ranged_path_runs_no_python_table(self, spark):
        """The two-phase path's per-partition offsets ride the plan as a
        literal map: no Python-backed local table (``ExistingRDD``) and
        no broadcast join, with the window path's mapping."""
        from map_the_net_crawler_spark.operators.frontier import \
            assign_global_sequence
        n = 997
        df = spark.range(n).select(
            F.concat(F.lit("http://d"), F.col("id") % 37, F.lit(".com/p"),
                     F.col("id")).alias("clean_url"),
            (F.col("id") % 11).cast("int").alias("source_rank"),
            (F.col("id") % 2 == 1).alias("is_internal"),
            (F.col("id") % 53).cast("int").alias("link_pos")) \
            .repartition(7)
        order = [F.col("source_rank").asc(), F.col("is_internal").desc(),
                 F.col("link_pos").asc(), F.col("clean_url").asc()]
        ranged = assign_global_sequence(df, order, 100, small_threshold=1)
        plans = ranged._jdf.queryExecution().toString()
        assert "ExistingRDD" not in plans and "LogicalRDD" not in plans
        assert "BroadcastExchange" not in plans
        small = assign_global_sequence(df, order, 100,
                                       small_threshold=10**9)
        got = {r.clean_url: r.discovery_seq for r in ranged.collect()}
        assert got == {r.clean_url: r.discovery_seq
                       for r in small.collect()}
        assert sorted(got.values()) == list(range(100, 100 + n))
        # an upper-bound hint over an empty input takes the ranged path
        # with no offsets at all
        empty = assign_global_sequence(df.limit(0), order, 100,
                                       small_threshold=1, rows_hint=n)
        assert empty.collect() == []

    def test_rows_hint_skips_count_same_mapping(self, spark):
        """rows_hint (an upper bound) must give the identical mapping as
        the exact-count plan pick on both sides of the threshold."""
        from map_the_net_crawler_spark.operators.frontier import \
            assign_global_sequence
        import pandas as pd
        rows = pd.DataFrame({
            "clean_url": [f"http://d{i % 7}.com/p{i}" for i in range(211)],
            "source_rank": [i % 5 for i in range(211)],
            "is_internal": [bool(i % 2) for i in range(211)],
            "link_pos": [i % 13 for i in range(211)],
        })
        df = spark.createDataFrame(rows).repartition(5)
        order = [F.col("source_rank").asc(), F.col("is_internal").desc(),
                 F.col("link_pos").asc(), F.col("clean_url").asc()]
        exact = {r.clean_url: r.discovery_seq for r in
                 assign_global_sequence(df, order, 7).collect()}
        hint_small = {r.clean_url: r.discovery_seq for r in
                      assign_global_sequence(df, order, 7,
                                             rows_hint=5000).collect()}
        hint_big = {r.clean_url: r.discovery_seq for r in
                    assign_global_sequence(df, order, 7, small_threshold=50,
                                           rows_hint=5000).collect()}
        assert exact == hint_small == hint_big

    def test_merge_discoveries_materializer_identity(self, spark, tmp_path):
        """merge_discoveries with a scratch-snapshot materializer (the
        big-batch F-term path) returns row-identical new-pending output
        to the default count-sized path."""
        from map_the_net_crawler_spark.config import CrawlConfig
        from map_the_net_crawler_spark.operators.frontier import \
            merge_discoveries
        cfg = CrawlConfig()
        frontier = spark.createDataFrame(
            [("http://d0.com/p0",), ("http://d1.com/p3",)], "url string")
        disc = spark.createDataFrame(
            [(f"http://d{i % 9}.com/p{i}", f"d{i % 9}.com", f"s{i % 4}.com",
              0, i % 4, i % 17, bool(i % 2)) for i in range(400)],
            "clean_url string, target_domain string, source_domain string, "
            "src_depth int, source_rank int, link_pos int, is_internal boolean")
        seen = spark.createDataFrame([("d1.com", 1)],
                                     "domain_name string, seen_cnt int")
        procd = spark.createDataFrame(
            [("d2.com", 0, True)],
            "domain_name string, batch_rank int, records_history boolean")

        def run(materializer):
            out = merge_discoveries(frontier, disc, seen, procd, cfg,
                                    next_seq=500, iteration=3,
                                    materializer=materializer)
            return sorted(map(tuple, out.collect()))

        calls = []

        def mat(df):
            p = str(tmp_path / f"fresh_{len(calls)}")
            df.write.mode("overwrite").parquet(p)
            out = spark.read.parquet(p)
            calls.append(p)
            return out, out.count()

        plain = run(None)
        snap = run(mat)
        assert calls, "materializer engaged"
        assert plain == snap
        assert len(plain) > 0


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
