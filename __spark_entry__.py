"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship crawl (seed → domain graph) on the
committed deterministic fixtures and returns the edge table.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (+ the training-data pipeline ops); ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for every SQL-expressible one.  Crawl
operators run over the committed fixtures in ``fixtures/`` next to this
file (``FIXDIR``, which the SQL oracles read with read_parquet when
``oracle_sql()`` is called); document/embedding/TPC-H
operators run over the driver's pre-registered sf views.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fx(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(FIXDIR, f"{name}.parquet"))


def _sf(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ----------------------------------------------------------------------
# flagship: the end-to-end crawl (SURVEY.md §7.1 M3 — "from seed S with
# depth ≤ max_depth, what is the domain graph?")
# ----------------------------------------------------------------------

_ENTRY_CACHE: dict = {}


def entry(spark: SparkSession) -> DataFrame:
    import tempfile

    key = id(spark)
    if key in _ENTRY_CACHE:
        return _ENTRY_CACHE[key]

    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.plans.crawl import run_crawl
    from map_the_net_crawler_spark.plans.iteration import CrawlInputs
    from map_the_net_crawler_spark.storage import TableIO

    tio = TableIO(tempfile.mkdtemp(prefix="mtn_entry_"), spark)
    inputs = CrawlInputs(
        pages=_fx(spark, "pages"), robots=_fx(spark, "robots"),
        redirects=spark.read.schema(S.REDIRECTS).parquet(
            os.path.join(FIXDIR, "redirects.parquet")),
        whois=_fx(spark, "whois"), dns=_fx(spark, "dns"),
        ssl=_fx(spark, "ssl"), geo=_fx(spark, "geo"))
    run_crawl(spark, tio, inputs, CrawlConfig(),
              seeds=_fx(spark, "frontier_seed"), max_iterations=2)
    edges = tio.read("edges", S.EDGES)
    out = edges.select("src_domain", "dst_domain", "relationship_type",
                       "link_text", "link_url") \
               .orderBy("src_domain", "dst_domain", "relationship_type")
    _ENTRY_CACHE[key] = out
    return out


# ----------------------------------------------------------------------
# queries — each callable takes (spark, sf_dir) and returns a DataFrame
# ----------------------------------------------------------------------

def q_frontier_claim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/W1: top-k frontier claim order (database.py:360-367)."""
    f = _fx(spark, "frontier_seed")
    w = Window.orderBy(F.col("priority").desc(), F.col("discovery_seq").asc(),
                       F.col("url").asc())
    return (f.filter(F.col("status") == "pending")
            .withColumn("claim_rank", F.row_number().over(w))
            .filter(F.col("claim_rank") <= 10)
            .select("claim_rank", "url", "domain_name", "priority", "depth"))


def q_frontier_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/A4: INSERT..ON DUPLICATE KEY merge (database.py:321-323) via
    the real operator: GREATEST(priority)/LEAST(depth), incumbent row
    keeps its other fields (status/error_message), genuinely-new rows
    insert whole.  Exercises the explicitly-ordered pick."""
    from map_the_net_crawler_spark.operators.frontier import \
        merge_frontier_upsert
    f = _fx(spark, "frontier_seed")
    dup = f.select(
        "url", "domain_name", "source_domain",
        (F.col("priority") + 2).alias("priority"),
        F.lit("dup-status").alias("status"),
        (F.col("discovery_seq") + 10000).alias("discovery_seq"),
        "discovery_ts",
        (F.col("depth") + 1).alias("depth"),
        F.lit("dup-err").alias("error_message"),
        F.col("processed_iteration"))
    fresh = dup.withColumn("url", F.concat(F.col("url"), F.lit("?fresh")))
    out = merge_frontier_upsert(f, dup.unionByName(fresh))
    return out.select("url", "priority", "depth", "status",
                      "error_message", "discovery_seq")


def q_queue_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: GROUP BY COUNT over the frontier (database.py:589-604)."""
    return (_fx(spark, "frontier_seed")
            .groupBy("status", "priority")
            .agg(F.count("*").alias("cnt"),
                 F.min("discovery_seq").alias("min_seq"),
                 F.max("discovery_seq").alias("max_seq")))


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/C2: clean_url_for_queue + www-strip as Column regexes
    (domain_collector.py:205-224, 992-995).  The ';params' strip after
    the last '/' mirrors urlparse's _splitparams (the reference's path
    EXCLUDES last-segment params — found by the hypothesis
    cross-implementation property test)."""
    u = _fx(spark, "raw_urls")
    scheme = F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
    netloc = F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    path = F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r";[^/]*$", "")
    clean = F.concat(scheme, F.lit("://"), netloc, path)
    clean = F.when((F.length(clean) > 1) & clean.rlike("/$"),
                   F.regexp_replace(clean, "/+$", "")).otherwise(clean)
    domain = F.regexp_replace(F.lower(netloc), r"^www\.", "")
    return u.select("url", clean.alias("clean_url"), domain.alias("domain"))


def q_link_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F9 exclusion pipeline over flat link candidates
    (domain_collector.py:144-203), regex-parsed so the same semantics run
    in DuckDB; returns surviving links with their parse fields."""
    lc = _fx(spark, "link_candidates")
    netloc = F.regexp_extract("href", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    path = F.regexp_replace(
        F.regexp_extract("href",
                         r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1),
        r";[^/]*$", "")
    query = F.regexp_extract("href", r"^[^?#]*\?([^#]*)", 1)
    from map_the_net_crawler_spark.functions.filters import (_EXT_RE,
                                                             _PATTERN_RE,
                                                             _TRACKING_RE)
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    pnames = F.transform(params, lambda p: F.regexp_extract(p, "^([^=]*)", 1))
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    text = F.coalesce(F.col("link_text"), F.lit(""))
    keep = (
        (netloc != "")
        & ~F.lower(path).rlike(_EXT_RE)
        & ~F.lower(F.col("href")).rlike(_PATTERN_RE)
        & (F.size(params) <= 10)
        & ~F.exists(pnames, lambda k: F.lower(k).rlike(_TRACKING_RE))
        & (F.length("href") <= 500)
        & (F.size(segs) <= 8)
        & ~((F.size(segs) > 0) & F.lower(F.element_at(segs, 1)).isin(
            "api", "admin", "assets", "static", "cdn", "images", "img",
            "css", "js"))
        & (F.length(F.regexp_replace(text, r"^\s+|\s+$", "")) >= 2)
        & ~F.lower(F.regexp_replace(text, r"^\s+|\s+$", "")).isin(
            "click here", "read more", "learn more", "continue", "next",
            "previous")
    )
    return (lc.filter(keep)
            .select("pos", "href", "link_text", "src_domain",
                    F.regexp_replace(F.lower(netloc), r"^www\.", "")
                    .alias("target_domain")))


def q_domain_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 domain patterns + F10 format validation
    (domain_collector.py:126-142, 1305-1312)."""
    from map_the_net_crawler_spark.functions.filters import (_PATTERN_RE,
                                                             domain_format_valid)
    d = (_fx(spark, "link_candidates")
         .select(F.regexp_replace(F.lower(F.regexp_extract(
             "href", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)),
             r"^www\.", "").alias("domain"))
         .filter(F.col("domain") != "").distinct())
    return d.select(
        "domain",
        F.lower(F.col("domain")).rlike(_PATTERN_RE).alias("is_excluded"),
        domain_format_valid(F.col("domain")).alias("is_valid"))


def q_naive_main_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 naive last-2-labels main domain (domain_collector.py:226-232)."""
    d = _fx(spark, "dns").select("domain")
    parts = F.split("domain", r"\.")
    main = F.when(F.size(parts) > 2,
                  F.concat_ws(".", F.slice(parts, -2, 2))).otherwise(F.col("domain"))
    return d.select("domain", main.alias("main_domain"),
                    (F.size(parts) > 2).alias("is_subdomain"))


def q_whois_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 three-format date normalization (database.py:177-192)."""
    from map_the_net_crawler_spark.functions.classify import normalize_date
    return (_fx(spark, "whois")
            .select("domain",
                    normalize_date(F.col("created_date_raw")).alias("created_date"),
                    normalize_date(F.col("expiry_date_raw")).alias("expiry_date"),
                    "registrar"))


def q_whois_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: regex-alternation extraction over raw WHOIS response text
    (domain_collector.py:672-733), incl. the 'Sponsoring Registrar'
    substring-precedence quirk and 3-format date normalization."""
    from map_the_net_crawler_spark.functions.classify import (
        whois_created_from_text, whois_expiry_from_text,
        whois_registrar_from_text)
    w = _fx(spark, "whois_raw")
    t = F.col("whois_text")
    return w.select("domain",
                    whois_registrar_from_text(t).alias("registrar"),
                    whois_created_from_text(t).alias("created_date"),
                    whois_expiry_from_text(t).alias("expiry_date"))


def q_asn_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: ASN fields from the ipinfo 'org' string
    (domain_collector.py:801-815) — org variants (normal / extra spaces /
    token-only / empty / whitespace-only) are derived deterministically
    from the dns fixture so the quirk triple is exercised."""
    from map_the_net_crawler_spark.functions.classify import (
        asn_description_from_org, asn_from_org)
    dns = _fx(spark, "dns")
    h = F.substring(F.md5(F.col("domain")), 1, 1)
    base = F.coalesce(F.col("asn_description"), F.lit("Example Net"))
    a = F.coalesce(F.col("asn"), F.lit("AS0"))
    org = (F.when(h < "4", F.concat(a, F.lit(" "), base))
           .when(h < "8", F.concat(F.lit("  "), a, F.lit("   "), base))
           .when(h < "a", a)
           .when(h < "d", F.lit(""))
           .otherwise(F.lit("   ")))
    return dns.select("domain", org.alias("org"),
                      asn_from_org(org).alias("asn"),
                      asn_description_from_org(org).alias("asn_description"))


def _enrich_probe_batch(spark: SparkSession):
    """Probe batch for the S6/S7 oracles: every dns-fixture domain plus
    five domains that exist in NO dimension table, so the missing-row
    fallbacks (ssl_valid=false, null geo chain) are exercised."""
    dns = _fx(spark, "dns")
    doms = dns.select("domain").unionByName(
        spark.range(5).select(
            F.concat(F.lit("missing-"), F.col("id"),
                     F.lit(".example")).alias("domain")))
    return (doms.select(F.col("domain").alias("domain_name"))
            .withColumn("batch_rank",
                        F.row_number().over(Window.orderBy("domain_name"))))


def _enrich_probe(spark: SparkSession) -> DataFrame:
    from map_the_net_crawler_spark import schemas as _S
    from map_the_net_crawler_spark.operators.enrich import enrich_batch
    from map_the_net_crawler_spark.storage import empty_frame
    return enrich_batch(_enrich_probe_batch(spark), _fx(spark, "whois"),
                        _fx(spark, "dns"), _fx(spark, "ssl"),
                        _fx(spark, "geo"), empty_frame(spark, _S.NODES))


def q_ssl_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 SSL dimension join (domain_collector.py:816-841): missing row
    == failed handshake → ssl_valid coalesces to false, ssl_expiry stays
    null — runs the REAL enrich_batch operator on a probe batch."""
    return _enrich_probe(spark).select("domain_name", "ssl_valid",
                                       "ssl_expiry")


def q_geo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 geolocation chain (domain_collector.py:843-883): domain → dns
    ip_address → geo(lat/lon/country); a domain with no dns row yields
    the all-null chain — runs the REAL enrich_batch operator."""
    return _enrich_probe(spark).select(
        "domain_name", "ip_address",
        F.round(F.col("latitude").cast("double"), 6).alias("latitude"),
        F.round(F.col("longitude").cast("double"), 6).alias("longitude"),
        "country")


def q_dns_parent_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 parent-NS fallback via self-join (domain_collector.py:756-770)."""
    dns = _fx(spark, "dns")
    parts = F.split("domain", r"\.")
    main = F.when(F.size(parts) > 2,
                  F.concat_ws(".", F.slice(parts, -2, 2))).otherwise(F.col("domain"))
    d = dns.select("domain", main.alias("main_domain"), "nameservers")
    parent = dns.select(F.col("domain").alias("main_domain"),
                        F.col("nameservers").alias("parent_ns"))
    return (d.join(parent, "main_domain", "left")
            .select("domain",
                    F.coalesce(F.col("nameservers"), F.col("parent_ns"))
                    .alias("effective_ns"))
            .withColumn("effective_ns",
                        F.coalesce(F.col("effective_ns"), F.array()))
            .select("domain",
                    F.concat_ws(",", "effective_ns").alias("nameservers_csv")))


def q_redirect_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5/J6 redirect predicate incl. protocol-only exemption
    (domain_collector.py:1088-1113)."""
    r = _fx(spark, "redirects")
    orig_netloc = F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    orig_scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    fin_netloc = F.regexp_extract("final_url", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    fin_scheme = F.lower(F.regexp_extract("final_url", r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    orig_d = F.regexp_replace(F.lower(orig_netloc), r"^www\.", "")
    fin_d = F.regexp_replace(F.lower(fin_netloc), r"^www\.", "")
    protocol_only = (fin_d == orig_d) & (orig_scheme != fin_scheme)
    is_redirect = ((F.col("status_code") >= 300) & (F.col("status_code") < 400)
                   & (fin_d != "") & (fin_d != orig_d) & ~protocol_only)
    return r.select("url", "final_url", "status_code",
                    fin_d.alias("final_domain"),
                    is_redirect.alias("is_redirect"))


def q_per_page_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/W3 document-order dedup + caps (domain_collector.py:1023-1186)
    over the flat link candidates: first 12 unique targets per source in
    position order."""
    lc = _fx(spark, "link_candidates")
    netloc = F.regexp_extract("href", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    tgt = F.regexp_replace(F.lower(netloc), r"^www\.", "")
    df = lc.select("src_domain", "pos", "href", tgt.alias("target_domain")) \
           .filter(F.col("target_domain") != "")
    w_dedup = Window.partitionBy("src_domain", "target_domain").orderBy("pos")
    df = (df.withColumn("rn", F.row_number().over(w_dedup))
          .filter(F.col("rn") == 1).drop("rn"))
    w_cap = Window.partitionBy("src_domain").orderBy("pos")
    return (df.withColumn("cap_rank", F.row_number().over(w_cap))
            .filter(F.col("cap_rank") <= 12)
            .select("src_domain", "cap_rank", "pos", "target_domain"))


def q_category_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 first-match category chain (domain_collector.py:318-417) as
    Column CASE over document text prefixes (order-sensitive)."""
    from map_the_net_crawler_spark.functions.classify import category_col
    docs = _sf(spark, sf_dir, "documents")
    snippet = F.substring("text", 1, 80)
    return docs.select(
        "doc_id",
        category_col(snippet, F.lit(""), F.lit("example.com")).alias("category"))


def q_tags_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 tag derivation (domain_collector.py:419-451) as Column arrays,
    comma-joined for oracle comparison."""
    from map_the_net_crawler_spark.functions.classify import tags_col
    d = _fx(spark, "dns").select("domain")
    return d.select(
        "domain",
        F.concat_ws(",", tags_col(F.lit("Kw1, kw2 ,"), F.col("domain"),
                                  F.lit("misc"))).alias("tags_csv"))


# ---- crawl end-to-end (non-SQL-expressible: python-oracle tested) -----

def q_crawl_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full iterative crawl → domain-graph edges (rows-only check here;
    exactness vs the sequential reference oracle in tests/)."""
    return entry(spark)


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1-U6 extract UDF over every fixture page — hash-compared against
    the committed golden parquet produced by the sequential htmlx
    extraction (scripts/make_goldens.py), pinning title/description/
    favicon/keywords AND the byte-identical text invariant
    (input_hint per-row invariant; domain_collector.py:563-585)."""
    from map_the_net_crawler_spark.functions.extract import extract_pages
    pages = _fx(spark, "pages")
    ex = extract_pages(pages.select("url", F.lit("d").alias("domain_name"),
                                    "html"))
    return (ex.filter(F.col("link_pos") == -1)
            .select("url", "title", "description", "favicon_url",
                    "meta_keywords", "text"))


def q_robots_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U7 robots UDF decisions per fixture domain — hash-compared
    against the committed golden produced by the sequential parser
    (scripts/make_goldens.py; every parser quirk pinned by
    hand-computed unit tests in tests/test_semantics_core.py)."""
    from map_the_net_crawler_spark.functions.robots import make_robots_udf
    udf = make_robots_udf("WorldMapper/1.0 (compatible)")
    r = _fx(spark, "robots")
    return r.select("domain",
                    udf(F.col("body"), F.col("status_code"), F.lit("/"))
                    .alias("allowed"))


def q_psl_registrable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 PSL-aware registrable-domain UDF (rows-only; PSL snapshot)."""
    from map_the_net_crawler_spark.functions.classify import psl_extract
    d = (_fx(spark, "link_candidates")
         .select(F.regexp_replace(F.lower(F.regexp_extract(
             "href", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)),
             r"^www\.", "").alias("domain"))
         .filter(F.col("domain") != "").distinct())
    return (d.select("domain", psl_extract(F.col("domain")).alias("psl"))
            .select("domain", F.col("psl.subdomain").alias("subdomain"),
                    F.col("psl.domain").alias("registrable"),
                    F.col("psl.suffix").alias("suffix")))


# ---- TPC-H-ish / events (pre-registered views) -------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-class aggregation baseline (TPC-H Q1 shape) on lineitem."""
    li = _sf(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
                 F.count("*").alias("count_order")))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5-style multi-hop equi joins + agg."""
    li = _sf(spark, sf_dir, "lineitem")
    o = _sf(spark, sf_dir, "orders")
    c = _sf(spark, sf_dir, "customer")
    n = _sf(spark, sf_dir, "nation")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 4).alias("revenue"),
                 F.count("*").alias("n_items")))


def q_top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-class: top-3 events per user by value (claim-order window shape)."""
    e = _sf(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(),
                                              F.col("event_id").asc())
    return (e.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("user_id", "rnk", "event_id", "event_type",
                    F.round("value", 6).alias("value")))


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-equivalent tumbling-window agg in batch form
    (streaming/events.windowed_counts semantics)."""
    e = _sf(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                      "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


# ---- training-data pipeline ops ----------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_the_net_crawler_spark.operators.dedup import exact_dedup
    return exact_dedup(_sf(spark, sf_dir, "documents"))


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_the_net_crawler_spark.functions.text import (
        punct_ratio_col, stopword_ratio_col, token_count_col)
    docs = _sf(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        F.round(stopword_ratio_col(F.col("text"), "en"), 6).alias("stopword_ratio"),
        F.round(punct_ratio_col(F.col("text")), 6).alias("punct_ratio"),
        F.length("text").alias("n_chars"))


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID + quality score (rows-only: composite heuristics)."""
    from map_the_net_crawler_spark.functions.text import (language_id_col,
                                                          quality_score_col)
    docs = _sf(spark, sf_dir, "documents")
    return docs.select("doc_id",
                       language_id_col(F.col("text")).alias("lang_id"),
                       quality_score_col(F.col("text")).alias("quality_score"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS, Schleimer et al. 2003):
    char-5-gram 60-bit md5 hashes, min per 4-window, sorted distinct.
    Emitted posexploded — one row per (doc_id, pos, fingerprint) — so the
    result is a flat sortable relation (the check harness cannot
    canonicalize array columns)."""
    from map_the_net_crawler_spark.functions.text import \
        winnow_fingerprints_col
    docs = _sf(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    fp = winnow_fingerprints_col(F.col("text"), k=5, window=4)
    return (docs.select("doc_id", F.posexplode(fp).alias("pos", "fingerprint"))
                .withColumn("pos", F.col("pos").cast("long")))


def q_word_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (n=1) Jaccard near-dup pairs, SQL-checkable variant."""
    from map_the_net_crawler_spark.operators.dedup import ngram_jaccard_pairs
    docs = _sf(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.3)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (md5 double hashing; DuckDB
    oracle `_sql_minhash_lsh`)."""
    from map_the_net_crawler_spark.operators.dedup import minhash_lsh_pairs
    docs = _sf(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return minhash_lsh_pairs(docs, n_hashes=16, bands=8, shingle_n=2,
                             jaccard_threshold=0.2)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (md5 shingle hashes; DuckDB oracle
    `_sql_simhash`)."""
    from map_the_net_crawler_spark.operators.dedup import simhash_dedup
    docs = _sf(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_dedup(docs).filter(F.col("hamming") <= 16)


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table."""
    from map_the_net_crawler_spark.operators.similarity import \
        brute_force_cosine_topk
    emb = _sf(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return brute_force_cosine_topk(queries_df, emb, k=5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN; the DuckDB oracle recomputes the identical
    sha256-derived hyperplane signatures from literal plane vectors."""
    from map_the_net_crawler_spark.operators.similarity import lsh_bucketed_topk
    emb = _sf(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return lsh_bucketed_topk(queries_df, emb, dim=64, k=5, n_planes=4)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN: deterministic md5-ordered centroids, nprobe=3."""
    from map_the_net_crawler_spark.operators.similarity import ivf_topk
    emb = _sf(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries_df, emb, dim=64, n_cells=8, nprobe=3, k=5)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact variant, max_rows
    guarded; the LSH scale path is q_embedding_neardup_lsh).
    Deduplication family #5.  Scoring via the Arrow numpy kernel."""
    from map_the_net_crawler_spark.operators.similarity import \
        embedding_neardup_exact
    emb = _sf(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return embedding_neardup_exact(emb, threshold=0.3)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-blocked (the 100 TB path for dedup
    family #5): candidate pairs share a hyperplane bucket, exact cosine
    verifies.  One shuffle keyed by bucket — never all-pairs."""
    from map_the_net_crawler_spark.operators.similarity import (
        cosine_pairs_pd, lsh_signature_udf)
    emb = _sf(spark, sf_dir, "embeddings")
    sig = lsh_signature_udf(64, 4)
    e = emb.select("vec_id", "embedding", sig(F.col("embedding")).alias("b"))
    a = e.select(F.col("vec_id").alias("doc_a"),
                 F.col("embedding").alias("va"), "b")
    bb = e.select(F.col("vec_id").alias("doc_b"),
                  F.col("embedding").alias("vb"), "b")
    pairs = a.join(bb, "b").filter(F.col("doc_a") < F.col("doc_b"))
    cos = F.round(cosine_pairs_pd(F.col("va"), F.col("vb")), 6)
    # one signature per vector => each pair meets in at most one bucket
    return (pairs.select("doc_a", "doc_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= 0.3))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (streaming/events.sessionize batch form,
    30-minute gap) — gaps-and-islands oracle in DuckDB."""
    from map_the_net_crawler_spark.streaming.events import sessionize
    e = _sf(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return sessionize(e).select("user_id", "session_start", "n_events")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode: synthesized REAL container payloads (valid
    PNG / WAV bytes built from doc_id, raw text otherwise) go through
    the byte-level header parse (functions/multimodal.sniff_media) —
    the oracle recomputes width/height/duration from doc_id
    independently, so a wrong parse hash-mismatches."""
    import struct
    import zlib

    from pyspark.sql.functions import pandas_udf

    from map_the_net_crawler_spark.functions.multimodal import \
        extract_media_features

    def _png(width: int, height: int) -> bytes:
        def chunk(ctype: bytes, data: bytes) -> bytes:
            return (struct.pack(">I", len(data)) + ctype + data
                    + struct.pack(">I", zlib.crc32(ctype + data)))
        ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
        raw = b"".join(b"\x00" + bytes((x * 7 + y * 13) % 256
                                       for x in range(width))
                       for y in range(height))
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    def _wav(duration_ms: int, rate: int = 8000) -> bytes:
        n_bytes = int(rate * 2 * duration_ms / 1000)
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        data = bytes(n_bytes)
        return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)

    @pandas_udf("binary")
    def gen_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for i, t in zip(doc_id, text):
            i = int(i)
            if i % 3 == 0:
                out.append(_png(i % 16 + 1, (i // 16) % 16 + 1))
            elif i % 3 == 1:
                out.append(_wav(i % 50 + 1))
            else:
                out.append((t or "").encode("utf-8"))
        return pd.Series(out)

    docs = _sf(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video").alias("media_type"),
        gen_payload(F.col("doc_id"), F.col("text")).alias("payload"))
    return extract_media_features(media, dim=8) \
        .select("media_id", "media_type", "format", "width", "height",
                "duration_ms", "feature_dim", "decode_ok")


def q_ugc_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UGC purge candidate scan (cleanup_ugc_domains.py:22-26) over
    the link-candidate target domains."""
    from map_the_net_crawler_spark.operators.maintenance import \
        ugc_purge_candidates
    d = (_fx(spark, "link_candidates")
         .select(F.regexp_replace(F.lower(F.regexp_extract(
             "href", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)),
             r"^www\.", "").alias("domain_name"))
         .filter(F.col("domain_name") != "").distinct())
    return ugc_purge_candidates(d)


def q_metrics_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/A5/C11: the collection-log counters as a SQL-checkable
    composition — per source domain, relationships_found/urls_discovered
    = surviving links after the F1-F9 filter + doc-order dedup + cap 12
    (domain_collector.py:1292-1296: one append per surviving link), and
    processing_time = DECIMAL(10,3) work-units rounding (C11).  The real
    crawl metrics table is pinned against the sequential oracle in
    tests/test_crawl_equivalence.py::test_metrics."""
    lf = q_link_filter(spark, sf_dir)
    w_d = Window.partitionBy("src_domain", "target_domain").orderBy("pos")
    d = (lf.withColumn("rn", F.row_number().over(w_d))
         .filter(F.col("rn") == 1))
    w_c = Window.partitionBy("src_domain").orderBy("pos")
    c = (d.withColumn("cap_rank", F.row_number().over(w_c))
         .filter(F.col("cap_rank") <= 12))
    out = c.groupBy("src_domain").agg(
        F.count("*").cast("int").alias("relationships_found"),
        F.count("*").cast("int").alias("urls_discovered"))
    return out.select(
        "src_domain", "relationships_found", "urls_discovered",
        F.round((F.lit(1) + F.col("relationships_found")
                 + F.col("urls_discovered")) * 0.001, 3)
        .cast("decimal(10,3)").alias("processing_time"))


def q_archive_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 S14/C10: archive_collection_logs age split
    (archive_collection_logs.py:90-99) via the real operator — metrics
    rows derived deterministically from events, cutoff = current - age."""
    from map_the_net_crawler_spark.operators.maintenance import \
        archive_metrics
    e = _sf(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    metrics = e.select(
        (F.col("event_id") % 7 + 1).cast("int").alias("iteration"),
        F.concat(F.lit("d"), (F.col("user_id") % 50).cast("string"),
                 F.lit(".com")).alias("domain_name"),
        F.col("event_id"))
    kept, old = archive_metrics(metrics, max_iteration_age=3,
                                current_iteration=7)
    return (kept.withColumn("bucket", F.lit("kept"))
            .unionByName(old.withColumn("bucket", F.lit("archived")))
            .groupBy("bucket", "iteration")
            .agg(F.count("*").alias("cnt"),
                 F.min("event_id").alias("min_event")))


def q_link_exclusion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 metrics surface: per-source-domain counts by FIRST-matching
    exclusion reason — the ordered early-return chain of
    _should_exclude_url (domain_collector.py:144-203) — via the real
    link_exclusion_stats operator; survivors count under 'kept'."""
    from map_the_net_crawler_spark.operators.links import \
        link_exclusion_stats
    lc = _fx(spark, "link_candidates")
    netloc = F.regexp_extract("href", r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1)
    path = F.regexp_replace(
        F.regexp_extract("href",
                         r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1),
        r";[^/]*$", "")
    query = F.regexp_extract("href", r"^[^?#]*\?([^#]*)", 1)
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    pnames = F.transform(params, lambda p: F.regexp_extract(p, "^([^=]*)", 1))
    links = lc.select(
        F.col("src_domain").alias("domain_name"), "href", "link_text",
        netloc.alias("href_netloc"), path.alias("href_path"),
        F.size(params).alias("n_query_params"),
        pnames.alias("param_names"))
    out = link_exclusion_stats(links)
    return out.select("domain_name",
                      F.coalesce(F.col("reason"), F.lit("kept"))
                      .alias("reason"), "cnt")


def q_backfill_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 backfill (fill_missing_domain_data.py:85-164): nodes with
    null enrichment fields re-run the S4-S7 joins; non-null-wins merge.
    Synthetic holes: every field null except registrar='KeepMe' on an
    md5-keyed subset (proves existing values survive the merge)."""
    from map_the_net_crawler_spark.operators.maintenance import \
        backfill_missing
    d = _fx(spark, "dns").select("domain")
    keep_reg = F.substring(F.md5(F.col("domain")), 1, 1) < F.lit("8")
    nodes = d.select(
        F.xxhash64("domain").alias("domain_id"),
        F.col("domain").alias("domain_name"),
        F.lit(None).cast("string").alias("title"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("favicon_url"),
        F.lit(None).cast("date").alias("created_date"),
        F.lit(None).cast("date").alias("expiry_date"),
        F.when(keep_reg, F.lit("KeepMe")).alias("registrar"),
        F.lit(None).cast("array<string>").alias("nameservers"),
        F.lit(None).cast("string").alias("asn"),
        F.lit(None).cast("string").alias("asn_description"),
        F.lit(None).cast("boolean").alias("ssl_valid"),
        F.lit(None).cast("date").alias("ssl_expiry"),
        F.lit(None).cast("string").alias("country"),
        F.lit(None).cast("string").alias("ip_address"),
        F.lit(None).cast("decimal(10,8)").alias("latitude"),
        F.lit(None).cast("decimal(11,8)").alias("longitude"),
        F.lit(None).cast("string").alias("category"),
        F.lit(None).cast("array<string>").alias("tags"),
        F.lit(0).alias("updated_iteration"))
    out = backfill_missing(nodes, _fx(spark, "whois"), _fx(spark, "dns"),
                           _fx(spark, "ssl"), _fx(spark, "geo"))
    return out.select(
        "domain_name", "created_date", "expiry_date", "registrar",
        F.concat_ws(",", F.coalesce(F.col("nameservers"), F.array()))
        .alias("nameservers_csv"),
        "ssl_valid", "country", "ip_address", "asn")


def q_backfill_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 backfill, web-data group (_collect_web_data page re-fetch,
    fill_missing_domain_data.py:127-131): nodes with null web fields
    re-join the pages snapshot through the crawl's extract UDF;
    non-null-wins merge.  Synthetic holes: title='KeepTitle' on an
    md5-keyed subset proves existing values survive; the rest backfill
    from html (oracle: the committed golden extraction)."""
    from map_the_net_crawler_spark.operators.maintenance import \
        backfill_missing
    d = _fx(spark, "dns").select("domain")
    keep_title = F.substring(F.md5(F.col("domain")), 1, 1) < F.lit("8")
    nodes = d.select(
        F.xxhash64("domain").alias("domain_id"),
        F.col("domain").alias("domain_name"),
        F.when(keep_title, F.lit("KeepTitle")).alias("title"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).cast("string").alias("favicon_url"),
        F.lit(None).cast("date").alias("created_date"),
        F.lit(None).cast("date").alias("expiry_date"),
        F.lit(None).cast("string").alias("registrar"),
        F.lit(None).cast("array<string>").alias("nameservers"),
        F.lit(None).cast("string").alias("asn"),
        F.lit(None).cast("string").alias("asn_description"),
        F.lit(None).cast("boolean").alias("ssl_valid"),
        F.lit(None).cast("date").alias("ssl_expiry"),
        F.lit(None).cast("string").alias("country"),
        F.lit(None).cast("string").alias("ip_address"),
        F.lit(None).cast("decimal(10,8)").alias("latitude"),
        F.lit(None).cast("decimal(11,8)").alias("longitude"),
        F.lit(None).cast("string").alias("category"),
        F.lit(None).cast("array<string>").alias("tags"),
        F.lit(0).alias("updated_iteration"))
    out = backfill_missing(nodes, _fx(spark, "whois"), _fx(spark, "dns"),
                           _fx(spark, "ssl"), _fx(spark, "geo"),
                           pages=_fx(spark, "pages"))
    return out.select("domain_name", "title", "description", "favicon_url")


def q_screenshot_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 screenshot sink (domain_collector.py:885-919, default-off
    config.py:36): mapInPandas sink-with-receipt — renders a
    deterministic valid PNG per domain, writes it executor-side, and
    the manifest re-sniffs the written bytes.  The oracle recomputes
    the expected dimensions from the domain string alone, so a wrong
    render OR a wrong header parse mismatches."""
    import tempfile

    from map_the_net_crawler_spark.operators.screenshot import \
        screenshot_sink
    d = _fx(spark, "dns").select(F.col("domain").alias("domain_name"))
    out_dir = tempfile.mkdtemp(prefix="mtn_shots_")
    return screenshot_sink(d, out_dir) \
        .select("domain_name", "format", "width", "height", "ok")


def q_top_agents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 top-10-by-count shape (archive_collection_logs.py:55-64) with a
    deterministic tiebreak, over the events table."""
    e = _sf(spark, sf_dir, "events")
    return (e.groupBy("user_id").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
            .limit(10))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_metrics_log": q_metrics_log,
        "q_archive_split": q_archive_split,
        "q_backfill_merge": q_backfill_merge,
        "q_backfill_web": q_backfill_web,
        "q_screenshot_manifest": q_screenshot_manifest,
        "q_ugc_purge": q_ugc_purge,
        "q_top_agents": q_top_agents,
        "q_frontier_claim": q_frontier_claim,
        "q_frontier_merge": q_frontier_merge,
        "q_queue_stats": q_queue_stats,
        "q_url_canonicalize": q_url_canonicalize,
        "q_link_filter": q_link_filter,
        "q_link_exclusion_stats": q_link_exclusion_stats,
        "q_domain_exclusion": q_domain_exclusion,
        "q_naive_main_domain": q_naive_main_domain,
        "q_whois_dates": q_whois_dates,
        "q_whois_text_extract": q_whois_text_extract,
        "q_asn_parse": q_asn_parse,
        "q_ssl_join": q_ssl_join,
        "q_geo_join": q_geo_join,
        "q_dns_parent_fallback": q_dns_parent_fallback,
        "q_redirect_classify": q_redirect_classify,
        "q_per_page_caps": q_per_page_caps,
        "q_category_classify": q_category_classify,
        "q_tags_derive": q_tags_derive,
        "q_crawl_edges": q_crawl_edges,
        "q_extract_text": q_extract_text,
        "q_robots_decisions": q_robots_decisions,
        "q_psl_registrable": q_psl_registrable,
        "q_pricing_summary": q_pricing_summary,
        "q_revenue_by_nation": q_revenue_by_nation,
        "q_top_events_per_user": q_top_events_per_user,
        "q_events_hourly": q_events_hourly,
        "q_dedup_exact": q_dedup_exact,
        "q_text_metrics": q_text_metrics,
        "q_lang_quality": q_lang_quality,
        "q_winnow_fingerprints": q_winnow_fingerprints,
        "q_word_jaccard": q_word_jaccard,
        "q_minhash_lsh": q_minhash_lsh,
        "q_simhash": q_simhash,
        "q_ann_cosine": q_ann_cosine,
        "q_embedding_neardup": q_embedding_neardup,
        "q_embedding_neardup_lsh": q_embedding_neardup_lsh,
        "q_sessionize": q_sessionize,
        "q_ann_lsh": q_ann_lsh,
        "q_ann_ivf": q_ann_ivf,
        "q_media_features": q_media_features,
    }


def _sql_category_case(lowered_expr: str) -> str:
    """DuckDB CASE chain generated from the same rules.CATEGORY_RULES the
    Spark Column/UDF variants use — cannot drift."""
    import re as _re

    from map_the_net_crawler_spark.rules import CATEGORY_RULES, DEFAULT_CATEGORY
    whens = []
    for cat, words in CATEGORY_RULES:
        pat = "|".join(_re.escape(w) for w in words)
        whens.append(f"WHEN regexp_matches({lowered_expr}, '{pat}') THEN '{cat}'")
    return "CASE " + " ".join(whens) + f" ELSE '{DEFAULT_CATEGORY}' END"


def _sql_rules() -> tuple[str, str, str]:
    import re as _re

    from map_the_net_crawler_spark.rules import (EXCLUDED_EXTENSIONS,
                                                 EXCLUDED_PATTERNS,
                                                 TRACKING_PARAM_SUBSTRINGS)
    ext_re = "(" + "|".join(_re.escape(e) for e in EXCLUDED_EXTENSIONS) + ")$"
    pattern_re = "|".join(f"({p})" for p in EXCLUDED_PATTERNS)
    tracking_re = "|".join(_re.escape(t) for t in TRACKING_PARAM_SUBSTRINGS)
    return ext_re, pattern_re, tracking_re


# ---- generated-SQL helpers: every constant below is produced from the
# SAME Python source the Spark operators use (rules.py, similarity
# hyperplanes, psl rules), so the two sides cannot drift. ----------------

# Java's \s (the operators' regexes) also matches \x0b (vertical tab);
# RE2's \s does not, so every oracle that restates a Java \s names the
# class [\s\v]
_SQL_NORM_WORDS = ("list_filter(string_split(lower(trim(regexp_replace("
                   "coalesce(text, ''), '[\\s\\v]+', ' ', 'g'))), ' '), "
                   "w -> w <> '')")


def _sql_shingles(n: int) -> str:
    """DuckDB restatement of dedup.shingles_col over a `words` column."""
    m = n - 1
    return (f"list_distinct(CASE WHEN len(words) - {m} >= 1 THEN "
            f"list_transform(range(1, len(words) - {m} + 1), "
            f"i -> array_to_string(words[i:i+{m}], ' ')) "
            "ELSE [] END)")


def _sql_minhash_lsh(id_filter: str, n_hashes: int, bands: int,
                     shingle_n: int, thr: float, max_bucket: int) -> str:
    from map_the_net_crawler_spark.operators.dedup import MINHASH_PRIME
    rpb = n_hashes // bands
    sig_cols = ", ".join(
        f"min((h1 + {p} * h2) % {MINHASH_PRIME}) AS h{p}"
        for p in range(n_hashes))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || ',' || ".join(f"h{b * rpb + r}::VARCHAR" for r in range(rpb))
        + ") AS bucket FROM sig"
        for b in range(bands))
    jac = ("round(CASE WHEN len(list_distinct(sa.shingles || sb.shingles)) > 0 "
           "THEN (len(sa.shingles) + len(sb.shingles) "
           "- len(list_distinct(sa.shingles || sb.shingles)))::DOUBLE "
           "/ len(list_distinct(sa.shingles || sb.shingles)) "
           "ELSE 0.0 END, 6)")
    return f"""
        WITH d AS (
          SELECT doc_id, {_SQL_NORM_WORDS} AS words
          FROM documents WHERE {id_filter}),
        shing AS (SELECT doc_id, {_sql_shingles(shingle_n)} AS shingles FROM d),
        ex AS (SELECT doc_id,
                 ('0x' || substring(md5(unnest(shingles)), 1, 10))
                   ::UBIGINT::BIGINT AS h1,
                 ('0x' || substring(md5(unnest(shingles)), 11, 10))
                   ::UBIGINT::BIGINT AS h2
               FROM shing),
        sig AS (SELECT doc_id, {sig_cols} FROM ex GROUP BY doc_id),
        banded AS ({band_selects}),
        sized AS (SELECT band, bucket, count(*) AS bsz
                  FROM banded GROUP BY band, bucket),
        bf AS (SELECT b.doc_id, b.band, b.bucket FROM banded b
               JOIN sized USING (band, bucket) WHERE bsz <= {max_bucket}),
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM bf a JOIN bf b USING (band, bucket)
                 WHERE a.doc_id < b.doc_id),
        j AS (SELECT doc_a, doc_b, {jac} AS jaccard
              FROM cand
              JOIN shing sa ON sa.doc_id = cand.doc_a
              JOIN shing sb ON sb.doc_id = cand.doc_b)
        SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {thr}
    """


def _sql_simhash(id_filter: str, shingle_n: int, band_bits: int,
                 max_hamming: int) -> str:
    from map_the_net_crawler_spark.operators.dedup import SIMHASH_BITS
    n_bands = SIMHASH_BITS // band_bits
    mask = (1 << band_bits) - 1
    votes = ", ".join(
        f"sum(((hv >> {i}) & 1)::BIGINT) AS b{i}" for i in range(SIMHASH_BITS))
    packed = " + ".join(
        f"(CASE WHEN b{i} * 2 > n THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(SIMHASH_BITS))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * band_bits}) & {mask} AS key FROM sim"
        for b in range(n_bands))
    return f"""
        WITH d AS (
          SELECT doc_id, {_SQL_NORM_WORDS} AS words
          FROM documents WHERE {id_filter}),
        shing AS (SELECT doc_id, {_sql_shingles(shingle_n)} AS shingles FROM d),
        ex AS (SELECT doc_id,
                 ('0x' || substring(md5(unnest(shingles)), 1, 15))::UBIGINT
                   ::BIGINT AS hv
               FROM shing),
        v AS (SELECT doc_id, count(*) AS n, {votes} FROM ex GROUP BY doc_id),
        sim AS (SELECT doc_id, {packed} AS simhash FROM v),
        banded AS ({band_selects}),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.simhash AS sa, b.simhash AS sb
                  FROM banded a JOIN banded b USING (band, key)
                  WHERE a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, bit_count(xor(sa, sb))::INT AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _sql_plane_literal(row) -> str:
    return "[" + ", ".join(repr(float(x)) for x in row) + "]"


def _sql_ann_lsh(dim: int, n_planes: int, k: int) -> str:
    from map_the_net_crawler_spark.operators.similarity import hyperplanes
    H = hyperplanes(dim, n_planes)
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_sql_plane_literal(H[p])}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, v, {sig} AS bucket FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM s WHERE vec_id < 10),
        c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM s),
        sc AS (SELECT query_id, neighbor_id,
                 round(list_cosine_similarity(qv, cv), 6) AS cosine
               FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc)
        SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
    """


def _sql_embedding_neardup_lsh(dim: int, n_planes: int, thr: float) -> str:
    from map_the_net_crawler_spark.operators.similarity import hyperplanes
    H = hyperplanes(dim, n_planes)
    sig = " + ".join(
        f"(CASE WHEN list_dot_product(v, {_sql_plane_literal(H[p])}) >= 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, v, {sig} AS bk FROM e)
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM s a JOIN s b ON a.bk = b.bk AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {thr}
    """


def _sql_ann_ivf(n_cells: int, nprobe: int, k: int) -> str:
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cent AS (SELECT v AS cv, cell FROM (
            SELECT v, row_number() OVER (
              ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell FROM e)
          WHERE cell < {n_cells}),
        ca AS (SELECT neighbor_id, cv2, cell FROM (
            SELECT e.vec_id AS neighbor_id, e.v AS cv2, cent.cell,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                         cent.cell ASC) AS rn
            FROM e CROSS JOIN cent) WHERE rn = 1),
        qa AS (SELECT query_id, qv, cell FROM (
            SELECT e.vec_id AS query_id, e.v AS qv, cent.cell,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY round(list_cosine_similarity(e.v, cent.cv), 6) DESC,
                         cent.cell ASC) AS rn
            FROM e CROSS JOIN cent WHERE e.vec_id < 10) WHERE rn <= {nprobe}),
        sc AS (SELECT query_id, neighbor_id,
                 round(list_cosine_similarity(qv, cv2), 6) AS cosine
               FROM qa JOIN ca USING (cell) WHERE query_id <> neighbor_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM sc)
        SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
    """


def _sql_psl(netloc_x: str) -> str:
    from map_the_net_crawler_spark.psl import _PSL_RULES
    vals = []
    for rule in _PSL_RULES:
        if rule.startswith("!"):
            vals.append(f"('{rule[1:]}', 'e')")
        elif rule.startswith("*."):
            vals.append(f"('{rule[2:]}', 'w')")
        else:
            vals.append(f"('{rule}', 'p')")
    rules_values = ", ".join(vals)
    return f"""
        WITH rules(rule, kind) AS (VALUES {rules_values}),
        d AS (
          SELECT DISTINCT regexp_replace(lower({netloc_x}), '^www\\.', '')
            AS domain
          FROM read_parquet('{FIXDIR}/link_candidates.parquet')),
        l AS (SELECT domain, trim(lower(domain), '.') AS host,
                     string_split(trim(lower(domain), '.'), '.') AS labels,
                     len(string_split(trim(lower(domain), '.'), '.')) AS n
              FROM d WHERE domain <> ''),
        c AS (SELECT domain, host, labels, n,
                     unnest(range(1, n + 1)) AS i FROM l),
        c2 AS (SELECT domain, n, i,
                 array_to_string(labels[i:n], '.') AS cand,
                 CASE WHEN i < n THEN array_to_string(labels[i+1:n], '.')
                      ELSE '' END AS rest
               FROM c),
        m AS (SELECT c2.domain, c2.i,
                CASE WHEN e.rule IS NOT NULL THEN c2.n - c2.i
                     WHEN p.rule IS NOT NULL THEN c2.n - c2.i + 1
                     WHEN c2.rest <> '' AND w.rule IS NOT NULL
                       THEN c2.n - c2.i + 1
                     ELSE NULL END AS suffix_len
              FROM c2
              LEFT JOIN rules e ON e.kind = 'e' AND e.rule = c2.cand
              LEFT JOIN rules p ON p.kind = 'p' AND p.rule = c2.cand
              LEFT JOIN rules w ON w.kind = 'w' AND w.rule = c2.rest),
        best AS (SELECT domain, suffix_len FROM (
            SELECT domain, suffix_len, row_number() OVER (
              PARTITION BY domain ORDER BY i) AS rn
            FROM m WHERE suffix_len IS NOT NULL) WHERE rn = 1),
        sl AS (SELECT l.domain, l.host, l.labels, l.n,
                      coalesce(b.suffix_len, 0) AS suffix_len
               FROM l LEFT JOIN best b USING (domain))
        SELECT domain,
          CASE WHEN suffix_len >= n THEN ''
               WHEN n - suffix_len >= 2
                 THEN coalesce(array_to_string(labels[1:n-suffix_len-1], '.'), '')
               ELSE '' END AS subdomain,
          CASE WHEN suffix_len >= n THEN '' ELSE labels[n-suffix_len] END
            AS registrable,
          CASE WHEN suffix_len >= n THEN host
               WHEN suffix_len > 0
                 THEN coalesce(array_to_string(labels[n-suffix_len+1:n], '.'), '')
               ELSE '' END AS suffix
        FROM sl
    """


def _sql_whois_text() -> str:
    from map_the_net_crawler_spark.functions.classify import (
        WHOIS_CREATED_PATTERNS, WHOIS_EXPIRY_PATTERNS,
        WHOIS_REGISTRAR_PATTERNS)

    def first(patterns):
        vals = ", ".join(
            f"nullif(regexp_extract(whois_text, '(?i){p}', 1), '')"
            for p in patterns)
        return (f"regexp_replace(coalesce({vals}), "
                "'^[\\s\\v]+|[\\s\\v]+$', '', 'g')")

    def dates(raw):
        return (f"coalesce(try_strptime({raw}, '%Y-%m-%d'), "
                f"try_strptime({raw}, '%Y-%m-%d %H:%M:%S'), "
                f"try_strptime({raw}, '%d-%b-%Y'))::date")

    return f"""
        WITH w AS (
          SELECT domain,
            {first(WHOIS_REGISTRAR_PATTERNS)} AS registrar,
            {first(WHOIS_CREATED_PATTERNS)} AS craw,
            {first(WHOIS_EXPIRY_PATTERNS)} AS eraw
          FROM read_parquet('{FIXDIR}/whois_raw.parquet'))
        SELECT domain, registrar,
          {dates('craw')} AS created_date,
          {dates('eraw')} AS expiry_date
        FROM w
    """


def _sql_lang_quality() -> str:
    from map_the_net_crawler_spark.functions.text import STOPWORDS
    toks = ("list_filter(regexp_split_to_array(coalesce(text, ''), "
            "'[\\s\\v]+'), x -> x <> '')")
    ratio = {}
    for lang, words in STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        ratio[lang] = (f"(CASE WHEN len(toks) > 0 THEN len(list_filter(toks, "
                       f"x -> list_contains({lst}, lower(x))))::DOUBLE "
                       f"/ len(toks) ELSE 0.0 END)")
    greatest = "greatest(" + ", ".join(f"r_{g}" for g in STOPWORDS) + ")"
    lang_case = ("CASE WHEN " + greatest + " <= 0.0 THEN 'und' "
                 + " ".join(f"WHEN r_{g} = {greatest} THEN '{g}'"
                            for g in STOPWORDS)
                 + " ELSE 'und' END")
    ratio_cols = ", ".join(f"{expr} AS r_{g}" for g, expr in ratio.items())
    return f"""
        WITH t AS (
          SELECT doc_id, coalesce(text, '') AS txt, {toks} AS toks
          FROM documents),
        r AS (SELECT doc_id, txt, toks, {ratio_cols} FROM t),
        m AS (SELECT doc_id, txt, toks, r_en, {lang_case} AS lang_id,
                length(txt) AS n_chars,
                CASE WHEN length(txt) > 0 THEN
                  length(regexp_replace(txt,
                    '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g'))::DOUBLE
                  / length(txt) ELSE 0.0 END AS punct,
                CASE WHEN len(toks) > 0 THEN
                  list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                  / len(toks) ELSE 0.0 END AS mwl
              FROM r)
        SELECT doc_id, lang_id,
          round(((CASE WHEN n_chars >= 200 AND n_chars <= 100000 THEN 1.0
                       WHEN n_chars >= 50 THEN 0.5 ELSE 0.0 END)
               + (CASE WHEN r_en >= 0.05 THEN 1.0 ELSE r_en * 20.0 END)
               + (CASE WHEN punct <= 0.2 THEN 1.0 ELSE 0.0 END)
               + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.0 END)
                ) / 4.0, 6) AS quality_score
        FROM m
    """


def _sql_asn_fields(org: str) -> str:
    """C14 asn / asn_description from the ipinfo org string ``org``."""
    return f"""
      CASE WHEN {org} = '' THEN NULL
           WHEN trim({org}) = '' THEN NULL
           ELSE list_filter(regexp_split_to_array({org}, '[\\s\\v]+'),
                            x -> x <> '')[1] END AS asn,
      CASE WHEN {org} = '' THEN ''
           WHEN trim({org}) = '' THEN NULL
           ELSE {org} END AS asn_description"""


def oracle_sql() -> dict[str, str]:
    ext_re, pattern_re, tracking_re = _sql_rules()
    netloc_x = "regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)"
    # ';params' strip after the last '/' == urlparse._splitparams
    path_x = ("regexp_replace(regexp_extract(href, "
              "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), "
              "';[^/]*$', '')")
    query_x = "regexp_extract(href, '^[^?#]*\\?([^#]*)', 1)"
    link_filter_sql = f"""
            WITH l AS (
              SELECT pos, href, link_text, src_domain,
                {netloc_x} AS netloc, {path_x} AS path, {query_x} AS query
              FROM read_parquet('{FIXDIR}/link_candidates.parquet')),
            p AS (
              SELECT *,
                list_filter(string_split(query, '&'), x -> x <> '') AS params,
                list_filter(string_split(path, '/'), x -> x <> '') AS segs,
                regexp_replace(coalesce(link_text, ''), '^[\\s\\v]+|[\\s\\v]+$', '', 'g') AS txt
              FROM l)
            SELECT pos, href, link_text, src_domain,
              regexp_replace(lower(netloc), '^www\\.', '') AS target_domain
            FROM p
            WHERE netloc <> ''
              AND NOT regexp_matches(lower(path), '{ext_re}')
              AND NOT regexp_matches(lower(href), '{pattern_re}')
              AND len(params) <= 10
              AND len(list_filter(params, x -> regexp_matches(
                    lower(regexp_extract(x, '^([^=]*)', 1)), '{tracking_re}'))) = 0
              AND length(href) <= 500
              AND len(segs) <= 8
              AND NOT (len(segs) > 0 AND list_contains(
                    ['api','admin','assets','static','cdn','images','img','css','js'],
                    lower(segs[1])))
              AND length(txt) >= 2
              AND NOT list_contains(
                    ['click here','read more','learn more','continue','next','previous'],
                    lower(txt))
    """
    return {
        "q_metrics_log": f"""
            WITH lf AS ({link_filter_sql}),
            d AS (SELECT *, row_number() OVER (
                    PARTITION BY src_domain, target_domain ORDER BY pos) AS rn
                  FROM lf),
            c AS (SELECT src_domain, row_number() OVER (
                    PARTITION BY src_domain ORDER BY pos) AS cap_rank
                  FROM d WHERE rn = 1),
            a AS (SELECT src_domain, count(*)::INT AS relationships_found,
                         count(*)::INT AS urls_discovered
                  FROM c WHERE cap_rank <= 12 GROUP BY src_domain)
            SELECT src_domain, relationships_found, urls_discovered,
              round((1 + relationships_found + urls_discovered) * 0.001, 3)
                ::DECIMAL(10,3) AS processing_time
            FROM a
        """,
        "q_ugc_purge": f"""
            WITH d AS (
              SELECT DISTINCT regexp_replace(lower({netloc_x}), '^www\\.', '')
                AS domain_name
              FROM read_parquet('{FIXDIR}/link_candidates.parquet'))
            SELECT domain_name FROM d
            WHERE domain_name <> ''
              AND regexp_matches(lower(domain_name), '{pattern_re}')
        """,
        "q_top_agents": """
            SELECT user_id, count(*) AS cnt FROM events
            GROUP BY user_id ORDER BY cnt DESC, user_id ASC LIMIT 10
        """,
        "q_link_filter": link_filter_sql,
        "q_link_exclusion_stats": f"""
            WITH l AS (
              SELECT pos, href, link_text, src_domain,
                {netloc_x} AS netloc, {path_x} AS path, {query_x} AS query
              FROM read_parquet('{FIXDIR}/link_candidates.parquet')),
            p AS (
              SELECT *,
                list_filter(string_split(query, '&'), x -> x <> '') AS params,
                list_filter(string_split(path, '/'), x -> x <> '') AS segs,
                regexp_replace(coalesce(link_text, ''), '^[\\s\\v]+|[\\s\\v]+$', '', 'g') AS txt
              FROM l),
            r AS (
              SELECT src_domain AS domain_name,
                CASE
                  WHEN netloc = '' THEN 'no_domain'
                  WHEN regexp_matches(lower(path), '{ext_re}')
                    THEN 'excluded_extension'
                  WHEN regexp_matches(lower(href), '{pattern_re}')
                    THEN 'excluded_pattern'
                  WHEN len(params) > 10 THEN 'too_many_query_params'
                  WHEN len(list_filter(params, x -> regexp_matches(
                        lower(regexp_extract(x, '^([^=]*)', 1)),
                        '{tracking_re}'))) > 0 THEN 'tracking_parameter'
                  WHEN length(href) > 500 THEN 'url_too_long'
                  WHEN len(segs) > 8 THEN 'too_many_path_segments'
                  WHEN len(segs) > 0 AND list_contains(
                        ['api','admin','assets','static','cdn','images',
                         'img','css','js'], lower(segs[1]))
                    THEN 'non_content_path'
                  WHEN length(txt) < 2 THEN 'short_link_text'
                  WHEN list_contains(
                        ['click here','read more','learn more','continue',
                         'next','previous'], lower(txt))
                    THEN 'non_content_link_text'
                  ELSE 'kept' END AS reason
              FROM p)
            SELECT domain_name, reason, count(*) AS cnt
            FROM r GROUP BY domain_name, reason
        """,
        "q_domain_exclusion": f"""
            WITH d AS (
              SELECT DISTINCT regexp_replace(lower({netloc_x}), '^www\\.', '') AS domain
              FROM read_parquet('{FIXDIR}/link_candidates.parquet'))
            SELECT domain,
              regexp_matches(lower(domain), '{pattern_re}') AS is_excluded,
              regexp_matches(domain,
                '^[a-zA-Z0-9]([a-zA-Z0-9\\-]{{0,61}}[a-zA-Z0-9])?(\\.[a-zA-Z0-9]([a-zA-Z0-9\\-]{{0,61}}[a-zA-Z0-9])?)*$')
                AS is_valid
            FROM d WHERE domain <> ''
        """,
        "q_category_classify": f"""
            SELECT doc_id,
              {_sql_category_case("lower(substring(text, 1, 80) || '  example.com')")}
                AS category
            FROM documents
        """,
        "q_tags_derive": f"""
            WITH d AS (SELECT domain, string_split(domain, '.') AS parts
                       FROM read_parquet('{FIXDIR}/dns.parquet'))
            SELECT domain,
              array_to_string(list_sort(list_distinct(
                ['kw1', 'kw2']
                || (CASE WHEN len(parts) > 2 THEN [parts[1]] ELSE [] END)
                || (CASE WHEN len(parts) >= 2 THEN [parts[-2]] ELSE [] END)
                || [parts[-1]] || ['misc'])), ',') AS tags_csv
            FROM d
        """,
        "q_frontier_claim": f"""
            SELECT claim_rank, url, domain_name, priority, depth FROM (
              SELECT *, row_number() OVER (
                ORDER BY priority DESC, discovery_seq ASC, url ASC) AS claim_rank
              FROM read_parquet('{FIXDIR}/frontier_seed.parquet')
              WHERE status = 'pending') t
            WHERE claim_rank <= 10
        """,
        "q_frontier_merge": f"""
            -- incumbent keeps status/error; priority=GREATEST, depth=LEAST,
            -- seq=LEAST; urls only in the new batch insert whole
            WITH base AS (
              SELECT * FROM read_parquet('{FIXDIR}/frontier_seed.parquet'))
            SELECT url, priority + 2 AS priority, depth,
                   status, error_message, discovery_seq
            FROM base
            UNION ALL
            SELECT url || '?fresh', priority + 2, depth + 1,
                   'dup-status', 'dup-err', discovery_seq + 10000
            FROM base
        """,
        "q_archive_split": """
            WITH m AS (
              SELECT (event_id % 7 + 1)::INT AS iteration, event_id
              FROM events WHERE event_id < 2000)
            SELECT CASE WHEN iteration <= 7 - 3 THEN 'archived'
                        ELSE 'kept' END AS bucket,
                   iteration, count(*) AS cnt, min(event_id) AS min_event
            FROM m GROUP BY 1, 2
        """,
        "q_backfill_merge": f"""
            WITH d AS (SELECT domain FROM read_parquet('{FIXDIR}/dns.parquet')),
            n AS (SELECT domain AS domain_name,
                    CASE WHEN substring(md5(domain), 1, 1) < '8'
                         THEN 'KeepMe' END AS reg0,
                    CASE WHEN len(string_split(domain, '.')) > 2
                         THEN array_to_string(string_split(domain, '.')[-2:], '.')
                         ELSE domain END AS main_domain
                  FROM d),
            w AS (SELECT domain,
                    coalesce(try_strptime(created_date_raw, '%Y-%m-%d'),
                             try_strptime(created_date_raw, '%Y-%m-%d %H:%M:%S'),
                             try_strptime(created_date_raw, '%d-%b-%Y'))::date AS wc,
                    coalesce(try_strptime(expiry_date_raw, '%Y-%m-%d'),
                             try_strptime(expiry_date_raw, '%Y-%m-%d %H:%M:%S'),
                             try_strptime(expiry_date_raw, '%d-%b-%Y'))::date AS we,
                    registrar AS wr
                  FROM read_parquet('{FIXDIR}/whois.parquet')),
            preg AS (SELECT domain AS main_domain,
                       CASE WHEN substring(md5(domain), 1, 1) < '8'
                            THEN 'KeepMe' END AS parent_reg
                     FROM d),
            dn AS (SELECT domain, nameservers, ip_address, asn
                   FROM read_parquet('{FIXDIR}/dns.parquet'))
            SELECT n.domain_name,
              CASE WHEN n.domain_name = n.main_domain THEN w.wc END
                AS created_date,
              CASE WHEN n.domain_name = n.main_domain THEN w.we END
                AS expiry_date,
              coalesce(n.reg0,
                CASE WHEN n.domain_name = n.main_domain THEN w.wr
                     ELSE p.parent_reg END) AS registrar,
              coalesce(array_to_string(
                CASE WHEN own.nameservers IS NOT NULL THEN own.nameservers
                     WHEN n.domain_name <> n.main_domain THEN par.nameservers
                     END, ','), '') AS nameservers_csv,
              coalesce(s.ssl_valid, false) AS ssl_valid,
              g.country, own.ip_address, own.asn
            FROM n
            LEFT JOIN w ON w.domain = n.main_domain
            LEFT JOIN preg p ON p.main_domain = n.main_domain
            LEFT JOIN dn own ON own.domain = n.domain_name
            LEFT JOIN dn par ON par.domain = n.main_domain
            LEFT JOIN read_parquet('{FIXDIR}/ssl.parquet') s
              ON s.domain = n.domain_name
            LEFT JOIN read_parquet('{FIXDIR}/geo.parquet') g
              ON g.ip_address = own.ip_address
        """,
        # goldens: produced by the SEQUENTIAL implementations (htmlx
        # one-page extraction / the pyref reference oracle) via
        # scripts/make_goldens.py — generated once, committed, never at
        # check time; the hash compare pins the Spark dataflow against
        # the sequential semantics (same strategy as the hand-computed
        # goldens in tests/test_semantics_core.py).
        "q_backfill_web": f"""
            WITH d AS (SELECT domain FROM read_parquet('{FIXDIR}/dns.parquet')),
            n AS (SELECT domain AS domain_name,
                    CASE WHEN substring(md5(domain), 1, 1) < '8'
                         THEN 'KeepTitle' END AS t0
                  FROM d),
            g AS (SELECT url, title, description, favicon_url
                  FROM read_parquet('{FIXDIR}/golden_extract_meta.parquet'))
            SELECT n.domain_name,
              coalesce(n.t0, g.title) AS title,
              g.description AS description,
              g.favicon_url AS favicon_url
            FROM n LEFT JOIN g ON g.url = 'http://' || n.domain_name
        """,
        "q_crawl_edges": f"""
            SELECT src_domain, dst_domain, relationship_type,
                   link_text, link_url
            FROM read_parquet('{FIXDIR}/golden_crawl_edges.parquet')
        """,
        "q_screenshot_manifest": f"""
            SELECT domain AS domain_name,
              'png' AS format,
              (length(domain) % 8 + 4)::INT AS width,
              (ascii(substring(domain, 1, 1)) % 8 + 4)::INT AS height,
              true AS ok
            FROM read_parquet('{FIXDIR}/dns.parquet')
        """,
        "q_extract_text": f"""
            SELECT url, title, description, favicon_url, meta_keywords, text
            FROM read_parquet('{FIXDIR}/golden_extract_meta.parquet')
        """,
        "q_robots_decisions": f"""
            SELECT domain, allowed
            FROM read_parquet('{FIXDIR}/golden_robots_decisions.parquet')
        """,
        "q_queue_stats": f"""
            SELECT status, priority, count(*) AS cnt,
                   min(discovery_seq) AS min_seq, max(discovery_seq) AS max_seq
            FROM read_parquet('{FIXDIR}/frontier_seed.parquet')
            GROUP BY status, priority
        """,
        "q_url_canonicalize": f"""
            WITH p AS (
              SELECT url,
                regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS scheme,
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS netloc,
                regexp_replace(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  ';[^/]*$', '') AS path
              FROM read_parquet('{FIXDIR}/raw_urls.parquet'))
            SELECT url,
              CASE WHEN length(scheme || '://' || netloc || path) > 1
                        AND (scheme || '://' || netloc || path) LIKE '%/'
                   THEN regexp_replace(scheme || '://' || netloc || path, '/+$', '')
                   ELSE scheme || '://' || netloc || path END AS clean_url,
              regexp_replace(lower(netloc), '^www\\.', '') AS domain
            FROM p
        """,
        "q_naive_main_domain": f"""
            SELECT domain,
              CASE WHEN len(string_split(domain, '.')) > 2
                   THEN array_to_string(string_split(domain, '.')[-2:], '.')
                   ELSE domain END AS main_domain,
              len(string_split(domain, '.')) > 2 AS is_subdomain
            FROM read_parquet('{FIXDIR}/dns.parquet')
        """,
        "q_whois_dates": f"""
            SELECT domain,
              coalesce(try_strptime(created_date_raw, '%Y-%m-%d'),
                       try_strptime(created_date_raw, '%Y-%m-%d %H:%M:%S'),
                       try_strptime(created_date_raw, '%d-%b-%Y'))::date AS created_date,
              coalesce(try_strptime(expiry_date_raw, '%Y-%m-%d'),
                       try_strptime(expiry_date_raw, '%Y-%m-%d %H:%M:%S'),
                       try_strptime(expiry_date_raw, '%d-%b-%Y'))::date AS expiry_date,
              registrar
            FROM read_parquet('{FIXDIR}/whois.parquet')
        """,
        "q_ssl_join": f"""
            WITH doms AS (
              SELECT domain FROM read_parquet('{FIXDIR}/dns.parquet')
              UNION ALL
              SELECT 'missing-' || i || '.example' FROM range(5) t(i))
            SELECT d.domain AS domain_name,
              coalesce(s.ssl_valid, false) AS ssl_valid,
              s.ssl_expiry
            FROM doms d
            LEFT JOIN read_parquet('{FIXDIR}/ssl.parquet') s
              ON d.domain = s.domain
        """,
        "q_geo_join": f"""
            WITH doms AS (
              SELECT domain FROM read_parquet('{FIXDIR}/dns.parquet')
              UNION ALL
              SELECT 'missing-' || i || '.example' FROM range(5) t(i))
            SELECT d.domain AS domain_name, n.ip_address,
              round(g.latitude::double, 6) AS latitude,
              round(g.longitude::double, 6) AS longitude,
              g.country
            FROM doms d
            LEFT JOIN read_parquet('{FIXDIR}/dns.parquet') n
              ON d.domain = n.domain
            LEFT JOIN read_parquet('{FIXDIR}/geo.parquet') g
              ON n.ip_address = g.ip_address
        """,
        "q_dns_parent_fallback": f"""
            WITH d AS (
              SELECT domain,
                CASE WHEN len(string_split(domain, '.')) > 2
                     THEN array_to_string(string_split(domain, '.')[-2:], '.')
                     ELSE domain END AS main_domain,
                nameservers
              FROM read_parquet('{FIXDIR}/dns.parquet'))
            SELECT d.domain,
              coalesce(array_to_string(
                coalesce(coalesce(d.nameservers, p.nameservers), []), ','), '')
                AS nameservers_csv
            FROM d LEFT JOIN read_parquet('{FIXDIR}/dns.parquet') p
              ON d.main_domain = p.domain
        """,
        "q_redirect_classify": f"""
            WITH r AS (
              SELECT url, final_url, status_code,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS oscheme,
                regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') AS od,
                lower(regexp_extract(coalesce(final_url,''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS fscheme,
                regexp_replace(lower(regexp_extract(coalesce(final_url,''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') AS fd
              FROM read_parquet('{FIXDIR}/redirects.parquet'))
            SELECT url, final_url, status_code, fd AS final_domain,
              (status_code >= 300 AND status_code < 400 AND fd <> '' AND fd <> od
               AND NOT (fd = od AND oscheme <> fscheme)) AS is_redirect
            FROM r
        """,
        "q_per_page_caps": f"""
            WITH l AS (
              SELECT src_domain, pos, href,
                regexp_replace(lower(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') AS target_domain
              FROM read_parquet('{FIXDIR}/link_candidates.parquet')),
            f AS (SELECT * FROM l WHERE target_domain <> ''),
            d AS (SELECT *, row_number() OVER (
                    PARTITION BY src_domain, target_domain ORDER BY pos) AS rn FROM f),
            c AS (SELECT src_domain, pos, target_domain, row_number() OVER (
                    PARTITION BY src_domain ORDER BY pos) AS cap_rank
                  FROM d WHERE rn = 1)
            SELECT src_domain, cap_rank, pos, target_domain FROM c
            WHERE cap_rank <= 12
        """,
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 4) AS sum_qty,
              round(sum(l_extendedprice), 4) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
              count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_revenue_by_nation": """
            SELECT n_name,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
              count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q_top_events_per_user": """
            SELECT user_id, rnk, event_id, event_type, round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rnk
                  FROM events) t
            WHERE rnk <= 3
        """,
        "q_events_hourly": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q_dedup_exact": """
            WITH n AS (
              SELECT doc_id,
                md5(lower(trim(regexp_replace(coalesce(text, ''), '[\\s\\v]+', ' ', 'g')))) AS content_hash
              FROM documents)
            SELECT doc_id, content_hash,
              count(*) OVER (PARTITION BY content_hash) AS group_size,
              doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS is_survivor
            FROM n
        """,
        "q_text_metrics": """
            WITH t AS (
              SELECT doc_id, text, coalesce(text, '') AS txt,
                list_filter(regexp_split_to_array(coalesce(text, ''),
                                                  '[\\s\\v]+'),
                            x -> x <> '') AS toks
              FROM documents)
            SELECT doc_id,
              len(toks) AS n_tokens,
              round(CASE WHEN len(toks) > 0 THEN
                len(list_filter(toks, x -> list_contains(
                  ['the','and','of','to','in','is','that','for','with','are'],
                  lower(x))))::double / len(toks) ELSE 0.0 END, 6) AS stopword_ratio,
              round(CASE WHEN length(txt) > 0 THEN
                length(regexp_replace(txt, '[^.,;:!?''"()\\[\\]{}-]', '', 'g'))::double
                  / length(txt) ELSE 0.0 END, 6) AS punct_ratio,
              length(text) AS n_chars
            FROM t
        """,
        "q_winnow_fingerprints": """
            WITH t AS (
              SELECT doc_id,
                lower(trim(regexp_replace(coalesce(text, ''),
                                          '[\\s\\v]+', ' ', 'g'))) AS norm
              FROM documents WHERE doc_id < 100),
            g AS (
              SELECT doc_id,
                CASE WHEN length(norm) - 4 >= 1 THEN
                  list_transform(range(1, length(norm) - 4 + 1), i ->
                    ('0x' || substring(md5(substring(norm, i, 5)), 1, 15))
                    ::UBIGINT::BIGINT)
                ELSE [] END AS hashes
              FROM t),
            w AS (
              SELECT doc_id,
                CASE WHEN len(hashes) - 3 >= 1 THEN
                  list_sort(list_distinct(
                    list_transform(range(1, len(hashes) - 3 + 1), j ->
                      list_min(hashes[j:j+3]))))
                ELSE [] END AS fingerprints
              FROM g)
            SELECT doc_id,
              unnest(list_transform(range(1, len(fingerprints) + 1),
                                    j -> j - 1)) AS pos,
              unnest(fingerprints) AS fingerprint
            FROM w
        """,
        "q_media_features": """
            SELECT doc_id AS media_id,
              CASE WHEN doc_id % 3 = 0 THEN 'image'
                   WHEN doc_id % 3 = 1 THEN 'audio'
                   ELSE 'video' END AS media_type,
              CASE WHEN doc_id % 3 = 0 THEN 'png'
                   WHEN doc_id % 3 = 1 THEN 'wav' END AS format,
              (CASE WHEN doc_id % 3 = 0 THEN doc_id % 16 + 1 END)::INT
                AS width,
              (CASE WHEN doc_id % 3 = 0 THEN (doc_id // 16) % 16 + 1 END)::INT
                AS height,
              (CASE WHEN doc_id % 3 = 1 THEN doc_id % 50 + 1 END)::INT
                AS duration_ms,
              8::INT AS feature_dim,
              doc_id % 3 < 2 AS decode_ok
            FROM documents WHERE doc_id < 100
        """,
        "q_word_jaccard": """
            WITH docs AS (
              SELECT doc_id,
                list_distinct(list_filter(regexp_split_to_array(
                  lower(trim(regexp_replace(coalesce(text, ''), '[\\s\\v]+', ' ', 'g'))),
                  ' '), x -> x <> '')) AS words
              FROM documents WHERE doc_id < 100)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              round(CASE WHEN len(list_distinct(a.words || b.words)) > 0 THEN
                (len(a.words) + len(b.words)
                 - len(list_distinct(a.words || b.words)))::double
                / len(list_distinct(a.words || b.words)) ELSE 0.0 END, 6) AS jaccard
            FROM docs a JOIN docs b ON a.doc_id < b.doc_id
            WHERE round(CASE WHEN len(list_distinct(a.words || b.words)) > 0 THEN
                (len(a.words) + len(b.words)
                 - len(list_distinct(a.words || b.words)))::double
                / len(list_distinct(a.words || b.words)) ELSE 0.0 END, 6) >= 0.3
        """,
        "q_embedding_neardup": """
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
              round(list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]), 6) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                               b.embedding::DOUBLE[]), 6) >= 0.3
        """,
        "q_sessionize": """
            WITH e AS (
              SELECT user_id, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                          >= INTERVAL 30 MINUTE OR
                          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS new_session
              FROM events WHERE user_id < 200),
            s AS (
              SELECT user_id, ts,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM e)
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "q_minhash_lsh": _sql_minhash_lsh("doc_id < 200", n_hashes=16,
                                          bands=8, shingle_n=2, thr=0.2,
                                          max_bucket=1000),
        "q_simhash": _sql_simhash("doc_id < 200", shingle_n=2, band_bits=15,
                                  max_hamming=16),
        "q_ann_lsh": _sql_ann_lsh(dim=64, n_planes=4, k=5),
        "q_embedding_neardup_lsh": _sql_embedding_neardup_lsh(
            dim=64, n_planes=4, thr=0.3),
        "q_ann_ivf": _sql_ann_ivf(n_cells=8, nprobe=3, k=5),
        "q_psl_registrable": _sql_psl(netloc_x),
        "q_whois_text_extract": _sql_whois_text(),
        "q_asn_parse": f"""
            WITH d AS (
              SELECT domain,
                CASE WHEN substring(md5(domain),1,1) < '4'
                       THEN coalesce(asn,'AS0') || ' ' ||
                            coalesce(asn_description,'Example Net')
                     WHEN substring(md5(domain),1,1) < '8'
                       THEN '  ' || coalesce(asn,'AS0') || '   ' ||
                            coalesce(asn_description,'Example Net')
                     WHEN substring(md5(domain),1,1) < 'a'
                       THEN coalesce(asn,'AS0')
                     WHEN substring(md5(domain),1,1) < 'd' THEN ''
                     ELSE '   ' END AS org
              FROM read_parquet('{FIXDIR}/dns.parquet'))
            SELECT domain, org, {_sql_asn_fields("org")}
            FROM d
        """,
        "q_lang_quality": _sql_lang_quality(),
        "q_ann_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
            s AS (
              SELECT query_id, neighbor_id,
                round(list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]), 6) AS cosine
              FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
            r AS (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
            SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
        """,
    }
