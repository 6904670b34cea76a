"""The per-page link pipeline (SURVEY.md §2.2 F1-F10, §2.5 W2-W3,
§2.6 D2-D3, §2.7 C4-C5, §2.3 J6) — reference
``_collect_relationships_and_discover`` (domain_collector.py:921-1303)
re-expressed as Column filters + windows over the extract UDF's link rows.

Loop-order fidelity (see oracle/pyref.py for the sequential statement):
  per page, per direction (internal first, then external):
    cap-break  -> row_number over surviving rows in document order <= cap
    dedup      -> first occurrence per key (clean_url internal /
                  target_domain external) in document order
    quota gate -> target-domain history count with within-batch visibility
    domain gate-> excluded-pattern match on target domain
    redirect   -> HEAD snapshot join; excluded final domain drops the row
The reference adds dedup keys BEFORE the gates and counts toward the cap
only AFTER them, so the window order here is: dedup first, gates next,
cap rank last over survivors — provably the same surviving set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions import classify as C
from ..functions import filters as X


def link_survives() -> "F.Column":
    """The F1-F10 + netloc/format survival test as ONE boolean Column
    over the standard link-row columns — the single source of truth for
    link survival, used by filter_links AND precomputed into the
    iteration's extract snapshot (plans/iteration.py `_link_ok`), so
    the two paths cannot drift."""
    reason = X.url_exclusion_reason(
        F.col("href"), F.col("link_text"), F.col("href_netloc"),
        F.col("href_path"), F.col("n_query_params"), F.col("param_names"))
    return (reason.isNull()
            & (F.col("target_domain") != "")
            & X.domain_format_valid(F.col("target_domain")))


def filter_links(links: DataFrame) -> DataFrame:
    """F1-F10 + netloc/validity re-checks (domain_collector.py:979-998)."""
    return links.filter(link_survives())


def link_exclusion_stats(links: DataFrame) -> DataFrame:
    """Per-page excluded counts by reason (metrics surface, A5)."""
    reason = X.url_exclusion_reason(
        F.col("href"), F.col("link_text"), F.col("href_netloc"),
        F.col("href_path"), F.col("n_query_params"), F.col("param_names"))
    return (links.withColumn("reason", reason)
            .groupBy("domain_name", "reason").agg(F.count("*").alias("cnt")))


def build_relationships(valid_links: DataFrame, redirects: DataFrame,
                        seen_counts: DataFrame, processed_domains: DataFrame,
                        cfg: CrawlConfig) -> DataFrame:
    """Dedup → gates → typing → caps.  Input rows carry:
    (domain_name, claim_rank, src_depth, link_pos, href, link_text,
     href_scheme, target_domain, clean_url, is_sub) — ``is_sub`` is the
    C4 subdomain predicate the extract pass computed per link row, so
    the plan runs no Python (PSL lookups included).

    Output: one row per surviving link with relationship_type,
    redirect_final_domain (nullable), is_internal.
    """
    df = valid_links.withColumn(
        "is_internal", F.col("target_domain") == F.col("domain_name"))

    # D2/D3 dedup, first occurrence in document order (:1045-1051, 1183-1186)
    dedup_key = F.when(F.col("is_internal"), F.col("clean_url")) \
                 .otherwise(F.col("target_domain"))
    w_dedup = (Window.partitionBy("domain_name", "is_internal", dedup_key)
               .orderBy("link_pos"))
    df = (df.withColumn("_dup_rn", F.row_number().over(w_dedup))
          .filter(F.col("_dup_rn") == 1).drop("_dup_rn"))

    # F12 quota on the target domain with within-batch sequential visibility
    # (an earlier-rank processed domain added its single history row)
    hist = (processed_domains
            .filter(F.col("records_history"))
            .select(F.col("domain_name").alias("target_domain"),
                    F.col("batch_rank").alias("_hist_rank")))
    df = (df
          .join(F.broadcast(seen_counts.withColumnRenamed("domain_name",
                                                          "target_domain")),
                "target_domain", "left")
          .join(F.broadcast(hist), "target_domain", "left")
          .withColumn("seen_cnt", F.coalesce(F.col("seen_cnt"), F.lit(0)))
          .withColumn(
              "_eff_cnt",
              F.col("seen_cnt")
              + F.when(F.col("_hist_rank").isNotNull()
                       & (F.col("_hist_rank") < F.col("claim_rank"))
                       & (F.col("seen_cnt") == 0), 1).otherwise(0))
          .filter(F.col("_eff_cnt") < cfg.max_urls_per_domain)
          .drop("seen_cnt", "_hist_rank", "_eff_cnt"))

    # domain-pattern exclusion on the target (:1059-1062)
    df = df.filter(~X.domain_excluded(F.col("target_domain")))

    # C4 subdomain typing: the extract pass computed the predicate over
    # the PSL parts of both hosts (functions/extract.py)
    is_sub = F.col("is_sub")

    # J6 redirect resolution: HEAD snapshot left join on the raw href —
    # only probed when not typed subdomain (:1072-1091)
    rd = redirects.select(F.col("url").alias("href"),
                          F.col("final_url"), F.col("status_code"))
    df = df.join(F.broadcast(rd), "href", "left")
    is_redirect = (~is_sub) & C.is_redirect_rel(
        F.col("href"), F.col("href_scheme"), F.col("target_domain"),
        F.col("final_url"), F.col("status_code"))
    final_domain = C.redirect_final_domain(F.col("final_url"))

    df = (df
          .withColumn("relationship_type",
                      F.when(is_sub, F.lit("subdomain"))
                      .when(is_redirect, F.lit("redirect"))
                      .otherwise(F.lit("link")))
          .withColumn("redirect_final_domain",
                      F.when(is_redirect, final_domain)))

    # excluded redirect final domain drops the row entirely (:1110-1113)
    df = df.filter(~(F.col("redirect_final_domain").isNotNull()
                     & X.domain_excluded(F.col("redirect_final_domain"))))

    # W2/W3 caps over the SURVIVORS in document order (:1023-1026)
    w_cap = (Window.partitionBy("domain_name", "is_internal")
             .orderBy("link_pos"))
    cap = F.when(F.col("is_internal"), F.lit(cfg.max_internal_links)) \
           .otherwise(F.lit(cfg.max_external_links))
    df = (df.withColumn("_cap_rn", F.row_number().over(w_cap))
          .filter(F.col("_cap_rn") <= cap).drop("_cap_rn"))

    return df.select(
        "domain_name", "claim_rank", "src_depth", "link_pos", "href",
        "link_text", "is_internal", "target_domain", "clean_url",
        "relationship_type", "redirect_final_domain",
    )


def edges_from_relationships(rels: DataFrame, iteration: int) -> DataFrame:
    """Edge rows incl. the extra (src → final, 'redirect') edge the
    reference inserts before the main edge (:1115-1135); unique on
    (src,dst,type) with last-writer-wins attrs in batch order
    (claim_rank, link_pos) — database.py:267-310."""
    main = rels.select(
        F.col("domain_name").alias("src_domain"),
        F.col("target_domain").alias("dst_domain"),
        F.col("relationship_type"),
        "link_text", F.col("href").alias("link_url"),
        "claim_rank", "link_pos")
    extra = (rels.filter(F.col("redirect_final_domain").isNotNull()
                         & (F.col("redirect_final_domain") != F.col("target_domain")))
             .select(
                 F.col("domain_name").alias("src_domain"),
                 F.col("redirect_final_domain").alias("dst_domain"),
                 F.lit("redirect").alias("relationship_type"),
                 "link_text", F.col("href").alias("link_url"),
                 "claim_rank", "link_pos"))
    all_edges = extra.unionByName(main)   # extra inserted first per row
    w = (Window.partitionBy("src_domain", "dst_domain", "relationship_type")
         .orderBy(F.col("claim_rank").desc(), F.col("link_pos").desc()))
    return (all_edges.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("src_domain", "dst_domain", "relationship_type",
                    "link_text", "link_url",
                    F.lit(iteration).alias("updated_iteration")))


def discoveries_from_relationships(rels: DataFrame) -> DataFrame:
    """Discovered URLs: the cleaned href at depth+1 (:1151-1156 canonical
    per SURVEY.md §3.2 — cleaned URL, not parallel_collector's raw one).

    ``is_internal`` is carried because the reference enqueues each item's
    internal discoveries before its external ones (the two loops at
    :1031-1157 and :1169-1287 both append to ``discovered_urls`` in
    document order, internal loop first) — that order defines
    discovery_seq and therefore future claim order."""
    return rels.select(
        "clean_url", "target_domain",
        F.col("domain_name").alias("source_domain"),
        "src_depth", F.col("claim_rank").alias("source_rank"),
        "is_internal", "link_pos")
