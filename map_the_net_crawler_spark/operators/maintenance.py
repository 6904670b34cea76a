"""Maintenance operators (SURVEY.md §2.10) — the reference's admin
scripts re-expressed as dataflow:

- purge_ugc: cleanup_ugc_domains.py:22-26 (patterns) + :322-344
  (relationships → queue → domains deletion order) as anti-filters over
  the snapshot tables.
- archive_metrics: archive_collection_logs.py:90-143 — age filter →
  CSV export → delete (S14 sink + C10 cutoff arithmetic).
- backfill_missing: fill_missing_domain_data.py:85-164 — null-field
  scan → re-run the enrichment joins → last-writer-wins merge.
- reset_stuck / wipe: database.py:613-661 stuck recovery is a
  documented no-op here (atomic snapshot commits make 'processing'
  states unrepresentable); wipe = overwrite-with-empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.filters import domain_excluded
from ..storage import empty_frame


def ugc_purge_candidates(nodes: DataFrame) -> DataFrame:
    """Domains matching the exclusion patterns (the reference applies the
    same compiled regex list it crawls with, cleanup_ugc_domains.py:22-26)."""
    return nodes.filter(domain_excluded(F.col("domain_name"))) \
                .select("domain_name")


def purge_ugc(nodes: DataFrame, edges: DataFrame,
              frontier: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deletion in reference order relationships → queue → domains
    (cleanup_ugc_domains.py:322-344) as anti-joins; returns the purged
    (nodes, edges, frontier)."""
    bad = ugc_purge_candidates(nodes)
    edges2 = (edges
              .join(bad.withColumnRenamed("domain_name", "src_domain"),
                    "src_domain", "left_anti")
              .join(bad.withColumnRenamed("domain_name", "dst_domain"),
                    "dst_domain", "left_anti"))
    frontier2 = frontier.join(bad, "domain_name", "left_anti")
    nodes2 = nodes.join(bad, "domain_name", "left_anti")
    return nodes2, edges2, frontier2


def archive_metrics(metrics: DataFrame, max_iteration_age: int,
                    current_iteration: int, csv_path: str | None = None
                    ) -> tuple[DataFrame, DataFrame]:
    """Split metrics into (kept, archived) by iteration age — the
    deterministic stand-in for the reference's date cutoff
    (archive_collection_logs.py:90-99); optionally export CSV (S14,
    :119-143)."""
    cutoff = current_iteration - max_iteration_age
    old = metrics.filter(F.col("iteration") <= cutoff)
    kept = metrics.filter(F.col("iteration") > cutoff)
    if csv_path:
        old.orderBy("iteration", "domain_name") \
           .write.mode("overwrite").option("header", True).csv(csv_path)
    return kept, old


def log_statistics(metrics: DataFrame) -> DataFrame:
    """A3 (archive_collection_logs.py:35-64): counts by status + top
    agents."""
    return (metrics.groupBy("status", "agent_name")
            .agg(F.count("*").alias("cnt"),
                 F.min("iteration").alias("min_iteration"),
                 F.max("iteration").alias("max_iteration"))
            .orderBy(F.col("cnt").desc(), "status", "agent_name"))


def missing_field_nodes(nodes: DataFrame, fields: list[str]) -> DataFrame:
    """fill_missing_domain_data.py:85-118: nodes with any of the given
    fields NULL, ordered by domain_name (W6, :50)."""
    cond = None
    for f in fields:
        c = F.col(f).isNull()
        cond = c if cond is None else (cond | c)
    return nodes.filter(cond).orderBy("domain_name")


# the dimension-backed fields backfill re-collects
# (fill_missing_domain_data.py:120-155 WHOIS/DNS/SSL/geo groups)
BACKFILL_FIELDS = ("created_date", "expiry_date", "registrar",
                   "nameservers", "asn", "asn_description", "ssl_valid",
                   "ssl_expiry", "country", "ip_address",
                   "latitude", "longitude")

# the web-data group (_collect_web_data, fill_missing_domain_data.py:127-131)
# — re-fetched from the pages snapshot through the extract UDF
WEB_BACKFILL_FIELDS = ("title", "description", "favicon_url")


def backfill_missing(nodes: DataFrame, whois: DataFrame, dns: DataFrame,
                     ssl: DataFrame, geo: DataFrame,
                     pages: DataFrame | None = None) -> DataFrame:
    """fill_missing_domain_data.py:85-164 as one dataflow: null-field
    scan → re-run the enrichment joins (operators/enrich.enrich_batch,
    the same S4-S7 sources) → non-null-wins merge into nodes
    (COALESCE(existing, collected) per field).  When a ``pages``
    snapshot is given, the web-data group (title/description/favicon —
    _collect_web_data via page re-fetch, :127-131) is re-derived too:
    null-web-field nodes join the pages snapshot on the root URL and go
    through the same Arrow extract UDF the crawl uses, so a backfilled
    title is byte-identical to a crawled one.

    Non-null-wins is the sane snapshot restatement: the reference's
    literal ``insert_domain`` ON DUPLICATE overwrite (database.py:199-218)
    applied to the partially-populated ``collected_data`` dict would null
    out fields it did not re-collect; its *intent* (only fill what is
    missing, :85-118) is the merge implemented here."""
    from .enrich import enrich_batch
    todo = missing_field_nodes(nodes, list(BACKFILL_FIELDS)) \
        .select("domain_name", F.lit(0).alias("batch_rank"))
    # small_batch=False: the backfill todo set can be a large fraction
    # of the nodes table — join strategy is left to Catalyst/AQE
    collected = enrich_batch(todo, whois, dns, ssl, geo, nodes,
                             small_batch=False).select(
        "domain_name", *[F.col(f).alias(f"_new_{f}") for f in BACKFILL_FIELDS])
    out = nodes.join(collected, "domain_name", "left")
    for f in BACKFILL_FIELDS:
        out = out.withColumn(f, F.coalesce(F.col(f), F.col(f"_new_{f}")))
    out = out.drop(*[f"_new_{f}" for f in BACKFILL_FIELDS])

    if pages is not None:
        from ..functions.extract import extract_pages
        web_todo = (missing_field_nodes(nodes, list(WEB_BACKFILL_FIELDS))
                    .select("domain_name",
                            F.concat(F.lit("http://"),
                                     F.col("domain_name")).alias("url")))
        # equi-join on url (shuffle both sides; the todo set is a
        # fraction of nodes and pages is the big fact — let AQE pick the
        # physical join), inner: a miss collects nothing, exactly the
        # reference's failed-fetch path
        fetched = web_todo.join(pages.select("url", "html"), "url", "inner")
        web_meta = (extract_pages(fetched)
                    .filter((F.col("link_pos") == -1) & F.col("fetch_ok"))
                    .select("domain_name",
                            *[F.col(f).alias(f"_new_{f}")
                              for f in WEB_BACKFILL_FIELDS]))
        out = out.join(web_meta, "domain_name", "left")
        for f in WEB_BACKFILL_FIELDS:
            out = out.withColumn(f, F.coalesce(F.col(f), F.col(f"_new_{f}")))
        out = out.drop(*[f"_new_{f}" for f in WEB_BACKFILL_FIELDS])
    return out


def wipe(spark, schema) -> DataFrame:
    """wipe_database.py:33-53 — overwrite with empty."""
    return empty_frame(spark, schema)
