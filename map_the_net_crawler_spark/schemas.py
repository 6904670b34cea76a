"""Spark schemas for every engine table (SURVEY.md §1).

The reference's MySQL DDL (database.py:39-169) maps to:
- surrogate INT AUTO_INCREMENT ids -> content-derived ``xxhash64`` ids
  (deterministic across runs/parallelism; SURVEY.md §1.2)
- TEXT JSON-arrays -> native ArrayType
- ENUM status/type -> StringType
- wall-clock audit TIMESTAMPs -> deterministic ``discovery_ts`` derived
  from (iteration, insertion order), never ``current_timestamp()``
  (SURVEY.md §7.3 hard part 1).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Common-Crawl-style pages snapshot (BASELINE.json input_hint) — the
# "fetch" source; the reference always fetches the domain ROOT page
# (url = f"http://{domain_name}", domain_collector.py:944-948), so the
# fetch join is keyed by 'http://' || domain.
PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# Frontier (reference discovery_queue, database.py:100-121).  Status
# transitions are snapshot appends, not row mutation.  'status' values:
# pending / completed / failed / skipped ('processing' does not exist in
# the batch model — a claim either commits with its results or never
# happened; SURVEY.md §2.9 exactly-once).
FRONTIER = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("domain_name", T.StringType(), False),
    T.StructField("source_domain", T.StringType(), True),
    T.StructField("priority", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("discovery_seq", T.LongType(), False),   # insertion order (MySQL id analogue)
    T.StructField("discovery_ts", T.TimestampType(), False),
    T.StructField("depth", T.IntegerType(), False),
    T.StructField("error_message", T.StringType(), True),
    T.StructField("processed_iteration", T.IntegerType(), True),
])

# URL-seen set (reference url_processing_history, database.py:142-155).
SEEN = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("domain_name", T.StringType(), False),
    T.StructField("status", T.StringType(), False),        # success/failed/skipped
    T.StructField("links_found", T.IntegerType(), False),
    T.StructField("processed_iteration", T.IntegerType(), False),
])

# Domain-graph nodes (reference domains, database.py:49-79).
NODES = T.StructType([
    T.StructField("domain_id", T.LongType(), False),        # xxhash64(domain_name)
    T.StructField("domain_name", T.StringType(), False),
    T.StructField("title", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("favicon_url", T.StringType(), True),
    T.StructField("created_date", T.DateType(), True),
    T.StructField("expiry_date", T.DateType(), True),
    T.StructField("registrar", T.StringType(), True),
    T.StructField("nameservers", T.ArrayType(T.StringType()), True),
    T.StructField("asn", T.StringType(), True),
    T.StructField("asn_description", T.StringType(), True),
    T.StructField("ssl_valid", T.BooleanType(), True),
    T.StructField("ssl_expiry", T.DateType(), True),
    T.StructField("country", T.StringType(), True),
    T.StructField("ip_address", T.StringType(), True),
    T.StructField("latitude", T.DecimalType(10, 8), True),
    T.StructField("longitude", T.DecimalType(11, 8), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("tags", T.ArrayType(T.StringType()), True),
    T.StructField("updated_iteration", T.IntegerType(), True),
])

# Domain-graph edges (reference relationships, database.py:82-98);
# unique on (src_domain, dst_domain, relationship_type) (database.py:93).
EDGES = T.StructType([
    T.StructField("src_domain", T.StringType(), False),
    T.StructField("dst_domain", T.StringType(), False),
    T.StructField("relationship_type", T.StringType(), False),  # link/redirect/subdomain/related
    T.StructField("link_text", T.StringType(), True),
    T.StructField("link_url", T.StringType(), True),
    T.StructField("updated_iteration", T.IntegerType(), True),
])

# Per-iteration metrics / lineage (reference collection_logs,
# database.py:124-139, vectorized to per-iteration-per-domain rows).
METRICS = T.StructType([
    T.StructField("iteration", T.IntegerType(), False),
    T.StructField("domain_name", T.StringType(), False),
    T.StructField("url", T.StringType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("relationships_found", T.IntegerType(), True),
    T.StructField("urls_discovered", T.IntegerType(), True),
    T.StructField("error_message", T.StringType(), True),
    # wall-clock in the reference (DECIMAL(10,3), database.py:132); the
    # engine writes a deterministic work-units stand-in with the same
    # type and rounding (C11)
    T.StructField("processing_time", T.DecimalType(10, 3), True),
    T.StructField("agent_name", T.StringType(), True),
])

# robots.txt fixture table (reference live fetch: domain_collector.py:1537-1564)
ROBOTS = T.StructType([
    T.StructField("domain", T.StringType(), False),
    T.StructField("status_code", T.IntegerType(), False),
    T.StructField("body", T.StringType(), True),
])

# HEAD-redirect resolution snapshot (reference live probe:
# domain_collector.py:1088-1135)
REDIRECTS = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("final_url", T.StringType(), True),
    T.StructField("status_code", T.IntegerType(), True),
])

# Enrichment dimensions (reference network sources S4-S7)
WHOIS = T.StructType([
    T.StructField("domain", T.StringType(), False),
    T.StructField("created_date_raw", T.StringType(), True),
    T.StructField("expiry_date_raw", T.StringType(), True),
    T.StructField("registrar", T.StringType(), True),
])
DNS = T.StructType([
    T.StructField("domain", T.StringType(), False),
    T.StructField("nameservers", T.ArrayType(T.StringType()), True),
    T.StructField("ip_address", T.StringType(), True),
    T.StructField("asn", T.StringType(), True),
    T.StructField("asn_description", T.StringType(), True),
])
SSL = T.StructType([
    T.StructField("domain", T.StringType(), False),
    T.StructField("ssl_valid", T.BooleanType(), True),
    T.StructField("ssl_expiry", T.DateType(), True),
])
GEO = T.StructType([
    T.StructField("ip_address", T.StringType(), False),
    T.StructField("latitude", T.DecimalType(10, 8), True),
    T.StructField("longitude", T.DecimalType(11, 8), True),
    T.StructField("country", T.StringType(), True),
    T.StructField("city", T.StringType(), True),
])

# Rows emitted by the extract UDF (functions/extract.py): page-level
# metadata once per fetched page (link_pos = -1, with the node row's
# category/tags) plus one row per <a href> (with its C4 is_sub flag).
EXTRACTED = T.StructType([
    T.StructField("url", T.StringType(), False),             # root page url
    T.StructField("domain_name", T.StringType(), False),
    T.StructField("title", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("favicon_url", T.StringType(), True),
    T.StructField("meta_keywords", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("link_pos", T.IntegerType(), False),
    T.StructField("href", T.StringType(), True),
    T.StructField("link_text", T.StringType(), True),
    # urlparse fields computed inside the UDF (Python-identical parsing)
    T.StructField("href_scheme", T.StringType(), True),
    T.StructField("href_netloc", T.StringType(), True),
    T.StructField("target_domain", T.StringType(), True),    # lowercased, www-stripped
    T.StructField("href_path", T.StringType(), True),
    T.StructField("href_query", T.StringType(), True),
    T.StructField("n_query_params", T.IntegerType(), True),
    T.StructField("param_names", T.ArrayType(T.StringType()), True),
    T.StructField("clean_url", T.StringType(), True),
    # Python-side rules fused into the same pass: C4 subdomain typing on
    # link rows, C6-C7 category/tags (robots/fetch-masked) on metadata rows
    T.StructField("is_sub", T.BooleanType(), True),
    T.StructField("category", T.StringType(), True),
    T.StructField("tags", T.ArrayType(T.StringType()), True),
])
