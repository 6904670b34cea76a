"""Enrichment dimension joins (SURVEY.md §2.1 S4-S7, §2.3 J3-J4).

The reference's per-domain network calls (WHOIS :593-739, DNS+ASN
:741-814, SSL :816-841, geolocation :843-883) become left joins against
snapshot dimension tables.  Each dimension is first PRUNED to the
batch's own key set (one broadcast semi-join of the tiny key set into
the dim scan), then the pruned — batch-bounded — result is broadcast
into the outer join: the dim snapshots grow with the whole crawl
(10^9-domain WHOIS/DNS tables at the north-rule scale) and must never
be broadcast whole, while the ≤k-domain batch keys always can be.
Left-outer semantics force the build side to be the right/dim side
(BroadcastHashJoin BuildRight), which is why the pruning happens on
the dim rather than broadcasting the batch:

- WHOIS only applies to naive main domains (domain_collector.py:453-458,
  naive last-2-labels :226-232); subdomains copy created/expiry/registrar
  from the main domain's NODE row — visible state at item time, i.e. the
  parent's values if the parent was processed at an earlier claim rank in
  this batch, else the parent node from previous iterations (J3);
- DNS parent-NS fallback: coalesce(own NS, main-domain NS) (J4);
- SSL: missing row = handshake failure → ssl_valid=false (:839-841);
- geolocation: ip from the dns snapshot, then geo-by-ip (:843-856).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.classify import normalize_date


def _naive_main(domain: F.Column) -> F.Column:
    """Last-2-labels main domain (domain_collector.py:226-232)."""
    parts = F.split(domain, r"\.")
    return F.when(F.size(parts) > 2,
                  F.concat_ws(".", F.slice(parts, -2, 2))).otherwise(domain)




def isin_literals(key: str, values: list[str]) -> F.Column:
    """``col(key) IN (values)`` over string literals, built as ONE SQL
    expression.  ``Column.isin`` costs a JVM round trip per literal and
    per list element it ships: ~0.17 s of driver time per filter at a
    few hundred batch keys (local[4], 4-core VM).  The parsed IN list is
    the same expression (the optimizer turns either into the same
    InSet)."""
    if not values:
        return F.col(key).isin([])

    def lit(v: str | None) -> str:
        if v is None:
            return "NULL"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    name = "`" + key.replace("`", "``") + "`"
    return F.expr(f"{name} IN ({', '.join(map(lit, values))})")


def _bounded(dim: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """Prune an unbounded dimension snapshot to a batch-bounded key set
    (broadcast semi-join into the dim scan) so the subsequent broadcast
    of the dim side stays ≤ batch-sized at any corpus scale."""
    return dim.join(F.broadcast(keys.select(key).distinct()),
                    key, "left_semi")


def enrich_batch(batch: DataFrame, whois: DataFrame, dns: DataFrame,
                 ssl: DataFrame, geo: DataFrame,
                 prior_nodes: DataFrame,
                 small_batch: bool = True,
                 batch_domains: list[str] | None = None) -> DataFrame:
    """batch: (domain_name, batch_rank, ...) — adds the enrichment columns.

    prior_nodes supplies the whois-copy source for subdomains whose main
    domain is NOT in this batch at an earlier rank.

    small_batch=True (the crawl path, ≤k domains): dims are pruned to
    the batch key set and broadcast.  small_batch=False (maintenance
    backfill, where the "batch" may be a large fraction of the nodes
    table): plain equi-joins, strategy left to Catalyst/AQE — neither
    side is safely broadcastable there.

    batch_domains (small_batch only): the batch's domain_name list,
    collected once by the caller from the materialized claim.  When
    given, each dim prune becomes a LITERAL ``isin`` filter pushed into
    the dim scan instead of a broadcast semi-join — one exchange +
    key-subtree re-execution saved per dimension (VERDICT r4 item 3,
    the nodes_batch-stage fan-out).  Identical results: the semi-join
    and the in-filter keep exactly the key set's rows.
    """
    df = batch.withColumn("main_domain", _naive_main(F.col("domain_name")))
    keys_known = small_batch and batch_domains is not None
    dom_list = sorted(set(batch_domains)) if keys_known else None
    if keys_known:
        # psl.naive_main_domain is the Python twin of _naive_main
        # (pinned by tests/test_semantics_core.py::test_naive_main)
        from ..psl import naive_main_domain
        main_list = sorted({naive_main_domain(d) for d in dom_list})
    else:
        main_list = None
    main_keys = df.select("main_domain")
    dom_keys = df.select("domain_name")

    def dim(d: DataFrame, lst: list | None, keys_df: DataFrame,
            src_col: str, key: str) -> DataFrame:
        if not small_batch:
            return d
        if lst is not None:
            return d.filter(isin_literals(key, lst))
        return _bounded(d, keys_df.withColumnRenamed(src_col, key), key)

    def bc(d: DataFrame) -> DataFrame:
        return F.broadcast(d) if small_batch else d

    # --- WHOIS for main domains
    w = dim(whois, main_list, main_keys, "main_domain", "domain").select(
        F.col("domain").alias("main_domain"),
        normalize_date(F.col("created_date_raw")).alias("_w_created"),
        normalize_date(F.col("expiry_date_raw")).alias("_w_expiry"),
        F.col("registrar").alias("_w_registrar"))

    # whois-copy for subdomains: parent processed earlier in this batch
    # (the parent's visible values are exactly its own w-row) …
    batch_parents = (batch
                     .filter(F.col("domain_name")
                             == _naive_main(F.col("domain_name")))
                     .select(F.col("domain_name").alias("main_domain"),
                             F.col("batch_rank").alias("_p_rank"))
                     .join(w, "main_domain", "left")
                     .select("main_domain", "_p_rank",
                             F.col("_w_created").alias("_bp_created"),
                             F.col("_w_expiry").alias("_bp_expiry"),
                             F.col("_w_registrar").alias("_bp_registrar")))
    # … else the parent node from previous iterations (prior_nodes is
    # the FULL nodes table — prune before broadcasting)
    prior_parents = dim(
        prior_nodes, main_list, main_keys, "main_domain",
        "domain_name").select(
        F.col("domain_name").alias("main_domain"),
        F.col("created_date").alias("_pp_created"),
        F.col("expiry_date").alias("_pp_expiry"),
        F.col("registrar").alias("_pp_registrar"))
    d_parent = dim(dns, main_list, main_keys, "main_domain",
                   "domain").select(F.col("domain").alias("main_domain"),
                          F.col("nameservers").alias("_ns_parent"))
    # every main_domain-keyed dim is unique on its key, so fusing them
    # with full-outer joins and LEFT-joining df once is row-identical to
    # four successive left joins — but costs ONE broadcast exchange
    # instead of four (VERDICT r4 item 3, the nodes_batch-stage F-term)
    mains_dim = (w
                 .join(batch_parents, "main_domain", "full_outer")
                 .join(prior_parents, "main_domain", "full_outer")
                 .join(d_parent, "main_domain", "full_outer"))

    # --- DNS + ASN + SSL, both unique on domain_name — same fusion
    d_own = dim(dns, dom_list, dom_keys, "domain_name",
                "domain").select(F.col("domain").alias("domain_name"),
                       F.col("nameservers").alias("_ns_own"),
                       F.col("ip_address").alias("ip_address"),
                       F.col("asn"), F.col("asn_description"))
    # SSL: missing row == failed handshake → ssl_valid false
    s = dim(ssl, dom_list, dom_keys, "domain_name",
            "domain").select(F.col("domain").alias("domain_name"),
                   F.col("ssl_valid").alias("_ssl_valid"),
                   F.col("ssl_expiry").alias("ssl_expiry"))
    dom_dim = d_own.join(s, "domain_name", "full_outer")

    is_main = F.col("domain_name") == F.col("main_domain")
    df = (df
          .join(bc(mains_dim), "main_domain", "left")
          .join(bc(dom_dim), "domain_name", "left")
          .withColumn("_bp_visible",
                      F.col("_p_rank").isNotNull()
                      & (F.col("_p_rank") < F.col("batch_rank")))
          .withColumn("created_date",
                      F.when(is_main, F.col("_w_created"))
                      .when(F.col("_bp_visible"), F.col("_bp_created"))
                      .otherwise(F.col("_pp_created")))
          .withColumn("expiry_date",
                      F.when(is_main, F.col("_w_expiry"))
                      .when(F.col("_bp_visible"), F.col("_bp_expiry"))
                      .otherwise(F.col("_pp_expiry")))
          .withColumn("registrar",
                      F.when(is_main, F.col("_w_registrar"))
                      .when(F.col("_bp_visible"), F.col("_bp_registrar"))
                      .otherwise(F.col("_pp_registrar")))
          .withColumn("nameservers",
                      F.when(F.col("_ns_own").isNotNull(), F.col("_ns_own"))
                      .when(~is_main, F.col("_ns_parent"))
                      .otherwise(F.lit(None)))
          .withColumn("ssl_valid",
                      F.coalesce(F.col("_ssl_valid"), F.lit(False))))

    # --- geolocation by the dns-resolved ip: the key set is data-
    # dependent (resolved ips), so this prune stays a semi-join — but
    # its keys side is now the isin-filtered dns scan, not a join tree
    g = (_bounded(geo, d_own.select("ip_address"), "ip_address")
         if small_batch else geo) \
        .select(F.col("ip_address"),
                   F.col("latitude"), F.col("longitude"), F.col("country"))
    df = df.join(bc(g), "ip_address", "left")

    return df.drop("_w_created", "_w_expiry", "_w_registrar", "_p_rank",
                   "_bp_created", "_bp_expiry", "_bp_registrar",
                   "_pp_created", "_pp_expiry", "_pp_registrar",
                   "_bp_visible", "_ns_own", "_ns_parent", "_ssl_valid")
