"""One crawl iteration = one bounded-shuffle batch job (SURVEY.md §3.3/§7).

The reference's sequential per-item loop (process_queue,
domain_collector.py:1350-1412) becomes:

  claim top-k  →  gates  →  fetch join vs pages snapshot  →  extract UDF
  →  node build (+ enrichment joins)  →  link pipeline  →  edges merge
  →  seen upsert  →  frontier merge  →  atomic snapshot commit

Shuffle budget per iteration (SURVEY.md §4.3): the claim top-k
(TakeOrderedAndProject — no global sort), the fetch join (broadcast of
the ≤k-row batch against the pages scan), the link-pipeline windows
(partitioned by source domain), and the dedup/merge of discoveries.
Every other join broadcasts a batch-sized or dimension-sized side.

Sequential-batch fidelity notes live in operators/frontier.py and
operators/links.py; one addition here: the batch is deduplicated by
domain (first claim rank wins) before fetching, because the reference
always re-fetches the domain ROOT page — processing the same domain
twice in one batch is observationally idempotent (same root page, same
deterministic extraction; its duplicate discoveries are absorbed by the
first-wins enqueue, its history upsert is a no-op).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas as S
from ..config import CrawlConfig
from ..functions.extract import extract_pages
from ..functions.robots import make_robots_udf
from ..operators.enrich import _naive_main, enrich_batch, isin_literals
from ..operators.frontier import (apply_claim_gates, claim_batch,
                                  merge_discoveries)
from ..operators.links import (build_relationships,
                               discoveries_from_relationships,
                               edges_from_relationships)
from ..operators.seen import seen_counts_pruned
from ..psl import naive_main_domain
from ..storage import TableIO, bucket_of


@dataclass
class CrawlInputs:
    pages: DataFrame
    robots: DataFrame
    redirects: DataFrame
    whois: DataFrame | None = None
    dns: DataFrame | None = None
    ssl: DataFrame | None = None
    geo: DataFrame | None = None

    @property
    def enrich_enabled(self) -> bool:
        return all(d is not None for d in (self.whois, self.dns, self.ssl, self.geo))


@dataclass
class IterationResult:
    iteration: int
    claimed: int
    processed: int
    skipped: int
    new_urls: int
    next_seq: int
    timings: dict | None = None
    # file-skipping telemetry from the stats-pruned claim read
    # ({'pruned', 'files_opened', 'files_total', 'delta_parts'})
    claim_io: dict | None = None
    # the same telemetry from the keyed state reads, by read:
    # 'seen_gate' (claim-domain quota gates), 'nodes_batch' (enrich +
    # complete set), 'seen_targets' (link-target quota gates) and
    # 'nodes_touched' (minimal node rows)
    read_io: dict | None = None
    # JVM-wide compile work during the iteration: 'jit_compile_ms'
    # (HotSpot JIT compile time) and 'codegen_classes' (classes Spark
    # compiled with Janino)
    jvm: dict | None = None


def _jvm_counters(spark: SparkSession) -> dict[str, int]:
    """The driver JVM's cumulative JIT compile ms and Janino class
    count; both only grow, so a difference of two readings is the work
    done between them."""
    jvm = spark.sparkContext._jvm
    return {
        "jit_compile_ms": int(jvm.java.lang.management.ManagementFactory
                              .getCompilationMXBean()
                              .getTotalCompilationTime()),
        "codegen_classes": int(jvm.org.apache.spark.metrics.source
                               .CodegenMetrics.METRIC_COMPILATION_TIME()
                               .getCount()),
    }


def _key_set(key: str, cond: Column | None, nb: int) -> Column:
    """Observation aggregate: the set of (k, b) = (key, its bucket id)
    pairs over the rows where ``cond`` holds.  Null keys are left out —
    they never match the equi-joins the keyed reads serve."""
    keep = F.col(key).isNotNull()
    if cond is not None:
        keep = keep & cond
    return F.collect_set(F.when(keep, F.struct(
        F.col(key).alias("k"), bucket_of(key, nb).alias("b"))))


def _join_all(futs, primary: BaseException) -> None:
    """Wait for every future, then raise ``primary``; every other
    background failure is attached to it as a note, so no root cause is
    masked or dropped."""
    for f in futs:
        try:
            f.result()
        except BaseException as e:
            if e is not primary:
                primary.add_note(f"concurrent job also failed: {e!r}")
    raise primary


_TRACE = os.environ.get("MTN_TRACE", "") == "1"


class _Timer:
    def __init__(self):
        self.t = time.time()
        self.laps: dict[str, float] = {}

    def lap(self, label: str):
        now = time.time()
        self.laps[label] = round(now - self.t, 3)
        if _TRACE:
            print(f"    [stage {label}: {now - self.t:.2f}s]", flush=True)
        self.t = now


def complete_data_domains(nodes: DataFrame, batch_domains: DataFrame,
                          domain_list: list[str] | None = None
                          ) -> DataFrame:
    """F13 complete-data short-circuit key set (database.py:663-687):
    domains whose node already has title+description+ip skip the
    metadata update.  PRUNED to the batch's domain set BEFORE being
    broadcast: the global complete set grows with the whole crawl and
    would eventually be unbroadcastable, while only batch keys can ever
    match the downstream anti-join (plan-pinned by tests/test_plans.py::
    TestBoundedBroadcasts).  ``domain_list`` (a caller-observed batch
    key list) turns the prune into a literal in-filter pushed into the
    nodes scan — same rows, one broadcast subtree fewer."""
    flt = (nodes.filter(F.col("title").isNotNull()
                        & F.col("description").isNotNull()
                        & F.col("ip_address").isNotNull())
           .select("domain_name"))
    if domain_list is not None:
        return flt.filter(isin_literals("domain_name", domain_list))
    return flt.join(F.broadcast(batch_domains.select("domain_name")
                                .distinct()),
                    "domain_name", "left_semi")


def run_iteration(spark: SparkSession, tio: TableIO, inputs: CrawlInputs,
                  cfg: CrawlConfig, iteration: int, next_seq: int,
                  politeness_budget: int = 0,
                  salt_buckets: int = 1) -> IterationResult:
    """Wrapper owning the iteration's background-job pool.  It keeps
    every future the body submits: whatever the body raises, every
    in-flight concurrent write/merge is JOINED before the exception
    propagates, and their failures ride along as notes.  No
    unsupervised background job can keep writing run state while a
    caller unwinds (and cleans up the run dir), and no background
    failure is dropped, however early the body fails (on success the
    body joins its futures before the meta commit)."""
    from concurrent.futures import ThreadPoolExecutor
    pool = ThreadPoolExecutor(max_workers=5)
    futs = []

    def submit(fn, *args):
        f = pool.submit(fn, *args)
        futs.append(f)
        return f

    jvm0 = _jvm_counters(spark)
    try:
        res = _run_iteration_impl(spark, tio, inputs, cfg, iteration,
                                  next_seq, politeness_budget,
                                  salt_buckets, submit)
    except BaseException as e:
        _join_all(futs, e)
    finally:
        pool.shutdown(wait=True)
    res.jvm = {k: v - jvm0[k] for k, v in _jvm_counters(spark).items()}
    return res


def _run_iteration_impl(spark: SparkSession, tio: TableIO,
                        inputs: CrawlInputs, cfg: CrawlConfig,
                        iteration: int, next_seq: int,
                        politeness_budget: int, salt_buckets: int,
                        submit) -> IterationResult:
    tmr = _Timer()
    # read every state table at the PREVIOUS iteration's version: the
    # run meta (written last) is the single commit point, so a crash
    # mid-commit can never yield a mixed-version read
    base = iteration - 1

    # ---- claim + gates, materialized as ONE snapshot: every downstream
    # stage (fetch, nodes, links, seen, frontier, metrics) re-reads this
    # ≤k-row parquet instead of re-executing the claim top-k, robots UDF
    # and gate windows per action ---------------------------------------
    # Plain-mode claims scan a STATS-PRUNED view: only the data files
    # whose manifest footer stats can contribute to the pending top-k
    # are opened (storage.read_claim_candidates — the last O(corpus)
    # per-iteration read, VERDICT r4 item 1).  Politeness mode can claim
    # arbitrarily deep per domain, so it reads the whole frontier (its
    # scale fix is the shuffle-free local pre-filter inside claim_batch).
    if politeness_budget == 0:
        claim_view, claim_io = tio.read_claim_candidates(
            "frontier", base, cfg.max_items, schema=S.FRONTIER)
    else:
        claim_view = tio.read_state("frontier", base, schema=S.FRONTIER)
        claim_io = None
    claimed = claim_batch(claim_view, cfg, politeness_budget, salt_buckets)

    # ---- keyed state reads ----------------------------------------------
    # Every state-table read joins on batch-bounded keys, so each opens
    # ONLY the owning buckets/files: seen for the quota gates (claim and
    # link-target domains), nodes for enrich/complete (claim domains +
    # registrable parents) and the minimal rows (touched domains),
    # frontier for the discovery anti-join (candidate urls).
    # Bit-identical to a full scan by construction — a key can only
    # match rows in its own bucket.
    #
    # The key→bucket maps these reads need are never collected by a
    # job of their own: each rides a write the iteration makes anyway,
    # as a collect_set Observation (claimed → seen/nodes gate keys,
    # extract → link-target keys, rels + nodes_batch → touched node keys
    # and candidate-url buckets).  An observed set may be a SUPERSET of
    # the keys the consumer joins on, which read_keyed_state allows.
    nb = tio.num_buckets
    # snapshot the bare claim once so the gates re-read it instead of
    # re-running the claim; the claim domains and their bucket ids ride
    # the same write
    obs_c = Observation()
    tio.write("claimed", claimed.observe(
        obs_c, F.collect_set(F.struct(
            "domain_name",
            bucket_of("domain_name", nb).alias("b"),
            bucket_of(_naive_main(F.col("domain_name")), nb)
            .alias("pb"))).alias("doms")), iteration)
    claimed = tio.read("claimed", version=iteration)
    drows = obs_c.get["doms"]
    # registrable parents for the WHOIS-inheritance lookup, derived
    # driver-side (Python twin of _naive_main, pinned by the
    # q_naive_main_domain oracle) paired with the parent bucket ids
    # observed on the same write — key→bucket maps let the keyed read
    # skip whole buckets, not just files
    seen_kb = {r["domain_name"]: r["b"] for r in drows}
    nodes_kb = dict(seen_kb)
    for r in drows:
        nodes_kb[naive_main_domain(r["domain_name"])] = r["pb"]
    read_io = {}
    seen_gate_view, read_io["seen_gate"] = tio.read_keyed_state(
        "seen", base, keys=sorted(seen_kb),
        key_buckets=seen_kb, schema=S.SEEN)
    nodes_batch_view, read_io["nodes_batch"] = tio.read_keyed_state(
        "nodes", base, keys=sorted(nodes_kb),
        key_buckets=nodes_kb, schema=S.NODES)

    robots_udf = make_robots_udf(cfg.http_user_agent)
    domains = claimed.select("domain_name").distinct()
    if cfg.respect_robots_txt:
        robots_flags = (domains
                        .join(F.broadcast(inputs.robots),
                              domains.domain_name == inputs.robots.domain, "left")
                        .select("domain_name",
                                robots_udf(F.col("body"), F.col("status_code"),
                                           F.lit("/")).alias("robots_allowed")))
    else:
        robots_flags = domains.withColumn("robots_allowed", F.lit(True))

    # per-domain history counts, pruned to THIS claim's domain set: the
    # quota gates only join counts against iteration-bounded keys, so
    # the broadcast side stays batch-sized at any corpus size (a global
    # seen_counts aggregate grows with the crawl and would eventually be
    # unbroadcastable — see seen.seen_counts_pruned)
    scounts_claim = seen_counts_pruned(seen_gate_view, domains)

    # claimed/skipped counts and the batch domain set ride the gated
    # WRITE as observed metrics — zero extra jobs
    obs_g = Observation()
    gated = apply_claim_gates(claimed, scounts_claim, robots_flags, cfg) \
        .observe(obs_g,
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.col("gate_status") == "skipped", 1)
                       .otherwise(0)).alias("n_skip"),
                 F.collect_set("domain_name").alias("doms"))
    tio.write("gated", gated, iteration)
    tmr.lap("gated_write")
    gated = tio.read("gated", version=iteration)
    gm = obs_g.get
    n_claimed = int(gm["n"] or 0)
    n_skip = int(gm["n_skip"] or 0)
    tmr.lap("claim_count")
    if n_claimed == 0:
        return IterationResult(iteration, 0, 0, 0, 0, next_seq, tmr.laps,
                               claim_io, read_io)
    claimed = gated
    # batch key list for the literal-isin dim prunes (enrich / complete
    # set), observed on the gated write.  Guarded by the in-list
    # ceiling: a scale run with a huge claim batch falls back to the
    # broadcast semi-join prunes.
    batch_domain_list: list[str] | None = sorted(gm["doms"])
    if len(batch_domain_list) > cfg.enrich_inlist_max:
        batch_domain_list = None

    to_process = gated.filter(F.col("gate_status") == "process")
    # one fetch per domain; first claim rank represents the domain
    w_dom = Window.partitionBy("domain_name").orderBy("claim_rank")
    batch = (to_process.withColumn("_rn", F.row_number().over(w_dom))
             .filter(F.col("_rn") == 1).drop("_rn")
             .withColumnRenamed("claim_rank", "batch_rank"))

    # records_history: robots allowed (blocked domains return before the
    # record call, domain_collector.py:938-941; both page-found and
    # page-missing paths record success/failed, :1290-1300)
    processed_domains = batch.select(
        "domain_name", "batch_rank",
        F.col("robots_ok").alias("records_history"), "depth")

    # ---- fetch join: batch (≤k rows, broadcast) vs pages snapshot -----
    root = batch.withColumn("url", F.concat(F.lit("http://"),
                                            F.col("domain_name")))
    fetched = (F.broadcast(root.select("url", "domain_name", "batch_rank",
                                       "depth", "robots_ok"))
               .join(inputs.pages.select("url", "html"), "url", "left"))

    # broadcast joins inherit the streaming side's partitioning — a pages
    # snapshot read as few splits would serialize the extract UDF; spread
    # the batch across all cores before the Arrow stage.  robots_ok rides
    # along for the pass's category/tags masking
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # the processed-domain count rides the extract WRITE: each batch
    # domain yields exactly one metadata row (link_pos == -1), so n_meta
    # == countDistinct(domain) with gate_status='process'.  The surviving
    # links' target domains and their seen buckets ride it too (a
    # superset of the robots-allowed targets the gates look up).
    obs_e = Observation()
    from ..operators.links import link_survives
    # F1-F10 link survival fused into the extract snapshot: ONE regex
    # pass rides the extract write, so the valid-link view downstream is
    # a null-check scan of this parquet — round 5 either paid a second
    # batch-sized write (valid_links) or re-ran the 30-alternation
    # regexes on every one of build_relationships' ~4 subtree references
    # (guide §1.2: don't compute things twice).  link_survives() is the
    # same Column filter_links applies (shared definition + pinned by
    # tests), so the fused column cannot drift from the operator.
    _link_ok = link_survives()
    extracted = extract_pages(
        fetched.select("url", "domain_name", "html", "robots_ok")
        .repartition(n_part, "url")) \
        .withColumn("_link_ok", _link_ok) \
        .observe(obs_e,
                 F.sum(F.when(F.col("link_pos") == -1, 1).otherwise(0))
                 .alias("n_meta"),
                 _key_set("target_domain",
                          (F.col("link_pos") >= 0) & F.col("_link_ok"), nb)
                 .alias("tgt"))
    tio.write("extract", extracted, iteration)
    tmr.lap("extract_write")
    extracted = tio.read("extract", version=iteration)
    em = obs_e.get
    n_proc = int(em["n_meta"] or 0)

    binfo = batch.select("domain_name", "batch_rank", "depth", "robots_ok",
                         F.col("seen_cnt").alias("_start_cnt"))

    # ---- link pipeline (robots-gated, :938-941) ------------------------
    # The rels and nodes_batch writes share nothing but the extract
    # snapshot, so the rels write runs as a concurrent job UNDER the
    # enrichment plan and the nodes_batch write (guide §2.6 overlap
    # independent jobs; VERDICT r5 'Next round' #1a: extend the 2-thread
    # pool to the scratch-write DAG).  The longer rels chain starts
    # first and the enrich plan is built while it runs.  ``submit`` is
    # the run_iteration wrapper's, which always joins what it hands out.
    #
    # slim projection: dragging the full extract schema through the
    # filter measured 5-9× slower than these 13 cols.  The survival
    # filter itself is the precomputed _link_ok column — the regexes ran
    # once, inside the extract write; every downstream reference
    # (build_relationships uses the subtree ~4×) is a cheap column scan
    # of the materialized extract parquet, so no valid_links snapshot is
    # needed at any batch size (VERDICT r5 'Next round' #1b: collapse
    # the extract/valid_links scratch writes).
    valid = (extracted.filter((F.col("link_pos") >= 0)
                              & F.col("_link_ok"))
             .select("domain_name", "link_pos", "href", "link_text",
                     "href_scheme", "href_netloc", "href_path",
                     "n_query_params", "param_names", "target_domain",
                     "clean_url", "is_sub")
             .join(F.broadcast(binfo), "domain_name", "inner")
             .filter(F.col("robots_ok"))
             .withColumnRenamed("batch_rank", "claim_rank")
             .withColumnRenamed("depth", "src_depth")
             .drop("robots_ok", "_start_cnt"))
    tmr.lap("valid_view")
    # history counts for the quota gates on TARGET domains, pruned to
    # this iteration's discovered-target set (bounded by batch × caps —
    # the discovery/enqueue gates join on exactly these keys).  The seen
    # SCAN side is keyed to the targets' own buckets and files (observed
    # on the extract write).
    tgt_kb = {r["k"]: r["b"] for r in em["tgt"]}
    seen_tgt_view, read_io["seen_targets"] = tio.read_keyed_state(
        "seen", base, keys=sorted(tgt_kb), key_buckets=tgt_kb,
        schema=S.SEEN)
    scounts_targets = seen_counts_pruned(
        seen_tgt_view,
        valid.select(F.col("target_domain").alias("domain_name")))
    rels = build_relationships(valid, inputs.redirects, scounts_targets,
                               processed_domains, cfg)
    # the rels write carries what the pruned reads below need: the
    # candidate urls' frontier buckets and the touched node keys (link
    # targets and redirect finals; the nodes_batch write adds its own)
    obs_r = Observation()
    rels = rels.observe(
        obs_r,
        F.collect_set(bucket_of("clean_url", nb)).alias("cand"),
        _key_set("target_domain", None, nb).alias("tgt"),
        _key_set("redirect_final_domain", None, nb).alias("redir"))
    f_rels = submit(tio.write, "rels", rels, iteration)

    # ---- node rows (U1-U4, C6-C8, S9) ----------------------------------
    # category/tags come from the extract pass, computed there over the
    # same masked title/description/keywords as below
    meta = (extracted.filter(F.col("link_pos") == -1)
            .join(F.broadcast(binfo), "domain_name", "left"))
    vis = F.col("robots_ok") & F.col("fetch_ok")      # metadata needs robots
    title = F.when(vis, F.col("title"))
    desc = F.when(vis, F.col("description"))
    favicon = F.when(vis, F.col("favicon_url"))
    kw = F.when(F.col("fetch_ok"), F.col("meta_keywords"))  # keywords ignore robots
    meta = meta.select(
        "domain_name", "batch_rank",
        title.alias("title"), desc.alias("description"),
        favicon.alias("favicon_url"), kw.alias("meta_keywords"),
        "category", "tags")

    if inputs.enrich_enabled:
        meta = enrich_batch(meta, inputs.whois, inputs.dns, inputs.ssl,
                            inputs.geo, nodes_batch_view,
                            batch_domains=batch_domain_list)
    else:
        meta = (meta
                .withColumn("created_date", F.lit(None).cast("date"))
                .withColumn("expiry_date", F.lit(None).cast("date"))
                .withColumn("registrar", F.lit(None).cast("string"))
                .withColumn("nameservers",
                            F.lit(None).cast("array<string>"))
                .withColumn("asn", F.lit(None).cast("string"))
                .withColumn("asn_description", F.lit(None).cast("string"))
                .withColumn("ssl_valid", F.lit(False))
                .withColumn("ssl_expiry", F.lit(None).cast("date"))
                .withColumn("country", F.lit(None).cast("string"))
                .withColumn("ip_address", F.lit(None).cast("string"))
                .withColumn("latitude", F.lit(None).cast("decimal(10,8)"))
                .withColumn("longitude", F.lit(None).cast("decimal(11,8)")))

    # F13 complete-data short-circuit, batch-pruned before broadcast
    complete = complete_data_domains(nodes_batch_view, meta,
                                     domain_list=batch_domain_list)
    full_updates = (meta.join(F.broadcast(complete), "domain_name", "left_anti")
                    .select(
                        F.xxhash64("domain_name").alias("domain_id"),
                        "domain_name", "title", "description", "favicon_url",
                        "created_date", "expiry_date", "registrar",
                        "nameservers", "asn", "asn_description",
                        "ssl_valid", "ssl_expiry", "country", "ip_address",
                        "latitude", "longitude", "category", "tags",
                        F.lit(iteration).alias("updated_iteration")))

    obs_nb = Observation()
    full_updates = full_updates.observe(
        obs_nb, _key_set("domain_name", None, nb).alias("keys"))
    tio.write("nodes_batch", full_updates, iteration)
    f_rels.result()
    tmr.lap("nodes_batch+rels_write")
    full_updates = tio.read("nodes_batch", version=iteration)
    rels = tio.read("rels", version=iteration)

    edges_batch = edges_from_relationships(rels, iteration)
    discoveries = discoveries_from_relationships(rels)

    # ---- keyed views for the minimal rows and the anti-join: the
    # touched-domain and candidate-url bucket sets observed on the rels
    # and nodes_batch writes let the minimal-row nodes lookup and the
    # discovery anti-join's frontier key side open only those buckets.
    # (State-table COMMITS need no touched buckets from the plan — each
    # merge_state observes its delta's bucket set on its own write.)
    rm, nbm = obs_r.get, obs_nb.get
    node_kb = {r["k"]: r["b"]
               for r in [*nbm["keys"], *rm["tgt"], *rm["redir"]]}
    # nodes: bucket prune + file-grain key-range skip; frontier keys:
    # bucket prune only — frontier files are sorted by claim stats
    # (status/priority/seq), so url ranges are unselective
    nodes_touch_view, read_io["nodes_touched"] = tio.read_keyed_state(
        "nodes", base, keys=sorted(node_kb),
        key_buckets=node_kb, schema=S.NODES)
    frontier_keys_view = tio.read_state("frontier", version=base,
                                        schema=S.FRONTIER,
                                        buckets=sorted(rm["cand"]))
    tmr.lap("touched_buckets")

    # ---- minimal node rows for targets + redirect finals (J2) ----------
    touched_doms = (rels.select(F.col("target_domain").alias("domain_name"))
                    .unionByName(rels.filter(F.col("redirect_final_domain")
                                             .isNotNull())
                                 .select(F.col("redirect_final_domain")
                                         .alias("domain_name")))
                    .distinct())
    minimal = (touched_doms
               .join(nodes_touch_view.select("domain_name"), "domain_name",
                     "left_anti")
               .join(full_updates.select("domain_name"), "domain_name", "left_anti")
               .select(F.xxhash64("domain_name").alias("domain_id"),
                       "domain_name",
                       *[F.lit(None).cast(S.NODES[f].dataType).alias(f)
                         for f in ("title", "description", "favicon_url",
                                   "created_date", "expiry_date", "registrar",
                                   "nameservers", "asn", "asn_description",
                                   "ssl_valid", "ssl_expiry", "country",
                                   "ip_address", "latitude", "longitude",
                                   "category", "tags")],
                       F.lit(iteration).alias("updated_iteration")))

    # nodes delta: full metadata updates + minimal rows for new targets;
    # minimal keys are disjoint from full_updates and absent from the
    # base table by construction, so the merge_state upsert (base ANTI
    # delta-keys UNION delta) reproduces the old three-way union exactly
    nodes_delta = full_updates.unionByName(minimal)

    # ---- edges merge (S10): last-writer-wins attrs per (src,dst,type) --
    # delta-only: merge_state replaces matching (src,dst,type) rows and
    # inserts the rest — the reference's ON DUPLICATE KEY UPDATE
    edges_delta = edges_batch

    # ---- seen upsert (S12) ---------------------------------------------
    # links_found == len(relationships) (record_url_processing :1291 and
    # update_collection_log relationships_found :527 use the same value);
    # urls_discovered == len(discovered_urls) (one per surviving link,
    # redirect-extra edges excluded — domain_collector.py:1281-1286)
    rel_counts = (rels.groupBy("domain_name")
                  .agg((F.count("*")
                        + F.sum(F.when(F.col("redirect_final_domain")
                                       .isNotNull(), 1).otherwise(0))
                        ).cast("int").alias("links_found"),
                       F.count("*").cast("int").alias("urls_discovered")))
    seen_new = (batch.filter(F.col("robots_ok"))
                .join(F.broadcast(rel_counts), "domain_name", "left")
                .join(F.broadcast(extracted.filter(F.col("link_pos") == -1)
                                  .select("domain_name", "fetch_ok")),
                      "domain_name", "left")
                .select(
                    F.concat(F.lit("http://"), F.col("domain_name")).alias("url"),
                    "domain_name",
                    F.when(F.col("fetch_ok"), F.lit("success"))
                    .otherwise(F.lit("failed")).alias("status"),
                    F.coalesce(F.col("links_found"), F.lit(0)).alias("links_found"),
                    F.lit(iteration).alias("processed_iteration")))
    # seen delta is unique on url (one row per batch domain), so the
    # merge_state upsert is the reference's last-write-wins upsert
    # (record_url_processing, database.py:508-531)
    seen_delta = seen_new

    # ---- metrics (S13/A5/C11) --------------------------------------------
    # one collection_logs row per processed domain (update_collection_log,
    # database.py:561-582): real relationships_found / urls_discovered
    # from rel_counts.  processing_time is the reference's wall-clock
    # rounded to DECIMAL(10,3) (database.py:132,566) — wall time is
    # nondeterministic by nature, so the engine writes a deterministic
    # work-units stand-in (1 fetch + 1ms per relationship/discovery),
    # preserving the column, its type, and the round-to-3 semantics (C11).
    n_rels = F.coalesce(F.col("links_found"), F.lit(0))
    n_disc = F.coalesce(F.col("urls_discovered"), F.lit(0))
    metrics_new = (batch
                   .join(F.broadcast(rel_counts), "domain_name", "left")
                   .select(
                       F.lit(iteration).alias("iteration"), "domain_name",
                       F.concat(F.lit("http://"),
                                F.col("domain_name")).alias("url"),
                       F.lit("completed").alias("status"),
                       n_rels.alias("relationships_found"),
                       n_disc.alias("urls_discovered"),
                       F.lit(None).cast("string").alias("error_message"),
                       (F.round((F.lit(1) + n_rels + n_disc) * 0.001, 3))
                       .cast("decimal(10,3)").alias("processing_time"),
                       F.lit("spark-engine").alias("agent_name")))
    # collection_logs is append-only (INSERT, database.py:570-573):
    # committed as ONE immutable per-iteration partition, never a
    # rewrite of the accumulated log

    # ---- early state commits: the seen/nodes/edges/metrics deltas only
    # read the already-materialized batch parquets (gated/extract/rels/
    # nodes_batch), so their merges run as concurrent jobs UNDER the
    # whole discovery-merge chain below (guide §2.6; their tasks
    # back-fill executors the chain's stragglers leave idle).  The
    # frontier merge still waits for new_pending, and the run meta —
    # the single commit point — is written only after every merge
    # returned, so crash atomicity is unchanged for version-pinned
    # readers (the crawl loop always reads at the meta version; a crash
    # mid-iteration leaves per-table version-N artifacts that the
    # resumed iteration overwrites).  NOTE for debug tooling: an
    # UNPINNED latest-version read (read_outputs) taken between a
    # mid-iteration crash and the resume can see version-N
    # seen/nodes/edges next to the version-N-1 frontier — a window the
    # old end-of-iteration fan-out also had, just narrower; read_outputs
    # reads at the meta version, so it never sees that mixed state.
    # Each merge observes its own delta's size and bucket set on its
    # delta write — no caller estimate, no sizing job.
    commit_futs = [
        submit(tio.merge_state, "seen", seen_delta, iteration, base),
        submit(tio.merge_state, "nodes", nodes_delta, iteration, base),
        submit(tio.merge_state, "edges", edges_delta, iteration, base),
        submit(tio.append_partition, "metrics", metrics_new, iteration),
    ]

    # ---- frontier update ------------------------------------------------
    # the new-row count rides the new_pending WRITE as an observed
    # metric (was a separate count job over the re-read parquet)
    obs_p = Observation()
    # frontier_keys_view: the exact anti-join's table side is
    # bucket-pruned to the candidates' own buckets (bit-identical — a
    # candidate can only collide inside its bucket); merge_discoveries
    # uses the frontier ONLY as that url key set
    new_pending = merge_discoveries(frontier_keys_view, discoveries,
                                    scounts_targets, processed_domains,
                                    cfg, next_seq) \
        .observe(obs_p, F.count(F.lit(1)).alias("n"))
    tio.write("new_pending", new_pending, iteration)
    tmr.lap("new_pending_write")
    new_pending = tio.read("new_pending", version=iteration)
    n_new = int(obs_p.get["n"] or 0)
    tmr.lap("new_pending_count")

    claimed_updates = gated.select(
        "url", "domain_name", "source_domain", "priority",
        F.when(F.col("gate_status") == "skipped", F.lit("skipped"))
        .otherwise(F.lit("completed")).alias("status"),
        "discovery_seq", "discovery_ts", "depth",
        F.col("gate_reason").alias("error_message"),
        F.lit(iteration).alias("processed_iteration"))
    # frontier delta: claimed rows flip status (upsert by url), new
    # discoveries insert (provably absent from the base — they already
    # survived the merge_discoveries anti-join)
    frontier_delta = claimed_updates.unionByName(new_pending)

    # ---- atomic commit: the frontier MERGE (whose delta needed
    # new_pending) plus the join on the early seen/nodes/edges/metrics
    # commits running since before the discovery merge; the meta write
    # below is the single commit point.  Each merge
    # appends ONE O(batch) delta partition to the merge-on-read log
    # (folded into touched buckets when the log grows) — per-iteration
    # I/O scales with the batch, not the corpus.  A failure here (the
    # frontier merge first) is the error that propagates; the wrapper
    # still joins the early commits and attaches their failures.
    tio.merge_state("frontier", frontier_delta, iteration, base)
    for f in commit_futs:
        f.result()
    tmr.lap("tables_commit")
    tio.write_meta({"iteration": iteration, "next_seq": next_seq + n_new})
    if cfg.snapshot_retain > 0:
        tio.prune(cfg.snapshot_retain, iteration)

    return IterationResult(iteration, n_claimed, n_proc, n_skip, n_new,
                           next_seq + n_new, tmr.laps, claim_io, read_io)
