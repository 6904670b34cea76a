"""Frontier claim / gates / merge (SURVEY.md §2.1 S1,S11; §2.2 F11-F12;
§2.5 W1; §2.4 A4).

The MySQL ``SELECT ... FOR UPDATE`` claim (database.py:336-411) becomes a
pure batch top-k: ``ORDER BY priority DESC, discovery_seq ASC LIMIT k``
which Spark executes as TakeOrderedAndProject (per-partition local top-k,
then a k-row merge — no global sort, SURVEY.md §4.5).  ``discovery_seq``
is the deterministic insertion counter standing in for MySQL's
auto-increment id tiebreak, so claim order is identical at any
parallelism level (SURVEY.md §7.3 hard part 1).

Within-batch sequential effects of the reference's per-item loop
(process_queue, domain_collector.py:1360-1412) are reproduced with rank
windows instead of sequential execution — see ``apply_claim_gates``.

Discovered URLs enter the frontier through ``merge_discoveries``, which
numbers them by ``sequence_by_source``: every step of that plan is
bounded by one source's links (the link caps) or by one row per source
(≤ k), at any batch size, and building it starts no Spark job.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig

# All discovery_ts values are derived from discovery_seq against this base —
# event time comes from data, never from the wall clock (SURVEY.md §1.2).
DISCOVERY_TS_BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

def claim_order() -> list:
    return [F.col("priority").desc(),
            F.col("discovery_seq").asc(),
            F.col("url").asc()]


def claim_batch(frontier: DataFrame, cfg: CrawlConfig,
                politeness_budget: int = 0, salt_buckets: int = 1) -> DataFrame:
    """Top-k claim with optional per-domain politeness budget.

    politeness_budget > 0 caps URLs per domain per iteration.  The
    reference's temporal politeness (``time.sleep(request_delay)`` per
    URL per worker, ``domain_collector.py:1411-1412``) is re-expressed
    as this cardinality budget: with an iteration wall target of W
    seconds and a per-request delay of d seconds, at most floor(W / d)
    URLs of one registrable domain may be claimed per iteration
    (SURVEY.md §2.9).  The caller picks the budget; 0 is the faithful
    claim mode.  salt_buckets > 1 splits each domain's rank window
    into deterministic sub-quotas of ceil(budget/salt) so one hub domain
    with millions of pending URLs cannot collapse the window into a
    single task (SURVEY.md §4.2 hub-domain skew); salt_buckets=1 is the
    exact mode used by the equivalence tests.
    """
    pending = frontier.filter(F.col("status") == "pending")
    if politeness_budget > 0:
        if salt_buckets > 1:
            sub_quota = -(-politeness_budget // salt_buckets)  # ceil
            salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        else:
            sub_quota = politeness_budget
            salt = F.lit(0)
        # bound the rank window's shuffle INPUT first: an Arrow-local
        # per-(domain, salt) top-sub_quota pre-filter runs on the scan
        # partitions with no shuffle, so the window below shuffles
        # ∝ groups × quota candidate rows instead of the whole pending
        # frontier (VERDICT r4 item 2 — the politeness scale fix).
        # Size-gated (VERDICT r5 item 3): below the threshold the window
        # shuffle is trivially cheap and the JVM→Python Arrow pass costs
        # more than it saves — skip it, bit-identically (the pre-filter
        # only drops rows the window drops anyway).
        pending = pending.withColumn("_salt", salt)
        if _estimated_bytes(pending) >= cfg.politeness_prefilter_min_bytes:
            pending = _local_domain_topk(pending, sub_quota)
        w = (Window.partitionBy("domain_name", "_salt")
             .orderBy(F.col("priority").desc(),
                      F.col("discovery_seq").asc()))
        pending = (pending.withColumn("_dr", F.row_number().over(w))
                   .filter(F.col("_dr") <= sub_quota).drop("_dr", "_salt"))
    # TakeOrderedAndProject: distributed top-k, then rank the ≤k survivors
    # (the final row_number window runs on at most k rows).
    topk = pending.orderBy(*claim_order()).limit(cfg.max_items)
    w_rank = Window.orderBy(*claim_order())
    return topk.withColumn("claim_rank", F.row_number().over(w_rank))


def _estimated_bytes(df: DataFrame) -> int:
    """Optimizer size estimate for ``df`` (driver-side plan statistics —
    file sizes for scans, no Spark job).  Unknown estimates come back
    as a huge default, which conservatively KEEPS the scale path (the
    pre-filter) on inputs the planner cannot size."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception:
        return 1 << 62


def _local_domain_topk(pending: DataFrame, quota: int) -> DataFrame:
    """Shuffle-free candidate bound for the politeness rank window.

    Keeps, within every Arrow batch, each (domain_name, _salt) group's
    top-``quota`` rows by (priority DESC, discovery_seq ASC).  Sound
    because that order is total (discovery_seq is unique): a row in its
    group's GLOBAL top-quota is in the top-quota of every subset that
    contains it, so the local filter can only drop rows the global
    window would drop anyway — the downstream row_number ≤ quota result
    is identical (pinned by the politeness property/equivalence tests).
    """
    schema = pending.schema

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf
                continue
            opdf = pdf.sort_values(["priority", "discovery_seq"],
                                   ascending=[False, True],
                                   kind="mergesort")
            keep = (opdf.groupby(["domain_name", "_salt"], sort=False)
                    .cumcount() < quota)
            yield opdf[keep]

    return pending.mapInPandas(fn, schema)


def apply_claim_gates(claimed: DataFrame, seen_counts: DataFrame,
                      robots_flags: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Depth gate + per-domain quota gate with sequential-batch fidelity.

    Reference order per item (domain_collector.py:1386-1403):
      1. depth >= max_depth  -> skipped "Max depth reached"
      2. duplicate-in-queue  -> structurally impossible here (frontier url
         is unique and completed rows never resurrect; database.py:119)
      3. history count(domain) >= max_urls_per_domain -> skipped

    The history table is keyed by the root URL (record_url_processing is
    always called with url=http://{domain}, domain_collector.py:944+1292),
    so count(domain) is 0 or 1 at iteration start, and processing an
    earlier same-domain item in THIS batch adds at most one row — and only
    if that item passed the depth gate, robots allows the domain, and the
    domain was not already in history.  That sequential visibility is an
    aggregate over earlier claim ranks => a window, not a loop.

    Input seen_counts: (domain_name, seen_cnt); robots_flags:
    (domain_name, robots_allowed).  Output adds: gate_status
    ('process'|'skipped'), gate_reason.
    """
    df = (claimed
          .join(F.broadcast(seen_counts), "domain_name", "left")
          .join(F.broadcast(robots_flags), "domain_name", "left")
          .withColumn("seen_cnt", F.coalesce(F.col("seen_cnt"), F.lit(0)))
          .withColumn("robots_ok", F.coalesce(F.col("robots_allowed"), F.lit(True))))

    depth_ok = F.col("depth") < F.lit(cfg.max_depth)
    # earlier same-domain claim that passed the depth gate
    w_prev = (Window.partitionBy("domain_name").orderBy("claim_rank")
              .rowsBetween(Window.unboundedPreceding, -1))
    prev_processed = F.sum(F.when(depth_ok, 1).otherwise(0)).over(w_prev)
    batch_increment = F.when(
        (F.coalesce(prev_processed, F.lit(0)) > 0)
        & F.col("robots_ok") & (F.col("seen_cnt") == 0), 1).otherwise(0)
    effective_cnt = F.col("seen_cnt") + batch_increment

    return (df
            .withColumn(
                "gate_reason",
                F.when(~depth_ok, F.lit("Max depth reached"))
                .when(effective_cnt >= cfg.max_urls_per_domain,
                      F.lit("Domain processing limit reached"))
                .otherwise(F.lit(None).cast("string")))
            .withColumn("gate_status",
                        F.when(F.col("gate_reason").isNull(), F.lit("process"))
                        .otherwise(F.lit("skipped")))
            .drop("robots_allowed"))


def merge_discoveries(frontier: DataFrame, discoveries: DataFrame,
                      seen_counts: DataFrame, processed_domains: DataFrame,
                      cfg: CrawlConfig, next_seq: int) -> DataFrame:
    """add_discovered_urls_to_queue (domain_collector.py:1314-1348) as a
    batch merge.

    discoveries: (clean_url, target_domain, source_domain, src_depth,
    source_rank, is_internal, link_pos)
    processed_domains: (domain_name, batch_rank, records_history) — the
    domains processed this iteration, for sequential quota visibility.

    Semantics reproduced:
    - first-writer-wins within the batch: the reference's is_url_in_queue
      check makes the FIRST enqueue of a URL stick (earlier claim rank,
      then earlier document position); the ON DUPLICATE
      GREATEST(priority)/LEAST(depth) clause is unreachable in serial
      execution (database.py:312-334 + 477-492) — we keep first-wins as
      canonical and expose merge_frontier_upsert() for the merge flavor;
    - URLs that ever existed in the frontier are never re-added (UNIQUE
      key absorbs the insert without resurrecting status);
    - enqueue-time quota: history count of the TARGET domain at the time
      the source item ran == seen_cnt + 1[target processed earlier in
      this batch with history recording];
    - discovery_seq continues the global insertion counter from
      ``next_seq`` (``sequence_by_source``), preserving MySQL-id
      claim-order ties across iterations.

    Returns new pending frontier rows.
    """
    enqueue_order = [F.col("source_rank").asc(),
                     F.col("is_internal").desc(),   # internal loop runs first
                     F.col("link_pos").asc()]
    w_first = Window.partitionBy("clean_url").orderBy(*enqueue_order)
    firsts = (discoveries
              .withColumn("_rn", F.row_number().over(w_first))
              .filter(F.col("_rn") == 1).drop("_rn"))

    # enqueue-time quota on the target domain
    hist = (processed_domains
            .filter(F.col("records_history"))
            .select(F.col("domain_name").alias("target_domain"),
                    F.col("batch_rank").alias("_hist_rank")))
    firsts = (firsts
              .join(F.broadcast(seen_counts.withColumnRenamed("domain_name",
                                                              "target_domain")),
                    "target_domain", "left")
              .join(F.broadcast(hist), "target_domain", "left")
              .withColumn("seen_cnt", F.coalesce(F.col("seen_cnt"), F.lit(0)))
              .withColumn(
                  "_eff_cnt",
                  F.col("seen_cnt")
                  + F.when((F.col("_hist_rank").isNotNull())
                           & (F.col("_hist_rank") <= F.col("source_rank"))
                           & (F.col("seen_cnt") == 0), 1).otherwise(0))
              .filter(F.col("_eff_cnt") < cfg.max_urls_per_domain)
              .drop("seen_cnt", "_hist_rank", "_eff_cnt"))

    # never re-add a URL that ever existed in the frontier: an exact
    # left-anti join against the frontier url set (reference probe
    # database.py:494-506; operators/seen.py)
    fresh = firsts.join(frontier.select(F.col("url").alias("clean_url")),
                        "clean_url", "left_anti")

    return (sequence_by_source(fresh, next_seq)
            .select(
                F.col("clean_url").alias("url"),
                F.col("target_domain").alias("domain_name"),
                F.col("source_domain"),
                F.lit(1).cast("int").alias("priority"),
                F.lit("pending").alias("status"),
                F.col("discovery_seq"),
                (F.lit(DISCOVERY_TS_BASE)
                 + F.make_dt_interval(secs=F.col("discovery_seq"))
                 ).alias("discovery_ts"),
                (F.col("src_depth") + 1).alias("depth"),
                F.lit(None).cast("string").alias("error_message"),
                F.lit(None).cast("int").alias("processed_iteration"),
            ))


def sequence_by_source(df: DataFrame, start: int) -> DataFrame:
    """Number ``df``'s rows with the dense ``discovery_seq`` from
    ``start`` in enqueue order ``(source_rank, is_internal desc,
    link_pos, clean_url)``, every step bounded at any batch size.

    A source is one batch rank, and the link caps hold it to
    ``max_links_per_page`` rows, so a row's position within its source
    is a window partitioned by ``source_rank``.  The source's offset is
    the exclusive running sum of the per-source counts: a window over
    one row per source (≤ k rows, the bound of the claim's own rank
    window), broadcast back.  No count, collect or range sample runs.

    The counts aggregate the ranked frame, which the window has already
    hash-partitioned on ``source_rank``, so the offsets branch re-reads
    that exchange instead of re-running the merge subtree below it.
    Spark reuses an exchange only if both branches plan it identically,
    hence two choices below: the count is taken as the max of a struct
    over every column (a branch that read fewer columns would be pruned
    down to a different exchange), and the join is a left join (an inner
    join adds a not-null filter under the exchange on one side only)."""
    w_src = Window.partitionBy("source_rank").orderBy(
        F.col("is_internal").desc(), F.col("link_pos").asc(),
        F.col("clean_url").asc())
    ranked = df.withColumn("_pos", F.row_number().over(w_src))
    w_prev = (Window.orderBy("source_rank")
              .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (ranked.groupBy("source_rank")
               .agg(F.max(F.struct("_pos", *df.columns))["_pos"]
                    .alias("_n"))
               .select("source_rank", F.sum("_n").over(w_prev).alias("_off")))
    # _off is null for the first source only: every source has a row
    return (ranked.join(F.broadcast(offsets), "source_rank", "left")
            .withColumn("discovery_seq",
                        (F.lit(start) + F.coalesce("_off", F.lit(0))
                         + F.col("_pos") - 1).cast("long"))
            .drop("_pos", "_off"))


def merge_frontier_upsert(frontier: DataFrame, new_rows: DataFrame) -> DataFrame:
    """The MERGE flavor of S11 (database.py:321-323): INSERT .. ON
    DUPLICATE KEY UPDATE priority=GREATEST, depth=LEAST.  MySQL keeps the
    INCUMBENT row's other fields, so the pick is explicitly ordered —
    frontier rows before new rows, then insertion order — via a
    row_number window (never unordered F.first(), which is
    partition-order-dependent)."""
    merged = frontier.withColumn("_gen", F.lit(0)).unionByName(
        new_rows.withColumn("_gen", F.lit(1)))
    w = Window.partitionBy("url").orderBy(F.col("_gen").asc(),
                                          F.col("discovery_seq").asc())
    agg = Window.partitionBy("url")
    return (merged
            .withColumn("priority", F.max("priority").over(agg))
            .withColumn("depth", F.min("depth").over(agg))
            .withColumn("discovery_seq", F.min("discovery_seq").over(agg))
            .withColumn("discovery_ts", F.min("discovery_ts").over(agg))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_gen"))

