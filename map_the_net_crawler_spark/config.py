"""Crawl configuration.

Defaults mirror the reference's ``COLLECTION_CONFIG`` (reference
``config.py:17-29``): request_delay=1s, max_links_per_page=50,
max_urls_per_domain=10, max_depth=3, max_items=10,
respect_robots_txt=True, http_user_agent='WorldMapper/1.0 (compatible)'.

The reference's temporal politeness (``time.sleep(request_delay)`` per URL
per worker, ``domain_collector.py:1411-1412``) is re-expressed as a
*cardinality* budget per iteration: with an iteration wall target of
``politeness_window_s`` seconds and a per-request delay of
``request_delay_s``, at most ``floor(politeness_window_s / request_delay_s)``
URLs of one registrable domain may be claimed per iteration (SURVEY.md §2.9).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    # Reference defaults (config.py:17-29)
    request_delay_s: float = 1.0
    max_links_per_page: int = 50
    max_urls_per_domain: int = 10
    max_depth: int = 3
    max_items: int = 10
    respect_robots_txt: bool = True
    http_user_agent: str = "WorldMapper/1.0 (compatible)"

    # Engine-only knobs
    politeness_window_s: float = 0.0  # 0 => politeness budget disabled (faithful claim mode)
    salt_buckets: int = 16            # skew salt for per-domain windows (SURVEY.md §4.2)
    # URL-seen membership is always the exact left-anti join in
    # merge_discoveries (bucket-pruned frontier side at scale); it has
    # no knobs
    shuffle_partitions: int = 32
    # batch-key ceiling for the literal-isin dim prunes: below this many
    # claimed domains the enrichment/complete-set prunes use a pushed
    # in-filter (no broadcast subtree per dim); above it they fall back
    # to the broadcast semi-join (a 100k-literal in-list bloats codegen)
    enrich_inlist_max: int = 2048
    # batch-bounded state reads (seen gates / nodes enrich / touched
    # views) switch from full-table scans to bucket- and file-pruned
    # keyed reads when the table's manifest row count reaches this
    # many rows — the point where the saved scan outweighs the tiny
    # per-iteration key collects.  Scale-sized bucket counts (>= 64)
    # enable the path regardless (bucket count ∝ corpus there, so the
    # table is big by construction).
    prune_reads_min_rows: int = 250_000
    # apply the shuffle-free Arrow-local per-(domain, salt) pre-filter
    # ahead of the politeness rank window only when the pending input's
    # plan-estimated size reaches this many bytes.  Below it the window
    # shuffle is trivially cheap and the extra JVM→Python pass is pure
    # overhead (the round-5 claim_hub_skew_salted 2× regression); above
    # it the pre-filter bounds the window's shuffle input, which is what
    # keeps politeness claims viable on a 10^10-row frontier.  Either
    # path yields bit-identical claims (the pre-filter only drops rows
    # the window provably drops — see frontier._local_domain_topk).
    politeness_prefilter_min_bytes: int = 1 << 30
    # snapshot retention: keep this many trailing versions per state
    # table/bucket (plus the latest one at-or-before the window start so
    # reads at any retained version still resolve), pruned at commit.
    # 0 = keep everything (full time travel; disk grows with
    # iterations).  The state LAYOUT (bucketed vs snapshot) is a
    # TableIO constructor arg — it's a storage property of the run
    # directory, not of the crawl semantics.
    snapshot_retain: int = 0

    @property
    def max_internal_links(self) -> int:
        """25% of max links for internal (domain_collector.py:1026)."""
        return max(1, self.max_links_per_page // 4)

    @property
    def max_external_links(self) -> int:
        """Remaining slots for external (domain_collector.py:1027)."""
        return self.max_links_per_page - self.max_internal_links

    @property
    def politeness_budget(self) -> int:
        """Max URLs per registrable domain per iteration; 0 = unlimited."""
        if self.politeness_window_s <= 0:
            return 0
        return max(1, int(self.politeness_window_s / self.request_delay_s))


DEFAULT_CONFIG = CrawlConfig()
