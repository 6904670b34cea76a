"""Crawl configuration.

Defaults mirror the reference's ``COLLECTION_CONFIG`` (reference
``config.py:17-29``): max_links_per_page=50, max_urls_per_domain=10,
max_depth=3, max_items=10, respect_robots_txt=True,
http_user_agent='WorldMapper/1.0 (compatible)'.  The reference's
request_delay sleep has no field here: the engine re-expresses it as a
per-iteration claim budget, the ``politeness_budget`` argument of
``run_crawl`` (see ``operators.frontier.claim_batch``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CrawlConfig:
    # Reference defaults (config.py:17-29)
    max_links_per_page: int = 50
    max_urls_per_domain: int = 10
    max_depth: int = 3
    max_items: int = 10
    respect_robots_txt: bool = True
    http_user_agent: str = "WorldMapper/1.0 (compatible)"

    # Engine-only knobs
    # batch-key ceiling for the literal-isin dim prunes: below this many
    # claimed domains the enrichment/complete-set prunes use a pushed
    # in-filter (no broadcast subtree per dim); above it they fall back
    # to the broadcast semi-join (a 100k-literal in-list bloats codegen)
    enrich_inlist_max: int = 2048
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
    # iterations).  State tables have one layout (bucketed
    # merge-on-read, storage.TableIO); its bucket count and compaction
    # cadence are TableIO constructor args — storage properties of the
    # run directory, not of the crawl semantics.
    snapshot_retain: int = 0

    @property
    def max_internal_links(self) -> int:
        """25% of max links for internal (domain_collector.py:1026)."""
        return max(1, self.max_links_per_page // 4)

    @property
    def max_external_links(self) -> int:
        """Remaining slots for external (domain_collector.py:1027)."""
        return self.max_links_per_page - self.max_internal_links

