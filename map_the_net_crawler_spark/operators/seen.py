"""URL-seen set: per-domain history counts (SURVEY.md §2.1 A2, §2.3 J7).

URL-seen membership has one path: the exact left-anti join of the
discovered URLs against the frontier url set in
``frontier.merge_discoveries``.  The frontier side of that join is
bucket-pruned to the candidates' own buckets before the join
(``plans.iteration``), so the probe reads only the buckets a candidate
can live in.  The frontier table is the authoritative set; no
probabilistic pre-filter stands in front of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seen_counts_pruned(seen: DataFrame, domains: DataFrame) -> DataFrame:
    """A2 (database.py:533-545): history rows per domain, restricted to
    a bounded domain set (one broadcast semi-join into the seen scan,
    then the group-by).  The table is unique on url, so count(*) ==
    count(distinct url).

    The crawl loop only ever JOINS the counts against iteration-bounded
    key sets (claimed domains, this batch's discovery targets), so the
    global per-domain aggregate — whose row count grows with the whole
    crawl and would eventually be unbroadcastable — is never needed:
    pruning to the join's own key set first keeps the broadcast side
    bounded by the batch at any corpus size, bit-identically (a domain
    outside the set can never appear as a join key).  ``domains``:
    one ``domain_name`` column, iteration-bounded."""
    return (seen
            .join(F.broadcast(domains.select("domain_name").distinct()),
                  "domain_name", "left_semi")
            .groupBy("domain_name").agg(F.count("*").alias("seen_cnt")))
