"""Benchmark harness — prints ONE JSON line.

Headline queries:
- crawl_iteration: one full engine iteration (claim → fetch join →
  extract UDF → link pipeline → nodes/edges → frontier merge → commit)
  over a deterministic bench corpus sized by the scale factor; reports
  URLs/sec and frontier-merge sec/iteration (the BASELINE.json metric).
- minhash_lsh / ann_cosine / pricing_summary / events_hourly /
  link_filter: the heavy non-crawl operators at sf scale.

Env:
  SPARK_GRAFT_SF_DIR  (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    (default 32)
  MTN_BENCH_SCALING=1 also runs the crawl at local[8] vs local[32] on
  the same corpus and reports throughput + scaling efficiency (the
  sandbox stand-in for the N vs 4N executor criterion).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sf_value(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_corpus(sf: float) -> str:
    """Deterministic crawl corpus sized by sf, cached across runs."""
    from map_the_net_crawler_spark.fixtures import write_fixtures
    n_domains = max(300, int(sf * 50_000))
    out = f"/tmp/mtn_bench_corpus_v3_{n_domains}"
    if not os.path.exists(os.path.join(out, "pages.parquet")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_fixtures(tmp, n_domains=n_domains, links_per_page=12,
                       hub_every=13, hub_out_links=150)
        os.rename(tmp, out)
    return out


def make_spark(cpus: int, shuffle: int | None = None):
    from map_the_net_crawler_spark.session import get_spark
    sp = get_spark(app_name=f"mtn-bench-{cpus}", master=f"local[{cpus}]",
                   shuffle_partitions=shuffle or cpus)
    sp.sparkContext.setLogLevel("ERROR")
    return sp


def bench_crawl(spark, corpus_dir: str, timed_iterations: int = 2):
    """Warmup iteration + timed full-corpus iterations in politeness mode."""
    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.plans.crawl import init_run
    from map_the_net_crawler_spark.plans.iteration import (CrawlInputs,
                                                           run_iteration)
    from map_the_net_crawler_spark.storage import TableIO

    inputs = CrawlInputs(
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        robots=spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        redirects=spark.read.schema(S.REDIRECTS).parquet(
            f"{corpus_dir}/redirects.parquet"),
        whois=spark.read.parquet(f"{corpus_dir}/whois.parquet"),
        dns=spark.read.parquet(f"{corpus_dir}/dns.parquet"),
        ssl=spark.read.parquet(f"{corpus_dir}/ssl.parquet"),
        geo=spark.read.parquet(f"{corpus_dir}/geo.parquet"))

    # all domains become seeds (the reference's queue at scale)
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = pages.select(
        F.col("url"),
        F.regexp_replace("url", "^http://", "").alias("domain_name"),
        F.lit(None).cast("string").alias("source_domain"),
        F.lit(1).alias("priority"),
        F.lit("pending").alias("status"),
        (F.row_number().over(Window.orderBy("url")) - 1)
        .cast("long").alias("discovery_seq"),
        F.col("warc_ts").alias("discovery_ts"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("int").alias("processed_iteration"))

    cfg = CrawlConfig(max_items=1_000_000, max_depth=3,
                      respect_robots_txt=True)
    run_dir = tempfile.mkdtemp(prefix="mtn_bench_run_")
    # Iceberg-style bucket sizing: bucket COUNT ∝ corpus so bucket SIZE
    # stays roughly constant — a few-10k-row frontier gets 8 buckets,
    # the frontier-growth bench scales its count with the filler
    n_seed = pages.count()
    tio = TableIO(run_dir, spark, num_buckets=max(8, n_seed // 25_000))
    next_seq = init_run(spark, tio, seeds)

    # warmup: a small iteration to JIT/compile all code paths
    warm_cfg = CrawlConfig(max_items=64)
    r = run_iteration(spark, tio, inputs, warm_cfg, 1, next_seq,
                      politeness_budget=0)
    next_seq = r.next_seq

    total_urls = 0
    total_s = 0.0
    merge_s = 0.0
    iters = []
    for i in range(2, 2 + timed_iterations):
        t0 = time.time()
        r = run_iteration(spark, tio, inputs, cfg, i, next_seq,
                          politeness_budget=0, salt_buckets=1)
        dt = time.time() - t0
        next_seq = r.next_seq
        total_urls += r.claimed
        total_s += dt
        merge_s += sum((r.timings or {}).get(k, 0.0) for k in
                       ("new_pending_write", "touched_buckets",
                        "tables_commit"))
        iters.append({"iteration": i, "claimed": r.claimed,
                      "processed": r.processed, "new_urls": r.new_urls,
                      "sec": round(dt, 2), "timings": r.timings})
        if r.claimed == 0:
            break
    shutil.rmtree(run_dir, ignore_errors=True)
    n_iters = max(1, len(iters))
    return {
        "urls_per_sec": round(total_urls / total_s, 2) if total_s else 0.0,
        "sec_per_iteration": round(total_s / n_iters, 2),
        "frontier_merge_sec_per_iteration": round(merge_s / n_iters, 3),
        "urls_total": total_urls,
        "sec": round(total_s, 2),
        "iterations": iters,
    }


def timed(fn):
    t0 = time.time()
    n = fn()
    return round(time.time() - t0, 2), n


def bench_canary(spark, sf_dir: str) -> float:
    """Fixed-work canary (BENCH.md noise protocol, promoted into the
    harness per VERDICT r3 item 10): the same minhash job run before AND
    after the bench.  If the two readings disagree wildly, or sit far
    above the documented quiet-host value (BENCH.md), the run was
    noise-contaminated and should be re-taken — the artifact carries its
    own adjudication.  Its work changed once: since ``minhash_lsh_pairs``
    shingles each document in one Arrow pass, the quiet reading at
    local[4] is ~1.5-2.2 s (it was ~3.7-5.1 s), so compare a reading
    only with the BENCH.md reference for the same code."""
    from pyspark.sql import functions as F

    from map_the_net_crawler_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .filter(F.col("doc_id") < 2000)
    sec, _ = timed(lambda: minhash_lsh_pairs(
        docs, n_hashes=32, bands=8, shingle_n=3,
        jaccard_threshold=0.5).count())
    return sec


def bench_crawl_politeness(spark, corpus_dir: str, budget: int = 8,
                           salt_buckets: int = 16) -> dict:
    """Politeness-budgeted crawl iteration (VERDICT r3 item 5): the
    claim caps URLs per registrable domain per iteration (the
    reference's request_delay re-expressed as cardinality) with the
    salted sub-quota windows, inside a FULL iteration — not just the
    claim stage the skew bench isolates."""
    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.plans.crawl import init_run
    from map_the_net_crawler_spark.plans.iteration import (CrawlInputs,
                                                           run_iteration)
    from map_the_net_crawler_spark.storage import TableIO
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    inputs = CrawlInputs(
        pages=spark.read.parquet(f"{corpus_dir}/pages.parquet"),
        robots=spark.read.parquet(f"{corpus_dir}/robots.parquet"),
        redirects=spark.read.schema(S.REDIRECTS).parquet(
            f"{corpus_dir}/redirects.parquet"),
        whois=spark.read.parquet(f"{corpus_dir}/whois.parquet"),
        dns=spark.read.parquet(f"{corpus_dir}/dns.parquet"),
        ssl=spark.read.parquet(f"{corpus_dir}/ssl.parquet"),
        geo=spark.read.parquet(f"{corpus_dir}/geo.parquet"))
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = pages.select(
        F.col("url"),
        F.regexp_replace("url", "^http://", "").alias("domain_name"),
        F.lit(None).cast("string").alias("source_domain"),
        F.lit(1).alias("priority"),
        F.lit("pending").alias("status"),
        (F.row_number().over(Window.orderBy("url")) - 1)
        .cast("long").alias("discovery_seq"),
        F.col("warc_ts").alias("discovery_ts"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("int").alias("processed_iteration"))
    cfg = CrawlConfig(max_items=1_000_000)
    run_dir = tempfile.mkdtemp(prefix="mtn_bench_pol_")
    tio = TableIO(run_dir, spark,
                  num_buckets=max(8, pages.count() // 25_000))
    next_seq = init_run(spark, tio, seeds)
    t0 = time.time()
    r = run_iteration(spark, tio, inputs, cfg, 1, next_seq,
                      politeness_budget=budget, salt_buckets=salt_buckets)
    dt = time.time() - t0
    shutil.rmtree(run_dir, ignore_errors=True)
    return {"budget": budget, "salt_buckets": salt_buckets,
            "claimed": r.claimed, "sec": round(dt, 2),
            "urls_per_sec": round(r.claimed / dt, 2) if dt else 0.0}


def bench_frontier_growth(spark, fillers=(50_000, 500_000)) -> dict:
    """VERDICT r3 item 1 'done' evidence: with bucketed incremental
    commits (buckets sized ∝ corpus, Iceberg-style constant bucket
    size), sec/iteration must stay roughly FLAT as the pending frontier
    grows 10× — the old full-rewrite layout scaled with the corpus.
    Filler rows are priority-0 (never claimed), so every run does the
    same batch work over a 10×-different state size; timed at iteration
    2+ (steady state: touched-bucket merge)."""
    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.operators.frontier import \
        DISCOVERY_TS_BASE
    from map_the_net_crawler_spark.plans.crawl import init_run
    from map_the_net_crawler_spark.plans.iteration import (CrawlInputs,
                                                           run_iteration)
    from map_the_net_crawler_spark.storage import TableIO
    from pyspark.sql import functions as F

    corpus = bench_corpus(0.006)   # 300-domain fixture; batch work fixed
    inputs = CrawlInputs(
        pages=spark.read.parquet(f"{corpus}/pages.parquet"),
        robots=spark.read.parquet(f"{corpus}/robots.parquet"),
        redirects=spark.read.schema(S.REDIRECTS).parquet(
            f"{corpus}/redirects.parquet"),
        whois=spark.read.parquet(f"{corpus}/whois.parquet"),
        dns=spark.read.parquet(f"{corpus}/dns.parquet"),
        ssl=spark.read.parquet(f"{corpus}/ssl.parquet"),
        geo=spark.read.parquet(f"{corpus}/geo.parquet"))
    seeds_real = spark.read.parquet(f"{corpus}/frontier_seed.parquet")
    out = {}
    for n_filler in fillers:
        max_seq = seeds_real.agg(F.max("discovery_seq")).collect()[0][0]
        filler = spark.range(n_filler).select(
            F.concat(F.lit("http://filler-"), F.col("id"),
                     F.lit(".zz")).alias("url"),
            F.concat(F.lit("filler-"), F.col("id"),
                     F.lit(".zz")).alias("domain_name"),
            F.lit(None).cast("string").alias("source_domain"),
            F.lit(0).alias("priority"),
            F.lit("pending").alias("status"),
            (F.col("id") + max_seq + 1).alias("discovery_seq"),
            F.lit(DISCOVERY_TS_BASE.replace(tzinfo=None))
            .cast("timestamp").alias("discovery_ts"),
            F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("error_message"),
            F.lit(None).cast("int").alias("processed_iteration"))
        seeds = seeds_real.unionByName(
            filler.select(*[f.name for f in S.FRONTIER.fields]))
        run_dir = tempfile.mkdtemp(prefix=f"mtn_bench_fg_{n_filler}_")
        # Iceberg-style sizing: bucket count ∝ corpus, bucket size const
        tio = TableIO(run_dir, spark,
                      num_buckets=max(64, n_filler // 1000))
        cfg = CrawlConfig(max_items=1_000_000)
        next_seq = init_run(spark, tio, seeds)
        r = run_iteration(spark, tio, inputs, cfg, 1, next_seq)  # warm
        secs = []
        for i in (2, 3):
            t0 = time.time()
            r = run_iteration(spark, tio, inputs, cfg, i, r.next_seq)
            secs.append(round(time.time() - t0, 2))
        shutil.rmtree(run_dir, ignore_errors=True)
        out[f"pending_{n_filler}"] = {"sec_per_iteration": min(secs),
                                      "all_sec": secs}
    ks = [f"pending_{n}" for n in fillers]
    a, b = out[ks[0]]["sec_per_iteration"], out[ks[-1]]["sec_per_iteration"]
    out["growth_ratio"] = round(b / a, 2) if a else None
    out["frontier_growth_factor"] = round(fillers[-1] / fillers[0], 1)
    return out


def bench_membership(spark, n_frontier: int = 500_000,
                     n_candidates: int = 200_000) -> dict:
    """The membership path of the frontier merge: the exact anti-join of
    discovered URLs vs the frontier url set (10% of candidates already
    exist)."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    d = _tf.mkdtemp(prefix="mtn_membench_")
    spark.range(n_frontier).select(
        F.concat(F.lit("http://d"), F.col("id") % 50_000, F.lit(".com/p"),
                 F.col("id")).alias("url")).write.parquet(f"{d}/frontier")
    spark.range(n_candidates).select(
        F.when(F.col("id") % 10 == 0,
               F.concat(F.lit("http://d"), F.col("id") % 50_000,
                        F.lit(".com/p"), F.col("id")))
        .otherwise(F.concat(F.lit("http://n"), F.col("id") % 50_000,
                            F.lit(".org/q"), F.col("id")))
        .alias("clean_url")).write.parquet(f"{d}/cand")
    cand = spark.read.parquet(f"{d}/cand")
    keys = spark.read.parquet(f"{d}/frontier") \
        .select(F.col("url").alias("clean_url"))

    plain_sec, _ = timed(
        lambda: cand.join(keys, "clean_url", "left_anti").count())
    shutil.rmtree(d, ignore_errors=True)
    return {"candidates": n_candidates, "frontier": n_frontier,
            "plain_anti_join_sec": plain_sec}


def bench_skew(spark, n_pending: int = 400_000, hub_share: float = 0.9,
               budget: int = 2_000) -> dict:
    """Hub-domain skew on the politeness claim (§4.2): one domain holds
    90% of pending URLs.  salt_buckets=1 collapses that domain's rank
    window into a single task; salt_buckets=16 splits it into
    deterministic sub-quota windows.  Reports wall time at both."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.operators.frontier import claim_batch

    d = _tf.mkdtemp(prefix="mtn_skewbench_")
    n_hub = int(n_pending * hub_share)
    spark.range(n_pending).select(
        F.when(F.col("id") < n_hub,
               F.concat(F.lit("http://hub.com/p"), F.col("id")))
        .otherwise(F.concat(F.lit("http://d"), F.col("id") % 20_000,
                            F.lit(".com/p"), F.col("id"))).alias("url"),
        F.when(F.col("id") < n_hub, F.lit("hub.com"))
        .otherwise(F.concat(F.lit("d"), F.col("id") % 20_000,
                            F.lit(".com"))).alias("domain_name"),
        F.lit(None).cast("string").alias("source_domain"),
        F.lit(1).alias("priority"),
        F.lit("pending").alias("status"),
        F.col("id").alias("discovery_seq"),
        F.lit(None).cast("timestamp").alias("discovery_ts"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("int").alias("processed_iteration"),
    ).write.parquet(f"{d}/frontier")
    frontier = spark.read.parquet(f"{d}/frontier")
    cfg = CrawlConfig(max_items=50_000)

    unsalted_sec, n1 = timed(
        lambda: claim_batch(frontier, cfg, politeness_budget=budget,
                            salt_buckets=1).count())
    salted_sec, n16 = timed(
        lambda: claim_batch(frontier, cfg, politeness_budget=budget,
                            salt_buckets=16).count())
    shutil.rmtree(d, ignore_errors=True)
    return {"pending": n_pending, "hub_share": hub_share, "budget": budget,
            "claimed_salt1": n1, "claimed_salt16": n16,
            "claim_salt1_sec": unsalted_sec,
            "claim_salt16_sec": salted_sec}


def bench_ops(spark, sf_dir: str):
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from map_the_net_crawler_spark.operators.dedup import minhash_lsh_pairs
    from map_the_net_crawler_spark.operators.similarity import (
        brute_force_cosine_topk, ivf_topk, lsh_bucketed_topk)

    out = {}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    out["minhash_lsh"], _ = timed(lambda: minhash_lsh_pairs(
        docs, n_hashes=32, bands=8, shingle_n=3,
        jaccard_threshold=0.5).count())
    out["ann_cosine_topk"], _ = timed(lambda: brute_force_cosine_topk(
        emb.filter(F.col("vec_id") < 100), emb, k=10).count())
    out["ann_lsh"], _ = timed(lambda: lsh_bucketed_topk(
        emb.filter(F.col("vec_id") < 100), emb, dim=64, k=10,
        n_planes=8).count())
    out["ann_ivf"], _ = timed(lambda: ivf_topk(
        emb.filter(F.col("vec_id") < 100), emb, dim=64, n_cells=16,
        nprobe=4, k=10).count())
    out["exact_dedup"], _ = timed(
        lambda: E.q_dedup_exact(spark, sf_dir).count())
    out["text_metrics"], _ = timed(
        lambda: E.q_text_metrics(spark, sf_dir).count())
    out["pricing_summary"], _ = timed(
        lambda: E.q_pricing_summary(spark, sf_dir).count())
    out["events_hourly"], _ = timed(
        lambda: E.q_events_hourly(spark, sf_dir).count())
    out["link_filter"], _ = timed(
        lambda: E.q_link_filter(spark, sf_dir).count())
    return out


def main():
    sf = sf_value(SF_DIR)
    corpus = bench_corpus(sf)
    result = {"metric": "crawl_urls_per_sec+op_latencies",
              "unit": "sec", "sf": sf, "cpus": CPUS}

    spark = make_spark(CPUS)
    t0 = time.time()
    # throwaway canary first: the very first job of a session measures
    # JVM and Python-worker warm-up (~8 s cold against ~1.4 s warm at
    # local[4] on a 4-core VM), not host noise — the recorded
    # pre-reading must isolate the latter
    bench_canary(spark, SF_DIR)
    canary_pre = bench_canary(spark, SF_DIR)
    crawl = bench_crawl(spark, corpus)
    queries = {"crawl_iteration": crawl["sec_per_iteration"]}
    queries.update(bench_ops(spark, SF_DIR))
    membership = bench_membership(spark)
    skew = bench_skew(spark)
    queries["claim_hub_skew_salted"] = skew["claim_salt16_sec"]
    politeness = bench_crawl_politeness(spark, corpus)
    queries["crawl_iteration_politeness"] = politeness["sec"]
    growth = bench_frontier_growth(spark)
    queries["frontier_growth_ratio_10x"] = growth["growth_ratio"]
    canary_post = bench_canary(spark, SF_DIR)
    spark.stop()

    result["value"] = round(time.time() - t0, 2)
    result["queries"] = queries
    result["crawl"] = {k: crawl[k] for k in
                       ("urls_per_sec", "sec_per_iteration",
                        "frontier_merge_sec_per_iteration", "urls_total")}
    result["membership"] = membership
    result["skew"] = skew
    result["politeness_crawl"] = politeness
    result["frontier_growth"] = growth
    # noise self-adjudication (BENCH.md protocol): identical fixed work
    # before/after — big disagreement or readings far above the quiet
    # value documented in BENCH.md mean the run is contaminated
    result["canary_sec_pre"] = canary_pre
    result["canary_sec_post"] = canary_post

    if os.environ.get("MTN_BENCH_SCALING") == "1":
        # same job, same input, two cluster sizes (N and 4N cores) — the
        # sandbox stand-in for the N vs 4N executor criterion.  A larger
        # corpus than the default bench so the data-parallel work
        # dominates the constant driver-side cost per iteration.
        from map_the_net_crawler_spark.fixtures import write_fixtures
        n_dom = int(os.environ.get("MTN_BENCH_SCALING_DOMAINS", "50000"))
        big = f"/tmp/mtn_bench_corpus_v3_{n_dom}"
        if not os.path.exists(os.path.join(big, "pages.parquet")):
            tmp = big + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            write_fixtures(tmp, n_domains=n_dom, links_per_page=12,
                           hub_every=13, hub_out_links=150)
            os.rename(tmp, big)
        # the sandbox host shows 2-4x run-to-run noise (shared-host CPU);
        # interleave the levels and take the best of N reps per level so
        # a noisy window doesn't land on one level only.  Both levels run
        # with the SAME shuffle-partition count so the physical plans are
        # identical — only the core count differs.
        reps = int(os.environ.get("MTN_BENCH_SCALING_REPS", "2"))
        levels = [int(x) for x in os.environ.get(
            "MTN_BENCH_SCALING_LEVELS", "8,32").split(",")]
        scaling = {"corpus_domains": n_dom, "reps": reps,
                   "levels": levels,
                   "aggregation": "min_sec_per_level(interleaved)"}
        samples: dict[int, list] = {c: [] for c in levels}
        for _ in range(reps):
            for cpus in levels:
                sp = make_spark(cpus, shuffle=32)
                c = bench_crawl(sp, big, timed_iterations=1)
                sp.stop()
                samples[cpus].append(c)
        for cpus, cs in samples.items():
            best = min(cs, key=lambda c: c["sec_per_iteration"])
            scaling[f"local[{cpus}]"] = {
                "urls_per_sec": best["urls_per_sec"],
                "sec_per_iteration": best["sec_per_iteration"],
                "all_sec": [c["sec_per_iteration"] for c in cs]}

        def eff(a, b, factor):
            ta = scaling[f"local[{a}]"]["urls_per_sec"]
            tb = scaling[f"local[{b}]"]["urls_per_sec"]
            return round((tb / ta) / factor, 3) if ta else None

        for a, b in zip(levels, levels[1:]):
            scaling[f"efficiency_{a}_to_{b}"] = eff(a, b, b / a)
        if 8 in levels and 32 in levels:
            scaling["efficiency_8_to_32"] = eff(8, 32, 4.0)
        result["scaling"] = scaling
        with open("BENCH_SCALING.json", "w") as f:
            json.dump(scaling, f, indent=2)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
