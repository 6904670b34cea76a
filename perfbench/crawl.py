"""Crawl workload: the engine's public crawl API driven as a closed loop
with one client (each ``run_iteration`` waits for the previous one, as
``run_crawl`` does), checked against the sequential reference oracle."""

from __future__ import annotations

import os
import pickle
import shutil
import time
import traceback
from contextlib import nullcontext

from . import trace as T
from .common import (CACHE, DEADLINE_S, STATE, cpu_s, dir_bytes, median,
                     peak_rss_mb)
from .inputs import FILLER_PREFIX, crawl_corpus


def _inputs(spark, corpus: str):
    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.plans.iteration import CrawlInputs
    rd = lambda n: spark.read.parquet(os.path.join(corpus, f"{n}.parquet"))
    return CrawlInputs(
        pages=rd("pages"), robots=rd("robots"),
        redirects=spark.read.schema(S.REDIRECTS).parquet(
            os.path.join(corpus, "redirects.parquet")),
        whois=rd("whois"), dns=rd("dns"), ssl=rd("ssl"), geo=rd("geo"))


# ---- reference oracle ------------------------------------------------------

def _oracle(corpus: str, params: dict, iterations: int,
            next_seq: int) -> dict:
    """The pure-Python ``ReferenceOracle`` on the same corpus, seeds and
    config, cached per (inputs, iteration count).  Filler rows are
    left out: they are priority 0 behind every real seed, so no iteration
    that claims only real seeds can see them — the oracle instead starts
    its sequence counter where the engine's does."""
    key = "oracle-" + os.path.basename(corpus) + f"-it{iterations}.pkl"
    path = os.path.join(CACHE, key)
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import pandas as pd

    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.oracle.pyref import ReferenceOracle
    fx = {n: pd.read_parquet(os.path.join(corpus, f"{n}.parquet"))
          for n in ("pages", "robots", "redirects", "whois", "dns", "ssl",
                    "geo")}
    fx["frontier_seed"] = pd.read_parquet(
        os.path.join(corpus, "seeds_real.parquet"))
    o = ReferenceOracle(fx, CrawlConfig(max_items=params["batch"]))
    o.st.next_seq = next_seq
    st = o.run(max_iterations=iterations)
    out = {
        "order": st.crawl_order,
        "seen": {u: (h["status"], h["links_found"])
                 for u, h in st.seen.items()},
        "edges": {k: (v["link_text"], v["link_url"])
                  for k, v in st.edges.items()},
        "nodes": {d: _node_key(n) for d, n in st.nodes.items()},
        "frontier": {u: (q["status"], q["priority"], q["depth"],
                         q["discovery_seq"]) for u, q in st.queue.items()},
    }
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


_NODE_COLS = ("title", "description", "favicon_url", "category",
              "created_date", "expiry_date", "registrar", "asn",
              "ssl_valid", "country", "ip_address")


def _node_key(n: dict) -> tuple:
    return tuple(n.get(k) for k in _NODE_COLS)


def engine_outputs(spark, tio, iterations: int) -> dict:
    """Claim order per iteration and the committed frontier (real rows),
    seen, nodes and edges, plus the filler rows' status counts."""
    from pyspark.sql import functions as F

    from map_the_net_crawler_spark import schemas as S
    from map_the_net_crawler_spark.plans.crawl import read_outputs
    order = []
    for i in range(1, iterations + 1):
        rows = (tio.read("gated", version=i).orderBy("claim_rank")
                .select("claim_rank", "url").collect())
        order += [(i, r.claim_rank, r.url) for r in rows]
    out = read_outputs(tio)
    fr = out["frontier"]
    is_fill = F.col("url").startswith(FILLER_PREFIX)
    filler = {r["status"]: r["n"] for r in fr.filter(is_fill)
              .groupBy("status").agg(F.count("*").alias("n")).collect()}
    return {
        "order": order,
        "seen": {r.url: (r.status, r.links_found)
                 for r in out["seen"].collect()},
        "edges": {(r.src_domain, r.dst_domain, r.relationship_type):
                  (r.link_text, r.link_url) for r in out["edges"].collect()},
        "nodes": {r.domain_name: _node_key(r.asDict())
                  for r in out["nodes"].collect()},
        "frontier": {r.url: (r.status, r.priority, r.depth, r.discovery_seq)
                     for r in fr.filter(~is_fill).collect()},
        "filler": filler,
    }


def check_outputs(eng: dict, ora: dict, n_filler: int) -> dict[str, bool]:
    """Named pass/fail for every compared output."""
    iters = sorted({i for i, _r, _u in ora["order"]})
    res = {}
    for i in iters:
        res[f"order_it{i}"] = ([x for x in eng["order"] if x[0] == i]
                               == [x for x in ora["order"] if x[0] == i])
    res["order_len"] = len(eng["order"]) == len(ora["order"])
    for k in ("seen", "edges", "nodes", "frontier"):
        res[k] = eng[k] == ora[k]
    res["filler_untouched"] = eng["filler"] == {"pending": n_filler}
    return res


# ---- the workload -----------------------------------------------------------

def run(spark, *, params: dict, seed: int, seconds: float, clock,
        tracer=None) -> dict:
    from map_the_net_crawler_spark.config import CrawlConfig
    from map_the_net_crawler_spark.plans import iteration as it
    from map_the_net_crawler_spark.plans.crawl import init_run
    from map_the_net_crawler_spark.storage import TableIO

    t = time.time()
    corpus = crawl_corpus(seed, params["n_domains"], params["links_per_page"],
                          params["hub_every"], params["hub_out_links"],
                          params["filler"])
    clock.excluded += time.time() - t   # input generation is not set-up

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    layer: dict[str, float] = {}
    uninstall = T.install_crawl(tracer) if tracer is not None else None
    try:
        inputs = _inputs(spark, corpus)
        seeds = spark.read.parquet(os.path.join(corpus, "seeds_real.parquet")) \
            .unionByName(spark.read.parquet(
                os.path.join(corpus, "seeds_filler.parquet")))
        tio = TableIO(run_dir, spark, num_buckets=params["buckets"])
        cfg = CrawlConfig(max_items=params["batch"])

        t = time.time()
        next_seq0 = next_seq = init_run(spark, tio, seeds)
        layer["crawl.init_run_s"] = time.time() - t

        def one(i, seq):
            with tracer.root_span("iteration", i) if tracer else nullcontext():
                try:
                    return it.run_iteration(spark, tio, inputs, cfg, i, seq)
                finally:
                    if tracer is not None:
                        T.close_open_sketch(tracer)

        # no separate warm-up iteration: a crawl iteration costs tens of
        # seconds of mostly fixed driver work, so the measured loop starts
        # at iteration 1 — the first iteration a fresh crawl process pays
        setup_s = clock.since_start()

        samples, cpu, results, raised = [], [], [], 0
        i = 1
        files_before = _listing(run_dir) if tracer is not None else None
        io_per_it = {}
        while True:
            t, c = time.time(), cpu_s()
            try:
                r = one(i, next_seq)
            except Exception:   # an operation that raised: count it, stop
                traceback.print_exc()
                raised = 1
                break
            dt = time.time() - t
            cpu.append(cpu_s() - c)
            samples.append(dt)
            results.append(r)
            next_seq = r.next_seq
            if files_before is not None:
                files_after = _listing(run_dir)
                changed = [p for p, v in files_after.items()
                           if files_before.get(p) != v]
                io_per_it[i] = (sum(files_after[p][0] for p in changed),
                                len(changed))
                files_before = files_after
            i += 1
            # closed loop for `seconds`: start another iteration only if
            # it is expected to end inside the window
            if (sum(samples) + median(samples) > seconds
                    or clock.since_start() + median(samples) > DEADLINE_S):
                break

        iterations = i - 1
        # before the checks: the oracle runs in this process
        rss = peak_rss_mb()
        claimed = sum(r.claimed for r in results)
        disk = dir_bytes(run_dir)
        t = time.time()
        eng = engine_outputs(spark, tio, iterations)
        t_eng = time.time() - t
        ora = _oracle(corpus, params, iterations, next_seq0)
        t_ora = time.time() - t - t_eng
        checks = check_outputs(eng, ora, params["filler"])
        attempted = len(results) + raised
        if all(v for k, v in checks.items() if not k.startswith("order")):
            failed = raised + sum(not v for k, v in checks.items()
                                  if k.startswith("order"))
        else:
            # a table mismatch cannot be pinned to one iteration: every
            # iteration produced part of the compared state
            failed = attempted
        out = {
            "setup_s": setup_s, "peak_rss_mb": rss,
            "op_s_p50": median(samples),
            "items_per_s": claimed / sum(samples) if samples else 0.0,
            "attempted": attempted,
            "failed": min(failed, attempted),
            "correct": failed == 0 and all(checks.values()),
            "checks": checks,
            "samples": samples, "cpu": cpu,
            "info": {"check_engine_s": t_eng, "check_oracle_s": t_ora,
                     "iterations": iterations, "measured": len(samples),
                     "claimed": claimed, "disk_bytes": disk,
                     "disk_bytes_per_url": disk / max(1, claimed),
                     "claim_io": [r.claim_io for r in results]},
            "layer": layer,
            # for the self-test: the compared outputs
            "_outputs": (eng, ora),
        }
        if tracer is not None:
            out["trace_results"] = results
            out["io_per_it"] = io_per_it
        return out
    finally:
        if uninstall is not None:
            uninstall()
        shutil.rmtree(run_dir, ignore_errors=True)


def _listing(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for dp, _dn, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime)
    return out


def layer_metrics(tracer, groups: dict, results, io_per_it: dict,
                  cores: int) -> dict[str, float]:
    """Per-layer numbers for each measured iteration, reported as the
    median over measured iterations."""
    per_it: list[dict[str, float]] = []
    for r in results:
        i = r.iteration
        spans = [s for s in tracer.spans if s["trace"] == i]
        root = next(s for s in spans if s["name"] == "iteration")
        wall = root["end"] - root["start"]
        rest = [s for s in spans if s is not root]
        tot = T.subtree_counters(spans, [root], groups)
        m = {
            "iteration.wall_s": wall,
            "iteration.self_s": wall - T.union_s(
                (s["start"], s["end"]) for s in rest),
            "iteration.jobs": tot["jobs"], "iteration.stages": tot["stages"],
            "iteration.tasks": tot["tasks"],
            "iteration.task_s": tot["task_s"],
            "iteration.idle_core_s": cores * wall - tot["task_s"],
            "iteration.gc_s": tot["gc_s"],
            "iteration.failed_tasks": tot["failed_tasks"],
        }
        for ph in T.PHASES:
            ss = [s for s in rest if s["name"] == ph]
            c = T.subtree_counters(spans, ss, groups)
            m[f"{ph}_s"] = T.union_s((s["start"], s["end"]) for s in ss)
            m[f"{ph}_jobs"] = c["jobs"]
            m[f"{ph}_task_s"] = c["task_s"]
            m[f"{ph}_shuffle_bytes"] = c["shuffle_bytes"]
            m[f"{ph}_spill_bytes"] = c["spill_bytes"]
        for name in set(T.PLAN_SPANS.values()):
            m[f"{name}_s"] = sum(s["end"] - s["start"] for s in rest
                                 if s["name"] == name)
        m["frontier.claimed"] = r.claimed
        m["frontier.processed"] = r.processed
        m["frontier.new_urls"] = r.new_urls
        m["frontier.useful_ratio"] = r.processed / r.claimed if r.claimed \
            else 0.0
        m["storage.merge_busy_s"] = sum(
            s["end"] - s["start"] for s in rest
            if s["attrs"].get("method") == "merge_state")
        m["storage.read_s"] = sum(
            s["end"] - s["start"] for s in rest
            if str(s["attrs"].get("method", "")).startswith("read"))
        b, n = io_per_it.get(i, (0, 0))
        m["storage.bytes_written"] = b
        m["storage.files_written"] = n
        cio = r.claim_io or {}
        m["storage.claim_files_opened"] = cio.get("files_opened", 0)
        m["storage.claim_files_total"] = cio.get("files_total", 0)
        m["storage.delta_parts"] = cio.get("delta_parts", 0)
        m["storage.compactions"] = tracer.compactions.get(i, 0)
        per_it.append(m)
    keys = per_it[0].keys() if per_it else []
    return {k: median([m[k] for m in per_it]) for k in keys}
