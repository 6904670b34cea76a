"""The crawl-engine benchmark: one workload per run, seeded inputs,
checked outputs, one result line.

    python3 perfbench/run.py --workload crawl_deep_frontier --seed 1 \
        --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics (BENCHMARK.json
``end_to_end``); ``--trace 1`` runs with spans, job tagging and the Spark
event log on and prints the per-layer metrics (``per_layer``).  The last
line of stdout is the result JSON; the line before it (``info ...``)
records the pinned session settings, cpus, the pyspark version and
/proc/loadavg before and after the run.  See perfbench/README.md."""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = {
    "crawl_deep_frontier": {
        "kind": "crawl",
        "params": {"n_domains": 2000, "links_per_page": 12, "hub_every": 13,
                   "hub_out_links": 150, "filler": 20_000, "batch": 256,
                   "buckets": 64},
    },
    "neardup_ops": {
        "kind": "neardup",
        "params": {"n_docs": 2000, "n_vecs": 2000, "dim": 64,
                   "queries": 100},
    },
}


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 params: dict | None = None, spark=None,
                 ev_dir: str | None = None,
                 t_start: float | None = None) -> dict:
    """Run one workload and return its metrics, checks and info.  With
    ``spark`` given the caller owns the session (and its event log
    directory ``ev_dir``, needed for traced runs)."""
    from perfbench import trace as T
    wl = WORKLOADS[name]
    params = params or wl["params"]
    clock = common.Clock(t_start or T_START)
    settings = common.pin_env()
    load_before = common.loadavg()
    import pyspark
    own = spark is None
    if own:
        ev_dir = os.path.join(common.STATE, f"eventlog-{os.getpid()}")
        shutil.rmtree(ev_dir, ignore_errors=True)
    t = time.time()
    if own:
        spark = common.start_spark(ev_dir if traced else None)
    session_s = time.time() - t
    tracer = T.Tracer(spark.sparkContext) if traced else None
    try:
        if wl["kind"] == "crawl":
            from perfbench import crawl as W
            res = W.run(spark, params=params, seed=seed, seconds=seconds,
                        clock=clock, tracer=tracer)
        else:
            from perfbench import neardup as W
            res = W.run(spark, params=params, seed=seed, seconds=seconds,
                        clock=clock, tracer=tracer)
    finally:
        if own:
            common.stop_spark(spark)
    res["layer"]["session.start_s"] = session_s
    if traced:
        groups = T.fold_event_log(ev_dir)
        if wl["kind"] == "crawl":
            lm = W.layer_metrics(tracer, groups, res.pop("trace_results"),
                                 res.pop("io_per_it"), common.cores())
            lm["storage.bytes_per_url"] = res["info"]["disk_bytes_per_url"]
        else:
            lm = W.layer_metrics(tracer, groups, res)
        res["layer"].update(lm)
        res["layer"]["trace.op_s_p50"] = res["op_s_p50"]
    if own:
        shutil.rmtree(ev_dir, ignore_errors=True)
    res["info"].update({
        "workload": name, "seed": seed, "seconds": seconds,
        "traced": traced, "cpus": common.cores(),
        "pyspark": pyspark.__version__, "settings": settings,
        "params": params, "loadavg_before": load_before,
        "loadavg_after": common.loadavg(), "checks": res.get("checks"),
        "samples_s": res["samples"], "cpu_s": res["cpu"],
        "wall_s": time.time() - clock.t0,
        "layer": {k: v for k, v in res["layer"].items()
                  if k in ("session.start_s", "crawl.init_run_s",
                           "similarity.lsh_first_s")},
    })
    return res


def metrics_for(res: dict, spec: dict, traced: bool) -> dict:
    """The declared metrics of this mode, each with its unit; a metric a
    workload does not exercise reads 0."""
    e2e = {"setup_s": res["setup_s"], "op_s_p50": res["op_s_p50"],
           "items_per_s": res["items_per_s"],
           "op_cpu_s": common.median(res["cpu"]),
           "peak_rss_mb": res["peak_rss_mb"]}
    src = res["layer"] if traced else e2e
    decl = spec["per_layer"] if traced else spec["end_to_end"]
    return {m["name"]: {"value": float(src.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in decl}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not common.engine_present():
        print("perfbench: the engine package map_the_net_crawler_spark is "
              f"not in {common.ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    spec = _spec()
    try:
        res = run_workload(args.workload, args.seed, args.seconds,
                           bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    common.emit(res["correct"], res["attempted"], res["failed"],
                metrics_for(res, spec, bool(args.trace)), res["info"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
