"""Self-test of the benchmark on tiny inputs, in one Spark session:

- every declared end-to-end metric (untraced) and per-layer metric
  (traced) prints with its unit, for every workload;
- the traced run attributes Spark jobs to spans;
- a deliberately corrupted output makes each workload's check fail.

    python3 perfbench/selftest.py

Exits 0 when every assertion holds."""

from __future__ import annotations

import copy
import os
import shutil
import sys
import time

T_START = time.time()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402
from perfbench import run as R  # noqa: E402

TINY = {
    "crawl_deep_frontier": {"n_domains": 60, "links_per_page": 6,
                            "hub_every": 13, "hub_out_links": 20,
                            "filler": 500, "batch": 16, "buckets": 64},
    "neardup_ops": {"n_docs": 200, "n_vecs": 200, "dim": 64,
                    "queries": 10},
}


def _corrupt_crawl(eng: dict) -> list[dict]:
    """One corrupted copy per compared output kind."""
    out = []
    c = copy.deepcopy(eng)
    c["order"][0], c["order"][1] = c["order"][1], c["order"][0]
    out.append(c)
    for k in ("seen", "edges", "nodes", "frontier"):
        c = copy.deepcopy(eng)
        c[k].pop(next(iter(sorted(c[k]))))
        out.append(c)
    c = copy.deepcopy(eng)
    c["filler"] = {"pending": sum(c["filler"].values()) - 1, "completed": 1}
    out.append(c)
    return out


def _corrupt_neardup(out: dict) -> list[dict]:
    res = []
    c = dict(out)
    c["dedup.minhash"] = list(out["dedup.minhash"])[1:]
    res.append(c)
    for op in ("similarity.brute_topk", "similarity.lsh_topk",
               "similarity.ivf_topk"):
        rows = [list(r) for r in out[op]]
        rows[0][2] = rows[0][2] + 0.01          # a wrong cosine
        c = dict(out)
        c[op] = rows
        res.append(c)
    return res


def main() -> int:
    if not common.engine_present():
        print("selftest: engine package not found", file=sys.stderr)
        return 2
    spec = R._spec()
    common.pin_env()
    ev_dir = os.path.join(common.STATE, f"eventlog-selftest-{os.getpid()}")
    shutil.rmtree(ev_dir, ignore_errors=True)
    spark = common.start_spark(ev_dir)
    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    try:
        for name, params in TINY.items():
            for traced in (False, True):
                res = R.run_workload(name, seed=5, seconds=1, traced=traced,
                                     params=params, spark=spark,
                                     ev_dir=ev_dir, t_start=time.time())
                mode = "traced" if traced else "untraced"
                expect(res["correct"] and res["failed"] == 0,
                       f"{name} {mode}: outputs check")
                ms = R.metrics_for(res, spec, traced)
                decl = spec["per_layer" if traced else "end_to_end"]
                expect(all(m["name"] in ms and ms[m["name"]]["unit"]
                           == m["unit"] and isinstance(
                               ms[m["name"]]["value"], float)
                           for m in decl),
                       f"{name} {mode}: all {len(decl)} metrics with units")
                if not traced:
                    expect(all(v["value"] > 0 for v in ms.values()),
                           f"{name} untraced: every end-to-end metric > 0")
                elif name.startswith("crawl"):
                    expect(ms["iteration.jobs"]["value"] > 0
                           and ms["frontier.claim_jobs"]["value"] > 0
                           and ms["storage.commit_jobs"]["value"] > 0,
                           f"{name} traced: jobs folded onto spans")
                else:
                    expect(ms["dedup.minhash_jobs"]["value"] > 0
                           and ms["similarity.jobs"]["value"] > 0,
                           f"{name} traced: jobs folded onto spans")
                if traced:
                    continue
                if name.startswith("crawl"):
                    from perfbench.crawl import check_outputs
                    eng, ora = res["_outputs"]
                    for i, bad in enumerate(_corrupt_crawl(eng)):
                        expect(not all(check_outputs(
                            bad, ora, params["filler"]).values()),
                            f"{name}: corrupted output #{i} fails the check")
                else:
                    for i, bad in enumerate(_corrupt_neardup(
                            res["_outputs"])):
                        expect(not res["_check"](bad),
                               f"{name}: corrupted output #{i} fails the "
                               "check")
    finally:
        common.stop_spark(spark)
        shutil.rmtree(ev_dir, ignore_errors=True)
    print(f"selftest: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
