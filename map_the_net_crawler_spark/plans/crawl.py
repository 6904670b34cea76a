"""The crawl driver loop: iterative batch jobs with checkpoint/resume
(SURVEY.md §2.9, §7.1 M3/M6).

Structured Streaming cannot express the frontier feedback cycle
(frontier(i+1) = f(frontier(i))), so the loop is a plain driver-side
for-loop of bounded-shuffle Spark jobs — the idiomatic Spark answer for
iterative dataflow (SURVEY.md §7.3 hard part 3).  Each iteration commits
all five tables + the iteration/seq counters atomically via TableIO;
resume reads the last committed snapshot and continues, making a killed
run indistinguishable from an uninterrupted one (replaces the
reference's stuck-'processing' recovery, database.py:613-661).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import schemas as S
from ..config import CrawlConfig
from ..storage import TableIO, empty_frame
from .iteration import CrawlInputs, IterationResult, run_iteration


def init_run(spark: SparkSession, tio: TableIO, seeds: DataFrame) -> int:
    """Seed ingestion (S15, queue_processor.py:83-98): seeds become
    pending frontier rows; all other tables start empty.  The seeds' max
    ``discovery_seq`` rides the frontier write as an Observation, so the
    sequence counter costs no job of its own."""
    obs = Observation()
    seeds = seeds.select(*[f.name for f in S.FRONTIER.fields])
    tio.write("frontier", seeds.observe(
        obs, F.max("discovery_seq").alias("max_seq")), 0)
    tio.write("seen", empty_frame(spark, S.SEEN), 0)
    tio.write("nodes", empty_frame(spark, S.NODES), 0)
    tio.write("edges", empty_frame(spark, S.EDGES), 0)
    tio.write("metrics", empty_frame(spark, S.METRICS), 0)
    # a plan that ran no task (seeds with no partitions, e.g. a scan
    # whose files were all pruned) reports an empty metrics row: no seeds
    max_seq = obs.get["max_seq"] if obs._jo.getRow().length() else None
    next_seq = 0 if max_seq is None else max_seq + 1
    tio.write_meta({"iteration": 0, "next_seq": next_seq})
    return next_seq


@dataclass
class CrawlSummary:
    iterations: list[IterationResult] = field(default_factory=list)

    @property
    def total_processed(self) -> int:
        return sum(r.processed for r in self.iterations)


def run_crawl(spark: SparkSession, tio: TableIO, inputs: CrawlInputs,
              cfg: CrawlConfig, seeds: DataFrame | None = None,
              max_iterations: int = 100, politeness_budget: int = 0,
              salt_buckets: int = 1,
              progress=None) -> CrawlSummary:
    """Run (or resume) a crawl until the frontier drains or
    max_iterations is hit.  Pass seeds=None to resume from the last
    committed snapshot."""
    meta = tio.read_meta()
    if seeds is not None:
        next_seq = init_run(spark, tio, seeds)
        start_iter = 1
    else:
        if not meta:
            raise ValueError("no checkpoint to resume and no seeds given")
        next_seq = int(meta["next_seq"])
        start_iter = int(meta["iteration"]) + 1

    summary = CrawlSummary()
    for i in range(start_iter, start_iter + max_iterations):
        res = run_iteration(spark, tio, inputs, cfg, i, next_seq,
                            politeness_budget, salt_buckets)
        if res.claimed == 0:
            break
        summary.iterations.append(res)
        next_seq = res.next_seq
        if progress is not None:
            progress(res)
    return summary


def read_outputs(tio: TableIO) -> dict[str, DataFrame]:
    """The four crawl tables as of the last committed iteration.  The run
    meta is the commit point: a version a crashed iteration wrote before
    its meta commit stays invisible here."""
    version = tio.read_meta().get("iteration")
    return {name: tio.read(name, getattr(S, name.upper()), version=version)
            for name in ("frontier", "seen", "nodes", "edges")}
