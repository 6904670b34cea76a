"""Fixed-cost Spark jobs stay out of TableIO's read and commit paths.

Each crawl iteration runs a few dozen TableIO calls, so a job that one of
them starts for bookkeeping (a distributed file listing, a parquet
schema inference, a sizing count, a key collect) is paid dozens of
times per iteration regardless of the batch size.  These tests count
the jobs a call starts through its job group."""

from __future__ import annotations

import itertools
import json
import os
import tempfile

from pyspark.sql import functions as F

from map_the_net_crawler_spark import schemas as S
from map_the_net_crawler_spark.operators.frontier import DISCOVERY_TS_BASE
from map_the_net_crawler_spark.storage import TableIO, bucket_of

_GROUPS = itertools.count()


def _job_stages(spark, fn) -> list[list[str]]:
    """Run ``fn`` under a fresh job group; return, per job it started,
    the names of the job's stages (``"<action> at <call site>"``)."""
    sc = spark.sparkContext
    group = f"jobcount-{os.getpid()}-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = []
    for jid in sorted(st.getJobIdsForGroup(group)):
        info = st.getJobInfo(jid)
        out.append([st.getStageInfo(s).name for s in info.stageIds
                    if st.getStageInfo(s) is not None])
    return out


def _frontier(spark, n: int, prefix: str = "d", seq0: int = 0):
    return spark.range(n).select(
        F.concat(F.lit(f"http://{prefix}"), F.col("id"),
                 F.lit(".com/")).alias("url"),
        F.concat(F.lit(prefix), F.col("id"), F.lit(".com"))
        .alias("domain_name"),
        F.lit(None).cast("string").alias("source_domain"),
        F.pmod(F.col("id"), F.lit(7)).cast("int").alias("priority"),
        F.lit("pending").alias("status"),
        (F.col("id") + seq0).alias("discovery_seq"),
        F.lit(DISCOVERY_TS_BASE.replace(tzinfo=None)).cast("timestamp")
        .alias("discovery_ts"),
        F.lit(0).alias("depth"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(None).cast("int").alias("processed_iteration"),
    ).select(*[f.name for f in S.FRONTIER.fields])


def _delta(spark, n: int, v: int):
    """``n`` new rows as an in-memory frame (its write is one job)."""
    rows = _frontier(spark, n, prefix=f"new{v}-", seq0=10_000 * v).collect()
    return spark.createDataFrame(rows, S.FRONTIER)


def _store(spark, **kw) -> TableIO:
    tio = TableIO(tempfile.mkdtemp(prefix="mtn_jobs_"), spark,
                  num_buckets=64, **kw)
    tio.write("frontier", _frontier(spark, 3_000), 0)
    # every bucket populated: a base read opens 64 bucket dirs, past
    # Spark's default 32-path parallel-listing threshold
    assert len(tio._load_manifest("frontier", 0)["buckets"]) == 64
    return tio


class TestNoFixedJobs:
    def test_state_reads_start_no_job(self, spark):
        tio = _store(spark, compact_every=100)
        tio.merge_state("frontier", _delta(spark, 20, 1), 1, 0)
        assert _job_stages(spark, lambda: tio.read(
            "frontier", S.FRONTIER, version=1)) == []
        assert _job_stages(spark, lambda: tio.read_state(
            "frontier", version=1, buckets=list(range(40)))) == []
        assert _job_stages(spark, lambda: tio.read_claim_candidates(
            "frontier", 1, 10)) == []
        seen = _frontier(spark, 3_000).select(
            "url", "domain_name", F.lit("success").alias("status"),
            F.lit(1).alias("links_found"),
            F.lit(0).alias("processed_iteration"))
        tio.write("seen", seen, 0)
        keys = [f"d{i}.com" for i in range(0, 3_000, 50)]
        assert _job_stages(spark, lambda: tio.read_keyed_state(
            "seen", 0, keys=keys, schema=S.SEEN)) == []

    def test_scratch_reread_starts_no_job(self, spark):
        tio = _store(spark)
        df = _frontier(spark, 50).withColumn(
            "tags", F.array(F.col("domain_name"))) \
            .withColumn("meta", F.struct(F.col("priority").alias("p")))
        tio.write("gated", df, 1)
        got = []
        assert _job_stages(spark, lambda: got.append(
            tio.read("gated", version=1))) == []
        # the recorded schema is the one inference would have produced
        inferred = spark.read.parquet(tio.snapshot_path("gated", 1)).schema
        assert got[0].schema == inferred
        assert sorted(map(tuple, got[0].collect())) == \
            sorted(map(tuple, df.collect()))

    def test_small_merge_is_one_job(self, spark):
        tio = _store(spark, compact_every=100)
        delta = _delta(spark, 30, 1)
        want_buckets = sorted(
            r["b"] for r in delta.select(
                bucket_of("url", 64).alias("b")).distinct().collect())
        jobs = _job_stages(spark, lambda: tio.merge_state(
            "frontier", delta, 1, 0))
        assert len(jobs) == 1, jobs
        # the write observed the exact size and bucket set
        man = tio._load_manifest("frontier", 1)
        assert man["deltas"] == [1]
        assert man["delta_rows"] == {1: 30}
        assert man["delta_buckets"] == {1: want_buckets}

    def test_compaction_runs_no_collect(self, spark):
        tio = _store(spark, compact_every=100)
        tio.merge_state("frontier", _delta(spark, 30, 1), 1, 0)
        tio.merge_state("frontier", _delta(spark, 30, 2), 2, 1)
        before = sorted(map(tuple, tio.read_state(
            "frontier", version=2, schema=S.FRONTIER).collect()))
        jobs = _job_stages(spark, lambda: tio._compact("frontier", 2))
        assert jobs, "the compaction rewrites the touched buckets"
        collects = [n for stages in jobs for n in stages
                    if n.startswith("collect at")]
        assert collects == [], jobs
        man = tio._load_manifest("frontier", 2)
        assert man["deltas"] == []
        assert sorted(map(tuple, tio.read_state(
            "frontier", version=2, schema=S.FRONTIER).collect())) == before

    def test_compaction_without_recorded_buckets_folds_all(self, spark):
        """A delta whose manifest entry carries no bucket set (committed
        before sets were recorded) folds every bucket, with no job to
        find its buckets and no base row lost."""
        tio = _store(spark, compact_every=100)
        tio.merge_state("frontier", _delta(spark, 30, 1), 1, 0)
        tio.merge_state("frontier", _delta(spark, 30, 2), 2, 1)
        path = os.path.join(tio._ptr_dir("frontier"), "v000002.json")
        with open(path) as f:
            m = json.load(f)
        del m["delta_buckets"]["1"]
        with open(path, "w") as f:
            json.dump(m, f)
        before = sorted(map(tuple, tio.read_state(
            "frontier", version=2, schema=S.FRONTIER).collect()))
        jobs = _job_stages(spark, lambda: tio._compact("frontier", 2))
        collects = [n for stages in jobs for n in stages
                    if n.startswith("collect at")]
        assert collects == [], jobs
        man = tio._load_manifest("frontier", 2)
        assert man["deltas"] == []
        assert set(man["buckets"].values()) == {2}
        assert sorted(map(tuple, tio.read_state(
            "frontier", version=2, schema=S.FRONTIER).collect())) == before
