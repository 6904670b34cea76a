"""Fixed-cost Spark jobs stay out of TableIO's read and commit paths.

Each crawl iteration runs a few dozen TableIO calls, so a job that one of
them starts for bookkeeping (a distributed file listing, a parquet
schema inference, a sizing count, a key collect) is paid dozens of
times per iteration regardless of the batch size.  These tests count
the jobs a call starts through its job group.  An empty read must stay
in the JVM too: a Python-backed empty table starts Python workers in
every query that touches it."""

from __future__ import annotations

import itertools
import json
import os
import tempfile

from pyspark.sql import functions as F

from map_the_net_crawler_spark import schemas as S
from map_the_net_crawler_spark.config import CrawlConfig
from map_the_net_crawler_spark.operators.frontier import DISCOVERY_TS_BASE
from map_the_net_crawler_spark.plans.crawl import init_run
from map_the_net_crawler_spark.storage import TableIO, bucket_of

_GROUPS = itertools.count()


def _job_stage_ids(spark, fn) -> list[list[int]]:
    """Run ``fn`` under a fresh job group; return, per job it started,
    the ids of the job's stages."""
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
    return [list(st.getJobInfo(jid).stageIds)
            for jid in sorted(st.getJobIdsForGroup(group))]


def _job_stages(spark, fn) -> list[list[str]]:
    """Per job ``fn`` started, the names of the job's stages
    (``"<action> at <call site>"``)."""
    st = spark.sparkContext.statusTracker()
    return [[st.getStageInfo(s).name for s in ids
             if st.getStageInfo(s) is not None]
            for ids in _job_stage_ids(spark, fn)]


def _ran_stage_ids(spark, jobs: list[list[int]]) -> list[int]:
    """The stages of ``jobs`` that ran tasks.  A job also lists the
    stages it found already computed by an earlier job; Spark marks them
    skipped and drops them first from its status store once
    ``spark.ui.retainedStages`` is passed, so their operation graphs may
    be gone."""
    st = spark.sparkContext.statusTracker()
    return [s for ids in jobs for s in ids
            if (info := st.getStageInfo(s)) is not None
            and info.numCompletedTasks > 0]


def _stage_rdd_ops(spark, stage_id: int) -> set[str]:
    """The RDD operation scopes and RDD class names in a stage's
    operation graph (``parallelize``, ``PythonRDD``, ``Exchange``, …)."""
    graph = spark.sparkContext._jsc.sc().statusStore() \
        .operationGraphForStage(stage_id)
    out, todo = set(), [graph.rootCluster()]
    while todo:
        cl = todo.pop()
        out.add(cl.name())
        nodes, subs = cl.childNodes(), cl.childClusters()
        out.update(nodes.apply(i).name() for i in range(nodes.size()))
        todo.extend(subs.apply(i) for i in range(subs.size()))
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

    def test_merge_discoveries_builds_without_a_job(self, spark):
        """Sequencing new frontier rows is part of the plan: building it
        runs no sizing count, range sample or offsets collect."""
        from map_the_net_crawler_spark.operators.frontier import \
            merge_discoveries
        front = _frontier(spark, 50)
        disc = spark.range(400).select(
            F.concat(F.lit("http://t"), F.col("id") % 97, F.lit(".com/"))
            .alias("clean_url"),
            F.concat(F.lit("t"), F.col("id") % 97, F.lit(".com"))
            .alias("target_domain"),
            F.concat(F.lit("d"), F.col("id") % 9, F.lit(".com"))
            .alias("source_domain"),
            F.lit(0).alias("src_depth"),
            (F.col("id") % 9).cast("int").alias("source_rank"),
            (F.col("id") % 40).cast("int").alias("link_pos"),
            (F.col("id") % 2 == 0).alias("is_internal"))
        seen = front.select("domain_name", F.lit(1).alias("seen_cnt"))
        procd = front.select("domain_name",
                             F.lit(1).alias("batch_rank"),
                             F.lit(True).alias("records_history"))
        got = []
        assert _job_stages(spark, lambda: got.append(merge_discoveries(
            front, disc, seen, procd, CrawlConfig(), next_seq=7))) == []
        seqs = sorted(r.discovery_seq for r in got[0].collect())
        assert seqs == list(range(7, 7 + len(seqs))) and seqs

    def test_init_run_starts_no_collect(self, spark):
        """The next sequence number rides the seed write: init_run runs
        no collect, with seeds, with an empty seed frame, and with seeds
        that have no partitions at all."""
        cases = [(_frontier(spark, 30, seq0=5), 35),
                 (_frontier(spark, 0), 0),
                 (spark.createDataFrame([], S.FRONTIER), 0)]
        for seeds, want in cases:
            tio = TableIO(tempfile.mkdtemp(prefix="mtn_init_"), spark,
                          num_buckets=8)
            got = []
            jobs = _job_stages(spark, lambda: got.append(
                init_run(spark, tio, seeds)))
            collects = [n for stages in jobs for n in stages
                        if n.startswith("collect at")]
            assert collects == [], jobs
            assert got == [want]
            assert tio.read_meta()["next_seq"] == want


def _metrics_row(spark):
    return spark.range(1).select(
        F.lit(3).alias("iteration"), F.lit("d0.com").alias("domain_name"),
        F.lit("http://d0.com").alias("url"),
        F.lit("completed").alias("status"),
        F.lit(0).alias("relationships_found"),
        F.lit(0).alias("urls_discovered"),
        F.lit(None).cast("string").alias("error_message"),
        F.lit(0.001).cast("decimal(10,3)").alias("processing_time"),
        F.lit("spark-engine").alias("agent_name"))


class TestEmptyReads:
    """Every read that finds no data returns an empty ``LocalRelation``
    with the table's exact schema.  A join against it starts no job
    with a ``parallelize`` stage (a Python-backed local table), and the
    optimizer can prune the join."""

    def _check(self, spark, df, schema):
        assert df.schema == schema      # nullability included
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation <empty>"), plan
        probe = spark.range(5).select(
            F.concat(F.lit("d"), F.col("id"), F.lit(".com"))
            .alias("domain_name"))
        jobs = _job_stage_ids(spark, lambda: probe.join(
            df, "domain_name", "left").collect())
        ops = [_stage_rdd_ops(spark, s) for s in _ran_stage_ids(spark, jobs)]
        assert ops, "the probe side runs"
        assert not [o for o in ops if {"parallelize", "PythonRDD"} & o], ops

    def test_version0_state_read(self, spark):
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_empty_"), spark,
                      num_buckets=8)
        init_run(spark, tio, _frontier(spark, 20))
        self._check(spark, tio.read_state("seen", version=0,
                                          schema=S.SEEN), S.SEEN)

    def test_keyed_read_matching_no_file(self, spark):
        tio = _store(spark)
        seen = _frontier(spark, 3_000).select(
            "url", "domain_name", F.lit("success").alias("status"),
            F.lit(1).alias("links_found"),
            F.lit(0).alias("processed_iteration"))
        tio.write("seen", seen, 0)
        # sorts after every dN.com: outside each file's key range
        view, io = tio.read_keyed_state("seen", 0, keys=["zzz.example"],
                                        schema=S.SEEN)
        assert io["pruned"] and io["files_opened"] == 0, io
        self._check(spark, view, S.SEEN)

    def test_unwritten_append_table(self, spark):
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_empty_"), spark)
        self._check(spark, tio.read("metrics", S.METRICS), S.METRICS)
        # a version before the first partition reads empty as well
        tio.append_partition("metrics", _metrics_row(spark), 3)
        self._check(spark, tio.read("metrics", S.METRICS, version=2),
                    S.METRICS)


def test_package_builds_no_python_local_tables():
    """``createDataFrame`` over a Python list literal is a Python-backed
    RDD: each query over it starts Python workers.  The package builds
    empty frames with ``storage.empty_frame`` and small constant tables
    as JVM-side Columns, so no call of that shape may come back."""
    import ast

    import map_the_net_crawler_spark as pkg
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "createDataFrame"
                        and node.args
                        and isinstance(node.args[0],
                                       (ast.List, ast.ListComp, ast.Tuple))):
                    offenders.append(
                        f"{os.path.relpath(path, root)}:{node.lineno}")
    assert offenders == [], offenders


def test_every_crawl_config_field_is_read():
    """A ``CrawlConfig`` field the package never reads is a knob that
    does nothing.  A field counts as read when some module other than
    ``config.py`` loads it as an attribute, or loads a ``CrawlConfig``
    property whose body reads it."""
    import ast

    import map_the_net_crawler_spark as pkg
    root = os.path.dirname(pkg.__file__)
    fields, prop_reads = [], {}
    with open(os.path.join(root, "config.py")) as f:
        cfg_tree = ast.parse(f.read())
    cls = next(n for n in cfg_tree.body
               if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig")
    for node in cls.body:
        if isinstance(node, ast.AnnAssign):
            fields.append(node.target.id)
        elif isinstance(node, ast.FunctionDef):
            prop_reads[node.name] = {
                n.attr for n in ast.walk(node)
                if isinstance(n, ast.Attribute)
                and isinstance(n.value, ast.Name) and n.value.id == "self"}
    loaded = set()
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            path = os.path.join(dirpath, fname)
            if not fname.endswith(".py") or path == os.path.join(
                    root, "config.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            loaded |= {n.attr for n in ast.walk(tree)
                       if isinstance(n, ast.Attribute)
                       and isinstance(n.ctx, ast.Load)}
    # a loaded property reads its fields, and may read another property
    # (max_external_links reads max_internal_links): follow to a fixpoint
    live = set(loaded)
    while True:
        more = set().union(*(prop_reads[p] for p in prop_reads
                             if p in live)) - live
        if not more:
            break
        live |= more
    dead = [f for f in fields if f not in live]
    assert dead == [], f"CrawlConfig fields never read: {dead}"


class TestDedupJobs:
    """``spread_small`` probes only scan-rooted inputs, and
    ``minhash_lsh_pairs`` runs its Python kernel once per document."""

    def _docs(self, spark):
        d = os.path.join(tempfile.mkdtemp(prefix="mtn_docs_"), "docs")
        spark.range(300).select(
            "id", F.concat_ws(" ", F.lit("w"), F.pmod("id", F.lit(7)),
                              F.lit("a b c d e f"), F.pmod("id", F.lit(3)))
            .alias("text")).withColumnRenamed("id", "doc_id") \
            .coalesce(1).write.parquet(d)
        return spark.read.parquet(d)

    def test_spread_small_leaves_joined_and_aggregated_input(self, spark):
        from map_the_net_crawler_spark.operators.dedup import spread_small
        docs = self._docs(spark)
        joined = docs.join(docs.select("doc_id"), "doc_id")
        aggregated = docs.groupBy("text").count()
        for df in (joined, aggregated):
            got = []
            assert _job_stages(spark, lambda: got.append(
                spread_small(df))) == []
            assert got[0] is df
        # a single-file scan is still spread across the cores
        spread = spread_small(docs.filter(F.col("doc_id") > 5))
        plan = spread._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("Repartition"), plan

    def test_minhash_signs_each_document_once(self, spark):
        from map_the_net_crawler_spark.operators.dedup import \
            minhash_lsh_pairs
        docs = self._docs(spark)
        got = []
        call = _job_stage_ids(spark, lambda: got.append(minhash_lsh_pairs(
            docs, n_hashes=16, bands=8, jaccard_threshold=0.1)))
        st = spark.sparkContext.statusTracker()
        names = [[st.getStageInfo(s).name for s in ids] for ids in call]
        # the checkpoint is the only action: no count, no second
        # checkpoint; at most the spread's exchange runs ahead of it as
        # its own map-stage job
        assert sum(n.startswith("localCheckpoint")
                   for ns in names for n in ns) == 1, names
        assert len(call) <= 2, names
        rows = []
        run = _job_stage_ids(spark, lambda: rows.extend(got[0].collect()))
        assert rows
        kernel = [s for s in _ran_stage_ids(spark, call + run)
                  if {"MapInPandas", "PythonRDD"} & _stage_rdd_ops(spark, s)]
        assert len(kernel) == 1, kernel
