"""Membership sketches (sketches.py): Bloom + partitioned cuckoo.

Contract under test (SURVEY.md §4.4): NO false negatives ever (that is
what makes the pre-filtered anti-join bit-exact), bounded false
positives, lossless serde, distributed build == local build, and cuckoo
deletability."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from map_the_net_crawler_spark.sketches import (BloomSketch, CuckooFilter,
                                                PartitionedCuckoo,
                                                bloom_probe_udf, build_bloom,
                                                build_partitioned_cuckoo,
                                                cuckoo_probe_udf)

MEMBERS = np.array([f"http://d{i}.com/p{i}" for i in range(5000)],
                   dtype=object)
OUTSIDERS = np.array([f"http://x{i}.org/q{i}" for i in range(5000)],
                     dtype=object)


class TestBloom:
    def test_no_false_negatives_and_bounded_fpp(self):
        sk = BloomSketch.empty(len(MEMBERS), 0.01)
        sk.add_batch(MEMBERS)
        assert sk.contains_batch(MEMBERS).all()          # hard guarantee
        fpp = sk.contains_batch(OUTSIDERS).mean()
        assert fpp < 0.05                                # ~0.01 nominal

    def test_serde_roundtrip(self):
        sk = BloomSketch.empty(1000, 0.01)
        sk.add_batch(MEMBERS[:1000])
        rt = BloomSketch.from_bytes(sk.to_bytes())
        assert (rt.m, rt.k) == (sk.m, sk.k)
        assert np.array_equal(rt.bits, sk.bits)
        assert rt.contains_batch(MEMBERS[:1000]).all()

    def test_distributed_build_matches_local(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"url": MEMBERS})) \
            .repartition(7)
        dist = build_bloom(df, "url", len(MEMBERS), 0.01)
        local = BloomSketch.empty(len(MEMBERS), 0.01)
        local.add_batch(MEMBERS)
        assert np.array_equal(dist.bits, local.bits)     # OR-merge lossless

    def test_probe_udf(self, spark):
        sk = BloomSketch.empty(len(MEMBERS), 0.01)
        sk.add_batch(MEMBERS)
        probe = bloom_probe_udf(spark, sk)
        df = spark.createDataFrame(pd.DataFrame({"url": MEMBERS[:100]}))
        assert all(r["m"] for r in
                   df.select(probe(F.col("url")).alias("m")).collect())


class TestCuckoo:
    def test_insert_contains_delete(self):
        f = CuckooFilter(capacity=2000)
        for k in MEMBERS[:2000]:
            f.insert(k)
        assert all(f.contains(k) for k in MEMBERS[:2000])  # no FN
        fpp = sum(f.contains(k) for k in OUTSIDERS[:2000]) / 2000
        assert fpp < 0.05
        # delete restores non-membership (the property Bloom lacks)
        assert f.delete(MEMBERS[0])
        assert not f.contains(MEMBERS[0])
        assert f.contains(MEMBERS[1])
        assert not f.delete("http://never-inserted.example/")

    def test_overflow_keeps_no_false_negative(self):
        # overload far past capacity: kicked-out fingerprints land in the
        # exact overflow set, membership never lost
        f = CuckooFilter(capacity=64, bucket_size=2)
        for k in MEMBERS[:1000]:
            f.insert(k)
        assert all(f.contains(k) for k in MEMBERS[:1000])

    def test_serde_roundtrip(self):
        f = CuckooFilter(capacity=256)
        for k in MEMBERS[:300]:
            f.insert(k)
        rt = CuckooFilter.from_bytes(f.to_bytes())
        assert all(rt.contains(k) for k in MEMBERS[:300])
        assert np.array_equal(rt.table, f.table)
        assert rt.overflow == f.overflow

    def test_partitioned_build_and_probe(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"url": MEMBERS[:2000]})) \
            .repartition(5)
        pc = build_partitioned_cuckoo(df, "url", n_parts=8,
                                      capacity_per_part=512)
        assert pc.contains_batch(MEMBERS[:2000]).all()
        assert pc.contains_batch(OUTSIDERS[:500]).mean() < 0.05
        rt = PartitionedCuckoo.from_bytes(pc.to_bytes())
        assert rt.contains_batch(MEMBERS[:2000]).all()
        probe = cuckoo_probe_udf(spark, pc)
        out = spark.createDataFrame(pd.DataFrame({"url": MEMBERS[:50]})) \
            .select(probe(F.col("url")).alias("m")).collect()
        assert all(r["m"] for r in out)
        # route-local delete
        assert pc.delete(MEMBERS[0])
        assert not pc.contains_batch(MEMBERS[:1])[0]


class TestShardedBloom:
    def test_cogroup_probe_matches_exact(self, spark):
        """The 10^10-scale layout: route-sharded Bloom table + cogroup
        probe — no false negatives, bounded FPs, candidates keep their
        columns; missing shards mean definitely-new."""
        from map_the_net_crawler_spark.sketches import (build_sharded_blooms,
                                                        cogroup_probe)
        frontier = spark.createDataFrame(
            pd.DataFrame({"url": MEMBERS})).repartition(6)
        shards = build_sharded_blooms(frontier, "url", n_parts=8,
                                      expected_total=len(MEMBERS))
        assert shards.count() == 8
        cand = spark.createDataFrame(pd.DataFrame({
            "clean_url": np.concatenate([MEMBERS[:500], OUTSIDERS[:1500]]),
            "tag": np.arange(2000)}))
        shards_k = shards
        out = cogroup_probe(
            cand.withColumnRenamed("clean_url", "url"), shards_k,
            "url", n_parts=8).toPandas()
        member = out[out.url.isin(set(MEMBERS[:500]))]
        outsider = out[~out.url.isin(set(MEMBERS[:500]))]
        assert member["_maybe"].all()              # no false negatives
        assert outsider["_maybe"].mean() < 0.05    # fpp bound
        assert set(out.columns) == {"url", "tag", "_maybe"}

    def test_incremental_update_touches_only_owning_shards(self, spark):
        """update_sharded_blooms (round 4): adding a bounded new-key set
        rewrites only the owning routes' blobs — untouched shard rows
        pass through byte-identical — and the updated table still has no
        false negatives over old ∪ new keys."""
        from map_the_net_crawler_spark.sketches import (build_sharded_blooms,
                                                        cogroup_probe,
                                                        route_of,
                                                        update_sharded_blooms)
        n_parts = 8
        frontier = spark.createDataFrame(
            pd.DataFrame({"url": MEMBERS})).repartition(6)
        shards = build_sharded_blooms(frontier, "url", n_parts,
                                      expected_total=len(MEMBERS))
        before = {r.route: bytes(r.blob) for r in shards.collect()}
        new_keys = OUTSIDERS[:5]   # few keys => some routes stay untouched
        updated = update_sharded_blooms(
            shards, spark.createDataFrame(pd.DataFrame({"url": new_keys})),
            "url", n_parts)
        after = {r.route: bytes(r.blob) for r in updated.collect()}
        touched = set(route_of(new_keys, n_parts).tolist())
        assert touched and len(touched) < n_parts   # some routes untouched
        for r, blob in after.items():
            if r in touched:
                assert blob != before[r]
            else:
                assert blob == before[r]           # passthrough, no rewrite
        # no false negatives over the union
        cand = spark.createDataFrame(pd.DataFrame(
            {"url": np.concatenate([MEMBERS[:300], new_keys])}))
        out = cogroup_probe(cand, updated, "url", n_parts).toPandas()
        assert out["_maybe"].all()

    def test_delta_merge_commit_is_o_touched_routes(self, spark):
        """ADVICE r4: the per-iteration sharded-sketch commit is a
        STATE-table MERGE of only the touched routes' blobs — the table
        read back through the delta overlay is bit-identical to the full
        update_sharded_blooms result, and the bytes written by the
        commit are the touched blobs, not the whole sketch."""
        import os
        import tempfile

        from map_the_net_crawler_spark import schemas as S
        from map_the_net_crawler_spark.sketches import (
            build_sharded_blooms, route_of, update_sharded_blooms,
            update_sharded_blooms_delta)
        from map_the_net_crawler_spark.storage import TableIO

        n_parts = 8
        frontier = spark.createDataFrame(
            pd.DataFrame({"url": MEMBERS})).repartition(6)
        shards = build_sharded_blooms(frontier, "url", n_parts,
                                      expected_total=len(MEMBERS))
        tio = TableIO(tempfile.mkdtemp(prefix="mtn_shards_"), spark)
        tio.write("frontier_sketch_shards", shards, 0)
        new_df = spark.createDataFrame(pd.DataFrame({"url": OUTSIDERS[:5]}))
        delta = update_sharded_blooms_delta(shards, new_df, "url", n_parts)
        tio.merge_state("frontier_sketch_shards", delta, 1, 0)
        merged = {r.route: bytes(r.blob) for r in
                  tio.read_state("frontier_sketch_shards",
                                 schema=S.FRONTIER_SKETCH_SHARDS).collect()}
        want = {r.route: bytes(r.blob) for r in
                update_sharded_blooms(shards, new_df, "url",
                                      n_parts).collect()}
        assert merged == want
        # the commit landed as a delta partition holding ONLY the
        # touched routes' rows (untouched blobs chain by reference)
        ddir = os.path.join(tio.root, "frontier_sketch_shards",
                            "delta_v000001")
        assert os.path.isdir(ddir)
        n_delta = spark.read.schema(S.FRONTIER_SKETCH_SHARDS) \
            .parquet(ddir).count()
        touched = set(route_of(OUTSIDERS[:5], n_parts).tolist())
        assert n_delta == len(touched) < n_parts

    def test_purge_deletes_from_cuckoo_sketch(self, spark):
        """VERDICT r3 item 7: purge_ugc removes purged frontier URLs
        from the owning cuckoo partitions; the pre-filtered anti-join
        with the deleted sketch stays bit-identical to the plain
        anti-join on the purged table (no rebuild needed)."""
        from map_the_net_crawler_spark.operators.maintenance import purge_ugc
        from map_the_net_crawler_spark.operators.seen import \
            anti_join_with_sketch

        doms = [f"site{i:03d}.com" for i in range(40)] \
            + [f"u{i}.github.io" for i in range(10)]    # UGC pattern
        frontier = spark.createDataFrame(pd.DataFrame({
            "url": [f"http://{d}" for d in doms], "domain_name": doms}))
        nodes = spark.createDataFrame(pd.DataFrame({"domain_name": doms}))
        edges = spark.createDataFrame(pd.DataFrame(
            {"src_domain": doms, "dst_domain": doms[::-1]}))
        pc = build_partitioned_cuckoo(frontier, "url", n_parts=4,
                                      capacity_per_part=64)
        nodes2, edges2, frontier2 = purge_ugc(nodes, edges, frontier,
                                              frontier_sketch=pc)
        purged = {f"http://u{i}.github.io" for i in range(10)}
        assert {r.url for r in frontier2.select("url").collect()} \
            == {f"http://{d}" for d in doms} - purged
        # deleted urls are gone from the filter; survivors all remain
        assert not any(pc.contains_batch(np.array(sorted(purged), object)))
        kept = np.array([f"http://site{i:03d}.com" for i in range(40)],
                        dtype=object)
        assert pc.contains_batch(kept).all()
        # bit-identity of the pre-filtered anti-join after deletion
        cand = spark.createDataFrame(pd.DataFrame({"url": np.concatenate(
            [kept[:10], np.array(sorted(purged), object),
             OUTSIDERS[:50]])}))
        keys = frontier2.select("url")
        plain = sorted(r.url for r in
                       anti_join_with_sketch(cand, keys, "url").collect())
        probed = sorted(r.url for r in anti_join_with_sketch(
            cand, keys, "url", cuckoo_probe_udf(spark, pc)).collect())
        assert plain == probed
