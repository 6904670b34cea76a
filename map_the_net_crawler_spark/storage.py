"""TableIO — Iceberg-style tables on plain parquet, with hash-bucketed
incremental commits for the crawl state tables.

SURVEY.md §1.4/§7.1(M0): the design treats "Iceberg table" as
"partitioned table with atomic snapshot commit + MERGE".  When an Iceberg
catalog is configured this would use real ``MERGE INTO``; in the sandbox
(and any bare-parquet deployment) it uses versioned directories with an
atomically-renamed pointer file, which gives the same properties the
crawl loop needs:

- atomic per-iteration commit: a version either has its pointer updated
  or does not exist for readers (reference analogue: the stuck-'processing'
  recovery machinery in database.py:613-661 becomes unnecessary —
  SURVEY.md §2.9 exactly-once),
- time travel / lineage: previous versions are retained, enabling the
  resume-from-checkpoint test (SURVEY.md §5.5) and per-iteration lineage,
- cutting lineage per iteration: each iteration writes + re-reads parquet,
  so the logical plan never grows across the feedback loop
  (SURVEY.md §7.3 hard part 3).

Reads never start a Spark job.  Every path a read opens comes from
TableIO's own manifests and directory names, every read passes its
schema (state tables: ``schemas``; snapshot tables: the ``_schema.json``
each write records next to its data), and the session keeps Spark's
file listing on the driver (``session.get_spark``).

Each table's layout is fixed by its kind; no option selects it:

- **state tables** (``STATE_TABLES``: frontier / seen / nodes / edges)
  are hash-partitioned into ``num_buckets`` buckets on their bucket key
  (``pmod(xxhash64(key), B)`` — the stand-in for Iceberg's bucket
  transform), PLUS a merge-on-read delta log (the Iceberg v2 / Hudi MOR
  model; VERDICT r3 item 1 — the O(corpus) rewrite fix):

  * a per-iteration MERGE writes the delta as ONE small partition
    ``<table>/delta_v<version>/`` — strictly O(batch) bytes, no base
    read, no bucket rewrite — and records it in the manifest
    ``<table>/_ptr/v<version>.json`` (bucket→version map + pending
    delta list).  The delta's row count and bucket set are observed on
    that same write (one ``Observation``) and recorded with it, so a
    commit is sized by what it wrote, never by a caller's estimate or a
    separate count;
  * reads overlay the deltas with upsert semantics WITHOUT a
    corpus-sized shuffle: newest-version-wins is resolved over the
    (small) concatenated deltas only, then
    ``base ANTI-JOIN broadcast(delta keys) UNION resolved`` — the base
    scan stays a plain columnar scan with a broadcast filter (delta
    keys are bounded by batch × compact_every);
  * once the log holds ``compact_every`` deltas, or its recorded rows
    reach a share of the base, the deltas are folded into the union of
    their recorded bucket sets (copy-on-write of exactly those buckets,
    carried by manifest reference otherwise) and the delta list resets
    — the O(touched-buckets) rewrite amortizes to 1/compact_every per
    iteration and needs no job to find its buckets.

  Reads at any version resolve the greatest manifest ≤ that version;
  bucket-pruned reads (a bounded key set) open only the matching
  buckets' files and filter the delta overlay to the same buckets, and
  the per-file footer stats in the manifest let the claim and keyed
  reads skip files inside a bucket.

- **per-iteration scratch tables** (claimed / gated / extract / rels /
  …) are batch-sized by construction: each version is a plain snapshot
  directory (``v<version>/``) plus a pointer file.

- ``metrics`` (collection_logs, append-only per database.py:570-573) is
  one immutable partition dir per iteration (``part_v<version>/``),
  read as the union of partitions — a pure append, never a rewrite.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TRACE_IO = os.environ.get("MTN_TRACE", "") == "1"


def _trace(label: str, t0: float) -> None:
    if _TRACE_IO:
        print(f"      [io {label}: {time.time() - t0:.2f}s]", flush=True)


# State-table registry: bucket key (the hash-partition column) and merge
# key (the upsert identity) per table.  Everything else TableIO touches
# is the metrics append log or per-iteration scratch (snapshot layout).
STATE_TABLES: dict[str, dict] = {
    # stats_cols: per-FILE footer min/max recorded in the manifest at
    # write time (the Iceberg data-file stats analogue) — they feed the
    # claim top-k file skipping (read_claim_candidates).  Writers sort
    # bucket data by these columns so files are status-pure with tight
    # (priority, discovery_seq) ranges (Iceberg sort-order compaction).
    "frontier": {"bucket_key": "url", "merge_keys": ["url"],
                 "stats_cols": ["status", "priority", "discovery_seq"]},
    # seen is bucketed by domain so per-domain history counts
    # (seen_counts_pruned) can bucket-prune their scan; the merge
    # identity stays the url (database.py:153 UNIQUE(url)).  The
    # domain_name stats (files sorted by domain, min/max per footer)
    # additionally let keyed reads skip files WITHIN a bucket whose key
    # range cannot contain any requested domain (read_keyed_state) —
    # pruning grain ∝ file size instead of bucket size.
    "seen": {"bucket_key": "domain_name", "merge_keys": ["url"],
             "stats_cols": ["domain_name"]},
    "nodes": {"bucket_key": "domain_name", "merge_keys": ["domain_name"],
              "stats_cols": ["domain_name"]},
    "edges": {"bucket_key": "src_domain",
              "merge_keys": ["src_domain", "dst_domain",
                             "relationship_type"]},
}
APPEND_TABLES = {"metrics"}
# the schema a snapshot write recorded, inside its version dir
_SCHEMA_FILE = "_schema.json"


def _parquet_rows(path: str) -> int:
    """Exact row count of a written parquet dir from the file footers —
    driver-side metadata only, no Spark action (used for the
    compaction-trigger bookkeeping)."""
    import pyarrow.parquet as pq
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += pq.ParquetFile(os.path.join(root, f)) \
                        .metadata.num_rows
                except Exception:
                    pass
    return total


def _file_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-file footer stats for ``cols`` under ``path`` — driver-side
    parquet METADATA only (no data pages read), the stand-in for the
    column stats an Iceberg writer records in its manifests.

    Returns one entry per data file:
    ``{"path": <relpath>, "rows": n, "<col>": [min, max] | None}``
    (None when the footer carries no usable min/max for the column)."""
    import pyarrow.parquet as pq
    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            fp = os.path.join(root, f)
            try:
                md = pq.ParquetFile(fp).metadata
            except Exception:
                continue
            idx = {md.schema.column(i).name: i
                   for i in range(md.num_columns)}
            ent: dict = {"path": os.path.relpath(fp, path),
                         "rows": md.num_rows}
            for c in cols:
                i = idx.get(c)
                mn = mx = None
                if i is not None:
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(i).statistics
                        if st is None or not st.has_min_max:
                            mn = mx = None
                            break
                        smin, smax = st.min, st.max
                        if isinstance(smin, bytes):
                            try:
                                smin = smin.decode()
                                smax = smax.decode()
                            except UnicodeDecodeError:
                                mn = mx = None
                                break
                        mn = smin if mn is None else min(mn, smin)
                        mx = smax if mx is None else max(mx, smax)
                ent[c] = None if mn is None else [mn, mx]
            out.append(ent)
    return out


def empty_frame(spark: SparkSession,
                schema: T.StructType | str) -> DataFrame:
    """An empty frame with exactly ``schema`` (nullability included),
    built JVM-side as an empty ``LocalRelation``.

    ``spark.createDataFrame([], schema)`` is a Python-backed RDD in
    classic PySpark: every query over it starts Python workers for a
    ``parallelize`` stage, and the optimizer cannot tell it is empty.
    An empty ``LocalRelation`` starts no job of its own, and
    ``PropagateEmptyRelation`` prunes the joins and unions against it
    at plan time.  ``schema`` is a StructType or a DDL string."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    jschema = spark._jsparkSession.parseDataType(schema.json())
    jdf = spark._jsparkSession.createDataFrame(
        spark._jvm.java.util.ArrayList(), jschema)
    return DataFrame(jdf, spark)


def bucket_of(key, num_buckets: int) -> Column:
    """Deterministic bucket id for a key column: pmod(xxhash64(key), B).
    Must be identical everywhere (writer, reader pruning, tests)."""
    col = F.col(key) if isinstance(key, str) else key
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")


@dataclass
class TableIO:
    """Versioned parquet store for one crawl run.

    The table name fixes the layout (module docstring): STATE_TABLES are
    bucketed merge-on-read, APPEND_TABLES per-iteration partitions, any
    other name a plain snapshot.  ``prune(retain, upto)`` drops
    versions older than the trailing window (keeping, per table/bucket,
    the newest version at-or-before the window start so every retained
    manifest still resolves)."""

    root: str
    spark: SparkSession
    num_buckets: int = 32
    # fold the merge-on-read delta log into the buckets after this many
    # pending deltas (Hudi-style compaction cadence): smaller = cheaper
    # reads / more frequent O(touched-bucket) rewrites
    compact_every: int = 8
    # ...or sooner, once pending delta rows reach this fraction of the
    # base rows (with a small-table floor): when the batch is a sizable
    # share of the corpus the overlay costs more than the rewrite it
    # avoids, so the store folds the log into the touched buckets right
    # after the delta commit; at 10^10-row frontiers with bounded
    # batches the ratio never trips and commits stay O(batch).  Row
    # counts ride the writes as Observations — no extra actions.
    compact_ratio: float = 0.25
    # floor for the size trigger (a raised floor was A/B-tested in
    # round 6: leaving small deltas in the log makes every downstream
    # read pay the overlay window repeatedly — folding eagerly is
    # cheaper at any scale where the delta is a sizable base share)
    compact_min_rows: int = 4096
    # split stats-tracked bucket writes into files of at most this many
    # rows (parquet maxRecordsPerFile): the file-skipping granularity of
    # read_claim_candidates.  The at-scale analogue is Iceberg's target
    # data-file size; 0 disables the split (one file per writer task).
    stats_max_records_per_file: int = 8192
    # skip the bucket-id repartition SHUFFLE for writes below this many
    # rows (F-term: a coalesce(1) write of a small delta/compaction is
    # cheaper than a 32-partition hash exchange); 0 disables
    small_write_rows: int = 100_000
    # read-path telemetry: the bucket dirs the last base-bucket scan
    # resolved ({'table', 'buckets_total', 'paths'}) — lets tests assert
    # pruned reads by actual I/O, not just result identity (VERDICT r4
    # item 7); a plain attribute write, no extra filesystem work
    last_base_read: dict | None = field(default=None, repr=False,
                                        compare=False)
    # parsed-manifest cache keyed by path, invalidated by (mtime, size):
    # chained delta manifests re-resolve the SAME full manifest's
    # bucket_files every read, so the driver parses it once, not per
    # read/commit.  Bounded; safe under the 5 merge threads (GIL-atomic
    # dict get/set, immutable values).
    _manifest_cache: dict = field(default_factory=dict, repr=False,
                                  compare=False)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_current")

    def current_version(self, name: str) -> int | None:
        v = self._manifest_version_le(name, None)
        if v is not None:
            return v
        try:
            with open(self._pointer_path(name)) as f:
                return int(json.load(f)["version"])
        except (OSError, ValueError, KeyError):
            return None

    def snapshot_path(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"v{version:06d}")

    # ---- snapshot layout (per-iteration scratch tables) -------------------

    def write(self, name: str, df: DataFrame, version: int) -> None:
        """Write ``df`` as the table's content at ``version``.

        Dispatch by table kind: state tables get a FULL bucketed write
        (seed ingestion / whole-table rewrites); append tables get a
        partition write; everything else a plain snapshot.  Incremental
        per-iteration state commits go through ``merge_state`` instead."""
        t0 = time.time()
        if name in APPEND_TABLES:
            self.append_partition(name, df, version)
        elif name in STATE_TABLES:
            self._write_bucketed(name, df, version, full=True)
        else:
            self._write_snapshot(name, df, version)
        _trace(f"write {name} v{version}", t0)

    def _write_snapshot(self, name: str, df: DataFrame,
                        version: int) -> None:
        """Plain versioned snapshot.  The written schema lands next to
        the data (``_schema.json``; Spark skips ``_``-prefixed files) so
        re-reads pass it instead of running a schema-inference job."""
        path = self.snapshot_path(name, version)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, _SCHEMA_FILE), "w") as f:
            f.write(df.schema.json())
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)
        ptr_tmp = self._pointer_path(name) + f".tmp{os.getpid()}"
        with open(ptr_tmp, "w") as f:
            json.dump({"version": version, "committed_at": time.time()}, f)
        os.replace(ptr_tmp, self._pointer_path(name))

    def read(self, name: str, schema: T.StructType | None = None,
             version: int | None = None) -> DataFrame:
        """Read the table as of ``version`` (None = latest committed) in
        the layout its kind fixes.  Without ``schema``, a snapshot is
        read with the schema its write recorded."""
        if name in STATE_TABLES:
            return self._read_bucketed(name, schema, version)
        if name in APPEND_TABLES:
            return self._read_append(name, schema, version)
        v = None
        if version is None:
            try:
                with open(self._pointer_path(name)) as f:
                    v = int(json.load(f)["version"])
            except (OSError, ValueError, KeyError):
                v = None
        else:
            if os.path.isdir(self.snapshot_path(name, version)):
                v = version
            elif self._pruning_ran():
                # retention GC may have collapsed the exact version onto
                # its surviving ≤-anchor — resolve to it.  Gated on the
                # prune marker so a SKIPPED write in an unpruned run
                # fails loudly instead of returning stale data (ADVICE r4)
                v = self._snapshot_version_le(name, version)
            else:
                raise FileNotFoundError(
                    f"table {name}: version {version} was never written "
                    f"(and no retention prune ran that could explain it)")
        if v is None:
            if schema is None:
                raise FileNotFoundError(f"table {name} has no snapshot and no schema")
            return empty_frame(self.spark, schema)
        path = self.snapshot_path(name, v)
        if schema is None:
            try:
                with open(os.path.join(path, _SCHEMA_FILE)) as f:
                    schema = T.StructType.fromJson(json.load(f))
            except OSError:
                pass    # written before schemas were recorded: infer
        r = self.spark.read
        if schema is not None:  # pin the recorded column order
            r = r.schema(schema)
        return r.parquet(path)

    def _snapshot_version_le(self, name: str, version: int) -> int | None:
        d = self._table_dir(name)
        try:
            vs = [int(m.group(1)) for e in os.listdir(d)
                  if (m := re.fullmatch(r"v(\d+)", e))
                  and os.path.isdir(os.path.join(d, e))]
        except OSError:
            return None
        vs = [v for v in vs if v <= version]
        return max(vs) if vs else None

    def _pruning_ran(self) -> bool:
        return os.path.exists(os.path.join(self.root, "_pruned"))

    # ---- bucketed layout (state tables: incremental commits) -------------

    def _ptr_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_ptr")

    def _bucket_dir(self, name: str, bucket: int) -> str:
        return os.path.join(self._table_dir(name), f"b{bucket:05d}")

    def _delta_dir(self, name: str, version: int) -> str:
        return os.path.join(self._table_dir(name), f"delta_v{version:06d}")

    def _manifest_version_le(self, name: str, version: int | None) -> int | None:
        try:
            vs = [int(m.group(1)) for e in os.listdir(self._ptr_dir(name))
                  if (m := re.fullmatch(r"v(\d+)\.json", e))]
        except OSError:
            return None
        if version is not None:
            vs = [v for v in vs if v <= version]
        return max(vs) if vs else None

    def _manifest_json(self, name: str, version: int) -> dict:
        """Raw manifest JSON at exactly ``version`` (cached by
        (mtime, size) — manifests are replaced atomically, so a rewrite
        invalidates)."""
        path = os.path.join(self._ptr_dir(name), f"v{version:06d}.json")
        try:
            st = os.stat(path)
        except OSError:
            return {}
        key = (st.st_mtime_ns, st.st_size)
        hit = self._manifest_cache.get(path)
        if hit is not None and hit[0] == key:
            return hit[1]
        with open(path) as f:
            m = json.load(f)
        if len(self._manifest_cache) >= 64:
            self._manifest_cache.clear()
        self._manifest_cache[path] = (key, m)
        return m

    def _load_manifest(self, name: str, version: int | None) -> dict:
        """{'buckets': {bucket:version}, 'deltas': [versions],
        'base_rows': int, 'delta_rows': {version:int},
        'delta_buckets': {version:[bucket ids]},
        'bucket_files': {bucket:[file-stats]},
        'delta_files': {version:[file-stats]},
        '_files_ref': version|None} as of ``version`` (greatest
        manifest ≤).

        ``bucket_files`` may live in THIS manifest (a full manifest,
        written by every bucket write) or by reference in an earlier one
        (``bucket_files_ref`` in the O(1) stub a merge-on-read delta
        commit writes — the bucket map only changes through full
        writes, so the referenced stats stay valid by construction).
        ``_files_ref`` is the version that actually carries them, for
        the next stub to propagate."""
        v = self._manifest_version_le(name, version)
        if v is None:
            if os.path.exists(self._pointer_path(name)):
                # a snapshot pointer where manifests belong: the state
                # table was written by the retired full-rewrite layout
                raise ValueError(
                    f"state table {name} in {self.root} is in the retired "
                    f"snapshot layout; re-seed the run")
            return {"buckets": {}, "deltas": [], "base_rows": 0,
                    "delta_rows": {}, "delta_buckets": {}, "bucket_files": {},
                    "delta_files": {}, "_files_ref": None}
        m = self._manifest_json(name, v)
        ref = m.get("bucket_files_ref")
        if "bucket_files" in m:
            bf, files_ref = m["bucket_files"], v
        elif ref is not None:
            bf = self._manifest_json(name, int(ref)).get("bucket_files", {})
            files_ref = int(ref)
        else:
            bf, files_ref = {}, None
        return {"buckets": {int(k): int(x)
                            for k, x in m["buckets"].items()},
                "deltas": [int(x) for x in m.get("deltas", [])],
                "base_rows": int(m.get("base_rows", 0)),
                "delta_rows": {int(k): int(x) for k, x in
                               m.get("delta_rows", {}).items()},
                "delta_buckets": {int(k): [int(b) for b in x] for k, x in
                                  m.get("delta_buckets", {}).items()},
                "bucket_files": {int(k): x for k, x in bf.items()},
                "delta_files": {int(k): x for k, x in
                                m.get("delta_files", {}).items()},
                "_files_ref": files_ref}

    def _write_manifest(self, name: str, version: int,
                        buckets: dict[int, int],
                        deltas: list[int] | None = None,
                        base_rows: int = 0,
                        delta_rows: dict[int, int] | None = None,
                        bucket_files: dict[int, list] | None = None,
                        delta_files: dict[int, list] | None = None,
                        bucket_files_ref: int | None = None,
                        delta_buckets: dict[int, list] | None = None
                        ) -> None:
        """``bucket_files_ref`` (exclusive with ``bucket_files``) writes
        an O(1) STUB: per-file stats are not inlined but referenced from
        the given earlier full manifest — the Iceberg manifest-list
        analogue that keeps per-iteration delta-commit metadata O(deltas)
        instead of O(total data files).  Valid because only full bucket
        writes (which always inline) change the bucket map."""
        os.makedirs(self._ptr_dir(name), exist_ok=True)
        path = os.path.join(self._ptr_dir(name), f"v{version:06d}.json")
        tmp = path + f".tmp{os.getpid()}"
        dset = set(deltas or [])
        doc = {"version": version, "num_buckets": self.num_buckets,
               "committed_at": time.time(),
               "deltas": sorted(deltas or []),
               "base_rows": int(base_rows),
               "delta_rows": {str(k): int(x) for k, x in
                              sorted((delta_rows or {}).items())},
               "delta_buckets": {str(k): sorted(x) for k, x in
                                 sorted((delta_buckets or {}).items())
                                 if k in dset},
               "buckets": {str(k): v for k, v in
                           sorted(buckets.items())},
               "delta_files": {str(k): x for k, x in
                               sorted((delta_files or {}).items())
                               if k in dset}}
        if bucket_files_ref is not None:
            doc["bucket_files_ref"] = int(bucket_files_ref)
        else:
            doc["bucket_files"] = {str(k): x for k, x in
                                   sorted((bucket_files or {}).items())
                                   if k in buckets}
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)

    def _write_bucketed(self, name: str, df: DataFrame, version: int,
                        full: bool, base_version: int | None = None,
                        deltas: list[int] | None = None,
                        rows_hint: int | None = None) -> None:
        """Write ``df`` (the content of the buckets it spans) partitioned
        by bucket id, move each produced bucket dir into place, and
        commit a manifest chaining untouched buckets from
        ``base_version`` with delta list ``deltas`` (compaction and full
        writes reset it to []).  ``full=True`` starts a fresh manifest
        (seed ingestion / whole-table rewrite).  The repartition on the
        bucket id keeps one writer task per bucket, so each bucket
        version is a handful of files, not tasks×buckets fragments —
        except below ``small_write_rows`` (via ``rows_hint``), where a
        single coalesced writer task is cheaper than the hash exchange.

        Tables with ``stats_cols`` are additionally sorted within each
        bucket by those columns and split at
        ``stats_max_records_per_file`` rows, so each data file is
        status-pure with a tight (priority, discovery_seq) footer range
        — the Iceberg sort-order-compaction layout that makes the claim
        top-k file skipping effective; the per-file footer stats are
        recorded in the manifest (``bucket_files``)."""
        spec = STATE_TABLES[name]
        stats_cols = spec.get("stats_cols")
        tmp = os.path.join(self._table_dir(name), f".cow_v{version:06d}.tmp")
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        wdf = df.withColumn("_bucket", bucket_of(spec["bucket_key"],
                                                 self.num_buckets))
        if (self.small_write_rows > 0 and rows_hint is not None
                and rows_hint <= self.small_write_rows):
            wdf = wdf.coalesce(1)
        else:
            wdf = wdf.repartition(F.col("_bucket"))
        w = wdf.write.mode("overwrite")
        if stats_cols:
            sort_exprs = [F.col(c).desc() if c == "priority" else F.col(c)
                          for c in stats_cols]
            wdf2 = wdf.sortWithinPartitions(F.col("_bucket"), *sort_exprs)
            w = wdf2.write.mode("overwrite")
            if self.stats_max_records_per_file > 0:
                w = w.option("maxRecordsPerFile",
                             self.stats_max_records_per_file)
        w.partitionBy("_bucket").parquet(tmp)
        # a NULL bucket key would land in the Hive default partition and
        # be silently dropped by the b%05d rename below — fail loudly
        # instead (state-table keys are declared non-null; ADVICE r4)
        if os.path.isdir(os.path.join(tmp, "_bucket=__HIVE_DEFAULT_PARTITION__")):
            shutil.rmtree(tmp)
            raise ValueError(
                f"bucketed write of {name} v{version}: NULL bucket key "
                f"({spec['bucket_key']}) — refusing to drop rows")
        written = _parquet_rows(tmp)
        produced = {int(m.group(1)) for e in os.listdir(tmp)
                    if (m := re.fullmatch(r"_bucket=(\d+)", e))}
        prev = self._load_manifest(name, base_version)
        manifest = {} if full else dict(prev["buckets"])
        bucket_files = {} if full else dict(prev["bucket_files"])
        # rows now in the base: replaced buckets' prior rows are gone,
        # but untouched buckets carry over — approximate by the max of
        # (written, prev base) for the compaction-trigger heuristic;
        # exactness is not needed, only the order of magnitude
        base_rows = written if full else max(prev["base_rows"], written)
        for k in sorted(produced):
            dst = os.path.join(self._bucket_dir(name, k), f"v{version:06d}")
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.rename(os.path.join(tmp, f"_bucket={k}"), dst)
            manifest[k] = version
            if stats_cols:
                bucket_files[k] = _file_stats(dst, stats_cols)
        shutil.rmtree(tmp)
        self._write_manifest(name, version, manifest, deltas,
                             base_rows=base_rows,
                             bucket_files=bucket_files if stats_cols else None)

    def _state_schema(self, name: str,
                      schema: T.StructType | None) -> T.StructType | None:
        if schema is None and name in STATE_TABLES:
            from . import schemas as S
            schema = getattr(S, name.upper(), None)
        return schema

    def _resolved_deltas(self, name: str, versions: list[int],
                         schema: T.StructType,
                         buckets: list[int] | None = None) -> DataFrame:
        """Upsert-resolve the delta log: concatenate the (small) delta
        partitions, newest version wins per merge key.  The window runs
        over batch×compact_every rows, never the corpus.

        Within ONE delta version, merge keys are unique by the
        merge_state contract; the xxhash64 secondary order below makes
        the pick deterministic anyway if a caller ever violates it
        (and keeps it consistent across re-reads — ADVICE r4)."""
        from pyspark.sql import Window
        spec = STATE_TABLES[name]
        dfs = []
        for v in sorted(versions):
            d = self._delta_dir(name, v)
            if not os.path.isdir(d):
                continue
            dfs.append(self.spark.read.schema(schema).parquet(d)
                       .withColumn("_dv", F.lit(v)))
        if not dfs:
            return empty_frame(self.spark, schema)
        allv = dfs[0]
        for d in dfs[1:]:
            allv = allv.unionByName(d)
        if buckets is not None:
            allv = allv.filter(bucket_of(spec["bucket_key"],
                                         self.num_buckets)
                               .isin([int(b) for b in buckets]))
        w = Window.partitionBy(*spec["merge_keys"]) \
            .orderBy(F.col("_dv").desc(),
                     F.xxhash64(F.struct(*[F.col(f.name)
                                           for f in schema.fields])).asc())
        return (allv.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn", "_dv"))

    def _read_base_buckets(self, name: str, bmap: dict[int, int],
                           schema: T.StructType,
                           buckets: list[int] | None) -> DataFrame:
        total = len(bmap)
        if buckets is not None:
            sel = set(int(b) for b in buckets)
            bmap = {k: v for k, v in bmap.items() if k in sel}
        paths = [os.path.join(self._bucket_dir(name, k), f"v{v:06d}")
                 for k, v in sorted(bmap.items())]
        self.last_base_read = {"table": name, "buckets_total": total,
                               "paths": paths}
        if not paths:
            return empty_frame(self.spark, schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def _read_bucketed(self, name: str, schema: T.StructType | None,
                       version: int | None,
                       buckets: list[int] | None = None) -> DataFrame:
        """Merge-on-read: base buckets overlaid with the pending delta
        log.  The overlay is ``base ANTI-JOIN broadcast(delta keys)
        UNION resolved-deltas`` — a plain columnar base scan plus a
        broadcast filter; no corpus-sized shuffle."""
        schema = self._state_schema(name, schema)
        if schema is None:
            raise FileNotFoundError(
                f"bucketed table {name}: no schema known")
        man = self._load_manifest(name, version)
        base = self._read_base_buckets(name, man["buckets"], schema, buckets)
        if not man["deltas"]:
            return base
        spec = STATE_TABLES[name]
        res = self._resolved_deltas(name, man["deltas"], schema, buckets)
        keys = res.select(*spec["merge_keys"]).distinct()
        return (base.join(F.broadcast(keys), spec["merge_keys"], "left_anti")
                .unionByName(res)
                # the equi-join moves its keys to the front — restore the
                # declared column order so overlay and plain reads agree
                .select(*[f.name for f in schema.fields]))

    def read_state(self, name: str, version: int | None = None,
                   buckets: list[int] | None = None,
                   schema: T.StructType | None = None) -> DataFrame:
        """State-table read; ``buckets`` prunes the scan to a bounded
        bucket set (bucket-pruned reads for batch-bounded key lookups)."""
        return self._read_bucketed(name, schema, version, buckets)

    def read_claim_candidates(self, name: str, version: int | None,
                              k: int,
                              schema: T.StructType | None = None
                              ) -> tuple[DataFrame, dict]:
        """Merge-on-read view for the frontier claim whose BASE scan
        opens only data files whose footer stats can contribute to the
        global pending top-k under the claim order
        (priority DESC, discovery_seq ASC) — Iceberg min/max file
        skipping over the manifest's per-file stats (VERDICT r4 item 1;
        the reference analogue is the idx_status_priority index,
        database.py:115-118).

        Soundness: let K(row) = (-priority, discovery_seq).
        - For every base file, its footer range gives an OPTIMISTIC best
          possible pending row bestK = (-pri_max, seq_min) (≤ any true
          pending row's K in the file) and, when the file is status-pure
          'pending', a PESSIMISTIC worstK = (-pri_min, seq_max) plus an
          exact pending row count.
        - Accumulating pure-pending files in worstK order until their
          counts reach k + D (D = total pending-delta rows — every
          base pending row the deltas might mask) proves k unmasked
          pending rows with K ≤ τ (the last worstK) exist, so the k-th
          best global pending K is ≤ τ.
        - A file with bestK > τ therefore cannot hold a top-k row and is
          skipped; delta partitions are always read in full (they both
          mask base rows and carry candidates).

        The returned DataFrame's PENDING rows are exactly a superset of
        the table's pending top-k (rows of other statuses may be
        missing) — valid ONLY for consumers that filter to pending and
        take a ≤k claim, i.e. claim_batch in plain mode.  Politeness
        mode can claim arbitrarily deep per domain and must read the
        full table.  Falls back to the plain read (info['pruned']=False)
        when stats are missing."""
        schema = self._state_schema(name, schema)
        spec = STATE_TABLES[name]
        if not spec.get("stats_cols"):
            return self._read_bucketed(name, schema, version), \
                {"pruned": False}
        man = self._load_manifest(name, version)
        bf = man["bucket_files"]
        if set(bf) != set(man["buckets"]):
            return self._read_bucketed(name, schema, version), \
                {"pruned": False}
        P = "pending"
        sources = []   # (full_path, bestK|None, worstK|None, pending_cnt|None)
        total_files = 0
        for b, v in man["buckets"].items():
            vdir = os.path.join(self._bucket_dir(name, b), f"v{v:06d}")
            for ent in bf[b]:
                total_files += 1
                st = ent.get("status")
                if st is not None and not (st[0] <= P <= st[1]):
                    continue        # provably no pending rows
                pri, seq = ent.get("priority"), ent.get("discovery_seq")
                best = worst = cnt = None
                if st is not None and pri is not None and seq is not None:
                    best = (-pri[1], seq[0])
                    if st[0] == st[1] == P:
                        worst = (-pri[0], seq[1])
                        cnt = ent["rows"]
                sources.append((os.path.join(vdir, ent["path"]),
                                best, worst, cnt))
        D = sum(man["delta_rows"].values())
        tau = None
        acc = 0
        for _p, _b, worst, cnt in sorted(
                (s for s in sources if s[2] is not None),
                key=lambda s: s[2]):
            acc += cnt
            tau = worst
            if acc >= k + D:
                break
        if acc < k + D:
            tau = None  # not enough provable rows: no exclusion
        paths = [p for p, best, _w, _c in sources
                 if tau is None or best is None or best <= tau]
        info = {"pruned": True, "files_opened": len(paths),
                "files_total": total_files,
                "delta_parts": len(man["deltas"])}
        base = (self.spark.read.schema(schema).parquet(*paths) if paths
                else empty_frame(self.spark, schema))
        if not man["deltas"]:
            return base, info
        res = self._resolved_deltas(name, man["deltas"], schema)
        keys = res.select(*spec["merge_keys"]).distinct()
        df = (base.join(F.broadcast(keys), spec["merge_keys"], "left_anti")
              .unionByName(res)
              .select(*[f.name for f in schema.fields]))
        return df, info

    def read_keyed_state(self, name: str, version: int | None,
                         keys: list[str],
                         buckets: list[int] | None = None,
                         key_buckets: dict[str, int] | None = None,
                         schema: T.StructType | None = None
                         ) -> tuple[DataFrame, dict]:
        """Merge-on-read view that provably contains EVERY row whose
        key column (``stats_cols[0]``, e.g. seen/nodes domain_name)
        is in ``keys`` — rows of other keys may be absent.  The base
        scan opens only data files whose footer [min, max] key range
        intersects the key set (Iceberg min/max file skipping over the
        manifest's per-file stats; VERDICT r4 item 8), on top of the
        bucket-grain prune when ``buckets`` is given.  Valid ONLY for
        consumers that filter/join the view on ``keys`` — the
        batch-bounded gate/enrich lookups.

        ``key_buckets`` maps each key to the bucket it hashes to (the
        writer's ``bucket_of(key)`` — the crawl observes the pairs on a
        write it makes anyway).  With it, each file's range is tested
        ONLY against its own bucket's keys, and buckets holding no
        requested key are skipped outright — without it, every key must
        be tested against every bucket's files and the sorted-range skip
        degrades to ~1 file per (key × bucket).  Sound because a key's
        rows can only live in its own hash bucket.  ``keys`` may be a
        superset of the keys the consumer joins on: extra keys only open
        extra files.

        Parquet writers may truncate string min/max, but only to a
        WIDER bound (prefix-truncated min ≤ true min, incremented
        prefix max ≥ true max), so the intersection test stays sound.
        Falls back to the plain (bucket-pruned) read when stats are
        missing (``info['pruned']=False``)."""
        import bisect
        schema = self._state_schema(name, schema)
        spec = STATE_TABLES[name]
        stats_cols = spec.get("stats_cols")
        if not stats_cols:
            return self.read_state(name, version, buckets=buckets,
                                   schema=schema), {"pruned": False}
        man = self._load_manifest(name, version)
        bmap = dict(man["buckets"])
        if buckets is None and key_buckets is not None:
            buckets = sorted({int(b) for b in key_buckets.values()})
        if buckets is not None:
            sel = {int(b) for b in buckets}
            bmap = {k: v for k, v in bmap.items() if k in sel}
        bf = man["bucket_files"]
        if not set(bmap) <= set(bf):
            return self.read_state(name, version, buckets=buckets,
                                   schema=schema), {"pruned": False}
        kcol = stats_cols[0]
        per_bucket: dict[int, list[str]] | None = None
        if key_buckets is not None:
            per_bucket = {}
            for kk, b in key_buckets.items():
                per_bucket.setdefault(int(b), []).append(kk)
            for b in per_bucket:
                per_bucket[b].sort()
        ks_all = sorted(set(keys))
        paths, total_files = [], 0
        for b, v in sorted(bmap.items()):
            vdir = os.path.join(self._bucket_dir(name, b), f"v{v:06d}")
            ks = ks_all if per_bucket is None else per_bucket.get(b, [])
            for ent in bf[b]:
                total_files += 1
                if not ks:
                    continue        # no requested key hashes here
                rng = ent.get(kcol)
                if rng is not None:
                    i = bisect.bisect_left(ks, rng[0])
                    if i >= len(ks) or ks[i] > rng[1]:
                        continue    # no requested key in [min, max]
                paths.append(os.path.join(vdir, ent["path"]))
        info = {"pruned": True, "files_opened": len(paths),
                "files_total": total_files,
                "delta_parts": len(man["deltas"])}
        self.last_base_read = {"table": name,
                               "buckets_total": len(man["buckets"]),
                               "paths": paths}
        base = (self.spark.read.schema(schema).parquet(*paths) if paths
                else empty_frame(self.spark, schema))
        if not man["deltas"]:
            return base, info
        res = self._resolved_deltas(name, man["deltas"], schema, buckets)
        mkeys = res.select(*spec["merge_keys"]).distinct()
        df = (base.join(F.broadcast(mkeys), spec["merge_keys"], "left_anti")
              .unionByName(res)
              .select(*[f.name for f in schema.fields]))
        return df, info

    def merge_state(self, name: str, delta: DataFrame, version: int,
                    base_version: int) -> None:
        """MERGE ``delta`` into the state table: rows whose merge key
        matches an existing row are replaced, the rest inserted (the
        reference's ON DUPLICATE KEY UPDATE upsert, database.py:321-323).

        CONTRACT: ``delta`` must be unique on the table's merge keys —
        every iteration-plan delta is (claim set + first-wins
        discoveries / one seen row per domain / keyed node + edge
        upserts).  A duplicate-keyed delta resolves to ONE deterministic
        winner in the delta-log resolution (_resolved_deltas).

        Merge-on-read: the delta lands as ONE small partition — strictly
        O(batch) bytes written, no base read — in exactly one Spark job.
        That write carries one ``Observation`` with the delta's row count
        and its set of bucket ids; both go into the manifest next to the
        delta.  An empty delta writes no partition and chains the manifest
        forward.  The log is folded into the union of its recorded bucket
        sets when it grows past ``compact_every`` entries or its recorded
        rows reach a base-row share (``compact_ratio``), so the trigger
        sees the real size. The fold reads the materialized delta
        partitions, so the caller's delta LINEAGE executes exactly once
        regardless of when the fold happens.  Observed values can only
        over-count (a re-executed task), which costs at most an early or
        wider fold."""
        t0 = time.time()
        spec = STATE_TABLES[name]
        man = self._load_manifest(name, base_version)
        ddir = self._delta_dir(name, version)
        tmp = ddir + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        obs = Observation()
        # few files per delta: the content is batch-sized.  coalesce,
        # not repartition — the delta lineage reads already-
        # materialized batch parquets, so collapsing its parallelism
        # is cheaper than a round-robin exchange (F-term, VERDICT r4)
        (delta.observe(obs, F.count(F.lit(1)).alias("n"),
                       F.collect_set(bucket_of(spec["bucket_key"],
                                               self.num_buckets))
                       .alias("b"))
         .coalesce(4).write.mode("overwrite").parquet(tmp))
        n_delta = int(obs.get["n"] or 0)
        if n_delta == 0:
            shutil.rmtree(tmp)
            # chain the manifest forward so reads at `version` resolve
            self._write_manifest(name, version, man["buckets"],
                                 man["deltas"],
                                 base_rows=man["base_rows"],
                                 delta_rows=man["delta_rows"],
                                 delta_buckets=man["delta_buckets"],
                                 bucket_files=man["bucket_files"]
                                 if man["_files_ref"] is None else None,
                                 bucket_files_ref=man["_files_ref"],
                                 delta_files=man["delta_files"])
            _trace(f"merge {name} v{version} (empty)", t0)
            return
        if os.path.exists(ddir):
            shutil.rmtree(ddir)
        os.rename(tmp, ddir)
        deltas = sorted(set(man["deltas"]) | {version})
        delta_rows = {v: n for v, n in man["delta_rows"].items()
                      if v in deltas}
        delta_rows[version] = n_delta
        delta_buckets = dict(man["delta_buckets"])
        delta_buckets[version] = [int(x) for x in obs.get["b"]]
        delta_files = dict(man["delta_files"])
        if spec.get("stats_cols"):
            delta_files[version] = _file_stats(ddir, spec["stats_cols"])
        # O(1) stub: stats stay by reference in the last full
        # manifest — per-iteration commit metadata is O(deltas),
        # not O(total data files)
        self._write_manifest(name, version, man["buckets"], deltas,
                             base_rows=man["base_rows"],
                             delta_rows=delta_rows,
                             delta_buckets=delta_buckets,
                             bucket_files=man["bucket_files"]
                             if man["_files_ref"] is None else None,
                             bucket_files_ref=man["_files_ref"],
                             delta_files=delta_files)
        # fold the log into its touched buckets when it grows LONG
        # (read overlay lists every pending delta dir) or when the
        # pending rows are a sizable share of the base (the overlay
        # would cost more than the rewrite it avoids).  The fold
        # always runs over the just-materialized delta SCANS — the
        # round-5 direct copy-on-write branch instead executed the
        # caller's delta lineage twice (once for its keys broadcast,
        # once for the merged write); for the edges/seen deltas that
        # lineage is a corpus-batch window, so the double execution
        # dominated the commit phase (VERDICT r5 'Next round' #1).
        threshold = max(self.compact_min_rows,
                        int(man["base_rows"] * self.compact_ratio))
        if (len(deltas) >= max(1, self.compact_every)
                or sum(delta_rows.values()) >= threshold):
            self._compact(name, version)
        _trace(f"merge {name} v{version} (mor)", t0)

    def _compact(self, name: str, version: int) -> None:
        """Fold the pending delta log into its touched buckets
        (copy-on-write of exactly those buckets; everything else stays
        by manifest reference) and reset the delta list.  The touched
        buckets are the union of the bucket sets the delta writes
        recorded in the manifest — no job runs to find them; a delta
        with no recorded set counts as touching every bucket.  Cost is
        O(touched buckets) once per compact_every commits — the
        amortized write path the 10^10-row frontier needs."""
        spec = STATE_TABLES[name]
        schema = self._state_schema(name, None)
        man = self._load_manifest(name, version)
        if not man["deltas"]:
            return
        # a delta committed before bucket sets were recorded may touch
        # any bucket: fold them all (one wider rewrite, still no job)
        touched = sorted({b for v in man["deltas"]
                          for b in man["delta_buckets"].get(
                              v, range(self.num_buckets))})
        if not touched:
            self._write_manifest(name, version, man["buckets"], [],
                                 base_rows=man["base_rows"],
                                 bucket_files=man["bucket_files"]
                                 if man["_files_ref"] is None else None,
                                 bucket_files_ref=man["_files_ref"])
            return
        res = self._resolved_deltas(name, man["deltas"], schema)
        base = self._read_base_buckets(name, man["buckets"], schema, touched)
        keys = res.select(*spec["merge_keys"]).distinct()
        merged = (base.join(F.broadcast(keys), spec["merge_keys"],
                            "left_anti")
                  .unionByName(res))
        # size estimate for the small-write coalesce: the touched share
        # of the base plus the pending delta rows (upper-bound-ish)
        touched_rows = (man["base_rows"] * len(touched)
                        // max(1, self.num_buckets)
                        + sum(man["delta_rows"].values()))
        self._write_bucketed(name, merged, version, full=False,
                             base_version=version, deltas=[],
                             rows_hint=touched_rows)

    # ---- append layout (metrics: one immutable partition per iteration) --

    def append_partition(self, name: str, df: DataFrame, version: int) -> None:
        d = self._table_dir(name)
        path = os.path.join(d, f"part_v{version:06d}")
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)

    def _read_append(self, name: str, schema: T.StructType | None,
                     version: int | None) -> DataFrame:
        d = self._table_dir(name)
        try:
            parts = sorted((int(m.group(1)), e) for e in os.listdir(d)
                           if (m := re.fullmatch(r"part_v(\d+)", e)))
        except OSError:
            parts = []
        if version is not None:
            parts = [(v, e) for v, e in parts if v <= version]
        paths = [os.path.join(d, e) for _, e in parts]
        if not paths:
            if schema is None:
                raise FileNotFoundError(f"append table {name} has no partitions")
            return empty_frame(self.spark, schema)
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.parquet(*paths)

    # ---- retention / GC --------------------------------------------------

    def prune(self, retain: int, upto: int) -> None:
        """Drop versions older than the trailing ``retain`` window ending
        at ``upto``.  Per table (and per bucket), every version >
        ``upto - retain`` is kept PLUS the newest version at-or-before
        the window start, so any retained manifest / read at a retained
        version still resolves.  Append partitions are never pruned
        (the log IS the data).  No-op when retain <= 0."""
        if retain <= 0:
            return
        # marker enabling the ≤-version read fallback: only a pruned run
        # can legitimately be missing an exactly-requested version
        marker = os.path.join(self.root, "_pruned")
        if not os.path.exists(marker):
            with open(marker, "w") as f:
                f.write("1")
        cutoff = upto - retain

        def keep_set(versions: list[int]) -> set[int]:
            older = [v for v in versions if v <= cutoff]
            kept = {v for v in versions if v > cutoff}
            if older:
                kept.add(max(older))
            return kept

        try:
            names = os.listdir(self.root)
        except OSError:
            return
        for name in names:
            d = self._table_dir(name)
            if not os.path.isdir(d):
                continue
            if name in STATE_TABLES:
                pd_ = self._ptr_dir(name)
                manifests = [(int(m.group(1)), e) for e in os.listdir(pd_)
                             if (m := re.fullmatch(r"v(\d+)\.json", e))]
                kept_m = keep_set([v for v, _ in manifests])
                # a kept stub's bucket_files live by reference in an
                # earlier full manifest — keep that one too
                refs = set()
                for v in kept_m:
                    r = self._manifest_json(name, v).get("bucket_files_ref")
                    if r is not None:
                        refs.add(int(r))
                kept_m |= refs
                for v, e in manifests:
                    if v not in kept_m:
                        os.unlink(os.path.join(pd_, e))
                # delta partitions stay while ANY kept manifest references
                # them (merge-on-read time travel within the window)
                referenced: set[int] = set()
                for v in kept_m:
                    referenced |= set(self._load_manifest(name, v)["deltas"])
                for e in os.listdir(d):
                    m = re.fullmatch(r"delta_v(\d+)", e)
                    if m and int(m.group(1)) not in referenced:
                        shutil.rmtree(os.path.join(d, e))
                for be in os.listdir(d):
                    if not re.fullmatch(r"b\d+", be):
                        continue
                    bd = os.path.join(d, be)
                    vs = [(int(m.group(1)), e) for e in os.listdir(bd)
                          if (m := re.fullmatch(r"v(\d+)", e))]
                    kept = keep_set([v for v, _ in vs])
                    for v, e in vs:
                        if v not in kept:
                            shutil.rmtree(os.path.join(bd, e))
            elif name in APPEND_TABLES:
                continue
            else:
                vs = [(int(m.group(1)), e) for e in os.listdir(d)
                      if (m := re.fullmatch(r"v(\d+)(?:\.blob)?", e))]
                kept = keep_set([v for v, _ in vs])
                for v, e in vs:
                    if v not in kept:
                        p = os.path.join(d, e)
                        shutil.rmtree(p) if os.path.isdir(p) else os.unlink(p)

    # --- binary blobs, same versioned layout ---------------------------

    def write_blob(self, name: str, blob: bytes, version: int) -> None:
        d = self._table_dir(name)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"v{version:06d}.blob")
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        ptr_tmp = self._pointer_path(name) + f".tmp{os.getpid()}"
        with open(ptr_tmp, "w") as f:
            json.dump({"version": version, "committed_at": time.time()}, f)
        os.replace(ptr_tmp, self._pointer_path(name))

    def read_blob(self, name: str, version: int | None = None) -> bytes | None:
        v = self.current_version(name) if version is None else version
        if v is None:
            return None
        try:
            with open(os.path.join(self._table_dir(name),
                                   f"v{v:06d}.blob"), "rb") as f:
                return f.read()
        except OSError:
            return None

    # --- run-level metadata (iteration counter, discovery_seq counter) ---

    def read_meta(self) -> dict:
        try:
            with open(os.path.join(self.root, "_meta.json")) as f:
                return json.load(f)
        except OSError:
            return {}

    def write_meta(self, meta: dict) -> None:
        tmp = os.path.join(self.root, f"_meta.json.tmp{os.getpid()}")
        os.makedirs(self.root, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.root, "_meta.json"))
