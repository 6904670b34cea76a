"""Deduplication operators for training-data pipelines.

Five dedup families over ``documents(doc_id, text, ...)``, each designed
for the 100 TB shape (hash-partitioned group-bys, band-bucketed joins —
never an all-pairs comparison):

- exact_dedup:         md5 of the normalized text, keep min doc_id.
- minhash_lsh_pairs:   JVM-side normalized words → one Arrow kernel per
                       document (shingles, one md5 each, Kirsch–
                       Mitzenmacher double-hashed minima, band keys,
                       64-bit shingle hashes) → candidate pairs via
                       bucket self-join → verified Jaccard.
- simhash_dedup:       60-bit simhash over md5 shingle hashes via
                       bit-vote aggregation in Column space; near-dups
                       = equal simhash bands (Hamming blocking).
- ngram_jaccard_pairs: exact n-gram Jaccard on candidate pairs.
- embedding near-dup:  see similarity.py (cosine top-k).

Scale notes: every stage keys its shuffle on (hash, band or bucket); a
hot bucket (boilerplate shingles) is bounded by ``max_bucket`` to keep
the self-join from going quadratic — the standard LSH guard.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(text) -> "F.Column":
    return F.lower(F.regexp_replace(
        F.regexp_replace(F.coalesce(text, F.lit("")), r"\s+", " "),
        r"^\s+|\s+$", ""))


def assert_small_input(df: DataFrame, max_rows: int, op: str,
                       scale_alternative: str) -> DataFrame:
    """Fail-fast guard for the documented all-pairs/verification-only
    operators: an O(n²) theta-join over an unblocked 10^8-doc input
    would melt a cluster silently — count the input up front (one cheap
    scan vs the quadratic join) and refuse loudly, pointing at the
    bucketed variant.  Pass ``max_rows=None`` to opt out explicitly."""
    if max_rows is None:
        return df
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{op}: input has {n} rows > max_rows={max_rows}. This "
            f"operator is all-pairs (O(n²)) by contract and only safe on "
            f"pre-blocked candidate sets; use {scale_alternative} at "
            f"scale, or pass max_rows=None if the input really is "
            f"pre-blocked.")
    return df


def spread_small(df: DataFrame) -> DataFrame:
    """Round-robin repartition a few-partition input up to the session's
    default parallelism before a compute-heavy stage.

    A small single-file parquet scan (one row group) plans as 1-2 input
    partitions, serializing the per-row kernel on one or two cores
    (guide §2.5 input skew / §6 input split size); the repartition moves
    only the projected columns, so the exchange is tiny.  No-op when the
    input already has at least defaultParallelism partitions — at real
    scale the scan has far more splits and nothing is shuffled.

    Only a scan-rooted input (a leaf scan under projects and filters in
    the optimized plan) is probed: the probe materializes the RDD plan,
    and with AQE that EXECUTES any exchange stage a joined, aggregated
    or cached frame holds.  Any other input is returned unchanged."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.children().apply(0)
    if not node.children().isEmpty() or node.nodeName() == "InMemoryRelation":
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicates on normalized text: one survivor (min doc_id)
    per content hash; returns (doc_id, content_hash, group_size,
    is_survivor)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    w = Window.partitionBy("content_hash")
    return (docs.select("doc_id", h)
            .withColumn("group_size", F.count("*").over(w))
            .withColumn("min_doc_id", F.min("doc_id").over(w))
            .select("doc_id", "content_hash", "group_size",
                    (F.col("doc_id") == F.col("min_doc_id")).alias("is_survivor")))


def _words(text) -> "F.Column":
    """The normalized text's words (no empty strings)."""
    return F.filter(F.split(normalize_text(text), " "), lambda w: w != "")


def shingles_col(text, n: int = 3):
    """Word n-gram shingles of the normalized text (distinct)."""
    words = _words(text)
    k = F.size(words) - (n - 1)
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard short docs
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)) \
           .otherwise(F.array().cast("array<int>"))
    return F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))))


# Kirsch–Mitzenmacher double hashing for minhash permutations: ONE md5
# per shingle, split into two 40-bit halves (hex chars 1-10 / 11-20),
# permutation p = (h1 + p·h2) mod PRIME.  40-bit halves keep
# h1 + 31·h2 < 2^46 — far from BIGINT overflow, so numpy int64 and
# DuckDB UBIGINT arithmetic agree bit-for-bit.  md5 is the one hash both
# engines share, which is what makes the DuckDB oracle reproducible.
MINHASH_PRIME = (1 << 40) - 87  # largest prime below 2^40


def _minhash_kernel(n_hashes: int, bands: int, shingle_n: int):
    """``mapInPandas`` kernel (doc_id, words) → (doc_id, buckets, sh): per
    document, one md5 per distinct ``shingle_n``-gram, the ``n_hashes``
    minima, the ``bands`` keys md5("v0,v1,…") and, for the Jaccard
    verify, each shingle's md5 cut to its first 8 bytes (signed).  A
    document with no shingle emits no row."""
    p = np.arange(n_hashes, dtype=np.int64)
    rows = n_hashes // bands
    # big-endian byte weights: bytes 0-4 of the digest are hex 1-10
    w40 = np.array([1 << (8 * i) for i in range(4, -1, -1)], dtype=np.int64)

    def sign(batches):
        for pdf in batches:
            ids, buckets, sh = [], [], []
            for doc_id, words in zip(pdf["doc_id"], pdf["words"]):
                ws = words.tolist()
                grams = dict.fromkeys(" ".join(ws[i:i + shingle_n])
                                      for i in range(len(ws) - shingle_n + 1))
                if not grams:
                    continue
                digest = b"".join(hashlib.md5(g.encode()).digest()
                                  for g in grams)
                d = np.frombuffer(digest, np.uint8).reshape(-1, 16)
                h1, h2 = d[:, 0:5] @ w40, d[:, 5:10] @ w40
                sig = ((h1[:, None] + p * h2[:, None]) % MINHASH_PRIME) \
                    .min(axis=0).tolist()
                ids.append(doc_id)
                buckets.append([hashlib.md5(",".join(
                    map(str, sig[b * rows:(b + 1) * rows])).encode())
                    .hexdigest() for b in range(bands)])
                sh.append(np.frombuffer(digest, ">i8")[::2].astype(np.int64))
            if ids:
                yield pd.DataFrame({"doc_id": ids, "buckets": buckets,
                                    "sh": sh})

    return sign


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      n_hashes: int = 32, bands: int = 8,
                      shingle_n: int = 3, jaccard_threshold: float = 0.5,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-dup pairs via banded minhash, verified with exact
    shingle Jaccard.  Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    Words are normalized JVM-side (``_words``, as the DuckDB oracle
    does); each document then crosses into Python once."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    # project to the two needed columns BEFORE the spread so the
    # round-robin exchange ships only (doc_id, text) — guide §2.3
    signed = spread_small(docs.select("doc_id",
                                      F.col(text_col).alias("_mh_text"))) \
        .select("doc_id", _words(F.col("_mh_text")).alias("words")) \
        .mapInPandas(_minhash_kernel(n_hashes, bands, shingle_n),
                     f"doc_id {id_type}, buckets array<string>, "
                     "sh array<bigint>")
    # materialize the per-document proxy ONCE: the band self-join and
    # both verify joins read it, and each would re-run the scan and the
    # kernel otherwise (guide §8).  localCheckpoint is non-reliable: an
    # executor loss fails the query and the caller re-runs it from the
    # deterministic inputs (a reliable one needs a checkpoint dir).
    signed = signed.localCheckpoint()
    banded = signed.select("doc_id", F.posexplode("buckets")
                           .alias("band", "bucket"))
    # bound hot buckets (boilerplate) before the self-join — a window
    # over (band, bucket): one shuffle of the banded rows
    # (guide §2.4: two operations keyed the same way share one exchange)
    w_bucket = Window.partitionBy("band", "bucket")
    banded = (banded.withColumn("_bsz", F.count("*").over(w_bucket))
              .filter(F.col("_bsz") <= max_bucket).drop("_bsz"))
    a = banded.select(F.col("band"), F.col("bucket"),
                      F.col("doc_id").alias("doc_a"))
    b = banded.select(F.col("band"), F.col("bucket"),
                      F.col("doc_id").alias("doc_b"))
    cand = (a.join(b, ["band", "bucket"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())
    # exact Jaccard over the 64-bit shingle hashes: the counts equal
    # those of the string sets modulo 2^-64 collisions; AQE picks the
    # join sides from the checkpoint's real sizes
    cand = cand \
        .join(signed.select(F.col("doc_id").alias("doc_a"),
                            F.col("sh").alias("sh_a")), "doc_a") \
        .join(signed.select(F.col("doc_id").alias("doc_b"),
                            F.col("sh").alias("sh_b")), "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (cand.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= jaccard_threshold))


SIMHASH_BITS = 60  # 15 md5 hex chars — fits a signed long, DuckDB-castable


def simhash_col(text, n_bits: int = SIMHASH_BITS, shingle_n: int = 2):
    """Simhash over ``n_bits`` (default 60): per-bit majority vote over
    60-bit shingle hashes — conv(substring(md5(shingle),1,15),16,10) —
    computed with pure array expressions (bit i of the final hash = 1
    iff more shingle-hashes have bit i set than not).  md5-based so the
    DuckDB oracle reproduces the exact value
    (('0x'||substring(md5(s),1,15))::UBIGINT there); 60 bits keeps every
    mask positive in a signed long on both engines."""
    sh = shingles_col(text, shingle_n)
    hashes = F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("long"))

    def bit_set(mask):
        # NB: F.filter lambdas with two params receive the array index —
        # bind the mask via closure, keep the lambda unary
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    bits = [
        F.when(
            F.size(F.filter(hashes, bit_set(1 << i))) * 2 > F.size(hashes),
            F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseOR(b.cast("long"))
    return out


def simhash_dedup(docs: DataFrame, text_col: str = "text",
                  band_bits: int = 15) -> DataFrame:
    """Near-dup grouping by simhash band equality (Hamming blocking on
    SIMHASH_BITS/band_bits bands).  Returns candidate pairs (doc_a,
    doc_b, hamming_distance<=threshold upstream)."""
    sh = docs.select("doc_id", simhash_col(F.col(text_col)).alias("simhash"))
    n_bands = SIMHASH_BITS // band_bits
    mask = (1 << band_bits) - 1
    banded = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask))
            for b in range(n_bands)])).alias("band", "key"))
    a = banded.select("band", "key", F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sim_a"))
    b = banded.select("band", "key", F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sim_b"))
    pairs = (a.join(b, ["band", "key"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sim_a", "sim_b").distinct())
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.select("doc_a", "doc_b", ham.alias("hamming"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        shingle_n: int = 3, threshold: float = 0.8,
                        max_rows: int | None = 10_000) -> DataFrame:
    """Exact n-gram Jaccard over all pairs of a (pre-blocked) input —
    used as the verification oracle for the LSH variants and directly on
    small candidate sets.  Guarded by ``max_rows`` (fail-fast on
    unblocked input; the scale path is minhash_lsh_pairs)."""
    docs = assert_small_input(docs, max_rows, "ngram_jaccard_pairs",
                              "minhash_lsh_pairs")
    sh = docs.select("doc_id", shingles_col(F.col(text_col), shingle_n)
                     .alias("shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (pairs.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))
