"""Similarity search over an embedding column (array<float>).

- brute_force_cosine_topk: the exactness baseline.  The query side is
  driver-collected (broadcast-sized by contract — the same bound the
  BroadcastNestedLoopJoin variant assumed); the corpus side streams
  through an Arrow ``mapInPandas`` numpy-matmul kernel that emits only a
  per-partition local top-k per query, so the final rank window sees
  n_queries × k × n_partitions rows, never the full cross product.
- lsh_bucketed_topk: the scale path — random-hyperplane LSH signatures
  bucket the corpus; each query only scans its matching bucket.
  Hyperplanes are sha256-derived (deterministic, no RNG state, and
  reproducible in the DuckDB oracle as literal vectors).
- ivf_topk: IVF-style coarse quantization — n_cells centroid rows picked
  deterministically (smallest md5(id), stable under any partitioning);
  vectors are assigned by max cosine; queries scan ``nprobe`` cells.

All pair scoring after a join goes through ``cosine_pairs_pd`` — an
Arrow-vectorized numpy kernel — never the interpreted higher-order
function expression (round-1 bench: the expression variant was ~1000×
off numpy speed; see VERDICT round 1).  All operators return
(query_id, neighbor_id, cosine, rank) with cosine rounded to 6 decimals
BEFORE any top-k cut so partition-local pruning and the final rank
window (cosine desc, neighbor_id asc) agree on ties.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..storage import empty_frame
from .dedup import spread_small
from .frontier import _estimated_bytes

# broadcast the query side of the bucket/cell joins only while its
# optimizer size estimate stays under this bound — the contract says
# queries are broadcast-sized, but an oversized caller should degrade
# to a shuffle join, not OOM the driver (the estimate is driver-side
# plan statistics; no job)
_QUERY_BROADCAST_MAX_BYTES = 256 * 2**20


def _maybe_broadcast(df: DataFrame) -> DataFrame:
    if _estimated_bytes(df) <= _QUERY_BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


def _stack(series: pd.Series) -> np.ndarray:
    return np.array(series.tolist(), dtype=np.float64)


@pandas_udf(DoubleType())
def cosine_pairs_pd(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized pairwise cosine over two array columns of equal dim —
    one Arrow batch → one numpy einsum (zero-norm rows score 0.0)."""
    A, B = _stack(a), _stack(b)
    na = np.linalg.norm(A, axis=1)
    nb = np.linalg.norm(B, axis=1)
    denom = na * nb
    dots = np.einsum("ij,ij->i", A, B)
    out = np.where(denom > 0, dots / np.where(denom > 0, denom, 1.0), 0.0)
    return pd.Series(out)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def brute_force_cosine_topk(queries: DataFrame, corpus: DataFrame,
                            k: int = 10, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    The query matrix is collected to the driver (queries are
    broadcast-sized by contract) and closure-shipped to an Arrow
    ``mapInPandas`` kernel over the corpus: per Arrow batch one
    normalized matmul, then a local top-(k+1) per query (the +1 absorbs
    a potential self-match, dropped afterwards).  The shuffle into the
    final rank window carries only ~n_queries × (k+1) rows per
    partition."""
    spark = corpus.sparkSession
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        return empty_frame(spark, out_schema + ", rank int")

    q_ids = np.asarray([r[0] for r in q_rows])
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    Qn = Q / np.where(qn > 0, qn, 1.0)[:, None]   # zero-norm rows stay 0
    m = k + 1

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            n_ids = pdf["neighbor_id"].to_numpy()
            C = _stack(pdf["vec"])
            cn = np.linalg.norm(C, axis=1)
            sims = Qn @ (C / np.where(cn > 0, cn, 1.0)[:, None]).T
            sims[:, cn == 0] = 0.0
            # round BEFORE the local cut so partition pruning and the
            # final window rank ties identically
            sims = np.round(sims, 6)
            take = min(m, sims.shape[1])
            for qi in range(sims.shape[0]):
                row = sims[qi]
                idx = np.lexsort((n_ids, -row))[:take]
                yield pd.DataFrame({"query_id": np.repeat(q_ids[qi], take),
                                    "neighbor_id": n_ids[idx],
                                    "cosine": row[idx]})

    # spread the small single-file corpus scan across cores before the
    # numpy kernel (guide §2.5/§6: a 1-2 partition scan serializes the
    # matmul); result-identical — every global top-k row survives its
    # partition's local top-(k+1) under the same rounded total order
    c = spread_small(corpus.select(F.col(id_col).alias("neighbor_id"),
                                   F.col(vec_col).alias("vec")))
    scored = (c.mapInPandas(score, out_schema)
              .filter(F.col("query_id") != F.col("neighbor_id")))
    return _rank_topk(scored, k)


def embedding_neardup_exact(emb: DataFrame, threshold: float = 0.3,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            max_rows: int | None = 10_000) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs — all-pairs by
    contract (verification oracle / pre-blocked candidate sets only),
    guarded by ``max_rows`` so unblocked 10^8-doc misuse fails fast
    instead of going quadratic; the scale path is the LSH-bucketed
    variant (lsh_bucketed_topk / q_embedding_neardup_lsh)."""
    from .dedup import assert_small_input
    emb = assert_small_input(emb, max_rows, "embedding_neardup_exact",
                             "the LSH-bucketed variant "
                             "(lsh_bucketed_topk)")
    a = emb.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("doc_a") < F.col("doc_b"))
    cos = F.round(cosine_pairs_pd(F.col("va"), F.col("vb")), 6)
    return (pairs.select("doc_a", "doc_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: component j of plane p is
    sha256-derived in [-1, 1) — no RNG state, reproducible anywhere
    (including as literals inside the DuckDB oracle SQL)."""
    H = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for j in range(dim):
            h = int.from_bytes(
                hashlib.sha256(f"plane:{p}:{j}".encode()).digest()[:8], "big")
            H[p, j] = (h % 10000) / 5000.0 - 1.0
    return H


def lsh_signature_udf(dim: int, n_planes: int):
    """Arrow UDF: sign pattern of the vector against the deterministic
    hyperplanes, packed into a long (bit p = dot(vec, plane_p) >= 0)."""
    H = hyperplanes(dim, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("long")
    def sig(v: pd.Series) -> pd.Series:
        V = _stack(v)
        bits = (V @ H.T) >= 0
        return pd.Series(bits.astype(np.int64) @ weights)

    return sig


def lsh_bucketed_topk(queries: DataFrame, corpus: DataFrame, dim: int,
                      k: int = 10, n_planes: int = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket; exact
    cosine + window rank inside the bucket.  One shuffle keyed by bucket."""
    sig = lsh_signature_udf(dim, n_planes)

    def with_sig(df, id_alias, vec_alias):
        return df.select(F.col(id_col).alias(id_alias),
                         F.col(vec_col).alias(vec_alias),
                         sig(F.col(vec_col)).alias("bucket"))

    q = with_sig(queries, "query_id", "q_vec")
    # spread the corpus scan so the signature UDF runs on all cores
    c = with_sig(spread_small(corpus.select(id_col, vec_col)),
                 "neighbor_id", "c_vec")
    # the query side is broadcast-sized by contract (brute force
    # collects it to the driver outright) — broadcasting it makes the
    # bucket join shuffle-free on the corpus side (guide §3.1); size-
    # gated so an oversized caller degrades to a shuffle join instead
    # of OOMing
    scored = (_maybe_broadcast(q).join(c, "bucket")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine_pairs_pd(F.col("q_vec"), F.col("c_vec")), 6)
                      .alias("cosine")))
    return _rank_topk(scored, k)


def ivf_topk(queries: DataFrame, corpus: DataFrame, dim: int,
             n_cells: int = 16, nprobe: int = 4, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-style ANN: centroids = the n_cells corpus rows with the
    smallest md5(id) hex (lexicographic min of fixed-length hex ==
    numeric min — deterministic under any partitioning, and the same
    pick the DuckDB oracle makes); cell assignment by max cosine
    (rounded to 6, ties to the lower cell id); queries probe the
    ``nprobe`` nearest cells."""
    # spread the corpus scan so the centroid pick + assign UDF
    # parallelize (deterministic under any partitioning — the pick is a
    # global orderBy, the assignment row-wise)
    c = spread_small(corpus.select(F.col(id_col).alias("neighbor_id"),
                                   F.col(vec_col).alias("c_vec")))
    cent_rows = (c.withColumn("_h", F.md5(F.col("neighbor_id").cast("string")))
                 .orderBy("_h", "neighbor_id").limit(n_cells)
                 .select("c_vec").collect())
    M = np.array([list(r[0]) for r in cent_rows], dtype=np.float64)
    mn = np.linalg.norm(M, axis=1)
    Mn = M / np.where(mn > 0, mn, 1.0)[:, None]

    # ONE closure (centroid matrix ships once) used by both sides: the
    # UDF ranks the nprobe nearest cells; corpus assignment is the first
    @pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        V = _stack(v)
        vn = np.linalg.norm(V, axis=1)
        sims = np.round((V / np.where(vn > 0, vn, 1.0)[:, None]) @ Mn.T, 6)
        sims[vn == 0, :] = 0.0
        cells = np.arange(sims.shape[1])
        out = [np.lexsort((cells, -row))[:nprobe].astype(np.int32)
               for row in sims]
        return pd.Series(out)

    c_assigned = c.withColumn("cell",
                              F.element_at(assign(F.col("c_vec")), 1))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
    q_assigned = q.withColumn("cell",
                              F.explode(assign(F.col("q_vec"))))

    # query side broadcast-sized by contract — shuffle-free cell join
    # (size-gated, see _maybe_broadcast)
    scored = (_maybe_broadcast(q_assigned).join(c_assigned, "cell")
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      F.round(cosine_pairs_pd(F.col("q_vec"), F.col("c_vec")), 6)
                      .alias("cosine")))
    return _rank_topk(scored, k)
