"""Seeded workload inputs, cached under the checkout's state directory
keyed by generator parameters and seed.  The engine only ever sees these
parquet files."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .common import CACHE, ROOT

_IN_CHILD = False

_VERSION = 4
_TS_BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _cache_dir(kind: str, params: dict, seed: int) -> str:
    key = json.dumps({"v": _VERSION, "kind": kind, "seed": seed, **params},
                     sort_keys=True)
    h = hashlib.sha1(key.encode()).hexdigest()[:16]
    return os.path.join(CACHE, f"{kind}-s{seed}-{h}")


def _cached(kind: str, params: dict, seed: int, build) -> str:
    out = _cache_dir(kind, params, seed)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    if not _IN_CHILD:
        # generate in a child process, so generation memory never shows
        # in the measured process's peak RSS
        subprocess.run([sys.executable, "-m", "perfbench.inputs", kind,
                        json.dumps(params), str(seed)], check=True,
                       cwd=ROOT)
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


_FRONTIER_ARROW = pa.schema([
    ("url", pa.string()), ("domain_name", pa.string()),
    ("source_domain", pa.string()), ("priority", pa.int32()),
    ("status", pa.string()), ("discovery_seq", pa.int64()),
    ("discovery_ts", pa.timestamp("us", tz="UTC")), ("depth", pa.int32()),
    ("error_message", pa.string()), ("processed_iteration", pa.int32()),
])

FILLER_PREFIX = "http://fill-"


def crawl_corpus(seed: int, n_domains: int, links_per_page: int,
                 hub_every: int, hub_out_links: int, filler: int) -> str:
    """``write_fixtures`` corpus plus the seed frontier: every corpus host
    seeded at priority 1, followed by ``filler`` priority-0 pending rows
    that no measured iteration claims (they only grow the frontier the
    claim and the merges read).

    The fixture's link structure repeats with the domain index (hubs
    every ``hub_every`` domains, redirect links every 5), so the seed
    picks where the claim order starts — a rotation by a multiple of
    lcm(hub_every, 5) — and every seed's batches hold the same mix of
    hub and plain pages.  The seed also drives the fixture generator."""
    params = dict(n_domains=n_domains, links_per_page=links_per_page,
                  hub_every=hub_every, hub_out_links=hub_out_links,
                  filler=filler)

    def build(d):
        from map_the_net_crawler_spark.fixtures import write_fixtures
        write_fixtures(d, n_domains=n_domains, seed=seed,
                       links_per_page=links_per_page, hub_every=hub_every,
                       hub_out_links=hub_out_links)
        pages = pq.read_table(os.path.join(d, "pages.parquet"),
                              columns=["url", "warc_ts"]).to_pandas()
        idx = pages["url"].str.extract(r"^http://site(\d+)\.")[0]
        pages["_i"] = pd.to_numeric(idx).fillna(n_domains).astype(int)
        pages = pages.sort_values(["_i", "url"]).reset_index(drop=True)
        step = hub_every * 5 // math.gcd(hub_every, 5)
        # leave room for a few batches before the rotation wraps
        offset = step * random.Random(seed).randrange(
            max(1, (n_domains - 1024) // step + 1))
        order = (list(range(offset, n_domains)) + list(range(offset))
                 + list(range(n_domains, len(pages))))
        real = pd.DataFrame({
            "url": pages["url"].to_numpy()[order],
            "domain_name": pages["url"].str.replace(
                "http://", "", regex=False).to_numpy()[order],
            "source_domain": None,
            "priority": np.int32(1),
            "status": "pending",
            "discovery_seq": np.arange(len(pages), dtype=np.int64),
            "discovery_ts": pages["warc_ts"].to_numpy()[order],
            "depth": np.int32(0),
            "error_message": None,
            "processed_iteration": None,
        })
        tag = random.Random(seed).getrandbits(32)
        ids = np.arange(filler, dtype=np.int64)
        names = [f"fill-{tag:08x}-{i:07d}.zz" for i in range(filler)]
        fill = pd.DataFrame({
            "url": ["http://" + n for n in names],
            "domain_name": names,
            "source_domain": None,
            "priority": np.int32(0),
            "status": "pending",
            "discovery_seq": ids + len(pages),
            "discovery_ts": pd.Timestamp(_TS_BASE),
            "depth": np.int32(0),
            "error_message": None,
            "processed_iteration": None,
        })
        for part, df in (("real", real), ("filler", fill)):
            pq.write_table(pa.Table.from_pandas(df, schema=_FRONTIER_ARROW,
                                                preserve_index=False),
                           os.path.join(d, f"seeds_{part}.parquet"))

    return _cached("crawl", params, seed, build)


def neardup_inputs(seed: int, n_docs: int, n_vecs: int, dim: int) -> str:
    """``documents.parquet`` (doc_id, text) and ``embeddings.parquet``
    (vec_id, embedding array<float>), the shape of the repo's sf0.1
    tables.  Documents come in families of three over a large
    vocabulary: a 50-word base and two copies with two word edits each,
    so every seed plants the same number of near-duplicates; vectors
    are drawn around 16 cluster centres."""
    params = dict(n_docs=n_docs, n_vecs=n_vecs, dim=dim)

    def build(d):
        rng = np.random.default_rng(seed)
        vocab = np.array([f"w{i:05d}" for i in range(20_000)])
        texts: list[str] = []
        while len(texts) < n_docs:
            base = list(rng.choice(vocab, size=50))
            texts.append(" ".join(base))
            for _ in range(2):
                doc = list(base)
                for pos in rng.choice(len(doc), size=2, replace=False):
                    doc[int(pos)] = str(rng.choice(vocab))
                texts.append(" ".join(doc))
        texts = texts[:n_docs]
        docs = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                             "text": texts})
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                       os.path.join(d, "documents.parquet"))

        centres = rng.normal(size=(16, dim))
        lab = rng.integers(0, 16, size=n_vecs)
        vecs = (centres[lab] + 0.6 * rng.normal(size=(n_vecs, dim))) \
            .astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        emb = pa.table({
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        })
        pq.write_table(emb, os.path.join(d, "embeddings.parquet"))

    return _cached("neardup", params, seed, build)


if __name__ == "__main__":
    _IN_CHILD = True
    _kind, _params, _seed = sys.argv[1], json.loads(sys.argv[2]), \
        int(sys.argv[3])
    {"crawl": crawl_corpus, "neardup": neardup_inputs}[_kind](
        _seed, **_params)
