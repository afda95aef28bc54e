#!/usr/bin/env python3
"""Generate a REALISTIC clustered-embeddings fixture for dial validation.

The driver's synthetic embeddings are near-isotropic, which makes the
sign-bit dial's recall look better than production: real text-embedding
corpora are strongly CLUSTERED (topical cones with small angular
radius), which is exactly the shape that concentrates sign buckets into
a few hot cells and splits true neighbor pairs across bucket
boundaries. This tool generates that shape —
  - `n = 20000 * sf` unit vectors in 64-d,
  - a Zipf-weighted mixture of 40 cluster directions (hot topics get
    most of the mass, like web text),
  - per-cluster angular spread ~12 deg (cos ~0.978 to the center), so
    in-cluster cosines land broadly in [0.4, 1.0] straddling the 0.45
    mining threshold,
  - ~5 % planted NEAR-DUPLICATES: a clone of an earlier vector plus
    small Gaussian noise (cos >= ~0.99) — the template/boilerplate
    shape whose recall the q57/q120/q121 gates care about,
  - same schema as the driver's embeddings table (vec_id BIGINT,
    embedding FLOAT[], label INT = cluster id; -1 for planted dups),
    so Tables.load reads it unchanged (RecallSpec builds the same
    shape in-process for its recall laws).

Deterministic (PCG64 seeded like make_scale_data.py).
Usage: python3 tools/make_clustered_embeddings.py <sf> [outdir]
Writes /root/repo/testdata/realemb_sf{N}/embeddings.parquet by default.
"""
import pathlib
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
OUT = pathlib.Path(sys.argv[2] if len(sys.argv) > 2
                   else f"/root/repo/testdata/realemb_sf{SF:g}")
OUT.mkdir(parents=True, exist_ok=True)

DIMS = 64
CLUSTERS = 40
SPREAD = 0.21          # radians-ish via tangential noise scale
DUP_RATE = 0.05
DUP_NOISE = 0.02       # clone cosine ~0.999


def rng(name):
    return np.random.Generator(
        np.random.PCG64(7_100_000 + zlib.crc32(name.encode())))


def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def main():
    n = int(20000 * SF)
    g = rng("clustered_embeddings")
    centers = unit(g.standard_normal((CLUSTERS, DIMS)))
    # Zipf topic mass: hottest topic ~14 % of the corpus
    w = 1.0 / np.arange(1, CLUSTERS + 1) ** 1.05
    w /= w.sum()
    labels = g.choice(CLUSTERS, size=n, p=w)
    base = unit(centers[labels] + SPREAD * g.standard_normal((n, DIMS)))
    # plant near-dups: each clone copies a random EARLIER NON-DUP
    # vector (cloning a clone's replaced slot would break the planted
    # (dup, orig) ground truth — the orig must keep its vector)
    is_dup = g.random(n) < DUP_RATE
    is_dup[0] = False
    vecs = base.copy()
    dup_idx = np.flatnonzero(is_dup)
    nondup = np.flatnonzero(~is_dup)
    cnt = np.searchsorted(nondup, dup_idx)  # non-dups before each dup
    src = nondup[(g.random(len(dup_idx)) * cnt).astype(np.int64)]
    vecs[dup_idx] = unit(base[src]
                         + DUP_NOISE * g.standard_normal(
                             (len(dup_idx), DIMS)))
    lab = labels.astype(np.int32)
    lab[dup_idx] = -1
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(vecs.astype(np.float32).tolist(),
                              type=pa.list_(pa.float32())),
        "label": pa.array(lab),
    })
    pq.write_table(table, OUT / "embeddings.parquet")
    # ground-truth planted pairs, for recall checks that want the
    # planted subset specifically (RecallSpec gates the same (dup,
    # orig) recall on its in-process mirror of this corpus)
    pq.write_table(pa.table({
        "dup_id": pa.array(dup_idx.astype(np.int64)),
        "orig_id": pa.array(src.astype(np.int64)),
    }), OUT / "planted_pairs.parquet")
    print(f"{OUT}: n={n} dups={len(dup_idx)} clusters={CLUSTERS}")


if __name__ == "__main__":
    main()
