"""Seeded input generator for the graft benchmark.

Every input is a pure function of (workload, seed, scale): the same
arguments always write the same files.

The graph workload (`sna_community`) gets a planted-partition
graph: communities of 60-140 vertices, each closed by a ring over a
random order of its members (so no vertex is isolated and every planted
community is connected), plus random intra-community chords and random
inter-community edges. About 1% of the communities are islands with no
inter-community edge, so the graph has several connected components.
Vertex ids are distinct random longs; edges are canonical (src < dst)
and deduplicated, and the vertex set is the edge endpoints.

The `curation` workload gets a base and a delta slice of documents over
a 6,000-token vocabulary (tokens joined by single spaces, the
`split(text, " ")` tokenizer), with planted mutated copies (0-3 tokens
replaced), plus clustered 64-dimensional embeddings in the testdata
schema (vec_id long, embedding array<float>, label int).

Usage: python3 gen.py --workload sna_community --seed 1 --out DIR [--scale 1.0]
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# vertices of the graph workload at scale 1.0
GRAPH_VERTICES = 12_000
# (base docs, delta docs, embeddings) for curation at scale 1.0
CURATION_SIZES = (8_000, 2_000, 12_000)
VOCAB = 6_000
DIM = 64
EMB_CLUSTERS = 48


def planted_graph(rng, n_target):
    """Planted-partition edge list: (src, dst, ids, truth)."""
    sizes = []
    while sum(sizes) < n_target:
        sizes.append(int(rng.integers(60, 141)))
    n = sum(sizes)
    ids = rng.choice(np.int64(20 * n), size=n, replace=False).astype(np.int64)
    truth = np.repeat(np.arange(len(sizes), dtype=np.int32), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    islands = set(rng.choice(len(sizes), size=max(1, len(sizes) // 100),
                             replace=False).tolist())
    src, dst = [], []
    for c, (s0, sz) in enumerate(zip(starts, sizes)):
        members = s0 + rng.permutation(sz)
        # ring: connected community, every vertex has degree >= 2
        src.append(members)
        dst.append(np.roll(members, 1))
        # intra chords: ~3 per vertex
        m = 3 * sz
        src.append(s0 + rng.integers(0, sz, m))
        dst.append(s0 + rng.integers(0, sz, m))
    idx_all = np.arange(n)
    not_island = np.ones(n, dtype=bool)
    for c in islands:
        not_island[starts[c]:starts[c] + sizes[c]] = False
    open_idx = idx_all[not_island]
    # inter-community edges: ~1 per (non-island) vertex
    m = len(open_idx)
    src.append(rng.choice(open_idx, m))
    dst.append(rng.choice(open_idx, m))
    a = np.concatenate(src)
    b = np.concatenate(dst)
    keep = a != b
    a, b = ids[a[keep]], ids[b[keep]]
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1], ids, truth


def write_graph(out, seed, scale):
    rng = np.random.default_rng([seed, 1])
    n_target = max(600, int(GRAPH_VERTICES * scale))
    src, dst, ids, truth = planted_graph(rng, n_target)
    os.makedirs(f"{out}/data", exist_ok=True)
    pq.write_table(pa.table({"src": src, "dst": dst}),
                   f"{out}/data/edges.parquet")
    pq.write_table(pa.table({"id": ids, "community": truth}),
                   f"{out}/truth.parquet")
    np.savez(f"{out}/graph.npz", src=src, dst=dst)


def mutate(rng, toks, n_changes):
    toks = list(toks)
    for pos in rng.choice(len(toks), size=n_changes, replace=False):
        toks[pos] = f"w{int(rng.integers(VOCAB))}"
    return toks


def write_curation(out, seed, scale):
    rng = np.random.default_rng([seed, 3])
    n_base, n_delta, n_emb = (max(200, int(x * scale)) for x in CURATION_SIZES)
    ids = rng.choice(np.int64(10 * (n_base + n_delta)), size=n_base + n_delta,
                     replace=False).astype(np.int64)
    docs, planted = [], []
    for i in range(n_base + n_delta):
        # ~10% of docs are planted copies of an earlier doc: base copies
        # come from base, delta copies from base or delta
        if i > 0 and rng.random() < 0.10:
            j = int(rng.integers(i))
            planted.append((ids[j], ids[i]))
            docs.append(mutate(rng, docs[j], int(rng.integers(0, 4))))
        else:
            length = int(rng.integers(40, 90))
            docs.append([f"w{t}" for t in rng.integers(0, VOCAB, length)])
    texts = [" ".join(d) for d in docs]
    os.makedirs(f"{out}/data/emb", exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids[:n_base], "text": texts[:n_base]}),
                   f"{out}/data/base.parquet")
    pq.write_table(pa.table({"doc_id": ids[n_base:], "text": texts[n_base:]}),
                   f"{out}/data/delta.parquet")

    centers = rng.normal(size=(EMB_CLUSTERS, DIM))
    label = rng.integers(0, EMB_CLUSTERS, n_emb).astype(np.int32)
    emb = (centers[label] + 0.35 * rng.normal(size=(n_emb, DIM))).astype(np.float32)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(emb.reshape(-1)), DIM)
    pq.write_table(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": arr.cast(pa.list_(pa.float32())),
        "label": label}), f"{out}/data/emb/embeddings.parquet")
    np.savez(f"{out}/curation.npz", ids=ids, n_base=n_base, emb=emb,
             planted=np.array(planted, dtype=np.int64).reshape(-1, 2))
    with open(f"{out}/texts.txt", "w") as f:
        f.write("\n".join(texts))


def generate(workload, seed, out, scale=1.0):
    os.makedirs(out, exist_ok=True)
    if workload == "curation":
        write_curation(out, seed, scale)
    else:
        write_graph(out, seed, scale)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["sna_community", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, a.scale)
    return 0


if __name__ == "__main__":
    sys.exit(main())
