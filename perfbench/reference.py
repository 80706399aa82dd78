"""Reference values computed apart from the program, and the checks that
compare the program's outputs against them.

Reference values come from the generated inputs only (numpy, networkx,
plain Python) and never from program output; they are cached per input
directory (`ref.pkl`). Checks that state properties of a method (the
walk sample, the diameter bounds, the delta probe against the batch
pairs) read program outputs on both sides, and say so in their names.

Every failed check is reported as one line: the check's name, the
expected value, the value got, and the tolerance.
"""
import hashlib
import math
import os
import pickle
from collections import defaultdict, deque

import networkx as nx
import numpy as np
import pyarrow.parquet as pq

LPA_ROUNDS = 5
LANDMARKS = 8
BETWEENNESS_SOURCES = 8
BETWEENNESS_SEED = 42
DUP_THRESHOLD = 0.8
# |MinHash estimate - exact Jaccard| allowed per pair: 128 permutations
# give a standard error <= 0.045, so 0.2 is over 4.4 standard errors
EST_DISTANCE = 0.2
# share of planted pairs with Jaccard >= 0.95 the LSH pairs must find:
# 8 bands x 16 rows catch such a pair with probability >= 0.99
PLANTED_RECALL_FLOOR = 0.9
KNN_K = 10
KNN_QUERIES = 40  # vec_id < 40 are the queries (PerfBench.NQueries)
SIM_TOL = 1e-5
IVF_RECALL_FLOOR = 0.8
BRUTE_RECALL_FLOOR = 0.99


class Checks:
    def __init__(self):
        self.failures = []
        self.count = 0
        self.measured = {}  # quality figures reported beside the result

    def expect(self, name, ok, expected, got, tol="exact"):
        self.count += 1
        if not ok:
            self.failures.append(
                f"CHECK FAILED {name}: expected={expected} got={got} tolerance={tol}")

    def equal(self, name, expected, got):
        self.expect(name, expected == got, _short(expected), _short(got))

    def mapping(self, name, expected, got):
        """Per-key equality; a failure shows the first differing keys."""
        diff = [(k, expected.get(k), got.get(k))
                for k in sorted(set(expected) | set(got))
                if expected.get(k) != got.get(k)]
        self.expect(name, not diff, f"{len(expected)} keys", f"{len(diff)} differ: "
                    + _short(diff[:5]))

    def close(self, name, expected, got, rel=None, abs_=None):
        tol = max(rel * abs(expected) if rel else 0.0, abs_ or 0.0)
        ok = got is not None and abs(got - expected) <= tol
        self.expect(name, ok, expected, got,
                    f"rel {rel}" if rel else f"abs {abs_}")


def _short(v):
    s = repr(v)
    return s if len(s) <= 300 else s[:300] + "..."


def read(check_dir, name):
    return pq.read_table(os.path.join(check_dir, name)).to_pydict()


def cached(input_dir, compute):
    path = os.path.join(input_dir, "ref.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    ref = compute(input_dir)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(ref, f)
    os.replace(tmp, path)
    return ref


# ----------------------------------------------------------------- graph

def lpa_replay(ids, src_i, dst_i):
    """5 synchronous rounds: each vertex takes the most frequent label
    among its neighbours, ties to the smallest label."""
    labels = ids.copy()
    to = np.concatenate([dst_i, src_i])
    frm = np.concatenate([src_i, dst_i])
    for _ in range(LPA_ROUNDS):
        lab = labels[frm]
        order = np.lexsort((lab, to))
        t, l = to[order], lab[order]
        start = np.ones(len(t), dtype=bool)
        start[1:] = (t[1:] != t[:-1]) | (l[1:] != l[:-1])
        gi = np.flatnonzero(start)
        cnt = np.diff(np.append(gi, len(t)))
        gt, gl = t[gi], l[gi]
        # per target: max count, then smallest label
        o2 = np.lexsort((gl, -cnt, gt))
        gt, gl = gt[o2], gl[o2]
        first = np.ones(len(gt), dtype=bool)
        first[1:] = gt[1:] != gt[:-1]
        new = labels.copy()
        new[gt[first]] = gl[first]
        labels = new
    return labels


def components(ids, src_i, dst_i):
    """Union-find; each vertex labelled with its component's min id."""
    parent = list(range(len(ids)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src_i.tolist(), dst_i.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ids[ra] < ids[rb]:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return np.array([ids[find(i)] for i in range(len(ids))], dtype=np.int64)


def bfs(adj, s):
    dist = {s: 0}
    q = deque([s])
    while q:
        u = q.popleft()
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    return dist


def brandes_fixed_point(adj, sources, n):
    """Brandes dependencies from `sources` in the program's fixed-point
    form: each contribution sigma_v/sigma_w * (1e9 + delta_w) is rounded
    to an integer before it is summed, so the sums are exact."""
    dep = defaultdict(int)
    for s in sources:
        dist = {s: 0}
        sigma = {s: 1.0}
        levels = [[s]]
        while True:
            nxt = []
            for v in levels[-1]:
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        sigma[w] = 0.0
                        nxt.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            if not nxt:
                break
            levels.append(nxt)
        delta = defaultdict(int)
        for lvl in range(len(levels) - 1, 0, -1):
            for w in levels[lvl]:
                f = 1.0e9 + delta[w]
                for v in adj[w]:
                    if dist[v] == lvl - 1:
                        delta[v] += math.floor(sigma[v] / sigma[w] * f + 0.5)
        for v, d in delta.items():
            if v != s:
                dep[v] += d
    k = min(len(sources), n)
    return {v: float(d * n) / (k * 2.0 * 1.0e9) for v, d in dep.items()}


def graph_reference(input_dir):
    z = np.load(os.path.join(input_dir, "graph.npz"))
    src, dst = z["src"], z["dst"]
    ids = np.unique(np.concatenate([src, dst]))
    si, di = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    n = len(ids)
    deg = np.bincount(si, minlength=n) + np.bincount(di, minlength=n)

    G = nx.Graph()
    G.add_nodes_from(ids.tolist())
    G.add_edges_from(zip(src.tolist(), dst.tolist()))
    adj = {v: list(G.adj[v]) for v in G.nodes}
    tri = nx.triangles(G)

    order = sorted(range(n), key=lambda i: (-deg[i], ids[i]))
    landmarks = [int(ids[i]) for i in order[:LANDMARKS]]
    dists = {lm: bfs(adj, lm) for lm in landmarks}
    closeness = defaultdict(lambda: [0, 0])
    for lm, d in dists.items():
        for v, x in d.items():
            if x > 0:
                closeness[v][0] += 1
                closeness[v][1] += x

    md5 = lambda v: hashlib.md5(f"{v}:{BETWEENNESS_SEED}".encode()).hexdigest()
    sources = sorted(ids.tolist(), key=lambda v: (md5(v), v))[:BETWEENNESS_SOURCES]

    return {
        "ids": ids, "src": src, "dst": dst,
        "degree": dict(zip(ids.tolist(), deg.tolist())),
        "triangles": tri,
        "triangle_total": sum(tri.values()) // 3,
        "avg_clustering": nx.average_clustering(G),
        "transitivity": nx.transitivity(G),
        "lpa": dict(zip(ids.tolist(), lpa_replay(ids, si, di).tolist())),
        "component": dict(zip(ids.tolist(), components(ids, si, di).tolist())),
        "landmarks": landmarks,
        "bfs": {(lm, v, x) for lm, d in dists.items() for v, x in d.items()},
        "closeness": {v: c / t for v, (c, t) in closeness.items()},
        "betweenness": brandes_fixed_point(adj, sources, n),
    }


def check_graph(ref, check_dir, scalars, c):
    n = len(ref["ids"])
    # degrees
    tri = read(check_dir, "triangles")
    got_deg = dict(zip(tri["id"], tri["degree"]))
    c.mapping("degrees.per_vertex", ref["degree"], got_deg)
    c.equal("degrees.sum_is_2E", 2 * len(ref["src"]), sum(got_deg.values()))
    c.equal("graph.n_vertices", n, scalars["n_vertices"])
    c.equal("graph.n_edges", len(ref["src"]), scalars["n_edges"])
    hist = defaultdict(int)
    for d in ref["degree"].values():
        hist[d] += 1
    c.equal("degree.histogram", sorted(hist.items()),
            [tuple(x) for x in scalars["degree_histogram"]])
    c.close("degree.average", 2 * len(ref["src"]) / n, scalars["avg_degree"], rel=1e-12)

    # triangles and clustering (the program rounds both to 6 decimals)
    got_tri = dict(zip(tri["id"], tri["triangles"]))
    c.mapping("triangles.per_vertex", ref["triangles"], got_tri)
    c.equal("triangles.total", ref["triangle_total"], scalars["triangles"])
    c.close("clustering.average", round(ref["avg_clustering"], 6),
            scalars["avg_clustering"], rel=1e-9)
    c.close("clustering.transitivity", round(ref["transitivity"], 6),
            scalars["transitivity"], rel=1e-9)

    # LPA: same partition as the replay (labels compared as a partition)
    comms = read(check_dir, "communities")
    got_comm = dict(zip(comms["id"], comms["community"]))
    c.equal("lpa.vertices", n, len(got_comm))
    pairs = {(got_comm.get(v), lab) for v, lab in ref["lpa"].items()}
    c.equal("lpa.partition_blocks", len(set(ref["lpa"].values())), len(pairs))
    c.equal("lpa.partition_blocks_program", len(set(got_comm.values())), len(pairs))
    c.equal("lpa.communities", len(set(ref["lpa"].values())), scalars["communities"])

    # connected components: union-find, labelled by min id
    cc = read(check_dir, "components")
    c.mapping("components.labels", ref["component"], dict(zip(cc["id"], cc["component"])))
    c.equal("components.count", len(set(ref["component"].values())), scalars["components"])

    # community sample (properties of the walk, over the program's LPA
    # labels, which lpa.* verified against the replay)
    s = read(check_dir, "sample")
    sample_comm = dict(zip(s["id"], s["community"]))
    c.equal("sample.vertices_distinct", len(s["id"]), len(sample_comm))
    c.equal("sample.own_community",
            len(sample_comm),
            sum(1 for v, cm in sample_comm.items() if got_comm.get(v) == cm))
    intra = defaultdict(list)
    for a, b in zip(ref["src"].tolist(), ref["dst"].tolist()):
        if got_comm.get(a) == got_comm.get(b):
            intra[got_comm[a]].append((a, b))
    c.equal("sample.communities_walked", set(intra), set(sample_comm.values()))
    members = defaultdict(set)
    for v, cm in sample_comm.items():
        members[cm].add(v)
    disconnected = []
    for cm, vs in members.items():
        h = nx.Graph()
        h.add_nodes_from(vs)
        h.add_edges_from((a, b) for a, b in intra[cm] if a in vs and b in vs)
        if not nx.is_connected(h):
            disconnected.append(cm)
    c.equal("sample.connected_in_community", [], disconnected[:10])
    se = read(check_dir, "sample_edges")
    sset = set(sample_comm)
    want = {(a, b) for a, b in zip(ref["src"].tolist(), ref["dst"].tolist())
            if a in sset and b in sset}
    c.equal("sample.induced_edges", want, set(zip(se["src"], se["dst"])))
    sg = nx.Graph()
    sg.add_nodes_from(sset)
    sg.add_edges_from(want)
    c.equal("sample.metrics.vertices", len(sset), scalars["sample_vertices"])
    c.equal("sample.metrics.edges", len(want), scalars["sample_edges"])
    c.close("sample.metrics.avg_degree", 2 * len(want) / max(1, len(sset)),
            scalars["sample_avg_degree"], rel=1e-12)
    c.close("sample.metrics.avg_clustering", round(nx.average_clustering(sg), 6),
            scalars["sample_avg_clustering"], rel=1e-9)
    c.close("sample.metrics.transitivity", round(nx.transitivity(sg), 6),
            scalars["sample_transitivity"], rel=1e-9)

    # closeness: landmark BFS distances exact, closeness from them
    b = read(check_dir, "bfs")
    c.equal("closeness.bfs_distances", ref["bfs"],
            set(zip(b["landmark"], b["v"], b["dist"])))
    cl = read(check_dir, "closeness")
    got_cl = dict(zip(cl["id"], cl["closeness"]))
    bad = [(v, round(x, 6), got_cl.get(v)) for v, x in ref["closeness"].items()
           if got_cl.get(v) is None or abs(got_cl[v] - round(x, 6)) > 1e-9 * x]
    c.expect("closeness.values", not bad and len(got_cl) == len(ref["closeness"]),
             "rounded reference", bad[:5], "rel 1e-9 of the 6-decimal value")

    # betweenness: fixed-point Brandes replay from the md5-ordered sources
    bt = read(check_dir, "betweenness")
    got_bt = dict(zip(bt["id"], bt["betweenness"]))
    bad = [(v, x, got_bt.get(v)) for v, x in ref["betweenness"].items()
           if got_bt.get(v) is None or abs(got_bt[v] - x) > 1e-12 * abs(x)]
    extra = [(v, x) for v, x in got_bt.items()
             if v not in ref["betweenness"] and x != 0.0]
    c.expect("betweenness.values", not bad and not extra and len(got_bt) == n,
             "Brandes replay", (bad + extra)[:5], "rel 1e-12")

    # diameter: double-sweep estimate within the landmark eccentricity bounds
    lm1 = ref["landmarks"][0]
    comp = ref["component"][lm1]
    ecc = [max(x for (l, _, x) in ref["bfs"] if l == lm)
           for lm in ref["landmarks"] if ref["component"][lm] == comp]
    d = scalars["diameter"]
    c.expect("diameter.bounds", max(ecc) / 2 <= d <= 2 * min(ecc),
             f"[{max(ecc) / 2}, {2 * min(ecc)}]", d, "bounds")


# -------------------------------------------------------------- curation

def curation_reference(input_dir):
    z = np.load(os.path.join(input_dir, "curation.npz"))
    with open(os.path.join(input_dir, "texts.txt")) as f:
        texts = f.read().split("\n")
    ids = z["ids"].tolist()
    tokens = {i: frozenset(t.split(" ")) for i, t in zip(ids, texts)}
    emb = z["emb"].astype(np.float64)
    unit = emb / np.maximum(np.linalg.norm(emb, axis=1, keepdims=True), 1e-300)
    sims = unit[:KNN_QUERIES] @ unit.T
    sims[np.arange(KNN_QUERIES), np.arange(KNN_QUERIES)] = -np.inf
    top = np.argsort(-sims, axis=1, kind="stable")[:, :KNN_K]
    planted = [tuple(p) for p in z["planted"].tolist()]
    return {
        "tokens": tokens, "base": set(ids[:int(z["n_base"])]),
        "unit": unit, "top": {qi: set(top[qi].tolist()) for qi in range(KNN_QUERIES)},
        "planted": [(min(a, b), max(a, b)) for a, b in planted
                    if jaccard(tokens[a], tokens[b]) >= 0.95],
    }


def jaccard(a, b):
    return len(a & b) / len(a | b)


def check_knn(name, ref, rows, c, recall_floor):
    unit = ref["unit"]
    bad, hits, per_query = [], 0, defaultdict(list)
    for qid, rank, nid, sim in zip(rows["query_id"], rows["rank"],
                                   rows["neighbor_id"], rows["sim"]):
        want = float(unit[qid] @ unit[nid])
        if abs(want - sim) > SIM_TOL or nid == qid:
            bad.append((qid, nid, want, sim))
        per_query[qid].append((rank, sim, nid))
    c.expect(f"{name}.similarities", not bad, "numpy cosine", bad[:5], f"abs {SIM_TOL}")
    ordered = all([r for r, _, _ in sorted(v)] == list(range(1, KNN_K + 1)) and
                  all(a[1] >= b[1] for a, b in zip(sorted(v), sorted(v)[1:]))
                  for v in per_query.values())
    c.expect(f"{name}.ranked_k_per_query", ordered and len(per_query) == len(ref["top"]),
             f"{len(ref['top'])} queries x ranks 1..{KNN_K}, sims non-increasing",
             len(per_query), "exact")
    for qid, v in per_query.items():
        hits += len(ref["top"][qid] & {nid for _, _, nid in v})
    recall = hits / (KNN_K * len(ref["top"]))
    c.measured[f"{name}.recall_at_{KNN_K}"] = recall
    c.expect(f"{name}.recall_at_{KNN_K}", recall >= recall_floor,
             f">= {recall_floor}", recall, "floor")


def check_curation(ref, check_dir, scalars, c):
    tok = ref["tokens"]
    p = read(check_dir, "pairs")
    pairs = {(a, b): e for a, b, e in zip(p["a"], p["b"], p["est_jaccard"])}
    c.equal("dedup.pairs.distinct_ordered", len(p["a"]),
            sum(1 for a, b in pairs if a < b))
    bad = [(a, b, e, round(jaccard(tok[a], tok[b]), 4)) for (a, b), e in pairs.items()
           if e < DUP_THRESHOLD or abs(e - jaccard(tok[a], tok[b])) > EST_DISTANCE]
    c.expect("dedup.pairs.estimate_vs_exact_jaccard", not bad,
             f"est >= {DUP_THRESHOLD} and |est - jaccard| <= {EST_DISTANCE}",
             bad[:5], EST_DISTANCE)
    found = sum(1 for pr in ref["planted"] if pr in pairs)
    recall = found / max(1, len(ref["planted"]))
    c.measured["dedup.pairs.planted_recall"] = recall
    c.measured["dedup.pairs.max_est_error"] = max(
        (abs(e - jaccard(tok[a], tok[b])) for (a, b), e in pairs.items()), default=0.0)
    c.expect("dedup.pairs.planted_recall", recall >= PLANTED_RECALL_FLOOR and ref["planted"],
             f">= {PLANTED_RECALL_FLOOR} of {len(ref['planted'])} planted pairs "
             "with jaccard >= 0.95", recall, "floor")

    # components: union-find over the pair graph
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    cc = read(check_dir, "dup_components")
    c.mapping("dedup.components.union_find", want, dict(zip(cc["id"], cc["component"])))

    # delta probe = batch pairs over base + delta restricted to delta x base
    d = read(check_dir, "delta_pairs")
    base = ref["base"]
    want = set()
    for (a, b), e in pairs.items():
        if (a in base) != (b in base):
            dl, bs = (b, a) if a in base else (a, b)
            want.add((dl, bs, e))
    c.equal("dedup.delta_probe.equals_batch_pairs", want,
            set(zip(d["delta_id"], d["base_id"], d["est_jaccard"])))

    check_knn("ann.ivf", ref, read(check_dir, "ivf"), c, IVF_RECALL_FLOOR)
    check_knn("ann.brute", ref, read(check_dir, "brute"), c, BRUTE_RECALL_FLOOR)


def check(workload, input_dir, check_dir, scalars):
    """Run every check; returns the Checks with its failure lines."""
    c = Checks()
    if workload == "curation":
        check_curation(cached(input_dir, curation_reference), check_dir, scalars, c)
    else:
        check_graph(cached(input_dir, graph_reference), check_dir, scalars, c)
    return c
