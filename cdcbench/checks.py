"""Output checks, recomputed by the harness independently of the program.

* Clustering scores (MUC, B-cubed, CEAF-e) from a written ``true, pred``
  listing, with the optimal CEAF-e matching solved per connected block of
  the cluster-overlap graph.
* Exact word-3-shingle Jaccard of dedup pairs, from the document texts.
"""
import glob
import math
import os
from collections import Counter, defaultdict

import pyarrow.parquet as pq


# ------------------------------------------------------------ clustering

def read_pairs_dir(d):
    """``true, pred`` lines of a Sources.writeClusterPairs directory."""
    rows = []
    for p in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(p) as f:
            for line in f:
                t, _, pr = line.rstrip("\n").partition(", ")
                rows.append((t, pr))
    return rows


def _hungarian_max(w):
    """Maximum total weight of a 1:1 assignment over a dense n x m matrix
    (n <= m), by the potential-based shortest augmenting path method."""
    n, m = len(w), len(w[0])
    inf = float("inf")
    u, v = [0.0] * (n + 1), [0.0] * (m + 1)
    match, way = [0] * (m + 1), [0] * (m + 1)
    for i in range(1, n + 1):
        match[0] = i
        j0 = 0
        minv = [inf] * (m + 1)
        used = [False] * (m + 1)
        while True:
            used[j0] = True
            i0, delta, j1 = match[j0], inf, 0
            for j in range(1, m + 1):
                if not used[j]:
                    cur = -w[i0 - 1][j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j], way[j] = cur, j0
                    if minv[j] < delta:
                        delta, j1 = minv[j], j
            for j in range(m + 1):
                if used[j]:
                    u[match[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if match[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            match[j0] = match[j1]
            j0 = j1
    return sum(w[match[j] - 1][j - 1] for j in range(1, m + 1) if match[j])


def _f1(p, r):
    return 2 * p * r / (p + r) if p + r > 0 else 0.0


def cluster_scores(rows):
    """MUC, B-cubed and CEAF-e F1 of (true, pred) rows, as the program's
    Metrics.evalSummary defines them."""
    n = len(rows)
    inter = Counter(rows)
    tsz = Counter(t for t, _ in rows)
    psz = Counter(p for _, p in rows)
    parts_of_pred = Counter(p for _, p in inter)
    parts_of_true = Counter(t for t, _ in inter)
    muc_p = sum(psz[p] - parts_of_pred[p] for p in psz) / (sum(s - 1 for s in psz.values()) + 1e-13)
    muc_r = sum(tsz[t] - parts_of_true[t] for t in tsz) / (sum(s - 1 for s in tsz.values()) + 1e-13)
    b3_p = sum(c * c / psz[p] for (_, p), c in inter.items()) / n
    b3_r = sum(c * c / tsz[t] for (t, _), c in inter.items()) / n
    # CEAF-e: the matching decomposes over connected blocks of overlaps
    adj = defaultdict(set)
    for t, p in inter:
        adj[("t", t)].add(("p", p))
        adj[("p", p)].add(("t", t))
    seen, total = set(), 0.0
    for start in adj:
        if start in seen:
            continue
        block, stack = [], [start]
        seen.add(start)
        while stack:
            x = stack.pop()
            block.append(x)
            for y in adj[x]:
                if y not in seen:
                    seen.add(y)
                    stack.append(y)
        ts = [x[1] for x in block if x[0] == "t"]
        ps = [x[1] for x in block if x[0] == "p"]
        w = [[2.0 * inter.get((t, p), 0) / (tsz[t] + psz[p]) for p in ps] for t in ts]
        if len(ts) > len(ps):
            w = [list(col) for col in zip(*w)]
        total += _hungarian_max(w)
    ce_p, ce_r = total / len(tsz), total / len(psz)
    return {"muc_f1": 2 * muc_p * muc_r / (muc_p + muc_r + 1e-13),
            "b3_f1": _f1(b3_p, b3_r), "ceafe_f1": _f1(ce_p, ce_r)}


def pair_recall(rows):
    """Share of same-true-cluster element pairs that share a predicted
    cluster."""
    tsz = Counter(t for t, _ in rows)
    inter = Counter(rows)
    gold = sum(s * (s - 1) // 2 for s in tsz.values())
    kept = sum(c * (c - 1) // 2 for c in inter.values())
    return kept / gold if gold else 1.0


# ------------------------------------------------------------ dedup

def shingles(text):
    toks = text.split(" ")
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def load_docs(path):
    tbl = pq.read_table(path, columns=["doc_id", "text"]).to_pydict()
    return {d: shingles(t) for d, t in zip(tbl["doc_id"], tbl["text"])}


def read_tsv(path, n):
    with open(path) as f:
        return [tuple(line.rstrip("\n").split("\t")[:n]) for line in f if line.strip()]


def jaccard_counts(a, b):
    num = len(a & b)
    return num, len(a) + len(b) - num


def check_dedup_op(sets, planted, pairs, labels, num, den):
    """Problems found in one dedup op's output, plus its planted-pair recall.

    ``planted``: (dup, original, kind); ``pairs``: (a, b, j_num, j_den);
    ``labels``: (node, comp)."""
    problems = []
    for a, b, jn, jd in pairs:
        got = jaccard_counts(sets[a], sets[b])
        if got != (jn, jd):
            problems.append(f"pair ({a},{b}) jaccard counts {jn}/{jd}, exact {got[0]}/{got[1]}")
        elif got[0] * den < got[1] * num:
            problems.append(f"pair ({a},{b}) below threshold: {got[0]}/{got[1]}")
    comp = dict(labels)

    def same(a, b):
        return comp.get(a, a) == comp.get(b, b)
    for d, o, kind in planted:
        if kind == "exact" and not same(d, o):
            problems.append(f"exact duplicate {d} not grouped with its original {o}")
    due = [(d, o) for d, o, _ in planted
           if jaccard_counts(sets[d], sets[o])[0] * den >= jaccard_counts(sets[d], sets[o])[1] * num]
    recall = sum(same(d, o) for d, o in due) / len(due) if due else 1.0
    return problems, recall, len(due)


def kept_rows(out_dir):
    files = glob.glob(os.path.join(out_dir, "kept", "*.parquet"))
    return sum(pq.read_metadata(f).num_rows for f in files)


def approx_equal(a, b, tol=1e-6):
    return a is not None and b is not None and math.isclose(a, b, rel_tol=tol, abs_tol=tol)
