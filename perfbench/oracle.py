"""Pure-Python tac14 scorer: the independent check on the engine's
``evaluate(sys, gold, measures="tac14")``.

It follows the reference neleval definitions (neleval/configs.py
measure table; neleval/coref_metrics.py B-cubed and CEAF) directly on
Python sets, so it shares no code with the Spark engine.  Mentions are
``(docid, start, end, kbid, type)``; a kbid starting with ``NIL`` is a
NIL link, and clusters are formed by kbid.
"""

from __future__ import annotations

from collections import defaultdict

SET_MEASURES = {
    # name: (key fields, filter)
    "strong_link_match": (("span", "kbid"), "is_linked"),
    "strong_nil_match": (("span",), "is_nil"),
    "strong_all_match": (("span", "kbid"), None),
    "strong_mention_match": (("span",), None),
    "strong_typed_mention_match": (("span", "type"), None),
    "strong_typed_all_match": (("span", "type", "kbid"), None),
}
CLUSTERING_MEASURES = {
    "b_cubed": (("span",), "b_cubed"),
    "b_cubed_plus": (("span", "kbid"), "b_cubed"),
    "mention_ceaf": (("span",), "ceaf"),
    "typed_mention_ceaf": (("span", "type"), "ceaf"),
}
TAC14 = tuple(SET_MEASURES) + tuple(CLUSTERING_MEASURES)


def read_tsv(path: str) -> list[tuple]:
    out = []
    with open(path) as f:
        for line in f:
            docid, start, end, kbid, _score, etype = \
                line.rstrip("\n").split("\t")
            out.append((docid, int(start), int(end), kbid, etype))
    return out


def _key(m, fields):
    docid, start, end, kbid, etype = m
    parts = []
    for f in fields:
        if f == "span":
            parts.extend((docid, start, end))
        elif f == "kbid":
            parts.append(kbid)
        else:
            parts.append(etype)
    return tuple(parts)


def _keep(m, flt):
    nil = m[3].startswith("NIL")
    return flt is None or (nil if flt == "is_nil" else not nil)


def _prf(ptp, fp, rtp, fn) -> dict:
    p = ptp / (ptp + fp) if ptp + fp else 0.0
    r = rtp / (rtp + fn) if rtp + fn else 0.0
    f = 2 * p * r / (p + r) if p + r else 0.0
    return {"ptp": ptp, "fp": fp, "rtp": rtp, "fn": fn,
            "precision": p, "recall": r, "fscore": f}


def _clusters(mentions, fields) -> dict[str, set]:
    out: dict[str, set] = defaultdict(set)
    for m in mentions:
        out[m[3]].add(_key(m, fields))
    return out


def _b_cubed(gold: dict, pred: dict) -> dict:
    owner = {k: cid for cid, ks in gold.items() for k in ks}
    inter: dict[tuple, int] = defaultdict(int)
    for pid, ks in pred.items():
        for k in ks:
            if k in owner:
                inter[(owner[k], pid)] += 1
    p_num = sum(n * n / len(pred[p]) for (_, p), n in inter.items())
    r_num = sum(n * n / len(gold[g]) for (g, _), n in inter.items())
    p_den = sum(len(ks) for ks in pred.values())
    r_den = sum(len(ks) for ks in gold.values())
    return _prf(p_num, p_den - p_num, r_num, r_den - r_num)


def _mention_ceaf(gold: dict, pred: dict) -> dict:
    """phi(K, R) = |K & R|, maximised over one-to-one cluster
    alignments; solved exactly per connected component of the
    overlap graph."""
    owner = {k: cid for cid, ks in gold.items() for k in ks}
    inter: dict[tuple, int] = defaultdict(int)
    for pid, ks in pred.items():
        for k in ks:
            if k in owner:
                inter[(owner[k], pid)] += 1
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for g, p in inter:
        parent[find(("g", g))] = find(("p", p))
    comps: dict = defaultdict(list)
    for (g, p), n in inter.items():
        comps[find(("g", g))].append((g, p, n))
    best = 0
    for edges in comps.values():
        gs = sorted({g for g, _, _ in edges})
        ps = sorted({p for _, p, _ in edges})
        gi = {g: i for i, g in enumerate(gs)}
        pi = {p: i for i, p in enumerate(ps)}
        w = [[0] * len(ps) for _ in gs]
        for g, p, n in edges:
            w[gi[g]][pi[p]] = n
        best += max_weight_assignment(w)
    p_den = sum(len(ks) for ks in pred.values())
    r_den = sum(len(ks) for ks in gold.values())
    return _prf(best, p_den - best, best, r_den - best)


def max_weight_assignment(w: list[list[int]]) -> int:
    """Maximum total weight of a one-to-one row/column assignment
    (Hungarian method, O(n^2 m)); non-negative integer weights."""
    if len(w) > len(w[0]):
        w = [list(col) for col in zip(*w)]
    n, m = len(w), len(w[0])
    inf = float("inf")
    u, v = [0] * (n + 1), [0] * (m + 1)
    match, way = [0] * (m + 1), [0] * (m + 1)
    for i in range(1, n + 1):
        match[0], j0 = i, 0
        minv, used = [inf] * (m + 1), [False] * (m + 1)
        while True:
            used[j0] = True
            i0, delta, j1 = match[j0], inf, 0
            row = w[i0 - 1]
            for j in range(1, m + 1):
                if not used[j]:
                    cur = -row[j - 1] - u[i0] - v[j]
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


def tac14(system: list[tuple], gold: list[tuple]) -> dict[str, dict]:
    out = {}
    for name, (fields, flt) in SET_MEASURES.items():
        s = {_key(m, fields) for m in system if _keep(m, flt)}
        g = {_key(m, fields) for m in gold if _keep(m, flt)}
        tp = len(s & g)
        out[name] = _prf(tp, len(s) - tp, tp, len(g) - tp)
    for name, (fields, kind) in CLUSTERING_MEASURES.items():
        g, s = _clusters(gold, fields), _clusters(system, fields)
        out[name] = _b_cubed(g, s) if kind == "b_cubed" \
            else _mention_ceaf(g, s)
    return out
