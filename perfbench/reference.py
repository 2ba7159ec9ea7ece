"""Brute-force references the benchmark checks the library's output
against. Pure Python and numpy, sharing no code with `fozzie_spark`."""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np


def digest(rows) -> str:
    """Order-independent hash of an output: sha256 over its sorted rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple("" if v is None else v for v in r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def osa(a: str, b: str) -> int:
    """Optimal-string-alignment distance (restricted Damerau-Levenshtein)."""
    prev2, prev = None, list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (a[i - 1] != b[j - 1]))
            if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
        prev2, prev = prev, cur
    return prev[-1]


def _char_bags(names: list[str]) -> np.ndarray:
    bags = np.zeros((len(names), 64), dtype=np.int16)
    for i, s in enumerate(names):
        for c, n in Counter(s).items():
            bags[i, ord(c) & 63] += n
    return bags


def osa_matches(left: list[str], right: list[str], k: int) -> dict[tuple[str, str], int]:
    """All (l, r) with osa(l, r) <= k over the cross product of two
    distinct-name lists. A bag-of-characters bound (every edit changes at
    most one character on each side; transpositions change none) prunes
    the cross product in numpy; survivors are scored exactly."""
    lb, rb = _char_bags(left), _char_bags(right)
    llen = np.array([len(s) for s in left])
    rlen = np.array([len(s) for s in right])
    out = {}
    for s in range(0, len(left), 64):
        diff = lb[s : s + 64, None, :] - rb[None, :, :]
        bag = np.maximum(np.clip(diff, 0, None).sum(-1), np.clip(-diff, 0, None).sum(-1))
        ok = (bag <= k) & (np.abs(llen[s : s + 64, None] - rlen[None, :]) <= k)
        for i, j in zip(*np.nonzero(ok)):
            a, b = left[s + i], right[j]
            d = osa(a, b)
            if d <= k:
                out[(a, b)] = d
    return out


def full_join_rows(left: list[tuple], right: list[tuple], matches: dict) -> list[tuple]:
    """Rows of a full fuzzy join of (id, name) frames on `matches`:
    (id.x, name.x, id.y, name.y, d), unmatched rows padded with None."""
    by_l: dict[str, list] = {}
    for lid, ln in left:
        by_l.setdefault(ln, []).append(lid)
    by_r: dict[str, list] = {}
    for rid, rn in right:
        by_r.setdefault(rn, []).append(rid)
    rows = []
    for (ln, rn), d in matches.items():
        rows += [(lid, ln, rid, rn, float(d)) for lid in by_l[ln] for rid in by_r[rn]]
    lm = {ln for ln, _ in matches}
    rm = {rn for _, rn in matches}
    rows += [(lid, ln, None, None, None) for lid, ln in left if ln not in lm]
    rows += [(None, None, rid, rn, None) for rid, rn in right if rn not in rm]
    return rows


def near_dedup_rows(docs: list[tuple], w: int, max_distance: float) -> list[tuple]:
    """(id, text, dup_group, group_size, is_canonical) for exact word-
    shingle Jaccard near-dup grouping: groups are the connected components
    of pairs within `max_distance`, named by their smallest id."""
    sh = {}
    for i, t in docs:
        toks = t.split()
        s = {" ".join(toks[k : k + w]) for k in range(len(toks) - w + 1)}
        if s:
            sh[i] = s
    index: dict[str, list] = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    parent = {i: i for i, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    seen = set()
    for ids in index.values():
        for a in ids:
            for b in ids:
                if a < b and (a, b) not in seen:
                    seen.add((a, b))
                    inter = len(sh[a] & sh[b])
                    if 1.0 - inter / (len(sh[a]) + len(sh[b]) - inter) <= max_distance:
                        ra, rb = find(a), find(b)
                        if ra != rb:
                            parent[max(ra, rb)] = min(ra, rb)
    group = {i: find(i) for i, _ in docs}
    size = Counter(group.values())
    return [(i, t, group[i], size[group[i]], i == group[i]) for i, t in docs]


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of a predicted clustering against a true one, both
    given as item -> label."""
    def pairs(counts):
        return sum(n * (n - 1) // 2 for n in counts.values())

    tp = pairs(Counter((pred[i], truth[i]) for i in pred))
    pp, tt = pairs(Counter(pred.values())), pairs(Counter(truth[i] for i in pred))
    prec = tp / pp if pp else 1.0
    rec = tp / tt if tt else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def pair_f1(pred: set, truth: set) -> float:
    """F1 of a predicted pair set against a true pair set."""
    tp = len(pred & truth)
    prec = tp / len(pred) if pred else 1.0
    rec = tp / len(truth) if truth else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0
