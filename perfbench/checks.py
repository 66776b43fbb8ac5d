"""Brute-force models the benchmark checks the engine's outputs against.

Each check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import math

import numpy as np

from gen import shingle_hashes

# BM25 constants of plans/text_index.py
K1, B = 1.2, 0.75


class ViewModel:
    """Live documents as {doc_id: (group, value)} and the expected
    finals of both views over them. Deletes go to the MapReduceView
    only, so the JoinView's facts are kept apart."""

    def __init__(self, rows, dims):
        self.docs = {d: (g, v) for d, g, v in rows}
        self.facts = dict(self.docs)
        self.dims = dict(dims)
        self.groups: dict[int, list[int]] = {}
        for g, v in self.docs.values():
            self._bump(g, 1, v)

    def _bump(self, g: int, n: int, v: int) -> None:
        cur = self.groups.setdefault(g, [0, 0])
        cur[0] += n
        cur[1] += v
        if cur[0] == 0:
            del self.groups[g]

    def apply(self, rows, deletes) -> None:
        for d, g, v in rows:
            old = self.docs.get(d)
            if old is not None:
                self._bump(old[0], -1, -old[1])
            self.docs[d] = (g, v)
            self.facts[d] = (g, v)
            self._bump(g, 1, v)
        for d in deletes:
            g, v = self.docs.pop(d)
            self._bump(g, -1, -v)

    def check_lookup(self, g: int, got: list[dict]) -> list[str]:
        want = self.groups.get(g)
        rows = [(r["cnt"], r["v"]) for r in got]
        exp = [] if want is None else [tuple(want)]
        return [] if rows == exp else [f"query_local({g}): got {rows}, want {exp}"]

    def check_finals(self, rows) -> list[str]:
        got = {r["g"]: (r["cnt"], r["v"]) for r in rows}
        want = {g: tuple(x) for g, x in self.groups.items()}
        if got == want:
            return []
        bad = sorted(set(got) ^ set(want) | {g for g in got if got[g] != want.get(g)})
        return [f"view finals differ on {len(bad)} groups, e.g. {bad[:3]}"]

    def check_join(self, rows) -> list[str]:
        want: dict[str, list[int]] = {}
        for g, v in self.facts.values():
            seg = self.dims.get(g)
            if seg is not None:
                cur = want.setdefault(seg, [0, 0])
                cur[0] += 1
                cur[1] += v
        got = {r["seg"]: [r["n"], r["sv"]] for r in rows}
        return [] if got == want else [f"join finals differ: {sorted(set(got) ^ set(want))[:3]}"]


def jaccard_bp(a: frozenset, b: frozenset) -> int:
    """Jaccard in basis points, rounded down like the engine's."""
    return len(a & b) * 10000 // len(a | b)


def exact_topk(mat: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int):
    """Cosine similarities of ``q`` to every row, top ``k`` by (sim
    desc, id asc), sims rounded to 6 places like the engine's."""
    qn = q.astype(np.float64)
    qn = qn / np.linalg.norm(qn)
    sims = np.round(mat @ qn / np.linalg.norm(mat, axis=1), 6)
    order = np.lexsort((ids, -sims))[:k]
    return ids[order], sims, order


def check_ann_exact(rows, queries, mat, ids, k: int) -> list[str]:
    """Engine top-k at nprobe = n_cells against exact numpy top-k; ties
    at the k-th similarity may come back in either order."""
    probs = []
    pos = {int(i): n for n, i in enumerate(ids)}
    for qid, qv in queries:
        _, sims, order = exact_topk(mat, ids, qv, k)
        kth = sims[order[-1]]
        got = [r for r in rows if r["query_id"] == qid]
        if len(got) != k:
            probs.append(f"ann query {qid}: {len(got)} rows, want {k}")
            continue
        for r in got:
            want = sims[pos[int(r["vec_id"])]]
            if abs(r["cos_sim"] - want) > 2e-6 or want < kth - 2e-6:
                probs.append(f"ann query {qid}: vec {r['vec_id']} sim {r['cos_sim']} not in exact top-{k}")
                break
    return probs


def recall_at_k(rows, queries, mat, ids, k: int) -> float:
    hit = total = 0
    for qid, qv in queries:
        top, _, _ = exact_topk(mat, ids, qv, k)
        got = {int(r["vec_id"]) for r in rows if r["query_id"] == qid}
        hit += len(got & {int(i) for i in top})
        total += k
    return hit / total


class TextModel:
    """Per-document term counts of the live documents, for BM25 and
    near-duplicate checks."""

    def __init__(self):
        self.tf: dict[int, dict[str, int]] = {}
        self.dl: dict[int, int] = {}
        self.df: dict[str, int] = {}
        self.shingles: dict[int, frozenset] = {}

    def add(self, doc: int, text: str) -> None:
        toks = text.lower().split()
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        self.tf[doc] = counts
        self.dl[doc] = len(toks)
        for t in counts:
            self.df[t] = self.df.get(t, 0) + 1
        self.shingles[doc] = shingle_hashes(text)

    def bm25(self, terms: list[str]) -> dict[int, float]:
        n = len(self.tf)
        avgdl = sum(self.dl.values()) / n
        out = {}
        for doc, counts in self.tf.items():
            parts = []
            hit = False
            for t in terms:
                tf = counts.get(t, 0)
                if tf:
                    hit = True
                    df = self.df[t]
                    idf = math.log(((n - df) + 0.5) / (df + 0.5) + 1.0)
                    parts.append(idf * (tf * 2.2 / (tf + K1 * ((1.0 - B) + B * (self.dl[doc] / avgdl)))))
                else:
                    parts.append(0.0)
            if hit:
                total = parts[0] + (parts[1] + parts[2]) if len(parts) == 3 else sum(parts)
                out[doc] = total
        return out

    def check_bm25(self, terms, rows, k: int) -> list[str]:
        scores = self.bm25(terms)
        want_n = min(k, len(scores))
        if len(rows) != want_n:
            return [f"bm25 {terms}: {len(rows)} rows, want {want_n}"]
        if not rows:
            return []
        got = {int(r["doc_id"]): r["score"] for r in rows}
        for doc, sc in got.items():
            if doc not in scores or abs(scores[doc] - sc) > 1.5e-4:
                return [f"bm25 {terms}: doc {doc} score {sc} vs model {scores.get(doc)}"]
        floor = min(got.values())
        for doc, sc in scores.items():
            if doc not in got and sc > floor + 1.5e-4:
                return [f"bm25 {terms}: doc {doc} (score {sc:.4f}) missing from top-{k}"]
        return []

    def check_probe(self, batch, planted, rows) -> list[str]:
        """Every returned pair carries its exact Jaccard; every planted
        pair at Jaccard >= 0.9 is found."""
        probe_sh = {d: shingle_hashes(t) for d, t in batch}
        found = set()
        for r in rows:
            a, b = int(r["doc_a"]), int(r["doc_b"])
            want = jaccard_bp(probe_sh[a], self.shingles[b])
            if r["jaccard_bp"] != want or 2 * want < 10000:
                return [f"probe pair ({a},{b}): jaccard_bp {r['jaccard_bp']} vs exact {want}"]
            found.add((a, b))
        for a, b in planted:
            if jaccard_bp(probe_sh[a], self.shingles[b]) >= 9000 and (a, b) not in found:
                return [f"probe missed planted near-duplicate ({a},{b})"]
        return []
