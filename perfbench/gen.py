"""Seeded input generators for the benchmark workloads.

Everything the engine receives is derived here from the run's seed, so
one seed always yields the same corpora and the same batch stream.
Each stream draws from its own generator: how many batches a timed run
gets through never changes the content of batch *i*, and lookups drawn
between batches never shift the batch stream.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


# ----- view_trickle --------------------------------------------------------


@dataclass(frozen=True)
class ViewSpec:
    n_docs: int = 6_000
    n_groups: int = 300
    n_segments: int = 12
    # batch i takes the size and group count at position i of these
    # cycles, so a run of whole cycles applies the same number of
    # documents under every seed; the seed picks their content
    batch_sizes: tuple = (20, 40)
    groups_per_batch: tuple = (1, 3)
    op_mix: tuple = (("update", 0.7), ("insert", 0.2), ("migrate", 0.1))
    # every ``delete_every``-th batch also deletes ``delete_n`` docs
    delete_every: int = 2
    delete_n: int = 3
    zipf_s: float = 1.1
    lookups_per_gap: int = 500


@dataclass
class ViewBatch:
    rows: list  # [(doc_id, g, v)], unique doc ids
    deletes: list  # doc ids removed from the MapReduceView after the upserts
    n_update: int
    n_insert: int
    n_migrate: int


class ViewStream:
    """Initial corpus plus the batch and lookup streams of one seed.

    The group key is local to the document id: the initial corpus puts
    consecutive ids into the same group. Batches pick a few groups by a
    Zipf law, then update, insert or migrate documents into them.
    """

    def __init__(self, spec: ViewSpec, seed: int):
        self.spec = spec
        root = np.random.SeedSequence(seed)
        init_ss, batch_ss, look_ss = root.spawn(3)
        init = np.random.default_rng(init_ss)
        self._rng = np.random.default_rng(batch_ss)
        self._look = np.random.default_rng(look_ss)
        n, g = spec.n_docs, spec.n_groups
        self.initial = [
            (i, i * g // n, int(v))
            for i, v in enumerate(init.integers(0, 100, size=n))
        ]
        self.dims = [(k, f"seg{int(s):02d}") for k, s in
                     enumerate(init.integers(0, spec.n_segments, size=g))]
        # Zipf rank -> group, so the hot groups differ from seed to seed
        self._rank_group = init.permutation(g)
        self._p = zipf_probs(g, spec.zipf_s)
        self._ops = [o for o, _ in spec.op_mix]
        self._op_p = np.array([p for _, p in spec.op_mix])
        # live doc ids per group, kept in lists for O(1) random picks
        self._members: list[list[int]] = [[] for _ in range(g)]
        self._pos: dict[int, int] = {}
        self._group: dict[int, int] = {}
        for doc, grp, _ in self.initial:
            self._add(doc, grp)
        self._next_id = n
        self._tick = 0

    def _add(self, doc: int, grp: int) -> None:
        self._pos[doc] = len(self._members[grp])
        self._members[grp].append(doc)
        self._group[doc] = grp

    def _remove(self, doc: int) -> None:
        grp = self._group.pop(doc)
        lst, i = self._members[grp], self._pos.pop(doc)
        last = lst.pop()
        if last != doc:
            lst[i] = last
            self._pos[last] = i

    def _zipf_group(self, rng) -> int:
        return int(self._rank_group[rng.choice(len(self._p), p=self._p)])

    def _pick(self, rng, grp: int, taken: set) -> int | None:
        lst = self._members[grp]
        for _ in range(8):
            if not lst:
                return None
            d = lst[int(rng.integers(len(lst)))]
            if d not in taken:
                return d
        return None

    def next_batch(self) -> ViewBatch:
        rng, spec = self._rng, self.spec
        pos = self._tick
        self._tick += 1
        n_groups = spec.groups_per_batch[pos % len(spec.groups_per_batch)]
        groups = [self._zipf_group(rng) for _ in range(n_groups)]
        rows, taken = [], set()
        counts = {"update": 0, "insert": 0, "migrate": 0}
        for _ in range(spec.batch_sizes[pos % len(spec.batch_sizes)]):
            grp = groups[int(rng.integers(len(groups)))]
            op = self._ops[int(rng.choice(len(self._ops), p=self._op_p))]
            v = int(rng.integers(0, 100))
            if op == "update":
                doc = self._pick(rng, grp, taken)
                if doc is None:
                    op = "insert"
            if op == "migrate":
                src = int(rng.integers(spec.n_groups))
                doc = self._pick(rng, src, taken) if src != grp else None
                if doc is None:
                    op = "insert"
                else:
                    self._remove(doc)
                    self._add(doc, grp)
            if op == "insert":
                doc = self._next_id
                self._next_id += 1
                self._add(doc, grp)
            taken.add(doc)
            counts[op] += 1
            rows.append((doc, grp, v))
        deletes = []
        while (self._tick % spec.delete_every == 0 and len(deletes) < spec.delete_n
               and self._group):
            grp = int(rng.integers(spec.n_groups))
            doc = self._pick(rng, grp, taken)
            if doc is not None:
                taken.add(doc)
                deletes.append(doc)
                self._remove(doc)
        return ViewBatch(rows, deletes, counts["update"],
                         counts["insert"], counts["migrate"])

    def lookup_keys(self, n: int) -> list[int]:
        """Zipf-skewed group keys for ``query_local``."""
        ranks = self._look.choice(len(self._p), size=n, p=self._p)
        return [int(g) for g in self._rank_group[ranks]]


# ----- serve_mixed ---------------------------------------------------------


@dataclass(frozen=True)
class ServeSpec:
    n_docs: int = 2_000
    vocab: int = 2_000
    doc_len: tuple = (30, 60)
    zipf_s: float = 1.05
    near_dup_share: float = 0.1
    dim: int = 64
    n_clusters: int = 16
    ingest_docs: int = 20
    ann_batch: int = 8
    probe_docs: int = 10
    query_ticks_per_ingest: int = 1


def shingle_hashes(text: str) -> frozenset:
    """The index's shingle set: crc32 of the distinct word 3-shingles of
    the lower-cased whitespace tokens (one shingle below 4 tokens)."""
    toks = text.lower().split()
    if len(toks) <= 3:
        sh = {" ".join(toks)}
    else:
        sh = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    return frozenset(zlib.crc32(s.encode()) for s in sh)


class ServeStream:
    """Documents with text and a 64-d embedding, a share of them planted
    near-duplicates of earlier documents, plus the query and ingest
    streams of one seed."""

    PROBE_ID0 = 1_000_000_000  # probe and ANN query ids never collide with docs

    def __init__(self, spec: ServeSpec, seed: int):
        self.spec = spec
        root = np.random.SeedSequence(seed)
        init_ss, q_ss, i_ss = root.spawn(3)
        self._init = np.random.default_rng(init_ss)
        self._q = np.random.default_rng(q_ss)
        self._i = np.random.default_rng(i_ss)
        self._word_p = zipf_probs(spec.vocab, spec.zipf_s)
        self.centers = self._init.standard_normal((spec.n_clusters, spec.dim))
        self.texts: dict[int, str] = {}
        self.vecs: dict[int, np.ndarray] = {}
        for doc in range(spec.n_docs):
            self._make_doc(self._init, doc)
        self._next_id = spec.n_docs
        self._next_probe = self.PROBE_ID0

    def _words(self, rng, n: int) -> list[str]:
        return [f"w{int(i)}" for i in rng.choice(self.spec.vocab, size=n, p=self._word_p)]

    def _variant(self, rng, text: str) -> str:
        toks = text.split()
        # edit the last token (Jaccard (n-1)/(n+1) >= 0.9) or one in the
        # middle (three shingles change, Jaccard about 0.8 to 0.9)
        i = len(toks) - 1 if rng.random() < 0.5 else int(rng.integers(1, len(toks) - 1))
        toks[i] = f"x{int(rng.integers(1 << 20))}"
        return " ".join(toks)

    def _vector(self, rng, near: np.ndarray | None = None) -> np.ndarray:
        if near is not None:
            v = near + 0.05 * rng.standard_normal(self.spec.dim)
        else:
            c = self.centers[int(rng.integers(self.spec.n_clusters))]
            v = c + 0.6 * rng.standard_normal(self.spec.dim)
        return v.astype(np.float32)

    def _make_doc(self, rng, doc: int) -> None:
        # ids are dense from 0, so every id below ``doc`` exists
        if doc and rng.random() < self.spec.near_dup_share:
            orig = int(rng.integers(doc))
            self.texts[doc] = self._variant(rng, self.texts[orig])
            self.vecs[doc] = self._vector(rng, self.vecs[orig].astype(np.float64))
        else:
            lo, hi = self.spec.doc_len
            self.texts[doc] = " ".join(self._words(rng, int(rng.integers(lo, hi + 1))))
            self.vecs[doc] = self._vector(rng)

    def ingest_batch(self) -> list[int]:
        """New document ids, generated into ``texts``/``vecs``."""
        ids = []
        for _ in range(self.spec.ingest_docs):
            doc = self._next_id
            self._next_id += 1
            self._make_doc(self._i, doc)
            ids.append(doc)
        return ids

    def _fresh_probe_id(self) -> int:
        self._next_probe += 1
        return self._next_probe

    def ann_queries(self, live: list[int]) -> list[tuple[int, np.ndarray]]:
        rng = self._q
        out = []
        for _ in range(self.spec.ann_batch):
            base = self.vecs[live[int(rng.integers(len(live)))]].astype(np.float64)
            out.append((self._fresh_probe_id(), self._vector(rng, base)))
        return out

    def bm25_terms(self) -> list[str]:
        # three distinct terms from the mid-frequency band, so each has
        # postings and none is a stop-word-like head term
        ranks = self._q.choice(np.arange(20, 400), size=3, replace=False)
        return [f"w{int(r)}" for r in ranks]

    def probe_batch(self, live: list[int]) -> tuple[list[tuple[int, str]], list[tuple[int, int]]]:
        """(probe docs, planted (probe id, original) pairs): half are
        near-duplicate variants of live documents, half fresh text."""
        rng, rows, planted = self._q, [], []
        lo, hi = self.spec.doc_len
        for j in range(self.spec.probe_docs):
            pid = self._fresh_probe_id()
            if j % 2 == 0:
                orig = live[int(rng.integers(len(live)))]
                rows.append((pid, self._variant(rng, self.texts[orig])))
                planted.append((pid, orig))
            else:
                rows.append((pid, " ".join(self._words(rng, int(rng.integers(lo, hi + 1))))))
        return rows, planted
