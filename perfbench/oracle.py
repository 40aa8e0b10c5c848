"""Bench-owned reference results: BM25 top-k and phrase matches computed
directly from the generated rows.

Only the pinned analyzer (``analyzer.analyze_positions``, whose flattening
is ``analyze``) is shared with the engine; it defines the token stream.
Postings, document lengths, idf, BM25 scoring and the top-k order are
derived here from the rows alone.  ``k1``, ``b``, ``avgdl`` and ``n_docs``
come from the index's ``meta.json``, so the oracle follows the pinned avgdl
of an incrementally rebuilt index.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from searchengine_spark.analyzer import analyze, analyze_positions


class Oracle:
    def __init__(self, docs: dict[int, str]):
        # form -> doc -> analyzed positions carrying that form
        self._occ: dict[str, dict[int, list[int]]] = {}
        self._tf: dict[int, Counter] = {}
        self._dl: dict[int, int] = {}
        self._post: dict[str, dict[int, int]] = {}
        self._arrays: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for doc_id, text in docs.items():
            self.put(doc_id, text)

    def put(self, doc_id: int, text: str) -> None:
        """Insert or replace one document."""
        for lemma in self._tf.get(doc_id, ()):
            del self._post[lemma][doc_id]
            self._occ[lemma].pop(doc_id, None)
            self._arrays.pop(lemma, None)
        slots = analyze_positions(text)
        counts = Counter(f for fs in slots for f in fs)
        for p, forms in enumerate(slots):
            for f in set(forms):
                self._occ.setdefault(f, {}).setdefault(doc_id, []).append(p)
        self._tf[doc_id] = counts
        self._dl[doc_id] = sum(counts.values())
        for lemma, n in counts.items():
            self._post.setdefault(lemma, {})[doc_id] = n
            self._arrays.pop(lemma, None)

    def __len__(self) -> int:
        return len(self._tf)

    def df(self, lemma: str) -> int:
        return len(self._post.get(lemma, ()))

    def total_postings(self) -> int:
        return sum(len(p) for p in self._post.values())

    def _postings(self, lemma: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids ascending, tf) of one lemma."""
        if lemma not in self._arrays:
            ids = np.array(sorted(self._post[lemma]), dtype=np.int64)
            tf = np.array([self._post[lemma][d] for d in ids.tolist()],
                          dtype=np.int64)
            self._arrays[lemma] = (ids, tf)
        return self._arrays[lemma]

    def topk(self, query: str, k: int, meta: dict) -> list[tuple[int, float]]:
        """Exact BM25 top-k by (score desc, doc_id asc)."""
        lemmas = [t for t in sorted(set(analyze(query))) if self.df(t)]
        if not lemmas:
            return []
        k1, b = float(meta["k1"]), float(meta["b"])
        avgdl, n_docs = float(meta["avgdl"]), int(meta["n_docs"])
        posts = [self._postings(t) for t in lemmas]
        ids = np.unique(np.concatenate([p[0] for p in posts]))
        dl = np.array([self._dl[d] for d in ids.tolist()], dtype=np.int64)
        scores = np.zeros(ids.size, dtype=np.float64)
        for t_ids, t_tf in posts:
            df = t_ids.size
            idf = float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
            tf = np.zeros(ids.size, dtype=np.int64)
            tf[np.searchsorted(ids, t_ids)] = t_tf
            nz = tf > 0
            w = np.zeros(ids.size)
            tff = tf[nz].astype(np.float64)
            w[nz] = tff / (tff + k1 * ((1.0 - b) + b * dl[nz] / avgdl))
            scores += idf * (k1 + 1.0) * w
        order = np.lexsort((ids, -scores))[:k]
        return list(zip(ids[order].tolist(), scores[order].tolist()))

    def phrase(self, phrase: str, k: int) -> list[tuple[int, int]]:
        """Top-k (doc_id, phrase_tf): documents where consecutive analyzed
        positions carry a form of each query slot, by (count desc, id)."""
        pattern = [frozenset(fs) for fs in analyze_positions(phrase)]
        if not pattern:
            return []
        cand: set[int] | None = None
        for forms in pattern:
            docs = set().union(*(self._occ.get(f, {}).keys() for f in forms))
            cand = docs if cand is None else cand & docs
        out = []
        for d in cand:
            starts: set[int] | None = None
            for j, forms in enumerate(pattern):
                at = {p - j for f in forms
                      for p in self._occ.get(f, {}).get(d, ())}
                starts = at if starts is None else starts & at
            if starts:
                out.append((d, len(starts)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]


def same_topk(got: list[tuple[int, float]],
              want: list[tuple[int, float]]) -> bool:
    """Equal doc ids in order, and scores equal to 4 decimal places."""
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(abs(float(a) - float(b)) < 5e-5
                    for (_, a), (_, b) in zip(got, want)))
