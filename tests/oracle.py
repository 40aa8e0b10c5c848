"""Pure-Python reference-semantics oracle (SURVEY.md §5 item 1).

Reimplements the reference pipeline (SearchServiceImpl.java §3.1 +
IndexingServiceImpl.java §3.2) over a plain list of docs, sharing ONLY the
pinned analyzer definition with the engine (FIXTURES.md §6 — analyzer parity
is definitional).  Everything downstream — tf/df aggregation, the df
threshold, per-repo conjunctive intersection, the proximity quirk, Σtf
scoring with max-normalization and 4 dp HALF_UP, tie-breaks, pagination,
snippets — is independently re-derived here in plain Python so the Spark
engine is tested against a second implementation, not against itself.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

from searchengine_spark.analyzer import (
    analyze,
    analyze_positions,
    collect_lemmas,
)

FREQUENCY_THRESHOLD = 200  # SearchServiceImpl.java:34
MAX_DISTANCE = 5  # SearchServiceImpl.java:35
SNIPPET_RADIUS = 100


def count_phrase(stream: list[tuple[str, ...]], qforms: list[frozenset]) -> int:
    """Occurrences of the phrase in a positional stream: position i matches
    iff for every j the doc's form set at i+j intersects query word j's
    form set."""
    m = len(qforms)
    n = len(stream)
    if m == 0 or n < m:
        return 0
    c = 0
    for i in range(n - m + 1):
        if all(any(f in qforms[j] for f in stream[i + j]) for j in range(m)):
            c += 1
    return c


def phrase_topk(docs, phrase: str, k: int, normalizer: str = "pinned",
                forms: dict[str, tuple[str, ...]] | None = None
                ) -> list[tuple[int, int]]:
    """Brute-force top-k (doc_id, phrase_tf) over ``docs`` ((doc_id,
    content) pairs): every doc re-analyzed with ``analyze_positions``, no
    index involved; ranked by phrase_tf desc, doc_id asc."""
    qforms = [frozenset(p)
              for p in analyze_positions(phrase, normalizer, forms)]
    hits = []
    for doc_id, content in docs:
        tf = count_phrase(analyze_positions(content, normalizer, forms),
                          qforms)
        if tf > 0:
            hits.append((doc_id, tf))
    hits.sort(key=lambda t: (-t[1], t[0]))
    return hits[:k]


def store_phrase_topk(spark, store: str, phrase: str, k: int,
                      site: str | None = None) -> list[tuple[int, int]]:
    """:func:`phrase_topk` over the kb store's docs at ``store`` (``site``
    keeps one repo's): the brute-force reference the positional phrase
    path is checked against."""
    from searchengine_spark.streaming.store import read_store

    return phrase_topk(
        [(r["doc_id"], r["content"]) for r in read_store(spark, store)
         .select("doc_id", "repo", "content").collect()
         if site is None or r["repo"] == site], phrase, k)


def round_half_up(x: float, nd: int = 4) -> float:
    """BigDecimal.valueOf(x).setScale(nd, HALF_UP) — via repr, like Java's
    Double.toString shortest-decimal round-trip."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


class Oracle:
    def __init__(self, rows: list[tuple[str, str, str, str, str]]):
        """rows: (repo, path, commit, lang, content)."""
        ordered = sorted(range(len(rows)), key=lambda i: (rows[i][0], rows[i][1], rows[i][2]))
        self.docs: dict[int, dict] = {}
        for doc_id, i in enumerate(ordered):
            repo, path, commit, lang, content = rows[i]
            self.docs[doc_id] = {
                "repo": repo, "path": path, "commit": commit,
                "lang": lang, "content": content,
            }
        # tf: doc_id -> {lemma: count}; df: repo -> lemma -> n_docs
        self.tf: dict[int, dict[str, int]] = {}
        self.df: dict[str, Counter] = defaultdict(Counter)
        for doc_id, d in self.docs.items():
            counts = collect_lemmas(d["content"])
            self.tf[doc_id] = counts
            for lemma in counts:
                self.df[d["repo"]][lemma] += 1

    # --- statistics (StatisticsServiceImpl.java:26-58) ---------------------

    def stats(self) -> dict:
        per_repo = {}
        for repo in sorted({d["repo"] for d in self.docs.values()}):
            pages = sum(1 for d in self.docs.values() if d["repo"] == repo)
            per_repo[repo] = {"pages": pages, "lemmas": len(self.df[repo])}
        return {
            "per_repo": per_repo,
            "total": {
                "sites": len(per_repo),
                "pages": sum(v["pages"] for v in per_repo.values()),
                "lemmas": sum(v["lemmas"] for v in per_repo.values()),
            },
        }

    # --- search (SearchServiceImpl.java:51-95) -----------------------------

    def search(self, query: str, repo: str | None = None, offset: int = 0,
               limit: int = 20, threshold: int = FREQUENCY_THRESHOLD,
               proximity: bool = True, snippets: bool = True) -> dict:
        qlemmas = sorted(set(analyze(query)))
        if not qlemmas:
            return {"count": 0, "results": []}

        # per-repo surviving lemma rows (df < threshold), J1+F6
        matched: dict[str, set[str]] = defaultdict(set)
        for r, counter in self.df.items():
            if repo is not None and r != repo:
                continue
            for lemma in qlemmas:
                if lemma in counter and counter[lemma] < threshold:
                    matched[r].add(lemma)

        # per-repo conjunctive intersection (J4)
        candidates: list[int] = []
        for r, lems in matched.items():
            if not lems:
                continue
            ids = None
            for lemma in lems:
                having = {
                    d for d, counts in self.tf.items()
                    if self.docs[d]["repo"] == r and lemma in counts
                }
                ids = having if ids is None else (ids & having)
                if not ids:
                    break
            candidates.extend(ids or ())

        # proximity filter (F11, quirk replicated verbatim)
        if proximity:
            words = [w for w in query.lower().split() if w]
            candidates = [d for d in candidates
                          if self._proximity_ok(self.docs[d]["content"].lower(), words)]

        if not candidates:
            return {"count": 0, "results": []}

        # Σtf scoring over surviving lemmas of the doc's own repo (A3)
        scores = {}
        for d in candidates:
            r = self.docs[d]["repo"]
            scores[d] = float(sum(self.tf[d].get(lemma, 0) for lemma in matched[r]))
        mx = max(scores.values())
        rel = {d: round_half_up(s / mx) for d, s in scores.items()} if mx > 0 else scores

        ranked = sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))  # doc_id asc ties
        total = len(ranked)
        offset = max(offset, 0)
        limit = max(limit, 1)
        start = min(offset, total)
        end = min(start + limit, total)
        page = ranked[start:end]

        results = []
        for rank, (d, score) in enumerate(page, start=start + 1):
            doc = self.docs[d]
            row = {
                "rank": rank, "doc_id": d, "repo": doc["repo"], "path": doc["path"],
                "score": score, "title": doc["path"].rsplit("/", 1)[-1],
            }
            if snippets:
                row["snippet"] = self._snippet(doc["content"], query)
            results.append(row)
        return {"count": total, "results": results}

    @staticmethod
    def _proximity_ok(content_lower: str, words: list[str], max_distance: int = MAX_DISTANCE) -> bool:
        positions = []
        for w in words:
            p = content_lower.find(w)
            if p == -1:
                return False
            positions.append(p)
        positions.sort()
        for i in range(len(positions) - 1):
            if positions[i + 1] - positions[i] > max_distance + len(words[i]):
                return False
        return True

    @staticmethod
    def _snippet(text: str, query: str) -> str:
        words = [w for w in query.split() if w]
        pat = re.compile("(" + "|".join(re.escape(w) for w in words) + ")", re.IGNORECASE)
        m = pat.search(text)
        pos = m.start() if m else -1
        start = max(pos - SNIPPET_RADIUS, 0)
        end = min(pos + SNIPPET_RADIUS, len(text))
        snippet = text[start:end] + "..."
        return pat.sub(r"<b>\1</b>", snippet)

    # --- BM25 self-oracle --------------------------------------------------

    def bm25(self, query: str, k1: float = 1.2, b: float = 0.75,
             threshold: int = FREQUENCY_THRESHOLD) -> dict[int, float]:
        """Exhaustive BM25 over conjunctive candidates, global df scope."""
        import math

        qlemmas = sorted(set(analyze(query)))
        gdf: Counter = Counter()
        for counts in self.tf.values():
            for lemma in counts:
                gdf[lemma] += 1
        matched: dict[str, set[str]] = defaultdict(set)
        for r, counter in self.df.items():
            for lemma in qlemmas:
                if lemma in counter and counter[lemma] < threshold:
                    matched[r].add(lemma)
        candidates = []
        for r, lems in matched.items():
            if not lems:
                continue
            ids = None
            for lemma in lems:
                having = {d for d in self.tf
                          if self.docs[d]["repo"] == r and lemma in self.tf[d]}
                ids = having if ids is None else ids & having
            candidates.extend(ids or ())
        n = len(self.docs)
        dls = {d: sum(c.values()) for d, c in self.tf.items()}
        avgdl = sum(dls.values()) / n if n else 1.0
        out = {}
        for d in candidates:
            r = self.docs[d]["repo"]
            s = 0.0
            for lemma in matched[r]:
                tf = self.tf[d].get(lemma, 0)
                if tf == 0:
                    continue
                idf = math.log(1.0 + (n - gdf[lemma] + 0.5) / (gdf[lemma] + 0.5))
                s += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dls[d] / avgdl))
            out[d] = s
        return out

    def bm25_topk(self, query: str, k: int, site: str | None = None,
                  offset: int = 0, conjunctive: bool = False,
                  k1: float = 1.2, b: float = 0.75) -> list[tuple[int, float]]:
        """The physical index's BM25 top-k, re-derived from the tf table:
        corpus-global df and avgdl, no df threshold; ``site`` keeps one
        repo's docs, ``conjunctive`` requires every query lemma the corpus
        has (absent lemmas drop out), ``offset`` pages.  (doc_id, score)
        by score desc, doc_id asc."""
        import math

        n = len(self.docs)
        dls = {d: sum(c.values()) for d, c in self.tf.items()}
        avgdl = sum(dls.values()) / n
        gdf = {t: sum(1 for c in self.tf.values() if t in c)
               for t in sorted(set(analyze(query)))}
        idf = {t: math.log(1.0 + (n - df + 0.5) / (df + 0.5))
               for t, df in gdf.items() if df}
        scores = {}
        for d, c in self.tf.items():
            if site is not None and self.docs[d]["repo"] != site:
                continue
            if conjunctive and not all(t in c for t in idf):
                continue
            hit = [t for t in idf if c.get(t)]
            if hit:
                scores[d] = sum(
                    idf[t] * c[t] * (k1 + 1.0)
                    / (c[t] + k1 * (1.0 - b + b * dls[d] / avgdl))
                    for t in hit)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[offset:offset + k]
