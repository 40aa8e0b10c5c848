"""Seeded inputs: the query/phrase stream and the commits of ``update``.

Everything here is a pure function of the ``--seed`` argument.  The engine
only ever sees the strings and rows these functions return.
"""

from __future__ import annotations

import itertools
import random

from searchengine_spark.corpus import VOCAB

ZIPF_S = 1.1
_CUM = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S
                                 for r in range(len(VOCAB))))


def _zipf_terms(rng: random.Random, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.choices(range(len(VOCAB)),
                                          cum_weights=_CUM, k=n)]


def query_stream(seed: int, n_blocks: int, est) -> tuple[list, float]:
    """``n_blocks`` blocks of ten closed-loop operations, and the estimate
    that separates light from heavy queries.

    A query is 1-3 Zipf(1.1) terms over the corpus vocabulary; ``est(q)``
    is its dictionary-estimated posting bytes.  Each block holds eight
    queries at or under the 90th percentile of ``est`` over the draw, one
    phrase (an adjacent pair of one draw of 2-3 terms) at position 4, and
    one query over the percentile at position 9.  The fixed block layout
    keeps every run's mix the same whatever its length."""
    rng = random.Random(f"perfbench-stream-{seed}")

    def draw() -> str:
        return " ".join(_zipf_terms(rng, rng.randint(1, 3)))

    sample = sorted(est(draw()) for _ in range(2000))
    thr = sample[int(0.9 * len(sample))]
    light: list[str] = []
    heavy: list[str] = []
    while len(light) < 8 * n_blocks or len(heavy) < n_blocks:
        q = draw()
        (heavy if est(q) > thr else light).append(q)
    ops = []
    for b in range(n_blocks):
        terms = _zipf_terms(rng, rng.randint(2, 3))
        j = rng.randrange(len(terms) - 1)
        block = [("topk", q) for q in light[8 * b:8 * b + 8]]
        block.insert(4, ("phrase", f"{terms[j]} {terms[j + 1]}"))
        block.append(("topk", heavy[b]))
        ops += block
    return ops, thr


def checked(seed: int, n_ops: int, share: float) -> list[bool]:
    """Which operations of the stream have their result checked."""
    rng = random.Random(f"perfbench-check-{seed}")
    return [rng.random() < share for _ in range(n_ops)]


def _letters(n: int) -> str:
    out = ""
    while True:
        out += chr(97 + n % 26)
        n //= 26
        if not n:
            return out


def marker_token(seed: int, commit: int) -> str:
    """A letters-only token no corpus document can contain (no vocabulary
    word starts with "zq"), unique per (seed, commit)."""
    return f"zqmk{_letters(abs(seed))}q{_letters(commit)}"


def commit_batch(seed: int, commit: int, rows: list[tuple], n_edit: int,
                 n_new: int) -> tuple[list[tuple], str]:
    """One localized commit over ``rows`` (the store's current rows in
    doc-id order, as (repo, path, commit, lang, content) tuples).

    It edits ``n_edit`` consecutive files of one repo, so they sit inside
    that repo's doc-id run as real commits do, and adds ``n_new`` files
    that carry the commit's marker token.  The commit string sorts after
    every sha1 hex string and every earlier commit, so the batch wins the
    store's greatest-commit-wins merge."""
    rng = random.Random(f"perfbench-commit-{seed}-{commit}")
    runs: dict[str, list[int]] = {}
    for i, r in enumerate(rows):
        if not r[1].startswith("src/zcommit"):
            runs.setdefault(r[0], []).append(i)
    repo = rng.choice(sorted(r for r, ids in runs.items()
                             if len(ids) >= n_edit))
    run = runs[repo]
    start = rng.randrange(len(run) - n_edit + 1)
    tag = f"z{commit:06d}"
    batch = []
    for i in run[start:start + n_edit]:
        r = rows[i]
        extra = " ".join(_zipf_terms(rng, rng.randint(5, 20)))
        batch.append((r[0], r[1], tag, r[3], f"{r[4]} {extra}"))
    marker = marker_token(seed, commit)
    for j in range(n_new):
        body = " ".join(_zipf_terms(rng, rng.randint(20, 80)))
        batch.append((repo, f"src/zcommit{commit}/new_{j}.py", tag, "py",
                      f"{marker} {body}"))
    return batch, marker
