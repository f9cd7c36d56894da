"""Exact answers for the MCP search tools, and the checks that
compare a tool's response against them.

The oracles use the program's own deterministic pieces (``hash_embed``, the
sanitizer and the tokenizer) on the texts the benchmark generated, and do
the ranking in numpy:

* ``semantic_search``: cosine top-k over float32 stored vectors against the
  float64 query vector, ties by id;
* ``lexical_search``: term-frequency top-k (occurrences of the distinct
  query terms), ties by id, zero-score documents excluded;
* ``search``: weighted reciprocal-rank fusion of a semantic and a lexical
  leg of ``max(2k, 20)`` each, the fused score rounded to 6 places.

A check compares scores within a tolerance rather than ids alone, so equal
scores may come back in either order only where the program's contract
allows it; anything else (a wrong id, a swapped rank, a dropped or extra
row) fails.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np

# bound at import, before a traced run wraps the program's functions, so the
# checks never show up in its spans
from vector_mcp_spark.functions.embedder import hash_embed
from vector_mcp_spark.functions.text import tokenize_py
from vector_mcp_spark.sanitize import sanitize_text_py

TOL = 2e-6
RRF_K = 60


class Corpus:
    """The documents a collection holds, in the form the oracles need."""

    def __init__(self, contents: list[str]):
        cleaned = {}
        for text in contents:
            c = sanitize_text_py(text)
            cleaned[hashlib.sha256(c.encode("utf-8")).hexdigest()] = c
        self.ids = sorted(cleaned)
        contents = [cleaned[i] for i in self.ids]
        # stored vectors are array<float>; scoring widens them to double
        vecs = np.array([hash_embed(c, 64) for c in contents], dtype=np.float32)
        self.vectors = vecs.astype(np.float64)
        self.norms = np.sqrt((self.vectors * self.vectors).sum(axis=1))
        self.token_counts = [Counter(tokenize_py(c)) for c in contents]


def semantic_scores(corpus: Corpus, question: str) -> np.ndarray:
    q = np.array(hash_embed(sanitize_text_py(question), 64), dtype=np.float64)
    return (corpus.vectors @ q) / (corpus.norms * np.sqrt(q @ q))


def _ranked(corpus: Corpus, scores: np.ndarray, k: int) -> list[tuple[str, float]]:
    """Top ``k`` (id, score) by score desc, id asc (ids are sorted, so a
    stable sort on -score keeps id order among ties)."""
    order = np.argsort(-scores, kind="stable")[:k]
    return [(corpus.ids[i], float(scores[i])) for i in order]


def semantic_topk(corpus: Corpus, question: str, k: int) -> list[tuple[str, float]]:
    return [(i, round(s, 6)) for i, s in _ranked(corpus, semantic_scores(corpus, question), k)]


def lexical_scores(corpus: Corpus, question: str) -> np.ndarray:
    terms = list(dict.fromkeys(tokenize_py(sanitize_text_py(question))))
    return np.array(
        [float(sum(tc[t] for t in terms)) for tc in corpus.token_counts], dtype=np.float64
    )


def lexical_topk(corpus: Corpus, question: str, k: int) -> list[tuple[str, float]]:
    scores = lexical_scores(corpus, question)
    return [(i, s) for i, s in _ranked(corpus, scores, k) if s > 0]


def hybrid_fused(corpus: Corpus, question: str, k: int) -> list[tuple[str, float]]:
    """Every document either leg of a k-result hybrid search returns, with
    its fused score, best first; the answer is the first ``k``."""
    leg_k = max(2 * k, 20)
    sem = semantic_topk(corpus, question, leg_k)
    lex = lexical_topk(corpus, question, leg_k)
    fused: dict[str, float] = {}
    for leg in (sem, lex):
        # each leg re-ranked by its (rounded) score desc, id asc
        for rank, (doc, _) in enumerate(sorted(leg, key=lambda r: (-r[1], r[0])), start=1):
            fused[doc] = fused.get(doc, 0.0) + 0.5 / (RRF_K + rank)
    return sorted(((d, round(s, 6)) for d, s in fused.items()), key=lambda r: (-r[1], r[0]))


def check_ranked(
    got: list[tuple[str, float]],
    want: list[tuple[str, float]],
    score_of: dict[str, float],
) -> str | None:
    """``None`` when ``got`` is a correct answer, else the reason.

    ``want`` is the exact top-k, ``score_of`` the exact score of every
    candidate document. ``got`` must have the same length, scores equal to
    ``want``'s position by position, ids whose own exact score matches,
    no repeated id, and ids ascending among exactly equal scores."""
    if len(got) != len(want):
        return f"{len(got)} results, expected {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "repeated id"
    for pos, ((doc, score), (_, want_score)) in enumerate(zip(got, want)):
        if abs(score - want_score) > TOL:
            return f"rank {pos + 1}: score {score} expected {want_score}"
        if doc not in score_of or abs(score_of[doc] - score) > TOL:
            return f"rank {pos + 1}: id {doc[:12]} does not score {score}"
    for (d1, s1), (d2, s2) in zip(got, got[1:]):
        if s1 == s2 and d1 > d2:
            return f"ids {d1[:12]} and {d2[:12]} out of order among equal scores"
    return None


def check_response(corpus: Corpus, action: str, question: str, k: int, rows: list[dict]) -> str | None:
    """Check one MCP ``vector_search`` response's rows against the oracle."""
    if action == "semantic_search":
        ranks = [r["rank"] for r in rows]
        if sorted(ranks) != list(range(1, len(rows) + 1)):
            return f"ranks {ranks} are not 1..{len(rows)}"
        got = [(r["id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        want = semantic_topk(corpus, question, k)
        exact = semantic_scores(corpus, question)
        return check_ranked(got, want, {d: round(float(s), 6) for d, s in zip(corpus.ids, exact)})
    if action == "lexical_search":
        # lexical rows carry no rank and the API does not order them
        got = sorted(((r["id"], r["score"]) for r in rows), key=lambda r: (-r[1], r[0]))
        want = lexical_topk(corpus, question, k)
        return check_ranked(got, want, dict(zip(corpus.ids, lexical_scores(corpus, question))))
    if action == "search":
        got = [(r["id"], r["score"]) for r in rows]
        fused = hybrid_fused(corpus, question, k)
        return check_ranked(got, fused[:k], dict(fused))
    raise ValueError(action)


def recall_at_k(corpus: Corpus, question: str, k: int, rows: list[dict]) -> float:
    """Share of the exact cosine top-k that an approximate answer found."""
    exact = {d for d, _ in semantic_topk(corpus, question, k)}
    return len(exact & {r["id"] for r in rows}) / max(1, len(exact))
