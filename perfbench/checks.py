"""Correctness checks for the benchmark's outputs.

Each ``check_*`` function takes plain Python data (what the program
returned, and what the check expects) and returns a list of problems; an
empty list means the output is correct. None of them touches Spark, so
``selftest.py`` can feed them deliberately perturbed outputs.

The search oracle restates the ``search_documents`` contract in pure
Python over the extracted content table: tokenization, websearch matching,
the ``simple``/``bm25``/``cd`` rank terms, pg_trgm-style similarity and
``GREATEST(rank, sim)`` ordering. It shares no code with the timed path.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from inputs import HANDLED_KINDS, tokens

TOP_K = 25
#: tolerance on rank/sim for float evaluation-order differences
EPS = 2e-6
BM25_K1, BM25_B = 1.2, 0.75


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the shortest repr."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _grams(s: str) -> set[str]:
    return {s[i : i + 3] for i in range(max(0, len(s) - 2))}


class SearchOracle:
    """Expected ``total`` and per-document scores for a query structure."""

    def __init__(self, content: dict[str, str]) -> None:
        self.content = content
        self.toks = {d: tokens(c) for d, c in content.items()}
        self.tokset = {d: set(t) for d, t in self.toks.items()}
        self.tokstr = {d: " " + " ".join(t) + " " for d, t in self.toks.items()}
        self.grams = {d: _grams(c.lower()) for d, c in content.items()}
        self.n = len(content)
        self.sumdl = sum(len(t) for t in self.toks.values())

    def _item(self, d: str, it: dict) -> bool:
        w = it["words"]
        hit = w[0] in self.tokset[d] if len(w) == 1 else f" {' '.join(w)} " in self.tokstr[d]
        return hit != it["negated"]

    def matches(self, groups: list[list[dict]]) -> list[str]:
        return [
            d for d in self.content
            if any(all(self._item(d, it) for it in g) for g in groups)
        ]

    @staticmethod
    def positive_terms(groups) -> list[str]:
        seen: dict[str, None] = {}
        for g in groups:
            for it in g:
                if not it["negated"]:
                    for w in it["words"]:
                        seen.setdefault(w)
        return list(seen)

    def _bm25(self, d: str, terms: list[str], dfs: list[int]) -> float:
        toks = self.toks[d]
        avgdl = float(self.sumdl) / self.n
        ratio = len(toks) / avgdl if avgdl > 0 else 0.0
        score = None
        for t, df in zip(terms, dfs):
            tf = float(toks.count(t))
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            part = idf * tf * (BM25_K1 + 1.0) / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * ratio))
            score = part if score is None else score + part
        return round6(score)

    def _cover(self, d: str, terms: list[str]) -> float | None:
        want = set(terms)
        last: dict[str, int] = {}
        best = None
        for p, t in enumerate(self.toks[d]):
            if t in want:
                last[t] = p
                if len(last) == len(want):
                    span = p - min(last.values()) + 1
                    best = span if best is None else min(best, span)
        return None if best is None else round6(len(want) / best)

    def expected(self, query: dict) -> tuple[int, dict[str, tuple[float, float, float]]]:
        """(total, {doc_id: (rank, sim, score)}) over the matched docs."""
        groups = query["groups"]
        matched = self.matches(groups)
        terms = self.positive_terms(groups)
        qg = _grams(query["q"].lower())
        mode = query["rank_mode"]
        if mode == "bm25":
            dfs = [sum(1 for d in self.content if t in self.tokset[d]) for t in terms]
        out = {}
        for d in matched:
            if mode == "bm25":
                rank = self._bm25(d, terms, dfs)
            elif mode == "cd":
                covers = []
                for g in groups:
                    gt = list(dict.fromkeys(w for it in g if not it["negated"] for w in it["words"]))
                    if gt:
                        covers.append(self._cover(d, gt) or 0.0)
                rank = max(covers) if covers else 0.0
            else:
                hits = len({t for t in terms if t in self.tokset[d]})
                rank = hits / float(len(terms) or 1)
            g = self.grams[d]
            union = len(g | qg)
            sim = len(g & qg) / union if self.content[d] and union else 0.0
            rank, sim = round6(rank), round6(sim)
            out[d] = (rank, sim, max(rank, sim))
        return len(matched), out


def check_search(
    total_exp: int,
    exp: dict[str, tuple[float, float, float]],
    total: int,
    items: list[tuple[str, float, float]],
) -> list[str]:
    """``total`` must equal the oracle's; ``items`` (doc_id, rank, sim) must
    be the top ``TOP_K`` matches by (score desc, doc_id), with rank and sim
    equal to the oracle's within EPS."""
    probs = []
    if total != total_exp:
        probs.append(f"total {total} != expected {total_exp}")
    want = min(TOP_K, total_exp)
    ids = [d for d, _, _ in items]
    if len(ids) != want:
        probs.append(f"{len(ids)} items != expected {want}")
    if len(set(ids)) != len(ids):
        probs.append("duplicate doc_id in items")
    keys = []
    for d, r, s in items:
        if d not in exp:
            probs.append(f"item {d} does not match the query")
            continue
        er, es, _ = exp[d]
        if abs(r - er) > EPS or abs(s - es) > EPS:
            probs.append(f"item {d} rank/sim {r}/{s} != expected {er}/{es}")
        keys.append((-max(r, s), d))
    if keys != sorted(keys):
        probs.append("items are not ordered by (score desc, doc_id)")
    if keys:
        last_score, last_id = -keys[-1][0], keys[-1][1]
        shown = set(ids)
        for d, (_, _, score) in exp.items():
            if d in shown:
                continue
            if score > last_score + EPS or (score == last_score and d < last_id):
                probs.append(f"doc {d} (score {score}) outranks the last item {last_id}")
                break
    return probs


def check_ingest_counts(audit: dict, meta: dict) -> list[str]:
    """Audit totals of one extraction pass against the input counts: every
    document and span comes out, and exactly the unhandled spans fail."""
    want = {"docs": meta["n_docs_total"], "spans": meta["n_spans"], "failures": meta["failed_spans"]}
    return [f"audit {k} {audit.get(k)} != input {v}" for k, v in want.items() if audit.get(k) != v]


def check_ingest_sample(
    got: dict[str, list[tuple]], reference: dict[str, list[tuple]]
) -> list[str]:
    """Extracted span sequences (kind, text, media_ref, order) must be
    byte-equal to the reference implementation for every sampled doc."""
    probs = []
    for d, want in reference.items():
        have = got.get(d)
        if have is None:
            probs.append(f"doc {d} missing from the output")
        elif have != want:
            probs.append(f"doc {d} differs from the reference extraction")
    extra = set(got) - set(reference)
    if extra:
        probs.append(f"{len(extra)} unexpected docs in the sample")
    return probs


def check_failed_spans(failed: int, kinds: list[str]) -> list[str]:
    """The kernels must flag exactly the spans of unhandled kinds."""
    want = sum(1 for k in kinds if k not in HANDLED_KINDS)
    return [] if failed == want else [f"{failed} failed spans != {want} unhandled-kind spans"]


def check_dedup(survivors: list[str], expected: set[str]) -> list[str]:
    got = set(survivors)
    probs = []
    if len(got) != len(survivors):
        probs.append("duplicate survivor ids")
    if got - expected:
        probs.append(f"{len(got - expected)} planted duplicates survived")
    if expected - got:
        probs.append(f"{len(expected - got)} expected survivors were dropped")
    return probs
