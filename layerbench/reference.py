"""Exact answers for every query the benchmark sends.

The scorer is ``golden.brute_force_topk`` restated over arrays: the
corpus is tokenized once with the engine's pure tokenizer, and each
query adds ``idf * tf_norm`` per term in sorted term order (the same
fold order, so scores are bit-identical). The benchmark's tests pin it
to ``brute_force_topk`` on small corpora, and the warm workload
cross-checks one query per run against it directly.

Doc ids come from the index's own ``docs/`` table joined back to the
corpus on (repo, path, commit), as ``tests/conftest.py::docs_with_text``
does.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from itertools import chain

import numpy as np
import pandas as pd

from datastream_io_spark import B, K1
from datastream_io_spark.functions.tokenize import tokenizer_for
from datastream_io_spark.operators.boolean_search import (
    parse_boolean,
    tree_terms,
)

SCORE_TOL = 1e-9
MAX_EXPANSIONS = 128


def idf(df: int, n: int) -> float:
    return math.log1p((n - df + 0.5) / (df + 0.5))


class Reference:
    def __init__(self, docs: pd.DataFrame, tokenizer: str):
        """``docs``: doc_id, text, lang — doc ids in the index's space."""
        docs = docs.sort_values("doc_id").reset_index(drop=True)
        self.pure = tokenizer_for(tokenizer)[0]
        self.tokenizer = tokenizer
        self.doc_ids = docs["doc_id"].to_numpy(np.int64)
        self.langs = docs["lang"].to_numpy()
        self.toks = [self.pure(t) for t in docs["text"]]
        self.n = n = len(self.toks)
        lens = np.fromiter(map(len, self.toks), np.int64, n)
        self.dl = lens.astype(np.float64)
        self.avgdl = int(lens.sum()) / n
        # postings: (term, doc) pairs counted, grouped by term, docs
        # ascending within each term
        codes, terms = pd.factorize(pd.Series(
            list(chain.from_iterable(self.toks)), dtype=object))
        pairs, tf = np.unique(codes.astype(np.int64) * n
                              + np.repeat(np.arange(n), lens),
                              return_counts=True)
        code, doc = np.divmod(pairs, n)
        cuts = np.flatnonzero(np.diff(code)) + 1
        self.post = {terms[code[a]]: (doc[a:b], tf[a:b])
                     for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(code)])}
        self.df = {t: len(d) for t, (d, _) in self.post.items()}
        self.live = np.ones(self.n, bool)

    def delete(self, doc_ids) -> None:
        """Tombstone docs: they leave every answer, but the corpus
        statistics keep counting them, as in the engine until a purge."""
        self.live[np.isin(self.doc_ids, list(doc_ids))] = False

    # ------------------------------------------------------------ scoring

    def _accumulate(self, terms):
        """(scores, matched-term counts) over all docs, terms folded in
        sorted order exactly like the engine and the golden scorer."""
        acc = np.zeros(self.n)
        cnt = np.zeros(self.n, np.int64)
        for t in sorted(set(terms)):
            if t not in self.post:
                continue
            d, tf = self.post[t]
            dl = self.dl[d]
            tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
            acc[d] += idf(self.df[t], self.n) * tfn
            cnt[d] += 1
        return acc, cnt

    def _top(self, acc, mask, k):
        idx = np.flatnonzero(mask & self.live)
        order = np.lexsort((self.doc_ids[idx], -acc[idx]))[:k]
        sel = idx[order]
        return [(int(self.doc_ids[i]), float(acc[i])) for i in sel]

    def _and_mask(self, terms):
        terms = sorted(set(terms))
        acc, cnt = self._accumulate(terms)
        if any(t not in self.post for t in terms):
            return acc, np.zeros(self.n, bool)
        return acc, cnt == len(terms)

    def ranked(self, query: str, k: int, mode: str):
        """and / or / phrase, as ``brute_force_topk``."""
        seq = self.pure(query)
        if mode == "or":
            acc, cnt = self._accumulate(seq)
            return self._top(acc, cnt > 0, k)
        acc, mask = self._and_mask(seq)
        if mode == "phrase" and len(seq) > 1:
            mask = self._filter(mask, lambda toks: _has_seq(toks, seq))
        return self._top(acc, mask, k)

    def near(self, query: str, k: int, slop: int, ordered: bool):
        """AND scores, kept where the terms fit a (T-1)+slop window —
        the windowed brute force of ``tests/test_phrase.py``."""
        terms = list(dict.fromkeys(self.pure(query)))
        acc, mask = self._and_mask(terms)
        bound = len(terms) - 1 + slop
        if len(terms) > 1:
            mask = self._filter(
                mask, lambda toks: _in_window(toks, terms, bound, ordered))
        return self._top(acc, mask, k)

    def _filter(self, mask, pred):
        out = mask.copy()
        for i in np.flatnonzero(mask):
            out[i] = pred(self.toks[i])
        return out

    def expansion(self, q: str, mode: str, max_dist: int = 1) -> list[str]:
        """Index terms a wildcard / fuzzy / regex query expands to: the
        highest-df matches, ties by term, capped like the engine."""
        if mode == "wildcard":
            p = q.lower().rstrip("*")
            hits = [t for t in self.df if t.startswith(p)]
        elif mode == "fuzzy":
            p = q.lower().strip()
            hits = [t for t in self.df
                    if abs(len(t) - len(p)) <= max_dist
                    and _levenshtein(t, p) <= max_dist]
        else:
            rx = re.compile(q)
            hits = [t for t in self.df if rx.fullmatch(t)]
        hits.sort(key=lambda t: (-self.df[t], t))
        return hits[:MAX_EXPANSIONS]

    def expanded(self, q: str, k: int, mode: str, max_dist: int = 1):
        terms = self.expansion(q, mode, max_dist)
        acc, cnt = self._accumulate(terms)
        return self._top(acc, cnt > 0, k)

    def boolean(self, query: str, k: int):
        tree = parse_boolean(query, self.tokenizer)
        positives, _ = tree_terms(tree)
        acc, _ = self._accumulate(positives)
        return self._top(acc, self._eval(tree), k)

    def _eval(self, node):
        kind = node[0]
        if kind == "term":
            m = np.zeros(self.n, bool)
            if node[1] in self.post:
                m[self.post[node[1]][0]] = True
            return m
        if kind == "phrase":
            _, m = self._and_mask(node[1])
            return self._filter(m, lambda toks: _has_seq(toks, list(node[1])))
        if kind == "or":
            return np.logical_or.reduce([self._eval(c) for c in node[1]])
        if kind == "and":
            m = np.logical_and.reduce([self._eval(c) for c in node[1]])
            for c in node[2]:
                m &= ~self._eval(c)
            return m
        raise ValueError(f"unsupported boolean node {kind!r}")

    def facet(self, query: str, mode: str) -> dict:
        seq = self.pure(query)
        if mode == "or":
            _, cnt = self._accumulate(seq)
            mask = cnt > 0
        else:
            _, mask = self._and_mask(seq)
        vals, counts = np.unique(self.langs[mask & self.live],
                                 return_counts=True)
        return {str(v): int(c) for v, c in zip(vals, counts)}

    def mlt_terms(self, doc_id: int, max_terms: int) -> list[str]:
        i = int(np.searchsorted(self.doc_ids, doc_id))
        tf = Counter(self.toks[i])
        return [t for _, t in sorted(
            (-tf[t] * idf(self.df[t], self.n), t) for t in tf)[:max_terms]]

    def mlt(self, doc_id: int, k: int, max_terms: int):
        terms = self.mlt_terms(doc_id, max_terms)
        acc, cnt = self._accumulate(terms)
        return [r for r in self._top(acc, cnt > 0, k + 1)
                if r[0] != doc_id][:k]


def _has_seq(toks: list[str], seq: list[str]) -> bool:
    m = len(seq)
    return any(toks[p:p + m] == seq for p in range(len(toks) - m + 1))


def _in_window(toks, terms, bound, ordered) -> bool:
    need = set(terms)
    for s in range(len(toks)):
        win = toks[s:s + bound + 1]
        if ordered:
            it = iter(win)
            if all(any(w == t for w in it) for t in terms):
                return True
        elif need <= set(win):
            return True
    return False


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def same_topk(got, exp) -> bool:
    """Doc ids identical and in order; scores within 1e-9."""
    return (len(got) == len(exp)
            and all(g[0] == e[0] and abs(g[1] - e[1]) <= SCORE_TOL
                    for g, e in zip(got, exp)))
