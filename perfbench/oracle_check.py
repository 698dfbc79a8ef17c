"""Expected answers from the package's pure-Python oracle
(`blacklab_spark.oracle.engine.OracleIndex`), and the answer comparison.

`OracleIndex.build` extracts and tokenizes one row at a time (about 1 ms a
page); `load_oracle` fills the same fields from one batched call of the
same Series functions the oracle routes through, so the index is the one
`build` would give, in a fraction of the time. Span queries run on an
OracleIndex restricted to the docs that hold every query word, which
leaves their hits unchanged and skips the pure-Python scan of every other
doc. All oracle work happens outside the timed regions and outside
`setup_s`.
"""

from __future__ import annotations

import math

import numpy as np

from blacklab_spark.oracle.engine import B, K1, OracleIndex
from blacklab_spark.tokenize import extract_text_series, fold_token, tokenize_series

SCORE_RTOL = 1e-9
# the server rounds each score to 6 decimals
SERVER_SCORE_ATOL = 1e-6


def load_oracle(pages) -> OracleIndex:
    rows = pages.sort_values("url").reset_index(drop=True)
    texts = extract_text_series(rows["html"], rows["text"])
    toks = tokenize_series(texts)
    fold = {}
    ix = OracleIndex()
    ix.doc_ids = list(range(len(rows)))
    ix.urls = rows["url"].tolist()
    ix.langs = rows["lang"].tolist()
    ix.texts = texts.tolist()
    ix.tokens = toks.tolist()
    for t in ix.tokens:
        for w in t:
            if w not in fold:
                fold[w] = fold_token(w)
    ix.tokens_fold = [[fold[w] for w in t] for t in ix.tokens]
    return ix


class Answers:
    """Expected ranked answers over one OracleIndex."""

    def __init__(self, oracle: OracleIndex):
        self.o = oracle
        self._docs: dict[str, set[int]] = {}
        for d, toks in zip(oracle.doc_ids, oracle.tokens_fold):
            for w in set(toks):
                self._docs.setdefault(w, set()).add(d)
        self._lens = [len(t) for t in oracle.tokens]

    def df(self, word: str) -> int:
        return len(self._docs.get(fold_token(word), ()))

    def topk(self, terms: list[str], k: int) -> list[tuple[int, int, float]]:
        return self.o.topk(terms, k=k, quantize=True)

    def topk_and(self, terms: list[str], k: int) -> list[tuple[int, int, float]]:
        both = set(self._candidates(terms))
        scores = self.o.bm25_scores(terms, quantize=True)
        return _ranked({d: s for d, s in scores.items() if d in both}, k)

    def topk_phrase(self, words: list[str], k: int) -> list[tuple[int, int, float]]:
        """BM25 with the phrase as one unit and exact doc lengths, the
        semantics of `Index.topk_spans` (tf = hits in the doc, df = docs
        with a hit)."""
        sub = self._restricted(self._candidates(words))
        tf: dict[int, int] = {}
        for d, _s, _e in sub.phrase_hits(*words):
            tf[d] = tf.get(d, 0) + 1
        n, avgdl, df = self.o.n_docs, self.o.avgdl, len(tf)
        idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return _ranked({
            d: float(idf * (c / (c + K1 * (1 - B + B * self._lens[d] / avgdl))) * (K1 + 1))
            for d, c in tf.items()
        }, k)

    def _candidates(self, words: list[str]) -> list[int]:
        sets = [self._docs.get(fold_token(w), set()) for w in words]
        return sorted(set.intersection(*sets)) if sets else []

    def _restricted(self, doc_ids: list[int]) -> OracleIndex:
        o, sub = self.o, OracleIndex()
        sub.doc_ids = list(doc_ids)
        sub.tokens = [o.tokens[d] for d in doc_ids]
        sub.tokens_fold = [o.tokens_fold[d] for d in doc_ids]
        return sub


def _ranked(scores: dict[int, float], k: int) -> list[tuple[int, int, float]]:
    """[(rank, doc_id, score)]: score desc, doc_id asc, as OracleIndex.topk."""
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(r + 1, d, s) for r, (d, s) in enumerate(top)]


def same_ranking(got: list[tuple[int, int, float]], want: list[tuple[int, int, float]],
                 rtol: float = SCORE_RTOL, atol: float = 0.0) -> bool:
    """Rank-identical doc ids and scores within tolerance."""
    if len(got) != len(want):
        return False
    for (gr, gd, gs), (wr, wd, ws) in zip(got, want):
        if gr != wr or gd != wd or not math.isclose(gs, ws, rel_tol=rtol, abs_tol=atol):
            return False
    return True


if __name__ == "__main__":
    # python3 perfbench/oracle_check.py <workload> <seed> <traced 0|1>:
    # the workload's expected answers, pickled to stdout (run.py's child)
    import pickle
    import sys

    import wl_build
    import wl_query

    wl = {"build": wl_build, "query": wl_query}[sys.argv[1]]
    sys.stdout.buffer.write(pickle.dumps(wl.expected(int(sys.argv[2]), sys.argv[3] == "1")))
