"""Seeded web-page corpus for the benchmark.

The same web-text model as the package's tier-C fixture (5k-term Zipf
vocabulary with s = 1.07, stop-words that give head terms with df close to
N, 50-500 tokens per doc, 5 languages, planted phrase targets), but written
here and seeded only by the workload seed, so an edit to the package's
fixtures cannot change a workload.

Rows have the `pages` shape the package ingests:
(url string, warc_ts timestamp, html binary, text string, lang string).
About 1% of rows have `text` NULL, so the build extracts their text from
`html`.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

VOCAB_SIZE = 5000
ZIPF_S = 1.07
STOPWORDS = (
    "the", "of", "and", "a", "to", "in", "is", "you", "that", "it",
    "he", "was", "for", "on", "are", "as", "with", "his", "they", "at",
)
STOP_P = 0.35
LANGS = ("en", "de", "nl", "fr", "es")
LANG_P = np.array([50, 20, 15, 10, 5], dtype=np.float64) / 100.0
MIN_LEN, MAX_LEN = 50, 500
# (phrase, share of docs it is planted in)
PLANTED = (("click", "here"), ("terms", "of", "service"), ("privacy", "policy", "page"))
PLANT_P = (0.02, 0.005, 0.003)
NULL_TEXT_P = 0.01
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

_ZIPF_W = 1.0 / np.power(np.arange(1, VOCAB_SIZE + 1, dtype=np.float64), ZIPF_S)
ZIPF_CDF = np.cumsum(_ZIPF_W / _ZIPF_W.sum())
VOCAB = np.array([f"w{i:05d}" for i in range(VOCAB_SIZE)], dtype=object)
_STOP = np.array(STOPWORDS, dtype=object)


def doc_tokens(seed: int, n: int, stream: int = 0) -> list[list[str]]:
    """Token lists of `n` docs, a pure function of (seed, n, stream).

    `stream` picks an independent document stream for the same seed (the
    serve workload draws its add batches from stream 1)."""
    rng = np.random.default_rng([seed, stream, 0x5EED])
    lens = rng.integers(MIN_LEN, MAX_LEN + 1, n)
    total = int(lens.sum())
    toks = VOCAB[np.minimum(np.searchsorted(ZIPF_CDF, rng.random(total)), VOCAB_SIZE - 1)]
    stop = rng.random(total) < STOP_P
    toks[stop] = _STOP[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
    offs = np.concatenate(([0], np.cumsum(lens)))
    for phrase, p in zip(PLANTED, PLANT_P):
        docs = np.flatnonzero(rng.random(n) < p)
        starts = offs[docs] + (rng.random(len(docs)) * (lens[docs] - len(phrase))).astype(np.int64)
        for j, w in enumerate(phrase):
            toks[starts + j] = w
    flat = toks.tolist()
    return [flat[offs[i]:offs[i + 1]] for i in range(n)]


def page_text(tokens: list[str]) -> str:
    # light sentence structure, so the tokenizer sees punctuation
    parts = []
    for j in range(0, len(tokens), 11):
        parts.append(" ".join(tokens[j:j + 11]))
    return ". ".join(parts) + "."


def generate_pages(seed: int, n: int, stream: int = 0) -> pd.DataFrame:
    """`n` pages rows, a pure function of (seed, n, stream)."""
    toks = doc_tokens(seed, n, stream)
    rng = np.random.default_rng([seed, stream, 0xFACE])
    langs = np.array(LANGS, dtype=object)[
        np.minimum(np.searchsorted(np.cumsum(LANG_P), rng.random(n)), len(LANGS) - 1)
    ]
    null_text = rng.random(n) < NULL_TEXT_P
    sites = rng.integers(0, 997, n)
    texts = [page_text(t) for t in toks]
    html = [
        f"<html><head><title>p{i}</title></head><body><p>{t}</p></body></html>".encode()
        for i, t in enumerate(texts)
    ]
    return pd.DataFrame(
        {
            "url": [
                f"https://site{s}.example/{lg}/s{stream}/page/{i}"
                for i, (s, lg) in enumerate(zip(sites, langs))
            ],
            "warc_ts": pd.Series(EPOCH + pd.to_timedelta(np.arange(n), unit="s")),
            "html": html,
            "text": [None if z else t for z, t in zip(null_text, texts)],
            "lang": langs,
        }
    )
