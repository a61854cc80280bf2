"""Seeded input generator: Common-Crawl-shaped pages over a zipf vocabulary,
plus df-ranked query streams.

Everything is derived from ``numpy.random.default_rng(seed)``, so the same
seed gives byte-identical pages and queries. Words are lowercase alphabetic
strings of 2-15 letters, so ``simple_preprocess`` keeps every one of them
and the token stream a page carries is exactly the word list the generator
drew (``Corpus.tokens``) — the correctness checks rely on that.
"""

from __future__ import annotations

import datetime as dt
import string
from dataclasses import dataclass

import numpy as np

LETTERS = np.array(list(string.ascii_lowercase))


@dataclass
class Corpus:
    seed: int
    tokens: list[list[str]]   # doc_id -> token list, as the page text carries it
    df_ranked: list[str]      # words by document frequency, descending
    dup_of: dict[int, int]    # planted exact copy doc_id -> original doc_id

    @property
    def num_docs(self) -> int:
        return len(self.tokens)

    def expected_counts(self) -> dict:
        """num_docs / vocab size / posting count a gensim-exact build of
        these pages must report."""
        postings = sum(len(set(toks)) for toks in self.tokens)
        return {"num_docs": self.num_docs, "vocab": len(self.df_ranked),
                "postings": postings}


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 2-15 letters, in random order."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        lens = rng.integers(2, 16, size=2 * (size - len(words)))
        letters = LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
        pos = 0
        for ln in lens.tolist():
            w = "".join(letters[pos:pos + ln])
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return words


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def draw_ranks(rng: np.random.Generator, cdf: np.ndarray, size: int
               ) -> np.ndarray:
    r = np.searchsorted(cdf, rng.random(size), side="right")
    return np.minimum(r, len(cdf) - 1)


def make_corpus(seed: int, n_docs: int, vocab_size: int,
                min_len: int = 80, max_len: int = 320,
                zipf_s: float = 1.05, dup_share: float = 0.01) -> Corpus:
    """Doc lengths uniform in [min_len, max_len]; each token a zipf(s) draw
    over ``vocab_size`` words. A ``dup_share`` of the docs are exact copies
    of an earlier doc (mirrored pages), which near-dup clustering must
    group with their original."""
    rng = np.random.default_rng(seed)
    vocab = np.array(make_vocab(rng, vocab_size), dtype=object)
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    ranks = draw_ranks(rng, zipf_cdf(vocab_size, zipf_s), int(lens.sum()))
    n_dup = int(n_docs * dup_share)
    copies = rng.choice(np.arange(n_docs // 2, n_docs), size=n_dup,
                        replace=False)
    dup_of = {int(c): int(rng.integers(0, n_docs // 2)) for c in copies}
    tokens: list[list[str]] = []
    df: dict[str, int] = {}
    pos = 0
    for doc_id, ln in enumerate(lens.tolist()):
        if doc_id in dup_of:
            toks = list(tokens[dup_of[doc_id]])
        else:
            toks = vocab[ranks[pos:pos + ln]].tolist()
        pos += ln
        tokens.append(toks)
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    df_ranked = sorted(df, key=lambda t: (-df[t], t))
    return Corpus(seed=seed, tokens=tokens, df_ranked=df_ranked,
                  dup_of=dup_of)


_HEAD = ("<html><head><title></title>"
         "<style>.t{color:#333}</style>"
         "<script type='text/javascript'>var x=1;</script></head><body>")
_TAIL = "<!-- footer --><div id='f'>&copy; 2025</div></body></html>"


def page_html(tokens: list[str]) -> str:
    """Markup whose extracted text tokenizes to exactly ``tokens``: the
    rest is tags, comments, script/style blocks and non-word entities the
    extraction cascade must strip."""
    parts = [_HEAD]
    for i in range(0, len(tokens), 12):
        parts.append("<p class='s'><span class=\"t\" data-i=\"x\">"
                     + " <b>&amp;</b> ".join(tokens[i:i + 12])
                     + "</span>&#32;<!-- s --></p>")
    parts.append(_TAIL)
    return "".join(parts)


def write_pages(corpus: Corpus, path: str) -> None:
    """Pages parquet: (doc_id, url, warc_ts, html, text, lang) — one file
    with a few row groups, the shape a crawl extract arrives in."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = corpus.num_docs
    base = dt.datetime(2025, 1, 1)
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "url": pa.array([f"https://site{i % 97}.example.org/p/{i}"
                         for i in range(n)]),
        "warc_ts": pa.array([base + dt.timedelta(seconds=7 * i)
                             for i in range(n)], pa.timestamp("us")),
        "html": pa.array([page_html(t).encode("utf-8")
                          for t in corpus.tokens], pa.binary()),
        "text": pa.array([" ".join(t) for t in corpus.tokens]),
        "lang": pa.array(["en"] * n),
    })
    pq.write_table(tbl, path, row_group_size=max(1, (n + 3) // 4))


def query_stream(corpus: Corpus, seed: int, n: int, zipf_s: float = 1.1,
                 max_terms: int = 4) -> list[str]:
    """``n`` query texts of 1-``max_terms`` distinct terms, each term drawn
    by df rank with a zipf law: head terms repeat across queries (the
    serving run cache gets hits) while the tail keeps touching runs not
    seen before.

    The draws are stratified: every term count appears equally often, and
    the term ranks come from one uniform per equal-probability stratum,
    shuffled, so the number of costly head-term lookups in a stream varies
    less between seeds than with independent draws."""
    rng = np.random.default_rng([seed, 7919])
    ranked = corpus.df_ranked
    cdf = zipf_cdf(len(ranked), zipf_s)
    counts = rng.permutation(np.arange(n) % max_terms + 1)
    u = (rng.permutation(int(counts.sum())) + rng.random(int(counts.sum()))
         ) / counts.sum()
    ranks = np.minimum(np.searchsorted(cdf, u, side="right"), len(cdf) - 1)
    out: list[str] = []
    pos = 0
    for nt in counts.tolist():
        terms: list[str] = []
        for r in ranks[pos:pos + nt].tolist():
            t = ranked[r]
            while t in terms:    # a head term drawn twice: draw again
                t = ranked[int(draw_ranks(rng, cdf, 1)[0])]
            terms.append(t)
        pos += nt
        out.append(" ".join(terms))
    return out
