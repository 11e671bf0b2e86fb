"""Seeded inputs for every workload.

The benchmark owns this generator so that its inputs stay fixed when the
engine's own fixture generator (``full_text_index_spark/corpus.py``) changes.
It follows the same shape: a pseudo-English vocabulary drawn Zipf(1.07)-wise,
log-normal document lengths, dense integer doc ids.  The same seed always
gives the same documents, queries and patterns.
"""

from __future__ import annotations

import re

import numpy as np

ZIPF_S = 1.07
VOCAB_SIZE = 8000
_SYLL = ["ka", "re", "mi", "to", "su", "no", "ha", "li", "be", "go", "pu", "da",
         "fe", "zo", "wi", "ny", "ch", "qu", "sh", "vo", "ex", "ar", "ul", "om"]


def vocabulary(size: int = VOCAB_SIZE) -> np.ndarray:
    """Word-like, pairwise distinct tokens: 2-4 syllables plus a digit."""
    words = []
    for i in range(size):
        j, parts = i, []
        for _ in range(2 + i % 3):
            parts.append(_SYLL[j % len(_SYLL)])
            j //= len(_SYLL)
        words.append("".join(parts) + str(i % 7))
    return np.array(words, dtype=object)


def zipf_probs(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-ZIPF_S)
    return p / p.sum()


def corpus(seed: int, n_docs: int, *, mean_len: int = 120,
           id_prefix: bool = False) -> list[tuple[int, str, str]]:
    """``n_docs`` rows of (doc_id, url, text).

    ``id_prefix`` starts every text with a URL-like id token, which spreads
    character-gram frequencies the way real text does (the bare Zipf vocabulary
    has only a few hundred distinct trigrams).
    """
    rng = np.random.default_rng(seed)
    vocab = vocabulary()
    lens = np.clip(rng.lognormal(np.log(mean_len), 0.5, n_docs), 8, 6 * mean_len)
    lens = lens.astype(np.int64)
    draws = rng.choice(len(vocab), size=int(lens.sum()), p=zipf_probs(len(vocab)))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[draws[bounds[i]:bounds[i + 1]]]) for i in range(n_docs)]
    if id_prefix:
        tags = rng.integers(0, 1 << 40, size=n_docs)
        texts = [f"id{t:x}.example/p{i} {txt}"
                 for i, (t, txt) in enumerate(zip(tags, texts))]
    return [(i, f"https://site{(seed + i) % 97}.example/{i}", t)
            for i, t in enumerate(texts)]


def with_duplicates(seed: int, rows: list[tuple[int, str, str]],
                    frac: float = 0.04) -> list[tuple[int, str, str]]:
    """``rows`` plus, under fresh ids, exact copies of a ``frac`` share of
    them and near copies (one token replaced) of another such share."""
    rng = np.random.default_rng(seed)
    n = max(1, int(len(rows) * frac))
    next_id = max(d for d, _, _ in rows) + 1
    out = list(rows)
    for k, i in enumerate(rng.choice(len(rows), 2 * n, replace=False)):
        _, url, text = rows[int(i)]
        if k >= n:
            toks = text.split(" ")
            toks[int(rng.integers(0, len(toks)))] = f"zq{k}x"
            text = " ".join(toks)
        out.append((next_id + k, url, text))
    return out


def term_sets(seed: int, vocab: list[str], n: int) -> list[list[str]]:
    """``n`` BM25 queries of 1-4 distinct terms.

    Terms come Zipf-wise from ``vocab`` (ordered by decreasing document
    frequency), so head and tail terms mix and term sets repeat, as in a
    query log.
    """
    rng = np.random.default_rng(seed)
    sizes = rng.integers(1, 5, size=n)
    picks = rng.choice(len(vocab), size=int(sizes.sum()), p=zipf_probs(len(vocab)))
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    return [sorted({vocab[int(i)] for i in picks[a:b]}) for a, b in zip(bounds[:-1], bounds[1:])]


def substrings(seed: int, texts: list[str], n: int) -> list[str]:
    """Substring patterns: slices of real text (hit), id-token slices (rare
    grams), short (< 3 chars) slices, and absent strings."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        t = texts[int(rng.integers(0, len(texts)))]
        kind = i % 5
        if kind == 4:
            out.append(f"zq{int(rng.integers(0, 10**6))}xj")
            continue
        if kind == 3:
            m = int(rng.integers(1, 3))
        elif kind == 2:
            t = t.split(" ", 1)[0]  # the id token: rare grams
            m = int(rng.integers(4, 9))
        else:
            m = int(rng.integers(4, 12))
        s = int(rng.integers(0, max(len(t) - m, 1)))
        out.append(t[s:s + m])
    return out


def regexes(seed: int, texts: list[str], n: int) -> list[str]:
    """Regexes with a required literal, alternations, a literal-free one
    (scan fallback) and an absent one."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        t = texts[int(rng.integers(0, len(texts)))]
        toks = t.split(" ")
        a = toks[int(rng.integers(1, len(toks)))]
        b = toks[int(rng.integers(1, len(toks)))]
        kind = i % 4
        if kind == 0:
            out.append(f"{re.escape(a[:4])}[a-z]*{re.escape(a[-1])}")
        elif kind == 1:
            out.append(f"({re.escape(a)}|{re.escape(b)}) [a-z]")
        elif kind == 2:
            out.append(f"[a-z]{{{int(rng.integers(3, 5))}}}{int(rng.integers(0, 7))} [a-z]+{int(rng.integers(0, 7))}")
        else:
            out.append(f"zq{int(rng.integers(0, 1000))}[xy]+j")
    return out


def approx_patterns(seed: int, texts: list[str], n: int) -> list[str]:
    """Patterns one edit away from a real slice, plus an absent one."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        if i % 4 == 3:
            out.append(f"qzxq{int(rng.integers(0, 10**5))}jjv")
            continue
        t = texts[int(rng.integers(0, len(texts)))]
        m = int(rng.integers(7, 12))
        s = int(rng.integers(0, max(len(t) - m, 1)))
        p = list(t[s:s + m])
        j = int(rng.integers(0, len(p)))
        if i % 2:
            del p[j]
        else:
            p[j] = "x"
        out.append("".join(p))
    return out
