"""Seeded Common-Crawl-style corpus and query stream for the benchmark.

Imports nothing from ``colbert_live_spark``: the inputs of an A/B comparison
are byte-identical on both commits. The seed is the only source of
randomness, so the same seed always gives the same corpus, queries and
digest.

- Corpus rows are ``(doc_id, url, text, lang)``. Text is Zipf (s=1.07) over
  a 100,000-term vocabulary, with document lengths of 20-400 words.
- Queries have 1-4 terms, Zipf-sampled so hot terms recur. About 10% carry
  a term absent from every document, about 5% repeat a term, and about 25%
  are flagged conjunctive (used by the point queries).

Print the digest of a seed's inputs::

    python3 perfbench/gen.py --seed 7
"""

from __future__ import annotations

import argparse
import hashlib
import os
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 100_000
ZIPF_S = 1.07
MIN_WORDS, MAX_WORDS = 20, 400
LANGS = np.array(["en", "de", "fr", "es", "pt", "it"])
LANG_P = np.array([0.5, 0.1, 0.1, 0.1, 0.1, 0.1])
FILTER_LANG = "de"  # kept by the filtered batch: about one doc in ten
N_HOSTS = 500

# 64 distinct two-letter syllables; a word is three of them (64^3 = 262,144
# distinct words), so ranks >= VOCAB_SIZE give words no document contains.
_SYLLABLES = [c + v for c in "bdfgklmnprstvwzh" for v in "aeio"]
assert len(_SYLLABLES) == 64


def word(rank: int) -> str:
    return (_SYLLABLES[rank >> 12] + _SYLLABLES[(rank >> 6) & 63]
            + _SYLLABLES[rank & 63])


_NORMAL = NormalDist()
_VOCAB: np.ndarray | None = None
_CDF: np.ndarray | None = None


def _vocab() -> tuple[np.ndarray, np.ndarray]:
    global _VOCAB, _CDF
    if _VOCAB is None:
        _VOCAB = np.array([word(r) for r in range(VOCAB_SIZE)], dtype=object)
        w = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
        _CDF = np.cumsum(w) / w.sum()
    return _VOCAB, _CDF


def _stratified(rng: np.random.Generator, n: int) -> np.ndarray:
    """n uniforms, one from each of n equal strata, in random order: every
    seed covers the distribution evenly, so per-seed inputs differ in
    detail but not in composition."""
    return rng.permutation((np.arange(n) + rng.random(n)) / n)


def _exact_mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A random mask with exactly round(share * n) entries set."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[:round(share * n)]] = True
    return mask


def _zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    _, cdf = _vocab()
    return np.minimum(np.searchsorted(cdf, _stratified(rng, n)),
                      VOCAB_SIZE - 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


def corpus(seed: int, n_docs: int, stream: str = "base") -> pa.Table:
    """``n_docs`` rows with doc ids ``0 ..``; ``stream`` names an independent
    draw for the same seed (the base corpus, each live batch)."""
    vocab, _ = _vocab()
    rng = _rng(seed, f"corpus/{stream}")
    z = np.array([_NORMAL.inv_cdf(u) for u in _stratified(rng, n_docs)])
    lens = np.clip(np.rint(np.exp(4.6 + 0.6 * z)),
                   MIN_WORDS, MAX_WORDS).astype(np.int64)
    toks = vocab[_zipf_ranks(rng, int(lens.sum()))]
    # a little surface noise for the tokenizer: capitals and punctuation
    cap = _exact_mask(rng, toks.size, 0.05)
    toks[cap] = [t.capitalize() for t in toks[cap]]
    dot = _exact_mask(rng, toks.size, 0.08)
    toks[dot] = [t + "." for t in toks[dot]]
    ends = np.cumsum(lens)
    texts = [" ".join(toks[e - n:e]) for e, n in zip(ends, lens)]
    hosts = _zipf_ranks(rng, n_docs) % N_HOSTS
    ids = np.arange(n_docs, dtype=np.int64)
    urls = [f"https://site{h:03d}.example/{stream}/{i}"
            for h, i in zip(hosts, ids)]
    langs = LANGS[np.searchsorted(np.cumsum(LANG_P),
                                  _stratified(rng, n_docs))]
    return pa.table({"doc_id": ids, "url": urls, "text": texts,
                     "lang": langs.astype(object)})


def write_corpus(table: pa.Table, out_dir: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def queries(seed: int, n: int, stream: str) -> list[tuple[str, str, bool]]:
    """``[(query_id, text, conjunctive)]``."""
    vocab, _ = _vocab()
    rng = _rng(seed, f"queries/{stream}")
    n_terms = 1 + np.searchsorted(np.cumsum([0.3, 0.35, 0.2, 0.15]),
                                  _stratified(rng, n))
    ranks = _zipf_ranks(rng, int(n_terms.sum()))
    absent = _exact_mask(rng, n, 0.10)
    repeat = _exact_mask(rng, n, 0.05)
    conj = _exact_mask(rng, n, 0.25)
    out = []
    o = 0
    for i in range(n):
        terms = list(vocab[ranks[o:o + n_terms[i]]])
        o += n_terms[i]
        if absent[i]:
            terms[-1] = word(VOCAB_SIZE + int(rng.integers(0, 1 << 16)))
        if repeat[i]:
            terms.append(terms[0])
        out.append((f"{stream}-{i:05d}", " ".join(terms), bool(conj[i])))
    return out


def digest(tables: list[pa.Table], qsets: list[list]) -> str:
    h = hashlib.sha256()
    for t in tables:
        for col in t.column_names:
            h.update(col.encode())
            h.update("\x1f".join(map(str, t.column(col).to_pylist())).encode())
    for qs in qsets:
        h.update(repr(qs).encode())
    return h.hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, default=2000)
    ap.add_argument("--queries", type=int, default=256)
    a = ap.parse_args()
    print(digest([corpus(a.seed, a.docs)], [queries(a.seed, a.queries, "q")]))


if __name__ == "__main__":
    main()
