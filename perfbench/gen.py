"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments, so
the same seed writes byte-identical files. Nothing imports the engine
package: the generated inputs must not change when the engine does.

* ``write_books`` — the reference's ``books/<Language>/*.txt`` layout:
  few heavy whole-file documents, each dominated by one of ``k`` planted
  topics, mixed with stopwords, punctuation and capitals so the clean and
  stopword stages do real work.
* ``write_short_docs`` — a parquet ``(doc_id, text)`` table of many short
  documents drawn from the same planted topics (the scoring corpus).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# Common English function words. Fixed here (not imported from the
# engine) so a change to the engine's stopword list cannot change inputs.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that", "are",
    "was", "from", "but", "not", "have",
)
_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "dr", "gl", "kr", "pl", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")
_CODAS = ("", "n", "r", "k", "x", "m", "l")


@dataclass(frozen=True)
class TopicModel:
    """The planted generator: ``vocab`` words, ``k`` disjoint topic word
    lists (most probable first) and a background distribution."""

    vocab: np.ndarray  # object array of words
    topic_words: list[np.ndarray]  # per topic: word indices, rank order
    topic_probs: np.ndarray  # Zipf weights over a topic's word list
    background_probs: np.ndarray  # over the whole vocabulary

    def top_words(self, topic: int, n: int = 10) -> list[str]:
        return [str(self.vocab[i]) for i in self.topic_words[topic][:n]]


def topic_model(seed: int, k: int = 5, vocab_size: int = 20_000,
                words_per_topic: int = 200) -> TopicModel:
    """Pseudo-word vocabulary (syllable strings, never a stopword) with
    ``k`` disjoint planted topics."""
    rng = np.random.default_rng([seed, 1])
    onsets, vowels, codas = (np.array(p, dtype=object) for p in (_ONSETS, _VOWELS, _CODAS))
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < vocab_size:
        # a batch of candidate words of 2-3 syllables, duplicates dropped
        m = vocab_size
        n_syl = rng.integers(2, 4, size=m)
        syl = onsets[rng.integers(len(_ONSETS), size=(m, 3))] + vowels[rng.integers(len(_VOWELS), size=(m, 3))]
        syl[n_syl == 2, 2] = ""
        cand = syl[:, 0] + syl[:, 1] + syl[:, 2] + codas[rng.integers(len(_CODAS), size=m)]
        for w in cand:
            if w not in seen and len(words) < vocab_size:
                seen.add(w)
                words.append(w)
    vocab = np.array(words, dtype=object)
    perm = rng.permutation(vocab_size)
    topic_words = [perm[t * words_per_topic:(t + 1) * words_per_topic] for t in range(k)]
    topic_probs = 1.0 / np.arange(1, words_per_topic + 1) ** 0.8
    topic_probs /= topic_probs.sum()
    background = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
    background = background[rng.permutation(vocab_size)]
    background /= background.sum()
    return TopicModel(vocab, topic_words, topic_probs, background)


_TABLE = 1 << 20


def _draw(rng: np.random.Generator, probs: np.ndarray, n: int) -> np.ndarray:
    """``n`` indices drawn from ``probs`` through a 2^20-entry inverse-CDF
    table: ``rng.choice`` with ``p=`` is slow at millions of draws."""
    cdf = np.cumsum(probs) / np.sum(probs)
    table = np.searchsorted(cdf, (np.arange(_TABLE) + 0.5) / _TABLE, side="right")
    return np.minimum(table, len(probs) - 1)[rng.integers(_TABLE, size=n)]


def _documents(rng: np.random.Generator, tm: TopicModel, topics: np.ndarray,
               lengths: np.ndarray) -> list[str]:
    """Documents of the given planted topics and word counts: 55% the
    topic's words, 25% background words, 20% stopwords; sentences of 6-18
    words, capitalized, ending in a full stop, with a comma after ~1 word
    in 15."""
    n = int(lengths.sum())
    doc_topic = np.repeat(topics, lengths)
    kind = _draw(rng, np.array([0.55, 0.25, 0.20]), n)
    idx = np.where(
        kind == 0,
        np.stack(tm.topic_words)[doc_topic, _draw(rng, tm.topic_probs, n)],
        _draw(rng, tm.background_probs, n),
    )
    stop = kind == 2
    idx[stop] = len(tm.vocab) + rng.integers(len(STOPWORDS), size=int(stop.sum()))
    lexicon = np.concatenate([tm.vocab, np.array(STOPWORDS, dtype=object)])
    capitalized = np.array([w.capitalize() for w in lexicon], dtype=object)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    last = starts + lengths - 1
    # sentence ends: every 6-18 words, plus each document's last word
    gaps = rng.integers(6, 19, size=n // 6 + 1)
    ends = np.cumsum(gaps) - 1
    ends = np.union1d(ends[ends < n], last)
    cap = np.zeros(n, dtype=bool)
    cap[starts] = True
    cap[(ends + 1)[ends + 1 < n]] = True
    # each word with the text that follows it; a newline ends a document
    sep = np.full(n, " ", dtype=object)
    sep[rng.random(n) < 1 / 15] = ", "
    sep[ends] = ". "
    sep[last] = ".\n"
    out = np.empty(2 * n, dtype=object)
    out[0::2] = np.where(cap, capitalized[idx], lexicon[idx])
    out[1::2] = sep
    return "".join(out).split("\n")[:-1]


def _lengths(rng: np.random.Generator, n: int, mean: int) -> np.ndarray:
    """Document lengths from 0.7x to 1.3x ``mean`` words, in seeded order.
    Every seed gets the same lengths, so inputs differ in content, never
    in size."""
    return rng.permutation(np.linspace(0.7 * mean, 1.3 * mean, n).astype(np.int64))


def write_books(out_dir: str, seed: int, n_books: int, words_per_book: int,
                k: int = 5, language: str = "English") -> tuple[TopicModel, list[int]]:
    """Write ``out_dir/<language>/book_NNN.txt``; returns the planted model
    and each book's dominant topic (books are spread evenly over topics)."""
    tm = topic_model(seed, k)
    rng = np.random.default_rng([seed, 2])
    topics = [int(t) for t in rng.permutation(np.arange(n_books) % k)]
    lang_dir = os.path.join(out_dir, language)
    os.makedirs(lang_dir, exist_ok=True)
    lengths = _lengths(rng, n_books, words_per_book)
    for b, text in enumerate(_documents(rng, tm, np.array(topics), lengths)):
        with open(os.path.join(lang_dir, f"book_{b:03d}.txt"), "w", encoding="utf-8") as f:
            f.write(text + "\n")
    return tm, topics


def write_short_docs(path: str, seed: int, n_docs: int, words_per_doc: int,
                     tm: TopicModel) -> np.ndarray:
    """Write a parquet ``(doc_id, text)`` table; returns the planted topic
    of each doc_id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    k = len(tm.topic_words)
    topics = rng.integers(0, k, n_docs)
    texts = _documents(rng, tm, topics, _lengths(rng, n_docs, words_per_doc))
    table = pa.table({"doc_id": pa.array(np.arange(n_docs), pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, path, row_group_size=8192)
    return topics
