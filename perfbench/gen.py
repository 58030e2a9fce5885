"""Seeded input generator for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed gives
byte-identical documents, markdown batches and queries. The program under
test only ever sees the generated files and strings.

Text is a Zipf-distributed vocabulary of purely alphabetic pseudo-words
mixed with the English stopwords that ``functions.text.gopher_flags``
counts, so ordinary documents pass the quality stage (a ``w123``-style
vocabulary fails its alphabetic-fraction rule and empties the corpus).
"""

from __future__ import annotations

import os

import numpy as np

# the ten stopwords functions.text.STOP_TOKENS counts (min_stop_tokens=2)
STOPWORDS = ("the", "a", "an", "of", "and", "is", "to", "in", "that", "for")
STOP_SHARE = 0.3
ZIPF_S = 1.05
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


class TextModel:
    """Zipf law over ``vocab_size`` alphabetic pseudo-words plus stopwords."""

    def __init__(self, rng: np.random.Generator, vocab_size: int):
        words: set[str] = set()
        out: list[str] = []
        while len(out) < vocab_size:
            n = int(rng.integers(3, 10))
            w = "".join(rng.choice(LETTERS, n))
            if w not in words and w not in STOPWORDS:
                words.add(w)
                out.append(w)
        self.vocab = np.array(out, dtype=object)
        ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
        p = ranks**-ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.stops = np.array(STOPWORDS, dtype=object)

    def content_words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.vocab[np.minimum(idx, len(self.vocab) - 1)]

    def words(self, rng: np.random.Generator, n: int) -> list[str]:
        out = self.content_words(rng, n)
        stop = rng.random(n) < STOP_SHARE
        out[stop] = self.stops[rng.integers(0, len(self.stops), int(stop.sum()))]
        return out.tolist()

    def query(self, rng: np.random.Generator, n_terms: int | None = None) -> str:
        """``n_terms`` (default: 2-6 at random) terms drawn from the same
        Zipf law, no stopwords."""
        n = int(rng.integers(2, 7)) if n_terms is None else n_terms
        return " ".join(self.content_words(rng, n).tolist())


def flat_docs(rng, model: TextModel, n: int, lo: int = 20, hi: int = 40) -> list[str]:
    """``n`` one-line documents of ``lo``..``hi`` words."""
    lens = rng.integers(lo, hi + 1, n)
    flat = model.words(rng, int(lens.sum()))
    out, pos = [], 0
    for k in lens.tolist():
        out.append(" ".join(flat[pos : pos + k]))
        pos += k
    return out


def markdown_file(rng, model: TextModel, sections: int, marker: str) -> str:
    """A markdown file with ``sections`` headed sections of 100-140 words.
    Four sections exceed the chunker's 512-token limit, so it splits the
    file at its headings; ``marker`` opens the first paragraph and makes
    that chunk's text unique."""
    parts = []
    for s in range(sections):
        parts.append(f"# {' '.join(model.words(rng, 3)).title()}")
        body = " ".join(model.words(rng, int(rng.integers(100, 140))))
        if s == 0:
            body = f"{marker} {body}"
        parts.append(body)
    return "\n\n".join(parts) + "\n"


def write_markdown_batch(rng, model, path: str, files: int, sections: int, tag: str) -> None:
    """Write ``files`` markdown files ``doc_<tag>_<i>.md`` under ``path``,
    each opening with a marker word pair unique to the file."""
    os.makedirs(path, exist_ok=True)
    for i in range(files):
        marker = f"zq{tag}x{i:04d} {''.join(rng.choice(LETTERS, 8))}"
        with open(os.path.join(path, f"doc_{tag}_{i:04d}.md"), "w") as f:
            f.write(markdown_file(rng, model, sections, marker))


def prep_corpus(rng, model: TextModel, n_orig: int, dup_share: float, lowq_share: float):
    """Multi-line documents for the prep pipeline.

    * originals: 5-7 lines of ~14 words;
    * boilerplate: 40% of documents carry one or two of 40 shared lines,
      which line dedup strips from all but the lowest-key holder;
    * low quality: ``lowq_share`` of documents are too short for the
      gopher word floor;
    * planted near-duplicates: ``dup_share`` of the output are copies of
      an original, re-wrapped at a different line width (so no line
      matches the original word for word and line dedup leaves the copy
      whole) with two word substitutions, which keeps their 3-shingle
      Jaccard near 0.9 -- above the 0.8 fuzzy threshold.

    Returns ``(rows, truth, originals)``: rows are ``(doc_id, text)``,
    truth maps each copy's id to its original's id, and originals are the
    ids of the documents long enough for the quality stage that are not
    copies."""
    boiler = [" ".join(model.words(rng, 8)) for _ in range(40)]
    n_copies = int(round(n_orig * dup_share / (1.0 - dup_share)))
    bodies: list[list[str]] = []
    rows: list[tuple[int, str]] = []
    for i in range(n_orig):
        if rng.random() < lowq_share:
            body = model.words(rng, int(rng.integers(5, 15)))
            bodies.append([])
            rows.append((i, " ".join(body)))
            continue
        body = model.words(rng, int(rng.integers(5, 8)) * 14)
        bodies.append(body)
        lines = [" ".join(body[j : j + 14]) for j in range(0, len(body), 14)]
        if rng.random() < 0.4:
            for b in rng.choice(len(boiler), int(rng.integers(1, 3)), replace=False):
                lines.insert(int(rng.integers(0, len(lines) + 1)), boiler[b])
        rows.append((i, "\n".join(lines)))
    eligible = [i for i, b in enumerate(bodies) if b]
    truth: dict[int, int] = {}
    for c in range(n_copies):
        src = eligible[int(rng.integers(0, len(eligible)))]
        body = list(bodies[src])
        for pos in rng.choice(len(body), 2, replace=False):
            body[pos] = model.content_words(rng, 1)[0]
        width = 11
        lines = [" ".join(body[j : j + width]) for j in range(0, len(body), width)]
        cid = n_orig + c
        truth[cid] = src
        rows.append((cid, "\n".join(lines)))
    # interleave copies among originals so keys carry no structure
    order = rng.permutation(len(rows))
    return [rows[i] for i in order], truth, set(eligible)


def text_stats(texts: list[str]) -> dict:
    """Measured input properties recorded with every run."""
    n_words = [len(t.split()) for t in texts]
    terms: set[str] = set()
    for t in texts:
        terms.update(t.split())
    return {
        "docs": len(texts),
        "distinct_terms": len(terms),
        "mean_words": round(float(np.mean(n_words)), 2) if texts else 0.0,
    }
