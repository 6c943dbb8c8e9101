"""Seeded inputs for the benchmark: workload sizes, query strings and
update batches.

Everything here is pure Python and a function of the seed alone, so the
engine sees only generated inputs and two runs with one seed see the same
ones.  The corpus itself is `lucenenet_spark.sources.corpus.corpus_df`
with the same seed; this module only needs its vocabulary shape.
"""

from __future__ import annotations

import random

# query classes, in the fixed order every search round runs them
CLASSES = ("term_rare", "term_common", "and2", "or3", "phrase2", "prefix",
           "fuzzy")

# head words of the corpus vocabulary (sources/corpus._BASE_WORDS minus
# the stopwords): Zipf-sampled, so each occurs in most files
_HEAD = ("index", "merge", "segment", "posting", "term", "query", "score",
         "search", "token", "field", "document", "writer", "reader",
         "buffer", "flush", "commit", "delete", "update", "filter", "boost")
_FUZZY = tuple(w for w in _HEAD if 5 <= len(w) <= 7)
# tail words: w0000.. idents, the Zipf rank keeps w1xxx rare
_N_TAIL = 1900


# Corpus files per workload, chosen so one run, set-up included, stays
# near a minute on a 4-core host (see perfbench/README.md); TINY is the
# smoke-test scale.
FILES = {"build_stemmed": 1500, "search": 1500}
TINY = {"build_stemmed": 200, "search": 300}

# Write episodes (traced runs): BATCHES_PER_EXPUNGE batches, each
# re-committing the same seeded hot set of HOT files, then one
# expunge_deletes.  Five re-commits of one 200-file set is the shape at
# which expunge_deletes is known to fail; the failure is counted.
HOT = 200
BATCHES_PER_EXPUNGE = 5


def _tail(rng: random.Random) -> str:
    return f"w{rng.randrange(1000, _N_TAIL):04d}"


def _one_edit(rng: random.Random, word: str) -> str:
    """`word` with one letter substituted (edit distance 1)."""
    i = rng.randrange(1, len(word))
    alts = [c for c in "abcdefghijklmnopqrstuvwxyz" if c != word[i]]
    return word[:i] + rng.choice(alts) + word[i + 1:]


def query_string(rng: random.Random, cls: str) -> str:
    """One query string of class `cls` in QueryParser syntax."""
    if cls == "term_rare":
        # a number token (one of 10,000, ~1 in 17 tokens) or a tail word
        return (str(rng.randrange(10000)) if rng.random() < 0.5
                else _tail(rng))
    if cls == "term_common":
        return rng.choice(_HEAD)
    if cls == "and2":
        a, b = rng.sample(_HEAD, 2)
        return f"{a} AND {b}"
    if cls == "or3":
        return " ".join(rng.sample(_HEAD, 3))
    if cls == "phrase2":
        a, b = rng.sample(_HEAD[:8], 2)
        return f'"{a} {b}"'
    if cls == "prefix":
        return f"w{rng.randrange(10, 100):03d}*"
    if cls == "fuzzy":
        # minimum similarity 0.75 over a 5-7 letter word admits edit
        # distance 1 only (1 - 2/7 < 0.75 <= 1 - 1/5)
        return _one_edit(rng, rng.choice(_FUZZY)) + "~0.75"
    raise ValueError(f"unknown query class {cls!r}")


POOL_PER_CLASS = 6  # query strings drawn per class


def query_pool(seed: int) -> dict[str, list[str]]:
    """POOL_PER_CLASS query strings per class; a search loop cycles
    through them, so repeats are re-checked, never dropped."""
    rng = random.Random(f"queries:{seed}")
    return {c: [query_string(rng, c) for _ in range(POOL_PER_CLASS)]
            for c in CLASSES}


class UpdateStream:
    """Seeded re-commit batches over the corpus' existing file keys.

    The hot set is a seeded sample of `hot` row indices: files such as
    generated code that change in every commit.  Every batch re-commits
    all of them, each with a new seeded suffix, so every commit changes
    the indexed text and deletes the previous batch's versions."""

    def __init__(self, seed: int, n_files: int, hot: int):
        self.rng = random.Random(f"updates:{seed}")
        self.hot = sorted(self.rng.sample(range(n_files), min(hot, n_files)))

    def next_batch(self, gen: int) -> list[tuple[int, str]]:
        """[(row index, appended text)] for commit generation `gen`, in
        ascending row order."""
        return [(i, f"{_tail(self.rng)} commit{gen} {self.rng.choice(_HEAD)}")
                for i in self.hot]
