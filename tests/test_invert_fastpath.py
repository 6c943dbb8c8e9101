"""Fast-path invert kernel == slow-path (per-doc tokenize) equivalence.

The fast path (factorize raw tokens, transform the unique vocabulary,
arange/reduceat positions+norms; segments._invert_partition) must be
bit-identical to the original per-doc loop on every analyzer corner:
emails, acronyms, possessives, stopword holes, >255-char tokens,
mixed code/standard languages in one partition, folding, terms shared
between the two analyzer vocabularies — for the default analyzer and
for every StandardChain analyzer (stemmers, stop sets, exclusions)."""

from __future__ import annotations

import unittest.mock as um

import numpy as np
import pandas as pd
import pytest

from lucenenet_spark.analysis.german import german_legacy_analyzer
from lucenenet_spark.analysis.snowball import (
    english_snowball_analyzer, german_snowball_analyzer)
from lucenenet_spark.analysis.snowball_ext import swedish_snowball_analyzer
from lucenenet_spark.index.segments import _invert_partition

# analyzer=None is the default lang-dispatching chain; the rest are
# StandardChain instances that the fast path must run too.  Every
# equivalence test below runs each of them.
ANALYZERS = {
    "default": None,
    "english_snowball": english_snowball_analyzer(),
    "german_snowball": german_snowball_analyzer(),
    "german_legacy_excl": german_legacy_analyzer(
        exclusions=frozenset({"häuser", "running"})),
    "swedish_snowball": swedish_snowball_analyzer(),
}


class _FakeTC:
    @staticmethod
    def get():
        return _FakeTC()

    def partitionId(self):
        return 7


def _run(pdf, *, positions=True, fold=False, force_slow=False,
         lang_col="lang", batches=None, analyzer=None):
    fn = _invert_partition("content", "doc_id", "content", lang_col,
                           positions, fold=fold, analyzer=analyzer,
                           force_slow=force_slow)
    chunks = batches if batches is not None else [pdf]
    with um.patch("pyspark.TaskContext", _FakeTC):
        out = pd.concat(list(fn(iter(chunks))), ignore_index=True)
    return out.sort_values(["field", "term"]).reset_index(drop=True)


TRICKY_DOCS = [
    # (lang, text)
    (None, "The quick Foo.Bar U.S.A. run o'brien's dog@mail.example.com"),
    (None, "foo@bar.com visited www.example.co.uk at 1.2.3.4 twice"),
    (None, "the and of to a an"),                       # stopwords only
    (None, ""),                                         # empty
    (None, None),                                       # null
    (None, "x" * 300 + " ok " + "y" * 256),             # length filter
    (None, "AT&T excite@home you're O'Reilly's 3.14 1-2-3 a-b-c2"),
    (None, "merge merge merge index the index"),        # repeats + hole
    ("python", "def camelCaseName(snake_case_arg): return XMLHttpRequest2"),
    ("java", "public static void main(String[] args) { int xY = 0; }"),
    ("go", ""),                                         # empty code doc
    ("rust", None),                                     # null code doc
    ("python", "merge index spark"),    # SAME terms as std docs above
    ("PYTHON", "Dispatch_on_lowercased_LANG value"),    # lang case
    ("latin", "lang not in CODE_LANGS goes standard"),  # non-code lang
    (None, "trailing.dot. host.name.tld. i.b.m. plain"),
    # German stop words, umlauts, stemmable and excluded forms
    (None, "Die Häuser und die Bäume der Straßen, running runners ran"),
    ("de", "häuser HÄUSER Häusern über Wölkchen möglichkeiten"),
]


def _pdf(docs):
    return pd.DataFrame({
        "doc_id": np.arange(100, 100 + len(docs), dtype=np.int64),
        "lang": [l for l, _ in docs],
        "content": [t for _, t in docs],
    })


@pytest.mark.parametrize("positions", [True, False])
@pytest.mark.parametrize("fold", [True, False])
def test_fast_equals_slow_tricky(positions, fold):
    pdf = _pdf(TRICKY_DOCS)
    for name, an in ANALYZERS.items():
        fast = _run(pdf, positions=positions, fold=fold, analyzer=an)
        slow = _run(pdf, positions=positions, fold=fold, analyzer=an,
                    force_slow=True)
        pd.testing.assert_frame_equal(fast, slow, obj=name)
        assert len(fast) > 0, name


def test_fast_equals_slow_multibatch():
    """Batch boundaries must not affect the output (positions restart per
    doc; factorize spans batches)."""
    pdf = _pdf(TRICKY_DOCS)
    batches = [pdf.iloc[:5], pdf.iloc[5:9], pdf.iloc[9:]]
    for name, an in ANALYZERS.items():
        whole = _run(pdf, analyzer=an)
        split = _run(None, batches=batches, analyzer=an)
        pd.testing.assert_frame_equal(whole, split, obj=name)
        slow = _run(None, batches=batches, analyzer=an, force_slow=True)
        pd.testing.assert_frame_equal(split, slow, obj=name)


def test_fast_equals_slow_no_lang_col():
    pdf = _pdf([(None, t) for _, t in TRICKY_DOCS])
    for name, an in ANALYZERS.items():
        fast = _run(pdf, lang_col=None, analyzer=an)
        slow = _run(pdf, lang_col=None, analyzer=an, force_slow=True)
        pd.testing.assert_frame_equal(fast, slow, obj=name)
        if an is not None:
            # a StandardChain ignores lang_col: the same docs with their
            # code/standard lang tags index identically
            tagged = _run(_pdf(TRICKY_DOCS), analyzer=an)
            pd.testing.assert_frame_equal(fast, tagged, obj=name)


def test_fast_equals_slow_random_corpus():
    from lucenenet_spark.sources.corpus import gen_corpus_rows
    rows = gen_corpus_rows(400)
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"])
    pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)
    for name, an in ANALYZERS.items():
        for lang_col in ("lang", None):
            fast = _run(pdf, analyzer=an, lang_col=lang_col)
            slow = _run(pdf, analyzer=an, lang_col=lang_col,
                        force_slow=True)
            pd.testing.assert_frame_equal(fast, slow,
                                          obj=f"{name}/{lang_col}")
            assert len(fast) > 100, name


def test_multivalued_column_takes_slow_path():
    """array<string> columns must still produce multi-value gap semantics
    (the mode probe routes them to the slow path, whatever the
    analyzer)."""
    pdf = pd.DataFrame({
        "doc_id": np.array([1, 2], dtype=np.int64),
        "lang": [None, None],
        "content": [["alpha beta", "gamma"], None],
    })
    from lucenenet_spark.index import codec
    for an in (None, english_snowball_analyzer()):
        out = _run(pdf, analyzer=an)
        assert set(out["term"]) == {"alpha", "beta", "gamma"}
        # positions continue across values (gap=0 default)
        row = out[out["term"] == "gamma"].iloc[0]
        pos = codec.varint_decode(row["pos_blob"])
        assert pos.tolist() == [2]


def test_non_chain_analyzer_takes_slow_path():
    """An analyzer that is not term->term (shingles span two tokens) is
    never run through the per-unique-term fast path."""
    from lucenenet_spark.analysis.shingle import shingle_analyzer
    pdf = _pdf([(None, "alpha beta gamma"), (None, "beta the gamma")])
    an = shingle_analyzer()
    out = _run(pdf, analyzer=an)
    assert {"alpha beta", "beta gamma", "beta _", "_ gamma"} <= set(
        out["term"])
    pd.testing.assert_frame_equal(
        out, _run(pdf, analyzer=an, force_slow=True))
