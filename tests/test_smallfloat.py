"""SmallFloat 3.15 norm bytes (Util/SmallFloat.cs, Similarity.cs
NORM_TABLE): golden encode/decode points, staircase and idempotence
properties, vector==scalar parity, and the quantize_norms parity mode on
ClassicSimilarity."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lucenenet_spark.functions.smallfloat import (
    NORM_TABLE, byte315_to_float, byte315_to_float_np, float_to_byte315,
    float_to_byte315_np, quantize_norm_np)


def test_golden_points():
    """encode(1.0)=124 / decode(124)=1.0 — hand-derived from the bit
    layout (1.0f = 0x3F800000 >> 21 = 508; fzero = 384; 508-384 = 124)."""
    assert float_to_byte315(1.0) == 124
    assert byte315_to_float(124) == 1.0
    assert float_to_byte315(0.0) == 0
    assert byte315_to_float(0) == 0.0
    assert float_to_byte315(-3.5) == 0          # bits <= 0 -> 0
    assert float_to_byte315(1e-30) == 1         # underflow -> smallest
    # just under NORM_TABLE[1] (smallfloat == fzero): still underflow,
    # rounds UP to byte 1 (SmallFloat.cs tests `<=`, not `<`)
    assert float_to_byte315(5.09e-10) == 1
    assert float_to_byte315(5.5e-10) == 1
    assert float_to_byte315(1e30) == 255        # overflow -> largest


def test_idempotent_on_table_values():
    """encode(decode(b)) == b for every byte (the table IS the codec's
    fixed-point set)."""
    for b in range(256):
        assert float_to_byte315(byte315_to_float(b)) == b
    assert len(set(NORM_TABLE)) == 256


@given(st.floats(min_value=1e-12, max_value=1e12,
                 allow_nan=False, allow_infinity=False))
@example(5.09e-10)
@example(5.5e-10)
@settings(max_examples=300, deadline=None)
def test_staircase_rounds_down(x):
    """Values round DOWN to the largest representable value <= x
    (SmallFloat doc comment), except underflow which rounds UP to the
    smallest positive."""
    d = byte315_to_float(float_to_byte315(x))
    if x < NORM_TABLE[1]:
        assert d == NORM_TABLE[1]
    else:
        assert d <= np.float32(x)
        bigger = [v for v in NORM_TABLE if v > d]
        if bigger:
            assert min(bigger) > np.float32(x) or d == max(
                v for v in NORM_TABLE if v <= np.float32(x))


def test_vector_matches_scalar():
    xs = np.array([0.0, -1.0, 1e-30, 5.09e-10, 5.5e-10, 1.0, 0.125, 7.5,
                   1e30, 0.0078125], dtype=np.float32)
    enc = float_to_byte315_np(xs)
    assert enc.tolist() == [float_to_byte315(float(x)) for x in xs]
    dec = byte315_to_float_np(enc)
    assert dec.tolist() == [byte315_to_float(int(b)) for b in enc]


def test_quantize_norm_np():
    dls = np.array([1, 2, 4, 100, 10000])
    got = quantize_norm_np(dls)
    want = [byte315_to_float(float_to_byte315(
        np.float32(1.0 / np.sqrt(float(d))))) for d in dls]
    assert got.tolist() == pytest.approx(want)


def test_classic_similarity_parity_mode(spark):
    """search() under ClassicSimilarity(quantize_norms=True) rescales
    each doc's score by decode(encode(1/sqrt(dl))) / (1/sqrt(dl)) vs the
    exact-norm default — verified doc-by-doc on a tiny corpus."""
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.functions.similarity import ClassicSimilarity
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher
    from lucenenet_spark.sources.corpus import with_doc_ids

    df = spark.createDataFrame(
        [("r", "a", "merge merge batch"),
         ("r", "b", "merge " + "pad " * 40),
         ("r", "c", "batch only")],
        "repo string, path string, content string")
    idx = build_segmented_index(spark, with_doc_ids(df), text_col="content")
    dl = {r["doc_id"]: r["n"] for r in
          idx.postings_nopos.where("term = 'merge'")
          .select("doc_id", idx.postings_nopos.dl.alias("n")).collect()}
    q = ast.Term("merge", field="content")
    exact = {r["doc_id"]: r["score"] for r in
             Searcher(idx, ClassicSimilarity()).search(q, 10).collect()}
    quant = {r["doc_id"]: r["score"] for r in
             Searcher(idx, ClassicSimilarity(quantize_norms=True))
             .search(q, 10).collect()}
    assert set(exact) == set(quant) == set(dl)
    for d in exact:
        ratio = (byte315_to_float(float_to_byte315(
            np.float32(1.0 / np.sqrt(dl[d]))))
            * np.sqrt(dl[d]))
        assert quant[d] == pytest.approx(exact[d] * ratio, rel=1e-4)
