"""ASCII folding (ASCIIFoldingFilter / ISOLatin1AccentFilter analogue,
src/Lucene.Net/Analysis/ASCIIFoldingFilter.cs:68): accented terms fold to
ASCII at index AND query time, identically across the python map, the JVM
translate expression, and DuckDB's translate."""

import duckdb
import pytest

from lucenenet_spark.analysis.folding import (
    FOLD_DST, FOLD_SRC, fold_ascii_py, fold_sql)
from lucenenet_spark.index.segments import build_segmented_index
from lucenenet_spark.oracle.pybm25 import OracleIndex
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher

DOCS = [
    (0, "über den Wölkchen müssen die Freiheit wohl grenzenlos sein"),
    (1, "resumé of José's naïve café façade"),
    (2, "uber resume cafe plain ascii"),
    (3, "Ærøskøbing citroën jalapeño"),
]


def test_python_fold_map():
    assert fold_ascii_py("über") == "uber"
    assert fold_ascii_py("resumé José naïve") == "resume Jose naive"
    assert fold_ascii_py(None) is None


def test_duckdb_fold_parity():
    con = duckdb.connect()
    for _, text in DOCS:
        got = con.execute(f"SELECT {fold_sql('?')}", [text]).fetchone()[0]
        assert got == fold_ascii_py(text), text


def test_folded_index_matches_oracle(spark):
    """A fold_ascii build scores like the independent oracle over the
    folded text."""
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    seg = build_segmented_index(spark, docs, text_col="text",
                                field_name="text", fold_ascii=True)
    oracle = OracleIndex()
    for i, text in DOCS:
        oracle.add(i, {"text": fold_ascii_py(text)})
    s_seg = Searcher(seg)
    for q in (ast.Term("uber"), ast.Term("resume"), ast.Term("cafe"),
              ast.Term("jose"), ast.Prefix("naiv")):
        got = [(r["doc_id"], r["score"]) for r in s_seg.search(q, 10).collect()]
        assert got == oracle.top_k(q, 10), q
    # the folded query term matches BOTH the accented and the plain doc
    hits = {r["doc_id"] for r in s_seg.search(ast.Term("uber"), 10).collect()}
    assert hits == {0, 2}
    hits = {r["doc_id"] for r in s_seg.search(ast.Term("resume"), 10).collect()}
    assert hits == {1, 2}
    # unfolded index does NOT conflate them
    plain = build_segmented_index(spark, docs, text_col="text")
    hits = {r["doc_id"] for r in
            Searcher(plain).search(ast.Term("uber"), 10).collect()}
    assert hits == {2}


def test_fold_map_lengths():
    assert len(FOLD_SRC) == len(FOLD_DST)
    assert len(set(FOLD_SRC)) == len(FOLD_SRC)  # no duplicate sources
