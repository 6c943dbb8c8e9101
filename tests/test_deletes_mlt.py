"""Deletes (tombstone anti-join) + MoreLikeThis behavior.

Mirrors test/Lucene.Net.Test/Index/TestIndexWriterDelete.cs (deleted docs
invisible to every query path) and contrib MoreLikeThis semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher


@pytest.fixture(scope="module")
def corpus_index(spark):
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    docs = with_doc_ids(corpus_df(spark, 300, partitions=4),
                        ("repo", "path")).cache()
    return build_segmented_index(spark, docs, text_col="content",
                                 lang_col="lang")


def test_deleted_docs_invisible(spark, corpus_index):
    s = Searcher(corpus_index)
    q = ast.Term("index", field="content")
    before = {r["doc_id"] for r in s.search(q, 50).collect()}
    victims = list(sorted(before))[:3]
    dead = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    s2 = Searcher(corpus_index.with_deletes(dead))
    after = {r["doc_id"] for r in s2.search(q, 50).collect()}
    assert not (after & set(victims))
    # count drops by exactly the matching victims
    assert s2.count(q) == s.count(q) - len(victims)
    # scores of surviving docs unchanged (deletes don't touch df/stats
    # until a merge purges them — reference semantics: .del bitmap only)
    n = s.count(q)
    sb = {r["doc_id"]: r["score"] for r in s.search(q, n).collect()}
    sa = {r["doc_id"]: r["score"] for r in s2.search(q, n).collect()}
    for d, sc in sa.items():
        assert sb[d] == sc


def test_deletes_accumulate(spark, corpus_index):
    d1 = spark.createDataFrame([(0,)], "doc_id long")
    d2 = spark.createDataFrame([(1,)], "doc_id long")
    idx = corpus_index.with_deletes(d1).with_deletes(d2)
    got = {r["doc_id"] for r in idx.tombstones.collect()}
    assert got == {0, 1}


def test_mlt_excludes_source_and_ranks(spark, corpus_index):
    s = Searcher(corpus_index)
    hits = s.more_like_this(5, max_terms=5, k=10, field="content").collect()
    assert len(hits) == 10
    assert all(r["doc_id"] != 5 for r in hits)
    scores = [r["score"] for r in hits]
    assert scores == sorted(scores, reverse=True)


def test_ivf_subset_of_exact(spark):
    from lucenenet_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    exact = [tuple(r) for r in
             ann.cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    approx = [tuple(r) for r in
              ann.ivf_topk(emb, qv, k=10, nlist=16, nprobe=16,
                           exclude_id=0).collect()]
    # probing ALL cells must recover the exact result
    assert approx == exact
    some = ann.ivf_topk(emb, qv, k=10, nlist=16, nprobe=4, exclude_id=0).collect()
    assert 0 < len(some) <= 10


def test_mlt_term_vectors_fast_path(spark, corpus_index):
    """MoreLikeThis via a materialized forward index (term_vectors) is
    result-identical to the posting-scan path (TermVectorsWriter.cs
    analogue)."""
    s = Searcher(corpus_index)
    tv = corpus_index.term_vectors().cache()
    a = [tuple(r) for r in
         s.more_like_this(5, max_terms=5, k=10, field="content").collect()]
    b = [tuple(r) for r in
         s.more_like_this(5, max_terms=5, k=10, field="content",
                          term_vectors=tv).collect()]
    assert a == b
    # the forward index row really carries the doc's terms
    row = tv.where((F.col("doc_id") == 5)
                   & (F.col("field") == "content")).collect()
    assert len(row) == 1 and len(row[0]["vec"]) > 0


def test_atomic_update(spark, corpus_index):
    """UpdateDocument = atomic delete-by-key + add (IndexWriter.cs:2479,
    TestAtomicUpdate.cs mirror): the updated index answers every query
    exactly like a fresh build over (old corpus + new rows) with the old
    row ids tombstoned."""
    from lucenenet_spark.index.segments import (
        build_segmented_index, update_documents)

    idx = corpus_index
    # rewrite 5 documents: same (repo, path) keys, new content
    some = idx.stored.orderBy("doc_id").limit(5).collect()
    new_rows = [(r["repo"], r["path"], r["commit"], r["lang"],
                 r["content"] + " freshly updated contentwords")
                for r in some]
    new_docs = spark.createDataFrame(
        new_rows,
        "repo string, path string, commit string, lang string, content string")

    updated = update_documents(idx, new_docs, ["repo", "path"],
                               text_col="content", lang_col="lang")

    # reference: fresh build over old ∪ new rows, old ids tombstoned
    old_ids = [r["doc_id"] for r in some]
    base = idx.stored.agg(F.max("doc_id")).collect()[0][0] + 1
    fresh_rows = [(int(base + i), r[0], r[1], r[2], r[3], r[4])
                  for i, r in enumerate(sorted(new_rows))]
    both = idx.stored.unionByName(spark.createDataFrame(
        fresh_rows,
        "doc_id long, repo string, path string, commit string, "
        "lang string, content string"
    ).select(*idx.stored.columns))
    ref = build_segmented_index(spark, both, text_col="content",
                                lang_col="lang").with_deletes(
        spark.createDataFrame([(i,) for i in old_ids], "doc_id long"))

    assert updated.n_docs == ref.n_docs
    assert updated.avgdl == pytest.approx(ref.avgdl)
    su, sr = Searcher(updated), Searcher(ref)
    for q in (ast.Term("index", field="content"),
              ast.Term("contentwords", field="content"),
              ast.Bool(must=(ast.Term("index", field="content"),
                             ast.Term("merge", field="content"))),
              ast.Phrase(("freshly", "updated"), field="content"),
              ast.MatchAll()):
        a = [tuple(r) for r in su.search(q, 20).collect()]
        b = [tuple(r) for r in sr.search(q, 20).collect()]
        assert a == b, q
    # the new content is findable, the old ids are gone from term hits
    hits = {r["doc_id"] for r in
            su.search(ast.Term("contentwords", field="content"), 20)
            .collect()}
    assert hits and not (hits & set(old_ids))


def test_expunge_deletes_matches_fresh_build(spark, corpus_index):
    """After expunge_deletes, the index is physically identical in
    behavior to a fresh build over the live corpus: df/N now SEE the
    deletes (reference semantics flip at the purge point,
    SegmentMerger.cs:819-821 docMap squeeze-out)."""
    from lucenenet_spark.index.segments import (
        build_segmented_index, expunge_deletes)

    idx = corpus_index
    q = ast.Term("index", field="content")
    victims = [r["doc_id"] for r in
               Searcher(idx).search(q, 5).collect()][:3]
    dead = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    purged = expunge_deletes(idx.with_deletes(dead))
    assert purged.tombstones is None
    assert purged.n_docs == idx.n_docs - 3

    live = idx.stored.join(dead, idx.stored.doc_id == dead.doc_id,
                           "left_anti")
    fresh = build_segmented_index(spark, live, text_col="content",
                                  lang_col="lang")
    assert purged.n_docs == fresh.n_docs
    assert purged.avgdl == pytest.approx(fresh.avgdl)
    for qq in (q, ast.Term("merge", field="content"),
               ast.Phrase(("doc", "id"), field="content"),
               ast.Prefix("se", field="content")):
        a = [tuple(r) for r in Searcher(purged).search(qq, 15).collect()]
        b = [tuple(r) for r in Searcher(fresh).search(qq, 15).collect()]
        assert a == b, qq
    assert not ({r[0] for r in
                 Searcher(purged).search(q, 50).collect()} & set(victims))


def test_expunge_after_repeated_updates_matches_fresh_build(spark,
                                                           corpus_index):
    """Re-committing the same keys leaves whole update segments dead, so
    the expunge rewrite sees Arrow batches in which every row belongs to
    a deleted doc; it must drop them and still match a fresh build over
    the live rows.  Small Arrow batches make such batches certain at
    this corpus size (at full batch size it takes thousands of files)."""
    from lucenenet_spark.index.segments import (
        build_segmented_index, expunge_deletes, update_documents)

    idx = corpus_index
    hot = idx.stored.orderBy("doc_id").limit(20).collect()
    for gen in range(3):
        rows = [(r["repo"], r["path"], r["commit"], r["lang"],
                 f"{r['content']} generation{gen} rewrite") for r in hot]
        idx = update_documents(
            idx, spark.createDataFrame(
                rows, "repo string, path string, commit string, "
                      "lang string, content string"),
            ["repo", "path"], text_col="content", lang_col="lang")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        purged = expunge_deletes(idx)
        purged.segments.count()  # the rewrite runs here, at small batches
    finally:
        spark.conf.set(key, prev)
    assert purged.tombstones is None
    assert purged.n_docs == corpus_index.n_docs

    fresh = build_segmented_index(spark, purged.stored, text_col="content",
                                  lang_col="lang")
    assert purged.n_docs == fresh.n_docs
    assert purged.avgdl == pytest.approx(fresh.avgdl)
    for q in (ast.Term("index", field="content"),
              ast.Term("generation2", field="content"),
              ast.Term("generation0", field="content"),
              ast.Phrase(("generation2", "rewrite"), field="content"),
              ast.Prefix("se", field="content")):
        a = [tuple(r) for r in Searcher(purged).search(q, 15).collect()]
        b = [tuple(r) for r in Searcher(fresh).search(q, 15).collect()]
        assert a == b, q
    assert len(Searcher(purged).search(
        ast.Term("generation2", field="content"), 50).collect()) == 20
