"""Compressed-segment path: codec round-trip, segmented==oracle parity,
merge waves, checkpoint/resume, deterministic doc_ids.

Mirrors the reference's index-format tests
(test/Lucene.Net.Test/Index/TestSegmentTermDocs.cs, TestSegmentMerger.cs,
TestMultiLevelSkipList.cs) at the behavioral level: encode/decode identity,
merge preserves postings, query results invariant across physical layouts.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from lucenenet_spark.index import codec

# ------------------------------------------------------------------ codec


@given(st.lists(st.integers(0, 2**62), max_size=300))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert (codec.varint_decode(codec.varint_encode(a)) == a).all()


@given(
    st.lists(
        st.tuples(st.integers(0, 10**9), st.integers(1, 50), st.integers(1, 1000)),
        max_size=200,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=30, deadline=None)
def test_postings_roundtrip(rows):
    rows.sort()
    docs = np.array([r[0] for r in rows], np.int64)
    tfs = np.array([r[1] for r in rows], np.int64)
    dls = np.array([r[2] for r in rows], np.int64)
    rng = np.random.default_rng(int(tfs.sum()) if len(rows) else 0)
    pos = (
        np.concatenate([np.sort(rng.choice(5000, t, replace=False)) for t in tfs])
        if len(rows)
        else np.empty(0, np.int64)
    )
    e = codec.encode_postings(docs, tfs, dls, pos)
    d, t, l, p = codec.decode_postings(
        e["docs_blob"], e["tfs_blob"], e["dls_blob"], e["pos_blob"]
    )
    assert (d == docs).all() and (t == tfs).all() and (l == dls).all()
    assert (p == pos).all()
    assert e["df"] == len(rows) and e["ttf"] == int(tfs.sum())


def test_merge_postings_interleaves():
    a = codec.encode_postings(
        np.array([1, 5, 9]), np.array([2, 1, 3]), np.array([10, 20, 30]),
        np.array([0, 3, 7, 1, 2, 4]))
    b = codec.encode_postings(
        np.array([2, 6]), np.array([1, 1]), np.array([15, 25]),
        np.array([5, 6]))
    m = codec.merge_postings([a, b])
    d, t, l, p = codec.decode_postings(
        m["docs_blob"], m["tfs_blob"], m["dls_blob"], m["pos_blob"])
    assert d.tolist() == [1, 2, 5, 6, 9]
    assert t.tolist() == [2, 1, 1, 1, 3]
    assert l.tolist() == [10, 15, 20, 25, 30]
    assert p.tolist() == [0, 3, 5, 7, 6, 1, 2, 4]


def test_block_maxes():
    n = 300
    docs = np.arange(n) * 2
    tfs = np.arange(1, n + 1)
    dls = np.full(n, 7)
    bl = codec.block_maxes(docs, tfs, dls, block=128)
    assert len(bl) == 3
    assert bl[0] == {"last_doc": 254, "max_tf": 128, "min_dl": 7}
    assert bl[-1]["last_doc"] == int(docs[-1])


# ------------------------------------------------------- spark integration


@pytest.fixture(scope="module")
def corpus(spark):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    return with_doc_ids(corpus_df(spark, 300, partitions=6), ("repo", "path")).cache()


def test_doc_ids_dense_and_deterministic(spark, corpus):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    ids = sorted(r[0] for r in corpus.select("doc_id").collect())
    assert ids == list(range(300))
    again = with_doc_ids(corpus_df(spark, 300, partitions=6), ("repo", "path"))
    a = {(r["repo"], r["path"]): r["doc_id"] for r in corpus.collect()}
    b = {(r["repo"], r["path"]): r["doc_id"] for r in again.collect()}
    assert a == b


def test_segmented_matches_oracle(spark, corpus):
    """A lang-dispatching build merged in fan-in-3 waves scores like the
    independent pybm25 oracle over the same rows."""
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.oracle.pybm25 import OracleIndex
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    seg = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang", fan_in=3)
    oracle = OracleIndex()
    oracle.primary_field = "content"
    for r in corpus.select("doc_id", "content", "lang").collect():
        oracle.add(r["doc_id"], {"content": r["content"]}, lang=r["lang"])
    assert seg.n_docs == oracle.n_docs
    assert seg.avgdl == pytest.approx(oracle.avgdl)

    s1 = Searcher(seg)
    queries = [
        ast.Term("index", field="content"),
        ast.Term("camelcasename", field="content"),  # code-split token
        ast.Bool(must=(ast.Term("index", field="content"),
                       ast.Term("merge", field="content"))),
        ast.Bool(should=(ast.Term("spark", field="content"),
                         ast.Term("segment", field="content")),
                 min_should_match=1),
        ast.Phrase(("doc", "id"), field="content"),
        ast.Prefix("se", field="content"),
        ast.Fuzzy("mereg", field="content"),
    ]
    for q in queries:
        a = [(r["doc_id"], r["score"]) for r in s1.search(q, 10).collect()]
        b = oracle.top_k(q, 10)
        assert a == b, f"{q}: {a} != {b}"
    assert len(
        [(r["doc_id"], r["score"]) for r in
         s1.search(ast.Term("index", field="content"), 10).collect()]
    ) == 10


def test_merge_wave_counts(spark, corpus):
    from lucenenet_spark.index.segments import build_segmented_index

    seg = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang", fan_in=3, target_segments=1)
    assert seg.n_segments() == 1
    # df/ttf metadata consistent with decoded postings
    row = seg.segments.limit(0)
    import pyspark.sql.functions as F

    meta = seg.segments.agg(F.sum("df"), F.sum("ttf")).collect()[0]
    dec = seg.postings.agg(F.count("*"), F.sum("tf")).collect()[0]
    assert int(meta[0]) == int(dec[0])
    assert int(meta[1]) == int(dec[1])
    del row


def test_checkpoint_resume(spark, corpus, tmp_path):
    from lucenenet_spark.index.segments import build_segmented_index

    ck = str(tmp_path / "ckpt")
    a = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck)
    rows_a = sorted(
        (r["field"], r["term"], r["seg_id"], bytes(r["docs_blob"]).hex())
        for r in a.segments.collect()
    )
    # resume: rebuild with same checkpoint dir — must read committed waves,
    # not recompute, and produce the identical final segment set
    b = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck)
    rows_b = sorted(
        (r["field"], r["term"], r["seg_id"], bytes(r["docs_blob"]).hex())
        for r in b.segments.collect()
    )
    assert rows_a == rows_b


def test_save_load_roundtrip(spark, corpus, tmp_path):
    from lucenenet_spark.index.segments import SegmentedIndex, build_segmented_index
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    seg = build_segmented_index(spark, corpus, text_col="content", lang_col="lang")
    seg.save(str(tmp_path / "idx"))
    back = SegmentedIndex.load(spark, str(tmp_path / "idx"), stored=corpus)
    q = ast.Term("index", field="content")
    a = [tuple(r) for r in Searcher(seg).search(q, 10).collect()]
    b = [tuple(r) for r in Searcher(back).search(q, 10).collect()]
    assert a == b


def test_content_sha_rollup(spark, corpus):
    from lucenenet_spark.index.segments import content_sha_rollup

    roll = content_sha_rollup(corpus, "content")
    rows = roll.collect()
    assert sum(r["file_count"] for r in rows) == 300
    # identical source -> identical rollup (per-row invariant check)
    again = content_sha_rollup(corpus, "content").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# ------------------------------------------------- bulk-merge kernel (unit)


def _seg_row(field, term, mg, enc):
    return {"field": field, "term": term, "merge_group": mg,
            "df": enc["df"], "ttf": enc["ttf"], "seg_id": 0,
            "docs_blob": enc["docs_blob"], "tfs_blob": enc["tfs_blob"],
            "dls_blob": enc["dls_blob"], "pos_blob": enc["pos_blob"],
            "blocks": enc["blocks"]}


def _run_merge(rows):
    import pandas as pd
    from lucenenet_spark.index.segments import _merge_partition
    out = list(_merge_partition(iter([pd.DataFrame(rows)])))
    return pd.concat(out, ignore_index=True)


def test_bulk_merge_fastpath_equals_decode_merge():
    """Disjoint-ascending segments: spliced byte concat must decode to the
    same postings a full decode-merge produces (and the docs/tfs/dls blobs
    are byte-identical to re-encoding the merged list)."""
    rng = np.random.default_rng(7)
    encs = []
    base = 0
    for seg in range(4):
        n = int(rng.integers(1, 200))
        docs = base + np.sort(rng.choice(500, n, replace=False))
        base = int(docs[-1]) + 1 + int(rng.integers(0, 100))
        tfs = rng.integers(1, 9, n)
        dls = rng.integers(20, 400, n)
        pos = np.concatenate(
            [np.sort(rng.choice(4000, t, replace=False)) for t in tfs])
        encs.append(codec.encode_postings(docs, tfs, dls, pos))
    merged = _run_merge([_seg_row("content", "x", 0, e) for e in encs])
    assert len(merged) == 1
    row = merged.iloc[0]
    ref = codec.merge_postings([
        {k: e[k] for k in ("docs_blob", "tfs_blob", "dls_blob", "pos_blob")}
        for e in encs])
    d, t, l, p = codec.decode_postings(
        row["docs_blob"], row["tfs_blob"], row["dls_blob"], row["pos_blob"])
    rd, rt, rl, rp = codec.decode_postings(
        ref["docs_blob"], ref["tfs_blob"], ref["dls_blob"], ref["pos_blob"])
    assert (d == rd).all() and (t == rt).all() and (l == rl).all()
    assert (p == rp).all()
    assert int(row["df"]) == ref["df"] and int(row["ttf"]) == ref["ttf"]
    # fast path concat is byte-identical for tf/dl/pos streams
    assert bytes(row["tfs_blob"]) == ref["tfs_blob"]
    assert bytes(row["dls_blob"]) == ref["dls_blob"]
    assert bytes(row["pos_blob"]) == ref["pos_blob"]
    # blocks: last_doc of final block matches, bounds cover all docs
    assert row["blocks"][-1]["last_doc"] == int(d[-1])


def test_bulk_merge_fallback_on_overlap():
    """Overlapping doc ranges (out-of-order NRT compaction) take the
    decode-merge fallback and still interleave correctly."""
    a = codec.encode_postings(np.array([1, 50, 90]), np.array([1, 2, 1]),
                              np.array([10, 10, 10]),
                              np.array([3, 1, 4, 9]))
    b = codec.encode_postings(np.array([5, 60]), np.array([1, 1]),
                              np.array([12, 12]), np.array([2, 8]))
    merged = _run_merge([_seg_row("content", "y", 0, a),
                         _seg_row("content", "y", 0, b)])
    d, t, l, p = codec.decode_postings(
        merged.iloc[0]["docs_blob"], merged.iloc[0]["tfs_blob"],
        merged.iloc[0]["dls_blob"], merged.iloc[0]["pos_blob"])
    assert d.tolist() == [1, 5, 50, 60, 90]
    assert t.tolist() == [1, 1, 2, 1, 1]
    assert p.tolist() == [3, 2, 1, 4, 8, 9]


def test_bulk_merge_multi_term_groups():
    """Rows for several (term, merge_group) keys in one partition merge
    independently; single-row groups pass through unchanged."""
    e1 = codec.encode_postings(np.array([2, 4]), np.array([1, 1]),
                               np.array([5, 5]), np.array([0, 1]))
    e2 = codec.encode_postings(np.array([10]), np.array([3]),
                               np.array([8]), np.array([0, 2, 5]))
    merged = _run_merge([
        _seg_row("content", "aa", 0, e1),
        _seg_row("content", "aa", 0, e2),
        _seg_row("content", "bb", 1, e2),
    ])
    assert len(merged) == 2
    aa = merged[merged["term"] == "aa"].iloc[0]
    d, t, _, _ = codec.decode_postings(
        aa["docs_blob"], aa["tfs_blob"], aa["dls_blob"], aa["pos_blob"])
    assert d.tolist() == [2, 4, 10] and t.tolist() == [1, 1, 3]
    bb = merged[merged["term"] == "bb"].iloc[0]
    assert bytes(bb["docs_blob"]) == e2["docs_blob"]
    assert int(bb["seg_id"]) == 1


def test_merge_shuffle_balanced_under_zipf(spark, corpus):
    """Skew validation (SURVEY §7 Phase 6): the corpus vocabulary is
    Zipfian, yet the merge shuffle keys on (field, term, merge_group), so
    a hot term's sub-lists spread across merge groups and no reducer
    partition degenerates. Assert the post-shuffle row distribution is
    within a sane imbalance factor of the mean."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.segments import (
        SEGMENT_SCHEMA, _invert_partition)

    seg = corpus.select("doc_id", "content", "lang").mapInPandas(
        _invert_partition("content", "doc_id", "content", "lang", True),
        SEGMENT_SCHEMA)
    n_parts = 8
    shuffled = (
        seg.withColumn("merge_group", (F.col("seg_id") / 2).cast("long"))
        .repartition(n_parts, "field", "term", "merge_group")
    )
    counts = (
        shuffled.groupBy(F.spark_partition_id().alias("p")).count().collect()
    )
    rows = [r["count"] for r in counts]
    assert len(rows) >= 2
    mean = sum(rows) / len(rows)
    assert max(rows) <= 3.0 * mean, (rows, mean)


def test_merge_wave_fallback_out_of_order_segments(spark, corpus):
    """Out-of-order segment sets (NRT compaction shape: a later segment
    holds LOWER doc_ids) must take the decode-merge fallback inside a real
    merge wave and still answer queries identically to a fresh build."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.segments import (
        build_segmented_index, merge_wave)
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    base = build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang", target_segments=4)
    # scramble seg_ids so ascending seg_id no longer means ascending docs
    scrambled = base.segments.withColumn(
        "seg_id", (F.lit(3) - F.col("seg_id")).cast("long"))
    from dataclasses import replace
    idx = replace(base, segments=merge_wave(scrambled, fan_in=4).cache(),
                  _postings=None, _postings_nopos=None, _term_stats=None)

    want = [(r["doc_id"], r["score"]) for r in
            Searcher(base).search(ast.Term("index", field="content"), 10)
            .collect()]
    got = [(r["doc_id"], r["score"]) for r in
           Searcher(idx).search(ast.Term("index", field="content"), 10)
           .collect()]
    assert got == want
    assert idx.segments.select("seg_id").distinct().count() == 1


def test_wand_applies_tombstones(spark, corpus):
    """wand_topk honors with_deletes: rank-identical to the exact scorer
    over the live set (the ADVICE.md deleted-docs gap)."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.index.wand import wand_topk
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    base = build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang")
    terms = [("index", 1.0), ("merge", 1.0), ("segment", 1.0)]
    top = [r["doc_id"] for r in
           wand_topk(base, terms, k=5, field="content").collect()]
    assert top, "need non-empty baseline hits"
    dead = spark.createDataFrame([(int(d),) for d in top[:3]], "doc_id long")
    idx = base.with_deletes(dead)

    got = [tuple(r) for r in
           wand_topk(idx, terms, k=10, field="content").collect()]
    want = [tuple(r) for r in
            Searcher(idx).search(
                ast.Bool(should=tuple(ast.Term(t, field="content")
                                      for t, _ in terms)), 10).collect()]
    assert got == want
    assert not set(top[:3]) & {d for d, _ in got}


def test_wave_retention_policy(spark, corpus, tmp_path):
    """retain_waves keeps only the last N committed wave dirs, and resume
    still works from the newest one (KeepOnlyLastCommitDeletionPolicy
    generalized; SnapshotDeletionPolicy = retain_waves=None)."""
    import glob
    import os

    from lucenenet_spark.index.segments import build_segmented_index

    ck = str(tmp_path / "ckpt")
    a = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck,
                              retain_waves=2)
    dirs = sorted(os.path.basename(d)
                  for d in glob.glob(os.path.join(ck, "wave_*")))
    assert len(dirs) == 2  # waves 0..2 existed; only the last 2 survive
    assert dirs[-1] > dirs[0]
    rows_a = sorted(
        (r["field"], r["term"], r["seg_id"], bytes(r["docs_blob"]).hex())
        for r in a.segments.collect())
    # resume with the oldest wave expired: jumps to the newest commit
    b = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck,
                              retain_waves=2)
    rows_b = sorted(
        (r["field"], r["term"], r["seg_id"], bytes(r["docs_blob"]).hex())
        for r in b.segments.collect())
    assert rows_a == rows_b


# --------------------------------------------- contrib/Core enumerators


@pytest.fixture(scope="module")
def segidx(spark, corpus):
    from lucenenet_spark.index.segments import build_segmented_index

    return build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang", fan_in=3)


def test_enumerate_terms_sorted_filtered_numeric(spark, segidx):
    """FieldEnumerator semantics (contrib/Core/Index/FieldEnumerator.cs):
    sorted term walk over one field; typed variants cast the term."""
    rows = segidx.enumerate_terms(field="content", numeric=True).collect()
    terms = [r["term"] for r in rows]
    assert terms == sorted(terms) and len(terms) == len(set(terms))
    assert all(r["field"] == "content" for r in rows)
    for r in rows:
        if r["term"].isdigit():
            assert r["term_num"] == int(r["term"])
        elif not r["term"].lstrip("+-").isdigit():
            assert r["term_num"] is None
    # df/ttf come straight from the dictionary, so they must agree with
    # term_stats
    ts = {(r["field"], r["term"]): (r["df"], r["ttf"])
          for r in segidx.term_stats().collect()}
    assert all(ts[("content", r["term"])] == (r["df"], r["ttf"])
               for r in rows)


def test_enumerate_terms_include_docs(spark, segidx):
    """include_docs walks TermDocs per term (FieldEnumerator.cs TermDoc
    walk): doc list length == df and matches the posting table."""
    from pyspark.sql import functions as F

    out = segidx.enumerate_terms(field="content", include_docs=True)
    some = out.where(F.col("df") > 1).limit(5).collect()
    assert some
    for r in some:
        assert len(r["doc_ids"]) == r["df"]
        expect = sorted(
            x["doc_id"] for x in segidx.postings_nopos
            .where((F.col("field") == "content")
                   & (F.col("term") == r["term"]))
            .select("doc_id").collect())
        assert sorted(r["doc_ids"]) == expect


def test_term_vector_enumerator_empty_vector(spark):
    """TermVectorEnumerator semantics
    (contrib/Core/Index/TermVectorEnumerator.cs): every requested doc
    yields a row; docs without a vector carry the EmptyVector analogue."""
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.sources.corpus import with_doc_ids

    df = spark.createDataFrame(
        [("r", "a", "hello world hello", "en"),
         ("r", "b", "", "en"),
         ("r", "c", "world", "en")],
        "repo string, path string, content string, lang string")
    seg = build_segmented_index(spark, with_doc_ids(df),
                                text_col="content", lang_col="lang")
    rows = {r["doc_id"]: r for r in seg.term_vector_enumerator().collect()}
    assert len(rows) == 3
    by_path = {r["path"]: r["doc_id"]
               for r in seg.stored.select("path", "doc_id").collect()}
    assert rows[by_path["b"]]["vec"] == []  # EmptyVector, not a missing row
    vec_a = {t["term"]: t["tf"] for t in rows[by_path["a"]]["vec"]}
    assert vec_a == {"hello": 2, "world": 1}
    # doc_ids filter restricts the walk
    only = seg.term_vector_enumerator(doc_ids=[by_path["c"]]).collect()
    assert [r["doc_id"] for r in only] == [by_path["c"]]


def test_enumerate_terms_max_df_guard(spark, segidx):
    """The 100 TB hazard is enforced, not just documented (r4 VERDICT
    watch #2): a stop-word-grade term's doc list is suppressed (NULL,
    stats row kept) under the default guard; max_df=None opts out."""
    from pyspark.sql import functions as F

    hot = (segidx.term_stats().where(F.col("field") == "content")
           .orderBy(F.desc("df")).limit(1).collect()[0])
    cap = int(hot["df"]) - 1
    assert cap >= 1
    out = {r["term"]: r["doc_ids"] for r in
           segidx.enumerate_terms(field="content", include_docs=True,
                                  max_df=cap).collect()}
    assert out[hot["term"]] is None          # hot term: stats, no array
    cool = [t for t, d in out.items() if d is not None]
    assert cool                               # cool terms keep doc lists
    ungated = {r["term"]: r["doc_ids"] for r in
               segidx.enumerate_terms(field="content", include_docs=True,
                                      max_df=None).collect()}
    assert len(ungated[hot["term"]]) == hot["df"]
