"""Block-Max WAND top-k over the segmented index.

The reference's skip-list Advance (src/Lucene.Net/Index/SegmentTermDocs.cs:
247-268) plus the published Block-Max-WAND idea (Ding & Suel, SIGIR'11 —
public literature; Lucene 8+ uses the same structure): per-block
(last_doc, max_tf, min_dl) metadata upper-bounds every doc's BM25 term
score inside the block, so most docs are eliminated by a cheap bound
check before any exact scoring happens.

Vectorized exact variant (no per-doc Python loop):

  1. per (term, block): ub = idf * tf_norm(max_tf, min_dl)  — score bound
     monotone ↑ in tf, ↓ in dl, so (max_tf, min_dl) dominates the block.
  2. per doc: UB(doc) = Σ_t ub_t(block containing doc)   (np.add.at)
  3. exact-score the top candidates by UB, establishing threshold θ =
     kth exact score; every doc with UB < θ is provably outside the
     top-k and never exactly scored.
  4. grow the candidate set if any unscored doc still has UB ≥ θ
     (exactness guarantee), then emit the segment-local top-k.

Each segment prunes independently (executor-parallel); the driver-side
global top-k is orderBy(score desc, doc_id asc).limit(k) — identical
tie-break to the collector (HitQueue.cs:87-93). Results are identical to
the full-scoring path; only the work is smaller.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.bm25 import B, K1, SCORE_DECIMALS
from . import codec


def _idf(df: int, n: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def _tf_norm_np(tf, dl, avgdl):
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


_HIT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def _segment_kernel(term_weights: dict[str, float], avgdl: float, k: int):
    """applyInPandas kernel: WAND top-k within one segment's query-term
    posting rows (columns: term, docs_blob, tfs_blob, dls_blob, blocks)."""

    from .deletes import keep_mask

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_parts, contrib_parts, ub_parts = [], [], []
        has_del = "del_blob" in pdf.columns
        for row in pdf.itertuples(index=False):
            w = term_weights.get(row.term)
            if w is None:
                continue
            docs, tfs, dls, _ = codec.decode_postings(
                bytes(row.docs_blob), bytes(row.tfs_blob),
                bytes(row.dls_blob), b"")
            if has_del and row.del_blob is not None:
                # the deletedDocs.Get check at decode time
                # (SegmentTermDocs.cs) — dead docs never enter the
                # bound/score passes, so k needs NO over-fetch
                live = keep_mask(docs, row.del_lo, row.del_kind,
                                 row.del_blob)
                docs, tfs, dls = docs[live], tfs[live], dls[live]
            n = len(docs)
            if n == 0:
                continue
            # block id per posting -> per-posting upper bound from metadata.
            # Blocks are located by last_doc (searchsorted), NOT by a fixed
            # BLOCK_SIZE stride: bulk-merged segments concatenate block runs,
            # so block sizes are irregular (the skip-list datum carries its
            # own doc boundary, DefaultSkipListReader.cs analogue).
            blocks = row.blocks
            bmax_tf = np.array([b["max_tf"] for b in blocks], np.int64)
            bmin_dl = np.array([b["min_dl"] for b in blocks], np.int64)
            blast = np.array([b["last_doc"] for b in blocks], np.int64)
            bub = w * _tf_norm_np(bmax_tf, bmin_dl, avgdl)
            bid = np.searchsorted(blast, docs, side="left")
            doc_parts.append(docs)
            contrib_parts.append((docs, tfs, dls, w))
            ub_parts.append(bub[bid])
        if not doc_parts:
            return pd.DataFrame({"doc_id": [], "score": []})

        all_docs = np.concatenate(doc_parts)
        all_ubs = np.concatenate(ub_parts)
        uniq, inv = np.unique(all_docs, return_inverse=True)
        ub = np.zeros(len(uniq))
        np.add.at(ub, inv, all_ubs)

        # exact scores computed lazily: start from the top-4k by UB
        def exact_scores(mask: np.ndarray) -> np.ndarray:
            sel = np.flatnonzero(mask)
            idx_of = np.full(len(uniq), -1, np.int64)
            idx_of[sel] = np.arange(len(sel))
            out = np.zeros(len(sel))
            for docs, tfs, dls, w in contrib_parts:
                pos = np.searchsorted(uniq, docs)
                tgt = idx_of[pos]
                m = tgt >= 0
                np.add.at(out, tgt[m],
                          w * _tf_norm_np(tfs[m], dls[m], avgdl))
            return out

        cand = min(max(4 * k, 64), len(uniq))
        order = np.argsort(-ub, kind="stable")
        scored_mask = np.zeros(len(uniq), bool)
        scored_mask[order[:cand]] = True
        scores = np.full(len(uniq), -np.inf)
        scores[scored_mask] = exact_scores(scored_mask)

        # θ is the kth ROUNDED score (the collector's ordering key); a doc
        # prunes only when even its UB cannot round into a tie with θ —
        # raw > θ - half-ulp is required to round >= θ.
        half_ulp = 0.5 * 10.0 ** -SCORE_DECIMALS
        while True:
            top = np.sort(np.round(scores[scores > -np.inf],
                                   SCORE_DECIMALS))[::-1]
            theta = top[k - 1] if len(top) >= k else -np.inf
            need = (~scored_mask) & (ub >= theta - half_ulp)
            if not need.any():
                break
            scores[need] = exact_scores(need)
            scored_mask |= need

        # Truncate on the ROUNDED score (the collector's ordering key):
        # a doc whose raw score is epsilon under the kth but rounds equal
        # must survive in-segment selection to win its doc_id tie-break.
        keep = np.flatnonzero(scores > -np.inf)
        rounded = np.round(scores[keep], SCORE_DECIMALS)
        rk = keep[np.lexsort((uniq[keep], -rounded))][:k]
        return pd.DataFrame({
            "doc_id": uniq[rk].astype(np.int64),
            "score": scores[rk],
        })

    return fn


def wand_topk(index, term_boosts: list[tuple[str, float]], k: int = 10,
              field: str | None = None) -> DataFrame:
    """Disjunctive (pure-SHOULD) BM25 top-k with block-max pruning over a
    SegmentedIndex. Rank-identical to Searcher.search(Bool(should=...)),
    including deletes: each segment's delete bitmap (index/deletes.py,
    the .del file analogue) joins the query-term segment rows on seg_id
    and is applied INSIDE the kernel at decode time — the deletedDocs.Get
    check of SegmentTermDocs.cs — so dead docs never enter the scoring
    passes and each segment emits an exact live top-k (no over-fetch, no
    global tombstone count anywhere in the plan).
    """
    field = field or index.fields[0]
    pairs = [(field, t) for t, _ in term_boosts]
    dfs = index.term_dfs(pairs)
    n, avgdl = index.n_docs, index.avgdl
    weights = {
        t: boost * _idf(dfs[(field, t)], n)
        for t, boost in term_boosts if dfs[(field, t)] > 0
    }
    if not weights:
        return index.spark.createDataFrame([], _HIT_SCHEMA)
    seg = index.segments.where(
        (F.col("field") == field) & F.col("term").isin(sorted(weights))
    ).select("seg_id", "term", "docs_blob", "tfs_blob", "dls_blob", "blocks")
    del_t = index.delete_frames()
    if del_t is not None:
        seg = seg.join(del_t, "seg_id", "left")
    per_segment = (
        seg.groupBy("seg_id")
        .applyInPandas(_segment_kernel(weights, avgdl, k), _HIT_SCHEMA)
    )
    return (
        per_segment
        .select("doc_id", F.round(F.col("score"), SCORE_DECIMALS).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
