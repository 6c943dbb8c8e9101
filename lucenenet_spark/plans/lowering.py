"""Lowering: Query AST -> Spark DataFrame plans (the Weight/Scorer layer).

The reference's doc-at-a-time scorer tree (SURVEY.md §3.2) re-expressed
set-oriented:

- TermQuery/TermScorer  -> postings filter on (field,term) [parquet pushdown]
                           + literal (df, N, avgdl) folded into the score
                           expression (global-stats broadcast lemma,
                           src/Lucene.Net/Search/MultiSearcher.cs:355-390)
- BooleanScorer2        -> union of clause frames + ONE groupBy(doc_id):
                           MUST = HAVING n_must == #musts (ConjunctionScorer),
                           SHOULD = sum + HAVING n_should >= minShouldMatch
                           (DisjunctionSumScorer), MUST_NOT = left_anti
                           (ReqExclScorer).  BM25 drops coord.
- PhraseQuery           -> positions-array alignment with higher-order
                           functions (array_intersect of offset-shifted
                           position lists) — all JVM-side.
- MultiTermQuery family -> term-dictionary predicate; CONSTANT_SCORE
                           rewrite = semi-join (no term enumeration),
                           SCORING_BOOLEAN (fuzzy) = driver-collected
                           expansion capped at 1024 clauses
                           (src/Lucene.Net/Search/MultiTermQuery.cs:79-118).
- top-k                 -> orderBy(score desc, doc_id asc).limit(k) ==
                           TakeOrderedAndProject (per-partition heaps +
                           driver merge), tie-break identical to
                           src/Lucene.Net/Search/HitQueue.cs:87-93.

Scores are doubles rounded to SCORE_DECIMALS before ordering so rank order
is reproducible across partitionings and engines (float-sum associativity).
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions import bm25
from ..functions.similarity import BM25Similarity
from ..index.segments import SegmentedIndex
from ..index.cache import SegmentCache
from . import ast

#: CachingSpanFilter backing store (CachingSpanFilter.cs `cache` keyed by
#: reader) — one process-wide SegmentCache, weak per index generation
_SPAN_FILTER_CACHE: SegmentCache = SegmentCache()


def _idf(df: int, n: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


def wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


class TimeExceededError(RuntimeError):
    """TimeLimitingCollector.TimeExceededException analogue."""


class Searcher:
    """IndexSearcher analogue over a SegmentedIndex
    (src/Lucene.Net/Search/IndexSearcher.cs)."""

    def __init__(self, index: SegmentedIndex, similarity=None):
        """similarity: a functions.similarity strategy object
        (Searcher.SetSimilarity analogue, src/Lucene.Net/Search/
        Searcher.cs / Similarity.cs:560,644).  Default BM25; pass
        ClassicSimilarity for the reference's TF-IDF.  `explain` renders
        the ACTIVE similarity's detail tree (BM25 tfNorm/idf, or the
        DefaultSimilarity queryWeight*fieldWeight decomposition)."""
        self.index = index
        self.spark = index.spark
        self.sim = similarity if similarity is not None else BM25Similarity()
        self._filter_cache: dict = {}

    # ------------------------------------------------------------------ api

    def _live(self, frame: DataFrame) -> DataFrame:
        """Apply the deletes bitmap (anti-join on tombstones — the
        query-time .del check, src/Lucene.Net/Index/SegmentTermDocs.cs
        deletedDocs.Get)."""
        t = self.index.tombstones
        if t is None:
            return frame
        return frame.join(t, "doc_id", "left_anti")

    def search(self, q: ast.Query, k: int = 10,
               positive_only: bool = False) -> DataFrame:
        """TopDocs analogue: (doc_id, score) rows, score desc, ties by
        ascending doc_id (HitQueue.cs:87-93).  positive_only drops
        score <= 0 hits (PositiveScoresOnlyCollector,
        src/Lucene.Net/Search/PositiveScoresOnlyCollector.cs)."""
        frame = self._live(self.score_frame(ast.rewrite(q)))
        s = bm25.rounded(F.col("score"))
        out = frame.select(F.col("doc_id"), s.alias("score"))
        if positive_only:
            out = out.where(F.col("score") > 0)
        return (
            out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def span_filter_result(self, q: ast.Query) -> DataFrame:
        """SpanQueryFilter.BitSpans (src/Lucene.Net/Search/
        SpanQueryFilter.cs:61-87): the DocIdSet PLUS per-doc match
        positions — one row per matching doc, ``positions`` =
        sorted [(start, end)] (SpanFilterResult.PositionInfo,
        SpanFilterResult.cs:59-94).  Costs the position decode above a
        QueryWrapperFilter, exactly the trade the reference documents;
        deletes are applied like every filter path."""
        spans = self._live(self._spans(ast.rewrite(q)))
        return (spans.groupBy("doc_id")
                .agg(F.sort_array(F.collect_list(F.struct(
                    F.col("s").alias("start"), F.col("e").alias("end"))))
                    .alias("positions")))

    def cached_span_filter_result(self, q: ast.Query) -> DataFrame:
        """CachingSpanFilter (src/Lucene.Net/Search/
        CachingSpanFilter.cs): the same result memoized per (index
        generation, query) in a contrib/Core SegmentCache — the weak
        outer key retires entries with their index generation."""
        return _SPAN_FILTER_CACHE.get(self.index, repr(ast.rewrite(q)),
                                      lambda: self.span_filter_result(q))

    def payloads_for_query(self, q: ast.Query) -> DataFrame:
        """PayloadSpanUtil.GetPayloadsForQuery (src/Lucene.Net/Search/
        Payloads/PayloadSpanUtil.cs:70-180): every payload at a position
        covered by one of the query's span matches.  The reference
        converts the query to spans (QueryToSpanQuery, :80-140 —
        ast.to_span_query here) and walks TermSpans collecting payload
        bytes; here the span frame and the decoded payload view join on
        (doc, position-inside-span) — one semi-join, positions only of
        the query's own leaf terms ever decode.  Returns
        (doc_id, payloads: array<float> in position order)."""
        sq = ast.to_span_query(ast.rewrite(q))
        spans = (self._live(self._spans(sq))
                 .select("doc_id", "s", "e"))
        leaves = ast.span_leaves(sq)
        pp = self.index.postings_payloads
        cond = None
        for t in {(le.field, le.term) for le in leaves}:
            c = (F.col("field") == t[0]) & (F.col("term") == t[1])
            cond = c if cond is None else (cond | c)
        if cond is None:
            # no convertible span leaves (e.g. all clauses prohibited):
            # the reference finds no spans -> no payloads
            return self.index.spark.createDataFrame(
                [], "doc_id long, payloads array<float>")
        rows = (pp.where(cond)
                .select("doc_id", F.explode(F.arrays_zip(
                    F.col("positions").alias("pos"),
                    F.col("payloads").alias("pay"))).alias("z"))
                .select("doc_id", F.col("z.pos").alias("pos"),
                        F.col("z.pay").alias("pay"))
                .where(F.col("pay").isNotNull()))
        inside = ((rows["doc_id"] == spans["doc_id"])
                  & (rows["pos"] >= spans["s"])
                  & (rows["pos"] < spans["e"]))
        hit = rows.join(spans, inside, "left_semi")
        return (hit.groupBy("doc_id")
                .agg(F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "pay"))),
                    lambda x: x["pay"]).alias("payloads")))

    def search_with_timeout(self, q: ast.Query, k: int = 10,
                            timeout_sec: float = 30.0) -> list:
        """TimeLimitingCollector analogue (src/Lucene.Net/Search/
        TimeLimitingCollector.cs): abort the search when the time budget
        expires.  Set-oriented equivalent: the collection runs as a Spark
        job group on a helper thread and is CANCELLED at the deadline
        (job groups are thread-local, so only this search's jobs die);
        like the reference's default (greedy=false) no partial result is
        returned — TimeExceededError is raised."""
        import threading
        import uuid

        group = f"tlc-{uuid.uuid4().hex[:8]}"
        sc = self.spark.sparkContext
        box: dict = {}

        def run():
            sc.setJobGroup(group, "time-limited search",
                           interruptOnCancel=True)
            try:
                box["rows"] = self.search(q, k).collect()
            except Exception as e:  # cancellation surfaces as a Py4J error
                box["err"] = e
            finally:
                sc.setJobGroup(None, None)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout_sec)
        if t.is_alive():
            sc.cancelJobGroup(group)
            t.join(30.0)
            raise TimeExceededError(
                f"search exceeded {timeout_sec}s (job group {group} "
                f"cancelled)")
        if "err" in box:
            raise box["err"]
        return box["rows"]

    def cached_filter(self, q: ast.Query) -> DataFrame:
        """CachingWrapperFilter analogue (src/Lucene.Net/Search/
        CachingWrapperFilter.cs): the filter's doc-id set is computed
        once per Searcher, cached (Spark block cache), and reused by
        every later query that wraps the same filter — keyed on the
        (frozen dataclass) query value."""
        key = q
        hit = self._filter_cache.get(key)
        if hit is None:
            hit = self.match_frame(ast.rewrite(q)).cache()
            self._filter_cache[key] = hit
        return hit

    def count(self, q: ast.Query) -> int:
        """totalHits analogue."""
        return self._live(self.score_frame(ast.rewrite(q))).count()

    def more_like_this(self, doc_id: int, max_terms: int = 5, k: int = 10,
                       field: str | None = None,
                       term_vectors: DataFrame | None = None) -> DataFrame:
        """MoreLikeThis (src/contrib/Queries/Similar/MoreLikeThis.cs):
        extract the source doc's top tf*idf terms, run them as a
        disjunctive BM25 query, exclude the source doc itself.
        Term selection: tf * idf desc, term asc, top max_terms.

        term_vectors: a (materialized) index.term_vectors() frame — the
        forward-index fast path: the source doc's terms come from ONE row
        lookup instead of a posting-table scan (which on the segmented
        path would decode every blob of the field)."""
        field = field or self.index.fields[0]
        n = self.index.n_docs
        if term_vectors is not None:
            doc_terms = (
                term_vectors
                .where((F.col("field") == field)
                       & (F.col("doc_id") == doc_id))
                .select(F.explode("vec").alias("tv"))
                .select(F.col("tv.term").alias("term"),
                        F.col("tv.tf").alias("tf"))
                .collect()
            )
        else:
            doc_terms = (
                self.index.postings_nopos
                .where((F.col("field") == field)
                       & (F.col("doc_id") == doc_id))
                .select("term", "tf").collect()
            )
        if not doc_terms:
            return self._empty_frame()
        dfs = self._term_df_map([(field, r["term"]) for r in doc_terms])
        ranked = sorted(
            ((r["tf"] * _idf(dfs[(field, r["term"])], n), r["term"])
             for r in doc_terms),
            key=lambda x: (-x[0], x[1]),
        )[:max_terms]
        q = ast.Bool(should=tuple(
            ast.Term(t, field=field) for _, t in ranked))
        hits = self.score_frame(ast.rewrite(q)).where(
            F.col("doc_id") != doc_id)
        s = bm25.rounded(F.col("score"))
        return (
            self._live(hits).select("doc_id", s.alias("score"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
        )

    def explain(self, q: ast.Query, doc_id: int) -> dict:
        """Explanation tree for one (query, doc) — the reference's
        Weight.Explain (src/Lucene.Net/Search/TermQuery.cs Explain,
        CheckHits.CheckExplanations tolerance discipline): a nested
        {value, description, details} whose root value equals the doc's
        search score (rounded to SCORE_DECIMALS)."""
        q = ast.rewrite(q)
        node = self._explain(q, doc_id)
        node["value"] = round(node["value"], bm25.SCORE_DECIMALS)
        return node

    def _explain(self, q: ast.Query, doc_id: int) -> dict:
        import math as _m

        def leaf(value, desc, details=()):
            return {"value": float(value), "description": desc,
                    "details": list(details)}

        if isinstance(q, ast.Term):
            row = (
                self.index.postings_nopos
                .where((F.col("field") == q.field)
                       & (F.col("term") == q.term)
                       & (F.col("doc_id") == doc_id))
                .collect()
            )
            if not row:
                return leaf(0.0, f"no match on term {q.field}:{q.term}")
            tf, dl = int(row[0]["tf"]), int(row[0]["dl"])
            df = self._term_df_map([(q.field, q.term)])[(q.field, q.term)]
            n, avgdl = self.index.n_docs, self.index.avgdl
            from ..functions.similarity import ClassicSimilarity
            if isinstance(self.sim, ClassicSimilarity):
                # DefaultSimilarity explanation tree (TermQuery.cs
                # Explain :160-220): score = queryWeight * fieldWeight
                # with queryWeight = idf * boost (queryNorm omitted, a
                # per-query constant) and fieldWeight = tf * idf * norm
                idf = self.sim.idf(df, n)
                tfv = _m.sqrt(tf)
                norm = 1.0 / _m.sqrt(dl)
                return leaf(
                    q.boost * idf * idf * tfv * norm,
                    f"weight({q.field}:{q.term} in {doc_id}) [Classic], "
                    f"product of:",
                    [leaf(q.boost * idf, "queryWeight, product of:",
                          [leaf(q.boost, "boost"),
                           leaf(idf, f"idf(docFreq={df}, maxDocs={n})")]),
                     leaf(tfv * idf * norm, "fieldWeight, product of:",
                          [leaf(tfv, f"tf(termFreq={tf})=sqrt(freq)"),
                           leaf(idf, f"idf(docFreq={df}, maxDocs={n})"),
                           leaf(norm, f"fieldNorm(dl={dl})=1/sqrt(dl)")])])
            idf = _m.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tfn = tf * (bm25.K1 + 1.0) / (
                tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / avgdl))
            return leaf(
                q.boost * idf * tfn,
                f"weight({q.field}:{q.term} in {doc_id}) [BM25]",
                [leaf(q.boost, "boost"),
                 leaf(idf, f"idf(df={df}, N={n})"),
                 leaf(tfn, f"tfNorm(tf={tf}, dl={dl}, avgdl={avgdl:.3f})")])
        if isinstance(q, ast.Bool):
            # one _explain per clause (memo — each clause's tree may cost
            # a Spark job; CheckIndex.cs-style debug API, but no need to
            # pay twice)
            sub = {c: self._explain(c, doc_id) for c in q.must + q.should}
            details = list(sub.values())
            total = sum(e["value"] for e in sub.values())
            for c in q.must:
                if sub[c]["value"] == 0.0:
                    return leaf(0.0, "failure to match required clause",
                                details)
            matched_should = sum(
                1 for c in q.should if sub[c]["value"] > 0.0)
            msm = q.min_should_match
            if q.should and not q.must and msm < 1:
                msm = 1
            if matched_should < msm:
                return leaf(0.0, f"minShouldMatch {msm} not met", details)
            for c in q.must_not:
                if self._explain(c, doc_id)["value"] != 0.0:
                    return leaf(0.0, "match on prohibited clause", details)
            return leaf(total * q.boost, "sum of clauses", details)
        if isinstance(q, ast.DisMax):
            subs = [self._explain(c, doc_id) for c in q.queries]
            vals = [e["value"] for e in subs if e["value"] > 0.0]
            if not vals:
                return leaf(0.0, "no matching clause", subs)
            v = (max(vals) + q.tie * (sum(vals) - max(vals))) * q.boost
            return leaf(v, f"max plus {q.tie} times others", subs)
        if isinstance(q, ast.MatchAll):
            return leaf(q.boost, "MatchAllDocsQuery")
        # generic fallback: pull the doc's score from the lowered frame
        row = (
            self.score_frame(q).where(F.col("doc_id") == doc_id).collect())
        v = float(row[0]["score"]) if row else 0.0
        return leaf(v, f"{type(q).__name__} (score via plan)")

    def facet_counts(self, q: ast.Query, facet_col: str) -> DataFrame:
        """SimpleFacetedSearch analogue: facet counts over matching docs
        (src/contrib/SimpleFacetedSearch/SimpleFacetedSearch.cs)."""
        hits = self._live(self.score_frame(ast.rewrite(q))).select("doc_id")
        stored = self.index.stored
        return (
            stored.join(hits, stored[self.index.id_col] == hits["doc_id"], "left_semi")
            .groupBy(facet_col)
            .agg(F.count("*").alias("facet_count"))
        )

    def search_sorted(self, q: ast.Query, sort_exprs: list, k: int = 10) -> DataFrame:
        """TopFieldCollector analogue: sort hits by stored-field expressions
        (src/Lucene.Net/Search/TopFieldCollector.cs)."""
        hits = self._live(self.score_frame(ast.rewrite(q))).select("doc_id")
        stored = self.index.stored
        joined = stored.join(
            hits, stored[self.index.id_col] == hits["doc_id"], "left_semi"
        )
        return joined.orderBy(*sort_exprs).limit(k)

    # ------------------------------------------------------- frame builders

    def score_frame(self, q: ast.Query) -> DataFrame:
        """(doc_id, score) for every matching doc."""
        if isinstance(q, ast.Term):
            return self._term_frame(q)
        if isinstance(q, ast.Bool):
            return self._bool_frame(q)
        if isinstance(q, ast.Phrase):
            return self._phrase_frame(q)
        if isinstance(q, ast.MultiPhrase):
            return self._multiphrase_frame(q)
        if isinstance(q, ast.NumericRange):
            return self._numeric_range_frame(q)
        if isinstance(q, ast.Boosting):
            return self._boosting_frame(q)
        if isinstance(q, ast.DedupByKey):
            return self._dedup_frame(q)
        if isinstance(q, ast.DisMax):
            return self._dismax_frame(q)
        if isinstance(q, ast.MatchAll):
            return self._matchall_frame(q)
        if isinstance(q, ast.ConstantScore):
            return self._constant_frame(q.query, q.boost)
        if isinstance(q, ast.Filtered):
            return self._filtered_frame(q)
        if isinstance(q, (ast.Prefix, ast.Wildcard, ast.TermRange, ast.Regex)):
            return self._constant_frame(q, q.boost)
        if isinstance(q, ast.Fuzzy):
            return self._fuzzy_frame(q)
        if isinstance(q, ast.FieldScore):
            return self._field_score_frame(q)
        if isinstance(q, ast.OrdFieldScore):
            return self._ord_score_frame(q)
        if isinstance(q, ast.CustomScore):
            return self._custom_score_frame(q)
        if isinstance(q, ast.SPAN_NODES):
            return self._span_score_frame(q)
        if isinstance(q, ast.PayloadTerm):
            return self._payload_term_frame(q)
        if isinstance(q, ast.PayloadNear):
            return self._payload_near_frame(q)
        if isinstance(q, ast.BooleanFilter):
            return self._constant_frame(q, q.boost)
        raise NotImplementedError(type(q).__name__)

    def match_frame(self, q: ast.Query) -> DataFrame:
        """doc_id set only (Filter/DocIdSet analogue) — skips scoring where
        the plan allows (constant-score semi-joins)."""
        if isinstance(q, (ast.Prefix, ast.Wildcard, ast.TermRange, ast.Regex)):
            return self._expand_match_ids(q)
        if isinstance(q, ast.BooleanFilter):
            return self._boolean_filter_ids(q)
        if isinstance(q, ast.ChainedFilter):
            return self._chained_filter_ids(q)
        return self.score_frame(q).select("doc_id")

    def _chained_filter_ids(self, q: "ast.ChainedFilter") -> DataFrame:
        """ChainedFilter.GetDocIdSet as DataFrame set algebra (see
        ast.ChainedFilter).  Each step is one semi/anti join or
        union-distinct on doc_id; XOR = (a ∪ b) − (a ∩ b).  The ANDNOT
        seed complements over the stored-doc universe (the MaxDoc bitset
        flip, ChainedFilter.cs:137-140)."""
        ops = q.resolved_ops()
        sets = [self.match_frame(f).select("doc_id").distinct()
                for f in q.filters]
        if ops[0] == "ANDNOT":
            universe = self.index.stored.select(
                F.col(self.index.id_col).alias("doc_id"))
            result = universe.join(sets[0], "doc_id", "left_anti")
        else:  # AND seeds with the set itself; OR/XOR fold from empty
            result = sets[0]
        for s, op in zip(sets[1:], ops[1:]):
            if op == "OR":
                result = result.unionByName(s).distinct()
            elif op == "AND":
                result = result.join(s, "doc_id", "left_semi")
            elif op == "ANDNOT":
                result = result.join(s, "doc_id", "left_anti")
            else:  # XOR: symmetric difference
                both = result.join(s, "doc_id", "left_semi")
                result = (result.unionByName(s).distinct()
                          .join(both, "doc_id", "left_anti"))
        return result

    # ---- leaves

    def _term_df_map(self, pairs: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """Collect global df for the query terms (one tiny job; the
        CachedDfSource analogue, MultiSearcher.cs:87-118). Delegated to the
        index so the segmented path answers from term-dictionary metadata
        without decoding blobs."""
        return self.index.term_dfs(pairs)

    def _term_frame(self, q: ast.Term) -> DataFrame:
        """TermScorer: postings filter + global df folded in-plan via a
        broadcast join on the term dictionary — NO driver round-trip per
        clause (a collected-df design costs one Spark job per query term;
        the broadcast subquery rides inside the search job). An absent
        term joins to nothing, which IS the empty result."""
        stats = (
            self.index.term_stats()
            .where((F.col("field") == q.field) & (F.col("term") == q.term))
            .select("field", "term", "df")
        )
        p = self.index.postings_nopos.where(
            (F.col("field") == q.field) & (F.col("term") == q.term)
        ).join(F.broadcast(stats), ["field", "term"])
        score = self.sim.term_score(
            F.col("tf"), F.col("dl"), F.col("df"),
            self.index.n_docs, self.index.avgdl, q.boost,
        )
        return p.select(F.col("doc_id"), score.alias("score"))

    def _matchall_frame(self, q: ast.MatchAll) -> DataFrame:
        stored = self.index.stored
        if stored is not None:
            ids = stored.select(F.col(self.index.id_col).alias("doc_id"))
        else:
            ids = self.index.postings_nopos.select("doc_id").distinct()
        return ids.select("doc_id", F.lit(float(q.boost)).alias("score"))

    # ---- boolean composition: ONE union + ONE groupBy(doc_id)

    def _bool_frame(self, q: ast.Bool) -> DataFrame:
        tagged = []
        for c in q.must:
            tagged.append(
                self.score_frame(c).select(
                    "doc_id", "score",
                    F.lit(1).alias("m"), F.lit(0).alias("s"),
                )
            )
        for c in q.should:
            tagged.append(
                self.score_frame(c).select(
                    "doc_id", "score",
                    F.lit(0).alias("m"), F.lit(1).alias("s"),
                )
            )
        if not tagged:
            return self._empty_frame()
        u = tagged[0]
        for t in tagged[1:]:
            u = u.unionByName(t)
        g = u.groupBy("doc_id").agg(
            F.sum("score").alias("score"),
            F.sum("m").alias("n_must"),
            F.sum("s").alias("n_should"),
        )
        if q.must:
            g = g.where(F.col("n_must") == len(q.must))
        msm = q.min_should_match
        if q.should and not q.must and msm < 1:
            msm = 1  # pure-disjunction: at least one SHOULD must match
        if msm > 0:
            g = g.where(F.col("n_should") >= msm)
        out = g.select("doc_id", (F.col("score") * F.lit(float(q.boost))).alias("score"))
        for c in q.must_not:
            out = out.join(
                self.match_frame(c).select("doc_id"), "doc_id", "left_anti"
            )
        return out

    def _dismax_frame(self, q: ast.DisMax) -> DataFrame:
        frames = [self.score_frame(c).select("doc_id", "score") for c in q.queries]
        if not frames:
            return self._empty_frame()
        u = frames[0]
        for t in frames[1:]:
            u = u.unionByName(t)
        g = u.groupBy("doc_id").agg(
            F.max("score").alias("mx"), F.sum("score").alias("sm")
        )
        score = (F.col("mx") + F.lit(float(q.tie)) * (F.col("sm") - F.col("mx"))) * F.lit(
            float(q.boost)
        )
        return g.select("doc_id", score.alias("score"))

    # ---- phrase

    def _query_stats(self, offdf: DataFrame, field: str,
                     terms: set[str]) -> DataFrame:
        """One-row broadcastable frame (idf_sum, n_present) for a query's
        (field, term, qoff) rows — the CachedDfSource lookup folded
        IN-PLAN: no driver round-trip per query (the stats subquery rides
        inside the search job; MultiSearcher.cs:87-118 semantics, df from
        the term-dictionary metadata only)."""
        fields = (sorted(field) if isinstance(field, (set, frozenset))
                  else [field])  # span leaves may mix fields (FieldMasking)
        stats = (self.index.term_stats()
                 .where(F.col("field").isin(fields)
                        & F.col("term").isin(sorted(terms)))
                 .select("field", "term", "df"))
        return (offdf.join(stats, ["field", "term"])
                .agg(F.sum(self.sim.idf_col(F.col("df"),
                                            self.index.n_docs))
                     .alias("idf_sum"),
                     F.countDistinct("qoff").alias("n_present")))

    def _phrase_frame(self, q: ast.Phrase) -> DataFrame:
        offsets = q.resolved_offsets()
        pairs = [(q.field, t, int(o)) for t, o in zip(q.terms, offsets)]

        offdf = self.spark.createDataFrame(
            pairs, "field string, term string, qoff int"
        )
        qstats = self._query_stats(offdf, q.field, {t for _, t, _ in pairs})
        # Static (field, term IN ...) predicate FIRST so Catalyst pushes it
        # below the segmented view's decode UDF + explode (term-dictionary
        # seek: only the query terms' blobs decompress); the broadcast join
        # then only attaches qoff to the already-tiny frame. A bare join
        # would evaluate after a full-index decode.
        p = (
            self.index.postings
            .where((F.col("field") == q.field)
                   & F.col("term").isin(sorted({t for _, t, _ in pairs})))
            .join(F.broadcast(offdf), ["field", "term"])
        )
        per_doc = (
            p.groupBy("doc_id", "dl")
            .agg(
                F.countDistinct("qoff").alias("n_off"),
                F.collect_list(F.struct("qoff", "positions")).alias("plists"),
            )
            .where(F.col("n_off") == len(pairs))
        )
        # sort struct list by qoff, shift each positions list by its offset
        shifted = F.transform(
            F.sort_array(F.col("plists")),
            lambda s: F.transform(s["positions"], lambda x: x - s["qoff"]),
        )
        if q.slop == 0:
            inter = F.aggregate(
                F.slice(shifted, 2, len(pairs) - 1) if len(pairs) > 1 else F.array(),
                F.element_at(shifted, 1),
                lambda acc, xs: F.array_intersect(acc, xs),
            )
            freq = F.size(inter).cast("double")
        elif q.slop_spec == "lucene":
            # reference semantics: the greedy minimal-window walk of
            # SloppyPhraseScorer.cs:56-96 (repeats included) — a stateful
            # priority-queue traversal no declarative fold expresses, so
            # it runs as an Arrow-batched kernel over the per-doc
            # position lists.  Only docs containing ALL query terms reach
            # this point (n_off gate above), so the Python cost is
            # per-candidate, not per-corpus-row.
            from ..functions.sloppy import lucene_sloppy_freq

            slop = int(q.slop)

            @F.pandas_udf("double")
            def _lucene_freq(pl: pd.Series) -> pd.Series:
                vals = []
                for entries in pl:
                    plists = [[int(x) for x in e["positions"]]
                              for e in entries]
                    offs = [int(e["qoff"]) for e in entries]
                    vals.append(lucene_sloppy_freq(plists, offs, slop))
                return pd.Series(vals, dtype="float64")

            freq = _lucene_freq(F.sort_array(F.col("plists")))
        else:
            # slop_spec="all_tuples": every tuple of shifted positions
            # (one per query position) with spread d = max - min <= slop
            # contributes sloppyFreq(d) = 1/(1+d)
            # (src/Lucene.Net/Search/DefaultSimilarity.cs:71).  This is
            # the SQL-expressible superset of the reference walk (see
            # ast.Phrase.slop_spec); the contract entries use it so their
            # DuckDB oracles stay exact.  Lowered as NESTED higher-order
            # folds over the n position arrays — tuple enumeration happens
            # inside one JVM expression per doc row, no extra join or
            # explode (tuple count = Π tf_i, query-term-bounded).
            arrays = [F.element_at(shifted, i + 1)
                      for i in range(len(pairs))]

            def fold(i, mn, mx):
                if i == len(arrays):
                    d = (mx - mn).cast("double")
                    return F.when(mx - mn <= q.slop,
                                  1.0 / (1.0 + d)).otherwise(0.0)
                return F.aggregate(
                    arrays[i], F.lit(0.0),
                    lambda acc, p: acc + fold(i + 1, F.least(mn, p),
                                              F.greatest(mx, p)))

            freq = F.aggregate(
                arrays[0], F.lit(0.0),
                lambda acc, p: acc + fold(1, p, p))
        scored = per_doc.crossJoin(F.broadcast(qstats)).select(
            "doc_id",
            self.sim.freq_score(freq, F.col("dl"), F.col("idf_sum"),
                                self.index.avgdl, q.boost).alias("score"),
            freq.alias("freq"),
            "n_present",
        ).where((F.col("freq") > 0)
                & (F.col("n_present") == len(offsets)))
        return scored.select("doc_id", "score")

    def _multiphrase_frame(self, q: ast.MultiPhrase) -> DataFrame:
        """MultiPhraseQuery (src/Lucene.Net/Search/MultiPhraseQuery.cs):
        per query position, the UNION of the alternatives' position lists
        stands in for a single term's positions; alignment then proceeds
        exactly like the exact-phrase intersection. idf sums over every
        alternative term (MultiPhraseWeight)."""
        offsets = q.resolved_offsets()
        pairs = [(q.field, t, int(o))
                 for alts, o in zip(q.terms_at, offsets) for t in alts]

        offdf = self.spark.createDataFrame(
            pairs, "field string, term string, qoff int")
        # idf sums over the PRESENT alternative terms; n_present counts
        # positions with >=1 present alternative (MultiPhraseWeight) —
        # in-plan, no driver round-trip
        qstats = self._query_stats(offdf, q.field, {t for _, t, _ in pairs})
        p = (
            self.index.postings
            .where((F.col("field") == q.field)
                   & F.col("term").isin(sorted({t for _, t, _ in pairs})))
            .join(F.broadcast(offdf), ["field", "term"])
        )
        # union the alternatives' positions per (doc, qoff) first
        per_off = (
            p.groupBy("doc_id", "dl", "qoff")
            .agg(F.array_sort(F.array_distinct(F.flatten(
                F.collect_list("positions")))).alias("positions"))
        )
        per_doc = (
            per_off.groupBy("doc_id", "dl")
            .agg(F.count("*").alias("n_off"),
                 F.collect_list(F.struct("qoff", "positions")).alias("plists"))
            .where(F.col("n_off") == len(offsets))
        )
        shifted = F.transform(
            F.sort_array(F.col("plists")),
            lambda s: F.transform(s["positions"], lambda x: x - s["qoff"]),
        )
        inter = F.aggregate(
            F.slice(shifted, 2, len(offsets) - 1) if len(offsets) > 1
            else F.array(),
            F.element_at(shifted, 1),
            lambda acc, xs: F.array_intersect(acc, xs),
        )
        freq = F.size(inter).cast("double")
        scored = per_doc.crossJoin(F.broadcast(qstats)).select(
            "doc_id",
            self.sim.freq_score(freq, F.col("dl"), F.col("idf_sum"),
                                self.index.avgdl, q.boost).alias("score"),
            freq.alias("freq"),
            "n_present",
        ).where((F.col("freq") > 0)
                & (F.col("n_present") == len(offsets)))
        return scored.select("doc_id", "score")

    def _numeric_range_frame(self, q: ast.NumericRange) -> DataFrame:
        """Native BETWEEN on the stored column (NumericRangeQuery ->
        Catalyst predicate pushdown; no trie terms needed, SURVEY §2.6).
        Constant score, like the reference's CONSTANT_SCORE_FILTER mode."""
        stored = self.index.stored
        c = F.col(q.column)
        pred = F.lit(True)
        if q.lower is not None:
            pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
        if q.upper is not None:
            pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
        return stored.where(pred).select(
            F.col(self.index.id_col).alias("doc_id"),
            F.lit(float(q.boost)).alias("score"))

    def _boosting_frame(self, q: ast.Boosting) -> DataFrame:
        """contrib BoostingQuery: demote (or promote) docs matching the
        context query; the context never contributes score of its own."""
        m = self.score_frame(q.match)
        ctx = self.match_frame(q.context).select(
            "doc_id", F.lit(True).alias("_ctx"))
        joined = m.join(ctx, "doc_id", "left")
        factor = F.when(F.col("_ctx"), float(q.context_boost)).otherwise(1.0)
        return joined.select(
            "doc_id",
            (F.col("score") * factor * F.lit(float(q.boost))).alias("score"))

    def _dedup_frame(self, q: ast.DedupByKey) -> DataFrame:
        """contrib DuplicateFilter: one doc per key among the matches —
        lowest doc_id wins (KM_USE_FIRST_OCCURRENCE)."""
        from pyspark.sql import Window
        hits = self.score_frame(q.query)
        stored = self.index.stored
        keyed = hits.join(
            stored.select(F.col(self.index.id_col).alias("doc_id"),
                          F.col(q.key_col).alias("_key")),
            "doc_id")
        w = Window.partitionBy("_key").orderBy(F.col("doc_id").asc())
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id",
                    (F.col("score") * F.lit(float(q.boost))).alias("score"))
        )

    # ---- multi-term expansion

    def _term_predicate(self, q: ast.Query):
        t = F.col("term")
        if isinstance(q, ast.Prefix):
            return t.startswith(q.prefix)
        if isinstance(q, ast.Wildcard):
            return t.rlike(wildcard_to_regex(q.pattern))
        if isinstance(q, ast.Regex):
            return t.rlike(q.pattern)
        if isinstance(q, ast.TermRange):
            lo, hi = q.lower, q.upper
            if q.collation == "folded":
                # collated compare (TermRangeTermEnum.cs:35-41): both the
                # dictionary term and the bounds map through the collation
                # key — still one JVM predicate on the term dictionary
                from ..analysis.folding import fold_ascii_col, fold_ascii_py
                t = F.lower(fold_ascii_col(t))
                lo = fold_ascii_py(lo).lower() if lo is not None else None
                hi = fold_ascii_py(hi).lower() if hi is not None else None
            elif q.collation is not None:
                raise NotImplementedError(
                    f"collation {q.collation!r} (supported: 'folded')")
            conds = []
            if lo is not None:
                conds.append(t >= lo if q.include_lower else t > lo)
            if hi is not None:
                conds.append(t <= hi if q.include_upper else t < hi)
            pred = F.lit(True)
            for c in conds:
                pred = pred & c
            return pred
        raise NotImplementedError(type(q).__name__)

    def _expand_match_ids(self, q: ast.Query) -> DataFrame:
        """CONSTANT_SCORE_FILTER rewrite: no term enumeration, direct
        predicate on the postings term column -> distinct doc set."""
        return (
            self.index.postings_nopos.where(
                (F.col("field") == q.field) & self._term_predicate(q)
            )
            .select("doc_id")
            .distinct()
        )

    def _constant_frame(self, q: ast.Query, boost: float) -> DataFrame:
        ids = self.match_frame(q)
        return ids.select("doc_id", F.lit(float(boost)).alias("score"))

    def _fuzzy_frame(self, q: ast.Fuzzy) -> DataFrame:
        """SCORING_BOOLEAN rewrite, fully in-plan: the candidate
        (field, term, df, tboost) frame — term-dictionary scan, Levenshtein
        predicate, top-1024 by (sim desc, term asc) — broadcast-joins the
        postings ONCE, with the similarity boost riding as a column.  No
        driver collect, no per-term plan fan-out; on the segmented path
        the join lands below the decode UDF so only candidate blobs
        decompress (FuzzyTermEnum.cs:135-183 semantics, MultiTermQuery
        SCORING_BOOLEAN rewrite at plan scale)."""
        t = F.col("term")
        cand = self.index.term_stats().where(F.col("field") == q.field)
        if q.prefix_length > 0:
            cand = cand.where(t.startswith(q.term[: q.prefix_length]))
        sim = 1.0 - F.levenshtein(t, F.lit(q.term)).cast("double") / F.least(
            F.length(t), F.lit(len(q.term))
        ).cast("double")
        tboost = (
            (F.col("sim") - q.min_similarity) / (1.0 - q.min_similarity)
        ) * F.lit(float(q.boost))
        cand = (
            cand.select("field", "term", "df", sim.alias("sim"))
            .where(F.col("sim") >= q.min_similarity)
            .orderBy(F.col("sim").desc(), F.col("term").asc())
            .limit(ast.MAX_CLAUSE_COUNT)  # FuzzyQuery top-1024 expansion
            .select("field", "term", "df", tboost.alias("tboost"))
        )
        p = self.index.postings_for_terms(cand)
        score = self.sim.term_score(
            F.col("tf"), F.col("dl"), F.col("df"),
            self.index.n_docs, self.index.avgdl, F.col("tboost"),
        )
        return (
            p.select("doc_id", score.alias("score"))
            .groupBy("doc_id").agg(F.sum("score").alias("score"))
        )

    # ---- span queries (SURVEY §2.4, src/Lucene.Net/Search/Spans/)

    def _spans(self, q: ast.Query) -> DataFrame:
        """(doc_id, dl, s, e) span rows for a span query tree.  SpanTerm
        leaves carry a static (field, term) predicate, so on the segmented
        path only the leaf terms' position blobs decompress; composites
        are joins/unions over those already-tiny frames."""
        if isinstance(q, ast.SpanTerm):
            p = self.index.postings.where(
                (F.col("field") == q.field) & (F.col("term") == q.term))
            return (p.select("doc_id", "dl",
                             F.explode("positions").alias("s"))
                    .withColumn("e", F.col("s") + F.lit(1)))
        if isinstance(q, ast.SpanOr):
            if not q.clauses:
                # a Bool of only prohibited/unconvertible clauses converts
                # to SpanOr(()) — the reference simply finds no spans
                # (PayloadSpanUtil.cs drops prohibited clauses)
                return self.index.spark.createDataFrame(
                    [], "doc_id long, dl int, s int, e int")
            frames = [self._spans(c) for c in q.clauses]
            u = frames[0]
            for fr in frames[1:]:
                u = u.unionByName(fr)
            return u.distinct()
        if isinstance(q, ast.SpanFirst):
            return self._spans(q.match).where(F.col("e") <= q.end)
        if isinstance(q, ast.FieldMaskingSpan):
            # positions pass through; only the advertised field changes,
            # which matters to the CALLER composing across parallel fields
            return self._spans(q.inner)
        if isinstance(q, ast.SpanNot):
            inc = self._spans(q.include)
            exc = self._spans(q.exclude).select(
                F.col("doc_id").alias("xdoc"), F.col("s").alias("xs"),
                F.col("e").alias("xe"))
            overlap = ((inc["doc_id"] == exc["xdoc"])
                       & (inc["s"] < exc["xe"]) & (inc["e"] > exc["xs"]))
            return inc.join(exc, overlap, "left_anti")
        if isinstance(q, ast.SpanNear):
            if q.in_order and getattr(q, "spec", "lucene") == "lucene":
                return self._span_near_walk(q)
            n = len(q.clauses)
            frames = []
            for i, c in enumerate(q.clauses):
                fr = self._spans(c).select(
                    "doc_id", *(["dl"] if i == 0 else []),
                    F.col("s").alias(f"s{i}"), F.col("e").alias(f"e{i}"))
                frames.append(fr)
            j = frames[0]
            for i in range(1, n):
                j = j.join(frames[i], "doc_id")
                if q.in_order:
                    # strictly ordered, non-overlapping (NearSpansOrdered)
                    j = j.where(F.col(f"s{i}") >= F.col(f"e{i - 1}"))
            if not q.in_order:
                for i in range(n):
                    for m in range(i + 1, n):
                        j = j.where((F.col(f"e{i}") <= F.col(f"s{m}"))
                                    | (F.col(f"e{m}") <= F.col(f"s{i}")))
            start = F.least(*[F.col(f"s{i}") for i in range(n)])
            end = F.greatest(*[F.col(f"e{i}") for i in range(n)])
            widths = sum((F.col(f"e{i}") - F.col(f"s{i}")) for i in range(n))
            slack = (end - start) - widths
            return (j.where(slack <= q.slop)
                    .select("doc_id", "dl", start.alias("s"),
                            end.alias("e"))
                    .distinct())
        raise NotImplementedError(type(q).__name__)

    def _span_near_walk(self, q: "ast.SpanNear") -> DataFrame:
        """NearSpansOrdered enumeration (NearSpansOrdered.cs) — the
        reference semantics for ordered spans.  Clause span frames union
        with a clause index, group per doc (shuffle bounded by the query
        terms' postings, never the corpus), and an Arrow-batched UDF runs
        the stretch/shrink walk per doc (functions/spanwalk.py);
        cross-checked against an independent bisect re-derivation
        (oracle/pybm25.ordered_spans_ref, tests/test_spanwalk.py)."""
        from ..functions.spanwalk import ordered_spans
        n = len(q.clauses)
        slop = int(q.slop)
        frames = []
        for i, c in enumerate(q.clauses):
            frames.append(self._spans(c).select(
                "doc_id", *(["dl"] if i == 0 else []),
                F.lit(i).alias("ci"), "s", "e"))
        dl_map = frames[0].select("doc_id", "dl").distinct()
        u = frames[0].drop("dl")
        for fr in frames[1:]:
            u = u.unionByName(fr)

        @F.pandas_udf(T.ArrayType(T.StructType([
            T.StructField("s", T.IntegerType()),
            T.StructField("e", T.IntegerType())])))
        def walk(col: pd.Series) -> pd.Series:
            out = []
            for rows in col:
                per = [[] for _ in range(n)]
                for r in rows:
                    per[int(r["ci"])].append((int(r["s"]), int(r["e"])))
                for lst in per:
                    lst.sort()
                out.append([{"s": s, "e": e}
                            for s, e, _ in ordered_spans(per, slop)])
            return pd.Series(out)

        grouped = (u.groupBy("doc_id")
                   .agg(F.collect_list(F.struct("ci", "s", "e")).alias("sp"),
                        F.count_distinct("ci").alias("nc"))
                   .where(F.col("nc") == n))
        matches = (grouped.select("doc_id",
                                  F.explode(walk(F.col("sp"))).alias("m"))
                   .select("doc_id", F.col("m.s").alias("s"),
                           F.col("m.e").alias("e")))
        return matches.join(dl_map, "doc_id")

    def _span_score_frame(self, q: ast.Query) -> DataFrame:
        """SpanScorer analogue: freq(doc) = Σ_spans 1/(1 + (e - s))
        (sloppyFreq of the span width, SpanScorer.cs SetFreqCurrentDoc);
        idf sums over the leaf terms (SpanWeight.ExtractTerms)."""
        leaves = ast.span_leaves(q)
        leafdf = self.spark.createDataFrame(
            [(t.field, t.term, i) for i, t in enumerate(leaves)],
            "field string, term string, qoff int")
        qstats = self._query_stats(leafdf, {t.field for t in leaves},
                                   {t.term for t in leaves})
        spans = self._spans(q)
        contrib = 1.0 / (1.0 + (F.col("e") - F.col("s")).cast("double"))
        per_doc = (spans.groupBy("doc_id", "dl")
                   .agg(F.sum(contrib).alias("freq")))
        score = self.sim.freq_score(F.col("freq"), F.col("dl"),
                                    F.col("idf_sum"), self.index.avgdl,
                                    q.boost)
        return (per_doc.crossJoin(F.broadcast(qstats))
                .select("doc_id", score.alias("score")))

    # ---- payload queries (SURVEY §2.4, Search/Payloads/)

    @staticmethod
    def _payload_doc_score(fn: str, pay_sum, pay_min, pay_max, pay_cnt):
        """PayloadFunction.DocScore (Search/Payloads/{Average,Min,Max}
        PayloadFunction.cs): aggregate over every payload seen in the doc;
        1.0 when none were seen (all three concrete functions guard on
        numPayloadsSeen > 0)."""
        agg = {"avg": pay_sum / pay_cnt, "min": pay_min,
               "max": pay_max}[fn]
        return F.when(pay_cnt > 0, agg).otherwise(F.lit(1.0))

    def _payload_postings(self, field: str, term: str) -> DataFrame:
        return self.index.postings_payloads.where(
            (F.col("field") == field) & (F.col("term") == term))

    def _payload_term_frame(self, q: ast.PayloadTerm) -> DataFrame:
        """PayloadTermQuery (PayloadTermQuery.cs:124-199): span-term freq
        (each occurrence is a width-1 span -> sloppyFreq contribution
        1/(1+1) per the engine's span convention, _span_score_frame) times
        the PayloadFunction aggregate of the occurrences' payloads."""
        stats = (self.index.term_stats()
                 .where((F.col("field") == q.field)
                        & (F.col("term") == q.term))
                 .select("field", "term", "df"))
        p = (self._payload_postings(q.field, q.term)
             .join(F.broadcast(stats), ["field", "term"]))
        pays = F.col("payloads")
        has = pays.isNotNull() & (F.size(pays) > 0)
        pay_cnt = F.when(has, F.size(pays)).otherwise(F.lit(0))
        pay_sum = F.when(has, F.aggregate(
            pays, F.lit(0.0), lambda a, x: a + x.cast("double"))
        ).otherwise(F.lit(0.0))
        pay_score = self._payload_doc_score(
            q.fn, pay_sum, F.array_min(pays).cast("double"),
            F.array_max(pays).cast("double"), pay_cnt)
        span_score = self.sim.freq_score(
            F.col("tf").cast("double") * F.lit(0.5), F.col("dl"),
            self.sim.idf_col(F.col("df"), self.index.n_docs),
            self.index.avgdl, q.boost)
        score = (span_score * pay_score if q.include_span_score
                 else pay_score * F.lit(float(q.boost)))
        return p.select("doc_id", score.alias("score"))

    def _payload_near_frame(self, q: ast.PayloadNear) -> DataFrame:
        """PayloadNearQuery (PayloadNearQuery.cs:38-52, scorer at
        :200-261): SpanNear over term leaves; every matching span feeds
        its leaf payloads to the PayloadFunction; score = span score x
        payload DocScore.  spec="lucene" sources matches from the
        NearSpansOrdered walk (payloads at each match's chosen positions,
        ShrinkToAfterShortestMatch :329-405); spec="all_tuples" enumerates
        every clause-position combination meeting order+slop, mirrored
        exactly by the DuckDB oracle."""
        if q.in_order and q.spec == "lucene":
            return self._payload_near_walk(q)
        n = len(q.terms)
        frames = []
        for i, t in enumerate(q.terms):
            zp = F.explode(F.arrays_zip(
                F.col("positions").alias("pos"),
                F.col("payloads").alias("pay"))).alias("_z")
            fr = (self._payload_postings(q.field, t)
                  .select("doc_id", *(["dl"] if i == 0 else []), zp)
                  .select("doc_id", *(["dl"] if i == 0 else []),
                          F.col("_z.pos").alias(f"s{i}"),
                          F.col("_z.pay").cast("double").alias(f"p{i}")))
            frames.append(fr)
        j = frames[0]
        for i in range(1, n):
            j = j.join(frames[i], "doc_id")
            if q.in_order:
                j = j.where(F.col(f"s{i}") >= F.col(f"s{i - 1}") + 1)
        if not q.in_order:
            for i in range(n):
                for m in range(i + 1, n):
                    j = j.where(F.col(f"s{i}") != F.col(f"s{m}"))
        scols = [F.col(f"s{i}") for i in range(n)]
        start = F.least(*scols) if n > 1 else scols[0]
        end = (F.greatest(*scols) if n > 1 else scols[0]) + F.lit(1)
        j = j.where((end - start) - F.lit(n) <= q.slop)
        contrib = F.lit(1.0) / (F.lit(1.0) + (end - start).cast("double"))
        pay_row = sum(F.col(f"p{i}") for i in range(n))
        mins = [F.min(f"p{i}") for i in range(n)]
        maxs = [F.max(f"p{i}") for i in range(n)]
        per_doc = (j.groupBy("doc_id", "dl").agg(
            F.sum(contrib).alias("freq"),
            F.sum(pay_row).alias("pay_sum"),
            (F.least(*mins) if n > 1 else mins[0]).alias("pay_min"),
            (F.greatest(*maxs) if n > 1 else maxs[0]).alias("pay_max"),
            (F.count(F.lit(1)) * n).alias("pay_cnt")))
        leafdf = self.spark.createDataFrame(
            [(q.field, t, i) for i, t in enumerate(q.terms)],
            "field string, term string, qoff int")
        qstats = self._query_stats(leafdf, q.field, set(q.terms))
        pay_score = self._payload_doc_score(
            q.fn, F.col("pay_sum"), F.col("pay_min"), F.col("pay_max"),
            F.col("pay_cnt"))
        span_score = self.sim.freq_score(
            F.col("freq"), F.col("dl"), F.col("idf_sum"),
            self.index.avgdl, q.boost)
        score = (span_score * pay_score if q.include_span_score
                 else pay_score * F.lit(float(q.boost)))
        return (per_doc.crossJoin(F.broadcast(qstats))
                .select("doc_id", score.alias("score")))

    def _payload_near_walk(self, q: ast.PayloadNear) -> DataFrame:
        """NearSpansOrdered-sourced PayloadNear: per doc, run the walk
        over the clause position lists and collect each match's chosen
        positions' payloads (the PayloadNearSpanScorer path)."""
        from ..functions.spanwalk import ordered_spans
        n = len(q.terms)
        slop = int(q.slop)
        frames = []
        for i, t in enumerate(q.terms):
            zp = F.explode(F.arrays_zip(
                F.col("positions").alias("pos"),
                F.col("payloads").alias("pay"))).alias("_z")
            frames.append(
                self._payload_postings(q.field, t)
                .select("doc_id", *(["dl"] if i == 0 else []), zp)
                .select("doc_id", *(["dl"] if i == 0 else []),
                        F.lit(i).alias("ci"),
                        F.col("_z.pos").alias("pos"),
                        F.col("_z.pay").cast("double").alias("pay")))
        dl_map = frames[0].select("doc_id", "dl").distinct()
        u = frames[0].drop("dl")
        for fr in frames[1:]:
            u = u.unionByName(fr)

        @F.pandas_udf(T.StructType([
            T.StructField("freq", T.DoubleType()),
            T.StructField("pay_sum", T.DoubleType()),
            T.StructField("pay_min", T.DoubleType()),
            T.StructField("pay_max", T.DoubleType()),
            T.StructField("pay_cnt", T.LongType())]))
        def walk(col: pd.Series) -> pd.DataFrame:
            rows_out = []
            for rows in col:
                per = [[] for _ in range(n)]
                paymap: dict[tuple[int, int], float] = {}
                for r in rows:
                    ci, pos = int(r["ci"]), int(r["pos"])
                    per[ci].append((pos, pos + 1))
                    paymap[(ci, pos)] = float(r["pay"])
                for lst in per:
                    lst.sort()
                freq = ps = 0.0
                pmin, pmax, cnt = None, None, 0
                for s, e, chosen in ordered_spans(per, slop):
                    freq += 1.0 / (1.0 + (e - s))
                    for ci, p in enumerate(chosen):
                        v = paymap[(ci, p)]
                        ps += v
                        pmin = v if pmin is None else min(pmin, v)
                        pmax = v if pmax is None else max(pmax, v)
                        cnt += 1
                rows_out.append((freq, ps, pmin, pmax, cnt))
            return pd.DataFrame(rows_out, columns=[
                "freq", "pay_sum", "pay_min", "pay_max", "pay_cnt"])

        grouped = (u.groupBy("doc_id")
                   .agg(F.collect_list(F.struct("ci", "pos", "pay"))
                        .alias("sp"),
                        F.count_distinct("ci").alias("nc"))
                   .where(F.col("nc") == n)
                   .select("doc_id", walk(F.col("sp")).alias("w"))
                   .select("doc_id", "w.*")
                   .where(F.col("freq") > 0)
                   .join(dl_map, "doc_id"))
        leafdf = self.spark.createDataFrame(
            [(q.field, t, i) for i, t in enumerate(q.terms)],
            "field string, term string, qoff int")
        qstats = self._query_stats(leafdf, q.field, set(q.terms))
        pay_score = self._payload_doc_score(
            q.fn, F.col("pay_sum"), F.col("pay_min"), F.col("pay_max"),
            F.col("pay_cnt"))
        span_score = self.sim.freq_score(
            F.col("freq"), F.col("dl"), F.col("idf_sum"),
            self.index.avgdl, q.boost)
        score = (span_score * pay_score if q.include_span_score
                 else pay_score * F.lit(float(q.boost)))
        return (grouped.crossJoin(F.broadcast(qstats))
                .select("doc_id", score.alias("score")))

    # ---- function queries (score from field values)

    def _field_score_frame(self, q: ast.FieldScore) -> DataFrame:
        """FieldScoreQuery: the ValueSource is literally the stored column
        (src/Lucene.Net/Search/Function/FieldScoreQuery.cs:63) — on Spark
        the FieldCache un-inversion is a no-op because the column exists."""
        stored = self.index.stored
        return stored.select(
            F.col(self.index.id_col).alias("doc_id"),
            (F.expr(q.column).cast("double") * F.lit(float(q.boost)))
            .alias("score"))

    def _ord_score_frame(self, q: ast.OrdFieldScore) -> DataFrame:
        """Ord/ReverseOrdFieldSource (Function/OrdFieldSource.cs:121:
        FieldCache.GetStringIndex order array).  The FieldCache un-invert
        is replaced by ranking the DISTINCT values — vocabulary-scale, not
        corpus-scale — with the partition-rank + base-offset trick
        (sources/corpus.with_doc_ids), so no single-reducer window ever
        sees the full corpus; the rank table then hash-joins back to the
        doc store.  Missing values keep ord 0, which under reverse yields
        the MAX score (ReverseOrdFieldSource.cs:85 ``end - arr[doc]``
        with arr[doc]=0) — reference quirk preserved."""
        from ..sources.corpus import with_doc_ids
        stored = self.index.stored
        vals = (stored.select(F.col(q.column).alias("_v"))
                .where(F.col("_v").isNotNull()).distinct())
        ranked = (with_doc_ids(vals, ("_v",), range_partition=True)
                  .select("_v", (F.col("doc_id") + 1).alias("_ord")))
        joined = stored.join(ranked, stored[q.column] == ranked["_v"],
                             "left")
        ordc = F.coalesce(F.col("_ord"), F.lit(0)).cast("double")
        if q.reverse:
            # `end` = lookup.Length = nDistinct + 1, computed in-plan as a
            # broadcast 1-row agg (no driver action)
            end = ranked.agg((F.max("_ord") + 1).alias("_end"))
            joined = joined.crossJoin(F.broadcast(end))
            score = F.col("_end").cast("double") - ordc
        else:
            score = ordc
        return joined.select(
            F.col(self.index.id_col).alias("doc_id"),
            (score * F.lit(float(q.boost))).alias("score"))

    def _custom_score_frame(self, q: ast.CustomScore) -> DataFrame:
        """CustomScoreQuery default combination: subQueryScore x PRODUCT of
        value sources (src/Lucene.Net/Search/Function/CustomScoreQuery.cs:50,
        CustomScoreProvider.CustomScore) — column arithmetic after one join
        of the subquery hits against the stored table."""
        inner = self.score_frame(q.query)
        stored = self.index.stored
        vals = stored.select(
            F.col(self.index.id_col).alias("doc_id"),
            *[F.expr(e).cast("double").alias(f"_v{i}")
              for i, e in enumerate(q.value_exprs)])
        joined = inner.join(vals, "doc_id")
        s = F.col("score")
        for i in range(len(q.value_exprs)):
            s = s * F.col(f"_v{i}")
        return joined.select(
            "doc_id", (s * F.lit(float(q.boost))).alias("score"))

    # ---- filtered

    def _filtered_frame(self, q: ast.Filtered) -> DataFrame:
        inner = self.score_frame(q.query)
        if isinstance(q.predicate, ast.Query):
            # FilteredQuery(query, Filter) with a composed filter (e.g.
            # BooleanFilter): the filter's doc set semi-joins the hits
            keep = self.match_frame(q.predicate)
        else:
            stored = self.index.stored
            keep = stored.where(q.predicate).select(
                F.col(self.index.id_col).alias("doc_id")
            )
        out = inner.join(keep, "doc_id", "left_semi")
        if q.boost != 1.0:
            out = out.select("doc_id", (F.col("score") * q.boost).alias("score"))
        return out

    def _boolean_filter_ids(self, q: "ast.BooleanFilter") -> DataFrame:
        """BooleanFilter.GetDocIdSet (src/contrib/Queries/BooleanFilter.cs:
        39-92) as DataFrame set algebra: SHOULD union, MUST intersect,
        MUST_NOT subtract — semi/anti joins on doc_id, so each clause's
        own plan (multiterm predicate, range, term) stays intact below."""
        ids: DataFrame | None = None
        for c in q.must:
            m = self.match_frame(c)
            ids = m if ids is None else ids.join(m, "doc_id", "left_semi")
        if q.should:
            u = self.match_frame(q.should[0])
            for c in q.should[1:]:
                u = u.unionByName(self.match_frame(c))
            u = u.distinct()
            ids = u if ids is None else ids.join(u, "doc_id", "left_semi")
        if ids is None:
            # only MUST_NOT clauses: base = all documents
            ids = self.match_frame(ast.MatchAll())
        for c in q.must_not:
            ids = ids.join(self.match_frame(c), "doc_id", "left_anti")
        return ids

    def _empty_frame(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id long, score double")
