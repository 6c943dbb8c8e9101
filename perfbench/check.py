"""Correctness checks against independent judges: the pure-Python BM25
oracle (`lucenenet_spark.oracle.pybm25`) for query answers, and the
analyzer's own token count for build statistics."""

from __future__ import annotations

from lucenenet_spark.oracle.pybm25 import SCORE_DECIMALS, OracleIndex

FIELD = "content"


def oracle_over(rows) -> OracleIndex:
    """Oracle over (doc_id, lang, content) rows, scoring `content` with
    the same code-aware chain the index uses (lang picks the chain)."""
    oi = OracleIndex()
    oi.primary_field = FIELD
    for doc_id, lang, content in rows:
        oi.add(int(doc_id), {FIELD: content}, lang=lang)
    return oi


def expected_top(oi: OracleIndex, q, k: int = 10,
                 live: set[int] | None = None) -> list[tuple[int, float]]:
    """Oracle top-k (doc_id, 6-dp score), score desc then doc_id asc.
    With `live`, documents outside it are dropped after scoring, the way
    deletes behave before an expunge: they still count in df and N."""
    items = [(d, round(s, SCORE_DECIMALS))
             for d, s in oi.score_map(q).items()
             if live is None or d in live]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items[:k]


def answer(rows) -> list[tuple[int, float]]:
    """Engine rows (doc_id, score) as comparable tuples."""
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def analyzer_totals(docs, make_analyzer) -> tuple[int, int]:
    """(Σ tokens, distinct terms) that the analyzer itself emits over the
    `content` column: a plain map over the rows on the executors, apart
    from the index build's invert and merge."""
    def part(rows):
        analyze = make_analyzer()
        n, vocab = 0, set()
        for (text,) in rows:
            toks = analyze(text)
            n += len(toks)
            vocab.update(t for t, _ in toks)
        yield n, vocab

    n, vocab = (docs.select(FIELD).rdd.mapPartitions(part)
                .reduce(lambda a, b: (a[0] + b[0], a[1] | b[1])))
    return n, len(vocab)
