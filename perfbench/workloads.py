"""The benchmark's workloads over one Spark session, and the traced layer
pass that splits the same work into per-layer numbers.

Each workload has a set-up (its state-building part run SETUP_PASSES
times so a median can be reported, then one warm-up) and a closed loop
with one client that runs for the run's seconds.  Every operation is
checked; one that raises or answers wrongly counts as failed, and the
loop goes on.  An operation of the timed loop that raises also makes the
run incorrect: the gated figures would otherwise be computed over the
operations that happened to succeed.
"""

from __future__ import annotations

import statistics
import time
import traceback

from pyspark.sql import functions as F

from lucenenet_spark.analysis.snowball import english_snowball_analyzer
from lucenenet_spark.analysis.tokenizers import tokenize
from lucenenet_spark.index.segments import (build_segmented_index,
                                            expunge_deletes, merge_wave,
                                            update_documents)
from lucenenet_spark.plans.lowering import Searcher
from lucenenet_spark.queryparser.parser import parse
from lucenenet_spark.sources.corpus import (CORPUS_SCHEMA, corpus_df,
                                            gen_corpus_rows, with_doc_ids)

import check
import gen
from spans import Tracer

FIELD = check.FIELD
SETUP_PASSES = 3       # set-up passes per untraced run; setup_s: the median
ANALYSIS_SAMPLE = 200  # driver-side documents for analysis.*_tokens_per_s


NAN = float("nan")


def median(xs):
    return statistics.median(xs) if xs else NAN


def rate(n: float, seconds: float) -> float:
    return n / seconds if seconds > 0 else NAN


def late_over_early(xs: list[float]) -> float:
    """Median of the last quarter of `xs` over the median of the first
    (each quarter rounded up, so 5 samples compare 2 with 2)."""
    if len(xs) < 2:
        return NAN
    q = -(-len(xs) // 4)
    return median(xs[-q:]) / median(xs[:q])


def class_latency_ms(by_class: dict[str, list[float]]) -> float:
    """Geometric mean over operation classes of each class' median
    latency, in ms: every class weighs the same, and a class whose cost
    varies with the seed moves it by only its own share."""
    if not by_class or not all(by_class.values()):
        return NAN
    return statistics.geometric_mean(
        [median(ts) for ts in by_class.values()]) * 1e3


class Run:
    """State of one benchmark run: the session, the seeded inputs, the
    operation counters and the tracer (disabled on untraced runs)."""

    def __init__(self, spark, seed: int, seconds: float, files: int,
                 traced: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.files = files
        self.clock = time.perf_counter
        self.tr = Tracer(traced)
        self.off = Tracer(False)
        self.parts = spark.sparkContext.defaultParallelism
        self.pool = gen.query_pool(seed)
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.loop_failed = 0  # timed-loop operations that raised
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.setup_s = float("nan")
        self.corpus_s: list[float] = []
        self.by_class: dict[str, list[float]] = {}  # untraced query latencies

    # ---- bookkeeping

    def _fail(self, what: str, exc: Exception | None = None) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            # an exception raised in a Python worker carries its whole
            # traceback; its last line names the error
            msg = (str(exc).strip().splitlines() or [""])[-1][:300]
            self.errors.append(f"{what}: {type(exc).__name__}: {msg}"
                               if exc is not None else what)
        if exc is not None and self.failed == 1:
            traceback.print_exception(exc)

    def _wrong(self, what: str) -> None:
        self.wrong += 1
        self._fail(f"wrong answer: {what}")

    # ---- shared steps

    def corpus(self):
        t0 = self.clock()
        with self.tr.span("sources.corpus", self.spark):
            df = with_doc_ids(
                corpus_df(self.spark, self.files, seed=self.seed,
                          partitions=self.parts), ("repo", "path")).cache()
            df.count()
        self.corpus_s.append(self.clock() - t0)
        return df

    def build(self, corpus, stemmed: bool = False, tracer=None, **kw):
        with (tracer or self.off).span("index.build", self.spark):
            if stemmed:
                return build_segmented_index(
                    self.spark, corpus, text_col=FIELD,
                    analyzer=english_snowball_analyzer(), **kw)
            return build_segmented_index(self.spark, corpus, text_col=FIELD,
                                         lang_col="lang", **kw)

    @staticmethod
    def rows(df) -> list[tuple[int, str, str]]:
        return [(r["doc_id"], r["lang"], r[FIELD])
                for r in df.select("doc_id", "lang", FIELD).collect()]

    @staticmethod
    def blob_bytes(segments) -> int:
        size = sum(F.coalesce(F.length(c), F.lit(0)) for c in (
            "docs_blob", "tfs_blob", "dls_blob", "pos_blob", "pay_blob"))
        return int(segments.select(F.sum(size)).collect()[0][0] or 0)

    def query(self, searcher, qs: str, expected, tracer=None, cls="q"):
        """One closed-loop query: parse -> lower -> collect, then checked.
        Returns its latency in seconds, or None when it raised."""
        tracer = tracer or self.off
        self.attempted += 1
        t0 = self.clock()
        try:
            with tracer.span(f"query.{cls}", self.spark):
                with tracer.span("queryparser.parse"):
                    q = parse(qs, default_field=FIELD)
                with tracer.span("plans.lower"):
                    df = searcher.search(q, 10)
                with tracer.span("plans.execute"):
                    got = check.answer(df.collect())
        except Exception as e:  # the loop records the failure and goes on
            self._fail(f"query {qs!r}", e)
            return None
        dt = self.clock() - t0
        exp = expected(q)
        if got != exp:
            self._wrong(f"query {qs!r}: {got[:3]} != {exp[:3]}")
        return dt

    def warm_round(self, searcher) -> None:
        """One untimed query of every class: fills the index's lazy
        frames before anything is timed."""
        for cls in gen.CLASSES:
            searcher.search(parse(self.pool[cls][0], default_field=FIELD),
                            10).collect()

    def setup(self, one_pass, warm_up):
        """Build the workload's state SETUP_PASSES times, each pass from an
        empty cache, then warm the last pass' state once.  setup_s is the
        median pass plus the warm-up (session start is timed by the
        caller).  A traced run reports no setup_s and builds once."""
        times, state = [], None
        for i in range(1 if self.tr.enabled else SETUP_PASSES):
            if i:
                self.spark.catalog.clearCache()
            t0 = self.clock()
            state = one_pass()
            times.append(self.clock() - t0)
        t0 = self.clock()
        warm_up(state)
        self.setup_s = median(times) + self.clock() - t0
        self.layer["sources.corpus_s"] = median(self.corpus_s)
        return state

    def timed_loop(self, step, min_iters: int = 1) -> None:
        """Run step(i) until the run's seconds are used, at least
        min_iters times."""
        t0 = self.clock()
        i = 0
        while i < min_iters or self.clock() - t0 < self.seconds:
            step(i)
            i += 1

    # ---- build_stemmed

    def run_build_stemmed(self) -> dict:
        """Repeated builds with the Snowball analyzer; each is checked
        against the analyzer's own token and term counts."""
        src = gen_corpus_rows(self.files, seed=self.seed)
        source_bytes = sum(len(r[4].encode()) for r in src)

        def warm_up(corpus):
            self.build(corpus, stemmed=True).segments.unpersist()

        corpus = self.setup(self.corpus, warm_up)
        want = (self.files, *check.analyzer_totals(
            corpus, english_snowball_analyzer))
        times, traced_times = [], []
        last = None  # the last build that succeeded

        def step(i):
            nonlocal last
            traced = self.tr.enabled and i % 2 == 1
            # Spark keys its cache by plan, and every build of this
            # corpus has the same plan: release the last index first, so
            # each build computes and caches its segments afresh
            if last is not None:
                last.segments.unpersist()
            self.attempted += 1
            t0 = self.clock()
            try:
                idx = self.build(corpus, stemmed=True,
                                 tracer=self.tr if traced else None)
            except Exception as e:  # recorded; the loop goes on
                self.loop_failed += 1
                self._fail("build", e)
                return
            (traced_times if traced else times).append(self.clock() - t0)
            got = (idx.n_docs, idx.stats.total_tokens, idx.segments.count())
            if got != want:
                self._wrong(f"build (docs, tokens, terms) {got} != {want}")
            last = idx

        self.timed_loop(step, min_iters=4 if self.tr.enabled else 1)
        out = {
            "latency_ms": class_latency_ms({"build": times}),
            "throughput_per_s": rate(self.files * len(times), sum(times)),
            "index_bytes_per_source_byte": (
                NAN if last is None
                else self.blob_bytes(last.segments) / source_bytes),
        }
        if self.tr.enabled and last is not None:
            self.layer["trace.overhead_ratio"] = (
                median(traced_times) / median(times))
            self.trace_layers(corpus, True, last, self.build(corpus))
        return out

    # ---- search

    def run_search(self) -> dict:
        """Rounds of one query per class over a warm index; every answer
        is checked against the oracle.  At least two rounds, so the
        median always spans every class twice."""

        def one_pass():
            corpus = self.corpus()
            idx = self.build(corpus)
            return corpus, idx, Searcher(idx)

        corpus, idx, searcher = self.setup(
            one_pass, lambda state: self.warm_round(state[2]))
        rows = self.rows(corpus)
        oracle = check.oracle_over(rows)
        memo: dict = {}

        def expected(q):
            key = repr(q)
            if key not in memo:
                memo[key] = check.expected_top(oracle, q)
            return memo[key]

        lat, traced_lat = [], []

        def one_round(i):
            traced = self.tr.enabled and i % 2 == 1
            # traced runs pair an untraced and a traced round on the same
            # strings, so trace.overhead_ratio compares like with like
            k = i // 2 if self.tr.enabled else i
            for cls in gen.CLASSES:
                qs = self.pool[cls][k % gen.POOL_PER_CLASS]
                dt = self.query(searcher, qs, expected,
                                tracer=self.tr if traced else None, cls=cls)
                if dt is None:
                    self.loop_failed += 1
                elif traced:
                    traced_lat.append(dt)
                else:
                    lat.append(dt)
                    self.by_class.setdefault(cls, []).append(dt)

        self.timed_loop(one_round, min_iters=2)
        source_bytes = sum(len(r[2].encode()) for r in rows)
        out = {
            "latency_ms": class_latency_ms(
                {c: self.by_class.get(c, []) for c in gen.CLASSES}),
            # one closed-loop client: queries per second of query time
            "throughput_per_s": rate(len(lat), sum(lat)),
            "index_bytes_per_source_byte": (
                self.blob_bytes(idx.segments) / source_bytes),
        }
        if self.tr.enabled:
            self.layer["trace.overhead_ratio"] = (
                median(traced_lat) / median(lat))
            self.trace_layers(corpus, False, idx, idx)
        return out

    # ---- write episode (traced runs)

    def episode(self, base, tracer) -> dict:
        """From the warm base index: BATCHES_PER_EXPUNGE batches, each
        re-committing the seeded hot set through update_documents, then
        one top-10 query and one expunge_deletes.  The query is checked
        against an oracle over every document version sent, older
        versions dropped after scoring (df and N count them until an
        expunge); the expunged index against an oracle over its live
        stored rows.  A failed expunge (the known defect at this shape)
        counts as failed and the episode ends on the un-expunged index."""
        base_rows = [tuple(r) for r in base.stored.select(
            "repo", "path", "doc_id", "lang", FIELD).collect()]
        by_key = {(r[0], r[1]): r for r in base_rows}
        keys = sorted(by_key)
        stream = gen.UpdateStream(self.seed, len(keys), gen.HOT)
        oracle = check.oracle_over((r[2], r[3], r[4]) for r in base_rows)
        sent = []  # rows of every committed batch, in commit order
        idx = base
        res = {"update": [], "expunge": [], "rewritten": 0}
        for g in range(gen.BATCHES_PER_EXPUNGE):
            batch = []
            for i, suffix in stream.next_batch(g):
                repo, path, _, lang, content = by_key[keys[i]]
                batch.append((repo, path, f"c{g}", lang,
                              f"{content} {suffix}"))
            new_docs = self.spark.createDataFrame(batch, CORPUS_SCHEMA)
            self.attempted += 1
            t0 = self.clock()
            try:
                with tracer.span("index.update", self.spark):
                    idx = update_documents(idx, new_docs, ["repo", "path"],
                                           FIELD, lang_col="lang")
            except Exception as e:  # recorded; the episode goes on
                self._fail(f"update batch {g}", e)
                continue
            res["update"].append(self.clock() - t0)
            sent.extend(batch)

        q = parse(self.pool["term_common"][0], default_field=FIELD)
        self.attempted += 1
        try:
            with tracer.span("refresh", self.spark):
                got = check.answer(Searcher(idx).search(q, 10).collect())
            live = {(r[0], r[1]): r[2] for r in
                    idx.stored.select("repo", "path", "doc_id").collect()}
        except Exception as e:  # recorded; the expunge still runs
            self._fail("query after the updates", e)
        else:
            # each key's latest version is live under its engine doc_id;
            # older versions only count in df and N, under ids of their own
            latest = {(r[0], r[1]): j for j, r in enumerate(sent)}
            for j, (repo, path, _, lang, content) in enumerate(sent):
                doc = (live.get((repo, path), -1 - j)
                       if latest[(repo, path)] == j else -1 - j)
                oracle.add(doc, {FIELD: content}, lang=lang)
            exp = check.expected_top(oracle, q, live=set(live.values()))
            if len(live) != len(keys) or got != exp:
                self._wrong(f"after the updates {q!r}: {got[:3]} != "
                            f"{exp[:3]} ({len(live)} live rows)")
        self.attempted += 1
        t0 = self.clock()
        try:
            with tracer.span("index.expunge", self.spark):
                purged = expunge_deletes(idx)
        except Exception as e:  # the known expunge defect lands here
            res["expunge"].append(self.clock() - t0)
            self._fail("expunge_deletes", e)
            res["final"] = idx
            return res
        res["expunge"].append(self.clock() - t0)
        res["final"] = purged
        key = ["field", "term", "seg_id", "docs_blob"]
        res["rewritten"] = idx.segments.select(*key).join(
            purged.segments.select(*key), key, "left_anti").count()
        live = self.rows(purged.stored)
        q = parse(self.pool["term_common"][0], default_field=FIELD)
        self.attempted += 1
        try:
            got = check.answer(Searcher(purged).search(q, 10).collect())
        except Exception as e:  # recorded; the episode is over anyway
            self._fail("query after expunge", e)
            return res
        exp = check.expected_top(check.oracle_over(live), q)
        if len(live) != len(keys) or got != exp:
            self._wrong(f"after expunge {q!r}: {got[:3]} != {exp[:3]}")
        return res

    # ---- traced layer pass

    def trace_layers(self, corpus, stemmed: bool, built, idx) -> None:
        """Per-layer numbers for every layer, after the workload's own
        loop.  Layers the loop does not reach run here once, at the
        workload's corpus size: builds with the workload's analyzer
        (`built` is its cached index), reads and writes on the
        default-chain index `idx`.

        Spark keys its cache by logical plan, and a full build, a rebuild
        and merge_wave over the invert output all have one plan: `built`
        is released before each of them, and the last one leaves it
        cached again."""
        L, tr, spark = self.layer, self.tr, self.spark

        sample = gen_corpus_rows(ANALYSIS_SAMPLE, seed=self.seed)
        stem = english_snowball_analyzer()
        for name, analyze in (("default", tokenize),
                              ("snowball", lambda text, lang: stem(text))):
            t0 = self.clock()
            n = sum(len(analyze(r[4], r[3])) for r in sample)
            L[f"analysis.{name}_tokens_per_s"] = n / (self.clock() - t0)

        # build: the full build's job counts (the workload's own traced
        # builds, or one here), then the same work split into invert (one
        # segment per partition) and one merge wave
        if not tr.named("index.build"):
            built.segments.unpersist()
            self.build(corpus, stemmed, tracer=tr)
        built.segments.unpersist()
        storage0 = _storage_mb(spark)
        with tr.span("index.invert", spark):
            inv = self.build(corpus, stemmed, target_segments=self.parts)
        with tr.span("index.merge", spark):
            merged = merge_wave(inv.segments, fan_in=self.parts).cache()
            L["index.segment_rows"] = merged.count()
        L["index.cache_mb"] = _storage_mb(spark) - storage0
        L["index.postings_bytes"] = self.blob_bytes(merged)
        inv.segments.unpersist()

        for name, fn in (
                ("index.term_dfs_ms", lambda: idx.term_dfs(
                    [(FIELD, "index"), (FIELD, "merge"), (FIELD, "w1500")])),
                ("index.decode_rare_ms", lambda: _decode_count(idx, "w1500")),
                ("index.decode_common_ms",
                 lambda: _decode_count(idx, "index"))):
            t0 = self.clock()
            fn()
            L[name] = (self.clock() - t0) * 1e3

        if not tr.named("queryparser.parse"):
            searcher = Searcher(idx)
            self.warm_round(searcher)
            oracle = check.oracle_over(self.rows(idx.stored))
            for cls in gen.CLASSES:
                self.query(searcher, self.pool[cls][0],
                           lambda q: check.expected_top(oracle, q),
                           tracer=tr, cls=cls)

        ep = self.episode(idx, tr)
        tr.resolve_counts(spark)

        L["index.update_ms_p50"] = median(ep["update"]) * 1e3
        L["index.update_late_over_early"] = late_over_early(ep["update"])
        L["index.expunge_ms_p50"] = median(ep["expunge"]) * 1e3
        L["index.segments_after"] = ep["final"].n_segments()
        L["index.tombstones_after"] = (
            ep["final"].tombstones.count()
            if ep["final"].tombstones is not None else 0)
        L["index.expunge_rows_rewritten"] = ep["rewritten"]

        L["index.invert_s"] = median(tr.seconds("index.invert"))
        L["index.merge_s"] = median(tr.seconds("index.merge"))
        builds = tr.named("index.build")
        for k in ("jobs", "stages", "tasks"):
            L[f"index.build_{k}"] = median([s.counts[k] for s in builds])
        L["queryparser.parse_us_p50"] = median(
            tr.seconds("queryparser.parse")) * 1e6
        L["plans.lower_ms_p50"] = median(tr.seconds("plans.lower")) * 1e3
        L["plans.execute_ms_p50"] = median(tr.seconds("plans.execute")) * 1e3
        queries = [s for s in tr.spans if s.name.startswith("query.")]
        for k in ("jobs", "stages", "tasks"):
            L[f"plans.{k}_per_query"] = median([s.counts[k] for s in queries])
        L["plans.term_rare.jobs_per_query"] = median(
            [s.counts["jobs"] for s in tr.named("query.term_rare")])
        for cls in gen.CLASSES:
            L[f"search.{cls}.ms_p50"] = median(
                tr.seconds(f"query.{cls}")) * 1e3


def _decode_count(idx, term: str) -> int:
    """Rows of one term's decoded postings (the positions-free view)."""
    return idx.postings_nopos.where(
        (F.col("field") == FIELD) & (F.col("term") == term)).count()


def _storage_mb(spark) -> float:
    """Memory held by cached blocks across the session, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20
