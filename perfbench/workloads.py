"""The workloads. Each one sets up seeded inputs, times its ops through
the public functions of ``fusion_spark``, checks the outputs outside the
timed regions, and can run a traced pass that labels every call by layer.

Every timed op is warmed up once first (``build_index`` on the first
WARM_DOCS docs). An op whose result Spark could cache is timed into a
``noop`` sink, collected, or released (``unpersist``) between repeats:
re-running an identical plan over a cached frame would time a cache hit.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.trace import Tracer

K1, B = 1.2, 0.75
WARM_DOCS = 1_000
CHEAP_S = 1.0  # traced ops faster than this get a second bracketed chain


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # {op: [wall seconds]} of successful timed calls
    samples: dict[str, list[float]] = field(default_factory=dict)
    # {phase: wall seconds} of the run's untimed and timed stretches
    phases: dict[str, float] = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def timed(self, op: str, fn) -> float | None:
        """One attempted op: its wall time, or None (counted as failed) if it
        raised. The run continues either way."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:  # noqa: BLE001 - every failure is counted and reported
            self.failed += 1
            self.errors.append(f"{op}: {traceback.format_exc(limit=3)}")
            return None
        wall = time.perf_counter() - t0
        self.samples.setdefault(op, []).append(wall)
        return wall

    def repeat(self, op: str, fn, budget_s: float, min_n: int, before=None) -> None:
        """Time ``fn`` until ``budget_s`` has passed and at least ``min_n``
        calls were made; ``before`` runs untimed before each call, for
        example to release the cache the previous call filled."""
        start, n = time.perf_counter(), 0
        while n < min_n or time.perf_counter() - start < budget_s:
            if before is not None:
                before()
            self.timed(op, fn)
            n += 1

    def check(self, what: str, ok: bool, covers: int) -> None:
        """Record an output check. A failed one marks ``covers`` attempted
        ops as failed (at least one); it never stops the run."""
        if not ok:
            self.failed += max(covers, 1)
            self.errors.append(f"check failed: {what}")

    def med(self, op: str) -> float | None:
        s = self.samples.get(op)
        return statistics.median(s) if s else None

    def n(self, op: str) -> int:
        return len(self.samples.get(op, []))

    def trace_op(self, op: str, run, steps, after=None):
        """Bracket each traced chain of ``steps`` (see Tracer.chain) between
        two untraced calls of ``run``, so the untraced median sits at the
        chain's point of warm-up: one chain, two for an op under CHEAP_S.
        ``after`` runs untimed after each call. A chain that raises counts as
        a failed op. Returns (op, median untraced wall, chains)."""
        chains, pairs, n = [], 1, 0

        def untraced():
            self.tracer.label(f"untraced:{op}")
            try:
                wall = self.timed(op, run)
            finally:
                self.tracer.label("bench")
            if after is not None:
                after()
            return wall

        while n < pairs:
            wall = untraced()
            if n == 0 and wall is not None and wall < CHEAP_S:
                pairs = 2
            self.attempted += 1
            try:
                chains.append(self.tracer.chain(steps))
            except Exception:  # noqa: BLE001 - counted and reported like a timed op
                self.failed += 1
                self.errors.append(f"{op} (traced): {traceback.format_exc(limit=3)}")
            if after is not None:
                after()
            untraced()
            n += 1
        return op, self.med(op) or 0.0, chains


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def concurrently(fns) -> list:
    """Run untimed warm-up calls side by side and return their results in
    order (an exception in any call is raised here). Timed calls always run
    one at a time."""
    with ThreadPoolExecutor(max_workers=max(1, min(4, len(fns)))) as pool:
        futures = [pool.submit(fn) for fn in fns]
        return [f.result() for f in futures]


def corpus(ctx: Ctx, shape: gen.CorpusShape, name: str = "docs"):
    """Generate a corpus into parquet under the work dir and read it back."""
    path = ctx.path(name)
    gen.corpus_frame(ctx.spark, ctx.seed, shape, 8).write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path)


def warm_slice(docs):
    """The first WARM_DOCS docs: a cheap input for warm-up calls."""
    return docs.filter(f"doc_id < {WARM_DOCS}")


def queries_df(spark, rows):
    return spark.createDataFrame([(r[0], r[1]) for r in rows], "qid long, question string")


def build_index(docs):
    """build_index, materialized and persisted: postings (which build_index
    persists itself) and termstats, the two frames the scorer reads."""
    from fusion_spark.indexing import build_index as build

    idx = build(docs)
    idx.termstats.persist()
    idx.postings.count()
    idx.termstats.count()
    return idx


def tokenize_docs(docs) -> None:
    from fusion_spark.tokenize import tokenize

    noop(tokenize(docs.select("doc_id", "text")))


def _rate(n: float, seconds: float | None) -> float:
    return n / seconds if seconds else 0.0


class Workload:
    name = ""
    # the per-op metric names this workload reports
    report: tuple[str, ...] = ()

    def setup(self, ctx: Ctx) -> float:
        """Build the inputs; returns the seconds to charge to setup_s."""
        raise NotImplementedError

    def measure(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def verify(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def traced(self, ctx: Ctx) -> list[tuple[str, float, list]]:
        """Untraced calls and traced chains of each op: [(op, median untraced
        wall, [chains of spans])]."""
        raise NotImplementedError

    def metrics(self, ctx: Ctx) -> dict[str, tuple[float, str]]:
        """Per-op metrics of this workload: name -> (value, unit)."""
        raise NotImplementedError

    def extra_setup_s(self) -> float:
        """Set-up done between timed stages, also charged to setup_s."""
        return 0.0

    def end_to_end(self, ctx: Ctx) -> dict[str, float]:
        """This workload's values of write_docs_per_s and query_ms."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# bm25_batch
# ---------------------------------------------------------------------------


class Bm25Batch:
    """Index build (write side), then exhaustive top-1000 search over a
    256-query batch (read side), on a Zipfian corpus; the first stage of
    ``batch``."""

    report = ("build_docs_per_s", "search_qps")
    shape = gen.CorpusShape(n_docs=6_000, vocab=50_000, dl_min=12, dl_max=108)
    n_queries = 256
    k = 1000
    mix = {"head": 0.25, "torso": 0.45, "tail": 0.30}
    n_check = 6

    def setup(self, ctx):
        self.docs = corpus(ctx, self.shape)
        self.qrows = gen.make_queries(ctx.seed, self.n_queries, self.shape.vocab, self.mix)
        self.queries = queries_df(ctx.spark, self.qrows)

    def _build(self):
        self.idx = build_index(self.docs)

    def _release(self):
        self.idx.unpersist()

    def _search(self):
        from fusion_spark.scoring import search

        noop(search(self.idx, self.queries, k=self.k, k1=K1, b=B))

    def warm_up(self) -> None:
        """build_index once, over the first WARM_DOCS docs."""
        self.idx = build_index(warm_slice(self.docs))

    def measure(self, ctx):
        ctx.repeat("build_index", self._build, 0.2 * ctx.seconds, 2, before=self._release)
        with ctx.phase("warm-up"):
            self._search()
        ctx.repeat("search", self._search, 0.2 * ctx.seconds, 1)

    def verify(self, ctx, ranked: dict[int, list], k: int):
        """``ranked``: ``search`` top-``k`` lists of some of the queries
        (the study's BM25 leg), checked against the oracle."""
        ref = checks.Bm25Oracle({r["doc_id"]: r["text"] for r in self.docs.collect()})
        ok = self.idx.n_docs == ref.index.n and abs(self.idx.avgdl - ref.index.avgdl) < 1e-9
        ctx.check("build_index n_docs/avgdl vs oracle", ok, ctx.n("build_index"))
        text = dict(self.qrows)
        ok = all(
            checks.same_ranking(ranked.get(q, []), ref.search(text[q], K1, B), k, 1e-9)
            for q in sorted(ranked)[: self.n_check]
        )
        ctx.check("search top-k vs oracle", ok, ctx.n("search"))

    def traced(self, ctx):
        from fusion_spark.scoring import query_terms, score

        self._release()  # the warm-up's index
        out = [ctx.trace_op("build_index", self._build, [
            ("tokenize.tokenize", lambda: tokenize_docs(self.docs)),
            ("indexing.build_index", self._build),
        ], after=self._release)]

        self._build()
        self._search()
        ctx.tracer.label("bench.count")
        n_pairs = score(self.idx, self.queries, K1, B).count()
        out.append(ctx.trace_op("search", self._search, [
            ("scoring.query_terms", lambda: noop(query_terms(self.queries))),
            ("scoring.score", lambda: noop(score(self.idx, self.queries, K1, B))),
            ("scoring.top_k", self._search),
        ]))
        for chain in out[-1][2]:
            chain[1].results = n_pairs
        return out

    def metrics(self, ctx):
        return {
            "build_docs_per_s": (_rate(self.shape.n_docs, ctx.med("build_index")), "docs/s"),
            "search_qps": (_rate(self.n_queries, ctx.med("search")), "queries/s"),
        }


# ---------------------------------------------------------------------------
# lookup
# ---------------------------------------------------------------------------


class Lookup(Workload):
    """One closed-loop client sending one query at a time through
    ``search_auto`` at k=10 over an on-disk packed store plus the in-memory
    index; the packed build is the write side."""

    name = "lookup"
    report = ("packed_build_docs_per_s", "lookup_p50_ms", "lookup_p90_ms")
    shape = gen.CorpusShape(n_docs=3_000, vocab=50_000, dl_min=12, dl_max=108)
    k = 10
    min_lookups = 5
    max_lookups = 400
    head_share = 0.25
    # search_auto's default threshold (5 % of all postings) suits a small
    # vocabulary; at ~50 distinct terms per doc no single term reaches 2 %,
    # so the benchmark passes 0.5 %: head-term lookups (0.7 %+) take the
    # exact route and tail-term lookups (~0.01 %) take WAND
    wand_threshold = 0.005

    def setup(self, ctx):
        self.ctx, self.results = ctx, {}
        t0 = time.perf_counter()
        self.docs = corpus(ctx, self.shape)
        self.lrows = gen.lookup_queries(ctx.seed, self.max_lookups, self.shape.vocab, self.head_share)
        # the in-memory index, built beside the store the lookups read
        # (build_packed's warm-up), so set-up pays for one of the two
        self.idx, _ = concurrently([lambda: build_index(self.docs), self._open_store])
        return time.perf_counter() - t0

    def _pack(self, name="packed_timed"):
        from fusion_spark.blocks import build_packed

        build_packed(self.docs, self.ctx.path(name))

    def _open_store(self):
        """Build the store the lookups read: also build_packed's warm-up, on
        the full corpus, so every Python worker the build uses is started."""
        from fusion_spark.blocks import PackedIndex

        self._pack("packed")
        self.packed = PackedIndex.read(self.ctx.spark, self.ctx.path("packed"))

    def _auto(self, q):
        from fusion_spark.scoring import search_auto

        return search_auto(
            self.idx, self.packed, q, k=self.k, k1=K1, b=B, wand_threshold=self.wand_threshold
        ).collect()

    def _lookup(self, qid: int, text: str):
        q = self.ctx.spark.createDataFrame([(qid, text)], "qid long, question string")
        self.results[qid] = self._auto(q)

    def _warm_up_lookups(self):
        # one lookup per route, from the end of the list, which the timed
        # loop never reaches
        kinds = ("head", "tail")
        tail = [r for r in reversed(self.lrows)]
        for kind in kinds:
            qid, text, _ = next(r for r in tail if r[2] == kind)
            tail.remove((qid, text, kind))
            self._lookup(qid, text)
        self.results.clear()

    def measure(self, ctx):
        ctx.repeat("build_packed", self._pack, 0.1 * ctx.seconds, 1)
        with ctx.phase("warm-up"):
            self._warm_up_lookups()
        start = time.perf_counter()
        for qid, text, _ in self.lrows[: self.max_lookups // 2]:
            if len(self.results) >= self.min_lookups and time.perf_counter() - start > 0.5 * ctx.seconds:
                break
            ctx.timed("lookup", lambda: self._lookup(qid, text))

    def verify(self, ctx):
        from fusion_spark.scoring import search

        done = [r for r in self.lrows if r[0] in self.results]
        exact = checks.ranked_by_qid(
            search(self.idx, queries_df(ctx.spark, done), k=self.k, k1=K1, b=B).collect()
        )
        bad = sum(
            1
            for q, _, _ in done
            if not checks.same_ranking(
                checks.ranked_by_qid(self.results[q]).get(q, []), exact.get(q, []), self.k, 1e-9
            )
        )
        ctx.check(f"{bad} lookups differ from exact search", bad == 0, bad)
        routes = self.routes(done)
        self.n_exact = sum(1 for r in routes.values() if r == "exact")
        self.n_wand = len(routes) - self.n_exact

    def routes(self, rows) -> dict[int, str]:
        """The route search_auto takes for each lookup, from the statistic it
        uses: the share of all postings the query's distinct terms touch."""
        df = {r["term"]: r["df"] for r in self.idx.termstats.select("term", "df").collect()}
        total = sum(df.values()) or 1
        out = {}
        for q, text, _ in rows:
            touched = sum(df.get(t, 0) for t in set(text.lower().split()))
            out[q] = "wand" if touched / total < self.wand_threshold else "exact"
        return out

    def traced(self, ctx):
        from fusion_spark.blocks import wand_search
        from fusion_spark.scoring import query_terms, score, search

        out = [ctx.trace_op("build_packed", self._pack, [
            ("tokenize.tokenize", lambda: tokenize_docs(self.docs)),
            ("blocks.build_packed", self._pack),
        ])]
        self._warm_up_lookups()

        # the first lookup of each route
        picked = self.lrows[:16]
        routes = self.routes(picked)
        for route in ("exact", "wand"):
            op = f"lookup ({route})"
            chains = []
            for qid, text, _ in [r for r in picked if routes[r[0]] == route][:1]:
                q = ctx.spark.createDataFrame([(qid, text)], "qid long, question string")
                auto = ("scoring.search_auto", lambda: self._auto(q))
                if route == "exact":
                    ctx.tracer.label("bench.count")
                    results = score(self.idx, q, K1, B).count()
                    steps = [
                        ("scoring.query_terms", lambda: noop(query_terms(q))),
                        ("scoring.score", lambda: noop(score(self.idx, q, K1, B))),
                        ("scoring.top_k", lambda: search(self.idx, q, k=self.k, k1=K1, b=B).collect()),
                        auto,
                    ]
                else:
                    steps = [
                        ("blocks.wand_search", lambda: wand_search(self.packed, q, k=self.k, k1=K1, b=B).collect()),
                        auto,
                    ]
                _, _, got = ctx.trace_op(op, lambda: self._lookup(qid, text), steps)
                if route == "wand":
                    results = len(self.results[qid])
                got[0][1 if route == "exact" else 0].results = results
                chains += got
            out.append((op, ctx.med(op) or 0.0, chains))
        return out

    def metrics(self, ctx):
        from perfbench.stats import nearest_rank, tail_percentile

        lat = [s * 1000.0 for s in ctx.samples.get("lookup", [])]
        out = {
            "packed_build_docs_per_s": (_rate(self.shape.n_docs, ctx.med("build_packed")), "docs/s"),
            "lookup_p50_ms": (statistics.median(lat) if lat else 0.0, "ms"),
        }
        # p90 needs >= 100 lookups so that >= 10 samples lie beyond it
        if len(lat) >= 100:
            out["lookup_p90_ms"] = (nearest_rank(lat, 90), "ms")
        tail = tail_percentile(lat)
        if tail is not None and tail[0] != 90:
            out[f"lookup_p{tail[0]}_ms"] = (tail[1], "ms")
        return out

    def end_to_end(self, ctx):
        m = self.metrics(ctx)
        return {"write_docs_per_s": m["packed_build_docs_per_s"][0], "query_ms": m["lookup_p50_ms"][0]}


# ---------------------------------------------------------------------------
# hybrid_tune
# ---------------------------------------------------------------------------


class HybridTune:
    """The paper's fusion study, as the second stage of ``batch``: three
    top-100 legs (BM25, a dense leg from ``cosine_topk`` over seeded
    embeddings keyed by doc id, and a seeded re-scoring of the BM25 leg),
    fused four ways, the NSF weight grid, and per-query IR metrics."""

    report = ("dense_qps", "fuse_qps", "grid_combos_per_s", "eval_qps")
    shape = Bm25Batch.shape
    study_queries = 16
    study_k = 100
    dim = 32
    step = 0.1
    fusions = (("bcf", None), ("rrf", None), ("nsf", "min-max"), ("nsf", "z-score"))
    systems = ("bm25", "dense", "rerank")
    n_check = 8

    def prepare(self, ctx: Ctx, docs, qrows) -> None:
        """Take the corpus and the study's queries; draw the embeddings."""
        self.ctx, self.outputs, self.docs, self.qrows = ctx, {}, docs, qrows
        self.demb = gen.doc_embeddings(ctx.seed, self.shape.n_docs, self.dim)

    def dense_inputs(self) -> None:
        """Qrels, query embeddings and the embedding frames, then the dense
        leg (``cosine_topk``'s warm-up call). Needs no BM25 index, so it runs
        beside the BM25 stage's warm-up."""
        import numpy as np
        import pandas as pd

        spark = self.ctx.spark
        self.qids = [q for q, _ in self.qrows]
        self.qrels = gen.make_qrels(self.ctx.seed, self.qids, self.shape.n_docs)
        self.qemb = gen.query_embeddings(self.ctx.seed, self.qids, self.demb, self.qrels)
        self.emb_df = spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(len(self.demb)), "embedding": list(self.demb)}),
            "vec_id long, embedding array<float>",
        ).repartition(8).persist()
        self.emb_df.count()
        self.qemb_df = spark.createDataFrame(
            [(q, v.tolist()) for q, v in zip(self.qids, self.qemb)], "qid long, qvec array<float>"
        )
        self.qrels_df = spark.createDataFrame(
            [(q, self.qrels[q]) for q in self.qids], "qid long, article_ids array<long>"
        )
        self.outputs["cosine_topk"] = self._dense().collect()

    def build_legs(self, idx) -> float:
        """The BM25 leg from a BM25 index of the corpus, its seeded
        re-scoring, and the legs table; returns the wall time, which counts
        toward setup_s."""
        import numpy as np

        from fusion_spark.scoring import search

        t0 = time.perf_counter()
        spark = self.ctx.spark
        bm25 = checks.ranked_by_qid(
            search(idx, queries_df(spark, self.qrows), k=self.study_k, k1=K1, b=B).collect()
        )
        dense = checks.ranked_by_qid(self.outputs["cosine_topk"], "cosine", "vec_id")
        rng = np.random.default_rng([self.ctx.seed, 0x3C])
        rerank = {
            q: sorted(
                ((d, s * (0.75 + 0.5 * float(rng.random()))) for d, s in bm25.get(q, [])),
                key=lambda x: (-x[1], x[0]),
            )
            for q in self.qids
        }
        self.legs_py = dict(zip(self.systems, (bm25, dense, rerank)))
        rows = [
            (system, q, d, float(s), rank)
            for system, by_q in self.legs_py.items()
            for q, ranked in by_q.items()
            for rank, (d, s) in enumerate(ranked, start=1)
        ]
        # through parquet, so no timed plan can match a cached one
        spark.createDataFrame(
            rows, "system string, qid long, doc_id long, score double, rank int"
        ).write.mode("overwrite").parquet(self.ctx.path("legs"))
        self.legs = spark.read.parquet(self.ctx.path("legs")).persist()
        self.legs.count()
        return time.perf_counter() - t0

    def _dense(self):
        from fusion_spark.extras.similarity import cosine_topk

        return cosine_topk(self.emb_df, self.qemb_df, k=self.study_k, vec_col="embedding")

    def _fuse(self, method, norm):
        from fusion_spark.fusion import fuse

        return fuse(self.legs, method=method, normalization=norm, return_topk=self.study_k, dtype="float32")

    def _grid(self):
        from fusion_spark.tuning import nsf_weight_grid_fused

        return nsf_weight_grid_fused(
            self.legs, self.qrels_df, "min-max", step=self.step, return_topk=self.study_k
        )

    def _eval(self):
        from fusion_spark.metrics import metrics_per_query

        return metrics_per_query(self.preds, self.qrels_df)

    def study_ops(self):
        """(op, span, plan builder). Each op is timed as ``plan().collect()``
        (the outputs are small: at most queries x k rows); the warm-up's
        collected output feeds the checks."""
        yield "cosine_topk", "extras.similarity.cosine_topk", self._dense
        for method, norm in self.fusions:
            op = f"fuse {method}" + (f" {norm}" if norm else "")
            yield op, "fusion.fuse", lambda m=method, n=norm: self._fuse(m, n)
        yield "nsf_weight_grid_fused", "tuning.nsf_weight_grid_fused", self._grid
        yield "metrics_per_query", "metrics.metrics_per_query", self._eval

    def _warm_up_study(self):
        todo = [(op, plan) for op, _, plan in self.study_ops() if op not in self.outputs]
        first = [(op, plan) for op, plan in todo if op != "metrics_per_query"]
        for (op, _), rows in zip(first, concurrently([lambda p=plan: p().collect() for _, plan in first])):
            self.outputs[op] = rows
        # the run metrics_per_query scores: the RRF fusion
        self.preds = self.ctx.spark.createDataFrame(
            [(r["qid"], r["doc_id"], r["rank"]) for r in self.outputs["fuse rrf"]],
            "qid long, doc_id long, rank int",
        ).persist()
        self.preds.count()
        self.outputs["metrics_per_query"] = self._eval().collect()

    def measure(self, ctx):
        with ctx.phase("warm-up"):
            self._warm_up_study()
        ops = list(self.study_ops())
        start, rounds = time.perf_counter(), 0
        while rounds < 1 or time.perf_counter() - start < 0.4 * ctx.seconds:
            for op, _, plan in ops:
                ctx.timed(op, lambda: plan().collect())
            rounds += 1

    def verify(self, ctx):
        from fusion_spark import oracle

        step = max(self.study_queries // self.n_check, 1)
        sample = self.qids[::step][: self.n_check]
        legs = {s: {q: by_q.get(q, []) for q in sample} for s, by_q in self.legs_py.items()}
        rounds = ctx.n("cosine_topk")
        got = checks.ranked_by_qid(self.outputs["cosine_topk"], "cosine", "vec_id")
        ok = all(
            checks.same_ranking(
                got.get(q, []), checks.cosine_ranking(self.demb, self.qemb[self.qids.index(q)]),
                self.study_k, 1e-9,
            )
            for q in sample
        )
        ctx.check("cosine_topk vs exact numpy cosine", ok, rounds)
        for method, norm in self.fusions:
            op = f"fuse {method}" + (f" {norm}" if norm else "")
            exp = oracle.fuse(legs, method=method, normalization=norm)
            got = checks.ranked_by_qid(self.outputs[op])
            tol = 1e-5 if method == "nsf" else 1e-12  # float32 normalization, as in the tests
            ok = all(checks.same_ranking(got.get(q, []), exp[q], self.study_k, tol) for q in sample)
            ctx.check(f"{op} vs oracle.fuse", ok, rounds)
        preds = checks.ranked_by_qid(self.outputs["fuse rrf"])
        rows = {r["qid"]: r.asDict() for r in self.outputs["metrics_per_query"]}
        ok = all(
            q in rows and checks.metrics_match(rows[q], self.qrels[q], [d for d, _ in preds.get(q, [])])
            for q in sample
        )
        ctx.check("metrics_per_query vs oracle.compute_all_metrics", ok, rounds)
        ctx.check("grid combos", len(self.outputs["nsf_weight_grid_fused"]) == self.n_combos, rounds)

    @property
    def n_combos(self) -> int:
        from fusion_spark.tuning import weight_simplex

        return len(weight_simplex(list(self.systems), self.step))

    def traced(self, ctx):
        from fusion_spark.fusion import normalize_scores

        self._warm_up_study()
        out = []
        for op, span, plan in self.study_ops():
            run = lambda p=plan: p().collect()  # noqa: E731
            steps = []
            if op.startswith("fuse nsf") or op == "nsf_weight_grid_fused":
                # both normalize first, over the legs repartitioned by qid
                norm = op.split()[-1] if op.startswith("fuse") else "min-max"
                dtype = "float32" if op.startswith("fuse") else "float64"
                steps.append(("fusion.normalize_scores", lambda n=norm, d=dtype: noop(
                    normalize_scores(self.legs.repartition("qid"), n, dtype=d))))
            steps.append((span, run))
            out.append(ctx.trace_op(op, run, steps))
        return out

    def metrics(self, ctx):
        q = self.study_queries
        fuse_s = [ctx.med(op) for op, span, _ in self.study_ops() if span == "fusion.fuse"]
        fuse_total = sum(fuse_s) if all(fuse_s) else None
        return {
            "dense_qps": (_rate(q, ctx.med("cosine_topk")), "queries/s"),
            "fuse_qps": (_rate(len(fuse_s) * q, fuse_total), "queries/s"),
            "grid_combos_per_s": (_rate(self.n_combos, ctx.med("nsf_weight_grid_fused")), "combos/s"),
            "eval_qps": (_rate(q, ctx.med("metrics_per_query")), "queries/s"),
        }

    def pass_s(self, ctx) -> float | None:
        """One pass of the study: the sum of its ops' medians."""
        meds = [ctx.med(op) for op, _, _ in self.study_ops()]
        return sum(meds) if all(meds) else None


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


class Batch(Workload):
    """The offline pipeline: the bm25_batch stage (index build, exhaustive
    top-1000 search of a 256-query batch), then the hybrid_tune stage (the
    fusion study on the first 16 of those queries, over the same corpus and
    index)."""

    name = "batch"
    report = Bm25Batch.report + HybridTune.report

    def __init__(self):
        self.bm25, self.study = Bm25Batch(), HybridTune()

    def setup(self, ctx):
        t0 = time.perf_counter()
        self.bm25.setup(ctx)
        self.study.prepare(ctx, self.bm25.docs, self.bm25.qrows[: self.study.study_queries])
        return time.perf_counter() - t0

    def measure(self, ctx):
        with ctx.phase("warm-up"):
            concurrently([self.bm25.warm_up, self.study.dense_inputs])
        self.bm25.measure(ctx)
        with ctx.phase("legs"):
            self.legs_s = self.study.build_legs(self.bm25.idx)
        self.study.measure(ctx)

    def verify(self, ctx):
        self.bm25.verify(ctx, self.study.legs_py["bm25"], self.study.study_k)
        self.study.verify(ctx)

    def traced(self, ctx):
        concurrently([self.bm25.warm_up, self.study.dense_inputs])
        out = self.bm25.traced(ctx)
        self.legs_s = self.study.build_legs(self.bm25.idx)
        return out + self.study.traced(ctx)

    def metrics(self, ctx):
        return {**self.bm25.metrics(ctx), **self.study.metrics(ctx)}

    def extra_setup_s(self) -> float:
        return self.legs_s

    def end_to_end(self, ctx):
        search, study = ctx.med("search"), self.study.pass_s(ctx)
        return {
            "write_docs_per_s": _rate(self.bm25.shape.n_docs, ctx.med("build_index")),
            "query_ms": 1000.0 * (search + study) if search and study else 0.0,
        }


WORKLOADS = {w.name: w for w in (Batch, Lookup)}
