"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, shape)``: the same seed gives the
same corpus, queries, embeddings and qrels; another seed gives other ones.
The library under test receives only the generated frames.

Corpus (Spark side, md5-based like ``tools/bench_wand.py``): doc ``d`` has
``dl(d)`` tokens, ``dl`` drawn uniformly from ``[dl_min, dl_max]``; token
``j`` is ``t<floor(vocab * u**3)>`` with ``u`` the first 32 bits of
``md5("<seed>:<d>:<j>")`` scaled to [0, 1). The cube skews term frequency
toward low ids: ``t0`` alone is about 2.7 % of all tokens at a 50k vocabulary
(it sits in most docs and its BM25 idf is negative), while ids near the top
of the range occur a handful of times in the whole corpus.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Query term bands, as fractions of the vocabulary. With u**3 the share of
# tokens below id x is (x / vocab) ** (1/3): head ids [0, 0.001 V) carry ~10 %
# of all tokens, torso ids [0.02 V, 0.1 V) ~19 %, tail ids [0.8 V, V) ~7 %
# spread over a fifth of the vocabulary.
HEAD = (0.0, 0.001)
TORSO = (0.02, 0.1)
TAIL = (0.8, 1.0)
# the five most frequent terms: t0 alone sits in ~80 % of docs
TOP = (0.0, 0.0001)


@dataclass(frozen=True)
class CorpusShape:
    n_docs: int
    vocab: int
    dl_min: int
    dl_max: int


def corpus_frame(spark, seed: int, shape: CorpusShape, partitions: int):
    """(doc_id long, text string), built entirely by Spark expressions."""
    from pyspark.sql import functions as F

    span = shape.dl_max - shape.dl_min + 1
    u = f"conv(substr(md5(concat('{int(seed)}:', cast(id as string), ':', cast(j as string))), 1, 8), 16, 10)"
    tok = f"concat('t', cast(floor({shape.vocab} * pow(cast({u} as double) / 4294967296.0, 3.0)) as long))"
    dl = (
        f"{shape.dl_min} + pmod(cast(conv(substr(md5(concat('{int(seed)}:len:', "
        f"cast(id as string))), 1, 8), 16, 10) as long), {span})"
    )
    return (
        spark.range(0, shape.n_docs, 1, partitions)
        .withColumn("dl", F.expr(dl))
        .withColumn("text", F.expr(f"concat_ws(' ', transform(sequence(1, dl), j -> {tok}))"))
        .select(F.col("id").alias("doc_id"), "text")
    )


def _band_term(rng: np.random.Generator, vocab: int, band: tuple[float, float]) -> str:
    lo = int(band[0] * vocab)
    hi = max(int(band[1] * vocab), lo + 1)
    return f"t{int(rng.integers(lo, hi))}"


def _bands(n: int, mix: dict[str, float]) -> list[str]:
    """``n`` band names in a fixed interleaved order with the shares of
    ``mix`` (largest-remainder rounding): the same for every seed, so the
    work a query batch carries does not swing with the seed."""
    names = sorted(mix)
    total = sum(mix.values())
    out, acc = [], {k: 0.0 for k in names}
    for _ in range(n):
        for k in names:
            acc[k] += mix[k] / total
        pick = max(names, key=lambda k: acc[k])
        acc[pick] -= 1.0
        out.append(pick)
    return out


def make_queries(seed: int, n: int, vocab: int, mix: dict[str, float]) -> list[tuple[int, str]]:
    """``n`` (qid, question) rows. ``mix`` maps a band (head, torso, tail) to
    its share of queries. Query ``i`` has ``2 + i % 4`` terms: the first
    ~70 % from its own band, the rest from the torso. Every sixth query
    repeats its first term (a duplicate token) and every eighth carries an
    out-of-vocabulary token. The seed picks the terms; the shape is fixed."""
    rng = np.random.default_rng([int(seed), 0x51])
    bands = {"head": HEAD, "torso": TORSO, "tail": TAIL}
    rows = []
    for i, band in enumerate(_bands(n, mix)):
        n_terms = 2 + i % 4
        own = -(-7 * n_terms // 10)  # ceil(0.7 * n_terms)
        terms = [_band_term(rng, vocab, bands[band] if j < own else TORSO) for j in range(n_terms)]
        if i % 6 == 5:
            terms.append(terms[0])  # duplicate token: contributes twice
        if i % 8 == 7:
            terms.insert(int(rng.integers(0, len(terms) + 1)), f"oov{int(rng.integers(1 << 30))}")
        rows.append((i, " ".join(terms)))
    return rows


def lookup_queries(seed: int, n: int, vocab: int, head_share: float) -> list[tuple[int, str, str]]:
    """Closed-loop lookups: (qid, question, band). ``head_share`` of them
    (spread evenly through the sequence) are 2-4 distinct terms of the five
    most frequent (dense: the exact route); the rest use 2-4 tail terms
    (selective: the WAND route). Every sixth lookup repeats a term and every
    eighth tail lookup carries an OOV token. The seed picks the terms."""
    rng = np.random.default_rng([int(seed), 0x10])
    rows = []
    for i, kind in enumerate(_bands(n, {"head": head_share, "tail": 1.0 - head_share})):
        n_terms = 2 + i % 3
        if kind == "head":
            top = max(int(TOP[1] * vocab), 4)
            terms = [f"t{int(t)}" for t in rng.choice(top, n_terms, replace=False)]
        else:
            terms = [_band_term(rng, vocab, TAIL) for _ in range(n_terms)]
        if i % 6 == 5:
            terms.append(terms[-1])
        if kind == "tail" and i % 8 == 7:
            terms.append(f"oov{int(rng.integers(1 << 30))}")
        rows.append((i, " ".join(terms), kind))
    return rows


def doc_embeddings(seed: int, n_docs: int, dim: int) -> np.ndarray:
    """(n_docs, dim) float32 matrix, row d keyed by doc id d. Docs fall in
    ``n_topics`` clusters so a query near a topic centre has a real top-k."""
    rng = np.random.default_rng([int(seed), 0xE1])
    n_topics = 64
    centres = rng.standard_normal((n_topics, dim))
    topic = rng.integers(0, n_topics, n_docs)
    noise = rng.standard_normal((n_docs, dim))
    return (centres[topic] + 1.5 * noise).astype(np.float32)


def query_embeddings(seed: int, qids: list[int], docs: np.ndarray, qrels: dict[int, list[int]]) -> np.ndarray:
    """One vector per qid: the mean of its relevant docs' vectors plus noise,
    so the dense leg retrieves some of the relevant docs."""
    rng = np.random.default_rng([int(seed), 0xE2])
    dim = docs.shape[1]
    out = np.empty((len(qids), dim), dtype=np.float32)
    for i, q in enumerate(qids):
        out[i] = docs[qrels[q]].mean(axis=0) + 0.8 * rng.standard_normal(dim)
    return out


def make_qrels(seed: int, qids: list[int], n_docs: int) -> dict[int, list[int]]:
    """1-8 relevant docs per query, drawn uniformly from the corpus. Sorted,
    distinct doc ids."""
    rng = np.random.default_rng([int(seed), 0x9E])
    return {
        q: sorted({int(d) for d in rng.integers(0, n_docs, int(rng.integers(1, 9)))})
        for q in qids
    }
