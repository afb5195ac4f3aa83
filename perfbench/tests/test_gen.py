"""The generator gives identical inputs for a seed and other inputs for
another seed."""

from collections import Counter

import numpy as np
import pytest

from perfbench import gen

VOCAB = 50_000
MIX = {"head": 0.25, "torso": 0.45, "tail": 0.30}


def test_queries_repeat_per_seed_and_differ_across_seeds():
    assert gen.make_queries(7, 64, VOCAB, MIX) == gen.make_queries(7, 64, VOCAB, MIX)
    assert gen.make_queries(7, 64, VOCAB, MIX) != gen.make_queries(8, 64, VOCAB, MIX)
    assert gen.lookup_queries(7, 40, VOCAB, 0.25) == gen.lookup_queries(7, 40, VOCAB, 0.25)
    assert gen.lookup_queries(7, 40, VOCAB, 0.25) != gen.lookup_queries(8, 40, VOCAB, 0.25)


def test_embeddings_and_qrels_repeat_per_seed_and_differ_across_seeds():
    a, b, c = (gen.doc_embeddings(s, 100, 8) for s in (3, 3, 4))
    assert np.array_equal(a, b) and not np.array_equal(a, c)
    qids = [0, 1, 2, 3]
    assert gen.make_qrels(3, qids, 100) == gen.make_qrels(3, qids, 100)
    assert gen.make_qrels(3, qids, 100) != gen.make_qrels(4, qids, 100)
    q = gen.make_qrels(3, qids, 100)
    assert np.array_equal(gen.query_embeddings(3, qids, a, q), gen.query_embeddings(3, qids, a, q))
    assert all(1 <= len(v) <= 8 and v == sorted(set(v)) for v in q.values())


def test_query_sets_carry_duplicates_oov_and_every_band():
    rows = gen.make_queries(1, 256, VOCAB, MIX)
    toks = [t.split() for _, t in rows]
    assert any(len(t) != len(set(t)) for t in toks)  # a duplicate token
    assert any(w.startswith("oov") for t in toks for w in t)
    ids = [int(w[1:]) for t in toks for w in t if w.startswith("t")]
    assert min(ids) < gen.HEAD[1] * VOCAB and max(ids) >= gen.TAIL[0] * VOCAB
    look = gen.lookup_queries(1, 100, VOCAB, 0.25)
    heads = [t for _, t, kind in look if kind == "head"]
    assert len(heads) == 25
    assert all(int(w[1:]) < 5 for t in heads for w in t.split())


def test_query_shape_is_fixed_and_only_terms_follow_the_seed():
    a, b = gen.make_queries(1, 64, VOCAB, MIX), gen.make_queries(2, 64, VOCAB, MIX)
    assert [len(t.split()) for _, t in a] == [len(t.split()) for _, t in b]
    bands = gen._bands(64, MIX)
    assert [bands.count(k) for k in ("head", "tail", "torso")] == [16, 19, 29]


@pytest.fixture(scope="module")
def spark():
    from fusion_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2, extra_conf={
        "spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_corpus_repeats_per_seed_and_differs_across_seeds(spark):
    shape = gen.CorpusShape(n_docs=300, vocab=VOCAB, dl_min=12, dl_max=108)
    a = sorted(tuple(r) for r in gen.corpus_frame(spark, 1, shape, 3).collect())
    b = sorted(tuple(r) for r in gen.corpus_frame(spark, 1, shape, 2).collect())
    c = sorted(tuple(r) for r in gen.corpus_frame(spark, 2, shape, 3).collect())
    assert a == b  # partitioning does not change the corpus
    assert a != c
    assert [d for d, _ in a] == list(range(300))
    lengths = [len(t.split()) for _, t in a]
    assert min(lengths) >= 12 and max(lengths) <= 108 and len(set(lengths)) > 30
    counts = Counter(w for _, t in a for w in t.split())
    # skewed: t0 is the most frequent term and the vocabulary is large
    assert counts.most_common(1)[0][0] == "t0"
    assert counts["t0"] > 50 * np.median(list(counts.values()))
    assert len(counts) > 5_000
