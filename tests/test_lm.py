"""Bigram-LM scoring + Naive Bayes classification (kg/ops/lm.py):
pure-Python recompute on a hand corpus, separability on a labeled fixture,
edge cases (empty / single-token docs), and plan-shape pins."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kg.ops.lm import (
    UNK,
    lm_score,
    lm_vocab,
    nb_predict,
    nb_train,
    train_bigram_lm,
)

ROWS = [
    (0, "the cat sat on the mat", "en"),
    (1, "the dog sat on the log", "en"),
    (2, "le chat est sur le tapis", "fr"),
    (3, "le chien est sur la table", "fr"),
    (4, "x", "en"),  # single token: no bigrams
    (5, "", "fr"),  # empty: no tokens at all
]
VOCAB_SIZE = 8
ADD_K = 0.5


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, ["doc_id", "text", "lang"])


@pytest.fixture(scope="module")
def py_model():
    """Independent pure-Python recompute: vocab, mapping, bigram counts."""
    texts = {i: t.lower().split() for i, t, _ in ROWS}
    cnt = Counter(w for ws in texts.values() for w in ws)
    vocab = sorted(cnt, key=lambda w: (-cnt[w], w))[:VOCAB_SIZE]
    mp = lambda w: w if w in vocab else UNK  # noqa: E731
    bigrams: Counter = Counter()
    for ws in texts.values():
        mapped = [mp(w) for w in ws]
        for a, b in zip(mapped, mapped[1:]):
            bigrams[(a, b)] += 1
    return texts, vocab, mp, bigrams


def test_vocab_top_v_deterministic_ties(spark, docs, py_model):
    _, vocab_py, _, _ = py_model
    got = sorted(r.word for r in lm_vocab(docs, VOCAB_SIZE).collect())
    assert got == sorted(vocab_py)


def test_bigram_counts_match_python(spark, docs, py_model):
    _, _, _, bigrams_py = py_model
    vocab = lm_vocab(docs, VOCAB_SIZE)
    got = {
        (r.w1, r.w2): r.c12 for r in train_bigram_lm(docs, vocab).collect()
    }
    assert got == dict(bigrams_py)


def test_lm_score_matches_python_and_handles_short_docs(
    spark, docs, py_model
):
    texts, vocab_py, mp, bigrams_py = py_model
    v1 = len(vocab_py) + 1
    ctx: Counter = Counter()
    for (a, _b), c in bigrams_py.items():
        ctx[a] += c

    vocab = lm_vocab(docs, VOCAB_SIZE)
    bg = train_bigram_lm(docs, vocab)
    got = {
        r.doc_id: (r.n_bigrams, r.avg_logp)
        for r in lm_score(docs, bg, vocab, add_k=ADD_K).collect()
    }
    assert set(got) == set(texts)  # total: every doc scored
    for i, ws in texts.items():
        mapped = [mp(w) for w in ws]
        ps = list(zip(mapped, mapped[1:]))
        if not ps:
            assert got[i] == (0, None)
            continue
        lp = sum(
            math.log(
                (bigrams_py.get(p, 0) + ADD_K) / (ctx.get(p[0], 0) + ADD_K * v1)
            )
            for p in ps
        ) / len(ps)
        assert got[i][0] == len(ps)
        assert got[i][1] == pytest.approx(round(lp, 4), abs=1e-9)


def test_lm_score_ranks_in_domain_above_scrambled(spark, docs):
    """The point of the operator: text drawn from the training distribution
    scores higher than out-of-domain text under the same LM."""
    vocab = lm_vocab(docs, VOCAB_SIZE)
    bg = train_bigram_lm(docs, vocab)
    probe = docs.sparkSession.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "zz qq vv kk jj ww")],
        ["doc_id", "text"],
    )
    s = {r.doc_id: r.avg_logp for r in lm_score(probe, bg, vocab).collect()}
    assert s[100] > s[101]


def test_nb_recovers_separable_labels(spark):
    """On a corpus whose word distributions differ by label, self-train +
    predict recovers every label (the fastText-tier classifier bar)."""
    rows = []
    for i in range(20):
        rows.append((i, "spark shuffle join partition executor stage", "infra"))
    for i in range(20, 40):
        rows.append((i, "recipe butter flour sugar oven bake", "cooking"))
    rows.append((40, "spark oven", "infra"))  # mixed doc: majority word wins prior fight
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    vocab = lm_vocab(d, 64)
    priors, lik = nb_train(d, vocab, label_col="lang")
    pred = {
        r.doc_id: r.pred_label for r in nb_predict(d, priors, lik, vocab).collect()
    }
    truth = {i: l for i, _, l in rows}
    acc = sum(pred[i] == truth[i] for i in truth) / len(truth)
    assert acc >= 0.95, (acc, pred)


def test_nb_empty_doc_gets_argmax_prior(spark, docs):
    vocab = lm_vocab(docs, VOCAB_SIZE)
    priors, lik = nb_train(docs, vocab, label_col="lang")
    out = {r.doc_id: (r.pred_label, r.n_tokens) for r in
           nb_predict(docs, priors, lik, vocab).collect()}
    # doc 5 has no tokens -> argmax prior; 3 en vs 3 fr docs -> tie -> 'en'
    assert out[5] == ("en", 0)
    assert set(out) == {i for i, _, _ in ROWS}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lm_train_plan_broadcast_map_no_cartesian(spark, docs):
    vocab = lm_vocab(docs, VOCAB_SIZE)
    p = _plan(train_bigram_lm(docs, vocab))
    # vocab OOV-mapping joins are broadcast; the only wide op is the count
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # bigram pairs built array-locally: no window/lead pass anywhere
    assert "Window" not in p


def test_lm_score_plan_single_doc_aggregation_shuffle(spark, docs):
    vocab = lm_vocab(docs, VOCAB_SIZE)
    bg = train_bigram_lm(docs, vocab)
    p = _plan(lm_score(docs, bg, vocab))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p  # model + vocab joins stay broadcast


def test_nb_predict_plan_model_broadcast(spark, docs):
    vocab = lm_vocab(docs, VOCAB_SIZE)
    priors, lik = nb_train(docs, vocab, label_col="lang")
    p = _plan(nb_predict(docs, priors, lik, vocab))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # exactly ONE nested-loop join is allowed: the (vocab+unk) x labels
    # cross that densifies the model — broadcast on the label side, two
    # bounded dims, never corpus-sized. The token->model join itself must
    # be an equi hash join (asserted above) and nothing may plan as a
    # shuffle CartesianProduct.
    assert p.count("BroadcastNestedLoopJoin") == 1


class TestPerplexityBuckets:
    def test_equal_cuts_ties_and_nulls(self, spark):
        from kg.ops.lm import perplexity_buckets

        rows = [
            # lang a: 6 docs -> buckets of 2
            (1, "a", -1.0), (2, "a", -2.0), (3, "a", -3.0),
            (4, "a", -4.0), (5, "a", -5.0), (6, "a", None),
            # lang b: 1 doc -> bucket 0
            (7, "b", -9.0),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, avg_logp double"
        ).repartition(4)
        out = {r.doc_id: r.bucket for r in perplexity_buckets(df).collect()}
        assert out == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 2, 7: 0}


class TestDsirSelection:
    def _corpus(self, spark):
        in_dom = [
            (i, "the cat sat on the mat and the cat slept", "en")
            for i in range(6)
        ]
        out_dom = [
            (10 + i, "zx qv %s wk jr pl mn bt" % i, "xx") for i in range(6)
        ]
        return spark.createDataFrame(
            in_dom + out_dom, "doc_id long, text string, lang string"
        )

    def test_importance_prefers_target_domain(self, spark):
        from kg.ops.lm import dsir_importance

        docs = self._corpus(spark)
        target = docs.where(F.col("lang") == "en")
        imp = {
            r["doc_id"]: r["importance"]
            for r in dsir_importance(docs, target, vocab_size=32).collect()
        }
        in_avg = sum(imp[i] for i in range(6)) / 6
        out_avg = sum(imp[10 + i] for i in range(6)) / 6
        assert in_avg > out_avg

    def test_select_keeps_exact_fraction_deterministically(self, spark):
        from kg.ops.lm import dsir_select

        docs = self._corpus(spark)
        target = docs.where(F.col("lang") == "en")
        a = dsir_select(docs, target, frac=0.25, vocab_size=32).collect()
        b = dsir_select(
            docs.repartition(5), target, frac=0.25, vocab_size=32
        ).collect()
        assert len(a) == 3  # ceil(0.25 * 12)
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        # everything kept is in-domain
        assert all(r["doc_id"] < 10 for r in a)


class TestLrQualityClassifier:
    ROWS = [
        (0, "the cat sat on the mat and then the cat slept", True),
        (1, "the dog sat on the log and then the dog slept", True),
        (2, "the bird flew over the mat and the cat watched", True),
        (10, "zx qv wk jr pl mn bt kq", False),
        (11, "qv zx jr wk mn pl kq bt", False),
        (12, "zx zx qv qv wk wk jr jr", False),
        (20, "", False),  # empty doc: bias-only score
    ]

    @staticmethod
    def _py_train_score(rows, dim, iters, lr):
        import hashlib
        import math

        def bucket(w):
            return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % dim

        feats = {
            i: sorted({bucket(w) for w in t.lower().split()})
            for i, t, _ in rows
        }
        ys = {i: 1.0 if lab else 0.0 for i, _, lab in rows}
        n = float(len(rows))
        w = [0.0] * dim
        b = 0.0
        for it in range(iters):
            resid = {}
            for i in ys:
                if it == 0:
                    p = 0.5
                else:
                    z = b + sum(w[j] for j in feats[i])
                    p = 1.0 / (1.0 + math.exp(-z))
                resid[i] = p - ys[i]
            grad = {}
            for i, r in resid.items():
                for j in feats[i]:
                    grad[j] = grad.get(j, 0.0) + r
            for j, g in grad.items():
                w[j] = w[j] - lr * (g / n)
            b = b - lr * (sum(resid.values()) / n)
        scores = {}
        for i in ys:
            z = b + sum(w[j] for j in feats[i])
            scores[i] = round(1.0 / (1.0 + math.exp(-z)), 4)
        return w, b, scores

    def test_matches_python_recompute(self, spark):
        from kg.ops.lm import lr_score, lr_train

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, text string, lab boolean"
        )
        w, b = lr_train(df, "lab", dim=16, iters=3, lr=0.5)
        pw, pb, pscores = self._py_train_score(self.ROWS, 16, 3, 0.5)
        assert abs(b - pb) < 1e-9
        assert all(abs(a - c) < 1e-9 for a, c in zip(w, pw))
        got = {r["doc_id"]: (r["score"], r["pred"])
               for r in lr_score(df, w, b).collect()}
        for i, s in pscores.items():
            assert abs(got[i][0] - s) < 5e-4, i
            assert got[i][1] == (got[i][0] >= 0.5)

    def test_separates_reference_slice(self, spark):
        from kg.ops.lm import lr_score, lr_train

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, text string, lab boolean"
        )
        w, b = lr_train(df, "lab", dim=16, iters=8, lr=1.0)
        got = {r["doc_id"]: r["score"] for r in lr_score(df, w, b).collect()}
        pos = [got[i] for i in (0, 1, 2)]
        neg = [got[i] for i in (10, 11, 12)]
        assert min(pos) > max(neg)

    def test_partition_invariant(self, spark):
        from kg.ops.lm import lr_score, lr_train

        df = spark.createDataFrame(
            self.ROWS, "doc_id long, text string, lab boolean"
        )
        w, b = lr_train(df, "lab", dim=16, iters=3, lr=0.5)
        a = sorted(map(tuple, lr_score(df, w, b).collect()))
        w2, b2 = lr_train(df.repartition(5), "lab", dim=16, iters=3,
                          lr=0.5)
        c = sorted(map(tuple,
                       lr_score(df.repartition(3), w2, b2).collect()))
        assert a == c
