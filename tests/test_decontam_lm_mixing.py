"""Decontamination, unigram-LM scoring, and domain-mixing-weight tests."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators import decontam, lm_quality, sampling
from pdf_parser_spark.operators.textstats import token_count_col

# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

EVAL_SENT = "the quick brown fox jumps over the lazy dog"  # 9 words → 5 5-grams


@pytest.fixture(scope="module")
def contam_docs(spark):
    rows = [
        # exact copy of the eval sentence: every gram matches
        (0, EVAL_SENT),
        # eval sentence embedded in a longer doc: partial fraction
        (1, "intro words here " + EVAL_SENT + " and some trailing words too"),
        # unrelated doc: zero matches
        (2, "completely different material with no overlap at all whatsoever"),
        # too short for any 5-gram
        (3, "tiny doc"),
        # empty
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def eval_docs(spark):
    return spark.createDataFrame([(100, EVAL_SENT)], "doc_id long, text string")


def _grams(text, k=5):
    ws = [w for w in text.lower().split() if w]
    return {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}


def test_contamination_counts_match_python_reference(spark, contam_docs, eval_docs):
    out = {
        r["doc_id"]: r
        for r in decontam.contamination(
            contam_docs, eval_docs, k=5, threshold=0.2
        ).collect()
    }
    ev = _grams(EVAL_SENT)
    for doc_id, text in [(0, EVAL_SENT),
                         (1, "intro words here " + EVAL_SENT + " and some trailing words too"),
                         (2, "completely different material with no overlap at all whatsoever"),
                         (3, "tiny doc"), (4, "")]:
        g = _grams(text)
        row = out[doc_id]
        assert row["n_grams"] == len(g), doc_id
        assert row["n_matched"] == len(g & ev), doc_id
        expected_frac = round(len(g & ev) / len(g), 4) if g else 0.0
        assert row["contamination_frac"] == pytest.approx(expected_frac)
        assert row["is_contaminated"] == (expected_frac >= 0.2)


def test_contamination_fully_contaminated_and_clean_extremes(spark, contam_docs, eval_docs):
    out = {r["doc_id"]: r for r in decontam.contamination(contam_docs, eval_docs).collect()}
    assert out[0]["contamination_frac"] == 1.0 and out[0]["is_contaminated"]
    assert out[2]["n_matched"] == 0 and not out[2]["is_contaminated"]
    assert out[3]["n_grams"] == 0 and out[3]["contamination_frac"] == 0.0
    assert out[4]["n_grams"] == 0


def test_with_kgrams_distinct_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "x y")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r["_grams"] for r in decontam.with_kgrams(docs, k=2).collect()}
    # "a b a b a b" has bigrams [a b, b a, a b, b a, a b] → distinct {a b, b a}
    assert sorted(rows[0]) == ["a b", "b a"]
    assert rows[1] == ["x y"]


# ---------------------------------------------------------------------------
# unigram LM scoring
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def lm_docs(spark):
    # corpus: N=6 tokens, V=3 words; counts: aa=3, bb=2, cc=1
    return spark.createDataFrame(
        [(0, "aa bb aa"), (1, "aa bb cc"), (2, "")],
        "doc_id long, text string",
    )


def test_unigram_model_addone_logprobs(spark, lm_docs):
    model = {r["word"]: r for r in lm_quality.unigram_model(lm_docs).collect()}
    n, v = 6, 3
    assert model["aa"]["count"] == 3
    assert model["aa"]["logp"] == pytest.approx(math.log(4 / (n + v)))
    assert model["bb"]["logp"] == pytest.approx(math.log(3 / (n + v)))
    assert model["cc"]["logp"] == pytest.approx(math.log(2 / (n + v)))


def test_unigram_scores_mean_and_empty_doc(spark, lm_docs):
    out = {r["doc_id"]: r for r in lm_quality.unigram_scores(lm_docs).collect()}
    n, v = 6, 3
    lp = {w: math.log((c + 1) / (n + v)) for w, c in [("aa", 3), ("bb", 2), ("cc", 1)]}
    exp0 = (2 * lp["aa"] + lp["bb"]) / 3
    exp1 = (lp["aa"] + lp["bb"] + lp["cc"]) / 3
    assert out[0]["avg_logprob"] == pytest.approx(round(exp0, 4))
    assert out[0]["ppl"] == pytest.approx(round(math.exp(-exp0), 4))
    assert out[1]["avg_logprob"] == pytest.approx(round(exp1, 4))
    assert out[2]["n_tokens"] == 0
    assert out[2]["avg_logprob"] == 0.0
    assert out[2]["ppl"] == 1.0  # exp(-0): the empty product


def test_unigram_scores_oov_floor_with_capped_vocab(spark, lm_docs):
    n, v = 6, 3
    floor = math.log(1 / (n + v))
    model = lm_quality.unigram_model(lm_docs, vocab_size=1)  # keeps only "aa"
    out = {
        r["doc_id"]: r
        for r in lm_quality.unigram_scores(lm_docs, model, oov_logp=floor).collect()
    }
    lp_aa = math.log(4 / (n + v))
    exp1 = (lp_aa + 2 * floor) / 3  # bb, cc are OOV → floor
    assert out[1]["avg_logprob"] == pytest.approx(round(exp1, 4))


def test_unigram_scores_better_docs_score_higher(spark):
    docs = spark.createDataFrame(
        [(0, "common common common common"), (1, "rare1 rare2 rare3 rare4")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_quality.unigram_scores(docs).collect()}
    assert out[0]["avg_logprob"] > out[1]["avg_logprob"]
    assert out[0]["ppl"] < out[1]["ppl"]


# ---------------------------------------------------------------------------
# domain mixing weights
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def mix_docs(spark):
    rows = []
    did = 0
    for _ in range(9):  # big: 9 docs × 4 tokens = 36 tokens
        rows.append((did, "big", "w w w w")); did += 1
    for _ in range(1):  # small: 1 doc × 4 tokens = 4 tokens
        rows.append((did, "small", "w w w w")); did += 1
    return spark.createDataFrame(rows, "doc_id long, domain string, text string")


def test_mixing_weights_hand_computed(spark, mix_docs):
    out = {
        r["domain"]: r
        for r in sampling.domain_mixing_weights(
            mix_docs, ["domain"], token_count_col(F.col("text")), alpha=0.5
        ).collect()
    }
    total, big_t, small_t = 40, 36, 4
    ssum = math.sqrt(big_t) + math.sqrt(small_t)  # 6 + 2 = 8
    assert out["big"]["n_docs"] == 9 and out["big"]["n_tokens"] == big_t
    assert out["big"]["token_share"] == pytest.approx(round(big_t / total, 6))
    assert out["big"]["mix_weight"] == pytest.approx(round(6 / ssum, 6))
    assert out["small"]["mix_weight"] == pytest.approx(round(2 / ssum, 6))
    # temperature flattens: small domain upsampled, big downsampled
    assert out["small"]["sampling_factor"] > 1 > out["big"]["sampling_factor"]


def test_mixing_weights_alpha_one_is_natural_sampling(spark, mix_docs):
    out = sampling.domain_mixing_weights(
        mix_docs, ["domain"], token_count_col(F.col("text")), alpha=1.0
    ).collect()
    for r in out:
        assert r["sampling_factor"] == pytest.approx(1.0)
        assert r["mix_weight"] == pytest.approx(r["token_share"], abs=1e-6)


def test_mixing_weights_sum_to_one(spark, mix_docs):
    out = sampling.domain_mixing_weights(
        mix_docs, ["domain"], token_count_col(F.col("text")), alpha=0.5
    ).collect()
    assert sum(r["mix_weight"] for r in out) == pytest.approx(1.0, abs=1e-4)
    assert sum(r["token_share"] for r in out) == pytest.approx(1.0, abs=1e-4)


def test_bigram_scores_hand_computed(spark):
    """Three-doc corpus small enough to fold by hand: P(b|a) =
    (c(a,b)+1)/(c(a)+V), doc score = mean ln P over adjacent pairs."""
    import math
    from collections import Counter

    texts = {0: "a b a b c", 1: "a b", 2: "x"}
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    words = {i: t.split() for i, t in texts.items()}
    uni = Counter(w for ws in words.values() for w in ws)
    bi = Counter(
        (ws[j], ws[j + 1]) for ws in words.values() for j in range(len(ws) - 1)
    )
    v = len(uni)

    def want(ws):
        pairs = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        if not pairs:
            return (0, 0.0, 1.0)
        a = sum(
            math.log((bi[p] + 1) / (uni[p[0]] + v)) for p in pairs
        ) / len(pairs)
        return (len(pairs), round(a, 4), round(math.exp(-a), 4))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logprob2"], r["ppl2"])
        for r in lm_quality.bigram_scores(docs).collect()
    }
    assert got == {i: want(ws) for i, ws in words.items()}


def test_bigram_scores_rank_orders_shuffled_spam_below_natural(spark):
    """A doc whose words are an unnatural ordering of the corpus vocab must
    score worse than the natural ordering the rest of the corpus repeats —
    the word-order signal the unigram gate cannot see."""
    natural = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, natural) for i in range(8)] + [(8, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["ppl2"] for r in lm_quality.bigram_scores(docs).collect()}
    assert got[8] > got[0]
    # unigram scores are IDENTICAL for the shuffle (same bag of words)
    u = {r["doc_id"]: r["ppl"] for r in lm_quality.unigram_scores(docs).collect()}
    assert u[8] == u[0]


def test_mixing_weights_zero_token_domain_no_ansi_crash(spark):
    """A domain whose docs are all empty must yield factor 0, not a
    DIVIDE_BY_ZERO job abort under Spark 4 ANSI mode."""
    from pdf_parser_spark.operators import sampling as sampling_op
    from pdf_parser_spark.operators import textstats as textstats_op

    docs = spark.createDataFrame(
        [("en", "a", "real content with several words here"),
         ("en", "b", ""), ("en", "b", "   ")],
        "lang string, source string, text string",
    )
    rows = {r["source"]: r for r in sampling_op.domain_mixing_weights(
        docs, ("lang", "source"),
        textstats_op.token_count_col(F.col("text")), alpha=0.5,
    ).collect()}
    assert rows["b"]["token_share"] == 0.0
    assert rows["b"]["sampling_factor"] == 0.0
    assert rows["a"]["token_share"] == 1.0


def test_all_oov_doc_scores_worst_not_best(spark):
    """Against a capped external model, a doc of entirely unseen tokens
    must score BELOW in-vocabulary docs (it used to get ppl=1, the best)."""
    from pdf_parser_spark.operators import lm_quality as lm

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
        "doc_id long, text string",
    )
    model = lm.unigram_model(corpus, vocab_size=20)
    probe = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "zzqx wvut qqpl mmnb")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["ppl"]
           for r in lm.unigram_scores(probe, model=model).collect()}
    assert got[2] > got[1]          # gibberish scores worse
    assert got[2] > 1.0             # and no longer the perfect score
