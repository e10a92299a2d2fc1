"""Trained quality filtering + DSIR importance resampling, set-based.

Two standard pretraining-corpus curation steps beyond heuristic scoring
(textstats.quality_score_col) — both from public methodology:

- A TRAINED quality classifier (the C4/GPT-3-style filter: logistic
  regression over hashed bag-of-words, "does this page look like the
  curated corpus?"). Features are a (doc_id, feat, val) exploded table.
  TRAINING is small-data (the labeled set is curated positives + sampled
  negatives): when the labeled triples fit under a driver guard they are
  collected once and iterated in numpy; past the guard, a fully
  relational GD loop takes over (margin = broadcast join + groupBy(doc)
  sum, gradient = groupBy(feat) sum, driver holds only the sparse weight
  vector). SCORING — the 10^12-row half — is always distributed: one
  broadcast join, no iteration, no per-row Python.

- DSIR (Data Selection via Importance Resampling, Xie et al. 2023,
  public): fit hashed unigram distributions on a TARGET corpus and the
  RAW corpus, weight each raw document by its log likelihood ratio, and
  resample with probability ∝ weight. The ratio model is a broadcast
  table of n_features rows; scoring is one broadcast join + one doc-keyed
  aggregate; the resample composes with sampling.weighted_priority_sample
  (Duffield–Lund–Thorup priority sampling — deterministic, mergeable
  top-k, no global sort).

Feature hashing (the "hashing trick", Weinberger et al. 2009, public):
feat = pmod(xxhash64(word), n_features) — computed natively, so the
Python layer never sees a token.

Scale notes: the feature table is the only large intermediate — persist
it across training iterations (train_quality_classifier does). Weights
travel driver→executors as a broadcast JOIN TABLE, not a closure, so the
n_features ceiling is the broadcast limit (~10^7 rows), far above the
2^18 default. Gradient collect is sparse: only features present in the
corpus come back.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.operators.sampling import weighted_priority_sample
from pdf_parser_spark.operators.textstats import words_expr

DEFAULT_FEATURES = 1 << 18
_INTERCEPT = -1  # reserved feat id for the bias term (pmod output is >= 0)


def _feat(n_features: int):
    """The hashed feature id of ``word`` — training and scoring must agree."""
    return F.pmod(F.xxhash64("word"), F.lit(n_features)).cast("long").alias("feat")


def hashed_features(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    n_features: int = DEFAULT_FEATURES,
                    binary: bool = False) -> DataFrame:
    """(doc_id, feat, val) — hashed bag-of-words.

    val = count(word hashes to feat) / n_tokens(doc) (L1-normalized,
    default), or 1.0 for presence when ``binary=True`` — binarized
    features keep every feature on the same O(1) scale, which plain
    gradient descent needs to reach a discriminative weight in few
    iterations (an L1-normalized rare word sits at ~1/n_tokens, so its
    weight must grow ~n_tokens× larger for the same margin). Plus one
    intercept row (feat = -1, val = 1.0) per non-empty document, so a
    linear model over this table has a bias without special-casing.
    Empty documents produce no rows (they score sigmoid(0) = 0.5
    downstream).
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_expr(F.col(text_col))).alias("word"),
    ).select("doc_id", _feat(n_features))
    counts = tok.groupBy("doc_id", "feat").agg(
        F.count("*").cast("double").alias("_c")
    )
    totals = counts.groupBy("doc_id").agg(F.sum("_c").alias("_n"))
    val = F.lit(1.0) if binary else (F.col("_c") / F.col("_n"))
    feats = counts.join(totals, "doc_id").select("doc_id", "feat", val.alias("val"))
    intercept = totals.select(
        "doc_id",
        F.lit(_INTERCEPT).cast("long").alias("feat"),
        F.lit(1.0).alias("val"),
    )
    return feats.unionByName(intercept)


def score_documents(features: DataFrame, weights: DataFrame) -> DataFrame:
    """(doc_id, margin, prob) — margin = Σ w_feat · val, prob = σ(margin).

    ``weights`` is a (feat, weight) table, broadcast: scoring is one
    broadcast join + one doc-keyed partial-aggregable sum — no wide
    shuffle, no Python. Features absent from the weight table contribute
    0 (join miss → coalesce), so a sparse model scores exactly.
    """
    joined = features.join(
        F.broadcast(weights.select("feat", "weight")), "feat", "left"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum(
                F.coalesce(F.col("weight"), F.lit(0.0)) * F.col("val")
            ).alias("margin")
        )
        .select(
            "doc_id",
            "margin",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("prob"),
        )
    )


def train_quality_classifier(
    features: DataFrame,
    labels: DataFrame,
    iters: int = 20,
    lr: float = 0.5,
    l2: float = 0.0,
    id_col: str = "doc_id",
    label_col: str = "label",
    max_driver_nnz: int = 20_000_000,
) -> DataFrame:
    """Full-batch logistic regression → (feat, weight) sparse model table.

    Training is the SMALL-data half of a quality filter: labels are
    hand-curated positives plus sampled negatives (10^5-10^7 docs even for
    a 10^12-doc corpus — labeling, not compute, is the bottleneck), while
    SCORING the full corpus is the distributed half (score_documents: one
    broadcast join, no iteration). So the trainer restricts the feature
    table to labeled docs, counts its nnz, and when it fits under
    ``max_driver_nnz`` (default 2·10^7 triples ≈ 500 MB of driver arrays)
    collects ONCE and runs the full-batch GD iterations vectorized in
    numpy — 20 iterations in milliseconds instead of 20 Spark jobs, with
    bit-compatible math (same update rule, deterministic (doc_id, feat)
    summation order). Larger labeled sets fall back to the all-relational
    loop below, which never collects more than the gradient.

    Both paths are a pure function of (features, labels, iters, lr, l2);
    cross-path parity to 1e-9 is asserted in the pytest suite.
    """
    lab = labels.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("double").alias("_y")
    )
    spark = features.sparkSession
    n_docs = lab.count()
    if n_docs == 0:
        raise ValueError("train_quality_classifier: empty label table")
    # unlabeled docs can never affect the gradient (the residual join is
    # inner): drop their features before either path touches them
    lfeats = features.join(lab.select("doc_id"), "doc_id").persist()
    try:
        nnz = lfeats.count()
        if nnz <= max_driver_nnz:
            return _train_driver(spark, lfeats, lab, n_docs, iters, lr, l2)
        return _train_relational(spark, lfeats, lab, n_docs, iters, lr, l2)
    finally:
        lfeats.unpersist()


def _train_driver(spark, lfeats: DataFrame, lab: DataFrame, n_docs: int,
                  iters: int, lr: float, l2: float) -> DataFrame:
    """Collect the labeled triples once; iterate in numpy on the driver.

    Summation order is pinned by sorting the triples on (doc_id, feat), so
    the result is deterministic across partitionings and cluster sizes.
    """
    import numpy as np

    schema = "feat long, weight double"
    rows = sorted(
        lfeats.select("doc_id", "feat", "val").collect(),
        key=lambda r: (r[0], r[1]),
    )
    if not rows:
        return spark.createDataFrame([], schema)
    y_by_doc = {r["doc_id"]: float(r["_y"]) for r in lab.collect()}
    feat_ids = np.array(sorted({r[1] for r in rows}), dtype=np.int64)
    fpos = {int(f): j for j, f in enumerate(feat_ids)}
    doc_ids = sorted({r[0] for r in rows})
    dpos = {d: j for j, d in enumerate(doc_ids)}
    di = np.fromiter((dpos[r[0]] for r in rows), np.int64, len(rows))
    fi = np.fromiter((fpos[r[1]] for r in rows), np.int64, len(rows))
    val = np.fromiter((r[2] for r in rows), np.float64, len(rows))
    y = np.fromiter((y_by_doc[d] for d in doc_ids), np.float64, len(doc_ids))

    w = np.zeros(len(feat_ids))
    for _ in range(iters):
        margin = np.bincount(di, weights=w[fi] * val, minlength=len(doc_ids))
        resid = 1.0 / (1.0 + np.exp(-margin)) - y
        g = np.bincount(fi, weights=resid[di] * val,
                        minlength=len(feat_ids)) / float(n_docs)
        w = w - lr * (g + l2 * w)
    out = [(int(f), float(v)) for f, v in zip(feat_ids, w) if v != 0.0]
    return spark.createDataFrame(out, schema)


def _train_relational(spark, feats: DataFrame, lab: DataFrame, n_docs: int,
                      iters: int, lr: float, l2: float) -> DataFrame:
    """Relational GD for labeled sets too large to collect.

    Per iteration (all native, deterministic given the data):
      1. margins: broadcast-join current weights onto the feature table,
         groupBy(doc_id) sum
      2. residuals: r_d = σ(margin_d) − y_d (projection, no exchange)
      3. gradient: g_f = Σ_d r_d · val_{d,f} / n_docs via groupBy(feat)
         over the features table joined to residuals
      4. driver: w ← w − lr · (g + l2 · w), sparse dict update

    Shuffle discipline: the feature table — the only corpus-sized
    intermediate — is hash-partitioned by doc_id ONCE and persisted in
    that layout, so per iteration the margin aggregate (groupBy doc_id)
    and the residual join reuse the cached partitioning and only the
    doc-count-sized sides (labels, residuals) move; the single wide
    exchange per iteration is the map-side-combined groupBy(feat)
    gradient, whose output is ≤ distinct-feats rows. The driver never
    holds anything larger than the nonzero weight vector. Gradient
    descent over a convex loss with a fixed iteration count is a pure
    function of the input — cross-path numpy parity is asserted in the
    pytest suite.
    """
    # co-partition the corpus-sized side by doc_id ONCE, keeping the
    # source's partition count (data-proportional: O(10^5) partitions at
    # 100 TB); every iteration's margin aggregate and residual join then
    # reuse the cached layout instead of re-exchanging the feature table
    n_parts = max(1, feats.rdd.getNumPartitions())
    feats = feats.repartition(n_parts, "doc_id").persist()

    w: dict[int, float] = {}
    schema = "feat long, weight double"
    for _ in range(iters):
        if w:
            wdf = spark.createDataFrame(sorted(w.items()), schema)
        else:
            wdf = spark.createDataFrame([], schema)
        margins = score_documents(feats, wdf)
        resid = margins.join(lab, "doc_id").select(
            "doc_id", (F.col("prob") - F.col("_y")).alias("_r")
        )
        grad_rows = (
            feats.join(resid, "doc_id")
            .groupBy("feat")
            .agg((F.sum(F.col("_r") * F.col("val")) / F.lit(float(n_docs))).alias("_g"))
            .collect()
        )
        for row in grad_rows:
            f = int(row["feat"])
            g = float(row["_g"]) + l2 * w.get(f, 0.0)
            nw = w.get(f, 0.0) - lr * g
            if nw == 0.0:
                w.pop(f, None)
            else:
                w[f] = nw
    feats.unpersist()
    return spark.createDataFrame(sorted(w.items()), schema)


def dsir_ngram_model(docs: DataFrame, text_col: str = "text",
                     n_features: int = DEFAULT_FEATURES,
                     alpha: float = 1.0) -> DataFrame:
    """(feat, logp) — add-α smoothed hashed unigram log-probabilities.

    logp(f) = ln((c_f + α) / (N + α·n_features)) — the full n_features
    bucket space is the smoothing denominator, so target and raw models
    with different support stay comparable. The table has at most
    n_features rows (broadcastable); buckets with zero count are NOT
    materialized — consumers fold the floor ln(α / (N + α·n_features))
    in via coalesce (dsir_log_ratios does).
    """
    words = F.explode(words_expr(F.col(text_col))).alias("word")
    tok = docs.select(words).select(_feat(n_features))
    counts = tok.groupBy("feat").agg(F.count("*").cast("double").alias("_c"))
    total = counts.agg(F.sum("_c").alias("_n"))
    return counts.crossJoin(F.broadcast(total)).select(
        "feat",
        F.log(
            (F.col("_c") + F.lit(alpha))
            / (F.col("_n") + F.lit(alpha * n_features))
        ).alias("logp"),
    )


def _model_floor(docs: DataFrame, text_col: str,
                 n_features: int, alpha: float) -> float:
    """ln(α / (N + α·n_features)) — the zero-count bucket's smoothed logp.

    One scalar aggregate (sum of per-doc token counts, no explode)."""
    n = docs.agg(
        F.sum(F.size(words_expr(F.col(text_col)))).alias("n")
    ).first()["n"] or 0
    return math.log(alpha) - math.log(float(n) + alpha * n_features)


def dsir_log_ratios(raw: DataFrame, target: DataFrame,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_features: int = DEFAULT_FEATURES,
                    alpha: float = 1.0) -> DataFrame:
    """(doc_id, n_tokens, log_ratio) — DSIR importance log-weights.

    log_ratio(d) = Σ_tokens [ logp_target(feat) − logp_raw(feat) ], the
    hashed-unigram log likelihood ratio of Xie et al. 2023. Both models
    are broadcast (≤ n_features rows each); scoring the raw corpus is one
    projection + two broadcast joins + one doc-keyed aggregate — the raw
    corpus itself is never shuffled by anything wider than doc_id.
    """
    t_model = dsir_ngram_model(target, text_col, n_features, alpha)
    r_model = dsir_ngram_model(raw, text_col, n_features, alpha)
    # fold each model's zero-count floor in at join time
    t_floor = _model_floor(target, text_col, n_features, alpha)
    r_floor = _model_floor(raw, text_col, n_features, alpha)
    tok = raw.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_expr(F.col(text_col))).alias("word"),
    ).select("doc_id", _feat(n_features))
    scored = (
        tok.join(F.broadcast(t_model.select("feat", F.col("logp").alias("_lt"))),
                 "feat", "left")
        .join(F.broadcast(r_model.select("feat", F.col("logp").alias("_lr"))),
              "feat", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                F.coalesce(F.col("_lt"), F.lit(t_floor))
                - F.coalesce(F.col("_lr"), F.lit(r_floor))
            ).alias("log_ratio"),
        )
    )
    base = raw.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("log_ratio"), F.lit(0.0)).alias("log_ratio"),
    )


def dsir_resample(raw: DataFrame, target: DataFrame, k: int,
                  text_col: str = "text", id_col: str = "doc_id",
                  n_features: int = DEFAULT_FEATURES,
                  alpha: float = 1.0, seed: int | None = None,
                  temperature: float = 1.0) -> DataFrame:
    """Keep the k raw docs importance-resampled toward the target corpus.

    weight(d) = exp(log_ratio(d) / (temperature · max(1, n_tokens(d))))
    — the PER-TOKEN likelihood ratio, so long documents do not dominate
    purely by length — fed to priority sampling (deterministic in
    (ids, weights, seed); TakeOrderedAndProject plan, no global sort).
    Returns (doc_id, n_tokens, log_ratio, weight) for the kept docs.
    """
    scored = dsir_log_ratios(raw, target, text_col, id_col, n_features, alpha)
    weighted = scored.withColumn(
        "weight",
        F.exp(
            F.col("log_ratio")
            / (F.lit(float(temperature)) * F.greatest(F.lit(1.0), F.col("n_tokens").cast("double")))
        ),
    )
    return weighted_priority_sample(
        weighted, "weight", k, id_col="doc_id", seed=seed
    ).drop("priority")
