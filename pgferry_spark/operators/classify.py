"""Model-based corpus curation: a fastText-style quality classifier.

The staple of web-scale pretraining pipelines: label a small
seed set (here: weak labels from the heuristic quality score — in
production, "looks like Wikipedia/books" vs "random crawl"), train a
linear classifier over hashed bag-of-tokens features, and score the whole
corpus with the model.  The classifier generalizes past the heuristic's
exact thresholds, and its probability becomes a ranking signal for
token-budget selection.

Scale shape: features are HashingTF over the engine's own tokenizer
output — vocabulary-free, O(n_features) memory per row, no fitted
dictionary to broadcast.  Training runs on a (sampled) labeled frame;
LBFGS iterations are MLlib's distributed aggregate loop (each iteration
one treeAggregate pass over the training set — sample-sized, not
corpus-sized).  SCORING is the part that must scale: a fitted
LogisticRegressionModel transform is a map-only expression against the
broadcast coefficient vector, so the corpus pays one scan, zero
shuffles.  Like the MLlib KMeans IVF variant, the learned floats are
iteration-order sensitive, so the driver row is rows-only (no SQL
oracle); the heuristic-vs-model agreement test pins the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgferry_spark.functions.text import tokens


def _featurize(df: DataFrame, text_col: str, n_features: int):
    from pyspark.ml.feature import HashingTF

    toks = df.withColumn("__toks", tokens(F.lower(F.col(text_col))))
    tf = HashingTF(
        inputCol="__toks", outputCol="__features", numFeatures=int(n_features)
    )
    return tf.transform(toks).drop("__toks")


def train_quality_classifier(
    labeled: DataFrame,
    text_col: str,
    label_col: str,
    n_features: int = 4096,
    max_iter: int = 20,
    reg_param: float = 0.01,
):
    """Fit the hashed-BoW logistic classifier; returns the fitted
    LogisticRegressionModel (coefficients = n_features floats, broadcast-
    sized by construction).  At 100 TB the labeled frame is a sample —
    training cost is sample-bound, never corpus-bound.

    The model comes without its training summary: ``transform``'s UDF
    closure captures the model, and the summary holds the SparkSession,
    which Spark 4.1 cannot serialize once an ``Observation`` has run in
    that session (a migration run observes its row counts)."""
    from pyspark.ml.classification import LogisticRegression

    feat = _featurize(labeled, text_col, n_features)
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=int(max_iter),
        regParam=float(reg_param),
        standardization=False,
    )
    model = lr.fit(feat)
    model._java_obj.setSummary(labeled.sparkSession._jvm.scala.Option.empty())
    return model


def score_quality(
    model,
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_features: int = 4096,
) -> DataFrame:
    """Score the corpus: ``(id, prob_good, pred)``.  Map-only — tokenize,
    hash, dot the broadcast coefficients; one scan, zero shuffle,
    whatever the corpus size.  ``n_features`` must match training (the
    hash space IS the feature contract)."""
    from pyspark.ml.functions import vector_to_array

    feat = _featurize(df, text_col, n_features)
    scored = model.transform(feat)
    return scored.select(
        F.col(id_col),
        F.round(
            vector_to_array(F.col(model.getProbabilityCol())).getItem(1), 6
        ).alias("prob_good"),
        F.col(model.getPredictionCol()).cast("int").alias("pred"),
    )


def hashed_log_odds_scores(
    labeled: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """DETERMINISTIC twin of the LBFGS classifier: multinomial-NB log-odds
    over md5-hashed token buckets.

    Same feature space idea as :func:`train_quality_classifier` (hashed
    bag-of-tokens, vocabulary-free) but the weights are a closed-form
    Laplace-smoothed count ratio instead of iterative optimization —
    bit-reproducible and ANSI-SQL replayable, so it carries the oracle
    the float-bound model cannot (the ``ivf_pq_rerank_topk`` /
    ``ivf_pq_kmeans_topk`` division of labor, applied to classification).

    Per bucket ``b``: ``w_b = ln((pos_b+1)/(P+B)) - ln((neg_b+1)/(N+B))``
    with pos/neg = class token counts from ``labeled``, P/N class totals,
    B = ``n_buckets``. Weights are stored in integer MICRO-units
    (round(w*1e6)) so document scores are exact integer sums — no
    cross-engine float-accumulation drift in the oracle hash. Returns
    ``(id, score_micro, score)`` for every row of ``df`` (token-free
    docs score 0).

    Scale shape: one token-bucket shuffle over the labeled frame builds a
    ≤ ``n_buckets``-row weight table; scoring is a broadcast join + one
    id-keyed aggregation — corpus pays one scan + one combine-heavy
    shuffle, the same posture as ``dsir_importance_weights``."""
    weights = hashed_log_odds_weights(
        labeled, text_col, id_col, label_col, n_buckets
    )
    return score_with_log_odds(df, weights, text_col, id_col, n_buckets)


def _token_buckets(d: DataFrame, text_col: str, id_col: str, n_buckets: int):
    """(id, __b) rows: md5-hashed token buckets — the shared feature
    extractor for weight training and scoring."""
    toks = tokens(F.lower(F.col(text_col)))
    return (
        d.select(F.col(id_col), F.explode_outer(toks).alias("__tok"))
        .filter(F.col("__tok").isNotNull())
        .select(
            id_col,
            F.pmod(
                F.conv(F.substring(F.md5("__tok"), 1, 14), 16, 10).cast("long"),
                F.lit(int(n_buckets)),
            ).alias("__b"),
        )
    )


def hashed_log_odds_weights(
    labeled: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """The twin's weight table ``(__b, __w)`` — ≤ ``n_buckets`` rows of
    integer micro-unit log-odds, broadcast-sized by construction. Built
    once from the labeled frame; consumed by
    :func:`score_with_log_odds`."""
    counts = (
        _token_buckets(labeled, text_col, id_col, n_buckets)
        .join(labeled.select(id_col, F.col(label_col).cast("long").alias("__y")), id_col)
        .groupBy("__b")
        .agg(
            F.sum("__y").alias("__pos"),
            F.sum(F.lit(1) - F.col("__y")).alias("__neg"),
        )
    )
    tot = counts.agg(
        F.sum("__pos").alias("__P"), F.sum("__neg").alias("__N")
    )
    b = float(n_buckets)
    return counts.crossJoin(F.broadcast(tot)).select(
        "__b",
        F.round(
            (
                F.log((F.col("__pos") + 1.0) / (F.col("__P") + b))
                - F.log((F.col("__neg") + 1.0) / (F.col("__N") + b))
            )
            * 1e6
        )
        .cast("long")
        .alias("__w"),
    )


def score_with_log_odds(
    df: DataFrame,
    weights: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Score ``df`` against a prebuilt weight table: broadcast join + one
    id-keyed integer-sum aggregation; token-free docs score 0."""
    doc_sums = (
        _token_buckets(df, text_col, id_col, n_buckets)
        .join(F.broadcast(weights), "__b")
        .groupBy(id_col)
        .agg(F.sum("__w").alias("score_micro"))
    )
    return (
        df.select(id_col)
        .join(doc_sums, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("score_micro"), F.lit(0)).cast("long").alias("score_micro"),
        )
        .withColumn("score", (F.col("score_micro") / 1e6))
    )


def auc_scorecard(
    scored: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """One-row ROC-AUC scorecard ``(n_pos, n_neg, auc)`` via the
    Mann-Whitney rank formulation with exact tie handling (average
    ranks): AUC = (Σ_pos avg_rank − n_pos(n_pos+1)/2) / (n_pos·n_neg).

    Distributed shape: one aggregation to the distinct-score table
    (bounded by score cardinality, ≪ rows for integer-micro scores),
    then a cumulative window over THAT table — the same k-row-window
    posture as ``vocab_topk``'s coverage column, never a global
    per-row rank over the corpus."""
    from pyspark.sql import Window

    agg = scored.groupBy(F.col(score_col).alias("__s")).agg(
        F.sum(F.col(label_col).cast("long")).alias("__np"),
        F.count(F.lit(1)).alias("__nt"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = agg.withColumn(
        "__cum", F.coalesce(F.sum("__nt").over(w), F.lit(0))
    )
    n_pos = F.sum("__np")
    n_neg = F.sum(F.col("__nt") - F.col("__np"))
    auc = (
        F.sum(F.col("__np") * (F.col("__cum") + (F.col("__nt") + 1) / 2.0))
        - n_pos * (n_pos + 1) / 2.0
    ) / (n_pos * n_neg)
    return ranked.agg(
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        # degenerate single-class input: AUC is undefined — return an
        # EXPLICIT NULL (guarded, not a silent divide-by-zero NULL); the
        # caller reads n_pos/n_neg to see which class is missing
        F.when((n_pos > 0) & (n_neg > 0), F.round(auc, 6)).alias("auc"),
    )
