"""Model-quality metrics per task (reference §2.K: model.rs:614-721,
metrics.rs:37-165) via MLlib evaluators + expression-level extras."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def regression_metrics(pred_df: DataFrame, label="label", pred="prediction") -> dict:
    """r2, MAE and MSE in one aggregate job — the figures of MLlib's
    RegressionEvaluator (RegressionMetrics: SSerr / n, L1 / n, and
    1 - SSerr / SStot with SStot = var_samp(label) * (n - 1)), which
    would run one job per metric."""
    err = F.col(label).cast("double") - F.col(pred).cast("double")
    n, sserr, l1, var = pred_df.agg(
        F.count(F.lit(1)), F.sum(err * err), F.sum(F.abs(err)),
        F.var_samp(F.col(label).cast("double")),
    ).head()
    if not n:
        nan = float("nan")
        return {"r2": nan, "mean_absolute_error": nan, "mean_squared_error": nan}
    sstot = (var or 0.0) * (n - 1)  # one row: the evaluator's variance 0
    if sstot:
        r2 = 1.0 - sserr / sstot
    else:  # the evaluator's double division by 0.0
        r2 = float("nan") if sserr == 0 else float("-inf")
    return {"r2": r2, "mean_absolute_error": l1 / n, "mean_squared_error": sserr / n}


def classification_metrics(
    pred_df: DataFrame, label="label", pred="prediction", n_classes: int | None = None
) -> dict:
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    if n_classes is None:
        n_classes = pred_df.select(label).distinct().count()
    out = {}
    for name, metric in [
        ("f1", "f1"), ("precision", "weightedPrecision"),
        ("recall", "weightedRecall"), ("accuracy", "accuracy"),
    ]:
        try:
            out[name] = MulticlassClassificationEvaluator(
                labelCol=label, predictionCol=pred, metricName=metric
            ).evaluate(pred_df)
        except Exception as e:  # surface, don't swallow (VERDICT r1 #9)
            import warnings

            warnings.warn(f"classification metric {name!r} failed: {e}")
            out[f"{name}_error"] = str(e)
    try:
        out["mcc"] = _matthews_corrcoef(pred_df, label, pred)
    except Exception as e:
        import warnings

        warnings.warn(f"classification metric 'mcc' failed: {e}")
        out["mcc_error"] = str(e)
    if n_classes == 2:
        # roc_auc needs a probability/raw score column
        score_col = None
        for c in ("probability", "rawPrediction"):
            if c in pred_df.columns:
                score_col = c
                break
        if score_col:
            out["roc_auc"] = BinaryClassificationEvaluator(
                labelCol=label, rawPredictionCol=score_col, metricName="areaUnderROC"
            ).evaluate(pred_df)
        if "probability" in pred_df.columns:
            from pyspark.ml.functions import vector_to_array

            eps = 1e-15
            p1 = vector_to_array(F.col("probability"))[1]
            p = F.when(F.col(label) == 1.0, p1).otherwise(1.0 - p1)
            p = F.greatest(F.least(p, F.lit(1 - eps)), F.lit(eps))
            out["log_loss"] = pred_df.agg(F.avg(-F.log(p))).head()[0]
    return out


def _matthews_corrcoef(pred_df: DataFrame, label="label", pred="prediction") -> float:
    """Multiclass MCC (Gorodkin's R_k over the confusion matrix; the
    binary case reduces to the familiar TP/TN/FP/FN form). MLlib's
    evaluator has no MCC metric, so compute it from one distributed
    (label, prediction) count agg — k^2 rows to the driver, scan-bound.
    Reference exposes MCC per model.rs:614-721.
    """
    import math

    cm = (
        pred_df.groupBy(F.col(label).alias("t"), F.col(pred).alias("p"))
        .count()
        .collect()
    )
    s = sum(r["count"] for r in cm)
    c = sum(r["count"] for r in cm if r["t"] == r["p"])
    t_k: dict = {}
    p_k: dict = {}
    for r in cm:
        t_k[r["t"]] = t_k.get(r["t"], 0) + r["count"]
        p_k[r["p"]] = p_k.get(r["p"], 0) + r["count"]
    cov_tp = c * s - sum(p_k.get(k, 0) * t for k, t in t_k.items())
    var_t = s * s - sum(t * t for t in t_k.values())
    var_p = s * s - sum(p * p for p in p_k.values())
    denom = math.sqrt(var_t) * math.sqrt(var_p)
    return cov_tp / denom if denom else 0.0


def clustering_metrics(pred_df: DataFrame, features="features_vec") -> dict:
    from pyspark.ml.evaluation import ClusteringEvaluator

    return {
        "silhouette": ClusteringEvaluator(
            featuresCol=features, predictionCol="prediction"
        ).evaluate(pred_df)
    }


def decomposition_metrics(pca_model) -> dict:
    ev = pca_model.explainedVariance.toArray()
    return {"cumulative_explained_variance": float(ev.sum())}


# -- exposed metric functions (pgml.sklearn_f1_score / sklearn_r2_score /
#    sklearn_regression_metrics / sklearn_classification_metrics,
#    api.rs:997-1026) — thin wrappers over the evaluators, taking two
#    same-length value lists like the reference's SQL functions. ---------------


def _pairs_df(y_true, y_pred):
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(
        [(float(t), float(p)) for t, p in zip(y_true, y_pred)],
        "label double, prediction double",
    )


def f1_score(y_true, y_pred) -> float:
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    return MulticlassClassificationEvaluator(metricName="f1").evaluate(
        _pairs_df(y_true, y_pred)
    )


def r2_score(y_true, y_pred) -> float:
    from pyspark.ml.evaluation import RegressionEvaluator

    return RegressionEvaluator(metricName="r2").evaluate(_pairs_df(y_true, y_pred))


def regression_metrics_values(y_true, y_pred) -> dict:
    return regression_metrics(_pairs_df(y_true, y_pred))


def classification_metrics_values(y_true, y_pred) -> dict:
    return classification_metrics(_pairs_df(y_true, y_pred))


def population_stability_index(
    expected_df,
    actual_df,
    col: str,
    bin_edges: list[float],
    eps: float = 1e-6,
) -> "DataFrame":
    """Population Stability Index between two samples of ``col`` over
    FIXED bin edges (the drift monitor between a model's training
    snapshot and its serving traffic; PSI > 0.2 is the classic retrain
    alarm). Returns one row: (psi, n_expected, n_actual).

    Bins are data-independent constants (computed once from the
    training snapshot's percentiles, then frozen — the CCNet-cutoff
    pattern again), so each side is ONE partial-aggregated pass:
    width_bucket via a CASE chain, groupBy(bin), then a broadcast-free
    single-row join of two tiny bin tables. ``eps`` floors empty bins
    the standard way.
    """
    from pyspark.sql import functions as F

    def binned(df, name):
        b = F.lit(len(bin_edges))
        for i, edge in reversed(list(enumerate(bin_edges))):
            b = F.when(F.col(col) < F.lit(float(edge)), F.lit(i)).otherwise(b)
        return (
            df.select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias(name))
        )

    e = binned(expected_df, "ne")
    a = binned(actual_df, "na")
    tot = (
        e.join(a, "bin", "full_outer")
        .select(
            F.coalesce("ne", F.lit(0)).alias("ne"),
            F.coalesce("na", F.lit(0)).alias("na"),
        )
        .agg(F.sum("ne").alias("te"), F.sum("na").alias("ta"),
             F.collect_list(F.struct("ne", "na")).alias("bins"))
    )
    return tot.select(
        F.round(
            F.aggregate(
                "bins",
                F.lit(0.0),
                lambda acc, s: acc
                + (
                    (s["ne"] / F.col("te") + eps)
                    - (s["na"] / F.col("ta") + eps)
                )
                * F.log(
                    (s["ne"] / F.col("te") + eps) / (s["na"] / F.col("ta") + eps)
                ),
            ),
            6,
        ).alias("psi"),
        F.col("te").cast("bigint").alias("n_expected"),
        F.col("ta").cast("bigint").alias("n_actual"),
    )


def fit_platt_calibration(
    df,
    score_col: str,
    label_col: str,
    max_iter: int = 100,
) -> tuple[float, float]:
    """Platt scaling: fit p(y=1|s) = sigmoid(a·s + b) on held-out
    (score, label) pairs — the standard post-hoc calibration for
    classifiers whose raw scores are not probabilities (Platt 1999;
    sklearn's CalibratedClassifierCV(method='sigmoid')). One MLlib
    logistic fit on a single feature; the returned (a, b) pair is the
    entire calibrator state."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    feats = VectorAssembler(inputCols=[score_col], outputCol="__f").transform(
        df.select(
            F.col(score_col).cast("double"),
            F.col(label_col).cast("double").alias("__y"),
        )
    )
    m = LogisticRegression(
        featuresCol="__f", labelCol="__y", maxIter=max_iter, regParam=0.0
    ).fit(feats)
    return float(m.coefficients[0]), float(m.intercept)


def apply_platt_calibration(score_col, a: float, b: float):
    """Column expression: calibrated probability from a raw score."""
    from pyspark.sql import functions as F

    s = F.col(score_col) if isinstance(score_col, str) else score_col
    return 1.0 / (1.0 + F.exp(-(F.lit(a) * s + F.lit(b))))


def brier_score(df, prob_col: str, label_col: str) -> float:
    """Mean squared error of predicted probability vs outcome."""
    from pyspark.sql import functions as F

    return float(
        df.agg(
            F.avg(
                (F.col(prob_col) - F.col(label_col).cast("double")) ** 2
            )
        ).head()[0]
    )


def fit_isotonic_calibration(
    df,
    score_col: str,
    label_col: str,
):
    """Isotonic calibration: monotone non-parametric p(y=1|s) fit on
    held-out (score, label) pairs — sklearn's
    CalibratedClassifierCV(method='isotonic') analog, the
    shape-free alternative to Platt when the miscalibration isn't
    sigmoid-shaped. MLlib's IsotonicRegression runs PAVA on the
    aggregated (score, mean-label) series distributed. Returns the
    fitted model; apply with :func:`apply_isotonic_calibration`."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression
    from pyspark.sql import functions as F

    feats = VectorAssembler(inputCols=["__s"], outputCol="__f").transform(
        df.select(
            F.col(score_col).cast("double").alias("__s"),
            F.col(label_col).cast("double").alias("__y"),
        )
    )
    return IsotonicRegression(
        featuresCol="__f", labelCol="__y", isotonic=True
    ).fit(feats)


def apply_isotonic_calibration(model, df, score_col: str, out_col: str = "calibrated"):
    """Apply a fitted isotonic calibrator to a score column."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    feats = VectorAssembler(inputCols=["__s"], outputCol="__f").transform(
        df.withColumn("__s", F.col(score_col).cast("double"))
    )
    return (
        model.transform(feats)
        .withColumnRenamed("prediction", out_col)
        .drop("__s", "__f")
    )
