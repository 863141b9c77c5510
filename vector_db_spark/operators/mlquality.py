"""ML-backed document classification — the trained-quality-filter slot of
an LLM data pipeline (the role fastText/linear classifiers play in
CCNet/LLaMA-style curation), expressed through pyspark.ml on native
features.

North-star extension (the reference has no model-training surface). The
pipeline is the idiomatic distributed one:

* **Features are native expressions** (per-language stopword hit rates,
  punctuation ratio, mean token length) — computed inside whole-stage
  codegen during the scan, never a Python featurizer.
* **The train/test split is content-hash membership** (md5 bucket, the
  same idiom as ``curation.group_safe_split``) — reproducible across
  engines and partitionings, unlike ``randomSplit`` whose assignment
  depends on partition layout.
* **Training is pyspark.ml LogisticRegression** — a distributed LBFGS
  fit (per-partition gradient partials, driver line search), the
  standard shape for linear models at corpus scale. Coefficients vary in
  the last float bits with partitioning (summation order), so the audit
  reports *floored metrics*, not raw coefficients.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vector_db_spark.functions.text import LANG_STOPWORDS, punct_ratio, tokens


def doc_feature_frame(
    docs: DataFrame, label: Column, text_col: str = "text"
) -> DataFrame:
    """(doc_id, label, features...): per-language stopword hit *rates*
    plus shape features; ``label`` is any boolean Column over the input
    (the caller decides what the filter learns — language membership,
    quality tier, length class). Pure projection — zero shuffle, zero
    UDF. Note the feature set deliberately excludes raw length counts so
    a length-derived label is learned from token *shape*, not echoed."""
    t = tokens(text_col)
    n = F.greatest(F.size(t), F.lit(1))
    cols = [
        F.col("doc_id"),
        label.cast("double").alias("label"),
        punct_ratio(text_col).alias("f_punct"),
        (
            F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x)) / n
        ).cast("double").alias("f_tok_len"),
        F.log1p(F.size(t)).cast("double").alias("f_log_n_tok"),
        (F.size(F.array_distinct(t)) / n).cast("double").alias("f_distinct_frac"),
    ]
    for lang, words in sorted(LANG_STOPWORDS.items()):
        member = F.size(F.filter(t, lambda x: x.isin(*words)))
        cols.append((member / n).cast("double").alias(f"f_sw_{lang}"))
    return docs.select(*cols)


def hash_split(
    df: DataFrame, id_col: str = "doc_id", *, test_frac: float = 0.2,
    salt: str = "mlq"
) -> DataFrame:
    """Deterministic membership split: md5 bucket of the id, identical for
    any engine or partitioning. Adds ``is_test``."""
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
    byte = (F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1) * 16 + (
        F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    )
    return df.withColumn("is_test", byte < F.lit(int(test_frac * 256)))


@dataclass(frozen=True)
class ClassifierAudit:
    n_train: int
    n_test: int
    train_acc: float
    test_acc: float
    test_auc: float


def train_doc_classifier(
    docs: DataFrame, label: Column, *, test_frac: float = 0.2
) -> ClassifierAudit:
    """Fit the filter and score both splits. Returns counts + metrics; the
    fitted model itself is an implementation detail of the audit (callers
    wanting to *apply* the filter re-run the same fit — it is seconds even
    at large scale because the feature frame is narrow)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    feat = hash_split(doc_feature_frame(docs, label), test_frac=test_frac)
    fcols = [c for c in feat.columns if c.startswith("f_")]
    vec = VectorAssembler(inputCols=fcols, outputCol="features")
    train = vec.transform(feat.filter(~F.col("is_test"))).cache()
    test = vec.transform(feat.filter(F.col("is_test"))).cache()
    lr = LogisticRegression(
        maxIter=50, regParam=0.001, standardization=True, tol=1e-9
    )
    model = lr.fit(train)
    auc_ev = BinaryClassificationEvaluator(metricName="areaUnderROC")

    def acc(scored: DataFrame) -> float:
        agg = scored.agg(
            F.avg((F.col("prediction") == F.col("label")).cast("double"))
        ).collect()[0][0]
        return float(agg)

    tr_s, te_s = model.transform(train), model.transform(test)
    audit = ClassifierAudit(
        n_train=train.count(),
        n_test=test.count(),
        train_acc=acc(tr_s),
        test_acc=acc(te_s),
        test_auc=float(auc_ev.evaluate(te_s)),
    )
    train.unpersist()
    test.unpersist()
    return audit


@dataclass
class CalibrationAudit:
    n: int
    is_monotone: bool
    calibrated_brier: float
    raw_brier: float
    n_knots: int


def calibrate_scores(
    scored: DataFrame,
    *,
    score_col: str,
    label_col: str = "label",
) -> tuple[DataFrame, CalibrationAudit]:
    """Isotonic (monotone) probability calibration of classifier scores —
    distributed pool-adjacent-violators via ``pyspark.ml.regression.
    IsotonicRegression`` (the standard post-hoc calibration: LR scores
    rank well but their probabilities drift; isotonic maps score →
    empirical P(label=1) under only a monotonicity constraint).

    Returns ``(scored + calibrated_prob, audit)``. The audit pins the
    contract: the mapping is non-decreasing in the score, and Brier score
    (mean squared probability error) does not get worse — PAV is the
    least-squares monotone fit, so on the FIT data calibrated Brier ≤ raw
    Brier holds mathematically.

    Scale: pyspark.ml isotonic fits per-partition PAV then merges the
    bounded knot lists; applying the mapping is a broadcast binary search
    per row — map-only."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    feat = VectorAssembler(inputCols=[score_col], outputCol="__iso_f").transform(scored)
    iso = IsotonicRegression(
        featuresCol="__iso_f", labelCol=label_col, predictionCol="calibrated_prob"
    )
    model = iso.fit(feat)
    out = model.transform(feat).drop("__iso_f")
    preds = [float(x) for x in model.predictions]
    brier = out.agg(
        F.avg(F.pow(F.col("calibrated_prob") - F.col(label_col), 2)).alias("cal"),
        F.avg(F.pow(F.col(score_col) - F.col(label_col), 2)).alias("raw"),
        F.count("*").alias("n"),
    ).collect()[0]
    audit = CalibrationAudit(
        n=int(brier["n"]),
        is_monotone=all(a <= b + 1e-12 for a, b in zip(preds, preds[1:])),
        calibrated_brier=float(brier["cal"]),
        raw_brier=float(brier["raw"]),
        n_knots=len(preds),
    )
    return out, audit
