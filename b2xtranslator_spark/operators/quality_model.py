"""Learned quality classifier: the model-based corpus filter real
pretraining pipelines run after the rule-based one.

CCNet (Wenzek et al. 2019) and the GPT-3 data work both filter crawl
text with a LINEAR classifier trained to separate a trusted reference
corpus from raw crawl — rules catch boilerplate, the model catches
"looks wrong" text no rule names. This module is that stage on Spark
ML: featurize with the SAME row-local signals the rule filters use
(textstats.row_signals columns — pure Catalyst maps, zero shuffle),
train `pyspark.ml.classification.LogisticRegression` on labeled
examples, score the corpus with the fitted model's broadcast
coefficients.

100 TB shape:
- featurize: pure map (the textstats plans, plan-asserted elsewhere);
- train: on a LABELED SAMPLE, not the corpus — callers pass the labeled
  frame (reference-vs-crawl, human labels, or the heuristic labels from
  `heuristic_labels`); Spark ML's LBFGS aggregates gradients
  treeAggregate-style, so even a large labeled set trains without
  driver-sized collects;
- score: `model.transform` is a codegen'd linear map over the feature
  vector — no shuffle, no Python.

Iterative optimization is not SQL-expressible, so the driver gate covers
scoring rows-only; pytest pins behavior (planted spam scores below
planted prose; the fitted AUC on held-out data beats chance by a wide
margin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import row_signals

__all__ = ["heuristic_labels", "quality_features", "score_quality", "train_quality_model"]

FEATURES = [
    "alpha_ratio",
    "punct_ratio",
    "mean_word_len",
    "quality",
    "dup_line_frac",
    "top_word_frac",
    "top_bigram_frac",
    "log_n_chars",
]


def quality_features(documents: DataFrame) -> DataFrame:
    """doc_id + the numeric feature columns (row-local, zero shuffle).
    Since optimization round 6 every feature comes from the shared
    textstats.row_signals projection — ONE scan, one projection, no
    doc_id joins (the old shape joined quality_score and
    repetition_stats frames, scanning the corpus per signal group for
    identical values)."""
    return row_signals(documents).select(
        "doc_id",
        "alpha_ratio",
        "punct_ratio",
        "mean_word_len",
        "quality",
        "dup_line_frac",
        "top_word_frac",
        "top_bigram_frac",
        "log_n_chars",
    )


def heuristic_labels(documents: DataFrame) -> DataFrame:
    """Weak labels for self-supervised training when no trusted/crawl
    split exists: the rule filter's own extremes (clean prose = 1, loud
    boilerplate/spam = 0), middle band dropped — the standard bootstrap."""
    feats = quality_features(documents)
    good = (
        (F.col("alpha_ratio") > 0.6)
        & (F.col("quality") > 0.5)
        & (F.col("dup_line_frac") < 0.1)
        & (F.col("top_word_frac") < 0.2)
    )
    bad = (
        (F.col("alpha_ratio") < 0.4)
        | (F.col("dup_line_frac") > 0.5)
        | (F.col("top_word_frac") > 0.5)
    )
    return feats.withColumn(
        "label", F.when(good, F.lit(1.0)).when(bad, F.lit(0.0))
    ).where(F.col("label").isNotNull())


def train_quality_model(labeled: DataFrame, reg_param: float = 0.01):
    """Fit LR on a labeled feature frame (columns FEATURES + label).
    Returns the fitted PipelineModel; `model.transform(quality_features(df))`
    adds `probability`/`prediction`. Deterministic: LBFGS from a zero
    init on a fixed feature order."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(
        inputCols=FEATURES, outputCol="features", handleInvalid="keep"
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=reg_param,
        standardization=True,
        maxIter=50,
    )
    model = Pipeline(stages=[assembler, lr]).fit(labeled)
    # Scoring ships the LR model inside its UDF closures, and the model's
    # training summary references the SparkSession. Once that session has
    # registered an Observation (run_with_checkpoints, connected_components)
    # its ObservationManager is set and is not serializable, so every
    # scoring task would fail. Scoring needs only the coefficients: drop the
    # summary (PySpark has no public setter; this is the JVM model's own).
    jvm = labeled.sparkSession._jvm
    model.stages[-1]._java_obj.setSummary(jvm.scala.Option.empty())
    return model


def score_quality(documents: DataFrame, model) -> DataFrame:
    """(doc_id, quality_prob) for every document — a broadcast-coefficient
    linear map over the zero-shuffle feature columns."""
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(quality_features(documents))
    return scored.select(
        "doc_id",
        F.round(vector_to_array("probability")[1], 6).alias("quality_prob"),
    )
