"""MLlib pipeline: VectorAssembler + RandomForest train/score (SURVEY §2.6).

Mirrors the reference's model contract (train_rf.py:51-62: 100 trees,
depth 6, gini, sqrt feature subset; binary label from an upper(trim())'d
string label) while fixing its defects:

- explicit schemas and a persisted feature list (reference re-infers and
  intersects at runtime, main.py:1072-1084);
- distributed scoring sink — model.transform → write, never
  toPandas() on the scored set (predict_rf.py:43 collects the whole
  table to the driver);
- inf/NaN scrubbing as a single select, not ~80 chained withColumns
  (train_rf.py:36-38 rebuilds the plan per column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from anti_ddos_spark.schemas import FLOW_FEATURE_NAMES

LABEL_RAW = "label"
LABEL_BIN = "binary_label"
BENIGN = "BENIGN"

# Columns the training CSVs carry that must never reach the assembler
# (ids / leakage; train_rf.py:26-27). Shares the csv_clean list so a new
# leak column added there propagates here; 'Inbound' is ML-specific
# (a direction label that leaks the target in CIC-DDoS2019).
from anti_ddos_spark.sources.csv_clean import (  # noqa: E402
    ID_LEAK_COLS as _CSV_ID_LEAK_COLS,
    clean_name,
)

ID_LEAK_COLS = [*_CSV_ID_LEAK_COLS, "Inbound"]


def clean_column_names(df: DataFrame) -> DataFrame:
    """strip + space/dot → underscore renames (train_rf.py:19-23)."""
    return df.toDF(*[clean_name(c) for c in df.columns])


def drop_id_columns(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in ID_LEAK_COLS if c in df.columns])


def scrub_invalid(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """inf/-inf/NaN → null in ONE projection, then drop null rows."""
    exprs = []
    for c in df.columns:
        if c in feature_cols:
            col = F.col(c).cast("double")
            exprs.append(
                F.when(col.isin(float("inf"), float("-inf")) | F.isnan(col), None)
                .otherwise(col)
                .alias(c)
            )
        else:
            exprs.append(F.col(c))
    return df.select(*exprs).na.drop(subset=feature_cols)


def binarize_label(df: DataFrame, raw: str = LABEL_RAW) -> DataFrame:
    """upper(trim(label)) != BENIGN → 1.0 (train_rf.py:30-33)."""
    clean = F.upper(F.trim(F.col(raw)))
    return df.withColumn(
        LABEL_BIN, F.when(clean == BENIGN, 0.0).otherwise(1.0)
    )


def build_pipeline(feature_cols: list[str]):
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="features", handleInvalid="skip"
    )
    rf = RandomForestClassifier(
        labelCol=LABEL_BIN,
        featuresCol="features",
        numTrees=100,
        maxDepth=6,
        impurity="gini",
        featureSubsetStrategy="sqrt",
        seed=42,
    )
    return Pipeline(stages=[assembler, rf])


def train(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    label_raw: str = LABEL_RAW,
    model_path: str | None = None,
):
    """Full training path: clean → binarize → scrub → 80/20 split → fit.

    Returns (model, metrics dict, scored held-out test set). Mirrors
    train_rf.py:16-106 but with one-pass cleaning and a fixed seed.
    """
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    df = clean_column_names(df)
    df = drop_id_columns(df)
    # default features resolve AFTER cleaning — a dirty header like
    # ' flow_iat_mean' only matches FLOW_FEATURE_NAMES post-rename
    feature_cols = feature_cols or [
        c for c in FLOW_FEATURE_NAMES if c in df.columns
    ]
    df = binarize_label(df, label_raw)
    df = scrub_invalid(df, feature_cols)
    # Materialize once: the upstream lineage (e.g. the full sessionizer)
    # would otherwise re-execute for every MLlib training job.
    df = df.cache()
    if df.isEmpty():
        raise ValueError("no training rows after cleaning")

    train_df, test_df = df.randomSplit([0.8, 0.2], seed=42)
    model = build_pipeline(feature_cols).fit(train_df)

    scored = model.transform(test_df)
    evaluator = MulticlassClassificationEvaluator(
        labelCol=LABEL_BIN, predictionCol="prediction"
    )
    metrics = {
        m: evaluator.evaluate(scored, {evaluator.metricName: m})
        for m in ("accuracy", "weightedPrecision", "weightedRecall", "f1")
    }
    if model_path:
        model.write().overwrite().save(model_path)
    return model, metrics, scored


def volumetric_columns() -> tuple["F.Column", "F.Column"]:
    """The ONE definition of the volumetric flow signals (total packets,
    total payload bytes) shared by ThresholdRuleModel, q115's output
    projection and the cross-query consistency test — per the
    one-definition-per-metric convention (CONTRIBUTING.md)."""
    n_pkts = F.col("total_fwd_packets") + F.col("total_backward_packets")
    n_bytes = F.col("total_length_of_fwd_packets") + F.col(
        "total_length_of_bwd_packets"
    )
    return n_pkts, n_bytes


class ThresholdRuleModel:
    """Deterministic rule 'model' with the PipelineModel ``.transform``
    contract: prediction=1.0 when the flow looks volumetric (total
    packets ≥ ``min_packets`` OR total payload ≥ ``min_bytes``), else
    0.0. An RF's prediction column has no SQL oracle, so the
    hash-checked streaming-scoring query (q115) swaps in this rule to
    pin the SCORING STAGE itself — model broadcast-free transform on an
    unbounded DataFrame, label post-processing, append-mode emission —
    while q50 (metrics) and perfbench's live_accum workload (the
    in-stream RF, end to end) keep covering the RF path. Mirrors the reference's predict stage shape
    (spark_app/main.py:1087-1090: transform → prediction → label)."""

    def __init__(self, min_packets: int = 3, min_bytes: int = 1024):
        self.min_packets = min_packets
        self.min_bytes = min_bytes

    def transform(self, df: DataFrame) -> DataFrame:
        n_pkts, n_bytes = volumetric_columns()
        rule = (n_pkts >= self.min_packets) | (n_bytes >= self.min_bytes)
        return df.withColumn(
            "prediction", F.when(rule, F.lit(1.0)).otherwise(F.lit(0.0))
        )


def score(model, df: DataFrame) -> DataFrame:
    """Distributed scoring with the reference's label post-processing
    (prediction==1.0 → 'DDoS' else 'Normal', main.py:1090)."""
    scored = model.transform(df)
    return scored.withColumn(
        "Label", F.when(F.col("prediction") == 1.0, "DDoS").otherwise("Normal")
    )


def confusion_matrix(scored: DataFrame) -> DataFrame:
    return (
        scored.groupBy(LABEL_BIN, "prediction")
        .count()
        .orderBy(LABEL_BIN, "prediction")
    )
