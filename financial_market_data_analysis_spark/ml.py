"""ML path: sliding-window featurization, min-max scaling, and a
classifier on the forward-looking targets — the engine's stand-in for
the reference's SQL-chunk dataloader + biGRU
(sql_pytorch_dataloader.py, biGRU_model.py; MLlib per BASELINE.json's
"Structured Streaming + MLlib" approach).

Scale shape: the reference fetches chunks row-by-row over JDBC into
torch tensors (sql_pytorch_dataloader.py:97-105, 227-236). Here the
tensor-window assembly is a Spark window ``collect_list`` — one sorted
pass, distributable by partition column — and normalization parameters
come from one global aggregate broadcast back (functions/features.py
``minmax_normalize``), not a per-chunk MIN/MAX query pair.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.operators.windows import trailing_window


def sliding_window_vectors(
    df: DataFrame,
    feature_cols: Sequence[str],
    window: int,
    order_cols: Sequence[str],
) -> DataFrame:
    """The tensor window: ``window`` consecutive rows × features,
    flattened to one array<double> per row (shape documented in
    sql_pytorch_dataloader.py:8-18; window=30 train, 5 inference).

    Each row's vector is ``[t-w+1 … t] × [f1 … fk]`` (time-major).
    Warm-up rows whose window is short are dropped — the reference's
    chunk loader likewise only emits full windows.
    """
    w = trailing_window(order_cols, window - 1)
    per_t = F.array(*[F.col(c).cast("double") for c in feature_cols])
    collected = F.collect_list(per_t).over(w)
    return df.withColumn("window_features", F.flatten(collected)).filter(
        F.size("window_features") == window * len(feature_cols)
    )


def lag_matrix(df: DataFrame, value_col: str, window: int, order_cols: Sequence[str]) -> DataFrame:
    """Scalar-column variant of the tensor window: ``{col}_lag{j}`` for
    j = 0..window-1 — the oracle-friendly (and MLlib-assembler-friendly)
    flat layout."""
    from financial_market_data_analysis_spark.operators.windows import ordered_window

    w = ordered_window(order_cols)
    cols = {
        f"{value_col}_lag{j}": F.lag(value_col, j).over(w) for j in range(window)
    }
    return df.withColumns(cols)


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation of ``cols`` in ONE aggregation pass
    — the feature-selection screen the reference's modelling notebooks
    leave to pandas. All k·(k−1)/2 ``F.corr`` aggregates ride in a
    single ``agg`` (each partially aggregatable map-side), so a 100 TB
    input costs exactly one scan and one reduce to a single row, which
    is then unpivoted driver-free with ``stack`` into the tidy
    (col_a, col_b, corr) long form.
    """
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in list(cols)[i + 1 :]
    ]
    # backtick-escaped exact-name lookups and positional aliases:
    # identifiers containing spaces, dots, quotes, or backticks
    # neither break parsing nor collide in generated alias strings
    # (r5 advice)
    def _c(name: str):
        return F.col("`" + name.replace("`", "``") + "`")

    row = df.agg(
        *[
            F.corr(_c(a), _c(b)).alias(f"__corr_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                row[f"__corr_{i}"].alias("corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return row.select(F.explode(structs).alias("__s")).select(
        "__s.col_a", "__s.col_b", "__s.corr"
    )


def train_window_classifier(df: DataFrame, feature_cols: Sequence[str]):
    """The engine's closest MLlib-native analog of the reference's
    biGRU sequence model (biGRU_model.py:1-286): a nonlinear classifier
    over the SAME input tensor — 5 consecutive bars × features,
    the sliding window sql_pytorch_dataloader.py:8-18 feeds the GRU —
    flattened time-major (``sliding_window_vectors``) into a
    MultilayerPerceptronClassifier (min-max scaled input, sigmoid-family
    hidden nonlinearity, softmax head). What it deliberately does NOT
    reproduce is the recurrence itself: MLlib has no RNN, so temporal
    structure enters through the window dimension of the flattened
    tensor, the way a 1-hidden-layer MLP over a fixed receptive field
    approximates a short-memory GRU. Same honest time-based split as
    ``train_target_classifier``.

    Returns (model, train_df, test_df, metrics_df); metrics is one row
    (accuracy, n_test) — training stays rows-only in the driver
    contract (the fit is not SQL-expressible), while every
    deterministic stage upstream is oracle-checked elsewhere: the
    window tensor by ml1, the scaler by ml2b.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import MultilayerPerceptronClassifier
    from pyspark.ml.feature import MinMaxScaler
    from pyspark.ml.functions import array_to_vector

    clean = df.dropna(subset=list(feature_cols) + ["up1"])
    vec = sliding_window_vectors(
        clean, feature_cols, 5, ["bucket_start"]
    ).withColumn("raw_features", array_to_vector("window_features"))
    cut = vec.approxQuantile("bucket_start", [0.8], 0.001)[0]
    train = vec.filter(F.col("bucket_start") <= cut)
    test = vec.filter(F.col("bucket_start") > cut)

    layers = [5 * len(feature_cols), 16, 2]
    pipe = Pipeline(
        stages=[
            MinMaxScaler(inputCol="raw_features", outputCol="features"),
            MultilayerPerceptronClassifier(
                labelCol="up1",
                featuresCol="features",
                layers=layers,
                maxIter=50,
                seed=42,
            ),
        ]
    )
    model = pipe.fit(train)
    pred = model.transform(test)
    metrics = pred.agg(
        F.avg((F.col("prediction") == F.col("up1")).cast("double")).alias("accuracy"),
        F.count(F.lit(1)).alias("n_test"),
    )
    return model, train, test, metrics


def train_target_classifier(df: DataFrame, feature_cols: Sequence[str]):
    """Train a logistic-regression classifier on a forward-target label
    with a *time-based* split (the reference splits by chunk index —
    sql_pytorch_dataloader.py:251-320 — which leaks less than random
    but is still index-based; time split is the honest variant).

    Returns (model, train_df, test_df, metrics_df).
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml import Pipeline

    clean = df.dropna(subset=list(feature_cols) + ["up1"])
    cut = clean.approxQuantile("bucket_start", [0.8], 0.001)[0]
    train = clean.filter(F.col("bucket_start") <= cut)
    test = clean.filter(F.col("bucket_start") > cut)

    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=list(feature_cols), outputCol="raw_features"),
            MinMaxScaler(inputCol="raw_features", outputCol="features"),
            LogisticRegression(labelCol="up1", featuresCol="features"),
        ]
    )
    model = pipe.fit(train)
    pred = model.transform(test)
    metrics = pred.agg(
        F.avg((F.col("prediction") == F.col("up1")).cast("double")).alias("accuracy"),
        F.count(F.lit(1)).alias("n_test"),
    )
    return model, train, test, metrics
