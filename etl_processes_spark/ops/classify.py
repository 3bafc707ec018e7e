"""Model-based quality scoring — the classifier stage of a web-corpus
curation pipeline (CCNet / RedPajama style: a small linear model scores every
document's embedding; the caller drops or down-mixes low scorers).

No reference counterpart (driver-mandated extension family). Split into the
two phases that scale differently:

 - TRAINING (`train_logistic`) runs on a labeled SAMPLE via ``pyspark.ml``
   LogisticRegression (JVM L-BFGS, distributed) and returns plain
   (weights, bias) floats — the model leaves Spark as data, not state.
 - SCORING (`logistic_score_expr`) is a pure Column expression: the weight
   vector enters as literals, the dot product is F.aggregate over
   F.zip_with (whole-stage codegen, no UDF, no shuffle) — at 100 TB the
   score is computed inside the scan projection at read speed, exactly like
   the lang-ID and token-count expressions it composes with.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def logistic_score_expr(
    vec_col: str | Column, weights: Sequence[float], bias: float = 0.0
) -> Column:
    """sigmoid(w·v + b) as ONE codegen'd expression — weights are literals,
    the sum folds left-to-right (same order DuckDB's list_dot_product uses,
    which is what lets the gate hash-certify scores at 6dp)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    w = F.array(*[F.lit(float(x)) for x in weights])
    z = F.aggregate(
        F.zip_with(v.cast("array<double>"), w, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) + F.lit(float(bias))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def score_with_classifier(
    df: DataFrame,
    vec_col: str,
    weights: Sequence[float],
    bias: float = 0.0,
    out_col: str = "clf_score",
    ndigits: int | None = 6,
) -> DataFrame:
    """Attach the classifier score as a column — scan-side, shuffle-free."""
    s = logistic_score_expr(vec_col, weights, bias)
    if ndigits is not None:
        s = F.round(s, ndigits)
    return df.withColumn(out_col, s)


def train_logistic(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    reg_param: float = 0.0,
    max_iter: int = 100,
    seed: int = 42,
) -> tuple[list[float], float]:
    """Fit a binary logistic regression on (vec_col → label_col ∈ {0,1})
    with pyspark.ml (distributed JVM L-BFGS) and return (weights, bias) as
    plain floats for the expression-side scorer. Train on a labeled sample;
    score the full corpus with the returned literals."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    prepped = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
        F.col(label_col).cast("double").alias("label"),
    )
    lr = LogisticRegression(
        regParam=reg_param, maxIter=max_iter, standardization=False
    )
    model = lr.fit(prepped)
    return [float(x) for x in model.coefficients], float(model.intercept)
