"""Model-based quality scoring: ml-trained weights, expression-side scoring."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.classify import (
    logistic_score_expr,
    score_with_classifier,
    train_logistic,
)


@pytest.fixture(scope="module")
def labeled(spark):
    # linearly separable: class 1 points along +x, class 0 along -x
    rng = np.random.RandomState(0)
    rows = []
    for i in range(200):
        y = i % 2
        base = np.array([2.0, 0.5]) if y else np.array([-2.0, -0.5])
        v = base + rng.randn(2) * 0.3
        rows.append((i, [float(v[0]), float(v[1])], y))
    return spark.createDataFrame(rows, ["id", "vec", "label"])


def test_score_expr_matches_numpy(spark):
    df = spark.createDataFrame([(0, [1.0, 2.0, -1.0])], ["id", "vec"])
    w, b = [0.5, -0.25, 1.0], 0.1
    got = score_with_classifier(df, "vec", w, b, ndigits=None).first()["clf_score"]
    z = 1.0 * 0.5 + 2.0 * -0.25 + -1.0 * 1.0 + 0.1
    assert abs(got - 1.0 / (1.0 + math.exp(-z))) < 1e-12


def test_train_and_separate(labeled):
    w, b = train_logistic(labeled, "vec", "label")
    scored = score_with_classifier(labeled, "vec", w, b, ndigits=None)
    acc = scored.select(
        F.avg(((F.col("clf_score") >= 0.5).cast("int") == F.col("label")).cast("int"))
    ).first()[0]
    assert acc > 0.97  # separable data → near-perfect linear fit


def test_score_deterministic_expression(spark):
    # md5-derived pseudo-weights (the gate's pattern): same expression,
    # same result, any partitioning
    df = spark.range(100).select(
        F.col("id"), F.array(*[F.rand(seed=1)] * 1).alias("ignore")
    )
    emb = spark.createDataFrame(
        [(i, [((i * 37 + d) % 11) / 11.0 for d in range(4)]) for i in range(50)],
        ["id", "vec"],
    )
    w = [0.1, -0.2, 0.3, -0.4]
    a = score_with_classifier(emb, "vec", w, 0.05).orderBy("id").collect()
    b2 = score_with_classifier(emb.repartition(7), "vec", w, 0.05).orderBy("id").collect()
    assert [r["clf_score"] for r in a] == [r["clf_score"] for r in b2]
