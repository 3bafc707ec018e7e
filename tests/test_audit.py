"""Key-integrity and schema-drift audits."""

from pyspark.sql import functions as F

from etl_processes_spark.ops.audit import (
    accepted_values_violations,
    fk_violations,
    pk_violations,
    schema_drift,
)


def test_pk_violations(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c"), (None, "d"), (3, "e"), (3, "f"), (3, "g")],
        "id long, v string",
    )
    got = {(r["id"], r["violation"]): r["n_rows"] for r in pk_violations(df, ["id"]).collect()}
    assert got == {(2, "duplicate"): 2, (3, "duplicate"): 3, (None, "null_key"): 1}
    clean = spark.createDataFrame([(1,), (2,)], "id long")
    assert pk_violations(clean, ["id"]).count() == 0


def test_pk_violations_composite(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 1), (2, None)], "a long, b long"
    )
    got = {(r["a"], r["b"], r["violation"]) for r in pk_violations(df, ["a", "b"]).collect()}
    assert got == {(1, 1, "duplicate"), (2, None, "null_key")}


def test_fk_violations(spark):
    parent = spark.createDataFrame([(1,), (2,)], "pid long")
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 9), (13, 9), (14, None)], "id long, ref long"
    )
    got = {r["ref"]: r["n_rows"] for r in fk_violations(child, parent, {"ref": "pid"}).collect()}
    assert got == {9: 2}  # NULL refs opt out, matched refs pass


def test_fk_violations_on_testdata(spark, sf_dir):
    # real referential pair: every lineitem.l_orderkey must exist in orders
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert fk_violations(li, orders, {"l_orderkey": "o_orderkey"}).count() == 0


def test_accepted_values(spark):
    df = spark.createDataFrame(
        [("ok",), ("ok",), ("bad",), (None,)], "status string"
    )
    got = {r["value"]: r["n_rows"] for r in accepted_values_violations(df, "status", ["ok"]).collect()}
    assert got == {"bad": 1, None: 1}
    with_null_ok = accepted_values_violations(df, "status", ["ok", None]).collect()
    assert {r["value"] for r in with_null_ok} == {"bad"}


def test_schema_drift(spark):
    old = spark.createDataFrame([(1, "x", 1.0)], "id long, name string, score double")
    new = spark.createDataFrame([(1, 2, "y")], "id long, score long, extra string")
    drift = {d["column"]: d["status"] for d in schema_drift(old, new)}
    assert drift == {
        "name": "removed",
        "score": "type_changed",
        "extra": "added",
    }
    assert schema_drift(old, old) == []


def test_mahalanobis_matches_numpy(spark):
    import numpy as np
    import pytest

    from etl_processes_spark.ops.audit import mahalanobis_outliers

    rng = np.random.RandomState(5)
    X = rng.randn(300, 3) @ np.array([[2.0, 0.5, 0.0], [0.0, 1.0, 0.3], [0.0, 0.0, 0.7]])
    X[17] = [25.0, -20.0, 15.0]  # planted joint outlier
    df = spark.createDataFrame(
        [(i, *[round(float(v), 6) for v in X[i]]) for i in range(len(X))],
        "id long, a double, b double, c double",
    )
    Xr = np.round(X, 6)
    got = {r["id"]: r["maha_sq"] for r in mahalanobis_outliers(df, ["a", "b", "c"]).collect()}
    mu = Xr.mean(axis=0)
    A = np.linalg.inv(np.cov(Xr.T) + 1e-9 * np.eye(3))
    expected = np.einsum("ni,ij,nj->n", Xr - mu, A, Xr - mu)
    for i in range(len(X)):
        assert got[i] == pytest.approx(expected[i], rel=1e-6), i
    # the planted outlier dominates and the flag fires
    flagged = {
        r["id"]
        for r in mahalanobis_outliers(df, ["a", "b", "c"], threshold=16.27)  # chi2(3).99
        .filter("outlier = 1")
        .collect()
    }
    assert 17 in flagged and len(flagged) <= 12
    # deterministic under repartitioning
    again = {
        r["id"]: r["maha_sq"]
        for r in mahalanobis_outliers(df.repartition(7), ["a", "b", "c"]).collect()
    }
    assert got == again


def test_mahalanobis_degenerate_and_nulls(spark):
    from etl_processes_spark.ops.audit import mahalanobis_outliers

    # constant column -> rank-deficient covariance; ridge keeps it finite
    df = spark.createDataFrame(
        [(1, 1.0, 5.0), (2, 2.0, 5.0), (3, 3.0, 5.0), (4, None, 5.0)],
        "id long, a double, b double",
    )
    rows = {r["id"]: r["maha_sq"] for r in mahalanobis_outliers(df, ["a", "b"]).collect()}
    assert all(v is not None and v >= 0 for k, v in rows.items() if k != 4)
    assert rows[4] is None  # NULL input -> NULL score
    import pytest as _pytest

    with _pytest.raises(ValueError):
        mahalanobis_outliers(df.limit(1), ["a", "b"])
    with _pytest.raises(ValueError):
        mahalanobis_outliers(df, [])


def test_distribution_drift_psi(spark):
    import numpy as np

    from etl_processes_spark.ops.audit import distribution_drift

    rng = np.random.RandomState(9)
    old_vals = rng.normal(50, 10, 4000)
    same = rng.normal(50, 10, 4000)
    shifted = rng.normal(65, 10, 4000)
    mk = lambda vals: spark.createDataFrame(
        [(float(v),) for v in vals], "x double"
    )
    psi_same, _ = distribution_drift(mk(old_vals), mk(same), "x")
    psi_shift, per_bin = distribution_drift(mk(old_vals), mk(shifted), "x")
    assert psi_same < 0.05          # same distribution -> stable
    assert psi_shift > 0.5          # 1.5-sigma mean shift -> loud alarm
    rows = per_bin.collect()
    assert len(rows) == 10
    assert abs(sum(r["p_old"] for r in rows) - 1.0) < 1e-3
    # out-of-old-range mass clamps into the top bucket and contributes
    top = [r for r in rows if r["bin"] == 9][0]
    assert top["p_new"] > top["p_old"]


def test_distribution_drift_degenerate(spark):
    import pytest as _pytest

    from etl_processes_spark.ops.audit import distribution_drift

    const = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    psi, per_bin = distribution_drift(const, const, "x")
    assert psi == 0.0 and per_bin.count() == 10
    empty = spark.createDataFrame([], "x double")
    with _pytest.raises(ValueError):
        distribution_drift(empty, const, "x")


def test_mahalanobis_magnitude_guard(spark):
    import pytest as _pytest

    from etl_processes_spark.ops.audit import mahalanobis_outliers

    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0), (1e13, 1.0)], "x double, y double"
    )
    with _pytest.raises(ValueError, match="1e12"):
        mahalanobis_outliers(df, ["x", "y"]).collect()
