"""Text/embedding pipeline: tokenizer parity, deterministic vectorisation,
moments/covariance on both text_profile routes vs numpy and vs each other,
MVN generation round-trip."""

import numpy as np
import pytest

import etl_processes_spark.text.embedding as emb
from etl_processes_spark.profile.types import ColumnProfile
from etl_processes_spark.text.embedding import (
    MAX_TOKENS_PER_ENTRY,
    gen_text_column,
    text_profile,
    tokenize,
    tokenize_expr,
    token_vector,
    vectorise_batch,
    vectorise_entry,
)

TEXTS = [
    "spark processes data with partitions and shuffles",
    "the catalyst optimizer rewrites logical plans",
    "tungsten generates compact bytecode for expressions",
    "partitions shuffle data across the cluster network",
    "adaptive execution replans queries at runtime stages",
    "columnar parquet scans prune unused columns early",
] * 5


def test_tokenize_gensim_parity():
    # simple_preprocess semantics: lowercase, alphabetic, len in [2,15]
    assert tokenize("Hello, World! A x1 superlongtokenbeyondfifteen") == ["hello", "world"]
    assert tokenize(None) == []
    assert tokenize("The CAT_dog") == ["the", "cat_dog"]


def test_token_class_is_word_minus_digit_on_every_code_point():
    # _TOKEN_RE's class [^\W\d] must accept exactly the characters the
    # lookahead form (?:(?!\d)\w) accepts, over all of Unicode
    import re

    from etl_processes_spark.text.embedding import _TOKEN_RE

    lookahead = re.compile(r"(?:(?!\d)\w)+")
    chars = "".join(map(chr, range(0x110000)))
    assert _TOKEN_RE.findall(chars) == lookahead.findall(chars)


def test_tokenize_expr_matches_python(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS[:6]], ["t"])
    from pyspark.sql import functions as F

    rows = df.select(tokenize_expr("t").alias("toks")).collect()
    for row, t in zip(rows, TEXTS[:6]):
        assert row["toks"] == tokenize(t)


def test_token_vector_deterministic():
    a, b = token_vector("spark"), token_vector("spark")
    assert np.array_equal(a, b)
    assert not np.array_equal(token_vector("spark"), token_vector("flink"))


def test_vectorise_entry_shape_and_padding():
    v = vectorise_entry("one two", vector_size=4)
    assert v.shape == (MAX_TOKENS_PER_ENTRY * 4,)
    assert np.any(v[:8] != 0) and np.all(v[8:] == 0)


def test_vectorise_batch_bit_identical_to_vectorise_entry():
    texts = [
        None,
        "",
        " ".join(f"tok{chr(97 + i % 26)}{chr(97 + i // 26)}" for i in range(40)),  # > 32 tokens
        "a bb " + "p" * 15 + " " + "q" * 16,  # lengths 1, 2, 15 and 16
        "snake_case __ _x x_ under_score_",
        "Ünïcode ŜTRAßE déjà vu ØRESUND",
        "repeat repeat repeat",
        "12 34 x1y2 digits9only",
    ]
    for vs in (4, 8):
        want = np.stack([vectorise_entry(t, vs) for t in texts])
        assert np.array_equal(vectorise_batch(texts, vs), want)
    assert vectorise_batch([], 4).shape == (0, MAX_TOKENS_PER_ENTRY * 4)


def _text_profile_on(route, df, c, **kwargs):
    """text_profile with DRIVER_MAX_ROWS at the column's non-null row count
    (driver) or one below it (distributed); checks the route taken."""
    from pyspark.sql import functions as F

    n = df.filter(F.col(c).isNotNull()).count()
    taken = []
    with pytest.MonkeyPatch.context() as m:
        m.setattr(emb, "DRIVER_MAX_ROWS", n if route == "driver" else n - 1)
        for name in ("text_profile_local", "_powersums_and_gram"):
            real = getattr(emb, name)
            m.setattr(emb, name, lambda *a, _r=real, _n=name, **k: taken.append(_n) or _r(*a, **k))
        prof = text_profile(df, c, **kwargs)
    assert taken == (["text_profile_local"] if route == "driver" else ["_powersums_and_gram"])
    return prof


@pytest.fixture(scope="module")
def profiled(spark):
    df = spark.createDataFrame([(t,) for t in TEXTS], ["body"])
    return df, text_profile(df, "body", vector_size=4)


def test_text_profile_matches_numpy(profiled):
    # both routes of text_profile, in one test
    df, _ = profiled
    X = np.stack([vectorise_entry(t, 4) for t in TEXTS])
    for route in ("driver", "distributed"):
        prof = _text_profile_on(route, df, "body", vector_size=4)
        assert prof["n_samples"] == len(TEXTS)
        assert prof["vector_dim"] == X.shape[1]
        np.testing.assert_allclose(prof["mean_vector"], X.mean(axis=0), rtol=1e-9)
        np.testing.assert_allclose(prof["cov_matrix"], np.cov(X.T), rtol=1e-8, atol=1e-12)
        assert prof["overall_mean"] == pytest.approx(float(np.mean(X.mean(axis=0))), rel=1e-9)
        assert prof["overall_std"] == pytest.approx(float(np.mean(X.std(axis=0))), rel=1e-9)
        assert "spark" in prof["vocab"]


def test_gen_text_roundtrip_and_determinism(spark, profiled):
    _, prof = profiled
    cp = ColumnProfile("body", "text", None, prof)
    frame = spark.range(20)
    out1 = gen_text_column(spark, frame, "body", cp, seed=5).select("body").collect()
    out2 = gen_text_column(spark, frame, "body", cp, seed=5).select("body").collect()
    assert [r["body"] for r in out1] == [r["body"] for r in out2]
    texts = [r["body"] for r in out1]
    assert all(isinstance(t, str) and t for t in texts)
    # decoded words come from the learned vocabulary
    vocab = set(prof["vocab"])
    for t in texts[:5]:
        assert set(t.split()) <= vocab


def test_vocab_matrix_bit_identical_to_token_vector():
    import numpy as np

    from etl_processes_spark.text.embedding import _vocab_matrix, token_vector

    vocab = ["alpha", "beta", "gamma_1", "ünïcode", "x", "longertokenhere"]
    for vs in (4, 8):
        fast = _vocab_matrix(vocab, vs)
        slow = np.stack([token_vector(t, vs) for t in vocab])
        assert np.array_equal(fast, slow)


def test_knn_decode_chunked_matches_unchunked():
    import numpy as np

    import etl_processes_spark.text.embedding as emb

    rng = np.random.RandomState(3)
    vocab = [f"tok{i}" for i in range(200)]
    vmat = emb._vocab_matrix(vocab, 4)
    vecs = rng.randn(500, 4)
    full = emb.knn_decode(vecs, vocab, vmat)
    old = emb._KNN_CHUNK_CELLS
    try:
        emb._KNN_CHUNK_CELLS = 400  # force 2-row chunks
        chunked = emb.knn_decode(vecs, vocab, vmat)
    finally:
        emb._KNN_CHUNK_CELLS = old
    assert full == chunked


def _knn_decode_reference(vectors, vocab, vocab_mat, topn=3):
    """The per-row loop knn_decode replaced: argpartition, argsort and the
    first-alphanumeric scan one slot row at a time."""
    if len(vocab) == 0:
        return ["" for _ in range(len(vectors))]
    norms = np.linalg.norm(vocab_mat, axis=1)
    norms[norms == 0] = 1.0
    vnorm = np.linalg.norm(vectors, axis=1)
    vnorm[vnorm == 0] = 1.0
    k = min(topn, len(vocab))
    sims = (vectors @ vocab_mat.T) / (vnorm[:, None] * norms[None, :])
    out = []
    for row in sims:
        idx = np.argpartition(-row, k - 1)[:k]
        idx = idx[np.argsort(-row[idx])]
        out.append(next((vocab[j] for j in idx if vocab[j].isalnum()), ""))
    return out


def test_knn_decode_matches_per_row_reference(monkeypatch):
    import etl_processes_spark.text.embedding as emb

    rng = np.random.RandomState(11)

    def check(vecs, vocab, vmat, expect_empty=False, topn=3):
        want = _knn_decode_reference(vecs, vocab, vmat, topn)
        got = emb.knn_decode(vecs, vocab, vmat, topn)
        assert got == want
        if expect_empty:
            assert "" in got
        with monkeypatch.context() as m:
            m.setattr(emb, "_KNN_CHUNK_CELLS", 1)  # one slot row per block
            assert emb.knn_decode(vecs, vocab, vmat, topn) == want
        return got

    # duplicate and tied vocabulary vectors: every vector appears 3 times
    vocab = [f"w{i}" for i in range(30)]
    vmat = np.repeat(rng.randn(10, 4), 3, axis=0)
    check(rng.randn(200, 4), vocab, vmat)
    # a scaled copy ties on cosine with its original
    vmat2 = np.vstack([vmat, 2.0 * vmat[:5]])
    check(rng.randn(200, 4), vocab + [f"s{i}" for i in range(5)], vmat2)
    # zero slot vectors: every similarity is 0, every row ties
    check(np.zeros((50, 4)), vocab, vmat)
    # zero vocabulary vectors next to real ones
    vmat3 = vmat.copy()
    vmat3[::4] = 0.0
    check(rng.randn(100, 4), vocab, vmat3)
    # tokens with '_' in the top 3: the next alphanumeric one is picked,
    # and a top 3 with none decodes to ""
    under = ["a_b", "c_d", "e_f", "ghi", "j_k", "lmn"]
    umat = np.array(
        [[1, 0], [0.99, 0.1], [0.98, 0.2], [0.9, 0.4], [-1, 0], [-0.9, -0.4]]
    )
    got = check(np.array([[1.0, 0.0], [-1.0, 0.0], [1.0, 0.05]]), under, umat)
    assert got == ["", "lmn", ""]
    check(rng.randn(300, 2), under, umat)
    # vocabularies below topn
    check(rng.randn(20, 3), ["solo"], rng.randn(1, 3))
    check(rng.randn(20, 3), ["x_y"], rng.randn(1, 3), expect_empty=True)
    check(rng.randn(20, 3), ["one", "t_o"], rng.randn(2, 3))
    # a wider top-n, where argpartition leaves the candidates unordered
    mixed = [f"m{i}" if i % 3 == 0 else f"m_{i}" for i in range(60)]
    check(rng.randn(400, 4), mixed, emb._vocab_matrix(mixed, 4), topn=8)
    # a real vocabulary matrix, blocks of several rows
    vocab4 = [f"tok{i}" for i in range(97)] + ["u_v", "w_x"]
    vmat4 = emb._vocab_matrix(vocab4, 4)
    vecs4 = rng.randn(1000, 4)
    want4 = _knn_decode_reference(vecs4, vocab4, vmat4)
    with monkeypatch.context() as m:
        m.setattr(emb, "_KNN_CHUNK_CELLS", 7 * len(vocab4))
        assert emb.knn_decode(vecs4, vocab4, vmat4) == want4
    assert emb.knn_decode(np.zeros((0, 4)), vocab4, vmat4) == []
    assert emb.knn_decode(vecs4[:3], [], np.zeros((0, 4))) == ["", "", ""]


def test_model_broadcast_cache_is_lru(spark, monkeypatch):
    import etl_processes_spark.text.embedding as emb

    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(emb, "_MODEL_BCAST", {})
    monkeypatch.setattr(sc, "broadcast", counting)

    def payload(i):
        return (None, (0.0, 1.0), np.full(2, float(i)), ["w"], np.zeros((1, 2)))

    handles = [emb._model_broadcast(spark, payload(i)) for i in range(6)]
    assert len(made) == 6
    assert list(emb._MODEL_BCAST.values()) == handles[2:]  # the last 4
    # a hit reuses its broadcast and makes it the most recent entry
    assert emb._model_broadcast(spark, payload(2)) is handles[2]
    assert len(made) == 6
    emb._model_broadcast(spark, payload(6))
    assert len(made) == 7
    assert handles[2] in emb._MODEL_BCAST.values()
    assert handles[3] not in emb._MODEL_BCAST.values()  # least recent left


def test_powersums_same_on_both_sides_of_the_merge_route(spark, monkeypatch):
    """_powersums_and_gram collects partials directly at <= merge_partitions
    partitions and merges them through one stage above that; integer values
    make every sum exact, so both routes must agree bit for bit."""
    import etl_processes_spark.text.embedding as emb

    X = np.random.default_rng(5).integers(-6, 7, size=(64, 5)).astype(float)
    base = spark.createDataFrame([(r.tolist(),) for r in X], ["__vec"])
    frames = {p: base.repartition(p).persist() for p in (2, 16)}
    calls = []
    cls = type(base)
    real = cls.repartition

    def spy(self, *args, **kwargs):
        calls.append(args)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "repartition", spy)
    try:
        got = {}
        for p, df in frames.items():
            calls.clear()
            got[p] = emb._powersums_and_gram(df, X.shape[1], merge_partitions=8)
            assert calls == ([] if p == 2 else [(8,)])
    finally:
        for df in frames.values():
            df.unpersist()
    want = (
        len(X), X.sum(0), (X**2).sum(0), (X**3).sum(0), (X**4).sum(0),
        X.T @ X, X.min(0), X.max(0),
    )
    for p in (2, 16):
        assert got[p][0] == want[0]
        for a, b in zip(got[p][1:], want[1:]):
            assert np.array_equal(a, b)


def test_medians_matches_spark_median(spark):
    """_medians (histogram-bracketed distributed selection — the no-explode
    100 TB path) must be BIT-IDENTICAL to F.median over the posexploded
    rows (the route it replaced, which spilled 27.2 GB at sf100). Covers:
    continuous values, odd/even n, negatives, constant dims, point masses
    (incl. half-constant dims that stall refinement), n=1, and tiny
    bins/per_dim_cap so multi-level refinement + the collect pass all run."""
    from pyspark.sql import functions as F

    from etl_processes_spark.text.embedding import _medians

    rng = np.random.default_rng(7)

    def check(X, bins, cap, levels, partitions=5):
        n, d = X.shape
        df = spark.createDataFrame(
            [(row.tolist(),) for row in X], ["__vec"]
        ).repartition(partitions).persist()
        try:
            got = _medians(
                df, d, n, X.min(axis=0), X.max(axis=0),
                bins=bins, per_dim_cap=cap, max_levels=levels,
                merge_partitions=8,
            )
            want = np.array(
                [
                    r["m"]
                    for r in df.select(F.posexplode("__vec").alias("dim", "x"))
                    .groupBy("dim").agg(F.median("x").alias("m"))
                    .orderBy("dim").collect()
                ]
            )
            assert np.array_equal(got, want), f"{got} != {want}"
        finally:
            df.unpersist()

    # continuous, even n; negatives; one constant dim; one point-mass dim
    X = rng.normal(size=(200, 6)) * np.array([1, 10, 0.01, 1, 1, 1])
    X[:, 2] = 3.25  # constant dim
    X[:100, 4] = -1.5  # half point mass (stalls refinement at tiny cap)
    X[:, 5] = np.round(X[:, 5])  # few distinct values
    check(X, bins=8, cap=4, levels=6)
    # odd n, single level sufficient
    check(rng.normal(size=(31, 3)), bins=1024, cap=16384, levels=6)
    # n=1 and n=2 (frac=0 and frac=0.5 interpolation)
    check(rng.normal(size=(1, 3)), bins=8, cap=4, levels=6)
    check(rng.normal(size=(2, 3)), bins=8, cap=4, levels=6)
    # all dims constant
    check(np.full((9, 3), 2.5), bins=8, cap=4, levels=6)
    # extreme spread (huge magnitudes) — binning arithmetic stays monotone
    Y = rng.normal(size=(64, 4)) * np.array([1e12, 1e-12, 1e6, 1.0])
    check(Y, bins=4, cap=2, levels=6)
    # both sides of the histogram merge route (merge_partitions=8):
    # partials collected directly at 2 partitions, merged at 16
    Z = np.round(rng.normal(size=(80, 4)) * 4)
    Z[:40, 1] = 2.0
    for partitions in (2, 16):
        check(Z, bins=4, cap=3, levels=6, partitions=partitions)


def _sf001_documents(sf_dir):
    # the sf0.01 documents table, next to the sf0.001 fixture directory
    import os

    return os.path.join(os.path.dirname(sf_dir), "sf0.01", "documents.parquet")


_ORACLE_KEYS = (
    "overall_mean", "overall_std", "std_of_means", "asymmetry_avg", "excess_avg", "cov_trace",
)


@pytest.mark.parametrize("mode", ["profile", "validate"])
def test_text_profile_routes_agree_at_the_switch_point(spark, sf_dir, mode):
    """DRIVER_MAX_ROWS at the column's row count takes the driver route, one
    below takes the distributed one; both must give the same vocabulary,
    medians, n_samples and vector_dim, and moments that agree to rounding
    noise (the two routes sum in different orders)."""
    df = spark.read.parquet(_sf001_documents(sf_dir))
    kwargs = {} if mode == "profile" else {"compute_medians": False, "build_vocab": False}
    got = {route: _text_profile_on(route, df, "text", **kwargs) for route in ("driver", "distributed")}
    a, b = got["driver"], got["distributed"]
    for k in ("vocab", "mean_of_medians", "n_samples", "vector_dim", "vector_size"):
        assert a[k] == b[k], k
    assert a["n_samples"] == df.filter(df["text"].isNotNull()).count()
    if mode == "profile":
        assert a["vocab"] and a["mean_of_medians"] is not None
    else:
        assert a["vocab"] == [] and a["mean_of_medians"] is None
    for k in ("mean_vector", "cov_matrix"):
        np.testing.assert_allclose(a[k], b[k], rtol=1e-9, atol=1e-15)
    for k in _ORACLE_KEYS:
        assert a[k] == pytest.approx(b[k], rel=1e-9)
        assert round(a[k], 6) == round(b[k], 6), k


def test_driver_medians_match_distributed_selection(spark):
    """_driver_medians and _medians' collect pass select through the same
    _flank_median: identical medians at n <= per_dim_cap, including point
    masses, constant dims and odd/even n."""
    from etl_processes_spark.text.embedding import _driver_medians, _medians

    rng = np.random.default_rng(13)
    for n in (1, 2, 31, 64):
        X = np.round(rng.normal(size=(n, 5)) * 3, 1)
        X[:, 1] = 0.5  # constant
        X[: n // 2, 2] = -2.0  # half point mass
        df = spark.createDataFrame([(r.tolist(),) for r in X], ["__vec"]).repartition(3)
        want = _medians(df, 5, n, X.min(axis=0), X.max(axis=0))
        assert np.array_equal(_driver_medians(X), want)


@pytest.mark.parametrize("deterministic", [False, True])
def test_profile_text_columns_same_on_both_routes(spark, sf_dir, monkeypatch, deterministic):
    """profile() hands its sample's text columns to the driver route when
    sample_rows <= DRIVER_MAX_ROWS (one shared collect) and otherwise
    collects entries per column and runs the distributed text_profile:
    same retained entries, vocabulary, medians and counts either way."""
    from etl_processes_spark.profile import profile

    df = spark.read.parquet(_sf001_documents(sf_dir))
    kw = {"deterministic": deterministic, "sample_key": "doc_id" if deterministic else None}
    got = {}
    for side, cap in (("driver", 1000), ("distributed", 999)):
        monkeypatch.setattr(emb, "DRIVER_MAX_ROWS", cap)
        got[side] = profile(df, sample_rows=1000, max_retained_entries=300, **kw)["text"].stats
    a, b = got["driver"], got["distributed"]
    assert a["raw_entries"] == b["raw_entries"] and len(a["raw_entries"]) == 300
    if deterministic:
        assert a["raw_entries"] == sorted(a["raw_entries"])
    for k in ("vocab", "mean_of_medians", "n_samples", "n_retained", "vector_dim"):
        assert a[k] == b[k], k
    np.testing.assert_allclose(a["cov_matrix"], b["cov_matrix"], rtol=1e-9, atol=1e-15)
