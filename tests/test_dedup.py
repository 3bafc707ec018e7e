"""Dedup operator tests on small synthetic corpora with known duplicates."""

import pytest
from pyspark.sql import functions as F

from etl_processes_spark.ops.dedup import (
    content_hash_expr,
    dedup_exact_keep_min,
    PREFIX_MIN_THRESHOLD,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingles_expr,
    simhash_fingerprints,
    tokens_expr,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),      # near-dup of 0
    (3, "The quick  brown fox JUMPS over the lazy dog!!"),   # normalized dup of 0
    (4, "completely different content about spark engines"),
    (5, "spark engines process completely different content here"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_tokens_and_shingles(docs):
    row = docs.filter(F.col("doc_id") == 3).select(
        tokens_expr("text").alias("t"), shingles_expr("text", 3).alias("s")
    ).collect()[0]
    assert row["t"] == ["the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog"]
    assert "the quick brown" in row["s"]
    assert len(row["s"]) == len(set(row["s"]))  # distinct


def test_dedup_exact(docs):
    kept = dedup_exact_keep_min(docs, "doc_id", F.col("text"))
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids


def test_content_hash_normalizes(docs):
    h = docs.select("doc_id", content_hash_expr("text").alias("h")).collect()
    hm = {r["doc_id"]: r["h"] for r in h}
    assert hm[0] == hm[1] == hm[3]  # case/punct/whitespace collapse
    assert hm[0] != hm[2]


def test_ngram_jaccard_max_df_drops_hot_shingles(spark):
    """One ubiquitous shingle across every doc must not make the inverted-
    index join quadratic: with max_df it is dropped from BOTH the
    intersection and the per-doc set sizes. Expected values computed with a
    plain-python reimplementation of the capped semantics."""
    hot = "common boiler plate"
    rows = [(i, f"{hot} unique{'x' * (i % 3)} words number{i} tail{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def shingle_set(text, k=3):
        toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        if len(toks) < k:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingle_set(t) for i, t in rows}
    df_count = {}
    for s in sets.values():
        for sh in s:
            df_count[sh] = df_count.get(sh, 0) + 1
    capped = {i: {sh for sh in s if df_count[sh] <= 5} for i, s in sets.items()}
    expected = {}
    for a in range(20):
        for b in range(a + 1, 20):
            inter = len(capped[a] & capped[b])
            union = len(capped[a] | capped[b])
            if union and round(inter / union, 6) >= 0.2:
                expected[(a, b)] = round(inter / union, 6)

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", k=3, threshold=0.2, max_df=5
        ).collect()
    }
    assert got == expected


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in got and (0, 3) in got and (1, 3) in got
    assert (0, 2) in got  # 7/9 shared shingles... verify by value
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert j[(0, 1)] == 1.0
    assert (4, 5) not in got


def test_minhash_lsh_recovers_exact_pairs(docs):
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=16, k=3, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # identical docs collide in every band; near-dups at j≈0.6 very likely
    assert (0, 1) in got and (0, 3) in got


def test_minhash_signatures_short_and_null_docs(spark):
    """Docs shorter than k hash their whole token string as ONE shingle
    ('' for the empty doc); a NULL doc's single NULL shingle leaves every
    signature component NULL (min ignores NULL)."""
    import hashlib

    from etl_processes_spark.ops.dedup import P31, minhash_mix_constants, minhash_signatures

    def ref(shingle):
        h0 = int(hashlib.md5(shingle.encode()).hexdigest()[:15], 16) % P31
        return [(a * h0 + b) % P31 for a, b in minhash_mix_constants(64)]

    df = spark.createDataFrame(
        [(100, ""), (101, "one"), (102, None)], "doc_id long, text string"
    )
    sig = {r["id"]: r["sig"] for r in minhash_signatures(df, "doc_id", "text", 64, 5).collect()}
    assert sig == {100: ref(""), 101: ref("one"), 102: [None] * 64}


def test_simhash_identical_for_dups(docs):
    fp = {r["id"]: r["simhash"] for r in simhash_fingerprints(docs, "doc_id", "text").collect()}
    assert fp[0] == fp[1] == fp[3]
    assert fp[0] != fp[4]


def test_connected_components_chain_and_islands(spark, monkeypatch):
    from etl_processes_spark.ops import dedup

    # a 9-node chain (exercises pointer jumping on the distributed route:
    # diameter 8 must converge well under 6 iterations), a triangle, and a
    # 2-node island
    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "CC_MAX_ITERATIONS", 6)
    edges = [(i, i + 1) for i in range(8)] + [(20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {**{i: 0 for i in range(9)}, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_connected_components_raises_when_unconverged(spark, monkeypatch):
    from etl_processes_spark.ops import dedup

    # a 20-node chain cannot reach + confirm the fixpoint in 2 iterations
    # (DRIVER_MAX_EDGES=0 forces the distributed route the guard protects)
    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "CC_MAX_ITERATIONS", 2)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(19)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components(pairs)


def test_connected_components_initial_labels_same_result(spark, monkeypatch):
    from etl_processes_spark.ops import dedup

    edges = [(i, i + 1) for i in range(8)] + [(20, 21), (30, 31)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    # seed a known group min (nodes 4..8 pre-labeled 4; correct final is 0)
    seeds = spark.createDataFrame([(n, 4) for n in range(4, 9)], ["node", "label"])
    # DRIVER_MAX_EDGES=0 forces the DISTRIBUTED route — the seed-handling
    # join is only on that path (the driver union-find ignores seeds)
    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)
    plain = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    seeded = {
        r["node"]: r["cluster_id"]
        for r in dedup.connected_components(pairs, initial_labels=seeds).collect()
    }
    assert plain == seeded


def test_dedup_clusters_exact_and_near(docs):
    from etl_processes_spark.ops.dedup import dedup_clusters

    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(docs, "doc_id", "text", threshold=0.5).collect()
    }
    # docs 0/1 exact dups, 3 near-dup of 0; 2 near-dup of 0 at j=0.7 — all
    # one cluster with survivor 0; unrelated docs 4/5 form no cluster
    assert out[0] == out[1] == out[3] == 0
    assert 4 not in out and 5 not in out


def test_dedup_clusters_minhash_edge_source(docs):
    """The scale route (edge_source="minhash") must find the same obvious
    clusters as the exact n-gram route on this corpus: 0/1/3 collapse via
    exact edges alone, 2 joins via the near-dup edge (any banding of a
    0.7-Jaccard pair collides here), and unrelated docs stay out."""
    import pytest as _pytest

    from etl_processes_spark.ops.dedup import dedup_clusters

    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(
            docs, "doc_id", "text", k=3, threshold=0.5,
            edge_source="minhash", num_hashes=64, bands=32,
        ).collect()
    }
    assert out[0] == out[1] == out[3] == 0
    assert 4 not in out and 5 not in out
    with _pytest.raises(ValueError, match="edge_source"):
        dedup_clusters(docs, "doc_id", "text", edge_source="bogus")


# hypothesis: connected components vs python union-find ----------------------

from hypothesis import given, settings, strategies as st


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from etl_processes_spark.ops import dedup

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    # DRIVER_MAX_EDGES=0: exercise the DISTRIBUTED label-propagation route
    # (the default route is a driver union-find — comparing that against
    # this python union-find would be near-tautological)
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dedup, "DRIVER_MAX_EDGES", 0)
        got = {
            r["node"]: r["cluster_id"]
            for r in dedup.connected_components(pairs).collect()
        }
    assert got == expected


def test_cc_driver_and_distributed_routes_agree(spark, monkeypatch):
    from etl_processes_spark.ops import dedup

    # chain + two small cliques + isolated pair — routes must be bit-identical
    edges = (
        [(i, i + 1) for i in range(12)]
        + [(100, 101), (101, 102), (100, 102)]
        + [(200, 201)]
        + [(7, 300), (300, 301)]
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    routes = []
    real = dedup._cc_driver_union_find

    def spy(pdf, node_type):
        routes.append("driver")
        return real(pdf, node_type)

    monkeypatch.setattr(dedup, "_cc_driver_union_find", spy)
    # one count sizes either route: the bounded collect's, which the
    # fallback reuses for its shuffle width (a large statistic replaces it)
    counts = []
    frame_class = type(pairs)  # the concrete class that defines count()
    real_count = frame_class.count
    monkeypatch.setattr(
        frame_class, "count", lambda df: counts.append(1) or real_count(df)
    )

    def run(cap):
        # the switch point: 2 rows per pair of the undirected edge list
        monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", cap)
        counts.clear()
        rows = dedup.connected_components(pairs).collect()
        return sorted(map(tuple, rows)), len(counts)

    driver, driver_counts = run(2 * len(edges))
    dist, dist_counts = run(2 * len(edges) - 1)
    assert routes == ["driver"]
    assert driver == dist and len(driver) > 0
    assert driver_counts == 1 and dist_counts <= 1


@pytest.mark.parametrize("cap", [0, -1], ids=["driver", "distributed"])
def test_cc_empty_edges_keep_id_type(spark, monkeypatch, cap):
    # an empty edge list gives an empty (node, cluster_id) frame of the id
    # type on both routes; below zero, even no edges overflow the bound
    from pyspark.sql import types as T

    from etl_processes_spark.ops import dedup

    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", cap)
    ran = []
    real = dedup._cc_driver_union_find
    monkeypatch.setattr(
        dedup, "_cc_driver_union_find", lambda *a: ran.append(1) or real(*a)
    )
    pairs = spark.createDataFrame([], "id_a int, id_b int")
    out = dedup.connected_components(pairs)
    assert len(ran) == (cap == 0)
    assert out.collect() == []
    assert [(f.name, f.dataType) for f in out.schema] == [
        ("node", T.IntegerType()), ("cluster_id", T.IntegerType())
    ]


def test_dedup_incremental(spark):
    from etl_processes_spark.ops.dedup import content_hash_expr, dedup_incremental
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(
        [(0, "already seen document"), (1, "another known one")], ["doc_id", "text"]
    )
    seen = corpus.select(content_hash_expr("text").alias("__key")).distinct()

    batch = spark.createDataFrame(
        [
            (10, "already   SEEN document"),   # dup of corpus (normalized)
            (11, "genuinely new content"),
            (12, "genuinely new content"),     # within-batch dup of 11
            (13, "also new and unique"),
        ],
        ["doc_id", "text"],
    )
    fresh, new_seen = dedup_incremental(batch, seen, "doc_id", "text")
    assert sorted(r["doc_id"] for r in fresh.collect()) == [11, 13]
    assert fresh.columns == batch.columns
    # state grew by exactly the two fresh digests + one batch dup of corpus
    n0, n1 = seen.count(), new_seen.count()
    assert n1 == n0 + 2  # corpus dup re-hashes to an existing digest

    # idempotent: replaying the same batch yields nothing new
    fresh2, new_seen2 = dedup_incremental(batch, new_seen, "doc_id", "text")
    assert fresh2.count() == 0
    assert new_seen2.count() == n1


def test_select_cluster_survivors_quality_policy(spark):
    from pyspark.sql import functions as F

    from etl_processes_spark.ops.dedup import select_cluster_survivors

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], ["doc_id", "cluster_id"]
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.1)],
        ["doc_id", "quality_score"],
    )
    out = {r["doc_id"]: r for r in
           select_cluster_survivors(clusters, scores).collect()}
    # cluster 1: 2 and 3 tie at 0.9 -> min id 2 survives (NOT min-id-overall 1)
    assert out[1]["survivor_id"] == 2 and not out[1]["is_survivor"]
    assert out[2]["is_survivor"] and out[3]["survivor_id"] == 2
    # cluster 10: plain argmax
    assert out[10]["is_survivor"] and out[11]["survivor_id"] == 10
    # partition-invariant
    again = {r["doc_id"]: r["survivor_id"] for r in select_cluster_survivors(
        clusters.repartition(5), scores.repartition(3)).collect()}
    assert again == {k: v["survivor_id"] for k, v in out.items()}


def test_near_dup_incremental_against_frozen_index(spark):
    from etl_processes_spark.ops.dedup import minhash_index, near_dup_incremental

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to hide near the old river")
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about stars planets moons "
                        "comets orbits and the vast emptiness between galaxies")],
        ["doc_id", "text"],
    )
    sigs, idx = minhash_index(corpus, "doc_id", "text", num_hashes=64, bands=16, k=3)
    # normalized layout: the signature lives ONCE per doc, never per band row
    assert set(sigs.columns) == {"id", "sig"}
    assert set(idx.columns) == {"id", "band", "bh"}
    assert sigs.count() == 2 and idx.count() == 2 * 16

    batch = spark.createDataFrame(
        [
            (10, base),                                        # exact dup of corpus 1
            (11, base.replace("lazy", "sleepy")),              # near dup of corpus 1
            (12, "entirely novel content on cooking pasta with "
                 "garlic butter sage and a hint of lemon zest"),
            (13, "entirely novel content on cooking pasta with "
                 "garlic butter sage and a hint of lemon zest"),  # within-batch dup of 12
        ],
        ["doc_id", "text"],
    )
    fresh, batch_sigs, batch_idx = near_dup_incremental(
        batch, idx, "doc_id", "text", num_hashes=64, bands=16, k=3,
        threshold=0.5, sigs=sigs,
    )
    kept = sorted(r["doc_id"] for r in fresh.collect())
    assert kept == [12]  # 10/11 dup corpus; 13 dups 12 (min-id 12 survives)

    # batch index covers the WHOLE batch (dups included) and appends cleanly
    assert batch_idx.select("id").distinct().count() == 4
    grown = idx.unionByName(batch_idx)
    grown_sigs = sigs.unionByName(batch_sigs)
    # replaying the same batch against the grown index is a no-op
    fresh2, _, _ = near_dup_incremental(
        batch, grown, "doc_id", "text", num_hashes=64, bands=16, k=3,
        threshold=0.5, sigs=grown_sigs,
    )
    assert fresh2.count() == 0

    # legacy denormalized index (sig on every band row) splits in place
    legacy = idx.join(sigs, "id").select("id", "sig", "band", "bh")
    fresh3, _, _ = near_dup_incremental(
        batch, legacy, "doc_id", "text", num_hashes=64, bands=16, k=3,
        threshold=0.5,
    )
    assert sorted(r["doc_id"] for r in fresh3.collect()) == [12]
    # normalized buckets without the sigs companion is a loud error
    with pytest.raises(ValueError, match="sigs"):
        near_dup_incremental(
            batch, idx, "doc_id", "text", num_hashes=64, bands=16, k=3
        )


def test_minhash_band_validation(docs):
    import pytest

    from etl_processes_spark.ops.dedup import minhash_lsh_pairs

    with pytest.raises(ValueError, match="multiple"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8, bands=16)
    with pytest.raises(ValueError, match="multiple"):
        minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=64, bands=10)


# ---------------------------------------------------------------------------
# edit-distance similarity join
# ---------------------------------------------------------------------------


def _brute_pairs(spark, df, d):
    from pyspark.sql import functions as F

    a = df.select(F.col("id").alias("id_a"), F.lower("s").alias("sa"))
    b = df.select(F.col("id").alias("id_b"), F.lower("s").alias("sb"))
    return {
        (r["id_a"], r["id_b"], r["d"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("sa", "sb").alias("d"))
        .filter(F.col("d") <= d)
        .collect()
    }


def test_edit_distance_pairs_exact_vs_bruteforce(spark):
    import random

    from etl_processes_spark.ops.dedup import edit_distance_pairs

    rng = random.Random(7)
    alphabet = "abcdefg"
    bases = ["".join(rng.choice(alphabet) for _ in range(rng.randint(1, 14))) for _ in range(30)]
    rows = []
    i = 0
    for s in bases:
        rows.append((i, s)); i += 1
        # typo variants: substitution, deletion, insertion
        if len(s) > 2:
            p = rng.randrange(len(s))
            rows.append((i, s[:p] + rng.choice(alphabet) + s[p + 1:])); i += 1
            rows.append((i, s[:p] + s[p + 1:])); i += 1
        rows.append((i, s + rng.choice(alphabet))); i += 1
    df = spark.createDataFrame(rows, "id long, s string").repartition(5)
    for d in (0, 1, 2):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in edit_distance_pairs(df, "id", "s", max_distance=d).collect()
        }
        assert got == _brute_pairs(spark, df, d), f"mismatch at d={d}"


def test_edit_distance_pairs_short_and_mixed_lengths(spark):
    from etl_processes_spark.ops.dedup import edit_distance_pairs

    # short strings (vacuous q-gram bound) and a short-vs-long pair
    rows = [
        (1, "ab"), (2, "ac"), (3, "a"), (4, "abc"),
        (5, "abcdefghij"), (6, "abcdefghix"), (7, "zz"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r["id_a"], r["id_b"])
        for r in edit_distance_pairs(df, "id", "s", max_distance=1).collect()
    }
    assert got == {(p[0], p[1]) for p in _brute_pairs(spark, df, 1)}


def test_edit_distance_pairs_case_and_validation(spark):
    import pytest as _pytest

    from etl_processes_spark.ops.dedup import edit_distance_pairs

    df = spark.createDataFrame([(1, "Hello"), (2, "hello")], "id long, s string")
    assert edit_distance_pairs(df, "id", "s", max_distance=0).count() == 1
    assert (
        edit_distance_pairs(df, "id", "s", max_distance=0, lowercase=False).count() == 0
    )
    with _pytest.raises(ValueError):
        edit_distance_pairs(df, "id", "s", max_distance=-1)


def test_edit_distance_pairs_empty_strings(spark):
    from etl_processes_spark.ops.dedup import edit_distance_pairs

    # ('', s) with len(s) <= d is a real match and must be returned via the
    # short-string pool; ('', '') is distance 0
    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "ab"), (4, "abcd"), (5, None)],
        "id long, s string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in edit_distance_pairs(df, "id", "s", max_distance=2).collect()
    }
    assert got[(1, 2)] == 0       # empty-empty
    assert got[(1, 3)] == 2 and got[(2, 3)] == 2  # '' vs 'ab'
    assert (1, 4) not in got      # distance 4 > 2
    assert all(5 not in p for p in got)  # NULLs drop


# ---------------------------------------------------------------------------
# PPJoin prefix filtering (exactness vs the inverted-index path)
# ---------------------------------------------------------------------------


def _rand_docs(seed, n=60, vocab=40, lo=5, hi=30):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        ln = rng.randint(lo, hi)
        rows.append((i, " ".join(f"w{v}" for v in rng.randint(0, vocab, ln))))
    # plant near-dups and exact dups so high thresholds have positives
    rows[7] = (7, rows[3][1])
    toks = rows[11][1].split()
    toks[0] = "zzz"
    rows[12] = (12, " ".join(toks))
    return rows


def _routed_pairs(monkeypatch, route, df, threshold=0.5, **kw):
    """ngram_jaccard_pairs on the given route: the threshold alone picks it,
    so the route constant moves to the threshold (prefix) or just above it
    (inverted); a spy on the prefix kernel checks the route taken."""
    from etl_processes_spark.ops import dedup

    taken = []
    real = dedup._jaccard_pairs_prefix

    def spy(*a):
        taken.append("prefix")
        return real(*a)

    monkeypatch.setattr(dedup, "_jaccard_pairs_prefix", spy)
    cut = threshold if route == "prefix" else threshold + 1e-9
    monkeypatch.setattr(dedup, "PREFIX_MIN_THRESHOLD", cut)
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold, **kw
        ).collect()
    }
    assert taken == (["prefix"] if route == "prefix" else [])
    return out


@pytest.mark.parametrize(
    "seed,threshold",
    [(1, 0.3), (2, 0.5), (3, 0.8), (4, 0.9), (6, PREFIX_MIN_THRESHOLD)],
)
def test_prefix_mode_equals_inverted_mode(spark, monkeypatch, seed, threshold):
    """The PPJoin prefix path must return EXACTLY the inverted-index result
    (same pairs, same jaccard values) — prefix filtering is lossless by the
    prefix principle; a false negative anywhere fails this differential."""
    df = spark.createDataFrame(_rand_docs(seed), ["doc_id", "text"])
    inv = _routed_pairs(monkeypatch, "inverted", df, threshold, k=2)
    pre = _routed_pairs(monkeypatch, "prefix", df, threshold, k=2)
    assert pre == inv


def test_prefix_mode_equals_inverted_with_max_df(spark, monkeypatch):
    # the df cap excludes shingles from index AND verify on both routes
    df = spark.createDataFrame(_rand_docs(9, vocab=8), ["doc_id", "text"])
    kw = dict(k=2, threshold=0.4, max_df=10)
    inv = _routed_pairs(monkeypatch, "inverted", df, **kw)
    pre = _routed_pairs(monkeypatch, "prefix", df, **kw)
    assert pre == inv and len(inv) > 0


def test_ngram_mode_auto_routing(spark, docs):
    # prefix at t >= PREFIX_MIN_THRESHOLD (prunes), inverted below; both
    # exact, so routing is a plan decision — a higher threshold's pairs are
    # a subset of a lower one's across the two routes
    hi = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    lo = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.06)
    assert {(r["id_a"], r["id_b"]) for r in hi.collect()} <= {
        (r["id_a"], r["id_b"]) for r in lo.collect()
    }


@pytest.mark.parametrize("seed,threshold", [(11, 0.4), (12, 0.6)])
def test_prefix_positional_filter_differential_dense(spark, monkeypatch, seed, threshold):
    """Positional-filter stress: a dense corpus (small vocab, many docs) where
    most prefix collisions FAIL the positional bound — exactness must hold
    anyway because every qualifying pair's first common shingle passes it."""
    df = spark.createDataFrame(
        _rand_docs(seed, n=80, vocab=12, lo=4, hi=20), ["doc_id", "text"]
    )
    inv = _routed_pairs(monkeypatch, "inverted", df, threshold, k=2)
    pre = _routed_pairs(monkeypatch, "prefix", df, threshold, k=2)
    assert pre == inv and len(inv) > 0


def test_prefix_positional_filter_exact_boundary(spark, monkeypatch):
    """Pairs sitting EXACTLY at J == t, where α = ceil(t/(1+t)·(|a|+|b|)) is
    an exact integer — the regime where a float-ceil overshoot in the
    positional filter would silently drop a true pair. k=1 so the shingle
    sets are the literal token sets."""
    rows = [
        (1, "w1 w2"),            # {w1,w2}
        (2, "w1 w2 w3 w4"),      # o=2, u=4, J=0.5 == t; α=ceil(0.5/1.5·6)=2
        (3, "w5 w6 w7"),
        (4, "w5 w6 w7 w8 w9 wa"),  # o=3, u=6, J=0.5; α=ceil(0.5/1.5·9)=3
        (5, "zz yy"),            # J(5,·)=0 — no pair
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = _routed_pairs(monkeypatch, "prefix", df, 0.5, k=1)
    assert got == {(1, 2): 0.5, (3, 4): 0.5}


def test_prefix_mode_keeps_pairs_that_round_up_to_threshold(spark, monkeypatch):
    """J = 5/11 rounds to 0.5 at ndigits=1, so the final filter keeps the
    pair at t=0.5 — prefix pruning must not drop it before the verify.
    8 tokens each, 5 shared: the 3 unique tokens fill the front of both
    rarity orders, so the first common token sits at position 4, which
    fails the positional bound taken at the exact t (1 + 4 < ceil(16/3))."""
    rows = [
        (1, "u1 u2 u3 c1 c2 c3 c4 c5"),
        (2, "v1 v2 v3 c1 c2 c3 c4 c5"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(k=1, threshold=0.5, ndigits=1)
    inv = _routed_pairs(monkeypatch, "inverted", df, **kw)
    pre = _routed_pairs(monkeypatch, "prefix", df, **kw)
    assert inv == {(1, 2): 0.5}
    assert pre == inv


def test_prefix_index_is_actually_smaller(spark):
    """At t=0.9 the prefix index holds ~|S| - ceil(0.9|S|) + 1 entries per
    doc — materially smaller than full postings (the point of the route)."""
    from pyspark.sql.window import Window

    from etl_processes_spark.ops.dedup import md5_long_expr, shingles_expr

    df = spark.createDataFrame(_rand_docs(5, n=40), ["doc_id", "text"])
    sh = df.select(
        F.col("doc_id").alias("id"),
        F.explode(shingles_expr("text", 2)).alias("s"),
    ).select("id", md5_long_expr("s").alias("h"))
    total = sh.count()
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(freq, "h").withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("__df", "h"))
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    t = 0.9
    prefix_n = (
        ranked.join(sizes, "id")
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1)
        .count()
    )
    assert prefix_n < total * 0.35


def test_cc_driver_string_ids_fallback(spark):
    # non-numeric node ids take the dict-based loop; labels still min-id
    from etl_processes_spark.ops.dedup import connected_components

    edges = [("b", "c"), ("a", "b"), ("x", "y"), ("m", "m")]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "m": "m"}


def test_cc_driver_numpy_route_random_graphs(spark):
    # randomized graphs: vectorized driver labels == python union-find labels
    import random

    from etl_processes_spark.ops.dedup import connected_components

    rng = random.Random(11)
    for trial in range(3):
        n = rng.randint(2, 400)
        edges = [
            (rng.randrange(n) * 7, rng.randrange(n) * 7)
            for _ in range(rng.randint(1, 600))
        ]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        roots = {}
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in parent}
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["node"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        assert got == expected, trial
