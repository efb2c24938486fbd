"""k-means training (operators/clustering.py) vs an independent pure-
Python Lloyd reference with the same integer-exact contract."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from quanta_contrib.operators.clustering import kmeans_train_quantized


def _ref_kmeans(ids, vecs, k, n_iter, scale=1000):
    """Reference Lloyd: quantize, seed by md5-least ids, assign by int
    squared euclidean (tie -> lowest cell), floored-int-mean update,
    empty-cell carry-forward. Returns (centroids, counts, d2sums)."""
    q = {i: np.floor(np.asarray(v, dtype=np.float64) * scale + 0.5).astype(np.int64)
         for i, v in zip(ids, vecs)}
    seed_ids = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:k]
    cent = np.stack([q[i] for i in seed_ids])
    counts = d2s = None
    for _ in range(n_iter):
        sums = np.zeros_like(cent)
        counts = np.zeros(k, dtype=np.int64)
        d2s = np.zeros(k, dtype=np.int64)
        for i in ids:
            d2 = ((q[i][None, :] - cent) ** 2).sum(axis=1)
            c = int(d2.argmin())
            sums[c] += q[i]
            counts[c] += 1
            d2s[c] += d2[c]
        new = cent.copy()
        for c in range(k):
            if counts[c]:
                new[c] = sums[c] // counts[c]
        cent = new
    return cent, counts, d2s


def _run(spark, ids, vecs, k, n_iter):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans_train_quantized(df, k=k, n_iter=n_iter).collect()
    d = len(vecs[0])
    cent = np.zeros((k, d), dtype=np.int64)
    counts = np.zeros(k, dtype=np.int64)
    d2s = np.zeros(k, dtype=np.int64)
    for r in out:
        cent[r["cell"], r["dim"]] = r["c_val"]
        counts[r["cell"]] = r["n_members"]
        d2s[r["cell"]] = r["sum_d2"]
    return cent, counts, d2s


def test_kmeans_matches_reference_on_separated_clusters(spark):
    rng = np.random.default_rng(7)
    vecs = [(rng.standard_normal(4) * 0.05 + off).tolist()
            for off in (0.0, 5.0, -5.0) for _ in range(5)]
    ids = list(range(15))
    got = _run(spark, ids, vecs, k=3, n_iter=2)
    want = _ref_kmeans(ids, vecs, k=3, n_iter=2)
    for g, w in zip(got, want):
        np.testing.assert_array_equal(g, w)
    # well-separated: every cluster of 5 found
    assert sorted(got[1].tolist()) == [5, 5, 5]


def test_kmeans_empty_cell_carries_seed_forward(spark):
    # two IDENTICAL seed vectors: every point ties -> lowest cell wins
    # all members, the other cell stays empty and must keep its seed
    ids = [1, 2, 3, 4]
    seed_order = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    vecs_by_id = {seed_order[0]: [0.5, 0.5], seed_order[1]: [0.5, 0.5],
                  seed_order[2]: [0.4, 0.4], seed_order[3]: [0.6, 0.6]}
    vecs = [vecs_by_id[i] for i in ids]
    cent, counts, d2s = _run(spark, ids, vecs, k=2, n_iter=2)
    want_c, want_n, want_d = _ref_kmeans(ids, vecs, k=2, n_iter=2)
    np.testing.assert_array_equal(cent, want_c)
    np.testing.assert_array_equal(counts, want_n)
    np.testing.assert_array_equal(d2s, want_d)
    assert counts[1] == 0 and counts[0] == 4
    np.testing.assert_array_equal(cent[1], [500, 500])  # carried seed


def test_kmeans_validates_args(spark):
    df = spark.createDataFrame([(1, [0.1])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="k >= 1"):
        kmeans_train_quantized(df, k=0)
    with pytest.raises(ValueError, match="only 1 vectors"):
        kmeans_train_quantized(df, k=5)


def test_spherical_centroids_recover_cluster_directions(spark):
    """3 tight direction clusters on the sphere: after training, each
    true direction must have some centroid within cosine 0.95 (seeds
    alone can start anywhere; Lloyd pulls them onto the modes)."""
    from quanta_contrib.operators.clustering import train_spherical_centroids

    rng = np.random.default_rng(3)
    dirs = np.eye(3)  # orthogonal cluster directions in R^3
    rows = []
    i = 0
    for c in range(3):
        for _ in range(40):
            v = dirs[c] + rng.standard_normal(3) * 0.05
            rows.append((i, [float(x) for x in v]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = train_spherical_centroids(df, n_cells=3, n_iter=4)
    assert cent.shape == (3, 3)
    np.testing.assert_allclose(np.linalg.norm(cent, axis=1), 1.0, atol=1e-9)
    sims = cent @ dirs.T  # (centroid, true direction)
    assert (sims.max(axis=0) > 0.95).all()


def test_random_project_exact_and_jl_property(spark):
    """Projection equals the literal sign-matrix product, and JL holds
    statistically: pairwise squared distances in the projected space
    (rescaled by 1/out_dim) approximate the originals."""
    from quanta_contrib.operators.clustering import _rp_sign, random_project

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((30, 64)) * 0.2
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    out = random_project(df, in_dim=64, out_dim=16).collect()
    got = np.zeros((30, 16), dtype=np.int64)
    for r in out:
        got[r["vec_id"], r["out_dim"]] = r["y"]
    qv = np.floor(vecs.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    S = np.array([[_rp_sign(i, j) for j in range(16)] for i in range(64)], dtype=np.int64)
    np.testing.assert_array_equal(got, qv @ S)
    # JL distortion check (loose: 16 dims, median ratio near 1)
    d_orig = ((qv[:, None, :] - qv[None, :, :]) ** 2).sum(-1).astype(float)
    d_proj = ((got[:, None, :] - got[None, :, :]) ** 2).sum(-1).astype(float) / 16
    iu = np.triu_indices(30, 1)
    ratio = d_proj[iu] / d_orig[iu]
    assert 0.7 < np.median(ratio) < 1.3


def test_random_project_validates_dims(spark):
    import pytest as _pytest

    from quanta_contrib.operators.clustering import random_project

    df = spark.createDataFrame([(1, [0.1])], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="out_dim"):
        random_project(df, out_dim=0)


def test_train_pq_codebooks_shape_and_improvement(spark):
    """Trained codebooks must (a) keep the (n_sub, n_cent, sub_dim)
    contract, (b) not increase total quantization error vs the seed
    codebooks on the same corpus (Lloyd monotonically reduces within-
    codebook SSE from its own init; seeds ARE the init)."""
    from quanta_contrib.operators.clustering import train_pq_codebooks
    from quanta_contrib.operators.similarity import _pq_centroids

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((200, 16)) * 0.3
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )

    def sse(cent):
        v = vecs.astype(np.float64).reshape(200, 4, 1, 4)
        d = ((v - cent[None]) ** 2).sum(axis=3)
        return d.min(axis=2).sum()

    seed = _pq_centroids(df, 8, 4, 4)
    trained = train_pq_codebooks(df, n_cent=8, n_sub=4, dim=16, n_iter=3)
    assert trained.shape == (4, 8, 4)
    assert sse(trained) <= sse(seed) + 1e-9
    assert sse(trained) < sse(seed) * 0.9  # real improvement, not a no-op


def test_class_centroid_accuracy_separated_labels(spark):
    """Perfectly separated labels classify 100%; a planted outlier
    sitting on the other label's centroid is counted wrong."""
    from quanta_contrib.operators.clustering import class_centroid_accuracy

    rows = []
    i = 0
    for lbl, base in ((0, 0.1), (1, 0.9)):
        for _ in range(5):
            rows.append((i, lbl, [base, base]))
            i += 1
    # outlier: label 0 but sits at label 1's centroid
    rows.append((i, 0, [0.9, 0.9]))
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    got = {r["label"]: (r["n_vecs"], r["n_correct"]) for r in class_centroid_accuracy(df).collect()}
    # label-0 centroid is dragged slightly toward the outlier but the 5
    # clean points remain nearest to it; the outlier lands on label 1
    assert got[0] == (6, 5)
    assert got[1] == (5, 5)


def test_class_centroid_accuracy_tie_breaks_lowest_label(spark):
    """Two identical label populations -> identical centroids: every
    vector ties and must classify to the LOWEST label."""
    from quanta_contrib.operators.clustering import class_centroid_accuracy

    rows = [(1, 3, [0.5]), (2, 7, [0.5])]
    df = spark.createDataFrame(rows, "vec_id long, label long, embedding array<float>")
    got = {r["label"]: (r["n_correct"], r["accuracy_bp"]) for r in class_centroid_accuracy(df).collect()}
    assert got[3] == (1, 10_000)
    assert got[7] == (0, 0)


def _planted_emb(spark, n=300, d=16, n_parts=4):
    """Deterministic vectors with variance concentrated on a planted
    direction u (index pattern), plus small structured residue."""
    import numpy as np

    rows = []
    u = np.zeros(d)
    u[0], u[3] = 3.0, 4.0  # |u| = 5, direction (0.6, 0.8) in dims 0/3
    u /= np.linalg.norm(u)
    for i in range(n):
        a = ((i * 37) % 21 - 10) / 10.0  # in [-1, 1], mean ~0
        b = ((i * 11) % 7 - 3) / 30.0  # small residue on dim 1
        v = a * u
        v[1] += b
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(
        n_parts
    )


def test_pca_covariance_is_partitioning_invariant(spark):
    from quanta_contrib.operators.clustering import pca_covariance

    emb = _planted_emb(spark, d=16)
    one = sorted(map(tuple, pca_covariance(emb.repartition(1), in_dim=16).collect()))
    many = sorted(map(tuple, pca_covariance(emb.repartition(7), in_dim=16).collect()))
    assert one == many
    assert len(one) == 256


def test_pca_fit_recovers_planted_direction(spark):
    import numpy as np

    from quanta_contrib.operators.clustering import pca_fit

    emb = _planted_emb(spark, d=16)
    comps, ratios = pca_fit(emb, k=3, in_dim=16)
    c0 = np.array(comps[0], dtype=np.float64) / 1e6
    u = np.zeros(16)
    u[0], u[3] = 0.6, 0.8
    assert abs(float(np.dot(c0, u))) > 0.999, c0
    assert ratios[0] > 0.95 and ratios == sorted(ratios, reverse=True)
    # orthonormal (within quantization): unit norms, near-zero dots
    for c in comps:
        v = np.array(c, dtype=np.float64) / 1e6
        assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    v1 = np.array(comps[1], dtype=np.float64) / 1e6
    assert abs(float(np.dot(c0, v1))) < 1e-4
    # sign fix: the largest-|coeff| entry is positive
    for c in comps:
        assert c[int(np.argmax(np.abs(c)))] > 0


def test_pca_project_matches_numpy_and_stays_jvm_side(spark):
    import numpy as np

    from quanta_contrib.operators.clustering import pca_fit, pca_project

    emb = _planted_emb(spark, d=16)
    comps, _ = pca_fit(emb, k=2, in_dim=16)
    out = pca_project(emb, comps, id_col="vec_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no shuffle of its own (the only Exchange is the test fixture's
    # round-robin repartition) and no Python in the projection
    assert "Exchange hashpartitioning" not in plan, plan
    assert "mapInPandas" not in plan.lower(), plan
    got = {(r["vec_id"], r["out_dim"]): r["y"] for r in out.collect()}
    pdf = emb.orderBy("vec_id").toPandas()
    W = np.array(comps, dtype=np.int64)
    for _, row in pdf.head(20).iterrows():
        q = np.floor(np.array(row["embedding"], dtype=np.float64) * 10_000 + 0.5).astype(
            np.int64
        )
        for j in range(2):
            assert got[(row["vec_id"], j)] == int((q * W[j]).sum())


def test_pca_validation(spark):
    import pytest as _pytest

    from quanta_contrib.operators.clustering import pca_covariance, pca_fit, pca_project

    emb = _planted_emb(spark, n=1, d=16)
    with _pytest.raises(ValueError, match="in_dim"):
        pca_covariance(emb, in_dim=0)
    with _pytest.raises(ValueError, match=">= 2 rows"):
        pca_fit(emb, k=1, in_dim=16)
    with _pytest.raises(ValueError, match="components"):
        pca_project(emb, [])


def test_pca_cov_merge_is_linear_and_order_invariant(spark):
    """cov(a ∪ b) == merge(cov(a), cov(b)), in any fold order — the
    property that makes PCA statistics a continuous aggregate."""
    from quanta_contrib.operators.clustering import pca_cov_merge, pca_covariance

    emb = _planted_emb(spark, n=120, d=16)
    a = emb.filter("vec_id < 40")
    b = emb.filter("vec_id >= 40 AND vec_id < 90")
    c = emb.filter("vec_id >= 90")
    cov = lambda df: pca_covariance(df, in_dim=16)  # noqa: E731
    full = sorted(map(tuple, cov(emb).collect()))
    fwd = sorted(map(tuple, pca_cov_merge(pca_cov_merge(cov(a), cov(b)), cov(c)).collect()))
    rev = sorted(map(tuple, pca_cov_merge(cov(c), pca_cov_merge(cov(b), cov(a))).collect()))
    assert fwd == full and rev == full
