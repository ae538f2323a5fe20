"""Clustering-engine tests (parity with the reference's algorithm
behavior — see SURVEY.md §5).

The reference reports NMI 0.999 on well-separated synthetic blobs;
we assert the same recovery property. The testdata embeddings table
is NOT separable (within-cluster spread ≈ 5× between-center
distance), so quality gates run on generated blobs and the testdata
path only checks mechanics.
"""

import numpy as np
import pandas as pd
import pytest

from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig, LocalKMeans, nmi_score
from bfr_clustering_using_pyspark_spark.ml.bfr import Summaries, mahalanobis_to_all
from bfr_clustering_using_pyspark_spark.ml.kmeans import dataframe_kmeans, mllib_kmeans
from bfr_clustering_using_pyspark_spark.ml.metrics import nmi_from_contingency
from tests.conftest import SF_SMALL


def make_blobs(n=5000, k=8, d=16, sep=10.0, noise=0.5, seed=7, outliers=0):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, sep, (k, d))
    labels = rng.integers(0, k, n)
    X = centers[labels] + rng.normal(0, noise, (n, d))
    if outliers:
        X = np.vstack([X, rng.normal(0, sep * 5, (outliers, d))])
        labels = np.concatenate([labels, np.full(outliers, -1)])
    return X, labels


def to_df(spark, X, labels):
    pdf = pd.DataFrame({"id": np.arange(len(X)), "features": list(X), "label": labels})
    return spark.createDataFrame(pdf)


def local_nmi(pred, truth):
    cont = (
        pd.DataFrame({"pred": pred, "truth": truth})
        .groupby(["pred", "truth"])
        .size()
        .reset_index(name="n")
    )
    return nmi_from_contingency(cont)


class TestLocalKMeans:
    def test_recovers_blobs(self):
        X, y = make_blobs(n=2000)
        km = LocalKMeans(8, 10, seed=3).fit(X)
        assert local_nmi(km.labels, y) > 0.99

    def test_single_point(self):
        # reference test/all_test.py: single-point smoke
        km = LocalKMeans(1, 2, seed=0).fit(np.array([[1.0, 2.0]]))
        assert km.labels.tolist() == [0]
        assert np.allclose(km.centers, [[1.0, 2.0]])

    def test_k_capped_at_n(self):
        km = LocalKMeans(10, 2, seed=0).fit(np.random.default_rng(0).normal(size=(4, 3)))
        assert km.centers.shape[0] == 4


class TestSummaries:
    def test_suffstats_roundtrip(self):
        X, y = make_blobs(n=500, k=4, d=8)
        s = Summaries.from_points(X, y % 4, 4)
        assert s.counts.sum() == 500
        for c in range(4):
            mask = (y % 4) == c
            assert np.allclose(s.centers[c], X[mask].mean(axis=0))
            assert np.allclose(s.stds[c], X[mask].std(axis=0))
            # the per-label loop is the reference: same order, same bits
            assert np.array_equal(s.sums[c], X[mask].sum(axis=0))
            assert np.array_equal(s.sqsums[c], (X[mask] ** 2).sum(axis=0))

    def test_mahalanobis_zero_std_dims_ignored(self):
        # reference Utils.mahalanobis_distance skips zero-std dims
        centers = np.array([[0.0, 0.0]])
        stds = np.array([[1.0, 0.0]])
        d = mahalanobis_to_all(np.array([[3.0, 100.0]]), centers, stds)
        assert np.allclose(d, [[3.0]])


class TestDistributedKMeans:
    def test_mllib_recovers_blobs(self, spark):
        X, y = make_blobs()
        assigned, centers = mllib_kmeans(to_df(spark, X, y), k=8, seed=1)
        pdf = assigned.toPandas()
        truth = pd.Series(y, index=np.arange(len(y)))
        assert local_nmi(pdf["cluster"], truth[pdf["id"]].to_numpy()) > 0.99

    def test_dataframe_kmeans_recovers_blobs(self, spark):
        X, y = make_blobs()
        assigned, centers = dataframe_kmeans(to_df(spark, X, y), k=8, n_iterations=5)
        pdf = assigned.toPandas()
        truth = pd.Series(y, index=np.arange(len(y)))
        assert local_nmi(pdf["cluster"], truth[pdf["id"]].to_numpy()) > 0.99
        assert centers.shape == (8, 16)


class TestBFR:
    def test_recovers_blobs(self, spark):
        X, y = make_blobs(n=10000)
        pts = to_df(spark, X, y)
        bfr = BFR(BFRConfig(n_clusters=8, n_chunks=4))
        assigned = bfr.fit(pts)
        j = assigned.toPandas().set_index("id").join(
            pd.DataFrame({"label": y}, index=np.arange(len(y)))
        )
        assert len(j) == len(X)  # every point assigned exactly once
        assert local_nmi(j["cluster"], j["label"]) > 0.95

    def test_outliers_go_to_rs_then_minus_one_or_fold(self, spark):
        X, y = make_blobs(n=4000, outliers=40)
        perm = np.random.default_rng(5).permutation(len(X))
        X, y = X[perm], y[perm]  # outliers spread across all chunks
        pts = to_df(spark, X, y)
        bfr = BFR(BFRConfig(n_clusters=8, n_chunks=4, rs_max=10))
        assigned = bfr.fit(pts).toPandas()
        assert len(assigned) == len(X)
        stats = bfr.intermediate_stats()
        # RS/CS machinery must have been exercised mid-stream
        assert (stats["nof_point_retained"] > 0).any() or (
            stats["nof_point_compression"] > 0
        ).any()

    def test_intermediate_stats_schema(self, spark):
        # reference intermediate CSV header, bfr.py:197-198
        X, y = make_blobs(n=1000, k=4, d=8)
        bfr = BFR(BFRConfig(n_clusters=4, n_chunks=2))
        bfr.fit(to_df(spark, X, y))
        stats = bfr.intermediate_stats()
        assert list(stats.columns) == [
            "round_id",
            "nof_cluster_discard",
            "nof_point_discard",
            "nof_cluster_compression",
            "nof_point_compression",
            "nof_point_retained",
        ]
        assert stats["round_id"].tolist() == [1, 2]

    def test_runs_on_testdata_embeddings(self, spark):
        from bfr_clustering_using_pyspark_spark.sources.readers import embeddings_as_points

        pts = embeddings_as_points(spark, SF_SMALL)
        bfr = BFR(BFRConfig(n_clusters=10, n_chunks=3))
        assigned = bfr.fit(pts)
        assert assigned.count() == pts.count()
        # NMI vs GT is data-limited here; just assert it computes
        assert 0.0 <= nmi_score(assigned, pts.select("id", "label")) <= 1.0


class TestNMI:
    def test_perfect_and_random(self):
        y = np.arange(1000) % 5
        assert local_nmi(y, y) == pytest.approx(1.0)
        rng = np.random.default_rng(0)
        assert local_nmi(rng.integers(0, 5, 100000), np.arange(100000) % 5) < 0.01

    def test_matches_sklearn_formula_on_known_case(self):
        # hand-checked 2x2 contingency
        cont = pd.DataFrame({"pred": [0, 0, 1, 1], "truth": [0, 1, 0, 1], "n": [45, 5, 5, 45]})
        val = nmi_from_contingency(cont)
        # analytic: MI = sum pij ln(pij/pi pj); H = ln2-ish
        import math

        pij = np.array([[0.45, 0.05], [0.05, 0.45]])
        mi = sum(
            pij[i, j] * math.log(pij[i, j] / (pij[i].sum() * pij[:, j].sum()))
            for i in range(2)
            for j in range(2)
        )
        h = -2 * (0.5 * math.log(0.5))
        assert val == pytest.approx(mi / (h / 1.0) * 2 / 2, rel=1e-9)


class TestBfrFitContractBridge:
    """r15 (VERDICT item 6): the production rows-only faces
    (bfr_fit / intermediate_stats) tied to the hash-gated det
    contracts — same header, conservation invariants, and the
    merge_into_ds fold semantics the gated lifecycle pins."""

    def test_intermediate_stats_satisfies_cs_stats_contract(self, spark):
        from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
            bfr_lloyd_cs_stats,
        )
        from bfr_clustering_using_pyspark_spark.sources.readers import (
            embeddings_as_points,
        )

        pts = embeddings_as_points(spark, SF_SMALL)
        bfr = BFR(BFRConfig(n_clusters=10, n_chunks=5))
        assigned = bfr.fit(pts).toPandas()
        st = bfr.intermediate_stats()

        # exact header contract of the hash-gated face (the reference
        # CSV header, bfr.py:196-198)
        gated_cols = bfr_lloyd_cs_stats(spark, SF_SMALL).columns
        assert list(st.columns) == gated_cols

        n_total = len(assigned)
        n_out = int((assigned["cluster"] == -1).sum())
        # conservation: every point seen so far sits in exactly one
        # tier, so the tier sum is nondecreasing round over round and
        # the DS (discard) count is monotone
        seen = (
            st["nof_point_discard"]
            + st["nof_point_compression"]
            + st["nof_point_retained"]
        )
        assert (seen.diff().dropna() >= 0).all()
        assert (st["nof_point_discard"].diff().dropna() >= 0).all()
        assert (st["nof_cluster_discard"] == 10).all()
        # merge_into_ds fold semantics on the final round: CS and RS
        # are emptied (members folded or emitted as -1 outliers), and
        # the final DS count is exactly n_total minus the outliers
        last = st.iloc[-1]
        assert last["nof_point_compression"] == 0
        assert last["nof_point_retained"] == 0
        assert last["nof_point_discard"] == n_total - n_out
        prev = st.iloc[-2]
        # no DS point ever leaves, and the final fold absorbs the
        # whole CS tier (unconditional nearest-DS, ref bfr.py:336-352)
        assert (
            last["nof_point_discard"]
            >= prev["nof_point_discard"] + prev["nof_point_compression"]
        )

    def test_bfr_fit_face_recovers_separable_corpus(self, spark, tmp_path):
        """The REGISTRY face (loader → fit → output) pinned at
        NMI >= 0.95 end-to-end on a separable corpus staged in the
        gate-corpus schema (the driver testdata embeddings are
        deliberately non-separable, so quality pins run on blobs)."""
        import pyspark.sql.functions as F

        from bfr_clustering_using_pyspark_spark.plans.ml_queries import bfr_fit

        X, y = make_blobs(n=4000, k=10, d=16, seed=11)
        pdf = pd.DataFrame(
            {
                "vec_id": np.arange(len(X), dtype=np.int64),
                "embedding": [row.astype(np.float32) for row in X],
                "label": y.astype(np.int32),
            }
        )
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            f"{tmp_path}/embeddings.parquet"
        )
        assigned = bfr_fit(spark, str(tmp_path)).toPandas().set_index("id")
        j = assigned.join(pdf.set_index("vec_id")["label"])
        assert len(j) == len(X)
        assert local_nmi(j["cluster"].to_numpy(), j["label"].to_numpy()) >= 0.95


class TestBfrNmiEval:
    """bfr_nmi_eval = the reference's headline number (get_nmi.py,
    README NMI 0.999): NMI of the complete lifecycle's labels vs
    ground truth, −1 scored as its own class."""

    def test_matches_independent_nmi_on_same_labels(self, spark):
        from bfr_clustering_using_pyspark_spark.plans.ml_queries import (
            bfr_lloyd_final,
            bfr_nmi_eval,
        )

        row = bfr_nmi_eval(spark, SF_SMALL).collect()[0]
        lab = bfr_lloyd_final(spark, SF_SMALL).toPandas().set_index("vec_id")
        truth = (
            spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
            .select("vec_id", "label")
            .toPandas()
            .set_index("vec_id")
        )
        j = lab.join(truth)
        assert row["n_points"] == len(j) == len(truth)
        assert row["n_outliers"] == int((j["cluster"] == -1).sum())
        assert row["n_pred"] == j["cluster"].nunique()
        # independent replica of sklearn's arithmetic-mean NMI
        # (ml/metrics.nmi_from_contingency, analytically pinned
        # above); −1 participates as a class exactly like sklearn
        # scores get_nmi.py's −1-padded vectors
        want = local_nmi(j["cluster"].to_numpy(), j["label"].to_numpy())
        assert row["nmi"] == pytest.approx(want, abs=5.1e-7)  # round(,6)
        assert 0.0 <= row["nmi"] <= 1.0
        try:  # true sklearn cross-check when the lib is present
            from sklearn.metrics import normalized_mutual_info_score
        except ImportError:
            return
        sk = normalized_mutual_info_score(
            j["label"].to_numpy(), j["cluster"].to_numpy()
        )
        assert row["nmi"] == pytest.approx(sk, abs=5.1e-7)


def test_silhouette_bounds(spark):
    """Silhouette is bounded in [-1, 1] by construction; on the
    non-separable embeddings it must sit near 0 (|s| < 0.25)."""
    from bfr_clustering_using_pyspark_spark.plans.ml_queries import silhouette_eval
    from tests.conftest import SF_SMALL

    rows = silhouette_eval(spark, SF_SMALL).collect()
    assert len(rows) == 10
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0
        assert abs(r["mean_silhouette"]) < 0.25


def test_ch_index_matches_numpy(spark):
    """The exact-integer CH formulation must agree with a plain
    numpy computation on the quantized (1e-3 unit) vectors."""
    import numpy as np

    from bfr_clustering_using_pyspark_spark.plans.ml_queries import ch_index_eval

    r = ch_index_eval(spark, SF_SMALL).collect()[0]
    pdf = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").toPandas()
    U = np.round(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1000)
    y = pdf["label"].to_numpy()
    n, k = len(y), len(set(y))
    c = U.mean(axis=0)
    ssb = ssw = 0.0
    for lab in set(y):
        P = U[y == lab]
        cl = P.mean(axis=0)
        ssw += ((P - cl) ** 2).sum()
        ssb += len(P) * ((cl - c) ** 2).sum()
    ch = (ssb / (k - 1)) / (ssw / (n - k))
    assert r["n_points"] == n and r["k"] == k
    assert abs(r["ch_index"] - ch) < 2e-4  # fixed-point at 1e-4
    assert abs(r["ssw"] * 1e6 - ssw) / ssw < 1e-6


class TestMultiSeedRestart:
    """Reference restart-selection parity (test_sklearn.py:16
    num_seeds, :50 get_inertia): best-of-N by inertia, deterministic."""

    def test_get_inertia_matches_numpy(self, spark):
        from bfr_clustering_using_pyspark_spark.ml.kmeans import get_inertia

        X, y = make_blobs(n=500, k=4, d=8)
        centers = np.stack([X[y == c].mean(axis=0) for c in range(4)])
        want = float(
            np.min(
                ((X[:, None, :] - centers[None]) ** 2).sum(axis=2), axis=1
            ).sum()
        )
        got = get_inertia(to_df(spark, X, y), centers)
        assert abs(got - want) / want < 1e-9

    def test_multiseed_is_deterministic_and_never_worse(self, spark):
        from bfr_clustering_using_pyspark_spark.ml.kmeans import get_inertia

        X, y = make_blobs(n=800, k=6, d=8, seed=3)
        df = to_df(spark, X, y).persist()
        _, c1a = dataframe_kmeans(df, k=6, n_iterations=3, seed=11, n_seeds=3)
        _, c1b = dataframe_kmeans(df, k=6, n_iterations=3, seed=11, n_seeds=3)
        assert np.array_equal(c1a, c1b)  # same seeds → same selection
        single = min(
            get_inertia(df, dataframe_kmeans(df, k=6, n_iterations=3, seed=11 + i)[1])
            for i in range(3)
        )
        multi = get_inertia(df, c1a)
        assert multi <= single + 1e-6  # best-of-3 == min over the 3 runs
        df.unpersist()

    def test_mllib_multiseed_never_worse(self, spark):
        X, y = make_blobs(n=600, k=5, d=8, seed=9)
        df = to_df(spark, X, y)
        from bfr_clustering_using_pyspark_spark.ml.kmeans import get_inertia

        _, c_multi = mllib_kmeans(df, k=5, max_iter=5, seed=2, n_seeds=3)
        _, c_single = mllib_kmeans(df, k=5, max_iter=5, seed=2, n_seeds=1)
        assert get_inertia(df, c_multi) <= get_inertia(df, c_single) + 1e-6
