"""BFR edge cases: single chunk, empty mid-stream chunk, duplicate
points, tiny d."""

import numpy as np
import pandas as pd

from bfr_clustering_using_pyspark_spark.ml import BFR, BFRConfig
from tests.test_ml import make_blobs, to_df


def test_single_chunk(spark):
    X, y = make_blobs(n=800, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=1))
    out = bfr.fit(to_df(spark, X, y))
    assert out.count() == 800
    assert len(bfr.round_stats) == 1


def test_empty_middle_chunk(spark):
    # ids leave a hole so one range-chunk is empty
    X, y = make_blobs(n=600, k=3, d=4)
    ids = np.concatenate([np.arange(300), np.arange(900, 1200)])
    pdf = pd.DataFrame({"id": ids, "features": list(X), "label": y})
    pts = spark.createDataFrame(pdf)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=4))
    out = bfr.fit(pts)
    assert out.count() == 600


def test_duplicate_points(spark):
    X, y = make_blobs(n=200, k=2, d=4)
    X = np.repeat(X, 3, axis=0)
    y = np.repeat(y, 3)
    bfr = BFR(BFRConfig(n_clusters=2, n_chunks=2))
    out = bfr.fit(to_df(spark, X, y))
    assert out.count() == 600


def test_use_cs_false_path(spark):
    """CS machinery disabled: RS overflow must not compress; points
    still assigned exactly once."""
    X, y = make_blobs(n=2000, k=4, d=6, outliers=30)
    perm = np.random.default_rng(8).permutation(len(X))
    bfr = BFR(BFRConfig(n_clusters=4, n_chunks=3, rs_max=5, use_cs=False))
    out = bfr.fit(to_df(spark, X[perm], y[perm])).toPandas()
    assert len(out) == len(X)
    assert out["id"].nunique() == len(X)
    stats = bfr.intermediate_stats()
    assert (stats["nof_cluster_compression"] == 0).all()


def test_each_point_assigned_exactly_once(spark):
    X, y = make_blobs(n=2000, k=5, d=8, outliers=20)
    perm = np.random.default_rng(2).permutation(len(X))
    bfr = BFR(BFRConfig(n_clusters=5, n_chunks=3, rs_max=8))
    out = bfr.fit(to_df(spark, X[perm], y[perm])).toPandas()
    assert len(out) == len(X)
    assert out["id"].nunique() == len(X)


def test_midstream_crash_resume_bit_identical(spark, tmp_path):
    """Recovery contract (r10): every round checkpoints the complete
    mutable state AFTER its durable assignment write; a crash mid-
    round resumes at that round (idempotent per-round overwrite) and
    the finished fit is BIT-IDENTICAL — same (id, cluster) labels,
    same round_stats — to an uninterrupted run. The reference Runner
    has no restartability; at 100 TB a chunk-24-of-500 crash must not
    restart the fit."""
    X, y = make_blobs(n=2000, k=4, d=6)
    cfg = dict(n_clusters=4, n_chunks=5, rs_max=16)

    # ground truth: uninterrupted fit
    ref = BFR(BFRConfig(**cfg))
    ref_out = sorted(map(tuple, ref.fit(to_df(spark, X, y), run_dir=str(tmp_path / "ref")).collect()))
    ref_stats = [vars(r) for r in ref.round_stats]

    # interrupted fit: crash INSIDE round 2 (after rounds 0-1 are
    # durable), before round 2's checkpoint
    crash_dir = str(tmp_path / "crash")
    victim = BFR(BFRConfig(**cfg))
    original = victim._apply_feedback
    calls = {"n": 0}

    def sabotaged(fb):
        if calls["n"] == 2:
            raise RuntimeError("simulated executor-driver crash")
        calls["n"] += 1
        return original(fb)

    victim._apply_feedback = sabotaged
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated"):
        victim.fit(to_df(spark, X, y), run_dir=crash_dir)

    # resume with a FRESH model instance (fresh process semantics:
    # nothing carries over but run_dir)
    resumed = BFR(BFRConfig(**cfg))
    out = sorted(map(tuple, resumed.fit(to_df(spark, X, y), run_dir=crash_dir, resume=True).collect()))
    assert out == ref_out
    assert [vars(r) for r in resumed.round_stats] == ref_stats


def test_resume_without_state_is_full_fit(spark, tmp_path):
    """resume=True on a virgin run_dir degrades to a normal fit."""
    X, y = make_blobs(n=600, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    out = bfr.fit(to_df(spark, X, y), run_dir=str(tmp_path / "virgin"), resume=True)
    assert out.count() == 600


def test_torn_checkpoint_falls_back_to_scratch(spark, tmp_path):
    """A truncated/empty state.json (pre-fsync crash on an old build,
    disk fault) must not block resume: the fit refits from scratch
    instead of raising JSONDecodeError (r11 ADVICE)."""
    X, y = make_blobs(n=600, k=3, d=4)
    run_dir = tmp_path / "torn"
    run_dir.mkdir()
    (run_dir / "state.json").write_text('{"next_round": 1, "ds"')  # torn
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    out = bfr.fit(to_df(spark, X, y), run_dir=str(run_dir), resume=True)
    assert out.count() == 600


def test_resume_provenance_mismatch_raises(spark, tmp_path):
    """Resuming with a different chunking (or corpus) must fail
    LOUDLY: silently skipping rounds that never ran for this data is
    the r11 ADVICE defect."""
    import pytest

    X, y = make_blobs(n=600, k=3, d=4)
    run_dir = str(tmp_path / "prov")
    b1 = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    b1.fit(to_df(spark, X, y), run_dir=run_dir)
    # same data, DIFFERENT n_chunks
    b2 = BFR(BFRConfig(n_clusters=3, n_chunks=4))
    with pytest.raises(ValueError, match="provenance mismatch"):
        b2.fit(to_df(spark, X, y), run_dir=run_dir, resume=True)
    # different CORPUS (row count), same chunking
    b3 = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    with pytest.raises(ValueError, match="provenance mismatch"):
        b3.fit(to_df(spark, X[:500], y[:500]), run_dir=run_dir, resume=True)


def test_stale_round_dirs_cleaned_before_final_read(spark, tmp_path):
    """A run_dir left by a prior fit with MORE chunks must not leak
    its extra round_NNNNN assignment dirs into the returned frame
    (r11 ADVICE): the recursive read sweeps everything under
    assignments/, so stale dirs beyond n_chunks are removed first."""
    X, y = make_blobs(n=600, k=3, d=4)
    run_dir = str(tmp_path / "stale")
    b1 = BFR(BFRConfig(n_clusters=3, n_chunks=5))
    assert b1.fit(to_df(spark, X, y), run_dir=run_dir).count() == 600
    # fresh fit (resume=False) into the SAME dir with fewer chunks:
    # rounds 2-4 of the old run are stale and must be swept
    b2 = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    out = b2.fit(to_df(spark, X, y), run_dir=run_dir).toPandas()
    assert len(out) == 600
    assert out["id"].nunique() == 600


def test_failed_checkpoint_write_surfaces(spark, tmp_path, monkeypatch):
    """The checkpoint IO runs on a background thread; a write failure
    must raise at the next join point, not vanish (losing durability
    silently would defeat the checkpoint)."""
    import json as _json

    import pytest

    X, y = make_blobs(n=600, k=3, d=4)
    bfr = BFR(BFRConfig(n_clusters=3, n_chunks=2))
    monkeypatch.setattr(
        _json, "dump", lambda *a, **k: (_ for _ in ()).throw(OSError("disk full"))
    )
    with pytest.raises(RuntimeError, match="checkpoint write failed"):
        bfr.fit(to_df(spark, X, y), run_dir=str(tmp_path / "fail"))


def test_assign_kernel_on_arrow_batch():
    """The mapInArrow kernel, without Spark, on one hand-built batch:
    its DS/CS partials equal ``Summaries.from_points`` of the points
    it put in each set, RS rows carry the exact input features, and
    every input id comes back once across the assign, CS-member and
    RS rows."""
    import pyarrow as pa

    from bfr_clustering_using_pyspark_spark.ml.bfr import Summaries, _lists

    rng = np.random.default_rng(11)
    d = 3
    ds_centers = np.array([[0.0, 0.0, 0.0], [20.0, 20.0, 20.0]])
    cs_center = np.array([-20.0, 0.0, 20.0])

    def blob(center, n):
        return center + rng.normal(0, 0.5, (n, d))

    bfr = BFR(BFRConfig(n_clusters=2))
    init = np.vstack([blob(ds_centers[0], 200), blob(ds_centers[1], 200)])
    bfr.ds = Summaries.from_points(init, np.repeat([0, 1], 200), 2)
    bfr.cs = Summaries.from_points(blob(cs_center, 50), np.zeros(50, dtype=np.int64), 1)
    bfr.cs_members = [[]]

    # ids shuffled so no set is a contiguous id range
    truth = np.repeat([0, 1, 2, 3], [30, 25, 15, 5])  # DS 0, DS 1, CS 0, RS
    pts = np.vstack([
        blob(ds_centers[0], 30), blob(ds_centers[1], 25), blob(cs_center, 15),
        rng.uniform(500, 1000, (5, d)),
    ])
    perm = rng.permutation(len(pts))
    pts, truth = pts[perm], truth[perm]
    ids = rng.permutation(np.arange(1000, 1000 + len(pts))).astype(np.int64)
    batch = pa.RecordBatch.from_arrays([pa.array(ids), _lists(pts)], names=["id", "features"])

    out = pa.Table.from_batches(list(bfr._assign_kernel(d)(iter([batch])))).to_pandas()
    by = {rt: out[out["rtype"] == rt] for rt in out["rtype"].unique()}

    asg, member, rs = by[BFR._RT_ASSIGN], by[BFR._RT_CS_MEMBER], by[BFR._RT_RS]
    back = np.concatenate([asg["id"], member["id"], rs["id"]])
    assert len(back) == len(ids) and set(back) == set(ids)

    pos = {int(i): p for p, i in enumerate(ids)}
    asg_pos = np.array([pos[i] for i in asg["id"]])
    assert (asg["label"].to_numpy() == truth[asg_pos]).all()
    assert (truth[[pos[i] for i in member["id"]]] == 2).all()
    rs_pos = [pos[i] for i in rs["id"]]
    assert (truth[rs_pos] == 3).all()
    assert np.array_equal(np.stack(rs["features"].to_numpy()), pts[rs_pos])

    # the kernel sums in batch order: take each subset in that order
    for rt, members, labels, k in (
        (BFR._RT_P_DS, np.sort(asg_pos), truth, 2),
        (BFR._RT_P_CS, np.sort([pos[i] for i in member["id"]]), np.zeros_like(truth), 1),
    ):
        want = Summaries.from_points(pts[members], labels[members], k)
        got = by[rt].sort_values("label")
        assert (got["label"].to_numpy() == np.arange(k)).all()
        assert (got["n"].to_numpy() == want.counts).all()
        assert np.array_equal(np.stack(got["sums"].to_numpy()), want.sums)
        assert np.array_equal(np.stack(got["sqsums"].to_numpy()), want.sqsums)


def test_fit_is_layout_invariant(spark):
    """The same id-sorted points as 1 partition and as 16 give the
    same (id, cluster) rows and round stats: chunks are coalesced to
    the session's cores before the kernel, and the driver folds RS
    points in id order whatever order the tasks return them in. At
    n=800, k=4, 4 chunks the init sample is all of chunk 0 (frac 1),
    which keeps the sample itself layout-free."""
    X, y = make_blobs(n=760, k=4, d=6, outliers=40)
    perm = np.random.default_rng(5).permutation(len(X))
    df = to_df(spark, X[perm], y[perm])
    layouts = {
        1: df.coalesce(1),
        16: df.repartitionByRange(16, "id").sortWithinPartitions("id"),
    }
    results = {}
    for parts, pts in layouts.items():
        assert pts.rdd.getNumPartitions() == parts
        bfr = BFR(BFRConfig(n_clusters=4, n_chunks=4, rs_max=8))
        rows = sorted(map(tuple, bfr.fit(pts).collect()))
        results[parts] = (rows, bfr.intermediate_stats())
    assert results[1][0] == results[16][0]
    pd.testing.assert_frame_equal(results[1][1], results[16][1])
    assert results[1][1]["nof_cluster_compression"].max() > 0  # the CS path ran
