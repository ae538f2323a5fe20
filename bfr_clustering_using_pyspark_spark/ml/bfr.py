"""Distributed BFR (Bradley–Fayyad–Reina) streaming clustering.

Parity target: the reference's ``Runner`` (``/root/reference/code/
bfr.py:191-468``) — Discard Sets / Compressed Sets / Retained Set
with N/SUM/SUMSQ sufficient statistics (``SummarizedSet``,
bfr.py:142-188), Mahalanobis assignment gated at α·√d
(``assign_to_ss``, bfr.py:363-374), RS re-clustering into CS
(``cluster_rs``, bfr.py:259-288), CS–CS merging (``merge_css``,
bfr.py:290-320) and a final CS/RS fold-in (``merge_into_ds``,
bfr.py:336-355).

Spark-first architecture (designed for 1000 executors / 100 TB):

- Cluster state is O(k·d) floats — kept on the driver and broadcast
  into every assignment pass. Points NEVER stream to the driver; the
  only driver-side point pool is the retained set, which is bounded
  by ``rs_max`` (overflow triggers CS compression, per the
  algorithm).
- Each round is one wave of Python tasks: the chunk is coalesced
  (narrow, no shuffle) to at most the session's default parallelism,
  so an id-range chunk living in a few cached partitions does not pay
  a Python-worker handoff for every empty one. The assign kernel is a
  ``mapInArrow`` pass — features are read from the Arrow batch as one
  (n, d) matrix, NumPy-vectorized Mahalanobis runs against all
  summaries at once, and output batches are built from NumPy arrays
  (no pandas on the per-point path).
- Sufficient-statistic updates are map-side partial aggregates: each
  Arrow batch emits one row per touched cluster (n, Σx, Σx²), so the
  driver collect is O(num_batches × k), independent of n. The driver
  collects that feedback as Arrow and folds it with array operations.
- Per-chunk assignments are appended to a parquet run directory
  (linear distributed write) instead of accumulating a lazy union of
  Python-UDF stages.

Semantic divergence from the reference (deliberate, documented): the
reference updates summaries point-by-point WITHIN a chunk (bfr.py:
382-391), so a chunk's later points see slightly drifted centers.
The distributed formulation holds summaries fixed during a chunk and
folds in the partial sums afterwards — the textbook batch-BFR
semantics, and the only shuffle-free one.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from .local_kmeans import LocalKMeans

KIND_DS, KIND_CS, KIND_RS = 0, 1, 2


@dataclass
class Summaries:
    """Sufficient statistics for a family of sets (DS or CS).

    Mirrors reference ``SummarizedSet`` (bfr.py:142-188) but stored
    columnar: counts (k,), sums (k,d), sqsums (k,d).
    """

    counts: np.ndarray
    sums: np.ndarray
    sqsums: np.ndarray

    @property
    def k(self) -> int:
        return len(self.counts)

    @property
    def centers(self) -> np.ndarray:
        return self.sums / np.maximum(self.counts[:, None], 1)

    @property
    def stds(self) -> np.ndarray:
        c = self.centers
        var = self.sqsums / np.maximum(self.counts[:, None], 1) - c**2
        return np.sqrt(np.maximum(var, 0.0))

    @classmethod
    def empty(cls, d: int) -> "Summaries":
        return cls(np.zeros(0, dtype=np.int64), np.zeros((0, d)), np.zeros((0, d)))

    @classmethod
    def from_points(cls, pts: np.ndarray, labels: np.ndarray, k: int) -> "Summaries":
        """Sum rows by label: N/Σx/Σx² of ``pts`` per label in [0, k),
        one weighted ``bincount`` per column (rows accumulate in input
        order, so the sums equal a per-label ``sum(axis=0)``)."""
        d = pts.shape[1]
        cols = np.hstack([pts, pts * pts])
        acc = np.zeros((k, 2 * d))
        for j in range(2 * d):
            acc[:, j] = np.bincount(labels, weights=cols[:, j], minlength=k)
        return cls(np.bincount(labels, minlength=k), acc[:, :d], acc[:, d:])

    def add_partials(self, cluster: np.ndarray, n: np.ndarray, s: np.ndarray, sq: np.ndarray) -> None:
        np.add.at(self.counts, cluster, n)
        np.add.at(self.sums, cluster, s)
        np.add.at(self.sqsums, cluster, sq)

    def append(self, other: "Summaries") -> None:
        self.counts = np.concatenate([self.counts, other.counts])
        self.sums = np.concatenate([self.sums, other.sums])
        self.sqsums = np.concatenate([self.sqsums, other.sqsums])

    def drop(self, idx: list[int]) -> None:
        keep = np.setdiff1d(np.arange(self.k), np.asarray(idx, dtype=int))
        self.counts = self.counts[keep]
        self.sums = self.sums[keep]
        self.sqsums = self.sqsums[keep]


def mahalanobis_to_all(pts: np.ndarray, centers: np.ndarray, stds: np.ndarray) -> np.ndarray:
    """(n, k) Mahalanobis distances; zero-σ dims contribute 0
    (reference ``Utils.mahalanobis_distance``, bfr.py:120-126)."""
    n, k = len(pts), len(centers)
    out = np.empty((n, k))
    inv = np.where(stds > 0, 1.0 / np.where(stds > 0, stds, 1.0), 0.0)
    for i in range(k):
        z = (pts - centers[i]) * inv[i]
        out[:, i] = np.einsum("nd,nd->n", z, z)
    return np.sqrt(out)


def _matrix(col: pa.Array | pa.ChunkedArray, d: int) -> np.ndarray:
    """(rows, d) float64 matrix of an Arrow ``list<double>`` column;
    zero-copy for a single-chunk column without nulls."""
    flat = pc.list_flatten(col)
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    return flat.to_numpy().astype(np.float64, copy=False).reshape(len(col), d)


def _lists(mat: np.ndarray) -> pa.ListArray:
    """Arrow ``list<double>`` column with one list per row of ``mat``."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(mat.ravel()))


@dataclass
class BFRConfig:
    n_clusters: int
    n_chunks: int = 5
    alpha_ds: float = 3.0          # ref assign_dsrsout alpha=3 (bfr.py:382)
    alpha_fold: float = 4.0        # ref merge_into_ds alpha=4 (bfr.py:339)
    init_oversample: int = 3       # ref init_sets: KMeans(3k) (bfr.py:400)
    init_sample_frac: float = 0.2  # ref init_sets: 20% sample (bfr.py:396)
    init_sample_cap: int = 200_000 # driver-memory bound on the init sample
    rs_cluster_factor: int = 5     # ref cluster_rs: KMeans(5k) (bfr.py:262)
    rs_max: int = 50_000           # RS pool size triggering CS compression
    cs_merge_threshold: float = 3.0  # ref merge_css: < 3·√d (bfr.py:309)
    kmeans_iterations: int = 5     # ref HCluster(…, 5) everywhere
    seed: int = 42
    use_cs: bool = True


@dataclass
class RoundStats:
    """Reference's intermediate CSV row (bfr.py:196-198, 453-460)."""

    round_id: int
    nof_cluster_discard: int
    nof_point_discard: int
    nof_cluster_compression: int
    nof_point_compression: int
    nof_point_retained: int


class BFR:
    def __init__(self, config: BFRConfig):
        self.cfg = config
        self.ds: Summaries | None = None
        self.cs: Summaries | None = None
        self.rs_ids: list[int] = []
        self.rs_pts: list[np.ndarray] = []
        self.cs_members: list[list[int]] = []  # point ids per CS (ref point_indices)
        self.round_stats: list[RoundStats] = []
        self._n_discard_points = 0

    # ---------- distributed kernels ----------

    # fused-kernel row types: DS assignment, DS/CS partial sufficient
    # stats, RS point, CS membership record
    _RT_ASSIGN, _RT_P_DS, _RT_P_CS, _RT_RS, _RT_CS_MEMBER = -1, 0, 1, 2, 3
    _FUSED_SCHEMA = pa.schema(
        [
            ("rtype", pa.int32()),
            ("label", pa.int64()),
            ("n", pa.int64()),
            ("sums", pa.list_(pa.float64())),
            ("sqsums", pa.list_(pa.float64())),
            ("id", pa.int64()),
            ("features", pa.list_(pa.float64())),
        ]
    )

    def _assign_kernel(self, d: int):
        """Fused mapInArrow kernel: assign each point against the
        broadcast DS/CS summaries AND emit per-batch feedback in the
        same pass. Per input batch it yields two Arrow batches:

        - one row per point: DS assignments (id, label), CS
          memberships (id, label) and RS points (id, features — the
          only rows that carry features back out; the others hold an
          empty list);
        - one partial N/Σ/Σ² row per touched DS or CS cluster, summed
          in a single pass over DS and CS labels together."""
        cfg = self.cfg
        cls = type(self)
        schema = cls._FUSED_SCHEMA
        ds_centers, ds_stds = self.ds.centers, self.ds.stds
        k_ds = self.ds.k
        if cfg.use_cs and self.cs is not None and self.cs.k:
            cs_centers, cs_stds = self.cs.centers, self.cs.stds
        else:
            cs_centers = cs_stds = None
        k_cs = 0 if cs_centers is None else len(cs_centers)
        a_ds = cfg.alpha_ds * math.sqrt(d)
        # indexed by KIND_DS, KIND_CS, KIND_RS
        rtype_of_kind = np.array([cls._RT_ASSIGN, cls._RT_CS_MEMBER, cls._RT_RS], dtype=np.int32)

        def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                n = batch.num_rows
                if not n:
                    continue
                pts = _matrix(batch.column("features"), d)
                dist = mahalanobis_to_all(pts, ds_centers, ds_stds)
                label = dist.argmin(axis=1)
                kind = np.where(dist[np.arange(n), label] < a_ds, KIND_DS, KIND_RS)
                if k_cs:
                    rs = np.flatnonzero(kind == KIND_RS)
                    if len(rs):
                        cdist = mahalanobis_to_all(pts[rs], cs_centers, cs_stds)
                        cbest = cdist.argmin(axis=1)
                        hit = cdist[np.arange(len(rs)), cbest] < a_ds
                        kind[rs[hit]] = KIND_CS
                        label[rs[hit]] = cbest[hit]
                is_rs = kind == KIND_RS
                label = np.where(is_rs, -1, label)
                offsets = np.zeros(n + 1, dtype=np.int32)
                np.cumsum(is_rs * d, out=offsets[1:])
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(rtype_of_kind[kind]),
                        pa.array(label),
                        pa.nulls(n, pa.int64()),
                        pa.nulls(n, schema.field("sums").type),
                        pa.nulls(n, schema.field("sqsums").type),
                        batch.column("id").cast(pa.int64()),
                        pa.ListArray.from_arrays(pa.array(offsets), pa.array(pts[is_rs].ravel())),
                    ],
                    schema=schema,
                )

                # DS labels in [0, k_ds), CS labels shifted to [k_ds, k_ds + k_cs)
                held = ~is_rs
                key = label[held] + np.where(kind[held] == KIND_CS, k_ds, 0)
                part = Summaries.from_points(pts[held], key, k_ds + k_cs)
                touched = np.flatnonzero(part.counts)
                m = len(touched)
                is_cs = touched >= k_ds
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.where(is_cs, cls._RT_P_CS, cls._RT_P_DS).astype(np.int32)),
                        pa.array(np.where(is_cs, touched - k_ds, touched)),
                        pa.array(part.counts[touched]),
                        _lists(part.sums[touched]),
                        _lists(part.sqsums[touched]),
                        pa.nulls(m, pa.int64()),
                        pa.nulls(m, schema.field("features").type),
                    ],
                    schema=schema,
                )

        return fn

    def _apply_feedback(self, fb: pa.Table) -> None:
        """Fold one chunk's collected feedback into driver state. RS
        points and CS memberships are taken in id order, so the driver
        state does not depend on the order the tasks returned them."""
        d = self.ds.sums.shape[1]
        rtype = fb["rtype"].to_numpy()

        def rows(rt: int) -> pa.Table:
            return fb.filter(pa.array(rtype == rt))

        def apply_partials(part: pa.Table, summaries: Summaries) -> int:
            if not len(part):
                return 0
            n = part["n"].to_numpy()
            summaries.add_partials(
                part["label"].to_numpy(), n, _matrix(part["sums"], d), _matrix(part["sqsums"], d)
            )
            return int(n.sum())

        self._n_discard_points += apply_partials(rows(self._RT_P_DS), self.ds)
        if self.cs is not None and self.cs.k:
            apply_partials(rows(self._RT_P_CS), self.cs)
            members = rows(self._RT_CS_MEMBER)
            ids = members["id"].to_numpy()
            labels = members["label"].to_numpy()
            order = np.lexsort((ids, labels))
            bounds = np.cumsum(np.bincount(labels, minlength=self.cs.k))[:-1]
            for j, grp in enumerate(np.split(ids[order], bounds)):
                self.cs_members[j].extend(grp.tolist())
        rs = rows(self._RT_RS)
        if len(rs):
            ids = rs["id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            self.rs_ids.extend(ids[order].tolist())
            self.rs_pts.extend(list(_matrix(rs["features"], d)[order]))

    # ---------- driver-side (bounded) steps ----------

    def _init_from_sample(self, ids: np.ndarray, pts: np.ndarray) -> pd.DataFrame:
        """Reference ``init_sets`` (bfr.py:393-429): oversampled
        k-means → singleton clusters to RS → k-means(k) on inliers →
        DS. Returns the sample's (id, cluster) assignments."""
        cfg = self.cfg
        k1 = min(cfg.n_clusters * cfg.init_oversample, max(len(pts) // 2, 1))
        km1 = LocalKMeans(k1, cfg.kmeans_iterations, cfg.seed).fit(pts)
        sizes = np.bincount(km1.labels, minlength=k1)
        outlier_labels = set(np.where(sizes == 1)[0])
        is_outlier = np.isin(km1.labels, list(outlier_labels)) if outlier_labels else np.zeros(len(pts), bool)
        if (~is_outlier).sum() < cfg.n_clusters:
            # degenerate tiny sample: keep everything as inlier
            is_outlier = np.zeros(len(pts), bool)

        self.rs_ids.extend(ids[is_outlier].tolist())
        self.rs_pts.extend(list(pts[is_outlier]))

        in_ids, in_pts = ids[~is_outlier], pts[~is_outlier]
        km2 = LocalKMeans(cfg.n_clusters, cfg.kmeans_iterations, cfg.seed).fit(in_pts)
        self.ds = Summaries.from_points(in_pts, km2.labels, cfg.n_clusters)
        self._n_discard_points += len(in_ids)
        return pd.DataFrame({"id": in_ids, "cluster": km2.labels.astype(np.int64)})

    def _compress_rs(self) -> None:
        """Reference ``cluster_rs`` (bfr.py:259-288): cluster the RS
        pool with 5k clusters; singletons stay RS, the rest become
        CS; then merge close CS (``merge_css``)."""
        cfg = self.cfg
        pts = np.stack(self.rs_pts)
        ids = np.asarray(self.rs_ids)
        k = min(cfg.n_clusters * cfg.rs_cluster_factor, len(pts))
        km = LocalKMeans(k, cfg.kmeans_iterations, cfg.seed).fit(pts)
        sizes = np.bincount(km.labels, minlength=k)

        keep_rs = np.isin(km.labels, np.where(sizes <= 1)[0])
        cs_labels = np.where(sizes > 1)[0]
        if len(cs_labels):
            new_cs = Summaries.from_points(pts[~keep_rs], _remap(km.labels[~keep_rs], cs_labels), len(cs_labels))
            new_members = [ids[km.labels == c].tolist() for c in cs_labels]
            if self.cs is None or not self.cs.k:
                self.cs = new_cs
                self.cs_members = new_members
            else:
                self.cs.append(new_cs)
                self.cs_members.extend(new_members)
            self._merge_css()
        self.rs_ids = ids[keep_rs].tolist()
        self.rs_pts = list(pts[keep_rs])

    def _merge_css(self) -> None:
        """Reference ``merge_css`` (bfr.py:290-320): greedily merge
        CS pairs with center-to-center Mahalanobis < 3·√d."""
        if self.cs is None or self.cs.k < 2:
            return
        d = self.cs.sums.shape[1]
        thresh = self.cfg.cs_merge_threshold * math.sqrt(d)
        merged = True
        while merged and self.cs.k > 1:
            merged = False
            centers, stds = self.cs.centers, self.cs.stds
            for j in range(self.cs.k):
                dist = mahalanobis_to_all(centers, centers[j : j + 1], stds[j : j + 1])[:, 0]
                dist[j] = np.inf
                i = int(dist.argmin())
                if dist[i] < thresh:
                    # fold j into i
                    self.cs.counts[i] += self.cs.counts[j]
                    self.cs.sums[i] += self.cs.sums[j]
                    self.cs.sqsums[i] += self.cs.sqsums[j]
                    self.cs_members[i].extend(self.cs_members[j])
                    self.cs.drop([j])
                    del self.cs_members[j]
                    merged = True
                    break

    def _fold_rs_into_ds(self, alpha: float) -> tuple[pd.DataFrame, int]:
        """Reference ``int_rs_to_ds``/``merge_into_ds`` RS part
        (bfr.py:322-334, 336-346): assign RS points to DS within
        α·√d; unassigned stay (or become -1 at the end)."""
        if not self.rs_pts:
            return pd.DataFrame({"id": [], "cluster": []}).astype({"id": "int64", "cluster": "int64"}), 0
        pts = np.stack(self.rs_pts)
        ids = np.asarray(self.rs_ids)
        d = pts.shape[1]
        dist = mahalanobis_to_all(pts, self.ds.centers, self.ds.stds)
        best = dist.argmin(axis=1)
        bestd = dist[np.arange(len(pts)), best]
        ok = bestd < alpha * math.sqrt(d)
        # fold accepted points' stats into DS
        if ok.any():
            acc = Summaries.from_points(pts[ok], best[ok], self.ds.k)
            self.ds.counts += acc.counts
            self.ds.sums += acc.sums
            self.ds.sqsums += acc.sqsums
            self._n_discard_points += int(ok.sum())
        out = pd.DataFrame({"id": ids[ok], "cluster": best[ok].astype(np.int64)})
        self.rs_ids = ids[~ok].tolist()
        self.rs_pts = list(pts[~ok])
        return out, int(ok.sum())

    def _fold_cs_into_ds(self) -> dict[int, int]:
        """Reference ``merge_into_ds`` CS part (bfr.py:348-355):
        every CS joins its nearest DS unconditionally (α→∞)."""
        if self.cs is None or not self.cs.k:
            return {}
        dist = mahalanobis_to_all(self.cs.centers, self.ds.centers, self.ds.stds)
        best = dist.argmin(axis=1)
        self.ds.add_partials(best, self.cs.counts, self.cs.sums, self.cs.sqsums)
        self._n_discard_points += int(self.cs.counts.sum())
        return dict(enumerate(best.tolist()))

    def _record_round(self, round_id: int) -> None:
        self.round_stats.append(
            RoundStats(
                round_id=round_id,
                nof_cluster_discard=self.cfg.n_clusters,
                nof_point_discard=self._n_discard_points,
                nof_cluster_compression=0 if self.cs is None else self.cs.k,
                nof_point_compression=sum(len(m) for m in self.cs_members),
                nof_point_retained=len(self.rs_ids),
            )
        )

    # ---------- main entry ----------

    # ---------- mid-stream checkpoint / resume ----------
    #
    # The reference Runner has no restartability: a crash at chunk 24
    # of 500 restarts the whole fit. At 100 TB that is the difference
    # between a re-queued task and a lost day, so every round ends by
    # checkpointing the COMPLETE mutable state (O(k·d) summaries +
    # the rs_max-bounded retained set + the bounded driver-side
    # assignment tail) to ``{run_dir}/state.json`` — written AFTER
    # the round's distributed assignment write, atomically
    # (tmp + os.replace). Per-round assignments go to their own
    # subdirectory with overwrite semantics, so re-running an
    # interrupted round is idempotent: resume(chunk r) produces
    # bit-identical output whether or not the crash happened mid-
    # write. All randomness is freshly seeded per call (cfg.seed), so
    # a resumed fit is deterministic.

    def _ckpt_write(
        self,
        run_dir: str,
        next_round: int,
        tail: list[pd.DataFrame],
        meta: dict | None = None,
    ) -> None:
        """Durable checkpoint: snapshot the state SYNCHRONOUSLY (the
        payload is an independent copy — tolist()/vars() detach it
        from the live arrays), then do the file IO on a background
        thread so the ~60 ms of json+fsync overlaps the next round's
        Spark jobs instead of sitting between them. Ordering is kept
        by joining the previous writer before starting a new one, so
        state.json is always the LATEST completed round. The write is
        crash-safe: fsync(tmp) → os.replace → fsync(dir) — a torn or
        empty state.json cannot survive a power loss (r11 ADVICE)."""
        import json
        import os
        import threading

        def _summ(s: "Summaries | None"):
            if s is None:
                return None
            return {
                "counts": s.counts.tolist(),
                "sums": s.sums.tolist(),
                "sqsums": s.sqsums.tolist(),
            }

        payload = {
            "next_round": next_round,
            # provenance (r11 ADVICE): resuming with a different
            # chunking/corpus must fail loudly, not skip rounds that
            # never ran for this data
            "meta": meta or {},
            "ds": _summ(self.ds),
            "cs": _summ(self.cs),
            "cs_members": [[int(x) for x in m] for m in self.cs_members],
            "rs_ids": [int(x) for x in self.rs_ids],
            "rs_pts": [list(map(float, p)) for p in self.rs_pts],
            "n_discard_points": int(self._n_discard_points),
            "round_stats": [vars(r) for r in self.round_stats],
            "tail": [
                {"id": df["id"].astype("int64").tolist(),
                 "cluster": df["cluster"].astype("int64").tolist()}
                for df in tail
            ],
        }

        err: list[BaseException] = []

        def _io() -> None:
            try:
                tmp = os.path.join(run_dir, f"state.json.tmp-{os.getpid()}")
                with open(tmp, "w") as fh:
                    json.dump(payload, fh)
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(tmp, os.path.join(run_dir, "state.json"))
                dfd = os.open(run_dir, os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except BaseException as e:  # noqa: BLE001 — re-raised at join
                err.append(e)

        self._ckpt_join()
        self._ckpt_thread = threading.Thread(target=_io, name="bfr-ckpt")
        self._ckpt_err = err
        self._ckpt_thread.start()

    def _ckpt_join(self) -> None:
        """Wait for the in-flight checkpoint write; a failed write
        must surface HERE (silently losing durability would defeat
        the checkpoint), at the next round boundary or fit end."""
        t = getattr(self, "_ckpt_thread", None)
        if t is not None:
            t.join()
            self._ckpt_thread = None
            err = getattr(self, "_ckpt_err", [])
            if err:
                self._ckpt_err = []
                raise RuntimeError("bfr checkpoint write failed") from err[0]

    def _ckpt_load(
        self, run_dir: str, expect_meta: dict | None = None
    ) -> tuple[int, list[pd.DataFrame]] | None:
        import json
        import os

        path = os.path.join(run_dir, "state.json")
        if not os.path.exists(path):
            return None
        try:
            with open(path) as fh:
                payload = json.load(fh)
        except (json.JSONDecodeError, OSError) as e:
            # a torn checkpoint (pre-fsync crash on old builds, disk
            # fault) must not block the resume the feature exists
            # for: fall back to a from-scratch fit
            print(f"bfr: unreadable checkpoint {path} ({e}); refitting from scratch")
            return None
        if expect_meta:
            got = payload.get("meta", {})
            bad = {
                k: (got.get(k), v)
                for k, v in expect_meta.items()
                if got.get(k) is not None and got.get(k) != v
            }
            if bad:
                raise ValueError(
                    f"bfr resume provenance mismatch in {path}: "
                    + ", ".join(
                        f"{k}: checkpoint={a} vs this fit={b}"
                        for k, (a, b) in bad.items()
                    )
                    + " — resuming would skip rounds that never ran for this "
                    "data. Use a fresh run_dir (or resume=False)."
                )

        def _summ(obj):
            if obj is None:
                return None
            return Summaries(
                np.asarray(obj["counts"], dtype=np.int64),
                np.asarray(obj["sums"], dtype=np.float64),
                np.asarray(obj["sqsums"], dtype=np.float64),
            )

        self.ds = _summ(payload["ds"])
        self.cs = _summ(payload["cs"])
        self.cs_members = [list(m) for m in payload["cs_members"]]
        self.rs_ids = list(payload["rs_ids"])
        self.rs_pts = [np.asarray(p, dtype=np.float64) for p in payload["rs_pts"]]
        self._n_discard_points = int(payload["n_discard_points"])
        self.round_stats = [RoundStats(**r) for r in payload["round_stats"]]
        tail = [
            pd.DataFrame({"id": t["id"], "cluster": t["cluster"]})
            for t in payload["tail"]
        ]
        return int(payload["next_round"]), tail

    # ---------- main entry ----------

    def fit(self, points: DataFrame, run_dir: str | None = None, resume: bool = False) -> DataFrame:
        """Cluster (id: long, features: array<double>) → (id, cluster).

        Chunks by contiguous id ranges (the distributed analogue of
        the reference's sorted chunk files, bfr.py:431-437); parquet
        row-group pruning makes each chunk scan cheap when the data
        is id-sorted.
        """
        cfg = self.cfg
        # one job probes range, count AND dimensionality (size() is
        # constant across rows, so first() is value-deterministic) —
        # fit_stream's per-chunk first() probe is skipped via the d=
        # parameter (one fewer scheduled job per fit)
        lo, hi, n_total, d = points.agg(
            F.min("id"), F.max("id"), F.count("*"), F.first(F.size("features"))
        ).collect()[0]
        bounds = np.linspace(lo, hi + 1, cfg.n_chunks + 1).astype(np.int64)
        chunks = [
            points.filter(
                (F.col("id") >= int(bounds[i])) & (F.col("id") < int(bounds[i + 1]))
            )
            for i in range(cfg.n_chunks)
        ]
        return self.fit_stream(
            chunks,
            run_dir=run_dir,
            approx_chunk_n=n_total / cfg.n_chunks,
            resume=resume,
            # cheap corpus fingerprint for resume provenance: id range
            # + row count pins the dataset identity without a scan
            corpus_fp=[int(lo), int(hi), int(n_total)],
            d=int(d),
        )

    def fit_stream(
        self,
        chunks: list[DataFrame],
        run_dir: str | None = None,
        approx_chunk_n: float | None = None,
        resume: bool = False,
        corpus_fp: list[int] | None = None,
        d: int | None = None,
    ) -> DataFrame:
        """Run BFR over an explicit sequence of point-chunk
        DataFrames — the exact shape of the reference's sorted
        chunk-file loop (``Runner.run``, bfr.py:431-451), one round
        per chunk. With ``resume=True`` and a ``state.json`` present
        in ``run_dir``, completed rounds are skipped and the fit
        continues from the first unfinished chunk (see the
        checkpoint/resume contract above)."""
        cfg = self.cfg
        spark = chunks[0].sparkSession
        # without a run_dir nothing can resume, so per-round
        # durability would be pure cost: no checkpoint, no run dir
        ckpt_enabled = run_dir is not None
        # one wave of Python tasks per round (see the module docstring)
        width = spark.sparkContext.defaultParallelism
        if d is None:
            d = len(chunks[0].select("features").first()[0])

        out_path = f"{run_dir}/assignments"
        n_chunks = len(chunks)
        ckpt_meta = {"n_chunks": n_chunks, "d": d, "corpus_fp": corpus_fp}
        driver_assignments: list[pd.DataFrame] = []
        ckpt_frames: list[DataFrame] = []  # non-resumable path only
        start_round = 0
        if resume and ckpt_enabled:
            restored = self._ckpt_load(run_dir, expect_meta=ckpt_meta)
            if restored is not None:
                start_round, driver_assignments = restored
        for round_id, chunk in enumerate(chunks):
            if round_id < start_round:
                continue
            if round_id == 0:
                if approx_chunk_n is None:
                    approx_chunk_n = chunk.count()
                chunk_n = max(approx_chunk_n, 1)
                # at least ~50 points per target cluster for a sane
                # init, bounded by the driver-memory cap
                min_frac = min(1.0, 50.0 * cfg.n_clusters / chunk_n)
                frac = min(max(cfg.init_sample_frac, min_frac), 1.0, cfg.init_sample_cap / chunk_n)
                sample = chunk.sample(fraction=frac, seed=cfg.seed).select("id", "features").toArrow()
                ids = sample["id"].to_numpy()
                init_assign = self._init_from_sample(ids, _matrix(sample["features"], d))
                driver_assignments.append(init_assign)
                # the non-sampled remainder of chunk 0 goes through
                # the normal assignment path (ref assign_dsrsout on
                # points_rest, bfr.py:429)
                sample_ids = spark.createDataFrame(pd.DataFrame({"id": ids}))
                chunk = chunk.join(F.broadcast(sample_ids), "id", "left_anti")

            fused = (
                chunk.select("id", "features")
                .coalesce(width)
                .mapInArrow(self._assign_kernel(d), schema=from_arrow_schema(self._FUSED_SCHEMA))
                .persist()
            )
            try:
                asg = fused.filter(F.col("rtype") == self._RT_ASSIGN).select(
                    "id", F.col("label").alias("cluster")
                )
                if ckpt_enabled:
                    # job 1: distributed write of DS assignments — one
                    # subdirectory per round, OVERWRITE, so a resumed
                    # re-run of an interrupted round is idempotent
                    asg.write.mode("overwrite").parquet(f"{out_path}/round_{round_id:05d}")
                else:
                    # no run_dir → nothing can ever resume, so
                    # per-round parquet durability would be pure
                    # committer overhead; pin the
                    # round's assignments as an eager localCheckpoint
                    # instead (executor block store, MEMORY_AND_DISK —
                    # the same per-executor footprint class as the
                    # shuffle) and union the rounds at the end. Same
                    # rows, ~0.15 s less fixed cost per round plus the
                    # final recursive parquet read gone (guide §2.4).
                    ckpt_frames.append(asg.localCheckpoint(eager=True))
                # job 2: tiny driver-bound feedback collect (partials,
                # RS points, CS memberships)
                fb = fused.filter(F.col("rtype") != self._RT_ASSIGN).toArrow()
            finally:
                fused.unpersist()
            self._apply_feedback(fb)

            last = round_id == n_chunks - 1
            if not last:
                if cfg.use_cs and len(self.rs_pts) > cfg.rs_max:
                    self._compress_rs()
                folded, _ = self._fold_rs_into_ds(cfg.alpha_fold)
                if len(folded):
                    driver_assignments.append(folded)  # bounded by RS size
            else:
                # final round: RS → DS (α=4) else -1; CS → nearest DS
                folded, _ = self._fold_rs_into_ds(cfg.alpha_fold)
                if len(folded):
                    driver_assignments.append(folded)
                if self.rs_ids:
                    driver_assignments.append(
                        pd.DataFrame(
                            {
                                "id": np.asarray(self.rs_ids, dtype=np.int64),
                                "cluster": np.full(len(self.rs_ids), -1, dtype=np.int64),
                            }
                        )
                    )
                cs_map = self._fold_cs_into_ds()
                cs_rows = [
                    (int(pid), int(ds_label))
                    for j, ds_label in cs_map.items()
                    for pid in self.cs_members[j]
                ]
                if cs_rows:
                    driver_assignments.append(pd.DataFrame(cs_rows, columns=["id", "cluster"]))
                self.rs_ids, self.rs_pts = [], []
                self.cs = None
                self.cs_members = []
            self._record_round(round_id + 1)
            # the round is durable (assignments written) — checkpoint
            # the complete mutable state so a crash before the next
            # round's write resumes HERE (IO overlaps the next round)
            if ckpt_enabled:
                self._ckpt_write(run_dir, round_id + 1, driver_assignments, meta=ckpt_meta)
        self._ckpt_join()

        tail = [df.astype({"id": "int64", "cluster": "int64"}) for df in driver_assignments if len(df)]
        if not ckpt_enabled:
            # non-resumable path: the rounds live as localCheckpoints;
            # one union replaces the recursive parquet read
            from functools import reduce

            frames = list(ckpt_frames)
            if tail:
                frames.append(
                    spark.createDataFrame(pd.concat(tail, ignore_index=True)).select(
                        "id", "cluster"
                    )
                )
            return reduce(DataFrame.unionByName, frames)

        # the recursive read below sweeps EVERY round_* subdirectory —
        # a run_dir previously used with more chunks would contribute
        # stale assignments that never ran for this data (r11 ADVICE),
        # so verify/clean beyond n_chunks before the final read
        import re
        import shutil

        for name in os.listdir(out_path) if os.path.isdir(out_path) else []:
            m = re.fullmatch(r"round_(\d{5})", name)
            if m and int(m.group(1)) >= n_chunks:
                shutil.rmtree(os.path.join(out_path, name))

        # one write for all driver-side (RS/CS-bounded) assignments
        if tail:
            spark.createDataFrame(pd.concat(tail, ignore_index=True)).write.mode(
                "overwrite"
            ).parquet(f"{out_path}/tail")
        return spark.read.option("recursiveFileLookup", "true").parquet(out_path)

    def intermediate_stats(self) -> pd.DataFrame:
        """Reference's intermediate CSV (bfr.py:453-460)."""
        return pd.DataFrame([vars(r) for r in self.round_stats])

    # ---------- inference / persistence ----------

    def predict(self, points: DataFrame, alpha: float | None = None) -> DataFrame:
        """Assign new points against the FROZEN fitted summaries
        (no state update) — the inference face of the model. With
        ``alpha`` set, points outside every α·√d gate get cluster -1;
        with the default None every point hard-assigns to its nearest
        DS. One broadcast + one map pass, no shuffle."""
        if self.ds is None:
            raise ValueError("predict() requires a fitted model")
        centers, stds = self.ds.centers, self.ds.stds
        d = centers.shape[1]
        gate = None if alpha is None else alpha * math.sqrt(d)

        def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                if not batch.num_rows:
                    continue
                pts = _matrix(batch.column("features"), d)
                dist = mahalanobis_to_all(pts, centers, stds)
                best = dist.argmin(axis=1)
                if gate is not None:
                    bestd = dist[np.arange(len(pts)), best]
                    best = np.where(bestd < gate, best, -1)
                yield pa.RecordBatch.from_arrays(
                    [batch.column("id").cast(pa.int64()), pa.array(best.astype(np.int64))],
                    names=["id", "cluster"],
                )

        return points.select("id", "features").mapInArrow(fn, schema="id long, cluster long")

    def save(self, path: str) -> None:
        """Persist the fitted DS summaries + config as JSON (state is
        O(k·d) — a driver-side file is the right representation)."""
        import json

        if self.ds is None:
            raise ValueError("save() requires a fitted model")
        payload = {
            "config": {k: v for k, v in vars(self.cfg).items()},
            "counts": self.ds.counts.tolist(),
            "sums": self.ds.sums.tolist(),
            "sqsums": self.ds.sqsums.tolist(),
            "round_stats": [vars(r) for r in self.round_stats],
        }
        with open(path, "w") as f:
            json.dump(payload, f)

    @classmethod
    def load(cls, path: str) -> "BFR":
        import json

        with open(path) as f:
            payload = json.load(f)
        model = cls(BFRConfig(**payload["config"]))
        model.ds = Summaries(
            np.asarray(payload["counts"], dtype=np.int64),
            np.asarray(payload["sums"], dtype=np.float64),
            np.asarray(payload["sqsums"], dtype=np.float64),
        )
        model.round_stats = [RoundStats(**r) for r in payload["round_stats"]]
        return model


def _remap(labels: np.ndarray, kept: np.ndarray) -> np.ndarray:
    """Position of each label in the sorted array ``kept``."""
    return np.searchsorted(kept, labels).astype(np.int64)
