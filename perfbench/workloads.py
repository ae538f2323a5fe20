"""The benchmark's workloads and the checks on their outputs.

Each workload stages its seeded inputs (``stage``), then runs a closed
loop with one client (``measure``): one fit or one query at a time,
each timed, each output checked off the clock. An operation fails if
it raises or if its check fails.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from . import gen

# --------------------------------------------------------------- helpers


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the report."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def nmi(cont: pd.DataFrame) -> float:
    """Normalized mutual information (arithmetic mean of entropies)
    from a contingency table with columns pred, truth, n."""
    n = float(cont["n"].sum())
    if n <= 0:
        return 0.0
    p = cont["n"] / n
    marginal = {c: cont.groupby(c)["n"].transform("sum") / n for c in ("pred", "truth")}
    mi = float((p * np.log(p / (marginal["pred"] * marginal["truth"]))).sum())
    h = 0.0
    for c in ("pred", "truth"):
        q = cont.groupby(c)["n"].sum() / n
        h -= float((q * np.log(q)).sum())
    return 1.0 if h <= 0 else max(0.0, mi / (h / 2.0))


@dataclass
class Outcome:
    """What a workload's measured section produced."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    # op ids of each unit of work, for the traced per-layer rollup
    units: list[list[str]] = field(default_factory=list)
    # registry key -> its warm op ids, for the per-key rollup
    key_ops: dict[str, list[str]] = field(default_factory=dict)
    # traced run: wall time of each traced and each plain (wrappers
    # off) warm unit, for trace.overhead_frac
    traced_unit_s: list[float] = field(default_factory=list)
    plain_unit_s: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


def warm_units(tracer, seconds: float, t_start: float, least: int):
    """Yield (index, plain) for each warm unit until ``seconds`` have
    passed since ``t_start`` and at least ``least`` units ran. In the
    traced run the units alternate traced and plain (wrappers off) in
    the order T P P T, at least two of each, so neither kind is always
    the warmer one; ``plain`` units run inside ``tracer.paused()``."""
    if tracer.enabled:
        least = max(least, 4)
    r = 0
    while r < least or time.perf_counter() - t_start < seconds:
        plain = tracer.enabled and r % 4 in (1, 2)
        if plain:
            with tracer.paused():
                yield r, True
        else:
            yield r, False
        r += 1


# ------------------------------------------------------------------ BFR


PARTITIONS = 8  # of the staged points: fixed, so results do not depend on the host
NMI_FLOOR = 0.999  # the reference's claim, on the clusters present at init


@dataclass(frozen=True)
class BFRWorkload:
    """One BFR fit per operation over the seeded point stream."""

    n: int
    rs_max: int

    def stage(self, spark, seed: int, dirs: dict[str, str]):
        """Generate and cache the points; the count that materialises
        the cache is the warm-up action (it also starts the Python
        workers). Returns the cached frame."""
        pts = gen.points_frame(spark, seed, self.n, PARTITIONS).persist()
        staged = pts.count()
        if staged != self.n:
            raise RuntimeError(f"staged {staged} points, expected {self.n}")
        return pts

    def config(self):
        from bfr_clustering_using_pyspark_spark.ml import BFRConfig

        return BFRConfig(n_clusters=gen.K, n_chunks=gen.N_CHUNKS, rs_max=self.rs_max)

    def measure(self, spark, pts, seconds: float, tracer, inject: str | None,
                dirs: dict[str, str]) -> Outcome:
        from bfr_clustering_using_pyspark_spark.ml import BFR

        out = Outcome()
        inputs = pts.select("id", "features")  # the program sees no labels
        truth = pts.select("id", "label")
        times: list[float] = []
        nmis: list[float] = []

        def one_fit(op: str) -> float | None:
            out.attempted += 1
            try:
                with tracer.op(op):
                    t0 = time.perf_counter()
                    model = BFR(self.config())
                    assigned = model.fit(inputs)
                    assigned.count()
                    dt = time.perf_counter() - t0
            except Exception as e:  # a raising fit is a failed operation
                out.fail(f"{op}: {type(e).__name__}: {e}")
                return None
            problems, score = self.check(assigned, truth, model, inject)
            log(f"{op}: {dt:.3f} s, NMI {score:.4f}")
            if problems:
                out.fail(f"{op}: " + "; ".join(problems))
                return None
            nmis.append(score)
            return dt

        tracer.install()
        t_start = time.perf_counter()
        cold = one_fit("cold")
        # at least one warm fit follows the cold one
        for r, plain in warm_units(tracer, seconds, t_start, 1):
            op = f"{'plain' if plain else 'fit'}{r}"
            dt = one_fit(op)
            if dt is None:
                continue
            if plain:
                out.plain_unit_s.append(dt)
                continue
            times.append(dt)
            if tracer.enabled:
                out.traced_unit_s.append(dt)
                out.units.append([op])

        warm = float(np.median(times)) if times else 0.0
        out.metrics = {
            "points_per_s": self.n / warm if warm else 0.0,
            "nmi": float(np.median(nmis)) if nmis else 0.0,
            "cold_total_s": cold or 0.0,
            "warm_total_s": warm,
            "py_driver_peak_rss_mb": _peak_rss_mb(),
        }
        out.layers["ops.warm_samples"] = len(times)
        return out

    def check(self, assigned, truth, model, inject: str | None) -> tuple[list[str], float]:
        """Every input id assigned exactly once, every cluster in
        [-1, k), the per-round DS + CS + RS point counts equal to the
        points seen so far, and NMI against the generated labels."""
        from pyspark.sql import functions as F

        if inject == "drop_id":
            assigned = assigned.filter(F.col("id") != 0)
        elif inject == "flip_cluster":
            assigned = assigned.withColumn(
                "cluster", F.when(F.col("cluster") == 1, F.lit(0)).otherwise(F.col("cluster"))
            )
        # full outer join: a dropped id has no cluster, an unknown id
        # has no label, and a duplicate pushes the total past n
        cont = (
            assigned.join(truth, "id", "full_outer")
            .groupBy("cluster", "label")
            .count()
            .toPandas()
        )
        problems = []
        for col, what in (("cluster", "ids unassigned"), ("label", "unknown ids")):
            missing = int(cont.loc[cont[col].isna(), "count"].sum())
            if missing:
                problems.append(f"{missing} {what}")
        total = int(cont["count"].sum())
        if total != self.n:
            problems.append(f"{total} assignment rows for {self.n} ids")
        clusters = cont["cluster"].dropna()
        if len(clusters) and (clusters.min() < -1 or clusters.max() >= gen.K):
            problems.append(f"cluster outside [-1, {gen.K})")
        unassigned = int(cont.loc[cont["cluster"] == -1, "count"].sum())

        stats = model.intermediate_stats()
        bounds = gen.chunk_bounds(self.n)
        if len(stats) != gen.N_CHUNKS:
            problems.append(f"{len(stats)} rounds recorded, expected {gen.N_CHUNKS}")
        for r, row in enumerate(stats.itertuples(index=False)):
            held = row.nof_point_discard + row.nof_point_compression + row.nof_point_retained
            if r == len(stats) - 1:
                held += unassigned  # the final RS leftovers leave as -1
            if r < len(bounds) - 1 and held != bounds[r + 1]:
                problems.append(f"round {r + 1}: DS+CS+RS={held}, seen={bounds[r + 1]}")

        known = cont.dropna().rename(columns={"cluster": "pred", "label": "truth", "count": "n"})
        score = nmi(known)
        base = nmi(known[(known["truth"] >= 0) & (known["truth"] < gen.K)])
        if base < NMI_FLOOR:
            problems.append(f"NMI on the init clusters {base:.6f} < {NMI_FLOOR}")
        return problems, score


# ------------------------------------------------------------- registry

# Four of bench.py's 13 headline keys plus the det-family BFR epoch:
# one per layer the registry exercises (TPC-H aggregation, exact and
# MinHash dedup with its warehouse fixture and memo, float BFR, det BFR
# with its epoch memo). The other headline keys stay in bench.py;
# timing them here too would push a run past the benchmark's time
# budget.
REGISTRY_KEYS = (
    "q1_pricing_summary",
    "dedup_exact",
    "dedup_minhash_lsh",
    "bfr_fit",
    "bfr_lloyd_det",
)
ROWS_ONLY = ("bfr_fit",)  # no oracle: every embedding id once
# MinHash LSH finds a pair with Jaccard J with probability
# 1-(1-J^4)^16 (16 bands of 4), so its documented contract against the
# exhaustive oracle is exact precision and high, not total, recall.
RECALL_KEYS = ("dedup_minhash_lsh",)
LSH_RECALL_FLOOR = 0.9  # tests/test_dedup_recall_fuzz.py's floor
LSH_SURE_J = 0.85  # from here up a pair is missed w.p. < 1e-5: never allowed


def recall_problems(got: list[tuple], want: list[tuple]) -> tuple[list[str], int]:
    """Check (doc_a, doc_b, jaccard) rows of a MinHash LSH key against
    the oracle's: no duplicate and no extra row (a pair the oracle
    lacks or a wrong Jaccard), no missed pair at J >= LSH_SURE_J, and
    recall at least LSH_RECALL_FLOOR. Returns the problems and the
    number of missed oracle pairs."""
    problems = []
    got_set, want_set = set(got), set(want)
    if len(got_set) != len(got):
        problems.append(f"{len(got) - len(got_set)} duplicate rows")
    extra = got_set - want_set
    if extra:
        problems.append(f"{len(extra)} rows not in the oracle, e.g. {min(extra)}")
    missed = want_set - got_set
    sure = sorted(r for r in missed if r[2] >= LSH_SURE_J)
    if sure:
        problems.append(f"{len(sure)} missed pairs at J >= {LSH_SURE_J}, e.g. {sure[0]}")
    if want_set and len(want_set & got_set) < LSH_RECALL_FLOOR * len(want_set):
        problems.append(f"recall {len(want_set & got_set)}/{len(want_set)} "
                        f"< {LSH_RECALL_FLOOR}")
    return problems, len(missed)


def _dir_stats(root: str) -> tuple[int, int]:
    """(artifact dirs two levels down, total bytes) under ``root``."""
    builds = 0
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        if os.path.relpath(dirpath, root).count(os.sep) == 1 and dirpath != root:
            builds += 1
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return builds, total


class RegistryWorkload:
    """Each key called once cold, then in warm round-robin passes."""

    def stage(self, spark, seed: int, dirs: dict[str, str]):
        """Write the seeded corpus, then a warm-up action like
        bench.py's (a trivial scan). Returns the corpus directory."""
        data_dir = dirs["data"]
        gen.write_registry_tables(seed, data_dir)
        spark.read.parquet(f"{data_dir}/documents.parquet").count()
        return data_dir

    def measure(self, spark, data_dir: str, seconds: float, tracer, inject: str | None,
                dirs: dict[str, str]) -> Outcome:
        from bfr_clustering_using_pyspark_spark.plans import all_queries

        from tools.check_correctness import table_hash

        qs = all_queries()
        out = Outcome()
        digests: list[tuple[str, str, str | None, object]] = []  # (op, key, hash, rows)
        cold: dict[str, float] = {}
        warm: dict[str, list[float]] = {k: [] for k in REGISTRY_KEYS}

        def call(key: str, op: str) -> float | None:
            out.attempted += 1
            try:
                with tracer.op(op):
                    t0 = time.perf_counter()
                    df = qs[key](spark, data_dir)
                    rows = [tuple(r) for r in df.collect()]
                    dt = time.perf_counter() - t0
            except Exception as e:  # a raising query is a failed operation
                out.fail(f"{op}: {type(e).__name__}: {e}")
                return None
            log(f"{op}: {dt:.3f} s, {len(rows)} rows")
            if inject == "corrupt_row" and rows and key == "q1_pricing_summary":
                rows = rows[1:]
            if key in ROWS_ONLY or key in RECALL_KEYS:
                digests.append((op, key, None, rows))
            else:
                digests.append((op, key, table_hash(df.columns, rows), len(rows)))
            return dt

        tracer.install()
        for key in REGISTRY_KEYS:
            dt = call(key, f"cold/{key}")
            if dt is not None:
                cold[key] = dt

        t_start = time.perf_counter()
        # three warm passes at least, so one slow call does not set a
        # key's warm median
        for r, plain in warm_units(tracer, seconds, t_start, 3):
            ops = [f"{'plain' if plain else 'warm'}{r}/{key}" for key in REGISTRY_KEYS]
            dts = [call(key, op) for key, op in zip(REGISTRY_KEYS, ops)]
            if plain:
                if None not in dts:
                    out.plain_unit_s.append(sum(dts))
                continue
            for key, op, dt in zip(REGISTRY_KEYS, ops, dts):
                if dt is not None:
                    warm[key].append(dt)
                out.key_ops.setdefault(key, []).append(op)
            if tracer.enabled:
                out.units.append(ops)
                if None not in dts:
                    out.traced_unit_s.append(sum(dts))
        rss_mb = _peak_rss_mb()
        builds, size = _dir_stats(dirs["warehouse"])
        out.layers["warehouse.builds"], out.layers["warehouse.bytes"] = builds, size

        self.check(digests, data_dir, out)
        log("oracle hashes compared")

        bfr_warm = warm.get("bfr_fit") or []
        out.metrics = {
            "points_per_s": gen.EMBEDDINGS / float(np.median(bfr_warm)) if bfr_warm else 0.0,
            "nmi": self._bfr_fit_nmi(digests, data_dir),
            "cold_total_s": sum(cold.values()),
            "warm_total_s": sum(float(np.median(v)) for v in warm.values() if v),
            "py_driver_peak_rss_mb": rss_mb,
        }
        out.layers["ops.warm_samples"] = sum(len(v) for v in warm.values())
        for key in REGISTRY_KEYS:
            out.layers[f"registry.{key}.cold_s"] = cold.get(key, 0.0)
            out.layers[f"registry.{key}.warm_s"] = float(np.median(warm[key])) if warm[key] else 0.0
        return out

    def check(self, digests, data_dir: str, out: Outcome) -> None:
        """Hash every execution's rows against the DuckDB oracle (run
        once per run, after the measured section), hold the MinHash
        LSH key to its recall contract against the same oracle, and
        check the rows-only keys return every embedding id exactly
        once."""
        import duckdb

        from bfr_clustering_using_pyspark_spark.plans import all_oracles
        from tools.check_correctness import table_hash

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for f in os.listdir(data_dir):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                            f"SELECT * FROM '{data_dir}/{f}'")
            expected: dict[str, tuple[str, int]] = {}
            oracle_rows: dict[str, list[tuple]] = {}
            for key in REGISTRY_KEYS:
                if key in ROWS_ONLY:
                    continue
                rel = con.sql(oracles[key])
                rows = rel.fetchall()
                if key in RECALL_KEYS:
                    oracle_rows[key] = rows
                else:
                    expected[key] = (table_hash(rel.columns, rows), len(rows))
        finally:
            con.close()
        ids = set(range(gen.EMBEDDINGS))
        for op, key, digest, rows in digests:
            if key in ROWS_ONLY:
                got = [r[0] for r in rows]
                if len(got) != len(ids) or set(got) != ids:
                    out.fail(f"{op}: {len(got)} rows / {len(set(got))} distinct ids, "
                             f"expected {len(ids)}")
            elif key in RECALL_KEYS:
                problems, missed = recall_problems(rows, oracle_rows[key])
                # deterministic per corpus: the same on every execution
                out.layers[f"registry.{key}.missed_pairs"] = missed
                if missed:
                    log(f"{op}: {missed} of {len(oracle_rows[key])} oracle pairs missed")
                if problems:
                    out.fail(f"{op}: " + "; ".join(problems))
            elif digest != expected[key][0]:
                out.fail(f"{op}: hash mismatch ({rows} rows, oracle {expected[key][1]})")

    def _bfr_fit_nmi(self, digests, data_dir: str) -> float:
        """NMI of the first ``bfr_fit`` result against the generated
        embedding labels (vec_id is the row index)."""
        import pyarrow.parquet as pq

        emb = pq.read_table(f"{data_dir}/embeddings.parquet", columns=["label"])
        labels = emb["label"].to_numpy()
        for op, key, _digest, rows in digests:
            if key == "bfr_fit":
                df = pd.DataFrame(rows, columns=["id", "cluster"])
                df["truth"] = labels[df["id"].to_numpy()]
                cont = df.groupby(["cluster", "truth"]).size().reset_index(name="n")
                return nmi(cont.rename(columns={"cluster": "pred"}))
        return 0.0


def _peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


WORKLOADS = {
    # parity_bench's Gaussians (k=10, 5 chunks) in chunk 0; later
    # chunks add new tight clusters and uniform noise, so RS grows
    # ~3.6k a round, crosses rs_max and RS->CS compression, CS merges and
    # the CS gate of the assign kernel all run
    "bfr_drift": BFRWorkload(n=150_000, rs_max=6_000),
    "registry": RegistryWorkload(),
}
