"""Seeded input generation for the benchmark workloads.

Every generated value is a pure function of the seed and the row id:
points are produced in fixed, id-aligned blocks, each drawn from its
own ``numpy`` generator keyed by ``(seed, stream, block)``, so the same
seed gives the same points whatever the partitioning or Arrow batch
size.

- The BFR point stream is generated on the executors (``spark.range``
  + ``mapInArrow``); no n-sized array ever exists on the driver.
- The registry corpus (the tables the registry keys read) is written
  with pyarrow into the run directory, with the schemas and value
  ranges those keys and their DuckDB oracles expect.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BLOCK = 8192  # rows per generator block (ids are block-aligned)

# The point stream: K Gaussian centres ~ N(0, 20²) with σ=0.5 in D
# dims (tools/parity_bench.py's distribution), cut by BFR.fit into
# N_CHUNKS contiguous id ranges. Past the first chunk a point is, with
# probability NEW_FRAC, drawn from one of N_NEW tight clusters that
# do not exist at init, and with probability NOISE_FRAC uniform over
# the centres' bounding box.
D, K, N_CHUNKS = 10, 10, 5
N_NEW, NEW_FRAC, NOISE_FRAC, NEW_SIGMA = 40, 0.10, 0.02, 0.05
NOISE_LABEL = -1  # ground-truth class of the uniform noise points

# generator streams of one seed
_S_CENTERS, _S_NOISE, _S_KIND, _S_NEW, _S_UNIFORM, _S_TABLES = range(6)


def chunk_bounds(n: int) -> np.ndarray:
    """Id bounds of BFR.fit's chunks over ids [0, n)."""
    return np.linspace(0, n, N_CHUNKS + 1).astype(np.int64)


def _rng(seed: int, stream: int, block: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, block])


def points_block(seed: int, n: int, block: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ids, features (rows, D) and ground-truth labels of one block."""
    ids = np.arange(block * BLOCK, min((block + 1) * BLOCK, n), dtype=np.int64)
    m = len(ids)
    g = _rng(seed, _S_CENTERS)
    base, new = g.normal(0.0, 20.0, (K, D)), g.normal(0.0, 20.0, (N_NEW, D))
    labels = ids % K
    x = base[labels] + 0.5 * _rng(seed, _S_NOISE, block).standard_normal((m, D))

    u = _rng(seed, _S_KIND, block).random(m)
    late = ids >= chunk_bounds(n)[1]
    is_new = late & (u < NEW_FRAC)
    is_noise = late & (u >= NEW_FRAC) & (u < NEW_FRAC + NOISE_FRAC)
    g = _rng(seed, _S_NEW, block)
    which = g.integers(0, N_NEW, m)
    x_new = new[which] + NEW_SIGMA * g.standard_normal((m, D))
    lo, hi = base.min(axis=0) - 5.0, base.max(axis=0) + 5.0
    x_noise = _rng(seed, _S_UNIFORM, block).uniform(lo, hi, (m, D))
    x = np.where(is_new[:, None], x_new, np.where(is_noise[:, None], x_noise, x))
    labels = np.where(is_new, K + which, np.where(is_noise, NOISE_LABEL, labels))
    return ids, x, labels


def points_frame(spark, seed: int, n: int, partitions: int):
    """Distributed (id, features, label) DataFrame of n points: one
    ``spark.range`` over the blocks, each block expanded on the
    executors."""

    def expand(batches):
        for rb in batches:
            for block in rb.column(0).to_numpy():
                ids, x, labels = points_block(seed, n, int(block))
                feats = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), D)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids), feats.cast(pa.list_(pa.float64())), pa.array(labels)],
                    names=["id", "features", "label"],
                )

    n_blocks = -(-n // BLOCK)
    return (
        spark.range(0, n_blocks, 1, partitions)
        .withColumnRenamed("id", "block")
        .mapInArrow(expand, "id long, features array<double>, label long")
    )


# ---------------------------------------------------------------- registry

# row counts: the sf0.01 shape of the repository's test corpus
LINEITEMS, DOCUMENTS, EMBEDDINGS = 60_000, 500, 500
EMB_DIM, EMB_LABELS = 64, 10
NEAR_DUP_J = (0.65, 0.90)  # target 3-shingle Jaccard of a near-duplicate

_WORDS = np.asarray((
    "a the data row table column value key join agg group sort order scan "
    "filter query batch stream window merge hash part line customer big small "
    "fast slow spark vector"
).split())
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_DAY_US = 86_400 * 1_000_000


def registry_tables(seed: int) -> dict[str, pa.Table]:
    """The tables the registry keys read, as Arrow tables."""
    rng = _rng(seed, _S_TABLES)
    nl = LINEITEMS
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flag_status = rng.integers(0, 6, nl)
    day0 = np.datetime64("1995-01-02", "us").astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, nl // 4, nl).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i % 3] for i in flag_status],
        "l_linestatus": [("F", "O")[i // 3] for i in flag_status],
        "l_shipdate": pa.array(day0 + rng.integers(0, 2500, nl) * _DAY_US, pa.timestamp("us")),
    })
    texts = _documents(rng, DOCUMENTS)
    documents = pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), DOCUMENTS)],
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    return {"lineitem": lineitem, "documents": documents, "embeddings": _embeddings(rng)}


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word documents of 20-89 words; ~10% are exact copies
    and ~10% near-duplicates of earlier documents, so the dedup keys
    have work to find. A near-duplicate appends words to its source
    until their 3-shingle Jaccard is about a target drawn from
    NEAR_DUP_J, which spans dedup_minhash_lsh's 0.7 threshold: pairs
    just below it must be left out, and pairs just above it are the
    ones its LSH banding is least likely to find."""
    docs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and r < 0.20:
            src = docs[int(rng.integers(0, i))]
            target = rng.uniform(*NEAR_DUP_J)
            # appending m words to L keeps L-2 shingles and adds m
            m = max(1, round((len(src.split()) - 2) * (1.0 / target - 1.0)))
            docs.append(" ".join([src, *_WORDS[rng.integers(0, len(_WORDS), m)]]))
        else:
            docs.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), int(rng.integers(20, 90)))]))
    return docs


def _embeddings(rng: np.random.Generator) -> pa.Table:
    """Unit-norm float32 vectors around EMB_LABELS well-separated
    directions, so the clustering keys have a recoverable truth."""
    dirs = rng.standard_normal((EMB_LABELS, EMB_DIM))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, EMBEDDINGS)
    x = dirs[labels] + 0.02 * rng.standard_normal((EMBEDDINGS, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_registry_tables(seed: int, out_dir: str) -> None:
    """Write the corpus as ``<out_dir>/<table>.parquet`` single files,
    the layout the registry keys and their oracles read."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in registry_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
