"""Similarity search over embedding columns (``array<float>``).

Two tiers, as a 100 TB design demands:

- **Brute force** (:func:`cosine_topk`): the bounded query set is
  closed over by an Arrow-vectorized kernel; the candidate corpus
  streams past it with no shuffle of the big side. Correct baseline +
  re-ranker. Dot products are numpy batch math replicating the
  sequential-float32 contract bit-for-bit (vectors_np).
- **IVF** (:func:`ivf_assign` / :func:`ivf_topk`): coarse quantization
  — assign every vector to its nearest centroid, search only the
  query's cell. At scale, centroids come from a sampled KMeans and the
  corpus is written bucketed by cell id so a probe touches one bucket;
  here centroids are a deterministic prefix of the corpus so the DuckDB
  oracle can replicate the exact assignment.

Determinism: similarity ordering and outputs use integer micro-units
(ties broken by id), so rankings are engine-independent.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Hard cap on driver-collected query/centroid blocks. The brute-force
#: operators are defined for a BOUNDED query set closed over by the
#: kernel; an unbounded "query side" must go through LSH/IVF instead.
#: The cap turns a silent driver OOM into an actionable error.
MAX_QUERY_BLOCK = 100_000

#: Cap on the per-task score-matrix size, in float64 CELLS (default
#: 2^27 = 128M cells ≈ 1 GiB). MAX_QUERY_BLOCK guards the DRIVER
#: collect, but a 100k-query block composed with a 262k-row Arrow batch
#: would still allocate a ~200 GB |queries| × |batch| matrix inside the
#: EXECUTOR kernel; every brute-force/ADC kernel therefore slices its
#: Arrow batch into row chunks of at most MAX_KERNEL_CELLS/|block| rows
#: before the matmul. Chunking is result-invariant: pair emission is
#: row-local, and the per-chunk local top-k is a superset of the
#: per-batch local top-k, which the final per-query window reduces
#: identically. Override (e.g. in tests) with SPARK_GRAFT_KERNEL_CELLS;
#: read at operator-call time on the driver and closed over, so local
#: and cluster modes behave the same.
MAX_KERNEL_CELLS = 1 << 27


def _kernel_cells_cap() -> int:
    import os

    raw = os.environ.get("SPARK_GRAFT_KERNEL_CELLS")
    if raw:
        try:
            return max(1, int(raw))
        except ValueError:
            pass
    return MAX_KERNEL_CELLS


def _row_chunks(pdf, other_axis: int, cap: int):
    """Slice an Arrow batch into row chunks so a chunk's score matrix
    (rows × other_axis) stays under ``cap`` float64 cells."""
    step = max(1, cap // max(1, other_axis))
    if len(pdf) <= step:
        yield pdf
        return
    for s in range(0, len(pdf), step):
        yield pdf.iloc[s : s + step]


def _collect_block(df: DataFrame, what: str) -> list:
    rows = df.limit(MAX_QUERY_BLOCK + 1).collect()
    if len(rows) > MAX_QUERY_BLOCK:
        raise ValueError(
            f"{what} block exceeds {MAX_QUERY_BLOCK} rows; the brute-force kernels "
            "close over a bounded driver-side block — for unbounded query sets use "
            "the LSH/IVF operators (minhash_lsh_pairs / ivf_topk with "
            "kmeans_centroids) instead"
        )
    return rows


def cosine_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All (query, candidate) cosine similarities, Arrow-vectorized:
    (q_id, c_id, sim_micro), self-pairs excluded.

    The bounded query block is collected once and closed over by a
    ``mapInPandas`` kernel; the corpus scan stays distributed with no
    shuffle and no per-pair interpreted lambdas — each Arrow batch is
    one numpy all-pairs computation. Accumulation replicates the
    engine's sequential-float32 contract (vectors_np) so results are
    bit-identical to the JVM fold and the DuckDB oracle.
    """
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    q_rows = _collect_block(queries.select(id_col, vec_col), "query")
    if not q_rows:
        # empty query block: 0-row result, not an opaque 1-d numpy error
        return corpus.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, sim_micro bigint"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Qm = np.array([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    qn = np.sqrt(seq_f32_self_dots(Qm).astype(np.float64))

    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(q_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                C = np.stack(pdf[vec_col].to_numpy()).astype(np.float32, copy=False)
                c_ids = pdf[id_col].to_numpy(dtype=np.int64)
                cn = np.sqrt(seq_f32_self_dots(C).astype(np.float64))
                sim = seq_f32_dots(C, Qm).astype(np.float64) / (
                    cn[:, None] * qn[None, :]
                )
                micro = micro_units_np(sim)
                n, m = micro.shape
                out = pd.DataFrame(
                    {
                        "q_id": np.tile(q_ids, n),
                        "c_id": np.repeat(c_ids, m),
                        "sim_micro": micro.ravel(),
                    }
                )
                yield out[out.q_id != out.c_id]

    return corpus.select(id_col, vec_col).mapInPandas(
        kernel, "q_id bigint, c_id bigint, sim_micro bigint"
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus:
    (q_id, rank, c_id, sim_micro). Queries are broadcast (closed over
    by the Arrow kernel); only the tiny (id, id, sim) pair set is
    shuffled for the per-query ranking window."""
    sims = cosine_pairs(corpus, queries, id_col, vec_col)
    w = Window.partitionBy("q_id").orderBy(F.col("sim_micro").desc(), F.col("c_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("bigint").alias("rank"), "c_id", "sim_micro")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine:
    (vec_id, embedding, cell). The centroid block (small by
    construction) is closed over by an Arrow kernel; the corpus scan
    stays distributed, one numpy batch per Arrow batch — no join, no
    per-pair interpreted folds. Ties go to the lowest centroid id
    (argmax-first over id-sorted centroids), matching the window
    ordering of the SQL formulation and the DuckDB oracle."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    cent_rows = sorted(
        _collect_block(centroids.select(id_col, vec_col), "centroid"),
        key=lambda r: r[0],
    )
    if not cent_rows:
        # same guard as ivf_topk, BEFORE building Cm: an empty block is
        # a 1-d array and the dot kernels index shape[1] (IndexError);
        # assignment with zero cells has no meaningful output
        raise ValueError(
            "no centroid rows to assign against; pass kmeans_centroids(...) "
            "or a non-empty centroid frame"
        )
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    Cm = np.array([np.asarray(r[1], dtype=np.float32) for r in cent_rows])
    cn = np.sqrt(seq_f32_self_dots(Cm).astype(np.float64))

    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(cent_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float32, copy=False)
                vn = np.sqrt(seq_f32_self_dots(V).astype(np.float64))
                sim = seq_f32_dots(V, Cm).astype(np.float64) / (
                    vn[:, None] * cn[None, :]
                )
                best = micro_units_np(sim).argmax(axis=1)  # first max = lowest id
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                        "embedding": pdf[vec_col],
                        "cell": cent_ids[best],
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(
        kernel, "vec_id bigint, embedding array<float>, cell bigint"
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 100_000,
    iters: int = 10,
    seed: int = 13,
    n_rows: int | None = None,
) -> DataFrame:
    """Sampled-KMeans IVF centroids — the production centroid source
    (the query operators default to a deterministic id-prefix only so
    the SQL oracles can replicate the assignment).

    ``k`` defaults to ~sqrt(corpus) (the standard IVF sizing: cells of
    ~sqrt(n) vectors keep probe cost and cell skew balanced as the
    corpus grows — THIS is what makes cell size scale-honest). Lloyd's
    iterations run driver-side over a bounded reservoir of at most
    ``max_sample`` vectors (sampling a KMeans training set is the
    standard IVF construction; the full corpus never leaves the
    cluster), then the centers are returned as a small DataFrame with
    ids 0..k-1, ready for :func:`ivf_assign`. Deterministic for a
    fixed (corpus, seed) INDEPENDENT of partition layout: the reservoir
    is a hash-threshold filter on the id (not ``sample()``, whose
    per-partition RNG changes with the layout), ordered by id before
    the limit so the same corpus yields the same centroids on any
    cluster. ``n_rows`` lets a caller that already counted the corpus
    (e.g. an index build training centroids AND codebooks over the
    same table) skip the count job."""
    import numpy as np

    n = corpus.count() if n_rows is None else n_rows
    if n == 0:
        raise ValueError("cannot build centroids from an empty corpus")
    if k is None:
        k = max(1, min(int(n**0.5), 65_536))
    # 1e9 buckets on a 64-bit hash with a ceil + floor-of-1: fractions as
    # small as max_sample/n for n ~ 1e13 (100 TB of vectors) still select a
    # non-empty, slightly-oversampled reservoir (int(frac*1e6) truncated to
    # 0 above n ≈ 1e11, raising on exactly the corpora IVF exists for).
    denom = 1_000_000_000
    frac = min(1.0, (max_sample * 1.05) / n)
    thresh = max(1, math.ceil(frac * denom))
    # truncate the ~5% oversample in HASH order, not id order: id-order
    # truncation would systematically exclude the top of the id range
    # (the newest data, when ids track ingestion) from centroid
    # training; hash order keeps the cut unbiased and deterministic
    hv = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(denom))
    rows = (
        corpus.select(id_col, vec_col, hv.alias("_hv"))
        .filter(F.col("_hv") < thresh)
        .orderBy("_hv", id_col)
        .limit(max_sample)
        .select(id_col, vec_col)
        .collect()
    )
    X = np.array([np.asarray(r[1], dtype=np.float32) for r in rows], dtype=np.float32)
    if len(X) < k:
        raise ValueError(f"sample of {len(X)} vectors cannot seed {k} centroids")
    rng = np.random.default_rng(seed)
    centers = X[rng.choice(len(X), size=k, replace=False)].astype(np.float64)
    Xd = X.astype(np.float64)
    xsq = (Xd**2).sum(axis=1)
    for _ in range(iters):
        # ||x-c||² = ||x||² - 2x·c + ||c||² — matmul form keeps memory
        # at O(sample × k), never O(sample × k × dim)
        d2 = xsq[:, None] - 2.0 * (Xd @ centers.T) + (centers**2).sum(axis=1)[None, :]
        lbl = d2.argmin(axis=1)
        sums = np.zeros_like(centers)
        np.add.at(sums, lbl, Xd)
        counts = np.bincount(lbl, minlength=k).astype(np.float64)
        nonempty = counts > 0
        centers[nonempty] = sums[nonempty] / counts[nonempty, None]
    spark = corpus.sparkSession
    return spark.createDataFrame(
        [(i, [float(x) for x in centers[i]]) for i in range(k)],
        f"{id_col} bigint, {vec_col} array<float>",
    )


def ivf_topk(
    corpus: DataFrame,
    num_centroids: int,
    queries_filter,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: search only the query's IVF cell.

    Centroids = the ``num_centroids`` lowest-id vectors (deterministic
    so the DuckDB oracle can replicate the assignment; swap in
    :func:`kmeans_centroids` for production). ``queries_filter`` is a
    Column predicate selecting query vectors.

    Scale shape: ONE fused kernel pass, zero shuffles of the corpus.
    The centroid block and the (bounded, by contract) query block —
    with the queries' own cell assignments precomputed driver-side —
    are closed over by a ``mapInPandas`` kernel; each Arrow batch
    computes its rows' cells and their sims against only the queries
    of the matching cell. Per-task memory is O(|queries| × batch), so
    a popular cell never lands in a single task — the failure mode of
    the earlier groupBy(cell).applyInPandas formulation, whose group
    size was corpus/num_centroids."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    cent_source = (
        centroids.select(id_col, vec_col)
        if centroids is not None
        else corpus.filter(F.col(id_col) < num_centroids).select(id_col, vec_col)
    )
    cent_rows = sorted(_collect_block(cent_source, "centroid"), key=lambda r: r[0])
    if not cent_rows:
        # guard BEFORE building Cm: an empty block is 1-d, and the dot
        # kernels index shape[1] (IndexError) ahead of any later check
        return corpus.sparkSession.createDataFrame(
            [], "q_id bigint, rank bigint, c_id bigint, sim_micro bigint"
        )
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    Cm = np.array([np.asarray(r[1], dtype=np.float32) for r in cent_rows])
    cn = np.sqrt(seq_f32_self_dots(Cm).astype(np.float64))

    def assign_np(V: "np.ndarray") -> "np.ndarray":
        vn = np.sqrt(seq_f32_self_dots(V).astype(np.float64))
        sim = seq_f32_dots(V, Cm).astype(np.float64) / (vn[:, None] * cn[None, :])
        return cent_ids[micro_units_np(sim).argmax(axis=1)]

    q_rows = _collect_block(
        corpus.filter(queries_filter(F.col(id_col))).select(id_col, vec_col), "query"
    )
    if not q_rows:
        # empty query block: 0-row result, not a shape error
        return corpus.sparkSession.createDataFrame(
            [], "q_id bigint, rank bigint, c_id bigint, sim_micro bigint"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Qm = np.array([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    qn = np.sqrt(seq_f32_self_dots(Qm).astype(np.float64))

    # Multi-probe (standard IVF recall knob): a corpus row lives in
    # exactly ONE cell (argmax), but each query searches its nprobe
    # nearest cells — recall rises with nprobe at proportional scan
    # cost, still zero corpus shuffles. nprobe=1 keeps the exact
    # argmax tie-break (oracle-replicable single-probe path).
    if nprobe <= 1:
        q_probe = assign_np(Qm)[:, None]
    else:
        p = min(nprobe, len(cent_ids))
        qsim = micro_units_np(
            seq_f32_dots(Qm, Cm).astype(np.float64) / (qn[:, None] * cn[None, :])
        )
        q_probe = cent_ids[np.argpartition(-qsim, p - 1, axis=1)[:, :p]]

    cells_cap = _kernel_cells_cap()
    widest = max(len(q_ids), len(cent_ids))

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, widest, cells_cap):
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float32, copy=False)
                ids = pdf[id_col].to_numpy(dtype=np.int64)
                cells = assign_np(V)
                vn = np.sqrt(seq_f32_self_dots(V).astype(np.float64))
                sim = seq_f32_dots(V, Qm).astype(np.float64) / (
                    vn[:, None] * qn[None, :]
                )
                micro = micro_units_np(sim)
                same_cell = (cells[:, None, None] == q_probe.T[None, :, :]).any(axis=1)
                ri, qi = np.nonzero(same_cell)
                out = pd.DataFrame(
                    {
                        "q_id": q_ids[qi],
                        "c_id": ids[ri],
                        "sim_micro": micro[ri, qi],
                    }
                )
                yield out[out.q_id != out.c_id]

    sims = corpus.select(id_col, vec_col).mapInPandas(
        kernel, "q_id bigint, c_id bigint, sim_micro bigint"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim_micro").desc(), F.col("c_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("bigint").alias("rank"), "c_id", "sim_micro")
    )


def embedding_near_dups(
    corpus: DataFrame,
    threshold_micro: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    block_size: int = 4096,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a similarity
    threshold (micro-units): (id_a, id_b, sim_micro).

    Cell-bucketed candidate generation (IVF cells) so only same-cell
    pairs are compared; near-dups land in the same cell with high
    probability. In-cell pair generation is BLOCKED: cells larger than
    ``block_size`` are hash-split into nb = ceil(|cell|/block_size)
    blocks and every block pair (bi ≤ bj) becomes its own task, so
    per-task memory is O(block_size) no matter how hot a cell is —
    never one pandas frame per cell. The result set is identical for
    any blocking (every pair lands in exactly one tile); at the oracle
    scale every cell fits one block and the plan degenerates to the
    unblocked shape. Cell sizes come from ``count(*) OVER (PARTITION
    BY cell)`` inside the plan — lazy, so the assignment kernel is
    evaluated exactly once and no eager side-job fires.

    ``num_centroids`` defaults to the oracle's deterministic 8-prefix;
    production: pass ``kmeans_centroids`` output size ~ sqrt(corpus)
    so cells stay small and blocking rarely engages."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    centroids = corpus.filter(F.col(id_col) < num_centroids)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    # cell sizes inside the plan: count over a cell-partitioned window.
    # Lazy — the assignment kernel runs once; the window's shuffle is
    # on the small (id, vec, cell) rows, and WindowExec spills, so even
    # a degenerate all-one-cell corpus degrades to disk, not OOM.
    cell_w = Window.partitionBy("cell")
    # row in block b joins every tile (i≤b, b) and (b, j>b): nb tiles
    # per row — the standard O(n·nb) duplication that buys bounded
    # tiles. Interpreted HOFs are fine here: the arrays are nb-element.
    blocked = (
        assigned.withColumn(
            "nb",
            F.ceil(F.count(F.lit(1)).over(cell_w) / F.lit(block_size)).cast("int"),
        )
        .withColumn("b", F.pmod(F.hash(F.col("vec_id")), F.col("nb")))
        .withColumn(
            "tile",
            F.explode(
                F.concat(
                    F.transform(
                        F.sequence(F.lit(0), F.col("b")),
                        lambda i: F.struct(i.alias("bi"), F.col("b").alias("bj")),
                    ),
                    F.transform(
                        F.when(
                            F.col("b") < F.col("nb") - 1,
                            F.sequence(F.col("b") + 1, F.col("nb") - 1),
                        ).otherwise(F.array().cast("array<int>")),
                        lambda j: F.struct(F.col("b").alias("bi"), j.alias("bj")),
                    ),
                )
            ),
        )
        .select("cell", F.col("tile.bi").alias("bi"), F.col("tile.bj").alias("bj"), "b", "vec_id", "embedding")
    )

    def tile_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.empty(0, np.int64),
                "id_b": np.empty(0, np.int64),
                "sim_micro": np.empty(0, np.int64),
            }
        )
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        pdf = pdf.sort_values("vec_id")
        V = np.stack(pdf["embedding"].to_numpy()).astype(np.float32, copy=False)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        nrm = np.sqrt(seq_f32_self_dots(V).astype(np.float64))
        if bi == bj:
            micro = micro_units_np(
                seq_f32_dots(V, V).astype(np.float64) / (nrm[:, None] * nrm[None, :])
            )
            iu, ju = np.triu_indices(len(ids), k=1)  # ids sorted → id_a < id_b
            keep = micro[iu, ju] >= threshold_micro
            return pd.DataFrame(
                {
                    "id_a": ids[iu[keep]],
                    "id_b": ids[ju[keep]],
                    "sim_micro": micro[iu[keep], ju[keep]],
                }
            )
        mask_a = pdf["b"].to_numpy() == bi
        mask_b = ~mask_a
        if not mask_a.any() or not mask_b.any():
            return empty
        micro = micro_units_np(
            seq_f32_dots(V[mask_a], V[mask_b]).astype(np.float64)
            / (nrm[mask_a, None] * nrm[None, mask_b])
        )
        ai, bi_idx = np.nonzero(micro >= threshold_micro)
        a_ids, b_ids = ids[mask_a][ai], ids[mask_b][bi_idx]
        lo, hi = np.minimum(a_ids, b_ids), np.maximum(a_ids, b_ids)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "sim_micro": micro[ai, bi_idx]}
        )

    # The window leaves rows hash-partitioned on cell alone — enough to
    # satisfy the groupBy's distribution, which would serialize every
    # tile of a hot cell through one task. Repartition on the full tile
    # key so a hot cell's tiles spread across the cluster (the point of
    # blocking); the extra exchange moves only the nb-duplicated small
    # rows, never the corpus scan or the assignment kernel.
    return (
        blocked.repartition("cell", "bi", "bj")
        .groupBy("cell", "bi", "bj")
        .applyInPandas(tile_pairs, "id_a bigint, id_b bigint, sim_micro bigint")
    )


def ivf_probe_assign(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each query vector its ``nprobe`` nearest cells (cosine,
    micro-units, ties to the lowest centroid id): one output row per
    (vector, probed cell). The multi-cell twin of :func:`ivf_assign`
    for the probing side of a k-NN join — same Arrow kernel shape, the
    corpus scan stays distributed, the centroid block is closed over.
    Deterministic tie-break (sim desc, cent_id asc) so a SQL oracle
    can replicate the probe set exactly."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    cent_rows = sorted(
        _collect_block(centroids.select(id_col, vec_col), "centroid"),
        key=lambda r: r[0],
    )
    if not cent_rows:
        raise ValueError("no centroid rows to probe against")
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    Cm = np.array([np.asarray(r[1], dtype=np.float32) for r in cent_rows])
    cn = np.sqrt(seq_f32_self_dots(Cm).astype(np.float64))
    p = min(nprobe, len(cent_ids))

    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(cent_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf[vec_col].to_numpy()).astype(np.float32, copy=False)
                vn = np.sqrt(seq_f32_self_dots(V).astype(np.float64))
                micro = micro_units_np(
                    seq_f32_dots(V, Cm).astype(np.float64)
                    / (vn[:, None] * cn[None, :])
                )
                # composite sort key: micro ≤ 1e6, centroid INDEX < 2^20
                # → micro·2^20 − index fits int64 and breaks ties toward
                # the lower centroid id (ids sorted, index order = id
                # order)
                comp = micro * (1 << 20) - np.arange(len(cent_ids), dtype=np.int64)
                top = np.argsort(-comp, axis=1, kind="stable")[:, :p]
                n = len(pdf)
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), p),
                        "embedding": pdf[vec_col]
                        .iloc[np.repeat(np.arange(n), p)]
                        .to_numpy(),
                        "cell": cent_ids[top].ravel(),
                    }
                )

    return queries.select(id_col, vec_col).mapInPandas(
        kernel, "vec_id bigint, embedding array<float>, cell bigint"
    )


def ivf_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    num_centroids: int = 8,
    nprobe: int = 1,
    block_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Distributed approximate k-NN JOIN: for every LEFT row its top-k
    RIGHT neighbors by cosine — with BOTH sides unbounded. This is the
    operator :func:`cosine_topk`/:func:`ivf_topk` (driver-collected
    query block, capped at MAX_QUERY_BLOCK) cannot express: semantic
    retrieval of a whole corpus against a whole corpus.

    ``exclude_self`` (default True) drops id-equal pairs — correct for
    the self-join case where left IS a slice of right. Joining two
    DIFFERENT corpora whose id spaces merely overlap must pass False,
    or a query would silently lose any neighbor that happens to share
    its id.

    Scale shape: each side is cell-assigned by ONE Arrow kernel pass
    (right: argmax cell; left: its ``nprobe`` nearest cells), then the
    two sides meet in a cogrouped kernel keyed by cell — one shuffle
    per side, keyed by cell id. In-cell work is TILED exactly like
    :func:`embedding_near_dups`: each side hash-splits cells larger
    than ``block_size`` into blocks, every (left-block, right-block)
    tile is its own task, so per-task memory is O(block_size²) however
    hot a cell gets; tile tasks emit per-left TILE-LOCAL top-k (≤ k
    rows per left row per tile, never the |L|·|R| pair set), and a
    final per-left window takes the global top-k. The result is
    blocking-invariant (every (q, c) candidate lives in exactly one
    tile, since a right row has one cell and one block).

    Centroids default to the ``num_centroids`` lowest-id RIGHT vectors
    (deterministic, SQL-oracle-replicable — the a2 idiom); production
    passes :func:`kmeans_centroids` output sized ~sqrt(|right|).
    Self-pairs (same id) are excluded. Output:
    (q_id, rank, c_id, sim_micro)."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    if k < 1:
        raise ValueError("k must be >= 1")
    cent_source = (
        centroids.select(id_col, vec_col)
        if centroids is not None
        else right.filter(F.col(id_col) < num_centroids).select(id_col, vec_col)
    )
    r_asg = ivf_assign(right, cent_source, id_col, vec_col)
    l_asg = ivf_probe_assign(left, cent_source, nprobe, id_col, vec_col)

    # Per-cell block counts for BOTH sides in one tiny broadcast frame
    # (≤ one row per cell). This is a second, column-pruned pass over
    # each side's assignment kernel — deliberately chosen over (a) a
    # count() OVER (PARTITION BY cell) window, which would shuffle the
    # full embedding rows on cell *before* the cogroup shuffle does,
    # and (b) pinning the assignment output, which would materialize a
    # copy of the corpus. A full outer join keeps one-sided cells: a
    # NULL opposite-side block count makes sequence() NULL and the
    # explode drops the row — no tiles where the other side is empty.
    r_stats = r_asg.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(block_size)).cast("int").alias("nbr")
    )
    l_stats = l_asg.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(block_size)).cast("int").alias("nbl")
    )
    stats = r_stats.join(l_stats, "cell", "full")
    l_t = (
        l_asg.join(F.broadcast(stats), "cell")
        .withColumn("bl", F.pmod(F.hash(F.col("vec_id")), F.col("nbl")))
        .withColumn("br", F.explode(F.sequence(F.lit(0), F.col("nbr") - 1)))
        .select("cell", "bl", "br", "vec_id", "embedding")
    )
    r_t = (
        r_asg.join(F.broadcast(stats), "cell")
        .withColumn("br", F.pmod(F.hash(F.col("vec_id")), F.col("nbr")))
        .withColumn("bl", F.explode(F.sequence(F.lit(0), F.col("nbl") - 1)))
        .select("cell", "bl", "br", "vec_id", "embedding")
    )

    def tile_topk(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "q_id": np.empty(0, np.int64),
                "c_id": np.empty(0, np.int64),
                "sim_micro": np.empty(0, np.int64),
            }
        )
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        Q = np.stack(lpdf["embedding"].to_numpy()).astype(np.float32, copy=False)
        R = np.stack(rpdf["embedding"].to_numpy()).astype(np.float32, copy=False)
        q_ids = lpdf["vec_id"].to_numpy(dtype=np.int64)
        c_ids = rpdf["vec_id"].to_numpy(dtype=np.int64)
        qn = np.sqrt(seq_f32_self_dots(Q).astype(np.float64))
        rn = np.sqrt(seq_f32_self_dots(R).astype(np.float64))
        micro = micro_units_np(
            seq_f32_dots(Q, R).astype(np.float64) / (qn[:, None] * rn[None, :])
        )
        n, m = micro.shape
        qi = np.repeat(np.arange(n), m)
        ci = np.tile(np.arange(m), n)
        flat = micro.ravel()
        if exclude_self:  # id-equal pairs (self-join semantics only)
            keep = q_ids[qi] != c_ids[ci]
            qi, ci, flat = qi[keep], ci[keep], flat[keep]
        if len(flat) == 0:
            return empty
        # tile-local top-k per left row: one lexsort by (q, -sim, c_id),
        # then keep the first k of each q-run
        order = np.lexsort((c_ids[ci], -flat, qi))
        qi, ci, flat = qi[order], ci[order], flat[order]
        starts = np.r_[0, np.flatnonzero(np.diff(qi)) + 1]
        rank = np.arange(len(qi)) - np.repeat(starts, np.diff(np.r_[starts, len(qi)]))
        sel = rank < k
        return pd.DataFrame(
            {"q_id": q_ids[qi[sel]], "c_id": c_ids[ci[sel]], "sim_micro": flat[sel]}
        )

    cands = (
        l_t.groupBy("cell", "bl", "br")
        .cogroup(r_t.groupBy("cell", "bl", "br"))
        .applyInPandas(tile_topk, "q_id bigint, c_id bigint, sim_micro bigint")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim_micro").desc(), F.col("c_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("rank").cast("bigint").alias("rank"), "c_id", "sim_micro")
    )


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_sample: int = 100_000,
    iters: int = 10,
    seed: int = 29,
    n_rows: int | None = None,
):
    """Product-quantization codebooks: split the embedding dimension
    into ``m`` contiguous subspaces and train a ``k``-centroid KMeans
    in each — the memory-compression layer of a production 100 TB ANN
    index (FAISS's IVFPQ shape): a d-dim float32 vector becomes ``m``
    byte codes (here d=64, m=8, k=16 → 8 bytes vs 256, a 32×
    compression), and scans run on codes + a per-query lookup table,
    never the raw vectors.

    Training mirrors :func:`kmeans_centroids`: a deterministic
    hash-threshold reservoir of ≤ ``max_sample`` vectors, driver-side
    Lloyd's per subspace (k·m tiny problems), same seed → same books
    on any partitioning. Returns a numpy array of shape (m, k, d/m)
    wrapped in a plain list-of-lists (driver-side object, closed over
    by the encode/scan kernels — it is a few KB). ``n_rows`` skips the
    count job when the caller already holds the corpus size."""
    import numpy as np

    n = corpus.count() if n_rows is None else n_rows
    if n == 0:
        raise ValueError("cannot train codebooks on an empty corpus")
    if k > 256:
        raise ValueError("k > 256 breaks the one-byte-per-subspace contract")
    denom = 1_000_000_000
    frac = min(1.0, (max_sample * 1.05) / n)
    thresh = max(1, math.ceil(frac * denom))
    hv = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(denom))
    rows = (
        corpus.select(id_col, vec_col, hv.alias("_hv"))
        .filter(F.col("_hv") < thresh)
        .orderBy("_hv", id_col)
        .limit(max_sample)
        .select(vec_col)
        .collect()
    )
    X = np.array([np.asarray(r[0], dtype=np.float32) for r in rows])
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if len(X) < k:
        raise ValueError(f"sample of {len(X)} vectors cannot seed {k} centroids")
    sub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, sub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub].astype(np.float64)
        centers = Xj[rng.choice(len(Xj), size=k, replace=False)].copy()
        xsq = (Xj**2).sum(axis=1)
        for _ in range(iters):
            d2 = xsq[:, None] - 2.0 * (Xj @ centers.T) + (centers**2).sum(axis=1)[None, :]
            lbl = d2.argmin(axis=1)
            sums = np.zeros_like(centers)
            np.add.at(sums, lbl, Xj)
            counts = np.bincount(lbl, minlength=k).astype(np.float64)
            nonempty = counts > 0
            centers[nonempty] = sums[nonempty] / counts[nonempty, None]
        books[j] = centers
    return books.tolist()


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` one-byte centroid codes (nearest
    subspace centroid by L2): (vec_id, codes array<int>). One Arrow
    kernel pass, codebooks closed over; the encoded table is what a
    100 TB deployment actually stores and scans (32× smaller here)."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, k, sub = books.shape

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(V), m), dtype=np.int64)
            for j in range(m):
                Vj = V[:, j * sub : (j + 1) * sub]
                d2 = (
                    (Vj**2).sum(axis=1)[:, None]
                    - 2.0 * (Vj @ books[j].T)
                    + (books[j] ** 2).sum(axis=1)[None, :]
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        kernel, "vec_id bigint, codes array<bigint>"
    )


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by ASYMMETRIC DISTANCE COMPUTATION over PQ
    codes: per query, an (m × k) table of exact partial dot products
    against every subspace centroid; a candidate's approximate score
    is m table lookups summed — the scan never touches raw vectors,
    only the byte codes (the compressed-memory path that makes a
    100 TB index fit a cluster). Emits per-Arrow-batch local top-k per
    query (bounded rows, like every kernel here), then a global
    per-query window. Output (q_id, rank, c_id, approx_micro);
    re-rank the top candidates with :func:`cosine_topk` against the
    raw vectors when exact order matters."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_self_dots,
    )

    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, kk, sub = books.shape
    q_rows = _collect_block(queries.select(id_col, vec_col), "query")
    if not q_rows:
        return encoded.sparkSession.createDataFrame(
            [], "q_id bigint, rank bigint, c_id bigint, approx_micro bigint"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Qm = np.array([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    qn = np.sqrt(seq_f32_self_dots(Qm).astype(np.float64))
    # per-query ADC tables: tab[q, j, c] = dot(q_sub_j, centroid_c_j)
    tab = np.empty((len(Qm), m, kk), dtype=np.float64)
    for j in range(m):
        tab[:, j, :] = Qm[:, j * sub : (j + 1) * sub].astype(np.float64) @ books[j].T

    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(q_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)  # (n, m)
                ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                # approx dot = sum_j tab[q, j, codes[c, j]] ; normalize
                # by the QUERY norm only (candidate norm is unknown to a
                # code scan — standard ADC on unnormalized dots; the
                # synthetic corpus has near-constant norms, and
                # production usage re-ranks the shortlist exactly
                # anyway)
                n = len(ids)
                scores = np.zeros((len(q_ids), n), dtype=np.float64)
                for j in range(m):
                    scores += tab[:, j, codes[:, j]]
                scores /= qn[:, None]
                # mask self-pairs BEFORE selection (tile_topk's exclude-
                # then-select order): filtering after top-k would let a
                # chunk containing the query's own vector silently drop
                # the (top+1)-th candidate, which may belong in the
                # global top-k
                self_mask = q_ids[:, None] == ids[None, :]
                scores[self_mask] = -np.inf
                top = min(k, n)
                idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
                sel_q = np.repeat(np.arange(len(q_ids)), top)
                sel_c = idx.ravel()
                # only masked (self) entries carry -inf; keep the rest
                keep = ~self_mask[sel_q, sel_c]
                sel_q, sel_c = sel_q[keep], sel_c[keep]
                yield pd.DataFrame(
                    {
                        "q_id": q_ids[sel_q],
                        "c_id": ids[sel_c],
                        "approx_micro": micro_units_np(scores[sel_q, sel_c]),
                    }
                )

    sims = encoded.select("vec_id", "codes").mapInPandas(
        kernel, "q_id bigint, c_id bigint, approx_micro bigint"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("approx_micro").desc(), F.col("c_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("rank").cast("bigint").alias("rank"),
            "c_id",
            "approx_micro",
        )
    )


def exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-ranking of an ANN shortlist — the second half of the
    production retrieval pattern (PQ/IVF shortlist → exact top-k): the
    shortlist's (q_id, c_id) pairs are joined back to raw vectors via
    a BROADCAST hash join (the shortlist is queries × shortlist_len,
    small by construction — the corpus scan never shuffles), exact
    cosine is computed per pair with the same sequential-f32 contract
    as :func:`cosine_pairs`, and a per-query window keeps the top-k.
    Output (q_id, rank, c_id, sim_micro) — same schema as
    :func:`cosine_topk`, so the two are drop-in interchangeable."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    q_rows = _collect_block(queries.select(id_col, vec_col), "query")
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "q_id bigint, rank bigint, c_id bigint, sim_micro bigint"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_pos = {int(q): i for i, q in enumerate(q_ids)}
    Qm = np.array([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    qn = np.sqrt(seq_f32_self_dots(Qm).astype(np.float64))

    pairs = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("_vec")
    ).join(F.broadcast(shortlist.select("q_id", "c_id")), "c_id")

    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(q_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                mapped = pdf["q_id"].map(q_pos)
                if mapped.isna().any():
                    # NaN would crash the int64 cast below with an
                    # opaque executor error (or worse, index garbage);
                    # name the offending ids instead
                    unknown = sorted(set(pdf["q_id"][mapped.isna()].tolist()))[:10]
                    raise ValueError(
                        "exact_rerank: shortlist q_ids absent from the "
                        f"queries frame: {unknown}"
                    )
                qi = mapped.to_numpy(dtype=np.int64)
                V = np.stack(pdf["_vec"].to_numpy()).astype(np.float32, copy=False)
                vn = np.sqrt(seq_f32_self_dots(V).astype(np.float64))
                sim = seq_f32_dots(V, Qm).astype(np.float64) / (
                    vn[:, None] * qn[None, :]
                )
                micro = micro_units_np(sim)
                yield pd.DataFrame(
                    {
                        "q_id": pdf["q_id"].to_numpy(dtype=np.int64),
                        "c_id": pdf["c_id"].to_numpy(dtype=np.int64),
                        "sim_micro": micro[np.arange(len(pdf)), qi],
                    }
                )

    sims = pairs.mapInPandas(kernel, "q_id bigint, c_id bigint, sim_micro bigint")
    w = Window.partitionBy("q_id").orderBy(F.col("sim_micro").desc(), F.col("c_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("rank").cast("bigint").alias("rank"),
            "c_id",
            "sim_micro",
        )
    )


def probe_member_matrix(Qm, qn, Cm, cn, nprobe):
    """(|q| × n_cents) bool membership of each query's ``nprobe``
    nearest cells by micro-unit cosine with the deterministic
    lowest-index tie-break — THE probe-set definition every IVFPQ
    consumer shares (the in-memory scan and the stored-index planner
    must agree bit-for-bit on which cells a query probes, or a
    file-pruned scan would silently drop candidates)."""
    import numpy as np

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
    )

    p = min(max(1, nprobe), Cm.shape[0])
    qsim = micro_units_np(
        seq_f32_dots(Qm, Cm).astype(np.float64) / (qn[:, None] * cn[None, :])
    )
    comp = qsim * (1 << 20) - np.arange(Cm.shape[0], dtype=np.int64)
    probe_idx = np.argsort(-comp, axis=1, kind="stable")[:, :p]
    member = np.zeros((Qm.shape[0], Cm.shape[0]), dtype=bool)
    np.put_along_axis(member, probe_idx, True, axis=1)
    return member


def ivf_pq_encode(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the IVFPQ index table in ONE Arrow pass: every corpus row
    gets its coarse IVF cell (nearest centroid by cosine, the
    :func:`ivf_assign` contract) AND its ``m`` one-byte PQ codes (the
    :func:`pq_encode` contract) — (vec_id, cell, codes). This is the
    table a 100 TB deployment stores, written bucketed/partitioned by
    ``cell`` so a probe touches only its cells' files; raw vectors stay
    in the base table and are only read by the re-rank join. Fusing the
    two assignments avoids the vec_id-keyed join (a full corpus
    shuffle) that composing ivf_assign + pq_encode separately would
    cost."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    cent_rows = sorted(
        _collect_block(centroids.select(id_col, vec_col), "centroid"),
        key=lambda r: r[0],
    )
    if not cent_rows:
        raise ValueError("no centroid rows to assign against")
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    Cm = np.array([np.asarray(r[1], dtype=np.float32) for r in cent_rows])
    cn = np.sqrt(seq_f32_self_dots(Cm).astype(np.float64))
    books = np.asarray(codebooks, dtype=np.float64)  # (m, k, sub)
    m, _, sub = books.shape
    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(cent_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                V32 = np.stack(pdf[vec_col].to_numpy()).astype(np.float32, copy=False)
                vn = np.sqrt(seq_f32_self_dots(V32).astype(np.float64))
                sim = seq_f32_dots(V32, Cm).astype(np.float64) / (
                    vn[:, None] * cn[None, :]
                )
                best = micro_units_np(sim).argmax(axis=1)  # first max = lowest id
                V = V32.astype(np.float64)
                codes = np.empty((len(V), m), dtype=np.int64)
                for j in range(m):
                    Vj = V[:, j * sub : (j + 1) * sub]
                    d2 = (
                        (Vj**2).sum(axis=1)[:, None]
                        - 2.0 * (Vj @ books[j].T)
                        + (books[j] ** 2).sum(axis=1)[None, :]
                    )
                    codes[:, j] = d2.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].to_numpy(dtype=np.int64),
                        "cell": cent_ids[best],
                        "codes": list(codes),
                    }
                )

    return corpus.select(id_col, vec_col).mapInPandas(
        kernel, "vec_id bigint, cell bigint, codes array<bigint>"
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks,
    shortlist: int = 20,
    num_centroids: int = 8,
    nprobe: int = 1,
    centroids: DataFrame | None = None,
    encoded: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The COMPOSED production retrieval operator — FAISS's IVFPQ shape
    as one call: coarse IVF cells prune the scan to ``nprobe`` cells
    per query, PQ codes compress what is scanned (ADC lookup-table
    scoring, raw vectors never touched), a ``shortlist`` of candidates
    per query survives, and an exact broadcast-join re-rank
    (:func:`exact_rerank`) orders the final top-k. Same output schema
    as :func:`cosine_topk` — drop-in, approximate, at a fraction of the
    scan cost and memory.

    Scale shape: ONE kernel pass builds the (vec_id, cell, codes) index
    (pass ``encoded=ivf_pq_encode(...)`` to reuse a stored index and
    skip it), one code-only scan with per-query cell masks, and a
    broadcast join for the re-rank — zero shuffles of the corpus. At
    100 TB the encoded table is written bucketed by ``cell``, so the
    probe scan prunes to nprobe buckets instead of masking (the mask
    formulation here is partition-layout-independent, which is what the
    correctness tests need); either way per-task memory is bounded by
    the kernel cell cap.

    Centroids default to the ``num_centroids`` lowest-id corpus vectors
    (the deterministic a2/a6 idiom); production passes
    :func:`kmeans_centroids`. Queries are a bounded block (the
    :func:`cosine_topk` contract — for unbounded query sides use
    :func:`ivf_knn_join`). Self-pairs are excluded before selection."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_dots,
        seq_f32_self_dots,
    )

    if k < 1 or shortlist < k:
        raise ValueError("need shortlist >= k >= 1")
    cent_source = (
        centroids.select(id_col, vec_col)
        if centroids is not None
        else corpus.filter(F.col(id_col) < num_centroids).select(id_col, vec_col)
    )
    cent_rows = sorted(_collect_block(cent_source, "centroid"), key=lambda r: r[0])
    if not cent_rows:
        raise ValueError("no centroid rows to probe against")
    cent_ids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    Cm = np.array([np.asarray(r[1], dtype=np.float32) for r in cent_rows])
    cn = np.sqrt(seq_f32_self_dots(Cm).astype(np.float64))
    if encoded is None:
        encoded = ivf_pq_encode(corpus, cent_source, codebooks, id_col, vec_col)

    q_rows = _collect_block(queries.select(id_col, vec_col), "query")
    if not q_rows:
        return corpus.sparkSession.createDataFrame(
            [], "q_id bigint, rank bigint, c_id bigint, sim_micro bigint"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Qm = np.array([np.asarray(r[1], dtype=np.float32) for r in q_rows])
    qn = np.sqrt(seq_f32_self_dots(Qm).astype(np.float64))

    # per-query probe set as a (|q| × n_cents) bool matrix over centroid
    # INDEX (cells map to index via searchsorted on the sorted cent_ids)
    probe_member = probe_member_matrix(Qm, qn, Cm, cn, nprobe)

    books = np.asarray(codebooks, dtype=np.float64)  # (m, kk, sub)
    m, kk, sub = books.shape
    tab = np.empty((len(Qm), m, kk), dtype=np.float64)
    for j in range(m):
        tab[:, j, :] = Qm[:, j * sub : (j + 1) * sub].astype(np.float64) @ books[j].T
    cells_cap = _kernel_cells_cap()

    def kernel(batches):
        for batch in batches:
            for pdf in _row_chunks(batch, len(q_ids), cells_cap):
                if len(pdf) == 0:
                    continue
                codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
                ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                cell_idx = np.searchsorted(cent_ids, pdf["cell"].to_numpy())
                n = len(ids)
                scores = np.zeros((len(q_ids), n), dtype=np.float64)
                for j in range(m):
                    scores += tab[:, j, codes[:, j]]
                scores /= qn[:, None]
                # exclude-then-select: rows outside the query's probe
                # cells AND self-pairs sink before the shortlist cut
                dead = ~probe_member[:, cell_idx]
                dead |= q_ids[:, None] == ids[None, :]
                scores[dead] = -np.inf
                top = min(shortlist, n)
                idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
                sel_q = np.repeat(np.arange(len(q_ids)), top)
                sel_c = idx.ravel()
                keep = ~dead[sel_q, sel_c]
                sel_q, sel_c = sel_q[keep], sel_c[keep]
                yield pd.DataFrame(
                    {
                        "q_id": q_ids[sel_q],
                        "c_id": ids[sel_c],
                        "approx_micro": micro_units_np(scores[sel_q, sel_c]),
                    }
                )

    cands = encoded.select("vec_id", "cell", "codes").mapInPandas(
        kernel, "q_id bigint, c_id bigint, approx_micro bigint"
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_micro").desc(), F.col("c_id")
    )
    short = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= shortlist)
        .select("q_id", "c_id")
    )
    return exact_rerank(short, corpus, queries, k, id_col, vec_col)


def exact_rerank_distributed(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-ranking when the QUERY side is unbounded (the k-NN-join
    case, where :func:`exact_rerank`'s broadcast-the-shortlist contract
    would collect |queries|·shortlist rows to the driver): the
    shortlist joins raw vectors from both sides via ordinary keyed
    joins — two shuffles of shortlist-sized rows (tiny: ≤ shortlist
    per query), the corpora themselves shuffle only the rows that made
    a shortlist (semi-join-sized) — then a rowwise Arrow kernel
    computes exact cosine per surviving pair (never an all-pairs
    matrix) and a per-query window keeps the top-k. Same output schema
    and float contract as :func:`exact_rerank`."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_rowwise_dots,
        seq_f32_self_dots,
    )

    pairs = (
        shortlist.select("q_id", "c_id")
        .join(
            corpus.select(
                F.col(id_col).alias("c_id"), F.col(vec_col).alias("_cv")
            ),
            "c_id",
        )
        .join(
            queries.select(
                F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")
            ),
            "q_id",
        )
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.stack(pdf["_qv"].to_numpy()).astype(np.float32, copy=False)
            C = np.stack(pdf["_cv"].to_numpy()).astype(np.float32, copy=False)
            qn = np.sqrt(seq_f32_self_dots(Q).astype(np.float64))
            cn = np.sqrt(seq_f32_self_dots(C).astype(np.float64))
            sim = seq_f32_rowwise_dots(Q, C).astype(np.float64) / (qn * cn)
            yield pd.DataFrame(
                {
                    "q_id": pdf["q_id"].to_numpy(dtype=np.int64),
                    "c_id": pdf["c_id"].to_numpy(dtype=np.int64),
                    "sim_micro": micro_units_np(sim),
                }
            )

    sims = pairs.mapInPandas(kernel, "q_id bigint, c_id bigint, sim_micro bigint")
    w = Window.partitionBy("q_id").orderBy(F.col("sim_micro").desc(), F.col("c_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            F.col("rank").cast("bigint").alias("rank"),
            "c_id",
            "sim_micro",
        )
    )


def ivf_pq_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    codebooks,
    shortlist: int = 20,
    num_centroids: int = 8,
    nprobe: int = 1,
    block_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """The COMPLETE 100 TB retrieval shape: a distributed k-NN JOIN
    (both sides unbounded, :func:`ivf_knn_join`'s contract) whose
    in-cell scan runs over PQ CODES instead of raw vectors — the
    IVFPQ memory path applied to corpus-vs-corpus retrieval. The right
    side is indexed by ONE fused Arrow pass (:func:`ivf_pq_encode`:
    cell + m byte codes), so the cogroup shuffles 16-32× fewer bytes
    per right row than the raw-vector join; tiles ADC-score codes
    against per-tile query lookup tables (memory O(block · m · k_codes)
    + O(block²) scores), emit a tile-local top-``shortlist`` per query,
    and the surviving shortlist is re-ranked EXACTLY against raw
    vectors via keyed joins (:func:`exact_rerank_distributed` — never a
    driver collect, never a broadcast of an unbounded set). Output
    (q_id, rank, c_id, sim_micro) — drop-in for :func:`ivf_knn_join`
    at a fraction of the shuffle bytes and tile memory.

    Centroids default to the ``num_centroids`` lowest-id RIGHT vectors
    (the a2/a6 deterministic idiom); production passes
    :func:`kmeans_centroids`. ``exclude_self`` as in
    :func:`ivf_knn_join`."""
    import numpy as np
    import pandas as pd

    from async_pipes_spark.functions.vectors_np import (
        micro_units_np,
        seq_f32_self_dots,
    )

    if k < 1 or shortlist < k:
        raise ValueError("need shortlist >= k >= 1")
    cent_source = (
        centroids.select(id_col, vec_col)
        if centroids is not None
        else right.filter(F.col(id_col) < num_centroids).select(id_col, vec_col)
    )
    r_enc = ivf_pq_encode(right, cent_source, codebooks, id_col, vec_col)
    l_asg = ivf_probe_assign(left, cent_source, nprobe, id_col, vec_col)

    # per-cell block counts, the a6 stats shape: one tiny broadcast
    # frame; NULL opposite-side count → NULL sequence → explode drops
    # the row (no tiles where the other side is empty)
    r_stats = r_enc.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(block_size)).cast("int").alias("nbr")
    )
    l_stats = l_asg.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(block_size)).cast("int").alias("nbl")
    )
    stats = r_stats.join(l_stats, "cell", "full")
    l_t = (
        l_asg.join(F.broadcast(stats), "cell")
        .withColumn("bl", F.pmod(F.hash(F.col("vec_id")), F.col("nbl")))
        .withColumn("br", F.explode(F.sequence(F.lit(0), F.col("nbr") - 1)))
        .select("cell", "bl", "br", "vec_id", "embedding")
    )
    r_t = (
        r_enc.join(F.broadcast(stats), "cell")
        .withColumn("br", F.pmod(F.hash(F.col("vec_id")), F.col("nbr")))
        .withColumn("bl", F.explode(F.sequence(F.lit(0), F.col("nbl") - 1)))
        .select("cell", "bl", "br", "vec_id", "codes")
    )

    books = np.asarray(codebooks, dtype=np.float64)  # (m, kk, sub)
    m, kk, sub = books.shape

    def tile_shortlist(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "q_id": np.empty(0, np.int64),
                "c_id": np.empty(0, np.int64),
                "approx_micro": np.empty(0, np.int64),
            }
        )
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        Q = np.stack(lpdf["embedding"].to_numpy()).astype(np.float32, copy=False)
        q_ids = lpdf["vec_id"].to_numpy(dtype=np.int64)
        c_ids = rpdf["vec_id"].to_numpy(dtype=np.int64)
        codes = np.stack(rpdf["codes"].to_numpy()).astype(np.int64)
        qn = np.sqrt(seq_f32_self_dots(Q).astype(np.float64))
        tab = np.empty((len(Q), m, kk), dtype=np.float64)
        Qd = Q.astype(np.float64)
        for j in range(m):
            tab[:, j, :] = Qd[:, j * sub : (j + 1) * sub] @ books[j].T
        scores = np.zeros((len(q_ids), len(c_ids)), dtype=np.float64)
        for j in range(m):
            scores += tab[:, j, codes[:, j]]
        scores /= qn[:, None]
        # exclude-then-select, as everywhere
        if exclude_self:
            scores[q_ids[:, None] == c_ids[None, :]] = -np.inf
        top = min(shortlist, len(c_ids))
        idx = np.argpartition(-scores, top - 1, axis=1)[:, :top]
        sel_q = np.repeat(np.arange(len(q_ids)), top)
        sel_c = idx.ravel()
        keep = ~np.isinf(scores[sel_q, sel_c])
        sel_q, sel_c = sel_q[keep], sel_c[keep]
        return pd.DataFrame(
            {
                "q_id": q_ids[sel_q],
                "c_id": c_ids[sel_c],
                "approx_micro": micro_units_np(scores[sel_q, sel_c]),
            }
        )

    cands = (
        l_t.groupBy("cell", "bl", "br")
        .cogroup(r_t.groupBy("cell", "bl", "br"))
        .applyInPandas(
            tile_shortlist, "q_id bigint, c_id bigint, approx_micro bigint"
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("approx_micro").desc(), F.col("c_id")
    )
    short = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= shortlist)
        .select("q_id", "c_id")
    )
    return exact_rerank_distributed(short, right, left, k, id_col, vec_col)
