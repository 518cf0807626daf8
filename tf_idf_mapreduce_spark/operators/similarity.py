"""Similarity search over the ``embeddings`` table (array<float> column).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline and
  still the right plan when the query set is small (broadcast query side,
  one scan of the corpus, TakeOrderedAndProject for the top-k).
- ``lsh_*``: random-hyperplane LSH with banded OR-amplification — the
  100 TB scale path. 24 hyperplanes grouped into 6 bands of 4 bits; two
  vectors are candidates iff they agree on ALL bits of ANY band
  (P[candidate] = 1-(1-p^4)^6 where p = 1 - angle/π). AND-within-band
  prunes, OR-across-bands recovers recall — the same amplification
  structure as MinHash banding, tuned here for moderately-similar data.
  Hyperplanes are deterministic ±1 vectors derived from md5 in the driver —
  plain data, shared verbatim with any oracle.

No UDFs anywhere: dot products are zip_with+aggregate folds (JVM, exact
left-to-right order).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.grid import r6
from ..functions.vectors import cosine, dot, fold_dot_matrix_udf, norm
from ..sources.io import load_table
from .guard import EXACT_QUADRATIC_MAX_ROWS, guard_exact_quadratic

EMBED_DIM = 64
BAND_BITS = 4
N_BANDS = 6
N_PLANES = BAND_BITS * N_BANDS

#: Registry defaults for the single-query search operators. The oracle
#: SQL builders in __spark_entry__ take these SAME constants, so a
#: parameter change can never silently diverge the two sides.
DEFAULT_QUERY_VEC = 0
DEFAULT_TOPK = 10

#: Cosine threshold for embedding near-duplicate pairs (shared by the
#: exact all-pairs baseline in dedup.py, the banded-LSH path here, and
#: both oracles).
NEARDUP_MIN_COSINE = 0.45


def hyperplanes(n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: component (p, d) = parity of a bit of
    md5(f"{p}:{d}"). Pure data — embeddable as literals in Spark and SQL."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"{p}:{d}".encode()).digest()
            row.append(1.0 if digest[0] & 1 else -1.0)
        planes.append(row)
    return planes


def _query_vector(e: DataFrame, query_vec_id: int) -> DataFrame:
    return e.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )


def cosine_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = DEFAULT_QUERY_VEC, k: int = DEFAULT_TOPK,
    e: DataFrame | None = None,
) -> DataFrame:
    """Exact top-k by cosine against one stored query vector.

    The 1-row query side is broadcast (scalar-broadcast pattern, A4
    analogue); the corpus is scanned once; orderBy+limit plans as
    TakeOrderedAndProject. Cosine rounded @6dp, vec_id tiebreak.
    ``e`` lets a composed report (``ann_scorecard``) supply a shared
    materialized (vec_id, embedding) base instead of a fresh scan.
    """
    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vector(e, query_vec_id)
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_sig_column(embedding: Column) -> Column:
    """24-bit LSH signature: bit p = [dot(emb, plane_p) >= 0]. Map-only;
    hyperplane literals fold into the plan — single scan, no joins.
    Reference semantics spelled as pure Column expressions; the hot path
    uses the Arrow-batched twin (``fold_dot_matrix_udf``), which is
    bit-identical (same left-to-right accumulation order) and ~10x
    faster than 24 interpreted per-element folds per row."""
    sig = F.lit(0).cast("long")
    for p, row in enumerate(hyperplanes()):
        plane = F.array(*[F.lit(v) for v in row])
        sig = sig + F.when(
            dot(embedding, plane) >= 0, F.lit(1 << p).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return sig


def lsh_signatures(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sig_udf = fold_dot_matrix_udf(hyperplanes())
    return e.select("vec_id", sig_udf(F.col("embedding")).alias("lsh_sig"))


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(vec_id, band_idx, band_val) — one row per band for the equi-join."""
    return sigs.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("band_idx"),
                        F.shiftright(F.col("lsh_sig"), b * BAND_BITS)
                        .bitwiseAND(F.lit((1 << BAND_BITS) - 1))
                        .alias("band_val"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("vec_id", "bk.band_idx", "bk.band_val")


#: Max members one bucket-tile row may hold. A bucket above the cap (a
#: degenerate band value, a mega IVF cell) shards into ⌈occ/cap⌉ hash
#: tiles scored as tile-PAIR rows: same pairs, same per-pair math, ≤ cap²
#: dots and ~2·cap·d·8 bytes per task. 4096 members ≈ 2 MB of float64
#: payload per tile and ≈ 1 GFLOP per cross tile — comfortably one task.
#: At fixture scale no bucket reaches the cap, so every bucket is one tile.
BUCKET_TILE_CAP = 4096


def _tiled_bucket_rows(
    members: DataFrame,
    key_cols: list[str],
    payload_cols: list[str],
    id_col: str = "vec_id",
    cap: int | None = None,
) -> DataFrame:
    """(vecs_a, vecs_b) tile-pair rows for the bucket-as-tile kernels.

    ``members`` has one row per bucket member; buckets are ``key_cols``
    groups. Members hash (``xxhash64(id)``, deterministic — guide §2.5)
    into ``⌈occupancy/cap⌉`` tiles; the occupancy count shares the
    bucket-key exchange with the groupBy (window over the same keys).
    Rows with ``vecs_b IS NULL`` are same-tile rows (score within);
    cross rows pair two tiles of one bucket. Every unordered member
    pair lands in EXACTLY one row: same tile → that tile's within row,
    different tiles → the one (t_a < t_b) cross row. The cross join's
    inputs are pre-filtered to multi-tile buckets, so at normal
    occupancies it is a join over zero rows."""
    from pyspark.sql.window import Window

    cap = cap or BUCKET_TILE_CAP
    w = Window.partitionBy(*key_cols)
    tiled = members.withColumn(
        "n_tiles",
        F.ceil(F.count(F.lit(1)).over(w) / F.lit(cap)).cast("long"),
    ).withColumn("tile", F.pmod(F.xxhash64(F.col(id_col)), F.col("n_tiles")))
    tiles = tiled.groupBy(*key_cols, "tile").agg(
        F.collect_list(F.struct(*payload_cols)).alias("vecs"),
        F.first("n_tiles").alias("n_tiles"),
    )
    multi = tiles.where(F.col("n_tiles") > 1)
    ta, tb = multi.alias("ta"), multi.alias("tb")
    # eqNullSafe: the window/groupBy above treat a NULL bucket key as
    # one bucket, so the tile-pair join must too — plain equality would
    # silently drop every cross-tile pair of a hot NULL-keyed bucket,
    # exactly the path the cap exists for
    cond = [F.col(f"ta.{k}").eqNullSafe(F.col(f"tb.{k}")) for k in key_cols]
    cond.append(F.col("ta.tile") < F.col("tb.tile"))
    cross = ta.join(tb, on=cond).select(
        F.col("ta.vecs").alias("vecs_a"), F.col("tb.vecs").alias("vecs_b")
    )
    return _tile_rows(tiles, cross)


def _tile_rows(tiles: DataFrame, cross: DataFrame) -> DataFrame:
    """The tile-row shape every tile kernel reads: each ``vecs`` tile of
    2+ members as a within row (vecs_b NULL), plus the ``cross`` rows."""
    within = tiles.where(F.size("vecs") >= 2).select(
        F.col("vecs").alias("vecs_a"),
        F.lit(None).cast(tiles.schema["vecs"].dataType).alias("vecs_b"),
    )
    return within.unionByName(cross)


#: Members per block of the exact all-pairs paths (``_block_rows``).
TILE_BLOCK = 256


def _block_rows(e: DataFrame) -> DataFrame:
    """(vecs_a, vecs_b) tile rows covering EVERY pair of ``e`` — the exact
    paths' twin of ``_tiled_bucket_rows``: vectors group into blocks by
    ``vec_id // TILE_BLOCK``; a block is a within row (vecs_b NULL) and
    each ``blk_a < blk_b`` block pair one cross row, so every unordered
    pair lands in exactly one row and the data shipped is O(n²·d/B),
    not O(n²·d). Quadratic by design — callers guard the row count."""
    blocks = e.groupBy(
        (F.col("vec_id") / TILE_BLOCK).cast("long").alias("blk")
    ).agg(F.collect_list(F.struct("vec_id", "embedding")).alias("vecs"))
    a = blocks.select(F.col("blk").alias("blk_a"), F.col("vecs").alias("vecs_a"))
    b = blocks.select(F.col("blk").alias("blk_b"), F.col("vecs").alias("vecs_b"))
    cross = a.join(b, F.col("blk_a") < F.col("blk_b")).select("vecs_a", "vecs_b")
    return _tile_rows(blocks, cross)


def _valid_length_groups(cell) -> dict:
    """Member indices of one tile keyed by embedding length (ascending),
    null embeddings skipped — the numpy twin of the SQL cosine's
    corrupt-row contract (functions/vectors.py): a NULL or dimension-
    mismatched pair scores NULL and drops, never aborts the job. When
    every member is valid and same-length (the fixtures), this is ONE
    group in collect order, so the stacked matrix — and every score —
    is bit-identical to the unguarded ``np.stack``."""
    import numpy as np

    by_len: dict[int, list[int]] = {}
    for i, v in enumerate(cell):
        emb = v["embedding"]
        if emb is not None:
            by_len.setdefault(len(emb), []).append(i)
    return {n: np.array(idxs) for n, idxs in sorted(by_len.items())}


def _rounded_cosines(dots, nrm_a, nrm_b):
    """dot / (|a|·|b|) on the half-up 1e-6 grid — the oracle's cosine
    IEEE sequence op for op (dot UNNORMALIZED, then the norm outer-product
    divide), so a pair's value does not depend on the tile it sits in."""
    import numpy as np

    return _round6(dots / np.outer(nrm_a, nrm_b))


def _tile_cosines(pdf):
    """The one embedding tile kernel: every tile row's rounded cosines as
    directed blocks.

    Reads a batch of ``(vecs_a, vecs_b)`` rows (``_tiled_bucket_rows``
    or ``_block_rows``) and yields ``(m, r, c, sims)``: ``m`` maps each
    scalar payload field to an array over the row's members (vecs_a,
    then vecs_b), ``r``/``c`` index the block's row and column members
    into it, and ``sims[i, j]`` is the rounded cosine of members ``r[i]``
    and ``c[j]``. A within row (vecs_b NULL) is one block, the tile
    against itself; a cross row is A→B and B→A (``sims.T`` of one
    matmul). So every ORDERED pair of distinct members of a row sits in
    exactly one block, and each caller only selects over the blocks
    (``_tile_kernel``). Members group by ``_valid_length_groups``
    (mismatched lengths never meet); a NaN/Inf embedding scores NaN,
    which fails every threshold and every finite top-k."""
    import numpy as np

    def stack(members, idx):
        mat = np.stack([members[i]["embedding"] for i in idx]).astype("float64")
        return mat, np.linalg.norm(mat, axis=1)

    for cell_a, cell_b in zip(pdf["vecs_a"], pdf["vecs_b"]):
        members = list(cell_a) if cell_b is None else [*cell_a, *cell_b]
        m = {
            f: np.array([v[f] for v in members])
            for f in members[0].keys()
            if f != "embedding"
        }
        ga = _valid_length_groups(cell_a)
        if cell_b is None:
            for idx in ga.values():
                if len(idx) >= 2:
                    mat, nrm = stack(members, idx)
                    yield m, idx, idx, _rounded_cosines(mat @ mat.T, nrm, nrm)
            continue
        gb = _valid_length_groups(cell_b)
        for dim in ga.keys() & gb.keys():
            ra, rb = ga[dim], gb[dim] + len(cell_a)
            mat_a, nrm_a = stack(members, ra)
            mat_b, nrm_b = stack(members, rb)
            sims = _rounded_cosines(mat_a @ mat_b.T, nrm_a, nrm_b)
            yield m, ra, rb, sims
            yield m, rb, ra, sims.T


def _tile_kernel(select):
    """``mapInPandas`` kernel over tile rows: ``select(m, r, c, sims)``
    picks each ``_tile_cosines`` block's output columns (a dict of
    arrays); one frame per Arrow batch."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            parts = [select(*block) for block in _tile_cosines(pdf)]
            if parts:
                yield pd.DataFrame(
                    {f: np.concatenate([p[f] for p in parts]) for f in parts[0]}
                )

    return kernel


def _cosine_tile_kernel(thr: float, emit_sim: bool):
    """Every (id_a < id_b) pair of a tile row with rounded cosine >=
    ``thr`` — each unordered pair of the row once. Output columns
    (vec_a, vec_b[, cos_sim])."""
    import numpy as np

    def select(m, r, c, sims):
        ids_r, ids_c = m["vec_id"][r], m["vec_id"][c]
        ia, ib = np.nonzero((ids_r[:, None] < ids_c[None, :]) & (sims >= thr))
        cols = {"vec_a": ids_r[ia], "vec_b": ids_c[ib]}
        if emit_sim:
            cols["cos_sim"] = sims[ia, ib]
        return cols

    return _tile_kernel(select)


def _topk_tile_kernel(k: int):
    """Each row member's k best columns per block by (cos desc, vec_b
    asc), self and non-finite scores excluded. A per-block winner set
    contains every global winner, so one window over the union
    (``_rank_top_k``) keeps each node's true top-k. Output columns
    (vec_a, vec_b, cos_sim)."""
    import numpy as np

    def select(m, r, c, sims):
        ids_r, ids_c = m["vec_id"][r], m["vec_id"][c]
        sims = np.where(ids_r[:, None] == ids_c[None, :], -np.inf, sims)
        order = np.lexsort((np.broadcast_to(ids_c, sims.shape), -sims), axis=1)
        take = order[:, :k].ravel()
        rows = np.arange(len(ids_r)).repeat(min(k, len(ids_c)))
        cs = sims[rows, take]
        keep = np.isfinite(cs)
        return {
            "vec_a": ids_r[rows][keep],
            "vec_b": ids_c[take][keep],
            "cos_sim": cs[keep],
        }

    return _tile_kernel(select)


def _rank_top_k(cand: DataFrame, k: int) -> DataFrame:
    """Each vec_a's k best candidates by (cos desc, vec_b asc), ranked."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_sim"), F.asc("vec_b"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("vec_a", "vec_b", "cos_sim", "rank")
    )


def lsh_bucket_pairs(
    spark: SparkSession, sf_dir: str, min_cosine: float = NEARDUP_MIN_COSINE
) -> DataFrame:
    """Embedding near-duplicate pairs via banded LSH — the 100 TB path
    that replaces the exact all-pairs baseline
    (``dedup.embedding_near_pairs``).

    Candidate generation is the MinHash-banding shape applied to
    hyperplane signatures: explode each vector's 24-bit signature into 6
    4-bit band rows, self-equi-join on (band_idx, band_val), keep ordered
    distinct pairs. Only vectors agreeing on at least one full band ever
    meet — the pair surface is the sum of squared bucket occupancies, not
    n². Exact cosine (the same left-to-right fold as everywhere else)
    then verifies candidates, so every emitted pair is EXACT; banding
    only bounds which pairs get scored. Rounded @6dp, threshold applied
    to the rounded value (both mirroring the all-pairs baseline).

    Returns (vec_a, vec_b, cos_sim) — a subset of the exact operator's
    output; ``dedup.embedding_lsh_recall`` measures how much of it.

    Candidates are scored per BUCKET-TILE, not per pair: each (band_idx,
    band_val) group gathers its members (one tile per bucket until
    ``BUCKET_TILE_CAP``, hash-sharded tile pairs above it — bounded task
    size however degenerate a band value gets) and one numpy matmul
    (``_tile_cosines``) scores every pair of the row; join machinery per
    candidate would dwarf the dot-product FLOPs. A pair sharing several
    bands is deduped by PAIR IDENTITY — ``max(cos_sim)`` per ``(vec_a,
    vec_b)``, the canonical dedup for tiled recomputes — not by float
    equality, so a last-ulp BLAS difference between tile shapes
    straddling a 1e-6 boundary cannot leave duplicate pair rows. Null,
    dimension-mismatched and NaN embeddings drop per the SQL cosine's
    NULL contract (``_valid_length_groups``).
    """
    bands = _band_rows(lsh_signatures(spark, sf_dir))
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = _tiled_bucket_rows(
        bands.join(e, "vec_id"),
        key_cols=["band_idx", "band_val"],
        payload_cols=["vec_id", "embedding"],
    )
    return (
        rows.mapInPandas(
            _cosine_tile_kernel(float(min_cosine), emit_sim=True),
            "vec_a long, vec_b long, cos_sim double",
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )


def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket occupancy — the operational health check for LSH
    (a skewed band → too-coarse hyperplanes → add bits or re-seed)."""
    return (
        _band_rows(lsh_signatures(spark, sf_dir))
        .groupBy("band_idx", "band_val")
        .agg(F.count("*").alias("n_vectors"))
    )


# ---------------------------------------------------------------------------
# IVF: k-means coarse quantizer + cluster-probed search
# ---------------------------------------------------------------------------

IVF_K = 16
IVF_ITERS = 5
IVF_NPROBE = 4


def _round6(x):
    """floor(x*1e6 + 0.5)/1e6 — the repo-wide half-up @6dp grid, identical
    formula in numpy and SQL so both engines land on the same float64."""
    import numpy as np

    return np.floor(x * 1e6 + 0.5) / 1e6


def _assign_cids(x, cmat, cnorm2):
    """Canonical nearest-centroid assignment: argmin over the @6dp-rounded
    modified distance key floor((-2x·c + |c|²)·1e6 + 0.5), ties to the
    LOWEST cid (np.argmin first-occurrence). Rounding before the argmin
    makes the assignment reproducible across engines — FP association
    noise (~1e-13) cannot flip a comparison on a 1e-6 grid except within
    ~1e-7 of a boundary — so a SQL oracle can replay the whole fit."""
    import numpy as np

    key = np.floor((-2.0 * (x @ cmat.T) + cnorm2) * 1e6 + 0.5)
    return np.argmin(key, axis=1)


def kmeans_fit(
    e: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS, n_sub: int = 1
) -> list[list[list[float]]]:
    """Euclidean k-means over the embedding column, pure DataFrame steps,
    fit independently on each of ``n_sub`` equal-width slices of the
    embedding (1 for the IVF coarse quantizer, ``PQ_M`` for the product
    quantizer's subspaces). Returns the ``n_sub`` codebooks, each a list
    of k centroids of width ``EMBED_DIM / n_sub``.

    Deterministic init (vectors with vec_id < k). Each iteration is ONE
    distributed pass for every subspace: ``mapInPandas`` assigns every
    vector slice to its nearest centroid (numpy argmin) and emits
    per-Arrow-batch PARTIAL sums — one (m, cid, dim, partial_sum,
    partial_n) row per subspace-centroid-dimension per batch — so the
    shuffle carries O(k·d·batches) rows instead of the n·d posexplode;
    a tiny groupBy finishes the means. Only the centroid matrices (model
    state, a few KB) ever reach the driver, once per iteration — the
    same driver/executor split MLlib's k-means uses; the n x d data
    never moves.

    Fully deterministic AND cross-engine reproducible: centroids and
    assignment keys live on the @6dp grid (``_round6``/``_assign_cids``),
    and each subspace stops on EXACT centroid equality (a converged
    subspace drops out of the pass; the loop ends when all have), so a
    fixed-iteration SQL replay (DuckDB recursive/unrolled CTEs) reaches
    the identical model — that is what upgrades ``sim_ivf_topk`` from
    rows-only to a full value-hash oracle. Slicing after the float64
    cast commutes with Spark-side ``F.slice``, so subspace m's codebook
    equals ``kmeans_fit`` on the m-th slice (pinned by
    ``test_pq_fused_fit_equals_per_subspace``).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    full = np.stack(
        [
            np.array(r.embedding, dtype="float64")
            for r in e.where(F.col("vec_id") < k).orderBy("vec_id").collect()
        ]
    )
    subdim = full.shape[1] // n_sub
    cents = [
        _round6(full[:, m * subdim : (m + 1) * subdim].copy())
        for m in range(n_sub)
    ]
    done = [False] * n_sub
    partial_schema = "m long, cid long, dim long, s double, n long"
    for _ in range(iters):
        if all(done):
            break
        active = [m for m in range(n_sub) if not done[m]]
        cmats = {m: cents[m].copy() for m in active}
        cnorm2s = {m: (cmats[m] ** 2).sum(axis=1) for m in active}

        def partial_sums(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
                for m in active:
                    xs = np.ascontiguousarray(
                        x[:, m * subdim : (m + 1) * subdim]
                    )
                    cid = _assign_cids(xs, cmats[m], cnorm2s[m])
                    for c in np.unique(cid):
                        member = xs[cid == c]
                        yield pd.DataFrame(
                            {
                                "m": int(m),
                                "cid": int(c),
                                "dim": np.arange(subdim, dtype="int64"),
                                "s": member.sum(axis=0),
                                "n": len(member),
                            }
                        )

        means = (
            e.select("embedding")
            .mapInPandas(partial_sums, partial_schema)
            .groupBy("m", "cid", "dim")
            .agg((F.sum("s") / F.sum("n")).alias("mu"))
            .collect()
        )
        for m in active:
            new = cents[m].copy()  # empty clusters keep their centroid
            for r in means:
                if r.m == m:
                    new[r.cid][r.dim] = _round6(r.mu)
            if np.array_equal(new, cents[m]):
                done[m] = True  # exact fixed point — further rounds are no-ops
            cents[m] = new
    return [c.tolist() for c in cents]


def ivf_centroids(e: DataFrame, cache_key: str | None = None) -> list:
    """``kmeans_fit`` behind the two-level model cache: the process memo
    (L1, ``sources.io.memo``) in front of the durable fingerprint-keyed
    parquet store (L2, survives the process — a fresh session LOADS the
    k×d centroid table instead of re-running the distributed fit).
    ``cache_key`` is the fixture dir whose embeddings ``e`` reads; the
    fit is a deterministic function of that table, so one bench
    session's IVF-family queries (topk, histogram, sweep, recall,
    IVF+PQ, SemDeDup) fit ONCE — the production shape: an index is fit
    once and reused. Without it the fit runs uncached."""
    import pandas as pd

    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import memo_fit

    spark = e.sparkSession

    def _fit_pdf():
        cents = kmeans_fit(e)[0]
        return pd.DataFrame(
            [
                (c, d, v)
                for c, row in enumerate(cents)
                for d, v in enumerate(row)
            ],
            columns=["cid", "dim", "value"],
        )

    def _decode(pdf) -> list:
        # (cid, dim, value) rows -> k lists of d floats; @6dp float64
        # values round-trip parquet bit-exactly, so load == fit
        pdf = pdf.sort_values(["cid", "dim"])
        k = int(pdf["cid"].max()) + 1
        return [
            [float(v) for v in pdf[pdf["cid"] == c]["value"]]
            for c in range(k)
        ]

    if cache_key is None:
        return _decode(_fit_pdf())
    version = (
        table_fingerprint(cache_key, "embeddings"),
        IVF_K,
        IVF_ITERS,
        *plan_confs(spark),
        # the refit-decision loop versions the quantizer: a bumped
        # generation re-keys this fit and every dependent artifact
        quantizer_generation(spark, cache_key),
    )
    return memo_fit(spark, cache_key, "ivf_centroids", version, _fit_pdf, _decode)


def _nearest_centroid_udf(cents):
    """argmin_c ||x - c||² as an Arrow-batched pandas UDF; the centroid
    matrix rides the closure (broadcast to workers with the task)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    cmat = np.asarray(cents, dtype="float64")
    cnorm2 = (cmat**2).sum(axis=1)

    # no type hints: `from __future__ import annotations` stringifies them
    # and pyspark can't resolve the function-local `pd` name; hint-less
    # pandas_udf defaults to the scalar eval type
    @pandas_udf(LongType())
    def nearest(emb):
        x = np.stack(emb.to_numpy()).astype("float64")
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row —
        # same rounded-key argmin as the fit (see _assign_cids)
        return pd.Series(_assign_cids(x, cmat, cnorm2).astype("int64"))

    return nearest


def _probe_order(e: DataFrame, cents, query_vec_id: int):
    """Centroid probe ORDER for a query vector — the rounded modified-
    distance key (lowest-cid tiebreak), the same convention as cell
    assignment, so the DuckDB oracle replays it exactly. ONE definition:
    ``ivf_topk`` and ``ivf_probe_sweep`` must probe identical cells for
    the same nprobe or the sweep's equivalence claim silently breaks."""
    import numpy as np

    cmat = np.asarray(cents)
    qrow = e.where(F.col("vec_id") == query_vec_id).head()
    if qrow is None:
        raise ValueError(f"unknown query_vec_id {query_vec_id}")
    qvec = np.array(qrow.embedding, dtype="float64")
    qkey = np.floor((-2.0 * (cmat @ qvec) + (cmat**2).sum(axis=1)) * 1e6 + 0.5)
    return np.argsort(qkey * len(cmat) + np.arange(len(cmat)))


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    nprobe: int = IVF_NPROBE,
    e: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign the corpus to k-means cells once, probe
    only the ``nprobe`` cells nearest the query, exact cosine within them.

    The scan-side filter is an IN over nprobe cell ids — at 100 TB the
    index table is partitioned by cid, so probing is partition pruning, not
    a filter over the full corpus.
    """
    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    probe = [int(c) for c in _probe_order(e, cents, query_vec_id)[:nprobe]]

    assigned = e.select(
        "vec_id", "embedding", _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid")
    )
    q = _query_vector(e, query_vec_id)
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    return (
        assigned.where(F.col("cid").isin(probe))
        .where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "cid", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ivf_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell IVF occupancy — the operational health check for the
    coarse quantizer (``lsh_bucket_histogram``'s twin: a skewed cell
    means nprobe scans a disproportionate corpus slice — re-fit with
    more centroids or rebalance). One map pass over the corpus with the
    fitted centroids riding the closure; the aggregate is k rows."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    assigned = e.select(
        _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid")
    )
    return assigned.groupBy("cid").agg(F.count("*").alias("n_vectors"))


def ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-batch IVF index maintenance — the ANN-side twin of
    ``tfidf.incremental_index_persisted``: the day's arrival vectors
    (the deterministic ~10% ``hash_sample`` slice, vec_id == doc_id)
    are assigned to the CURRENT coarse quantizer WITHOUT a refit, and
    the report shows, per cell, the existing occupancy, the arrival
    count, and the arrival share — the drift dashboard that decides
    when the quantizer is refit (a cell absorbing a disproportionate
    arrival share means the embedding space moved there; IVF recall
    and SemDeDup quality degrade in that cell first).

    Scale shape: assignment is one map pass over the arrivals with the
    fitted centroids riding the closure (the persisted quantizer — the
    same ``ivf_centroids`` artifact every IVF query loads); the report
    is a k-row aggregate. At 100 TB the daily cost is the arrival
    slice's assignment — the corpus-side occupancy is the persisted
    cell index's metadata, not a re-scan (here both tags come from one
    scan because the fixture is small; the join topology is the
    batch-sized one either way). Exact-replay oracle: the @6dp k-means
    CTE + the md5 bucket rule, integer counts, @6dp share."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    tag = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        (_sample_bucket() <= SAMPLE_BUCKET_MAX).alias("is_batch"),
    )
    assigned = e.join(tag, "vec_id").select(
        "is_batch",
        _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid"),
    )
    agg = assigned.groupBy("cid").agg(
        F.sum(F.when(~F.col("is_batch"), 1).otherwise(0))
        .cast("long")
        .alias("n_corpus"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0))
        .cast("long")
        .alias("n_batch"),
    )
    share = r6(
        F.col("n_batch").cast("double")
        / (F.col("n_corpus") + F.col("n_batch")).cast("double")
    )
    return agg.select(
        "cid",
        "n_corpus",
        "n_batch",
        (F.col("n_corpus") + F.col("n_batch")).cast("long").alias("n_total"),
        share.alias("batch_share"),
    ).orderBy("cid")


#: Refit-decision thresholds (round-9 verdict #3): a cell is DRIFTED
#: when arrivals are at least this share of its occupancy AND the cell
#: absorbed a non-trivial arrival count; the quantizer refits when at
#: least REFIT_MIN_CELLS cells drifted. Folded into the decision oracle,
#: so an edit re-verifies rather than silently changing policy.
REFIT_SHARE = 0.5
REFIT_MIN_ARRIVALS = 5
REFIT_MIN_CELLS = 1

#: Session-local generation fallback when the durable store is disabled.
_GEN_SESSION: dict[str, int] = {}


def quantizer_generation(spark: SparkSession, sf_dir: str) -> int:
    """The current coarse-quantizer GENERATION — the version number the
    refit decision bumps. Every quantizer-derived artifact key folds it
    in (IVF centroids, PQ codebooks, the quantized code table, the
    SemDeDup disposition), so a bump re-keys the whole dependent cascade:
    stale artifacts are never served because their keys never resolve
    again — the same staleness-by-construction the hyperparameter-keyed
    store already guarantees, extended to index lifecycle."""
    import json

    from ..sources import fs
    from ..sources.model_store import model_dir

    g = _GEN_SESSION.get(sf_dir, 0)
    d = model_dir("ivf_generation", (sf_dir,), spark)
    if d is not None:
        try:
            text = fs.read_text(fs.join(d, "gen.json"), spark)
            if text:
                g = max(g, int(json.loads(text)["generation"]))
        except (OSError, ValueError, KeyError):
            pass
    return g


def _bump_quantizer_generation(spark: SparkSession, sf_dir: str) -> int:
    import json

    from ..sources import fs
    from ..sources.model_store import _mark_root, model_dir, store_root

    new = quantizer_generation(spark, sf_dir) + 1
    _GEN_SESSION[sf_dir] = new
    d = model_dir("ivf_generation", (sf_dir,), spark)
    if d is not None:
        try:
            _mark_root(store_root(spark), spark)
            fs.makedirs(d, spark)
            # atomic single-file overwrite (scheme-dispatched: a plain
            # PUT on object stores — sources.fs, round-10 verdict #1)
            fs.put_text_atomic(
                fs.join(d, "gen.json"), json.dumps({"generation": new}), spark
            )
        except OSError:
            pass  # read-only store: the session fallback carries it
    return new


def ivf_refit_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision half of index maintenance: threshold the
    ``ivf_incremental_assign`` drift report into a per-cell DRIFTED flag
    and a global REFIT verdict — the relation an index-maintenance
    scheduler acts on (``apply_refit_decision`` is the actor). A drifted
    cell is one where the arrival batch is at least :data:`REFIT_SHARE`
    of occupancy with at least :data:`REFIT_MIN_ARRIVALS` arrivals — the
    embedding space moved there, and IVF recall / SemDeDup quality decay
    in that cell first. Pure k-row relation, exact-replay oracle (the
    k-means CTE + integer thresholds)."""
    from pyspark.sql.window import Window

    rep = ivf_incremental_assign(spark, sf_dir)
    drifted = (F.col("batch_share") >= F.lit(REFIT_SHARE)) & (
        F.col("n_batch") >= F.lit(REFIT_MIN_ARRIVALS)
    )
    # global verdict over the k-row report: a single-partition window is
    # exactly right at model size (k cells, never data-sized)
    w = Window.partitionBy(F.lit(1))
    return (
        rep.withColumn("drifted", drifted)
        .withColumn(
            "refit",
            F.sum(F.col("drifted").cast("int")).over(w)
            >= F.lit(REFIT_MIN_CELLS),
        )
        .orderBy("cid")
    )


def apply_refit_decision(spark: SparkSession, sf_dir: str) -> dict:
    """Act on :func:`ivf_refit_decision`: when the verdict is REFIT,
    mint the next quantizer generation. No artifact is deleted — the
    generation is part of every dependent key, so the next consumer of
    the centroids / PQ codebooks / code table / SemDeDup disposition
    fits fresh under the new key while the ancestors become dead
    directories (``models prune`` reaps them by age). Returns a summary
    with the verdict, old/new generation, and the re-keyed dependent
    families."""
    head = ivf_refit_decision(spark, sf_dir).select("refit").head()
    refit = bool(head and head["refit"])
    old = quantizer_generation(spark, sf_dir)
    new = old
    dependents = []
    if refit:
        new = _bump_quantizer_generation(spark, sf_dir)
        dependents = [
            "ivf_centroids",
            "pq_codebooks",
            "pq_code_table",
            "semantic_keep",
        ]
    return {
        "refit": refit,
        "old_generation": old,
        "new_generation": new,
        "rekeyed_dependents": dependents,
    }


def cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-IVF-cell CORPUS profile: join the cell assignment back to the
    documents table (vec_id == doc_id, the repo-wide convention) and
    report, per cell, how many docs it holds, how many pass the quality
    filter, the total word mass, and the dominant source — the
    cluster-level curation report behind SemDeDup-style pruning and
    domain-mixture decisions (which clusters are big, low-quality, or
    single-source is exactly what a data-mixture pass reweights).

    One corpus scan for the assignment (centroids ride the closure, the
    fit is the cached deterministic ``kmeans_fit``), one doc_id equi-join
    against the documents scan, one k-row aggregate; dominant source is
    a (cid, source) count topped by a k×|sources| window. All output
    columns are exact ints/strings — no float surface beyond the proven
    cell-assignment replay.
    """
    from pyspark.sql.window import Window

    from ..functions.hashing import norm_words

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    assigned = e.select(
        F.col("vec_id").alias("doc_id"),
        _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid"),
    )
    # keep rule comes from textstats.quality_exprs — the single
    # definition features_table was refactored to share; re-inlining it
    # here would silently desynchronize this report when the canonical
    # rule changes
    from .textstats import quality_exprs

    q = quality_exprs(F.col("text"), norm_words(F.col("text")))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        q["n_words"].alias("n_words"),
        q["keep"].cast("long").alias("keep"),
    )
    j = assigned.join(d, "doc_id")
    prof = j.groupBy("cid").agg(
        F.count("*").alias("n_docs"),
        F.sum("keep").alias("n_quality_keep"),
        F.sum("n_words").alias("total_words"),
    )
    src = j.groupBy("cid", "source").agg(F.count("*").alias("n_src"))
    w = Window.partitionBy("cid").orderBy(F.desc("n_src"), F.asc("source"))
    top = (
        src.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cid", F.col("source").alias("top_source"))
    )
    return (
        prof.join(top, "cid")
        .select("cid", "n_docs", "n_quality_keep", "total_words", "top_source")
        .orderBy("cid")
    )


def lsh_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = DEFAULT_QUERY_VEC, k: int = DEFAULT_TOPK,
    e: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: exact cosine, computed only for vectors sharing
    at least one LSH band with the query.

    At 100 TB the band join replaces the full-corpus scan: candidates are
    an equi-join on (band_idx, band_val) against the (tiny, broadcast)
    query band set, then one exact-cosine pass over the pruned set.
    """
    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sigs = lsh_signatures(spark, sf_dir, e=e)
    q_bands = _band_rows(sigs.where(F.col("vec_id") == query_vec_id)).select(
        "band_idx", "band_val"
    )
    cand = (
        _band_rows(sigs)
        .join(F.broadcast(q_bands), ["band_idx", "band_val"])
        .where(F.col("vec_id") != query_vec_id)
        .select("vec_id")
        .distinct()
    )
    q = _query_vector(e, query_vec_id)
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long format (label, dim,
    centroid, n_vecs) — the vector aggregation behind k-means, class
    prototypes, and IVF coarse quantizers.

    posexplode → groupBy (label, dim) → avg: the shuffle carries partial
    (sum, count) pairs per (label, dim) — 100 TB of vectors reduces to
    |labels|·d rows, all map-side combined, no UDFs. Centroids @6dp.
    """
    e = load_table(spark, sf_dir, "embeddings")
    rows = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"),
    )
    return rows.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid"),
        F.count("*").alias("n_vecs"),
    )


def label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabel detection by centroid margin: for every vector, cosine
    to its OWN label's centroid minus cosine to the nearest OTHER
    label's centroid. A negative margin means another class's prototype
    explains the vector better than its own — the rows a labeling-QA
    pass sends for re-annotation.

    The |labels| x d centroid matrix is a broadcast (tiny by
    construction); scoring is one map pass over the corpus with a
    |labels|-way expansion — no shuffle touches vectors after the
    centroid aggregate (itself |labels|·d partial-combined rows). The
    best-other choice is a max over a struct (cos, -label): ties on
    cosine break to the LOWEST other label, deterministically.
    """
    from ..functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cents = (
        label_centroids(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s.centroid,
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    cos = F.round(
        cosine(F.col("embedding").cast("array<double>"), F.col("cvec")), 6
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "label", "c_label", cos.alias("cos_c")
    )
    own = F.max(
        F.when(F.col("c_label") == F.col("label"), F.col("cos_c"))
    ).alias("own_cos")
    best_other = F.max(
        F.when(
            F.col("c_label") != F.col("label"),
            F.struct(
                F.col("cos_c").alias("c"), (-F.col("c_label")).alias("nl")
            ),
        )
    )
    return (
        scored.groupBy("vec_id", "label")
        .agg(own, best_other.alias("bo"))
        .select(
            "vec_id",
            "label",
            "own_cos",
            (-F.col("bo.nl")).cast("long").alias("best_other_label"),
            F.col("bo.c").alias("best_other_cos"),
            F.round(F.col("own_cos") - F.col("bo.c"), 6).alias("margin"),
        )
    )


KNN_K = 3


def knn_graph(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    max_rows: int | None = EXACT_QUADRATIC_MAX_ROWS,
) -> DataFrame:
    """Exact k-NN graph over the embedding corpus: for every vector its k
    nearest neighbors by cosine (rank included) — the edge list behind
    semantic dedup clustering, label propagation, and diversity sampling.

    Two-level top-k so the all-pairs surface never materializes: vectors
    group into fixed blocks (``_block_rows``); each block row is scored
    with one matmul (``_tile_cosines``, both directions of a cross row
    from the same product) and emits only each member's k best IN THAT
    BLOCK (per-node candidates: k * n/B, not n); the global window then
    keeps the true top-k — a per-block winner set provably contains
    every global winner. Shuffle volume drops from O(n²) scored pairs to
    O(n²k/B). At 100 TB swap the blocks for LSH buckets — implemented as
    ``knn_graph_ann``, with ``knn_ann_recall`` measuring the trade.
    Still quadratic by design: ``max_rows`` refuses inputs past the
    exact-path cap with a pointer to the ANN twin. Null, dimension-
    mismatched and NaN embeddings have no edges (the SQL cosine's NULL
    contract).
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    guard_exact_quadratic(
        e,
        what="similarity.knn_graph",
        twin="similarity.knn_graph_ann",
        max_rows=max_rows,
    )
    cand = _block_rows(e).mapInPandas(
        _topk_tile_kernel(k), "vec_a long, vec_b long, cos_sim double"
    )
    return _rank_top_k(cand, k)


def knn_graph_ann(
    spark: SparkSession, sf_dir: str, k: int = KNN_K
) -> DataFrame:
    """ANN k-NN graph: the candidate-join swap ``knn_graph``'s docstring
    promises — LSH band buckets replace the exact blocks, the per-node
    top-k composition is unchanged.

    Candidates are all ordered pairs sharing at least one signature band
    (both directions — the graph is asymmetric), scored per BUCKET-TILE
    with the same bucket-as-tile rows and kernel as ``lsh_bucket_pairs``
    (``_tiled_bucket_rows`` + ``_tile_cosines``: task size bounded by
    ``BUCKET_TILE_CAP`` however hot a band value gets); each tile block
    emits every member's k best IN THAT BLOCK (a per-block winner set
    provably contains every global winner), a pair scored in several
    bands is deduped by PAIR IDENTITY — ``max(cos_sim)`` per ``(vec_a,
    vec_b)``, the canonical dedup for tiled recomputes — and one window
    keeps each node's global k best. Nodes whose buckets are singletons
    simply have no edges — the recall metric (``knn_ann_recall``)
    prices that in. The pair surface is the sum of squared bucket
    occupancies: tune BAND_BITS/N_BANDS, not the plan.
    """
    bands = _band_rows(lsh_signatures(spark, sf_dir))
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rows = _tiled_bucket_rows(
        bands.join(e, "vec_id"),
        key_cols=["band_idx", "band_val"],
        payload_cols=["vec_id", "embedding"],
    )
    cand = (
        rows.mapInPandas(
            _topk_tile_kernel(k), "vec_a long, vec_b long, cos_sim double"
        )
        .groupBy("vec_a", "vec_b")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return _rank_top_k(cand, k)


def knn_ann_recall(
    spark: SparkSession, sf_dir: str, k: int = KNN_K
) -> DataFrame:
    """Edge recall of the LSH-candidate k-NN graph against the exact
    tiled graph — the metric that says whether the banding parameters
    are good enough to switch a 100 TB graph build off the quadratic
    tiles. One row: n_hits, n_exact, recall (denominator = the exact
    graph's actual edge count)."""
    exact = knn_graph(spark, sf_dir, k=k).select("vec_a", "vec_b")
    ann = knn_graph_ann(spark, sf_dir, k=k).select("vec_a", "vec_b")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    hits = exact.join(ann, ["vec_a", "vec_b"], "left_semi").agg(
        F.count("*").alias("n_hits")
    )
    return hits.crossJoin(F.broadcast(n_exact)).select(
        "n_hits",
        F.col("n_exact").cast("long").alias("n_exact"),
        r6(F.col("n_hits") / F.col("n_exact")).alias("recall"),
    )


def _recall_report(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """The shared recall@k tail every ANN recall query ends with: hits =
    |exact ∩ approx| via a broadcast semi-join of two k-row relations;
    the denominator is the EXACT side's actual row count, not the
    literal k (a corpus with fewer than k non-query vectors, or any
    non-default k, would otherwise silently over/understate recall)."""
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    hits = exact.join(approx, "vec_id", "left_semi").agg(
        F.count("*").alias("n_hits")
    )
    return hits.crossJoin(F.broadcast(n_exact)).select(
        "n_hits",
        F.lit(k).cast("long").alias("k"),
        F.col("n_exact").cast("long").alias("n_exact"),
        r6(F.col("n_hits") / F.col("n_exact")).alias("recall"),
    )


def lsh_recall(
    spark: SparkSession, sf_dir: str, query_vec_id: int = DEFAULT_QUERY_VEC, k: int = DEFAULT_TOPK,
    e: DataFrame | None = None, exact: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the LSH-pruned search against the exact scan — the
    approximation-quality metric an ANN deployment is tuned by (bands/bits
    trade recall for candidate count; this closes the loop by MEASURING
    it). One row: hits, k, recall.

    Composes the two existing operators; both sides are k-row relations,
    so the intersection is a trivial broadcast semi-join — at 100 TB the
    cost is one exact scan + one LSH probe, each already characterized.
    ``e``/``exact`` let ``ann_scorecard`` share one materialized base and
    ONE exact top-k across all its recall branches.
    """
    if exact is None:
        exact = cosine_topk(
            spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e
        ).select("vec_id")
    approx = lsh_topk(spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e).select(
        "vec_id"
    )
    return _recall_report(exact, approx, k)


def ivf_recall(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    nprobe: int = IVF_NPROBE,
    e: DataFrame | None = None,
    exact: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the IVF cluster-probed search against the exact scan —
    closes the quality loop for the one ANN path that had no measured
    metric (``lsh_recall``'s twin; same shape, same denominator rule:
    the exact side's actual row count, never the literal k).

    At 100 TB both sides are already characterized: one exact scan (the
    baseline being priced) + one nprobe-pruned probe; the intersection of
    two k-row relations is a broadcast semi-join, cost ~0.
    """
    if exact is None:
        exact = cosine_topk(
            spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e
        ).select("vec_id")
    approx = ivf_topk(
        spark, sf_dir, query_vec_id=query_vec_id, k=k, nprobe=nprobe, e=e
    ).select("vec_id")
    return _recall_report(exact, approx, k)


#: nprobe values swept by ``ivf_probe_sweep`` (the default IVF_NPROBE=4
#: is the high end; 1 is the cheapest/lossiest probe).
IVF_PROBE_SWEEP = (1, 2, 4)


def ivf_probe_sweep(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    probes: tuple[int, ...] = IVF_PROBE_SWEEP,
) -> DataFrame:
    """The IVF nprobe TUNING LOOP as one pass: recall@k per probed-cell
    count — the report that fixes the production speed/quality point
    (nprobe is the fraction of the corpus each query touches; recall is
    what it buys). ``banding_sweep``'s twin for the ANN path.

    Scale shape: the k-means model is fitted ONCE and the per-vector
    cell assignment materialized ONCE (``localCheckpoint``; at 100 TB
    the persisted IVF index itself); each swept nprobe is a partition-
    pruned filter over that relation plus a k-row top-k — no re-fit, no
    re-assignment. The exact side is computed once and every recall is
    an intersection of two k-row relations (broadcast semi-join, ~0).
    Recall is non-decreasing in nprobe by construction: probing more
    cells only ADDS candidates, and exact-top-k members can never be
    displaced by lower-cosine ones.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    order = _probe_order(e, cents, query_vec_id)

    assigned = e.select(
        "vec_id",
        "embedding",
        _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid"),
    ).localCheckpoint()
    exact = cosine_topk(spark, sf_dir, query_vec_id=query_vec_id, k=k).select(
        "vec_id"
    ).localCheckpoint()
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    q = _query_vector(e, query_vec_id)
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)

    out = None
    for p in probes:
        probe = [int(c) for c in order[:p]]
        approx = (
            assigned.where(F.col("cid").isin(probe))
            .where(F.col("vec_id") != query_vec_id)
            .crossJoin(F.broadcast(q))
            .select("vec_id", cos.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(k)
            .select("vec_id")
        )
        hits = exact.join(approx, "vec_id", "left_semi").agg(
            F.count("*").alias("n_hits")
        )
        row = hits.crossJoin(F.broadcast(n_exact)).select(
            F.lit(p).cast("long").alias("nprobe"),
            "n_hits",
            F.lit(k).cast("long").alias("k"),
            F.col("n_exact").cast("long").alias("n_exact"),
            r6(F.col("n_hits") / F.col("n_exact")).alias("recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


#: PageRank over the exact kNN graph: damping (as an integer percent)
#: and a fixed iteration count — both replayed verbatim by the oracle.
PAGERANK_DAMP_PCT = 85
PAGERANK_ITERS = 10
#: truncate the rank relation's lineage every N rounds — each round adds
#: a join+agg+join layer, and past ~15 un-checkpointed layers Catalyst
#: re-analysis dominates and the driver stack grows unboundedly
PAGERANK_CHECKPOINT_EVERY = 4


def _knn_walk(
    spark: SparkSession, sf_dir: str, iters: int, damp_pct: int, teleport
) -> DataFrame:
    """The random walk over the k-NN similarity graph behind both
    PageRank queries; only the teleport distribution differs between
    them. ``teleport(nodes)`` returns ``(base, start, restart)``: the
    node relation every round's ranks are built over (``nodes`` plus
    any column the two expressions read), the round-0 rank and the
    per-round restart mass, both BIGINT nano-units.

    Pure DataFrame iteration: per round ONE join of the rank vector onto
    the edge list, one groupBy to sum inbound contributions, one left
    join back onto the node set for rank-sinkless nodes. Every node of a
    k-NN graph has out-degree exactly k, so the contribution is rank/k
    with no out-degree join; the new rank is restart + the damped
    inbound sum, ``(d·inbound + 50) div 100``.

    Arithmetic is FIXED-POINT: ranks live as BIGINT nano-units and every
    step is integer division — sums of integers are order-independent, so
    the iteration is bit-exact across partitionings AND engines (the @6dp
    float grid used elsewhere still leaks ~1e-9 boundary flips after 10
    compounding rounds; integers cannot). Truncation bias is ≤1 nano per
    step — invisible at rank scale. The per-round lineage grows linearly,
    so the rank relation is ``localCheckpoint``ed every
    ``PAGERANK_CHECKPOINT_EVERY`` rounds (lazy — materializes with the
    next round's join), bounding plan depth at any iteration count.

    Returns (node, rank_nano BIGINT, rank double = rank_nano/1e9).
    """
    # the edge list feeds every iteration's join — materialize it once or
    # the tile kernel re-runs per round (10x the graph build)
    edges = (
        knn_graph(spark, sf_dir)
        .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
        .localCheckpoint()
    )
    base, start, restart = teleport(
        edges.select(F.col("src").alias("node")).distinct()
    )
    k = KNN_K
    damped = F.expr(
        f"({damp_pct} * coalesce(inbound, CAST(0 AS BIGINT)) + 50) div 100"
    )
    ranks = base.select("node", start.alias("rank_nano"))
    for i in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.expr(f"rank_nano div {k}")).alias("inbound"))
        )
        ranks = base.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        ).select("node", (restart + damped).alias("rank_nano"))
        if (i + 1) % PAGERANK_CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(
        "node",
        "rank_nano",
        (F.col("rank_nano") / 1_000_000_000).alias("rank"),
    )


def pagerank(
    spark: SparkSession,
    sf_dir: str,
    iters: int = PAGERANK_ITERS,
    damp_pct: int = PAGERANK_DAMP_PCT,
) -> DataFrame:
    """PageRank over the k-NN similarity graph — the centrality pass that
    finds hub documents in a semantic neighborhood graph (retrieval-free
    importance ranking, diversity sampling seeds, dedup keeper choice).

    ``_knn_walk`` with a uniform start (1/n) and a uniform restart
    ((1-d)/n), n the node count, carried as a broadcast 1-row column.
    Returns (node, rank_nano BIGINT, rank double = rank_nano/1e9);
    Σ rank ≈ 1 (damped, minus truncation dust).
    """
    base_nano = (100 - damp_pct) * 10_000_000  # (1-d) * 1e9

    def uniform(nodes):
        n_nodes = nodes.agg(F.count("*").alias("n"))
        return (
            nodes.crossJoin(F.broadcast(n_nodes)),
            F.expr("CAST(1000000000 AS BIGINT) div n"),
            F.expr(f"CAST({base_nano} AS BIGINT) div n"),
        )

    return _knn_walk(spark, sf_dir, iters, damp_pct, uniform)


def personalized_pagerank(
    spark: SparkSession,
    sf_dir: str,
    seed_vec_id: int = DEFAULT_QUERY_VEC,
    iters: int = PAGERANK_ITERS,
    damp_pct: int = PAGERANK_DAMP_PCT,
) -> DataFrame:
    """Random walk with restart from ONE seed node over the k-NN graph —
    graph-walk similarity ("related items"): unlike cosine top-k it
    rewards multi-hop connectivity, surfacing items similar to the
    seed's whole NEIGHBORHOOD rather than to its raw vector.

    ``_knn_walk`` (bit-exact across engines and partitionings) with all
    start and restart mass on the seed instead of spread uniformly.
    Returns (node, rank_nano, rank); the seed holds the lion's share and
    mass decays with hop distance.
    """
    base_nano = (100 - damp_pct) * 10_000_000  # (1-d) * 1e9, all to the seed
    is_seed = F.col("node") == seed_vec_id

    def on_seed(nodes):
        return (
            nodes,
            F.when(is_seed, F.lit(1_000_000_000)).otherwise(F.lit(0)).cast("long"),
            F.when(is_seed, F.lit(base_nano)).otherwise(F.lit(0)).cast("long"),
        )

    return _knn_walk(spark, sf_dir, iters, damp_pct, on_seed)


#: Product quantization: M subspaces of SUBDIM dims each (M*SUBDIM = the
#: embedding dim), K codewords per subspace, ITERS k-means rounds. 8
#: codewords x 4 subspaces compresses a 64-dim float64 vector to 4 x 3
#: bits of code — the memory-bound ANN regime (IVF probes cells, LSH
#: hashes planes, PQ compresses the vectors themselves).
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8
PQ_ITERS = 3


def _pq_codebooks(e: DataFrame, cache_key: str | None = None) -> list:
    """Per-subspace codebooks: the SAME deterministic @6dp k-means as IVF
    (``kmeans_fit`` with ``n_sub=PQ_M``, one codebook per 16-dim slice,
    all fit in one corpus pass per round) — so a SQL oracle replays
    every codebook exactly (unrolled CTEs, one set per subspace). Cached
    like ``ivf_centroids``: the plan confs in the version keep the
    partition-invariance suite honest (each config refits; only true
    re-runs share), while a bench session's four PQ queries fit once."""
    import numpy as np

    import pandas as pd

    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import memo_fit

    spark = e.sparkSession

    def _fit_pdf():
        books = kmeans_fit(e, k=PQ_K, iters=PQ_ITERS, n_sub=PQ_M)
        rows = []
        for m, book in enumerate(books):
            rows.extend(
                (m, c, d, v)
                for c, cw in enumerate(book)
                for d, v in enumerate(cw)
            )
        return pd.DataFrame(rows, columns=["m", "code", "dim", "value"])

    def _decode(pdf) -> list:
        pdf = pdf.sort_values(["m", "code", "dim"])
        return [
            np.asarray(
                pdf[pdf["m"] == m]["value"], dtype="float64"
            ).reshape(PQ_K, PQ_SUBDIM)
            for m in range(PQ_M)
        ]

    if cache_key is None:
        return _decode(_fit_pdf())
    version = (
        table_fingerprint(cache_key, "embeddings"),
        PQ_M,
        PQ_SUBDIM,
        PQ_K,
        PQ_ITERS,
        *plan_confs(spark),
        quantizer_generation(spark, cache_key),
    )
    # durable L2: a fresh process loads the M x K x subdim codeword
    # table (@6dp doubles — parquet round-trip is bit-exact)
    return memo_fit(spark, cache_key, "pq_codebooks", version, _fit_pdf, _decode)


def pq_code_table(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """The quantized ANN index AS A PERSISTED ARTIFACT: one row per
    vector — (vec_id, cid, code_0..code_{M-1}, norm) — encoded once per
    embeddings fingerprint with the same numpy kernels the fits use
    (coarse cid via ``_assign_cids`` against the IVF centroids, one
    3-bit code per PQ subspace, the true L2 norm), written under the
    model store, and READ by every ADC query. This is the FAISS-IVFADC
    storage layout made literal: at 100 TB the serving scan reads
    M bytes of codes + one norm per vector, and the raw embeddings are
    touched only by a rerank stage. Keyed on both quantizers' shapes
    (a hyperparameter edit re-encodes). Store disabled → the store's
    ``localCheckpoint`` fallback holds the encode, same relation."""
    import numpy as np
    import pandas as pd

    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import load_or_compute_table

    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # the coarse and product quantizer fits are independent (different
    # store families, different state) — overlap them on day zero
    # (guide §2.6); each is the same deterministic fit either way
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fc = _pool.submit(ivf_centroids, e, sf_dir)
        _fb = _pool.submit(_pq_codebooks, e, sf_dir)
        cents, books = _fc.result(), _fb.result()
    cmat = np.asarray(cents, dtype="float64")
    cn2 = (cmat**2).sum(axis=1)
    key = (
        "pq_code_table",
        sf_dir,
        table_fingerprint(sf_dir, "embeddings"),
        IVF_K,
        IVF_ITERS,
        PQ_M,
        PQ_SUBDIM,
        PQ_K,
        PQ_ITERS,
        # content is AQE-invariant, but every sibling durable key carries
        # this conf — uniform key discipline beats a per-key exception
        # (round-9 ADVICE)
        *plan_confs(spark),
        quantizer_generation(spark, sf_dir),
    )
    out_schema = (
        "vec_id long, cid long, "
        + ", ".join(f"code_{m} long" for m in range(PQ_M))
        + ", norm double"
    )

    def compute() -> DataFrame:
        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
                row = {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": _assign_cids(x, cmat, cn2).astype("int64"),
                }
                for m in range(PQ_M):
                    xs = x[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                    bm = books[m]
                    row[f"code_{m}"] = _assign_cids(
                        xs, bm, (bm**2).sum(axis=1)
                    ).astype("int64")
                row["norm"] = np.linalg.norm(x, axis=1)
                yield pd.DataFrame(row)

        return e.mapInPandas(kernel, out_schema)

    return load_or_compute_table("pq_code_table", key, spark, compute)[0]


def _adc_score(dtabs, qn: float):
    """JVM-side ADC cosine over the codes table: Σ_m dtab_m[code_m]
    normalized by the stored true norm x the query norm, on the repo's
    @6dp grid. The dtab literals fold into codegen; the left-to-right
    ``+`` chain reproduces the numpy kernel's accumulation order, so the
    scores are bit-identical to the Arrow kernel this replaced — no
    Python runs in the serving path at all."""
    adc = None
    for m, tab in enumerate(dtabs):
        dt = F.array(*[F.lit(float(v)) for v in tab])
        term = F.element_at(dt, (F.col(f"code_{m}") + 1).cast("int"))
        adc = term if adc is None else adc + term
    return r6(adc / (F.col("norm") * F.lit(float(qn))))


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    e: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ADC top-k: every vector is encoded as M
    per-subspace codeword ids; the query's dot product against a vector
    is approximated by table lookups — Σ_m dot(q_m, codeword[m][code_m])
    — and normalized by the TRUE stored norms to approximate cosine
    (the norms are one scalar per vector; PQ compresses the d-dim dot,
    not the bookkeeping).

    The completion of the ANN trio: ``lsh_topk`` hashes hyperplanes,
    ``ivf_topk`` probes k-means cells, ``pq_topk`` compresses the
    vectors themselves — at 100 TB the codes table is M bytes/vector
    (here 4 x 3 bits), so the scan that ranks a billion vectors reads
    codes + norms, never the embeddings. The kernel is one Arrow map
    pass: per-batch argmin against each K x SUBDIM codebook (same
    @6dp-rounded assignment key as IVF, ties to lowest code) + a table
    lookup; the dot table entries round @6dp BEFORE the Σ_m so both
    engines sum identical grid values in any order.

    Exact-replay oracle: per-subspace k-means CTEs + the same rounded
    assignment and lookup in SQL.
    """
    import numpy as np

    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = _pq_codebooks(e, cache_key=sf_dir)
    qrow = e.where(F.col("vec_id") == query_vec_id).head()
    if qrow is None:
        raise ValueError(f"unknown query_vec_id {query_vec_id}")
    q = np.array(qrow.embedding, dtype="float64")
    qn = np.linalg.norm(q)
    dtabs = [
        _round6(books[m] @ q[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM])
        for m in range(PQ_M)
    ]
    # serving is a JVM-codegen scan of the PERSISTED codes table — the
    # per-query Arrow re-encode of every vector this replaced is now
    # paid once at index build (pq_code_table); scores bit-identical
    codes = pq_code_table(spark, sf_dir, e=e)
    return (
        codes.where(F.col("vec_id") != query_vec_id)
        .select("vec_id", _adc_score(dtabs, qn).alias("adc_cos"))
        .orderBy(F.desc("adc_cos"), F.asc("vec_id"))
        .limit(k)
    )


def pq_recall(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    e: DataFrame | None = None,
    exact: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of PQ-ADC ranking against the exact cosine scan — the
    measured-quality twin every ANN path in this engine ships with
    (``ivf_recall``/``lsh_recall`` shape, exact-side row count as the
    denominator).

    Expect LOW recall on the synthetic fixtures and read it as the
    honest number it is: the embeddings are near-uniform random, so the
    top-10 cosine margins (max cos ≈ 0.41 over 2000 vectors) sit BELOW
    the quantization noise of 3-bit-per-subspace codes — measured
    MSE/dim barely moves from K=8 to K=32 (0.0132 → 0.0109) while
    recall@10 stays 0.0-0.3. On clustered real-world embeddings the
    codebooks capture the cluster structure and recall climbs steeply;
    this metric exists precisely so that call is made from data, and at
    100 TB the standard fix is PQ-then-rerank: ADC shortlists ~10k
    candidates, exact cosine re-ranks the shortlist."""
    if exact is None:
        exact = cosine_topk(
            spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e
        ).select("vec_id")
    approx = pq_topk(spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e).select(
        "vec_id"
    )
    return _recall_report(exact, approx, k)


#: ADC shortlist size for the rerank stage (shortlist/k = 5 here; at
#: 100 TB think 10k-100k shortlist for a billion-vector corpus).
PQ_SHORTLIST = 50


def pq_rerank_report(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """PQ-then-rerank — the pattern that makes PQ production-grade — and
    the 1-row report that prices it: ADC shortlists ``shortlist``
    candidates from codes alone (codes + norms scan, embeddings
    untouched), exact cosine re-ranks ONLY the shortlist, and both the
    ADC-only top-k and the reranked top-k are scored against the exact
    scan. The recall_rerank − recall_adc gap is what the rerank stage
    buys; its cost is ``shortlist`` full-vector reads instead of n.

    One codebook fit and one ADC pass feed everything; the rerank join
    touches ``shortlist`` rows (broadcast), the three top-k relations
    are k-row semi-joins — cost ~0 beyond the base ADC scan.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    short = pq_topk(
        spark, sf_dir, query_vec_id=query_vec_id, k=shortlist
    ).localCheckpoint(eager=False)
    adc_top = (
        short.orderBy(F.desc("adc_cos"), F.asc("vec_id")).limit(k).select("vec_id")
    )
    q = _query_vector(e, query_vec_id)
    rerank_top = (
        F.broadcast(short.select("vec_id"))
        .join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )
    exact = cosine_topk(spark, sf_dir, query_vec_id=query_vec_id, k=k).select(
        "vec_id"
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    hits_adc = exact.join(adc_top, "vec_id", "left_semi").agg(
        F.count("*").alias("n_hits_adc")
    )
    hits_rer = exact.join(rerank_top, "vec_id", "left_semi").agg(
        F.count("*").alias("n_hits_rerank")
    )

    return (
        hits_adc.crossJoin(F.broadcast(hits_rer))
        .crossJoin(F.broadcast(n_exact))
        .select(
            F.lit(k).cast("long").alias("k"),
            F.lit(shortlist).cast("long").alias("shortlist"),
            F.col("n_exact").cast("long").alias("n_exact"),
            "n_hits_adc",
            "n_hits_rerank",
            r6(F.col("n_hits_adc") / F.col("n_exact")).alias("recall_adc"),
            r6(F.col("n_hits_rerank") / F.col("n_exact")).alias("recall_rerank"),
        )
    )


def triangle_report(
    spark: SparkSession, sf_dir: str, k: int = KNN_K
) -> DataFrame:
    """Degree-oriented triangle count + global clustering coefficient
    over the ANN k-NN graph — the semantic-neighborhood cohesion report
    (a corpus whose kNN graph closes many triangles has tight topic
    clusters; one that doesn't is diffuse — the number that decides
    whether cluster-then-dedup is worth a pass).

    The scale story is the ORIENTATION: every undirected edge points
    from its lower-(degree, id) endpoint to the higher, so each
    triangle is counted exactly once (at its minimum-key apex) and —
    the classic result — every node's oriented out-degree is O(sqrt(m))
    on any graph: hubs RECEIVE edges, never expand them, so the wedge
    self-join's per-key fanout is bounded no matter how skewed the
    degree distribution. A raw neighbor self-join would square the
    hottest node instead. Orientation keys pack (deg, node) as
    deg·2³² + node — exact in int64 up to 2³¹ nodes; widen to a struct
    comparison past that.

    wedges = Σ deg·(deg−1)/2 (undirected); coefficient = 3·triangles /
    wedges, rounded @6dp. Integer-exact otherwise.
    """
    g = knn_graph_ann(spark, sf_dir, k=k).select("vec_a", "vec_b")
    und = g.select(
        F.least("vec_a", "vec_b").alias("u"),
        F.greatest("vec_a", "vec_b").alias("v"),
    ).distinct()
    nodes = und.select(F.col("u").alias("node")).union(
        und.select(F.col("v").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("deg"))
    key = deg.select(
        "node", (F.col("deg") * F.lit(1 << 32) + F.col("node")).alias("okey")
    )
    e = (
        und.join(key.select(F.col("node").alias("u"), F.col("okey").alias("ku")), "u")
        .join(key.select(F.col("node").alias("v"), F.col("okey").alias("kv")), "v")
    )
    fwd = F.col("ku") < F.col("kv")
    oriented = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd, F.col("kv")).otherwise(F.col("ku")).alias("kd"),
    )
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"), F.col("kd").alias("kb"))
    e2 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"), F.col("kd").alias("kc"))
    wedges_rel = e1.join(e2, "a").where(F.col("kb") < F.col("kc"))
    closing = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    n_tri = wedges_rel.join(closing, ["b", "c"], "left_semi").agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    n_nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    n_edges = und.agg(F.count("*").cast("long").alias("n_edges"))
    # integer-exact: sum deg*(deg-1) as bigint, then integer-divide by 2
    # (the sum is always even). Double true-division matches the DuckDB
    # //2 oracle only below 2^53 — a real parity risk at graph scale.
    n_wedges = deg.agg(
        F.expr("sum(cast(deg * (deg - 1) as bigint)) div 2").alias("n_wedges")
    )
    return (
        n_tri.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(n_wedges))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            r6(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias("clustering_coeff"),
        )
    )


def ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    nprobe: int = IVF_NPROBE,
    e: DataFrame | None = None,
) -> DataFrame:
    """IVF + PQ composed — the billion-scale index architecture (FAISS's
    IVFADC shape): the coarse k-means quantizer prunes the corpus to
    ``nprobe`` cells, and WITHIN the probed cells candidates rank by
    PQ-ADC table lookups instead of full-vector cosine. At 100 TB the
    probed scan reads cid + codes + norms — the embeddings themselves
    are touched only by a final rerank stage (``pq_rerank_report``'s
    pattern) if one is configured.

    This variant quantizes raw vectors, not cell residuals; residual
    encoding (codebooks fit on x − centroid[cid]) is the classical
    refinement and drops in here without changing the plan shape — only
    the codebook fit's input changes.

    Both quantizers are the deterministic @6dp k-means, so the oracle
    replays the coarse centroids AND all four codebooks exactly.
    """
    import numpy as np

    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    probe = [int(c) for c in _probe_order(e, cents, query_vec_id)[:nprobe]]
    books = _pq_codebooks(e, cache_key=sf_dir)
    qrow = e.where(F.col("vec_id") == query_vec_id).head()
    if qrow is None:
        raise ValueError(f"unknown query_vec_id {query_vec_id}")
    q = np.array(qrow.embedding, dtype="float64")
    qn = np.linalg.norm(q)
    dtabs = [
        _round6(books[m] @ q[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM])
        for m in range(PQ_M)
    ]
    # the probed scan is a cid IN-list filter + JVM ADC over the
    # persisted codes table — at 100 TB the table is partitioned by cid
    # and probing is partition pruning; the embeddings never load
    codes = pq_code_table(spark, sf_dir, e=e)
    return (
        codes.where(F.col("cid").isin(probe))
        .where(F.col("vec_id") != query_vec_id)
        .select("vec_id", "cid", _adc_score(dtabs, qn).alias("adc_cos"))
        .orderBy(F.desc("adc_cos"), F.asc("vec_id"))
        .limit(k)
    )


#: Radius for the range (radius) search — low enough that the
#: near-uniform random fixture returns a non-trivial neighborhood.
RANGE_SEARCH_MIN_COS = 0.25


def range_search(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    min_cos: float = RANGE_SEARCH_MIN_COS,
) -> DataFrame:
    """Radius (range) query: ALL vectors with cosine >= ``min_cos`` to
    the query — the retrieval primitive under dedup-at-ingest ("does
    anything this similar already exist?") and near-dup lookup, where
    top-k's fixed k either truncates a dense neighborhood or pads a
    sparse one.

    Unlike the all-PAIRS operators, a single-query range search is
    LINEAR: one corpus scan with the 1-row query broadcast, JVM cosine,
    codegen filter — no shuffle, no heap. At 100 TB the same filter runs
    after LSH-band or IVF-cell partition pruning cuts the scan (the
    ``lsh_topk`` / ``ivf_topk`` machinery, unchanged); the exact scan
    here is the recall-1.0 baseline those would be measured against.
    Same @6dp rounding + vec_id ordering conventions as ``cosine_topk``.
    """
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vector(e, query_vec_id)
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select("vec_id", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= min_cos)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


def range_search_lsh(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    min_cos: float = RANGE_SEARCH_MIN_COS,
) -> DataFrame:
    """``range_search``'s scale twin: the radius filter runs only over
    vectors sharing >= 1 LSH band with the query (the ``lsh_topk``
    candidate join), so the 100 TB corpus scan becomes an equi-join
    against the query's 6 band keys + an exact-cosine pass over the
    pruned set. Same output shape and rounding as the exact operator —
    the difference between the two result sets IS the measured recall
    cost of the pruning, per the engine's exact-baseline convention.
    """
    sigs = lsh_signatures(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_bands = _band_rows(sigs.where(F.col("vec_id") == query_vec_id)).select(
        "band_idx", "band_val"
    )
    cand = (
        _band_rows(sigs)
        .join(F.broadcast(q_bands), ["band_idx", "band_val"])
        .where(F.col("vec_id") != query_vec_id)
        .select("vec_id")
        .distinct()
    )
    q = _query_vector(e, query_vec_id)
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    return (
        cand.join(e, "vec_id")
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= min_cos)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


# ---------------------------------------------------------------------------
# Quality-weighted maximum-inner-product search (MIPS) with norm-bound prune
# ---------------------------------------------------------------------------

#: Probe size for the first MIPS pass (top docs by upper bound).
MIPS_PROBE_N = 64
#: Candidate slack: covers the 6dp output rounding (5e-7 half-grid) plus
#: both engines' fold-order noise, so the pruned result PROVABLY equals
#: the brute-force top-k on the rounded grid (see mips_topk docstring).
MIPS_MARGIN = 3e-6


def _mips_corpus(spark: SparkSession, sf_dir: str, query_vec_id: int):
    """Shared MIPS relations: the weighted corpus (vec_id, embedding, w,
    nrm) and the 1-row query (q_emb, q_norm).

    The weight join (documents x embeddings on the shared id) is 1:1 on
    the join key — at 100 TB both tables bucket by doc id, so it is a
    co-located join, not a shuffle; here it is one n-row hash join. The
    weight itself is ``textstats.quality_weight`` — an exact rational, so
    the score w·(x·q) stays engine-portable under the standard rounding.
    """
    from ..functions.hashing import norm_words
    from .textstats import quality_weight

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        quality_weight(norm_words(F.col("text"))).alias("w"),
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    from ..functions.vectors import norm

    q = e.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb"), norm(F.col("embedding")).alias("q_norm")
    )
    corpus = (
        e.where(F.col("vec_id") != query_vec_id)
        .join(d, "vec_id")
        .select("vec_id", "embedding", "w", norm(F.col("embedding")).alias("nrm"))
    )
    return corpus, q


def _mips_candidates(corpus: DataFrame, q: DataFrame, k: int):
    """Corpus annotated with the Cauchy–Schwarz upper bound ``ub =
    (w·nrm)·q_norm`` plus the broadcast probe threshold: the k-th best
    EXACT score among the ``MIPS_PROBE_N`` docs with the largest bound.

    Every vector whose true score could reach the final rounded top-k has
    ``ub >= score > thr - margin`` (thr is a subset k-th best, hence <=
    the global k-th best), so filtering on the bound loses nothing —
    the expensive d-wide dot runs only on probe + survivors. At 100 TB
    (w, nrm) is a 16-byte-per-doc index column pair: the prune decides
    from the index alone and fetches embeddings for survivors only.
    """
    base = corpus.crossJoin(F.broadcast(q)).withColumn(
        "ub", (F.col("w") * F.col("nrm")) * F.col("q_norm")
    )
    probe = base.orderBy(F.desc("ub"), F.asc("vec_id")).limit(MIPS_PROBE_N)
    thr = (
        probe.select((F.col("w") * dot(F.col("embedding"), F.col("q_emb"))).alias("score"))
        .orderBy(F.desc("score"))
        .limit(k)
        .agg(F.min("score").alias("thr"))
    )
    with_thr = base.crossJoin(F.broadcast(thr))
    keep = F.round(F.col("ub"), 6) >= F.round(F.col("thr"), 6) - F.lit(MIPS_MARGIN)
    return with_thr, keep


def mips_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = DEFAULT_QUERY_VEC, k: int = DEFAULT_TOPK
) -> DataFrame:
    """Exact top-k by quality-weighted inner product ``w_d · (x_d · q)`` —
    retrieval that trades off relevance against document quality, the
    ranking a curation pipeline uses to pick training exemplars.

    MIPS has no query-side normalization, so high-quality (large-w) docs
    legitimately outrank slightly-closer junk. Exactness argument: the
    probe threshold is a k-th best over a subset, hence a LOWER bound on
    the global k-th score; any row in the global rounded top-k has score
    within one 6dp grid step of it, and ``ub >= score``, so the
    bound-filter with ``MIPS_MARGIN`` slack keeps every possible member.
    The oracle is therefore plain brute force — no recall caveat.
    """
    corpus, q = _mips_corpus(spark, sf_dir, query_vec_id)
    with_thr, keep = _mips_candidates(corpus, q, k)
    return (
        with_thr.where(keep)
        .select(
            "vec_id",
            F.round(F.col("w") * dot(F.col("embedding"), F.col("q_emb")), 6).alias(
                "mips_score"
            ),
            F.round("w", 6).alias("weight"),
        )
        .orderBy(F.desc("mips_score"), F.asc("vec_id"))
        .limit(k)
    )


def mips_prune_stats(
    spark: SparkSession, sf_dir: str, query_vec_id: int = DEFAULT_QUERY_VEC, k: int = DEFAULT_TOPK
) -> DataFrame:
    """One-row monitoring report for the MIPS prune (the
    ``dedup_bucket_stats`` analogue): corpus size, surviving candidate
    count, the probe threshold, and the pruned fraction — the number
    that says how much of the 100 TB scan the weight/norm index saved.

    On the synthetic fixture this report shows prune ~ 0, and that is the
    CORRECT reading, not a failure: isotropic random embeddings put every
    cosine near 0, so the best score (~w·0.15) sits far below almost every
    doc's bound (w·1) and the Cauchy–Schwarz filter can exclude only the
    lowest-weight tail. On a real corpus — embeddings clustered, the top
    hits at cos 0.8+ — the same report shows the bound excluding most of
    the scan. That data-dependence is exactly why the report exists: run
    it BEFORE committing to the pruned plan (the planted-cluster pytest
    pins the >90%-pruned regime)."""
    corpus, q = _mips_corpus(spark, sf_dir, query_vec_id)
    with_thr, keep = _mips_candidates(corpus, q, k)
    return with_thr.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_candidates"),
        F.round(F.first("thr"), 6).alias("threshold"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(keep, 1).otherwise(0)) / F.count("*"),
            6,
        ).alias("pruned_frac"),
    )


def _cov_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance (dim_i, dim_j, n_vecs, c) with
    UNROUNDED but cross-engine-exact entries: every aggregate runs
    through DECIMAL(38,18), so the doubles that come out are bit-equal
    in Spark and DuckDB whatever the partitioning or visit order.
    Checkpointed — one shuffle, many consumers (the corr presentation
    reads it 3x, the power iteration every round).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    # the d(d+1)/2-per-row expansion is the expensive stage; a one-file
    # fixture scan would run it in ONE task. Spread only when the scan
    # has fewer splits than cores — at real scale the file splits already
    # provide parallelism and the repartition is a no-op branch.
    par = spark.sparkContext.defaultParallelism
    if e.rdd.getNumPartitions() < par:
        e = e.repartition(par)
    idx = F.sequence(F.lit(1), F.lit(EMBED_DIM))
    pairs = e.select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.sequence(i, F.lit(EMBED_DIM)),
                        lambda j: F.struct(
                            (i - 1).cast("int").alias("dim_i"),
                            (j - 1).cast("int").alias("dim_j"),
                            (
                                F.element_at("v", i) * F.element_at("v", j)
                            ).alias("xy"),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.dim_i", "p.dim_j", "p.xy")
    # DECIMAL(38,18) sums: order-independent AND unambiguous (a double is
    # a dyadic rational, which can never sit exactly on a .5 at 18dp), so
    # both engines produce bit-identical aggregates — plain double avg()
    # left (dim 9, dim 12)'s corr 1.3e-11 either side of a 6dp boundary.
    agg = pairs.groupBy("dim_i", "dim_j").agg(
        F.count("*").cast("long").alias("n_vecs"),
        (
            F.sum(F.col("xy").cast("decimal(38,18)")).cast("double")
            / F.count("*")
        ).alias("axy"),
    )
    means = (
        e.select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
    )
    n = F.col("n_vecs")
    cov_expr = (
        (F.col("axy") - F.col("mi") * F.col("mj")) * (n / (n - F.lit(1.0)))
    )
    # three consumers (result + two diagonal attaches) would re-run the
    # d^2-pair explode+shuffle; barrier the 2080-row matrix once
    cov = (
        agg.join(
            F.broadcast(means.select(F.col("d").alias("dim_i"), F.col("m").alias("mi"))),
            "dim_i",
        )
        .join(
            F.broadcast(means.select(F.col("d").alias("dim_j"), F.col("m").alias("mj"))),
            "dim_j",
        )
        .select("dim_i", "dim_j", "n_vecs", cov_expr.alias("c"))
        .localCheckpoint()
    )
    return cov


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d x d sample covariance + correlation of the embedding space
    (upper triangle, long format) — the input PCA whitening / OPQ
    rotation reads before rotating codebook space, and the first
    diagnostic for collapsed or redundant embedding dimensions.

    One corpus scan explodes each vector's d(d+1)/2 upper-triangle
    products via nested JVM ``transform`` (no UDFs); ONE shuffle keyed
    on (dim_i, dim_j) with map-side partial aggregation reduces 100 TB
    of vectors to d^2/2 rows — the matrix size is model-sized, corpus
    size only changes the scan (``_cov_upper``). Diagonal variances
    attach back as broadcasts; cov/corr use the exact same expression
    order as the DuckDB replay, rounded @6dp over bit-identical inputs.
    """
    cov = _cov_upper(spark, sf_dir)
    diag = cov.where(F.col("dim_i") == F.col("dim_j")).select(
        F.col("dim_i").alias("dd"), F.col("c").alias("var")
    )
    return (
        cov.join(
            F.broadcast(diag.select(F.col("dd").alias("dim_i"), F.col("var").alias("vi"))),
            "dim_i",
        )
        .join(
            F.broadcast(diag.select(F.col("dd").alias("dim_j"), F.col("var").alias("vj"))),
            "dim_j",
        )
        .select(
            "dim_i",
            "dim_j",
            "n_vecs",
            F.round("c", 6).alias("cov"),
            F.round(
                F.col("c") / F.sqrt(F.col("vi") * F.col("vj")), 6
            ).alias("corr"),
        )
        .orderBy("dim_i", "dim_j")
    )


PCA_POWER_ITERS = 12


def pca_power(
    spark: SparkSession, sf_dir: str, iters: int = PCA_POWER_ITERS
) -> DataFrame:
    """Top principal component of the embedding space by POWER ITERATION
    over the distributed covariance matrix: per-dim loading, the Rayleigh
    eigenvalue, and the explained-variance ratio — what an OPQ rotation /
    whitening / dimensionality-budget decision reads first.

    The iteration runs on MODEL-SIZED state: the d x d matrix from
    ``_cov_upper`` (one corpus scan + one shuffle — the only
    distributed work) collects to the driver (2080 upper-triangle rows
    at d=64) and the 12 rounds run there, each a matvec plus a norm —
    work independent of corpus size. Every sum (matvec, norm, Rayleigh,
    trace) goes through the exact-decimal replica of the engine's
    DECIMAL(38,18) summation (``_dsum_exact``), keeping the trajectory
    deterministic and matching the unrolled DuckDB replay — no @6dp
    grid snapping between rounds needed. Start vector is the exact
    dyadic uniform 1/8 (d=64); the eigenvector's global sign follows
    from it deterministically on both engines.
    """

    v1, lam1, trace = _pca_components(spark, sf_dir, iters)[:3]
    rows = [
        (d, round(x, 6), round(lam1, 6), round(lam1 / trace, 6))
        for d, x in enumerate(v1)
    ]
    return spark.createDataFrame(
        rows,
        schema="dim int, loading double, eigenvalue double, "
        "explained_var_ratio double",
    )


def _dsum_exact(values) -> float:
    """Driver-side replica of the engine's decimal summation idiom
    (``sum(cast(x as decimal(38,18))) :: double``): each double's
    shortest decimal representation is quantized to 18 fractional
    digits HALF_UP (exactly Spark's double→DecimalType(38,18) cast,
    which goes through ``Double.toString``), the quantized terms sum
    EXACTLY (order-independent), and the total rounds once back to
    double. Python ``repr`` and Java ``Double.toString`` both emit the
    shortest round-tripping decimal, so the per-term quantization
    agrees to the full 18 digits; any residual printing-width
    divergence is ≤1e-18 per term — invisible at the @6dp boundary
    every consumer rounds to.

    Assumption pinned by test (round-12 ADVICE): ``Double.toString``
    is only GUARANTEED shortest from JDK 19 (JDK-4511638); earlier
    JVMs can print a different (non-shortest) decimal for some
    doubles, which would shift a term's @1e-18 quantization. The
    deployment JVM (JDK 17 here) is checked empirically against the
    engine's decimal sum on adversarial doubles — subnormals,
    17-significant-digit values, grid-boundary 5e-19, cancellation at
    the DECIMAL(38,18) ceiling — by
    ``test_dsum_exact_matches_engine_decimal_sum_on_adversarial_doubles``;
    a JVM whose printer diverges fails that test, not a query hash.
    Domain note: |x| >= 1e20 overflows DECIMAL(38,18) and raises under
    ANSI in the engine itself, so such terms are outside the replica's
    contract too."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    q = Decimal("1E-18")
    with localcontext() as ctx:
        ctx.prec = 60
        total = Decimal(0)
        for x in values:
            total += Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)
        return float(total)


def _power_iterate(mat: list, iters: int) -> list:
    """The iteration loop shared by both components, run on the DRIVER
    over the collected d x d matrix (model-sized: d=64 → 4096 doubles —
    the same class of model state as the k-means centroids). Each
    round is a matvec + norm with every sum through ``_dsum_exact``,
    reproducing the distributed DECIMAL(38,18) trajectory the former
    12-round join-aggregate loop computed — without its ~40 tiny
    scheduled jobs (guide §1.2: the cheapest shuffle is the one that
    never runs; the matrix is fixed, so iterating where it already
    lives moves zero bytes). Returns the unit vector as a list."""
    import math

    d = len(mat)
    v = [0.125] * d
    for _ in range(iters):
        w = [
            _dsum_exact(mat[i][j] * v[j] for j in range(d)) for i in range(d)
        ]
        nm = math.sqrt(_dsum_exact(x * x for x in w))
        v = [x / nm for x in w]
    return v


def _rayleigh(mat: list, v: list) -> float:
    d = len(mat)
    w = [_dsum_exact(mat[i][j] * v[j] for j in range(d)) for i in range(d)]
    return _dsum_exact(v[i] * w[i] for i in range(d))


def _pca_full_matrix(spark: SparkSession, sf_dir: str) -> list:
    """The d x d covariance as a dense driver-side matrix: ONE
    distributed pass (``_cov_upper`` — corpus scan + one shuffle),
    then the upper triangle collects (2080 rows at d=64) and mirrors.
    Same doubles the former symmetric-union DataFrame carried, without
    its union + localCheckpoint jobs."""
    rows = (
        _cov_upper(spark, sf_dir).select("dim_i", "dim_j", "c").collect()
    )
    mat = [[0.0] * EMBED_DIM for _ in range(EMBED_DIM)]
    for r in rows:
        mat[r["dim_i"]][r["dim_j"]] = r["c"]
        mat[r["dim_j"]][r["dim_i"]] = r["c"]
    return mat


def _pca_components(
    spark: SparkSession, sf_dir: str, iters: int, second: bool = False
) -> tuple:
    """(v1, lam1, trace[, v2, lam2]): top principal component(s) by
    power iteration; the second (computed only on demand and then
    cached) via Hotelling deflation C2 = C - lam1 v1 v1^T — every C2
    entry an identical double on both engines, so the second chain is
    as bit-exact as the first. The driver sees only this model state.

    The memo entry is a one-slot cell holding the fullest tuple fitted
    so far, so sim_pca_power and sim_pca_project share ONE distributed
    fit per process: a ``second`` call upgrades a 3-tuple in place,
    reusing its first component.
    """
    import pandas as pd

    from ..sources.io import memo, plan_confs, table_fingerprint
    from ..sources.model_store import load_or_fit_pdf

    key = (
        sf_dir,
        int(iters),
        table_fingerprint(sf_dir, "embeddings"),
        *plan_confs(spark),
    )

    def _fit(prior) -> tuple:
        full = _pca_full_matrix(spark, sf_dir)
        d = len(full)
        if prior is None:
            trace = _dsum_exact(full[i][i] for i in range(d))
            v1 = _power_iterate(full, iters)
            lam1 = _rayleigh(full, v1)
            res = (v1, lam1, trace)
        else:
            v1, lam1, trace = prior
            res = prior
        if second:
            # Hotelling deflation, same double expression order as the
            # former plan literal: c - ((lam1 * vi) * vj)
            c2 = [
                [full[i][j] - ((lam1 * v1[i]) * v1[j]) for j in range(d)]
                for i in range(d)
            ]
            v2 = _power_iterate(c2, iters)
            lam2 = _rayleigh(c2, v2)
            res = (v1, lam1, trace, v2, lam2)
        return res

    def _encode(tup: tuple):
        rows = [("v1", j, float(x)) for j, x in enumerate(tup[0])]
        rows += [("lam1", 0, float(tup[1])), ("trace", 0, float(tup[2]))]
        if len(tup) == 5:
            rows += [("v2", j, float(x)) for j, x in enumerate(tup[3])]
            rows.append(("lam2", 0, float(tup[4])))
        return pd.DataFrame(rows, columns=["kind", "j", "value"])

    def _decode(pdf) -> tuple:
        v1 = pdf[pdf["kind"] == "v1"].sort_values("j")["value"].tolist()
        lam1 = float(pdf[pdf["kind"] == "lam1"]["value"].iloc[0])
        trace = float(pdf[pdf["kind"] == "trace"]["value"].iloc[0])
        if (pdf["kind"] == "v2").any():
            v2 = pdf[pdf["kind"] == "v2"].sort_values("j")["value"].tolist()
            lam2 = float(pdf[pdf["kind"] == "lam2"]["value"].iloc[0])
            return (v1, lam1, trace, v2, lam2)
        return (v1, lam1, trace)

    # durable L2: the artifact is d doubles per component + 3 scalars;
    # the second-component flag keys a separate artifact (raw float64
    # round-trips parquet bit-exactly, so load == fit)
    def _load_or_fit(prior) -> tuple:
        pdf, _ = load_or_fit_pdf(
            "pca_components",
            key + (bool(second),),
            lambda: _encode(_fit(prior)),
            spark,
        )
        return _decode(pdf)

    cell = memo(
        spark, sf_dir, "pca_components", key[1:], lambda: [_load_or_fit(None)]
    )
    if second and len(cell[0]) == 3:
        cell[0] = _load_or_fit(cell[0])
    return cell[0]


def pca_project(
    spark: SparkSession, sf_dir: str, iters: int = PCA_POWER_ITERS
) -> DataFrame:
    """Every embedding projected onto the top TWO principal components
    (Hotelling deflation for the second) — the 2D map an embedding-space
    audit plots and a stratified/diversity sampler can bucket on.

    The components are model state (cached per fit conf, like the PQ
    codebooks); projection is then ONE map-only pass: each vector's two
    dot products run as left-to-right ``zip_with``+``aggregate`` folds
    against broadcast literal loadings — the same index-ordered
    summation DuckDB's ``list_sum(list_transform(...))`` performs, so
    @6dp the scores replay exactly. Nothing shuffles; at 100 TB this is
    scan speed, and the output is two doubles per vector.
    """
    from ..functions.vectors import dot

    comp = _pca_components(spark, sf_dir, iters, second=True)
    v1, v2 = comp[0], comp[3]
    e = load_table(spark, sf_dir, "embeddings")
    a1 = F.array(*[F.lit(float(x)) for x in v1])
    a2 = F.array(*[F.lit(float(x)) for x in v2])
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        "label",
        F.round(dot(emb, a1), 6).alias("pc1"),
        F.round(dot(emb, a2), 6).alias("pc2"),
    ).orderBy("vec_id")


#: Achlioptas sparse random projection — the JL-lemma dimensionality
#: reduction that completes the embedding toolbox (LSH hashes planes,
#: IVF partitions cells, PQ compresses codes, RP shrinks the vectors
#: themselves). Entries are +1/-1/0 with prob 1/6, 1/6, 2/3, scaled by
#: sqrt(3/k) — integer-sign arithmetic from md5, so both engines replay
#: the same fold.
RP_DIMS = 16
RP_SCALE = (3.0 / RP_DIMS) ** 0.5
RP_RATIO_BUCKETS_PER_UNIT = 20  # distortion histogram: 0.05-wide buckets


def rp_planes(k: int = RP_DIMS, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic Achlioptas projection rows: entry (j, d) is +1, -1
    or 0 by md5(f"rp:{j}:{d}") mod 6 (one sixth each sign, two thirds
    zero). Pure data — embeddable as literals in the Spark plan and the
    DuckDB oracle, same derivation idea as ``hyperplanes``."""
    rows = []
    for j in range(k):
        row = []
        for d in range(dim):
            b = hashlib.md5(f"rp:{j}:{d}".encode()).digest()[0] % 6
            row.append(1.0 if b == 0 else (-1.0 if b == 1 else 0.0))
        rows.append(row)
    return rows


def _rp_array(embedding: Column) -> Column:
    """array<double> of the RP_DIMS projected coordinates, each
    round(dot(x, s_j) * RP_SCALE, 6) — the fold is the same left-to-right
    index order as the oracle's list_sum, and rounding happens at the
    projection (model output) boundary so every downstream consumer on
    either engine starts from identical doubles."""
    return F.array(
        *[
            F.round(
                dot(embedding, F.array(*[F.lit(v) for v in row]))
                * F.lit(RP_SCALE),
                6,
            )
            for row in rp_planes()
        ]
    )


def rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding sketched to RP_DIMS Johnson-Lindenstrauss
    coordinates — (vec_id, rp_dim, value) long form.

    Map-only: the sparse sign rows fold into the plan as literals (like
    ``lsh_sig_column``), nothing shuffles, nothing reaches the driver —
    at 100 TB this is scan speed and writes 16 doubles per vector, a 4x
    byte shrink of the 64-dim float32 corpus that downstream brute-force
    scans (or IVF fits) then read instead of the full embeddings.
    Reference parity: the map-side literal-weights pattern is WordCount's
    stateless mapper (WordCount.java:60-91) with arithmetic instead of
    tokenization."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pos = F.posexplode(_rp_array(F.col("embedding")))
    return (
        e.select("vec_id", pos.alias("rp_dim", "value"))
        .select(F.col("vec_id"), F.col("rp_dim").cast("long"), F.col("value"))
        .orderBy("vec_id", "rp_dim")
    )


def rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL quality audit: squared-distance distortion histogram of the RP
    sketch over the consecutive-id pair sample.

    For each pair (i, i+1): ratio = ||y_a - y_b||^2 / ||x_a - x_b||^2,
    bucketed at 0.05 width — the distribution a pipeline inspects before
    trusting the sketch for candidate generation (JL says it concentrates
    around 1 as k grows; at k=16 the spread is the honest price). The
    pair sample is linear (n-1 equi-join on vec_id+1, never all-pairs),
    both distances are computed from 6dp-rounded inputs so the ratio is
    bit-identical across engines, and the histogram is integer counts —
    zero float parity risk in the output."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = e.select(
        "vec_id",
        "embedding",
        _rp_array(F.col("embedding")).alias("y"),
    )
    a = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("x_a"),
        F.col("y").alias("y_a"),
    )
    b = proj.select(
        (F.col("vec_id") - 1).alias("id_a"),
        F.col("embedding").alias("x_b"),
        F.col("y").alias("y_b"),
    )

    def sqdist(u: Column, v: Column) -> Column:
        d2 = F.zip_with(
            u,
            v,
            lambda p, q: (p.cast("double") - q.cast("double"))
            * (p.cast("double") - q.cast("double")),
        )
        return F.round(F.aggregate(d2, F.lit(0.0), lambda acc, t: acc + t), 6)

    pairs = a.join(b, "id_a").select(
        "id_a",
        sqdist(F.col("x_a"), F.col("x_b")).alias("orig2"),
        sqdist(F.col("y_a"), F.col("y_b")).alias("proj2"),
    )
    bucket = F.floor(
        F.col("proj2") / F.col("orig2") * F.lit(float(RP_RATIO_BUCKETS_PER_UNIT))
    ).cast("long")
    return (
        pairs.where(F.col("orig2") > 0)
        .select(bucket.alias("bucket_idx"))
        .groupBy("bucket_idx")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("bucket_idx")
    )


def _sqdist(u: Column, v: Column) -> Column:
    """6dp-rounded squared L2 distance between two double arrays — the
    same left-to-right fold both engines replay."""
    d2 = F.zip_with(
        u,
        v,
        lambda p, q: (p.cast("double") - q.cast("double"))
        * (p.cast("double") - q.cast("double")),
    )
    return F.round(F.aggregate(d2, F.lit(0.0), lambda acc, t: acc + t), 6)


def rp_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    e: DataFrame | None = None,
) -> DataFrame:
    """Top-k nearest neighbours in the RP sketch space (squared L2 over
    the 16 JL coordinates) — the brute-force scan a pipeline runs over
    the 4x-smaller sketch corpus instead of the raw embeddings.

    Same shape as ``cosine_topk``: 1-row query side broadcast, one
    corpus scan (of 16-dim sketches, not 64-dim vectors), orderBy+limit
    plans as TakeOrderedAndProject. JL preserves L2, so this is the
    honest candidate generator ``rp_recall`` prices."""
    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    proj = e.select("vec_id", _rp_array(F.col("embedding")).alias("y"))
    q = proj.where(F.col("vec_id") == query_vec_id).select(
        F.col("y").alias("qy")
    )
    return (
        proj.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id", _sqdist(F.col("y"), F.col("qy")).alias("l2_sketch")
        )
        .orderBy(F.asc("l2_sketch"), F.asc("vec_id"))
        .limit(k)
    )


def rp_recall(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    e: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the RP-sketch scan against the exact L2 scan over the
    original embeddings — closes the measurement loop for the JL sketch
    the way ``lsh_recall``/``ivf_recall``/``pq_recall`` do for their
    structures (exact side computed HERE in L2, not cosine: JL's
    guarantee is about distances, so the shared cosine exact of the
    other recalls does NOT apply — pricing the sketch against a
    different metric would flatter or slander it arbitrarily). One row:
    n_hits, k, n_exact, recall."""
    if e is None:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe")
    )
    exact = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            _sqdist(F.col("embedding"), F.col("qe")).alias("l2"),
        )
        .orderBy(F.asc("l2"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id")
    )
    approx = rp_topk(spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e).select(
        "vec_id"
    )
    return _recall_report(exact, approx, k)


def drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: split the corpus into two cohorts
    (vec_id parity — the stand-in for week t vs week t+1 the fixture
    affords) and report, per label, the cosine between the cohorts'
    label centroids and their mean-norm ratio — the continual-training
    dashboard that decides when an encoder or its downstream index
    needs refitting (centroid_cos drifting off 1.0 = the space moved;
    norm ratio off 1.0 = magnitude drift that breaks MIPS pruning).

    Scale shape: one scan explodes vectors to (label, half, dim) sums —
    DECIMAL(38,18) over double products, the ``embedding_covariance``
    exactness recipe, so the sums are order-free and the whole report
    replays bit-for-bit — then every aggregate after the first shuffle
    runs on model-sized state (labels x 2 x d rows). 100 TB changes
    only the scan. Cosine of centroids = cosine of sums (the 1/n
    scaling cancels), so no division happens before the final rounded
    expressions."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    pos = F.posexplode(F.col("embedding"))
    rows = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        pos.alias("dim", "x"),
    )
    sums = rows.groupBy("label", "half", "dim").agg(
        F.sum(F.col("x").cast("double").cast("decimal(38,18)"))
        .cast("double")
        .alias("s")
    )
    counts = e.groupBy("label", (F.col("vec_id") % 2).alias("half")).agg(
        F.count("*").alias("n")
    )
    a = sums.where(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa")
    )
    b = sums.where(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb")
    )

    def dsum(expr: Column, name: str) -> Column:
        return (
            F.sum(expr.cast("decimal(38,18)")).cast("double").alias(name)
        )

    j = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            dsum(F.col("sa") * F.col("sb"), "dotab"),
            dsum(F.col("sa") * F.col("sa"), "na2"),
            dsum(F.col("sb") * F.col("sb"), "nb2"),
        )
    )
    ca = counts.where(F.col("half") == 0).select(
        "label", F.col("n").alias("n_a")
    )
    cb = counts.where(F.col("half") == 1).select(
        "label", F.col("n").alias("n_b")
    )
    return (
        j.join(F.broadcast(ca), "label")
        .join(F.broadcast(cb), "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(
                F.col("dotab") / F.sqrt(F.col("na2") * F.col("nb2")), 6
            ).alias("centroid_cos"),
            F.round(
                (F.sqrt(F.col("nb2")) * F.col("n_a"))
                / (F.sqrt(F.col("na2")) * F.col("n_b")),
                6,
            ).alias("mean_norm_ratio"),
        )
        .orderBy("label")
    )


#: Contrastive negative sampling: global candidate-pool size and the
#: negatives kept per anchor.
NEG_POOL_SIZE = 64
NEG_PER_ANCHOR = 4


def negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    vector (anchor) gets NEG_PER_ANCHOR negatives of a DIFFERENT label,
    drawn from one global hash-sampled pool of NEG_POOL_SIZE candidates
    — the in-batch-negatives pattern embedding trainers actually use
    (negatives come from a shared sample, never a per-anchor corpus
    scan).

    Scale shape: the pool is a TakeOrderedAndProject over md5 keys
    (pool-sized result, corpus-sized scan) and BROADCASTS; the anchor
    scan joins it map-side (bounded x64 fanout), and the per-anchor
    top-4 is one window exchange on vec_id. Determinism needs no
    numeric hashing: both ranking keys are md5 HEX STRINGS compared
    lexicographically — identical in any engine — with vec_id
    tiebreaks. Anchors whose labels dominate the pool may get fewer
    than 4 negatives (visible, never padded)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    pool = (
        e.select(
            F.col("vec_id").alias("neg_vec_id"),
            F.col("label").alias("neg_label"),
            F.md5(F.concat_ws(":", F.lit("negpool"), F.col("vec_id"))).alias(
                "pool_key"
            ),
        )
        .orderBy(F.asc("pool_key"), F.asc("neg_vec_id"))
        .limit(NEG_POOL_SIZE)
    )
    pairkey = F.md5(
        F.concat_ws(":", F.col("vec_id"), F.col("neg_vec_id"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.asc("pair_key"), F.asc("neg_vec_id")
    )
    return (
        e.join(F.broadcast(pool), F.col("label") != F.col("neg_label"))
        .where(F.col("vec_id") != F.col("neg_vec_id"))
        .select("vec_id", "neg_vec_id", pairkey.alias("pair_key"))
        .select(
            "vec_id",
            "neg_vec_id",
            F.row_number().over(w).alias("neg_rank"),
        )
        .where(F.col("neg_rank") <= NEG_PER_ANCHOR)
        .select("vec_id", "neg_vec_id", F.col("neg_rank").cast("long"))
        .orderBy("vec_id", "neg_rank")
    )


def centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification eval: every vector is assigned
    the label of its highest-cosine class prototype and the report
    aggregates per true label (n, n_correct, accuracy, top wrong
    prediction) — the 5-minute baseline every embedding-quality
    investigation runs before training anything (``label_margin`` flags
    individual suspect rows; this is the classifier-level scorecard).

    Same scale shape as ``label_margin``: the |labels| x d centroid
    matrix broadcasts, scoring is one map pass with a |labels|-way
    expansion, and the report is one (vec) then one (label) aggregate —
    the prediction argmax rides a struct max with the label tiebreak
    DOWNWARD (lowest label wins a cosine tie, deterministically)."""
    from ..functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cents = (
        label_centroids(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s.centroid,
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    cos = F.round(
        cosine(F.col("embedding").cast("array<double>"), F.col("cvec")), 6
    )
    pred = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", "label", "c_label", cos.alias("cos_c"))
        .groupBy("vec_id", "label")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_c").alias("c"), (-F.col("c_label")).alias("nl")
                )
            ).alias("best")
        )
        .select(
            "label",
            (-F.col("best.nl")).cast("long").alias("pred_label"),
        )
    )
    wrong_mode = F.max(
        F.when(
            F.col("pred_label") != F.col("label"),
            F.struct(F.col("n_pred").alias("n"), (-F.col("pred_label")).alias("nl")),
        )
    )
    per_pair = pred.groupBy("label", "pred_label").agg(
        F.count("*").alias("n_pred")
    )
    return (
        per_pair.groupBy("label")
        .agg(
            F.sum("n_pred").alias("n_vecs"),
            F.sum(
                F.when(F.col("pred_label") == F.col("label"), F.col("n_pred"))
                .otherwise(F.lit(0))
            ).alias("n_correct"),
            wrong_mode.alias("wm"),
        )
        .select(
            "label",
            "n_vecs",
            "n_correct",
            r6(F.col("n_correct") / F.col("n_vecs")).alias("accuracy"),
            (-F.col("wm.nl")).cast("long").alias("top_wrong_label"),
            F.col("wm.n").alias("n_top_wrong"),
        )
        .orderBy("label")
    )


#: Norm-histogram bucket width for the embedding hygiene audit.
EMB_AUDIT_BUCKET = 0.25


def embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus hygiene audit — the vector-side counterpart of
    ``text_encoding_audit``: every vector classified as ``null``
    (missing / dimension-mismatched — the fold propagates NULL), ``zero``
    (zero norm: dead doc or failed encoder — the rows ``cosine``'s
    guard exists for), or ``ok`` with its norm bucketed at 0.25 width —
    the distribution a pipeline checks before trusting MIPS pruning or
    norm-sensitive quantizers (and the audit that makes the corpus's
    damage countable instead of silently guarded around).

    Map-only norm fold + one tiny aggregate; at 100 TB this is scan
    speed with a |buckets|-row result."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nrm = F.when(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMBED_DIM),
        norm(F.col("embedding").cast("array<double>")),
    )
    status = (
        F.when(nrm.isNull(), F.lit("null"))
        .when(nrm == 0.0, F.lit("zero"))
        .otherwise(F.lit("ok"))
    )
    bucket = F.when(
        status == "ok", F.floor(nrm / EMB_AUDIT_BUCKET).cast("long")
    )
    return (
        e.select(status.alias("status"), bucket.alias("norm_bucket"))
        .groupBy("status", "norm_bucket")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("status", "norm_bucket")
    )


#: Batch-serving query set: the first N vec_ids act as the query batch.
BATCH_TOPK_QUERIES = 8


def batch_topk(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = BATCH_TOPK_QUERIES,
    k: int = DEFAULT_TOPK,
) -> DataFrame:
    """Batched brute-force top-k — the SERVING shape: a whole query set
    answered in ONE corpus scan instead of n_queries separate scans
    (the amortization every batch-inference / offline-eval pipeline
    relies on). The query block (vec_ids < n_queries) broadcasts; each
    corpus vector scores against all of it in a bounded xN fanout; the
    per-query top-k is one window exchange keyed by query id.

    At 100 TB the scan dominates and is paid ONCE for the batch —
    versus ``cosine_topk`` x N, which pays it N times; the window side
    is (n_queries x corpus) rows cut to k per query. Deterministic:
    rounded cosine, vec_id tiebreak — rank r of query q replays
    exactly."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_vec_id"),
        F.col("embedding").alias("q_emb"),
    )
    cos = F.round(cosine(F.col("embedding"), F.col("q_emb")), 6)
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_vec_id"))
        .select("query_vec_id", "vec_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_vec_id").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .orderBy("query_vec_id", "rank")
    )


def ivf_pq_recall(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
    k: int = DEFAULT_TOPK,
    nprobe: int = IVF_NPROBE,
    e: DataFrame | None = None,
    exact: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the COMPOSED IVF+PQ index against the exact cosine
    scan — the missing cell of the measured-quality matrix (lsh/ivf/pq/
    rp each ship a recall; the composed index now does too, pricing the
    coarse-prune x code-quantization interaction rather than each
    approximation alone). Same report shape and denominators as
    ``pq_recall``; the same low-recall-on-near-uniform-fixture reading
    applies, and the production fix is the same rerank stage."""
    if exact is None:
        exact = cosine_topk(
            spark, sf_dir, query_vec_id=query_vec_id, k=k, e=e
        ).select("vec_id")
    approx = ivf_pq_topk(
        spark, sf_dir, query_vec_id=query_vec_id, k=k, nprobe=nprobe, e=e
    ).select("vec_id")
    return _recall_report(exact, approx, k)


def ann_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE ANN decision table: every approximate index's recall@k against
    the same exact scan, in one relation — (method, n_hits, k, n_exact,
    recall) for lsh / ivf / pq / ivf_pq / rp — the single artifact an
    index-selection review reads instead of five separate queries (and
    the one to chart over corpus versions). The five branches share ONE
    materialized (vec_id, embedding) base and ONE exact cosine top-k
    (round-8 plan audit: re-deriving them per branch re-scanned the
    embeddings table 46x for a single diagnostic) — at 100 TB the base
    is the persisted ANN index relation and the exact top-k is the
    k-row baseline a review materializes once by construction. rp keeps
    its own L2 exact side: JL's guarantee is about distances, not
    cosine. Identical rows to the five standalone recall queries."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )
    exact = (
        cosine_topk(spark, sf_dir, e=e).select("vec_id").localCheckpoint()
    )
    parts = []
    for name, report in (
        ("lsh", lsh_recall(spark, sf_dir, e=e, exact=exact)),
        ("ivf", ivf_recall(spark, sf_dir, e=e, exact=exact)),
        ("pq", pq_recall(spark, sf_dir, e=e, exact=exact)),
        ("ivf_pq", ivf_pq_recall(spark, sf_dir, e=e, exact=exact)),
        ("rp", rp_recall(spark, sf_dir, e=e)),
    ):
        parts.append(
            report.select(
                F.lit(name).alias("method"),
                "n_hits",
                "k",
                "n_exact",
                "recall",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method")


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------

#: MMR parameters, shared with the oracle builder. The two lambda
#: constants are BOTH spelled explicitly (0.7 / 0.3) so neither engine
#: ever computes 1 - 0.7 (= 0.30000000000000004 in binary).
MMR_CANDIDATES = 32
MMR_K = 8
MMR_LAMBDA = 0.7
MMR_ONE_MINUS_LAMBDA = 0.3


def _grid6(x: float) -> float:
    """The repo's @6dp grid (floor(x*1e6 + 0.5)/1e6) in Python — the
    same double ops DuckDB's floor expression performs, so driver-side
    greedy math stays bit-identical to the SQL replay."""
    import math

    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = DEFAULT_QUERY_VEC,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from the exact top-
    ``MMR_CANDIDATES`` by cosine, greedily pick ``MMR_K`` results
    maximizing ``0.7*relevance - 0.3*max_sim_to_already_picked`` — the
    standard diversity-aware selection for retrieval-augmented sampling
    (a near-duplicate of an already-picked result scores itself out).

    Determinism across engines: relevance and pairwise sims are @6dp-
    rounded cosines (the proven cross-engine grid); the greedy score is
    the same two-literal linear form evaluated on those grid values, so
    every comparison sees bit-identical doubles; ties break on vec_id.

    Scale shape: candidate generation is the distributed exact top-k
    (TakeOrderedAndProject — per-partition heaps, k rows to the
    driver); pairwise sims are a broadcast 32x32 self-join (bounded by
    the constant, never the corpus); the greedy loop runs driver-side
    on model-sized state (<=496 sim floats — the k-means-seed
    contract). At 100 TB only the first stage touches the corpus."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = _query_vector(e, query_vec_id)
    cand = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias(
                "rel"
            ),
            "embedding",
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("ea")
    )
    b = cand.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    sims = (
        a.crossJoin(F.broadcast(b))
        .where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("sim"),
        )
    )
    rel = {r.vec_id: r.rel for r in cand.select("vec_id", "rel").collect()}
    sim = {}
    for r in sims.collect():
        sim[(r.a, r.b)] = r.sim
        sim[(r.b, r.a)] = r.sim

    selected: list[int] = []
    out_rows = []
    remaining = set(rel)
    for step in range(1, MMR_K + 1):
        best_id, best_score = None, None
        for v in sorted(remaining):  # ascending id = tiebreak winner first
            if selected:
                max_sim = max(sim[(v, s)] for s in selected)
            else:
                max_sim = 0.0
            score = (
                MMR_LAMBDA * rel[v] - MMR_ONE_MINUS_LAMBDA * max_sim
            )
            if best_score is None or score > best_score:
                best_id, best_score = v, score
        selected.append(best_id)
        remaining.discard(best_id)
        out_rows.append(
            (step, best_id, rel[best_id], _grid6(best_score))
        )
    return spark.createDataFrame(
        out_rows, "step long, vec_id long, relevance double, mmr_score double"
    )
