"""Similarity search: exactness of the brute-force baseline and recall of
the LSH path against it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tf_idf_mapreduce_spark.functions.vectors import cosine, dot
from tf_idf_mapreduce_spark.operators import similarity as sim
from tf_idf_mapreduce_spark.operators.similarity import (
    cosine_topk,
    hyperplanes,
    lsh_topk,
)


def test_dot_and_cosine_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "a array<float>, b array<float>",
    )
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("a")).alias("self"),
    ).head()
    assert r.d == 32.0
    assert r.self == pytest.approx(1.0, rel=1e-12)


def test_hyperplanes_deterministic_and_balanced():
    p1, p2 = hyperplanes(), hyperplanes()
    assert p1 == p2
    flat = [v for row in p1 for v in row]
    assert set(flat) == {1.0, -1.0}
    # md5-derived bits shouldn't be wildly skewed
    assert 0.3 < sum(v == 1.0 for v in flat) / len(flat) < 0.7


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    exact = [r.vec_id for r in cosine_topk(spark, sf_dir, 0, 10).collect()]
    approx = [r.vec_id for r in lsh_topk(spark, sf_dir, 0, 10).collect()]
    # multi-probe LSH on 500 vecs should recover a good chunk of the true
    # top-10; exactness is not expected — that's the tradeoff being tested
    assert len(approx) > 0
    assert len(set(exact) & set(approx)) >= 3
    # approx results are a subset of legal scores: every returned cos_sim
    # must match the brute-force score for that vec_id
    bf = {r.vec_id: r.cos_sim for r in cosine_topk(spark, sf_dir, 0, 500).collect()}
    for r in lsh_topk(spark, sf_dir, 0, 10).collect():
        assert bf[r.vec_id] == r.cos_sim


def test_lsh_bucket_pairs_subset_and_recall(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators import dedup as dd

    exact = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in dd.embedding_near_pairs(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in sim.lsh_bucket_pairs(spark, sf_dir).collect()
    }
    # every LSH pair is exact-cosine verified → subset with IDENTICAL scores
    assert lsh <= exact
    # banding must recover a solid majority of true near-dup pairs
    assert exact, "fixture should contain near-duplicate embeddings"
    assert len(lsh) / len(exact) >= 0.6


def test_embedding_lsh_recall_row_consistent(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators import dedup as dd

    r = dd.embedding_lsh_recall(spark, sf_dir).head()
    n_exact = dd.embedding_near_pairs(spark, sf_dir).count()
    n_lsh = sim.lsh_bucket_pairs(spark, sf_dir).count()
    assert r.n_exact == n_exact
    assert r.n_hits == n_lsh  # subset property makes hits == |lsh|
    assert r.recall == pytest.approx(
        int(r.n_hits / r.n_exact * 1_000_000 + 0.5) / 1_000_000
    )


def test_knn_graph_ann_recall_and_score_exactness(spark, sf_dir):
    exact = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in sim.knn_graph(spark, sf_dir).collect()
    }
    ann = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in sim.knn_graph_ann(spark, sf_dir).collect()
    }
    # edges present in both graphs carry the IDENTICAL exact score — the
    # approximation is in candidate coverage, never in the scores
    for edge in set(exact) & set(ann):
        assert exact[edge] == ann[edge], edge
    # banding must recover a solid majority of true edges
    recall = len(set(exact) & set(ann)) / len(exact)
    assert recall >= 0.5, recall
    # and the metric query reports exactly that number
    r = sim.knn_ann_recall(spark, sf_dir).head()
    assert r.n_exact == len(exact)
    assert r.n_hits == len(set(exact) & set(ann))


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    exact = {r.vec_id for r in sim.cosine_topk(spark, sf_dir, k=10).collect()}
    ivf = {r.vec_id for r in sim.ivf_topk(spark, sf_dir, k=10).collect()}
    assert len(ivf) == 10
    # probing 4 of 16 cells must still find most true neighbors
    assert len(exact & ivf) >= 5


def test_ivf_recall_consistent_with_sides(spark, sf_dir):
    row = sim.ivf_recall(spark, sf_dir, k=10).collect()[0]
    exact = {r.vec_id for r in sim.cosine_topk(spark, sf_dir, k=10).collect()}
    ivf = {r.vec_id for r in sim.ivf_topk(spark, sf_dir, k=10).collect()}
    assert row.n_exact == len(exact)
    assert row.n_hits == len(exact & ivf)
    assert abs(row.recall - row.n_hits / row.n_exact) < 1e-6
    assert row.recall >= 0.5  # same floor as test_ivf_topk_recall_vs_exact


def test_kmeans_fit_deterministic_and_shaped(spark, sf_dir):
    from tf_idf_mapreduce_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    c1 = sim.kmeans_fit(e, k=4, iters=3)
    c2 = sim.kmeans_fit(e, k=4, iters=3)
    assert c1 == c2
    assert len(c1) == 1 and len(c1[0]) == 4 and len(c1[0][0]) == sim.EMBED_DIM


def test_pq_fused_fit_equals_per_subspace(spark, sf_dir):
    """The M-subspace fit (one corpus pass per round for all subspaces)
    must reproduce ``kmeans_fit`` on each ``F.slice`` EXACTLY —
    codebooks equal element for element, every subspace."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fused = sim.kmeans_fit(e, k=sim.PQ_K, iters=sim.PQ_ITERS, n_sub=sim.PQ_M)
    for m in range(sim.PQ_M):
        sub = e.select(
            "vec_id",
            F.slice(
                "embedding", m * sim.PQ_SUBDIM + 1, sim.PQ_SUBDIM
            ).alias("embedding"),
        )
        (ref,) = sim.kmeans_fit(sub, k=sim.PQ_K, iters=sim.PQ_ITERS)
        assert fused[m] == ref, f"subspace {m} diverged"


def _tile_paths(spark):
    """The four embedding tile paths, each a function of the sf dir."""
    from tf_idf_mapreduce_spark.operators.dedup import embedding_near_pairs

    return {
        "lsh_bucket_pairs": lambda d: sim.lsh_bucket_pairs(spark, d),
        "embedding_near_pairs": lambda d: embedding_near_pairs(spark, d),
        "knn_graph": lambda d: sim.knn_graph(spark, d),
        "knn_graph_ann": lambda d: sim.knn_graph_ann(spark, d),
    }


def test_bucket_tile_cap_shards_hot_buckets(spark, sf_dir, monkeypatch):
    """Occupancy cap and block size: with the bucket cap forced tiny
    every bucket shards into multi-tile pairs — the 100 TB hot-bucket
    path — and with the exact paths' block forced tiny nearly every
    pair is a cross-row pair. Each path's rows (with scores and ranks)
    must equal its single-tile run exactly, which pins exactly-once
    pair coverage across tiles (a double-emitted pair would surface as
    a duplicate row for the exact pairs path, which has no dedup step)
    and both-direction top-k for the graphs."""
    paths = _tile_paths(spark)

    def run():
        return {
            name: sorted(tuple(r) for r in f(sf_dir).collect())
            for name, f in paths.items()
        }

    base = run()
    # the fixture must produce rows for this to mean anything
    assert all(base.values()), {n: len(v) for n, v in base.items()}
    monkeypatch.setattr(sim, "BUCKET_TILE_CAP", 3)
    monkeypatch.setattr(sim, "TILE_BLOCK", 3)
    tiled = run()
    for name in paths:
        assert tiled[name] == base[name], name


@pytest.mark.parametrize(
    "path", ["lsh_bucket_pairs", "embedding_near_pairs", "knn_graph", "knn_graph_ann"]
)
def test_bucket_tile_kernel_skips_corrupt_embeddings(spark, sf_dir, tmp_path, path):
    """Corrupt-row contract, one meaning in every tile kernel: NULL,
    dimension-mismatched and NaN embeddings must DROP (the SQL cosine's
    NULL propagation), never abort the job — and must not perturb the
    valid pairs or edges."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.sources.io import load_table

    op = _tile_paths(spark)[path]
    clean = sorted(tuple(r) for r in op(sf_dir).collect())
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    max_id = e.agg(F.max("vec_id")).head()[0]
    corrupt = spark.createDataFrame(
        [
            (max_id + 1, None),
            (max_id + 2, [0.25, -0.5]),  # wrong dimension
            (max_id + 3, [float("nan")] * sim.EMBED_DIM),
        ],
        e.schema,
    )
    d = tmp_path / "corrupt_sf"
    d.mkdir()
    e.unionByName(corrupt).write.parquet(str(d / "embeddings.parquet"))
    got = sorted(tuple(r) for r in op(str(d)).collect())
    assert got == clean  # corrupt rows dropped, valid rows untouched


def test_package_spells_the_cosine_divide_once():
    """Each concept once: the rounded-cosine tile expression's norm
    outer-product divide (``np.outer``) appears in ONE place in the
    package, ``similarity._rounded_cosines``. A new tile kernel selects
    over ``similarity._tile_cosines`` blocks instead of growing its own
    matmul."""
    import ast
    from pathlib import Path

    import tf_idf_mapreduce_spark

    pkg = Path(tf_idf_mapreduce_spark.__file__).parent
    found = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "outer"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "np"
            ):
                found.append(path.relative_to(pkg).as_posix())
    assert found == ["operators/similarity.py"]


def test_dsum_exact_matches_engine_decimal_sum_on_adversarial_doubles(spark):
    """_dsum_exact's load-bearing bet (round-12 verdict #4): driver-side
    ``Decimal(repr(x))`` quantized @1e-18 HALF_UP must equal the
    engine's ``sum(cast(x as decimal(38,18)))::double`` for EVERY
    input, because the PCA trajectory replays through it. Checked here
    on adversarial doubles: subnormals, 17-significant-digit values,
    negative zero, cancellation pairs, huge magnitudes that overflow
    the 18-fractional-digit grid's precision, dyadic fractions, and a
    seeded random mix — plus prefix sums so intermediate totals are
    exercised, not just one total."""
    import math
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StructField, StructType

    rng = random.Random(421)
    vals = [
        5e-324,  # min subnormal
        -5e-324,
        2.2250738585072014e-308,  # min normal
        1.7976931348623157e308 * 0,  # zero via multiply
        -0.0,
        0.1,
        -0.1,
        1 / 3,
        0.30000000000000004,
        1.2345678901234567,  # 17 significant digits
        -9.007199254740993e15,  # 2^53 + 1 territory
        # NB: |x| >= 1e20 overflows DECIMAL(38,18) and RAISES under
        # Spark 4's ANSI default — outside _dsum_exact's domain (its
        # callers sum covariance/matvec terms the engine itself must
        # also be able to cast), so the property is checked inside it
        9.87654321e18,
        -9.87654321e18,  # exact cancellation near the grid's top
        1e-18,
        5e-19,  # rounds HALF_UP at the grid boundary
        -5e-19,
        math.pi,
        -math.e,
        2.0**-60,
        1.5,
    ] + [rng.uniform(-1e6, 1e6) for _ in range(40)] + [
        rng.gauss(0, 1e-12) for _ in range(20)
    ]
    schema = StructType([StructField("x", DoubleType())])
    for k in (1, 3, 7, len(vals)):
        prefix = vals[:k]
        got = sim._dsum_exact(prefix)
        df = spark.createDataFrame([(v,) for v in prefix], schema)
        want = df.agg(
            F.sum(F.col("x").cast("decimal(38,18)")).cast("double")
        ).head()[0]
        assert got == want or (
            math.isnan(got) and math.isnan(want)
        ), f"prefix {k}: {got!r} != {want!r}"


def test_label_centroids_match_numpy(spark, sf_dir):
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import label_centroids
    from tf_idf_mapreduce_spark.sources.io import load_table

    got = {
        (r.label, r.dim): (r.centroid, r.n_vecs)
        for r in label_centroids(spark, sf_dir).collect()
    }
    raw = load_table(spark, sf_dir, "embeddings").collect()
    by_label = {}
    for r in raw:
        by_label.setdefault(r.label, []).append(np.array(r.embedding, dtype="float64"))
    for label, vecs in by_label.items():
        mean = np.mean(np.stack(vecs), axis=0)
        for d in range(len(mean)):
            c, n = got[(label, d)]
            assert n == len(vecs)
            assert abs(c - mean[d]) < 1e-5


def test_sig_udf_bit_identical_to_column_fold(spark, sf_dir):
    # the Arrow-batched signature path must reproduce the interpreted
    # aggregate-fold signature BIT-FOR-BIT (same accumulation order) —
    # a near-zero dot whose sign flipped would silently move a vector
    # to another bucket
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.functions.vectors import fold_dot_matrix_udf
    from tf_idf_mapreduce_spark.operators.similarity import (
        hyperplanes,
        lsh_sig_column,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    udf_sig = fold_dot_matrix_udf(hyperplanes())
    diff = e.select(
        lsh_sig_column(F.col("embedding")).alias("a"),
        udf_sig(F.col("embedding")).alias("b"),
    ).where(F.col("a") != F.col("b"))
    assert diff.count() == 0


def test_knn_graph_structure(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.similarity import KNN_K, knn_graph

    g = knn_graph(spark, sf_dir)
    rows = g.collect()
    by_a = {}
    for r in rows:
        by_a.setdefault(r.vec_a, []).append(r)
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(by_a) == n_vecs  # every vector has neighbors
    for a, es in by_a.items():
        assert len(es) == KNN_K
        assert a not in [e.vec_b for e in es]  # no self-edges
        ranked = sorted(es, key=lambda e: e.rank)
        # rank order matches (cos desc, vec_b asc)
        keys = [(-e.cos_sim, e.vec_b) for e in ranked]
        assert keys == sorted(keys)


def test_knn_graph_agrees_with_cosine_topk(spark, sf_dir):
    # node 0's knn edges must equal the head of the exact brute-force top-k
    from tf_idf_mapreduce_spark.operators.similarity import (
        KNN_K,
        cosine_topk,
        knn_graph,
    )
    from pyspark.sql import functions as F

    exact = [
        (r.vec_id, r.cos_sim)
        for r in cosine_topk(spark, sf_dir, query_vec_id=0, k=KNN_K).collect()
    ]
    got = [
        (r.vec_b, r.cos_sim)
        for r in knn_graph(spark, sf_dir)
        .where(F.col("vec_a") == 0)
        .orderBy("rank")
        .collect()
    ]
    assert got == exact


def test_knn_graph_honors_larger_k(spark, sf_dir):
    # regression: tiles must emit k candidates per row (k was silently
    # capped at the module constant) — k=5 must match brute force
    from tf_idf_mapreduce_spark.operators.similarity import (
        cosine_topk,
        knn_graph,
    )
    from pyspark.sql import functions as F

    k = 5
    exact = [
        (r.vec_id, r.cos_sim)
        for r in cosine_topk(spark, sf_dir, query_vec_id=0, k=k).collect()
    ]
    got = [
        (r.vec_b, r.cos_sim)
        for r in knn_graph(spark, sf_dir, k=k)
        .where(F.col("vec_a") == 0)
        .orderBy("rank")
        .collect()
    ]
    assert got == exact


def test_ivf_cell_histogram_covers_corpus(spark, sf_dir):
    rows = sim.ivf_cell_histogram(spark, sf_dir).collect()
    from tf_idf_mapreduce_spark.sources.io import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n
    assert all(0 <= r.cid < sim.IVF_K for r in rows)


def test_pagerank_is_a_damped_distribution(spark, sf_dir):
    rows = sim.pagerank(spark, sf_dir).collect()
    n = len(rows)
    assert n == spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    total = sum(r.rank_nano for r in rows)
    # sums to 1e9 nanos minus integer-truncation dust (each of the 10
    # rounds truncates <= 1 nano at up to 2n division sites)
    assert 0.98e9 < total <= 1.0e9 + n
    assert all(r.rank_nano > 0 for r in rows)
    for r in rows:
        assert abs(r.rank - r.rank_nano / 1e9) < 1e-15
    # fixed-point arithmetic: a second run is bit-identical
    again = {r.node: r.rank_nano for r in sim.pagerank(spark, sf_dir).collect()}
    assert {r.node: r.rank_nano for r in rows} == again


def test_personalized_pagerank_decays_from_seed(spark, sf_dir):
    rows = {r.node: r.rank_nano for r in
            sim.personalized_pagerank(spark, sf_dir).collect()}
    seed = sim.DEFAULT_QUERY_VEC
    # the seed holds the largest rank (all restart mass returns to it)
    assert rows[seed] == max(rows.values())
    # mass reaches beyond the seed (multi-hop spread), but not everywhere
    n_reached = sum(1 for v in rows.values() if v > 0)
    assert 1 < n_reached < len(rows)
    # direct kNN neighbors of the seed outrank the typical non-neighbor
    nbrs = {r.vec_b for r in sim.knn_graph(spark, sf_dir).collect()
            if r.vec_a == seed}
    non = [v for k, v in rows.items() if k != seed and k not in nbrs]
    assert min(rows[b] for b in nbrs) > sorted(non)[len(non) // 2]


def test_lsh_recall_oracle_green_for_nondefault_params(spark, sf_dir):
    """The recall oracle is GENERATED from (query_vec_id, k) — prove the
    generator tracks the Spark side away from the registry defaults
    (vec 0, k 10), not just at them."""
    import duckdb

    import __spark_entry__ as entrymod

    got = [
        tuple(r)
        for r in sim.lsh_recall(spark, sf_dir, query_vec_id=7, k=5).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(entrymod._lsh_recall_sql(7, 5)).fetchall()]
    assert got == want
    assert got[0][1] == 5  # k really is the non-default


def test_ivf_probe_sweep_recall_is_monotone(spark, sf_dir):
    """Probing more cells only adds candidates, and exact-top-k members
    can't be displaced by lower-cosine ones — recall must be
    non-decreasing in nprobe, with a shared exact denominator."""
    from tf_idf_mapreduce_spark.operators.similarity import ivf_probe_sweep

    rows = sorted(ivf_probe_sweep(spark, sf_dir).collect(), key=lambda r: r.nprobe)
    assert [r.nprobe for r in rows] == [1, 2, 4]
    assert len({r.n_exact for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a.recall <= b.recall
    for r in rows:
        assert 0 <= r.n_hits <= r.n_exact


def test_label_margin_agrees_with_numpy_replay(spark, sf_dir):
    """Margins must equal a from-scratch numpy replay: 6dp centroids,
    cosine to every centroid, best-other with lowest-label tiebreak."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import label_margin
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: (r.label, np.array(r.embedding, dtype="float64")) for r in rows}
    labels = sorted({l for l, _ in vecs.values()})
    cents = {
        l: np.round(
            np.mean([v for lb, v in vecs.values() if lb == l], axis=0), 6
        )
        for l in labels
    }

    def cos(a, b):
        return round(float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 6)

    got = {r.vec_id: r for r in label_margin(spark, sf_dir).collect()}
    assert len(got) == len(vecs)
    for vid, (lb, v) in list(vecs.items())[:50]:
        scores = {l: cos(v, cents[l]) for l in labels}
        own = scores[lb]
        best_other = max(
            (c, -l) for l, c in scores.items() if l != lb
        )
        r = got[vid]
        assert r.own_cos == own
        assert r.best_other_label == -best_other[1]
        assert r.best_other_cos == best_other[0]
        assert r.margin == round(own - best_other[0], 6)


def test_pq_adc_tracks_true_cosine(spark, sf_dir):
    """PQ-ADC scores must positively track exact cosine (the codes carry
    signal even on random fixtures), stay in a sane range, and the
    deterministic fit must reproduce bit-identical results on a rerun."""
    import numpy as np

    import tf_idf_mapreduce_spark.operators.similarity as sim

    top = sim.pq_topk(spark, sf_dir, k=10).collect()
    assert len(top) == 10
    assert all(-1.001 <= r.adc_cos <= 1.001 for r in top)
    rerun = sim.pq_topk(spark, sf_dir, k=10).collect()
    assert [(r.vec_id, r.adc_cos) for r in top] == [
        (r.vec_id, r.adc_cos) for r in rerun
    ]
    # correlation of ADC vs exact cosine over the full corpus
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").orderBy("vec_id")
    rows = e.collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.stack([np.array(r.embedding) for r in rows])
    q = X[ids == sim.DEFAULT_QUERY_VEC][0]
    cos = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    adc = {r.vec_id: r.adc_cos for r in sim.pq_topk(spark, sf_dir, k=len(ids)).collect()}
    mask = ids != sim.DEFAULT_QUERY_VEC
    got = np.array([adc[i] for i in ids[mask]])
    assert np.corrcoef(got, cos[mask])[0, 1] > 0.2


def test_pq_unknown_query_raises(spark, sf_dir):
    import pytest as _pytest

    import tf_idf_mapreduce_spark.operators.similarity as sim

    with _pytest.raises(ValueError, match="unknown query_vec_id"):
        sim.pq_topk(spark, sf_dir, query_vec_id=10**9)


def test_pq_rerank_dominates_adc(spark, sf_dir):
    """The reranked top-k recovers every exact-top-k member the ADC
    shortlist contains, so recall_rerank >= recall_adc always (adc_top
    is a subset of the shortlist the rerank scans)."""
    import tf_idf_mapreduce_spark.operators.similarity as sim

    r = sim.pq_rerank_report(spark, sf_dir).collect()[0]
    assert r.n_exact == r.k
    assert 0 <= r.n_hits_adc <= r.n_hits_rerank <= r.k
    assert r.recall_rerank >= r.recall_adc


def test_triangle_report_matches_brute_force(spark, sf_dir):
    """Triangle count must equal a Python brute force over the same
    undirected ANN edge set, and the wedge identity must hold."""
    from itertools import combinations

    import tf_idf_mapreduce_spark.operators.similarity as sim

    edges = {
        (min(r.vec_a, r.vec_b), max(r.vec_a, r.vec_b))
        for r in sim.knn_graph_ann(spark, sf_dir).select("vec_a", "vec_b").collect()
    }
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    brute = sum(
        1
        for u, v in edges
        for w in adj[u] & adj[v]
        if w > v  # count each triangle once: u < v < w
        if u < v
    )
    r = sim.triangle_report(spark, sf_dir).collect()[0]
    assert r.n_triangles == brute
    assert r.n_edges == len(edges)
    assert r.n_nodes == len(adj)
    assert r.n_wedges == sum(
        len(nb) * (len(nb) - 1) // 2 for nb in adj.values()
    )


def test_ivf_pq_is_pq_ranking_restricted_to_probed_cells(spark, sf_dir):
    """The composed index's result must equal the plain PQ ranking
    filtered to the probed IVF cells — the composition adds pruning,
    never different scores."""
    from pyspark.sql import functions as F

    import tf_idf_mapreduce_spark.operators.similarity as sim

    composed = sim.ivf_pq_topk(spark, sf_dir, k=10).collect()
    e = sim.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    (cents,) = sim.kmeans_fit(e)
    probe = {int(c) for c in sim._probe_order(e, cents, sim.DEFAULT_QUERY_VEC)[: sim.IVF_NPROBE]}
    assigned = {
        r.vec_id: r.cid
        for r in e.select(
            "vec_id", sim._nearest_centroid_udf(cents)(F.col("embedding")).alias("cid")
        ).collect()
    }
    full_pq = sim.pq_topk(spark, sf_dir, k=10_000).collect()
    expect = [
        (r.vec_id, r.adc_cos)
        for r in full_pq
        if assigned[r.vec_id] in probe
    ][:10]
    assert [(r.vec_id, r.adc_cos) for r in composed] == expect
    assert all(assigned[r.vec_id] == r.cid and r.cid in probe for r in composed)


def test_range_search_matches_bruteforce(spark, sf_dir):
    """Range search must return EXACTLY the vectors whose 6dp-rounded
    cosine to the query clears the radius — verified against a numpy
    brute force over the whole fixture."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import (
        DEFAULT_QUERY_VEC,
        RANGE_SEARCH_MIN_COS,
        range_search,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    e = {
        r.vec_id: np.array(r.embedding, dtype="float64")
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    q = e[DEFAULT_QUERY_VEC]
    want = {}
    for vid, v in e.items():
        if vid == DEFAULT_QUERY_VEC:
            continue
        c = round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6)
        if c >= RANGE_SEARCH_MIN_COS:
            want[vid] = c
    got = {r.vec_id: r.cos_sim for r in range_search(spark, sf_dir).collect()}
    assert set(got) == set(want)
    for vid in got:
        assert abs(got[vid] - want[vid]) <= 1e-6


def test_range_search_lsh_subset_of_exact(spark, sf_dir):
    """The pruned radius query returns a SUBSET of the exact one (same
    rounding, same radius — pruning can only lose candidates, never
    invent or rescore them)."""
    from tf_idf_mapreduce_spark.operators.similarity import (
        range_search,
        range_search_lsh,
    )

    exact = {r.vec_id: r.cos_sim for r in range_search(spark, sf_dir).collect()}
    pruned = {
        r.vec_id: r.cos_sim for r in range_search_lsh(spark, sf_dir).collect()
    }
    assert set(pruned) <= set(exact)
    for vid, c in pruned.items():
        assert c == exact[vid]


def test_cluster_profile_is_a_partition_of_the_corpus(spark, sf_dir):
    """Cells partition the joined corpus: doc counts sum to the corpus
    size, quality-keep never exceeds the cell count, word mass matches
    the corpus total, and the dominant source is one of the real ones."""
    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.operators.similarity import cluster_profile
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = cluster_profile(spark, sf_dir).collect()
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    joined = d.join(e, "doc_id")
    assert sum(r.n_docs for r in rows) == joined.count()
    assert sum(r.total_words for r in rows) == (
        joined.select(F.sum(F.size(norm_words(F.col("text")))).alias("s"))
        .head()
        .s
    )
    sources = {r.source for r in d.select("source").distinct().collect()}
    for r in rows:
        assert 0 <= r.cid < sim.IVF_K
        assert 0 <= r.n_quality_keep <= r.n_docs
        assert r.top_source in sources


def test_cosine_corrupt_vector_contract(spark):
    """Zero-norm, NULL, and dimension-mismatched embeddings must yield
    NULL cosine (visible damage), never an ANSI DIVIDE_BY_ZERO job
    abort — and valid rows must be bit-identical to the raw division."""
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),   # query
            (1, [3.0, 4.0]),   # valid
            (2, [0.0, 0.0]),   # zero norm: the 100 TB dead-doc case
            (3, None),         # null embedding
            (4, [1.0]),        # dimension mismatch
        ],
        "vec_id long, embedding array<float>",
    )
    q = df.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    got = {
        r.vec_id: r.cos
        for r in df.crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("q_emb")).alias("cos"))
        .collect()
    }
    assert got[1] == pytest.approx(3.0 / 5.0, abs=0)  # exact division
    assert got[2] is None
    assert got[3] is None
    assert got[4] is None


def _write_mips_fixture(spark, d, docs_rows, emb_rows):
    spark.createDataFrame(
        docs_rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")


def test_mips_topk_equals_brute_force_under_heavy_prune(spark, tmp_path):
    """Planted clustered corpus where the weight/norm bound prunes >90% of
    docs: the pruned top-k must equal numpy brute force EXACTLY, and
    prune_stats must report the saving. This pins the exactness claim in
    the regime where pruning actually fires (the sf fixture's isotropic
    embeddings exercise the prune~0 regime)."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    dim = sim.EMBED_DIM
    n = 300
    q = np.zeros(dim); q[0] = 1.0
    stop_text = "the and is of to in that it for on " * 4   # high stopword density
    junk_text = "zebra quantum flux vortex matrix cipher " * 4  # low density
    docs, embs = [], []
    vecs = np.zeros((n, dim))
    for i in range(n):
        if i < 10:  # aligned cluster, high quality weight
            v = q + 0.05 * rng.standard_normal(dim)
            text = stop_text + f"tail{i}"
        else:       # orthogonal-ish junk, low weight
            v = rng.standard_normal(dim); v[0] = 0.0
            text = junk_text + f"tail{i}"
        v = v / np.linalg.norm(v)
        vecs[i] = v
        docs.append((i, text, "en", "web", len(text)))
        embs.append((i, [float(x) for x in v.astype(np.float32)], 0))
    d = str(tmp_path / "mips")
    _write_mips_fixture(spark, d, docs, embs)

    out = sim.mips_topk(spark, d, query_vec_id=0, k=5).collect()

    # numpy brute force on the same float32-truncated vectors
    f32 = vecs.astype(np.float32).astype(np.float64)
    from tf_idf_mapreduce_spark.operators.textstats import STOPWORDS_EN

    def weight(text):
        words = [w for w in text.lower().split() if w]
        stop = sum(1 for w in words if w in STOPWORDS_EN)
        return (stop + 1) / (len(words) + 1)
    wts = np.array([weight(t) for _, t, *_ in docs])
    scores = wts * (f32 @ f32[0])
    order = sorted((round(-scores[i], 6), i) for i in range(1, n))[:5]
    expect = [(i, round(scores[i], 6)) for _, i in order]
    got = [(r.vec_id, r.mips_score) for r in out]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert abs(g[1] - e[1]) <= 2e-6  # numpy dot order vs fold order

    stats = sim.mips_prune_stats(spark, d, query_vec_id=0, k=5).collect()[0]
    assert stats.n_total == n - 1
    assert stats.n_candidates < 0.1 * stats.n_total  # >90% of the scan pruned
    assert stats.pruned_frac > 0.9


def test_mips_weight_is_exact_rational(spark):
    """quality_weight equals (n_stop+1)/(n_words+1) bit-for-bit."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.operators.textstats import quality_weight

    df = spark.createDataFrame(
        [("the cat sat",), ("",), ("zebra flux",)], "text string"
    )
    vals = df.select(quality_weight(norm_words(F.col("text"))).alias("w")).collect()
    assert vals[0].w == 2 / 4  # 'the' is a stopword; 3 words... (1+1)/(3+1)
    assert vals[1].w == 1.0    # empty: (0+1)/(0+1)
    assert vals[2].w == 1 / 3


def test_embedding_covariance_laws_and_numpy_agreement(spark, sf_dir):
    """Upper-triangle shape, unit diagonal corr, |corr|<=1, and agreement
    with numpy's sample covariance within rounding tolerance."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import (
        EMBED_DIM,
        embedding_covariance,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = embedding_covariance(spark, sf_dir).collect()
    assert len(rows) == EMBED_DIM * (EMBED_DIM + 1) // 2
    vecs = np.array(
        [
            r.embedding
            for r in load_table(spark, sf_dir, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    C = np.cov(vecs, rowvar=False, ddof=1)
    for r in rows:
        assert r.dim_i <= r.dim_j
        assert r.n_vecs == len(vecs)
        assert abs(r.cov - C[r.dim_i, r.dim_j]) < 1e-5, (r.dim_i, r.dim_j)
        if r.dim_i == r.dim_j:
            assert r.corr == 1.0
        assert abs(r.corr) <= 1.0 + 1e-9


def test_pca_power_matches_numpy_replay(spark, sf_dir):
    """The distributed power iteration lands where a numpy replay of the
    IDENTICAL algorithm (same start, same round count, sample covariance)
    lands, within float-accumulation tolerance; unit-norm loadings and a
    sane explained-variance ratio."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import (
        PCA_POWER_ITERS,
        pca_power,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = pca_power(spark, sf_dir).collect()
    loadings = np.array([r.loading for r in sorted(rows, key=lambda r: r.dim)])
    lam = rows[0].eigenvalue
    evr = rows[0].explained_var_ratio
    assert all(r.eigenvalue == lam and r.explained_var_ratio == evr for r in rows)
    assert abs(np.linalg.norm(loadings) - 1.0) < 1e-4
    assert 0.0 < evr < 1.0

    vecs = np.array(
        [r.embedding for r in load_table(spark, sf_dir, "embeddings").collect()],
        dtype=np.float64,
    )
    C = np.cov(vecs, rowvar=False, ddof=1)
    v = np.full(C.shape[0], 0.125)
    for _ in range(PCA_POWER_ITERS):
        w = C @ v
        v = w / np.linalg.norm(w)
    lam_np = float(v @ (C @ v))
    assert np.allclose(loadings, v, atol=2e-5), "loadings diverge from replay"
    assert abs(lam - lam_np) < 1e-5
    assert abs(evr - lam_np / np.trace(C)) < 1e-5


def test_pca_project_matches_numpy_replay(spark, sf_dir):
    """pc1/pc2 equal a numpy replay of the identical pipeline (cov ->
    power iteration -> deflation -> dot), and the two component vectors
    are near-orthogonal."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import (
        PCA_POWER_ITERS,
        pca_project,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    recs = load_table(spark, sf_dir, "embeddings").collect()
    vecs = np.array([r.embedding for r in recs], dtype=np.float64)
    ids = [r.vec_id for r in recs]
    C = np.cov(vecs, rowvar=False, ddof=1)

    def power(M):
        v = np.full(M.shape[0], 0.125)
        for _ in range(PCA_POWER_ITERS):
            w = M @ v
            v = w / np.linalg.norm(w)
        return v

    v1 = power(C)
    lam1 = float(v1 @ (C @ v1))
    v2 = power(C - lam1 * np.outer(v1, v1))
    # the synthetic fixture's spectrum is near-isotropic, so 12 rounds
    # leave the components approximately (not machine-exactly) orthogonal
    assert abs(float(v1 @ v2)) < 0.1
    want1 = dict(zip(ids, vecs @ v1))
    want2 = dict(zip(ids, vecs @ v2))
    rows = pca_project(spark, sf_dir).collect()
    assert len(rows) == len(ids)
    for r in rows:
        assert abs(r.pc1 - want1[r.vec_id]) < 5e-5, r.vec_id
        assert abs(r.pc2 - want2[r.vec_id]) < 5e-5, r.vec_id


def test_rp_project_replays_the_exact_fold(spark, sf_dir):
    """The JL sketch is a deterministic linear map: replay one vector's
    16 projections with an explicit left-to-right Python-float fold
    (the same IEEE accumulation order as the plan's aggregate) and
    demand exact equality at the 6dp boundary, plus the Achlioptas
    sparsity law on the sign rows themselves."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import (
        RP_DIMS,
        RP_SCALE,
        rp_planes,
        rp_project,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    planes = rp_planes()
    assert len(planes) == RP_DIMS
    flat = [v for row in planes for v in row]
    assert set(flat) <= {1.0, -1.0, 0.0}
    zero_frac = flat.count(0.0) / len(flat)
    assert 0.5 < zero_frac < 0.8  # nominal 2/3

    emb = {
        r.vec_id: list(r.embedding)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    got = rp_project(spark, sf_dir).collect()
    assert len(got) == RP_DIMS * len(emb)
    by_vec = {}
    for r in got:
        by_vec.setdefault(r.vec_id, {})[r.rp_dim] = r.value
    for vid in list(emb)[:5]:
        x = emb[vid]
        for j, row in enumerate(planes):
            acc = 0.0
            for d in range(len(x)):
                acc += float(np.float64(np.float32(x[d]))) * row[d]
            want = round(acc * RP_SCALE, 6)
            assert abs(by_vec[vid][j] - want) < 1e-9, (vid, j)


def test_rp_distortion_laws(spark, sf_dir):
    """Histogram is integer counts over the n-1 consecutive pairs, and
    the JL concentration shows: the bulk of mass sits within a factor
    of 3 of ratio 1 (bucket 20)."""
    from tf_idf_mapreduce_spark.operators.similarity import rp_distortion
    from tf_idf_mapreduce_spark.sources.io import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    rows = rp_distortion(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) <= n - 1
    assert all(r.n_pairs > 0 and r.bucket_idx >= 0 for r in rows)
    mass = sum(r.n_pairs for r in rows)
    near = sum(r.n_pairs for r in rows if 20 / 3 <= r.bucket_idx <= 20 * 3)
    assert near / mass > 0.9


def test_rp_recall_laws_and_exact_side(spark, sf_dir):
    """The recall metric's laws (hits <= k, recall on the floor grid)
    plus a numpy replay of the EXACT L2 side — the denominator must be
    the true nearest set, not an artifact of the sketch."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import (
        DEFAULT_QUERY_VEC,
        rp_recall,
        rp_topk,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in rows}
    q = vecs[DEFAULT_QUERY_VEC]
    want_exact = sorted(
        ((round(float(((v - q) ** 2).sum()), 6), vid)
         for vid, v in vecs.items() if vid != DEFAULT_QUERY_VEC),
    )[:10]

    r = rp_recall(spark, sf_dir).head()
    assert r.k == 10 and r.n_exact == min(10, len(vecs) - 1)
    assert 0 <= r.n_hits <= r.k
    assert r.recall == round(r.n_hits / r.n_exact, 6)

    approx = [x.vec_id for x in rp_topk(spark, sf_dir).collect()]
    assert len(approx) == 10 and DEFAULT_QUERY_VEC not in approx
    hits = len(set(approx) & {vid for _, vid in want_exact})
    assert r.n_hits == hits


def test_drift_report_numpy_replay_and_identity_law(spark, sf_dir):
    """numpy replay of the per-label cohort centroids (cos + mean-norm
    ratio at @6dp), plus the identity law: a label whose two cohorts
    are the same distribution family still satisfies |cos| <= 1."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import drift_report
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    got = {r.label: r for r in drift_report(spark, sf_dir).collect()}
    labels = {r.label for r in rows}
    for lab in labels:
        a = np.array(
            [r.embedding for r in rows if r.label == lab and r.vec_id % 2 == 0],
            dtype="float64",
        )
        b = np.array(
            [r.embedding for r in rows if r.label == lab and r.vec_id % 2 == 1],
            dtype="float64",
        )
        if len(a) == 0 or len(b) == 0:
            assert lab not in got
            continue
        sa, sb = a.sum(axis=0), b.sum(axis=0)
        r = got[lab]
        assert (r.n_a, r.n_b) == (len(a), len(b))
        cos = float(sa @ sb / np.sqrt((sa @ sa) * (sb @ sb)))
        ratio = float(
            (np.sqrt(sb @ sb) * len(a)) / (np.sqrt(sa @ sa) * len(b))
        )
        assert abs(r.centroid_cos - cos) < 1e-5
        assert abs(r.mean_norm_ratio - ratio) < 1e-5
        assert abs(r.centroid_cos) <= 1.0


def test_negative_pairs_laws(spark, sf_dir):
    """Every negative has a different label than its anchor, comes from
    the deterministic 64-candidate pool, ranks are 1..k dense per
    anchor, and the selection replays from the md5 string keys."""
    import hashlib

    from tf_idf_mapreduce_spark.operators.similarity import (
        NEG_PER_ANCHOR,
        NEG_POOL_SIZE,
        negative_pairs,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    pool = sorted(
        labels,
        key=lambda v: (hashlib.md5(f"negpool:{v}".encode()).hexdigest(), v),
    )[:NEG_POOL_SIZE]
    got = negative_pairs(spark, sf_dir).collect()
    by_anchor = {}
    for r in got:
        assert labels[r.vec_id] != labels[r.neg_vec_id]
        assert r.neg_vec_id in pool
        by_anchor.setdefault(r.vec_id, []).append((r.neg_rank, r.neg_vec_id))
    for anchor, rows in by_anchor.items():
        ranks = sorted(x[0] for x in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert len(rows) <= NEG_PER_ANCHOR
        want = sorted(
            (
                (hashlib.md5(f"{anchor}:{v}".encode()).hexdigest(), v)
                for v in pool
                if labels[v] != labels[anchor] and v != anchor
            ),
        )[: len(rows)]
        assert [v for _, v in want] == [
            v for _, v in sorted(rows)
        ], anchor


def test_centroid_classify_numpy_replay(spark, sf_dir):
    """Full numpy replay of the scorecard: rounded centroids, rounded
    cosines, (cos desc, label asc) argmax, per-label accuracy and
    wrong-prediction mode."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.similarity import centroid_classify
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    labels = sorted({r.label for r in rows})
    cents = {}
    for lab in labels:
        m = np.array(
            [r.embedding for r in rows if r.label == lab], dtype="float64"
        )
        cents[lab] = np.round(m.mean(axis=0), 6)
    stats = {lab: [0, 0, {}] for lab in labels}  # n, correct, wrong counts
    for r in rows:
        x = np.array(r.embedding, dtype="float64")
        best = None
        for lab in labels:
            c = cents[lab]
            cos = round(float(x @ c / (np.linalg.norm(x) * np.linalg.norm(c))), 6)
            key = (cos, -lab)
            if best is None or key > best[0]:
                best = (key, lab)
        pred = best[1]
        st = stats[r.label]
        st[0] += 1
        if pred == r.label:
            st[1] += 1
        else:
            st[2][pred] = st[2].get(pred, 0) + 1
    got = {r.label: r for r in centroid_classify(spark, sf_dir).collect()}
    for lab in labels:
        n, correct, wrong = stats[lab]
        g = got[lab]
        assert (g.n_vecs, g.n_correct) == (n, correct)
        assert g.accuracy == round(correct / n, 6)
        if wrong:
            top = sorted(wrong.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            assert (g.top_wrong_label, g.n_top_wrong) == top
        else:
            assert g.top_wrong_label is None


def test_embedding_audit_classifies_planted_damage(spark, tmp_path):
    """Planted damage: a NULL embedding and a dimension-mismatched one
    class as 'null', an all-zero vector as 'zero', healthy vectors land
    in their norm buckets."""
    from pyspark.sql import Row
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    from tf_idf_mapreduce_spark.operators.similarity import (
        EMBED_DIM,
        embedding_audit,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", LongType()),
        ]
    )
    rows = [
        Row(vec_id=0, embedding=None, label=0),
        Row(vec_id=1, embedding=[1.0] * (EMBED_DIM - 1), label=0),
        Row(vec_id=2, embedding=[0.0] * EMBED_DIM, label=0),
        Row(vec_id=3, embedding=[0.1] * EMBED_DIM, label=0),  # norm 0.8
        Row(vec_id=4, embedding=[1.0] * EMBED_DIM, label=0),  # norm 8.0
    ]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = {
        (r.status, r.norm_bucket): r.n_vecs
        for r in embedding_audit(spark, str(tmp_path)).collect()
    }
    assert got[("null", None)] == 2
    assert got[("zero", None)] == 1
    assert got[("ok", 3)] == 1   # norm 0.8 -> bucket floor(0.8/0.25)=3
    assert got[("ok", 32)] == 1  # norm 8.0 -> bucket 32


def test_batch_topk_equals_per_query_scans(spark, sf_dir):
    """The batched serving scan must return exactly what N separate
    cosine_topk scans return — the amortization changes the plan, never
    the answer."""
    from tf_idf_mapreduce_spark.operators.similarity import (
        BATCH_TOPK_QUERIES,
        batch_topk,
        cosine_topk,
    )

    got = {}
    for r in batch_topk(spark, sf_dir).collect():
        got.setdefault(r.query_vec_id, []).append((r.rank, r.vec_id, r.cos_sim))
    assert set(got) == set(range(BATCH_TOPK_QUERIES))
    for qv in range(BATCH_TOPK_QUERIES):
        single = [
            (i + 1, r.vec_id, r.cos_sim)
            for i, r in enumerate(
                cosine_topk(spark, sf_dir, query_vec_id=qv).collect()
            )
        ]
        assert sorted(got[qv]) == single, qv


def test_ivf_pq_recall_recounts_composed_index(spark, sf_dir):
    """The recall row recounts from the exact scan and the composed
    index's own top-k; composition can only lose candidates vs pure PQ
    when the probe prunes a true neighbor's cell."""
    from tf_idf_mapreduce_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_recall,
        ivf_pq_topk,
    )

    exact = {r.vec_id for r in cosine_topk(spark, sf_dir).collect()}
    approx = {r.vec_id for r in ivf_pq_topk(spark, sf_dir).collect()}
    r = ivf_pq_recall(spark, sf_dir).head()
    assert r.n_exact == len(exact) and r.k == 10
    assert r.n_hits == len(exact & approx)
    assert r.recall == round(r.n_hits / r.n_exact, 6)


def test_ann_scorecard_recounts_each_method(spark, sf_dir):
    """The scorecard's five rows equal the five individual recall
    queries exactly."""
    from tf_idf_mapreduce_spark.operators.similarity import (
        ann_scorecard,
        ivf_pq_recall,
        ivf_recall,
        lsh_recall,
        pq_recall,
        rp_recall,
    )

    got = {r.method: r for r in ann_scorecard(spark, sf_dir).collect()}
    assert set(got) == {"lsh", "ivf", "pq", "ivf_pq", "rp"}
    for name, fn in (
        ("lsh", lsh_recall),
        ("ivf", ivf_recall),
        ("pq", pq_recall),
        ("ivf_pq", ivf_pq_recall),
        ("rp", rp_recall),
    ):
        want = fn(spark, sf_dir).head()
        r = got[name]
        assert (r.n_hits, r.k, r.n_exact, r.recall) == (
            want.n_hits, want.k, want.n_exact, want.recall,
        ), name


def test_mmr_rerank_greedy_properties(spark, sf_dir):
    """MMR: k distinct picks in step order; step 1 is the pure-relevance
    argmax (empty penalty); the winning score is non-increasing (later
    steps choose from a smaller set under a larger penalty); and every
    pick's relevance is within the candidate pool's range."""
    from tf_idf_mapreduce_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        cosine_topk,
        mmr_rerank,
    )

    rows = mmr_rerank(spark, sf_dir).collect()
    assert [r.step for r in rows] == list(range(1, MMR_K + 1))
    ids = [r.vec_id for r in rows]
    assert len(set(ids)) == MMR_K

    top1 = cosine_topk(spark, sf_dir, k=1).head()
    assert rows[0].vec_id == top1.vec_id
    assert abs(rows[0].mmr_score - MMR_LAMBDA * rows[0].relevance) < 1e-6

    scores = [r.mmr_score for r in rows]
    assert all(a >= b - 1e-9 for a, b in zip(scores, scores[1:]))


def test_refit_decision_flips_on_planted_drift_and_rekeys_dependents(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-10 (verdict #3): the ANN lifecycle's decision half. On the
    real fixture (arrivals ~10% everywhere) the verdict is KEEP; with a
    planted drifted batch (every arrival vector moved to a far-off blob)
    the verdict flips to REFIT, and applying it bumps the quantizer
    generation — which re-keys the centroids, PQ codebooks, code table
    and SemDeDup disposition, so the stale artifacts can never resolve
    again (staleness by key construction, not by deletion)."""
    import os
    import shutil

    from tf_idf_mapreduce_spark.operators import similarity as s
    from tf_idf_mapreduce_spark.operators.curation import (
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
    )

    store = str(tmp_path / "models")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", store)

    # baseline: no cell is arrival-dominated on the real fixture
    base = s.ivf_refit_decision(spark, sf_dir).collect()
    assert base and all(not r["refit"] for r in base)

    # planted drift: same documents (same batch slice), but every batch
    # doc's embedding is a far-off deterministic blob
    drift_dir = str(tmp_path / "drifted")
    os.makedirs(drift_dir)
    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(drift_dir, "documents.parquet"),
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch_ids = {
        r["doc_id"]
        for r in docs.where(_sample_bucket() <= SAMPLE_BUCKET_MAX)
        .select("doc_id")
        .collect()
    }
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.head()["embedding"])
    n_batch = len(batch_ids)
    assert n_batch >= s.REFIT_MIN_ARRIVALS
    blob = F.array(
        *(
            [(F.lit(50.0) + (F.col("vec_id") % 7) / 4.0).cast("float")]
            + [F.lit(50.0).cast("float")] * (dim - 1)
        )
    )
    drifted = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id").isin(batch_ids), blob).otherwise(
            F.col("embedding")
        ),
    )
    drifted.coalesce(1).write.parquet(os.path.join(drift_dir, "embeddings.parquet"))

    dec = s.ivf_refit_decision(spark, drift_dir).collect()
    hot = [r for r in dec if r["drifted"]]
    assert hot and all(r["refit"] for r in dec)
    assert sum(r["n_batch"] for r in hot) == n_batch  # the whole batch drifted

    # dependents minted at generation 0
    e = drifted.select("vec_id", "embedding")
    s._pq_codebooks(e, cache_key=drift_dir)
    s.pq_code_table(spark, drift_dir).limit(1).collect()
    fam_counts0 = {
        fam: len(os.listdir(os.path.join(store, fam)))
        for fam in ("ivf_centroids", "pq_codebooks", "pq_code_table")
    }
    summary = s.apply_refit_decision(spark, drift_dir)
    assert summary["refit"] and summary["new_generation"] == 1
    assert "semantic_keep" in summary["rekeyed_dependents"]
    assert s.quantizer_generation(spark, drift_dir) == 1
    # the real fixture's generation is untouched
    assert s.quantizer_generation(spark, sf_dir) == 0

    # re-serving after the bump mints NEW artifacts; the stale ones are
    # dead directories that no key resolves to anymore
    s._pq_codebooks(e, cache_key=drift_dir)
    s.pq_code_table(spark, drift_dir).limit(1).collect()
    for fam, before in fam_counts0.items():
        after = len(os.listdir(os.path.join(store, fam)))
        assert after == before + 1, fam
