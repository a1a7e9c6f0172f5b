"""Embedding near-dup PAIR path (the scale operator): parity with the
brute-force quantized twin, recall on clustered embeddings at a production
threshold, and a no-cross-join plan guarantee."""

import numpy as np
import pytest

from fast_er_spark.operators.similarity import (
    embedding_near_dup_pairs,
    quantized_cosine_threshold,
    srp_sketch_multi,
)
from fast_er_spark.plans.inspect import formatted_plan
from fixtures.synth import embeddings


def _brute_quantized_pairs(vecs: np.ndarray, threshold: float, quantize: int = 100):
    """Ground truth with EXACTLY the operator's integer semantics."""
    num, den = quantized_cosine_threshold(threshold)
    q = np.round(vecs * quantize).astype(np.int64)
    d = q @ q.T
    nrm = (q * q).sum(axis=1)
    iu = np.triu_indices(len(vecs), 1)
    ok = (d[iu] > 0) & (
        den * den * d[iu] ** 2 >= num * num * np.outer(nrm, nrm)[iu]
    )
    # (id_a > id_b) convention
    return {(int(a), int(b)) for a, b in zip(iu[1][ok], iu[0][ok])}


@pytest.fixture(scope="module")
def emb_df(spark):
    rows, _ = embeddings(n=400, dim=32, n_clusters=8, seed=7)
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ), np.array([r[1] for r in rows], dtype=np.float64)


def test_recall_and_precision_clustered_production_threshold(spark, emb_df):
    df, vecs = emb_df
    truth = _brute_quantized_pairs(vecs, 0.9)
    assert len(truth) >= 50, "fixture must plant enough near-dup pairs"
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, dim=32, threshold=0.9, n_planes=8, n_tables=16
        ).collect()
    }
    # verification is exact -> no false positives vs the quantized truth
    assert got <= truth
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"recall {recall} over {len(truth)} pairs"


def test_ivf_method_recall_and_precision_clustered(spark, emb_df):
    """The data-adaptive candidate generator: k-means cells with
    multi-assignment spill lists. On a clustered corpus (the semantic-dedup
    case) it must reach the same recall bar as SRP."""
    df, vecs = emb_df
    truth = _brute_quantized_pairs(vecs, 0.9)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            df, dim=32, threshold=0.9, method="ivf", n_cells=16, n_assign=3,
        ).collect()
    }
    assert got <= truth
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"ivf recall {recall} over {len(truth)} pairs"


def test_matches_bruteforce_at_driver_config_sf0001(spark):
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    exact = {(r["id_a"], r["id_b"]) for r in entry.q_embedding_near_dup(spark, sf).collect()}
    lsh = {
        (r["id_a"], r["id_b"])
        for r in entry.q_embedding_near_dup_lsh(spark, sf).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_no_cross_join_in_plan(spark, emb_df):
    df, _ = emb_df
    plan = formatted_plan(
        embedding_near_dup_pairs(df, dim=32, threshold=0.9, n_planes=8, n_tables=4)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hot_bucket_star_cap_bounds_fanout(spark):
    """A mega-cluster of near-identical vectors exceeds max_bucket_size:
    pair fan-out must be the bounded star, not the m^2 clique, and the
    members must still resolve as duplicates of the pivots."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    base /= np.linalg.norm(base)
    rows = []
    for i in range(120):
        v = base + 0.01 * rng.standard_normal(16)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_near_dup_pairs(
        df, dim=16, threshold=0.9, n_planes=4, n_tables=2,
        max_bucket_size=50, star_pivots=3,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # star: every non-pivot member pairs with a pivot -> connectivity holds
    touched = {a for a, _ in pairs} | {b for _, b in pairs}
    assert len(touched) >= 118
    # bounded: the noise spreads the cluster over a few buckets (sub-cap
    # ones emit cliques), but the hot buckets emit O(star_pivots * m) stars
    # — total stays far below the 120*119/2 = 7140 single-clique fan-out
    assert len(pairs) <= 1500


def test_srp_sketch_multi_matches_single_table(spark):
    from pyspark.sql import functions as F

    from fast_er_spark.operators.similarity import srp_sketch

    rows, _ = embeddings(n=50, dim=16, seed=11)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    vecs = df.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).collect()
    multi = srp_sketch_multi(16, n_planes=6, n_tables=3)(np.array([r["v"] for r in vecs]))
    got = {r["vec_id"]: ks for r, ks in zip(vecs, multi)}
    for t in range(3):
        single = srp_sketch(16, n_planes=6, table=t)
        exp = {
            r["vec_id"]: r["k"]
            for r in df.select(
                "vec_id", single(F.col("embedding").cast("array<double>")).alias("k")
            ).collect()
        }
        for vid, ks in got.items():
            assert ks[t] == exp[vid]


def test_quantize_norm_batch_matches_expression(spark):
    """The numpy quantizer must equal F.round bit-for-bit — including
    exact-.5 doubles, where np.round (banker's) would diverge from F.round
    (HALF_UP): with quantize=2, +-0.25 -> +-0.5 -> +-1."""
    from pyspark.sql import functions as F

    from fast_er_spark.operators.similarity import quantize_norm_batch

    rows = [
        (0, [0.25, -0.25, 0.75, -0.75]),     # exact .5 multiples at q=2
        (1, [0.005, -0.005, 0.285, -0.285]),
        (2, [0.0, 1.0, -1.0, 0.499999999]),
        (3, [1e-9, -1e-9, 0.9999999, -0.123456]),
    ]
    df = spark.createDataFrame(rows, "i long, v array<double>")
    mat = np.array([v for _, v in rows])
    for q in (2, 100):
        qcol = F.transform("v", lambda x: F.round(x * q).cast("long"))
        sqn = F.aggregate(qcol, F.lit(0).cast("long"), lambda a, x: a + x * x)
        qa, na = quantize_norm_batch(mat, q)
        for r in df.select("i", qcol.alias("qe"), sqn.alias("ne")).collect():
            i = r["i"]
            assert r["qe"] == qa[i].tolist(), (q, rows[i][1], r["qe"], qa[i])
            assert r["ne"] == na[i], (q, rows[i][1], r["ne"], na[i])
