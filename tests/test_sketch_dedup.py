"""Sketch path: MinHash-LSH candidates + exact verification + connected
components, validated against the brute-force oracle on the planted-dup
corpus (FIXTURES.md F1). This is the BASELINE.json recall >= 0.99 gate."""

import random

import pytest

from fixtures.synth import pages
from oracle.reference import connected_components as cc_oracle
from oracle.reference import jaccard_dup_pairs


N_GRAM = 3
THRESHOLD = 0.8


@pytest.fixture(scope="module")
def corpus(spark):
    rows, truth_pairs, truth_clusters = pages(n=400, seed=42)
    df = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    ).cache()
    texts = {r["doc_id"]: r["text"] for r in rows}
    return df, texts


def test_lsh_verified_pairs_recall(spark, corpus):
    from fast_er_spark.operators.lsh import lsh_candidate_pairs
    from fast_er_spark.operators.verify import verify_pairs_jaccard

    df, texts = corpus
    cand = lsh_candidate_pairs(df, "doc_id", "text", num_perm=128, bands=32,
                               rows_per_band=4, n=N_GRAM, seed=42)
    verified = verify_pairs_jaccard(cand, df, "doc_id", "text", n=N_GRAM,
                                    threshold=THRESHOLD)
    got = {(int(r.id_a), int(r.id_b)) for r in verified.collect()}

    want = jaccard_dup_pairs(texts, n=N_GRAM, mode="word", threshold=THRESHOLD)
    assert want, "fixture planted no dup pairs — broken fixture"
    # precision is exact by construction: verification IS the oracle measure
    assert got <= want, f"false positives: {sorted(got - want)[:5]}"
    recall = len(got & want) / len(want)
    assert recall >= 0.99, f"recall {recall:.4f} < 0.99 ({len(want) - len(got)} missed)"


def test_connected_components_vs_union_find(spark):
    from fast_er_spark.operators.components import connected_components

    rng = random.Random(5)
    # adversarial: long chain + random clusters + isolated nodes
    edges = [(i + 1, i) for i in range(30)]  # chain 0..30
    for _ in range(120):
        a, b = rng.randrange(100, 200), rng.randrange(100, 200)
        if a != b:
            edges.append((max(a, b), min(a, b)))
    nodes = list(range(0, 220))
    e_df = spark.createDataFrame(edges, "id_a long, id_b long")
    n_df = spark.createDataFrame([(n,) for n in nodes], "id long")
    got = {
        (int(r.id), int(r.component))
        for r in connected_components(e_df, nodes=n_df).collect()
    }
    want_map = cc_oracle(nodes, edges)
    want = {(n, c) for n, c in want_map.items()}
    assert got == want


def test_connected_components_engines_agree(spark, monkeypatch):
    """The driver union-find (edge count at or under DRIVER_MAX_EDGES) must
    emit exactly the distributed star-fixpoint's assignments — same rows,
    same min-id components, isolated nodes included."""
    from fast_er_spark.operators import components
    from fast_er_spark.operators.components import connected_components

    rng = random.Random(11)
    edges = [(i + 1, i) for i in range(25)]
    for _ in range(150):
        a, b = rng.randrange(50, 400), rng.randrange(50, 400)
        if a != b:
            edges.append((max(a, b), min(a, b)))
    nodes = [(n,) for n in range(0, 420)]
    e_df = spark.createDataFrame(edges, "id_a long, id_b long")
    n_df = spark.createDataFrame(nodes, "id long")

    calls = []
    for name in ("_cc_driver", "_cc_iterate"):
        fn = getattr(components, name)
        monkeypatch.setattr(
            components, name, lambda *a, _fn=fn, _n=name: (calls.append(_n), _fn(*a))[1]
        )

    def run(cap):
        monkeypatch.setattr(components, "DRIVER_MAX_EDGES", cap)
        out = connected_components(e_df, nodes=n_df)
        return {(int(r.id), int(r.component)) for r in out.collect()}, out.schema

    drv, drv_schema = run(len(edges))  # exactly at the cap: driver
    dist, dist_schema = run(len(edges) - 1)  # one edge over: distributed
    assert calls == ["_cc_driver", "_cc_iterate"]
    assert dist == drv
    # schema parity: downstream casts rely on identical column types
    assert drv_schema == dist_schema


def test_cluster_assignments_match_oracle(spark, corpus):
    from fast_er_spark.operators.components import connected_components
    from fast_er_spark.operators.lsh import lsh_candidate_pairs
    from fast_er_spark.operators.verify import verify_pairs_jaccard

    df, texts = corpus
    cand = lsh_candidate_pairs(df, "doc_id", "text", num_perm=128, bands=32,
                               rows_per_band=4, n=N_GRAM, seed=42)
    verified = verify_pairs_jaccard(cand, df, "doc_id", "text", n=N_GRAM,
                                    threshold=THRESHOLD)
    clusters = connected_components(
        verified, nodes=df.selectExpr("doc_id as id"), max_iter=30
    )
    got = {int(r.id): int(r.component) for r in clusters.collect()}

    want_pairs = jaccard_dup_pairs(texts, n=N_GRAM, mode="word", threshold=THRESHOLD)
    want = cc_oracle(sorted(texts), [(a, b) for a, b in want_pairs])
    # compare cluster PARTITIONS on the docs the engine saw
    agree = sum(1 for k in want if got.get(k) == want[k])
    assert agree / len(want) >= 0.99


def test_band_buckets_drops_null_signatures(spark):
    """xxhash64 ignores a null slice, so without the explicit filter every
    null-signature row (e.g. blank docs under the JVM OPH kernel) would
    land in the same constant bucket per band and pair with each other."""
    from pyspark.sql import functions as F

    from fast_er_spark.operators.lsh import band_buckets

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, None), (3, None)],
        "id long, minhash array<long>",
    )
    out = band_buckets(df, "id", "minhash", bands=2, rows_per_band=2)
    ids = {r["id"] for r in out.select("id").distinct().collect()}
    assert ids == {1}


def test_cc_lazy_checkpoint_saves_one_job_per_round(spark):
    """The round checksum is the materializing action for a LAZY
    localCheckpoint — an eager checkpoint burns one extra job per round.
    Run the identical star-iteration loop with each mode and assert the
    lazy twin (what _cc_iterate uses) needs strictly fewer driver jobs for
    the same fixpoint."""
    import random

    from pyspark.sql import functions as F

    import fast_er_spark.operators.components as C

    rng = random.Random(3)
    edges = [(i, i + 1) for i in range(0, 1500, 3)] + [
        (rng.randint(0, 1500), rng.randint(0, 1500)) for _ in range(800)
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long").localCheckpoint(eager=True)
    df.count()
    sc = spark.sparkContext

    def run_loop(eager):
        e = df.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).where(
            F.col("u") != F.col("v")
        ).localCheckpoint(eager=True)
        prev, rounds = None, 0
        for _ in range(30):
            e = C._small_star(C._large_star(e, 4), 4).localCheckpoint(eager=eager)
            cur = C._checksum(e)
            rounds += 1
            if cur == prev:
                break
            prev = cur
        return sorted(r["u"] for r in e.select("u").collect()), rounds

    sc.setJobGroup("cc_lazy", "x")
    lazy_fix, lazy_rounds = run_loop(False)
    sc.setJobGroup("cc_eager", "x")
    eager_fix, eager_rounds = run_loop(True)
    sc.setJobGroup(None, None)
    lazy_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_lazy"))
    eager_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_eager"))
    assert lazy_fix == eager_fix and lazy_rounds == eager_rounds
    assert lazy_jobs < eager_jobs, (lazy_jobs, eager_jobs)
