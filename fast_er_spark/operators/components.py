"""Connected components over a pair-edge DataFrame.

Alternating large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond") — the web-scale algorithm: converges in O(log^2 n)
rounds, every round is two groupBy/join shuffles on the node key, no driver
state, no collect. Used to turn verified dup-pair edges into cluster
assignments (reference analogue: the implicit transitive closure a user gets
by post-processing Fast-ER pair lists).

Each iteration localCheckpoints the edge set to truncate lineage (at real
scale this is a persisted checkpoint table, see pipeline.py).

large_star: for each node u, attach every strictly-larger neighbor to
m = min(N(u) ∪ {u}).
small_star: canonicalize edges (u > v), attach every smaller-or-equal
neighbor (and u itself) to the minimum.
Fixpoint: edge set stable => edges form stars (node -> component min).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components"]

# edge sets up to this size are collected and solved on the driver: 2M
# edges is a ~32 MB collect, far under any sane spark.driver.maxResultSize
DRIVER_MAX_EDGES = 2_000_000


def _bidir(e: DataFrame) -> DataFrame:
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _large_star(e: DataFrame, n_part: int) -> DataFrame:
    # no trailing distinct: duplicate edges are tolerated for one round and
    # collapsed by small_star's distinct — saves a shuffle per round.
    # Parallelism is pinned per-frame (repartition on the node key), NOT via
    # the session-global shuffle.partitions conf, so concurrent queries on
    # the same SparkSession are unaffected (round-1 ADVICE).
    bidir = _bidir(e).repartition(n_part, "u")
    mins = bidir.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        bidir.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )


def _small_star(e: DataFrame, n_part: int) -> DataFrame:
    # partition on u alone: HashPartitioning(u) satisfies the (u, v)
    # clustering needed by distinct() AND the u clustering of the groupBy
    # and join, so the whole step runs on ONE exchange at n_part
    ee = (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .repartition(n_part, "u")
        .distinct()
    )
    mins = ee.groupBy("u").agg(F.min("v").alias("m"))  # all v < u here
    moved = ee.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edge = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        moved.unionByName(self_edge).where(F.col("u") != F.col("v"))
        .repartition(n_part, "u").distinct()
    )


def _checksum(e: DataFrame) -> tuple[int, int]:
    # count + order-insensitive hash in ONE job that doubles as the
    # materializing action for the round's LAZY localCheckpoint: the agg
    # computes the full edge RDD, which persists the checkpoint blocks as a
    # side effect — one job per round instead of eager-checkpoint + collect
    row = e.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.coalesce(F.sum(F.xxhash64("u", "v") % F.lit(2_000_003)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["cnt"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 30,
    rows_per_partition: int = 100_000,
) -> DataFrame:
    """(id, component) with component = min node id in the component.

    ``nodes`` (optional) adds isolated nodes (their own singleton component).

    The engine is picked from the edge count, the same class of decision
    as Spark's broadcast-vs-shuffle join: verified dup-pair edge sets are
    O(duplicates), usually minute relative to the corpus, and the star
    iterations' fixed cost (2 shuffles + 1 action per round, O(log^2 n)
    rounds) dwarfs a driver union-find at small edge counts. At or under
    ``DRIVER_MAX_EDGES`` the edge list is collected and solved with
    path-compressed union-by-min — O(E alpha(E)) driver CPU, well under a
    second at the cap — and only the node-assignment frame returns to the
    cluster. Larger edge sets take the distributed large-star/small-star
    path.

    Distributed-path partitioning is sized to the EDGE COUNT, not the
    session default: iterating a small edge list across hundreds of shuffle
    partitions is pure scheduling overhead (measured: local[32] slower than
    local[8] before this). Each iteration runs at ~rows_per_partition
    edges/partition, capped by the session's shuffle parallelism.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    e = e.localCheckpoint(eager=True)
    n_edges = e.count()
    if n_edges <= DRIVER_MAX_EDGES:
        return _cc_driver(e, nodes, id_col)
    spark = e.sparkSession
    session_parallelism = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_part = max(1, min(session_parallelism, (n_edges // rows_per_partition) + 1))
    return _cc_iterate(e, nodes, id_col, max_iter, n_part)


def _cc_driver(e: DataFrame, nodes, id_col: str) -> DataFrame:
    """Driver union-find over a collected (bounded — see connected_components)
    edge list. Union-by-min + path compression: attaching the larger root
    under the smaller keeps every root the minimum of its set, so find(x)
    is exactly the distributed fixpoint's component id. The assignment frame
    returns via the Arrow createDataFrame path (vectorized batches, no
    Python-RDD scan — the tiny-frame rule's approved route for frames past
    literal-expression size)."""
    import pandas as pd

    rows = e.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    ids = set()
    for row in rows:
        u, v = row["u"], row["v"]
        ids.add(u)
        ids.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    assign = sorted((x, find(x)) for x in ids)
    spark = e.sparkSession
    id_type = e.schema["u"].dataType
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(id_col, id_type), T.StructField("component", id_type)]
    )
    out = spark.createDataFrame(
        pd.DataFrame(assign, columns=[id_col, "component"]), schema=schema
    )
    if nodes is not None:
        allnodes = nodes.select(F.col(id_col))
        isolated = allnodes.join(out.select(id_col), id_col, "left_anti").withColumn(
            "component", F.col(id_col)
        )
        out = out.unionByName(isolated)
    return out


def _cc_iterate(e: DataFrame, nodes, id_col: str, max_iter: int, n_part: int) -> DataFrame:
    prev = None
    for _ in range(max_iter):
        # lazy checkpoint: _checksum's aggregation is the materializing
        # action (see _checksum) — halves the driver-side jobs per round.
        # Why NOT persist() like linkage._fit_sparse: under AQE the lazy
        # checkpoint still runs both shuffle stages at call time and the
        # first consumer re-reads the final stage while writing checkpoint
        # blocks — but here that double pass is one map-side read of an
        # already-shuffled edge set (dup edges, ~1e2-1e6 rows/round), pennies
        # next to the two shuffles themselves. What the loop NEEDS is lineage
        # truncation: persist() keeps the logical plan growing by two
        # joins+aggregates per round, and at the O(log^2 n) round counts this
        # algorithm is chosen FOR, re-analysis cost and lost-block recompute
        # depth compound — linkage's persist rationale (one huge 2.3e8-row
        # frame, exactly two consumers, no iteration) doesn't transfer.
        e = _small_star(_large_star(e, n_part), n_part).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # fixpoint edges are (member, root); roots need their own row
    assign = e.select(F.col("u").alias(id_col), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias(id_col)).distinct().withColumn(
        "component", F.col(id_col)
    )
    out = assign.unionByName(roots).dropDuplicates([id_col])
    if nodes is not None:
        allnodes = nodes.select(F.col(id_col))
        isolated = allnodes.join(out.select(id_col), id_col, "left_anti").withColumn(
            "component", F.col(id_col)
        )
        out = out.unionByName(isolated)
    return out
