"""Distributed connected components: alternating large-star/small-star
(SURVEY §2.5 D13).

Every near-dup pipeline ends with "resolve the pair graph into
components and keep one survivor per component".  Pair sets under
:data:`.dedup.MAX_DRIVER_PAIRS` resolve on the driver
(:func:`.dedup.component_labels`); above that cap the labels come from
here.  A pathological corpus (chained edits, crawl mirrors re-mirrored,
boilerplate drift) can produce long PATHS in the pair graph, so the
distributed labeler must not need one round per hop: at 100 TB a
10,000-edge chain would mean 10,000 shuffle rounds.

This module implements the published algorithm: the alternating
**large-star / small-star** rounds (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii, "Connected Components in MapReduce and
Beyond", SoCC 2014), which contract components toward their minimum
node in **O(log² n) rounds regardless of diameter** (observed: ~2·log₂
of the longest path).  Each round is two map+groupBy passes over the
edge list.

    large-star: every node connects its LARGER neighbors to the
        minimum of its closed neighborhood;
    small-star: every node connects its smaller-or-equal neighbors
        (it has no larger ones left that matter) to that minimum.

Both steps preserve connectivity and never create new components; the
unique fixed point is each component collapsed to a star centered at
its minimum id.  Convergence is detected by an edge-set checksum
(count + xor of xxhash64), one tiny aggregate per round.

Scale shape: state is only the edge list, re-partitioned by center
node each half-round; no driver-side graph, no vertex program
framework.  ``localCheckpoint`` truncates lineage every round.

Reference provenance: the reference plugin (Cassandra KV/lease layer)
has no graph machinery; this is LLM-pipeline closure, independent
implementation of the published algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Round budget of connected_components_star.  Rounds grow with ~2·log₂
# of the longest path, so exhausting 30 means a component graph deeper
# than any physical corpus can produce (2³⁰-chain) - a bug, not a
# tuning problem.
MAX_STAR_ROUNDS = 30


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge list: (u, v) with u < v, distinct, no
    self-loops."""
    return (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """(edge count, order-free xor of 64-bit edge hashes) — the
    convergence fingerprint.  XOR is overflow-free under ANSI mode and
    commutative; a false collision needs two different edge sets with
    equal count AND equal 64-bit xor, and would merely end the loop one
    round early on an already-connectivity-preserving edge set."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of each node to the min
    of that node's closed neighborhood."""
    nbrs = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return _canon(
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Center each edge at its larger endpoint; connect all of the
    center's (smaller) neighbors, and the center itself, to the
    neighborhood min."""
    oriented = edges.select(F.col("v").alias("c"), F.col("u").alias("n"))
    mins = oriented.groupBy("c").agg(F.min("n").alias("m"))
    relink = (
        oriented.join(mins, "c")
        .filter(F.col("n") != F.col("m"))
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
    )
    center = mins.select(F.col("c").alias("u"), F.col("m").alias("v"))
    return _canon(relink.unionByName(center))


def connected_components_star(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Component label (= component minimum id) for every node of a
    non-self-loop edge in ``pairs``: returns (node, label).  Nodes in no
    edge get no row - they are their own singleton components.

    Rounds are large-star + small-star pairs; convergence (edge-set
    fixed point = per-component stars) typically lands in
    ~log₂(longest path) rounds.  Raises ``RuntimeError`` if
    :data:`MAX_STAR_ROUNDS` is exhausted.
    """
    edges = _canon(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    ).localCheckpoint()
    prev = _checksum(edges)
    for _ in range(MAX_STAR_ROUNDS):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star connected-components did not converge in "
            f"{MAX_STAR_ROUNDS} rounds - edge set still changing"
        )
    # fixed point: every component is a star (min, v) with min < v
    members = edges.select(F.col("v").alias("node"), F.col("u").alias("label"))
    centers = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    return members.unionByName(centers)
