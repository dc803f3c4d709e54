"""Connected components via alternating large-star / small-star rounds.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SoCC'14) — the two-phase
star-contraction method the north_star names. Each round is two
groupBy+join DataFrame jobs; the edge set converges to a union of stars
centered at each component's minimum vertex id in O(log^2 n) rounds
(O(log n) in practice).

The reference repo has no component computation; this is engine-new per
``BASELINE.json`` ``north_rule``. Exactness requirement: component ids match a
union-find oracle exactly (component id = min vertex id in the component).

Convergence detection is a (count, bit_xor(xxhash64(src,dst))) signature of
the canonicalized edge set — O(E) with no driver-side edge materialization.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from halvesting_geometric_spark.plans.checkpoint import CheckpointManager


@dataclass
class ComponentsResult:
    components: DataFrame  # (vertex_id, component)
    rounds: int
    num_components: int
    metrics: list[dict] = field(default_factory=list)


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    The symmetrized view is NOT deduplicated: the min-aggregate is
    duplicate-insensitive and the output is deduplicated below, so the
    inner distinct was a pure extra shuffle per round (and with the round
    input canonicalized in :func:`connected_components`, the union is
    duplicate-free anyway).
    """
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("min_dst"))
        .select("src", F.least("min_dst", "src").alias("m"))
    )
    out = (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller neighbor of u (and u) to the minimum.

    Like :func:`_large_star`, the canonicalized view skips its own
    distinct: the min-aggregate ignores duplicates and the final
    ``dropDuplicates`` normalizes the output — one less shuffle per round.
    Duplicate rows fan out the ``nbr_edges`` join pre-dedup, but the
    large-star input is already duplicate-free (its own output dedup), so
    the fan-out is 1:1 in the alternating loop.
    """
    directed = edges.filter(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = directed.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select("src", F.col("m").alias("dst"))
    out = nbr_edges.unionByName(self_edges)
    return out.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).dropDuplicates(["a", "b"]).agg(
        F.count("*").alias("cnt"), F.bit_xor(F.xxhash64("a", "b")).alias("sig")
    ).first()
    return int(row["cnt"]), int(row["sig"] if row["sig"] is not None else 0)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> ComponentsResult:
    """Exact connected components; component id = min vertex id in component.

    ``vertices`` (optional, ``vertex_id`` column): isolated vertices become
    their own singleton components.
    """
    spark = edges.sparkSession
    # canonical (src<dst) initial form: both directions of a pair collapse
    # to one row, so the symmetrized large-star view is duplicate-free and
    # the round works on the minimal edge set. Star-contraction only
    # depends on the undirected edge SET, so results are unchanged.
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    start_round = 0
    last = checkpoint.latest_iteration() if resume and checkpoint is not None else None
    if last is not None:
        start_round = last + 1
        cur = checkpoint.load_state(last).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    prev_sig = _signature(cur)
    rounds = start_round
    all_metrics: list[dict] = []
    prev_cache: DataFrame | None = cur
    for rounds in range(start_round, max_rounds):
        t0 = time.monotonic()
        nxt_raw = _small_star(_large_star(cur)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        row = {"iteration": rounds}
        if checkpoint is not None:
            nxt = checkpoint.save_state(rounds, nxt_raw, metrics=row)
            sig = _signature(nxt)
            nxt_raw.unpersist()
            if prev_cache is not None:
                prev_cache.unpersist()
            prev_cache = None
        else:
            # ONE job per round: the signature aggregate materializes the
            # round's cache; lineage truncates through a LAZY localCheckpoint
            # that computes inside the NEXT round's job, so the previous
            # round's cache is the one released here (see pagerank.py)
            sig = _signature(nxt_raw)
            nxt = nxt_raw.localCheckpoint(eager=False)
            if prev_cache is not None:
                prev_cache.unpersist()
            prev_cache = nxt_raw
        row.update(
            {"edges": sig[0], "signature": sig[1],
             "wall_sec": time.monotonic() - t0}
        )
        all_metrics.append(row)
        cur = nxt
        if sig == prev_sig:
            rounds += 1
            break
        prev_sig = sig
    else:
        rounds = max_rounds

    # At the fixpoint the edge set is a union of stars (v → component min).
    sym = cur.unionByName(
        cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    comp = sym.groupBy("src").agg(F.min("dst").alias("nbr_min")).select(
        F.col("src").alias("vertex_id"),
        F.least(F.col("nbr_min"), F.col("src")).alias("component"),
    )
    if vertices is not None:
        comp = (
            vertices.select("vertex_id")
            .join(comp, "vertex_id", "left")
            .select(
                "vertex_id",
                F.coalesce("component", F.col("vertex_id")).alias("component"),
            )
        )
    comp = comp.persist(StorageLevel.MEMORY_AND_DISK)
    n_comp = comp.select("component").distinct().count()
    if prev_cache is not None:
        prev_cache.unpersist()
    return ComponentsResult(
        components=comp, rounds=rounds, num_components=n_comp, metrics=all_metrics
    )
