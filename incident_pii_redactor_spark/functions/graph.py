"""Connected components over candidate-pair edges — exact cluster
assignment for dedup (a near-dup CHAIN A-B-C is one cluster with one
keeper, where the one-step min-wins policy in jobs/dedup.py keeps A and
drops B,C without ever confirming A-C).

Algorithm: iterative minimum-label propagation — every node repeatedly
takes the min of its own label and its neighbors' labels until a fixed
point; converges in O(graph diameter) rounds. Each round is one
key-partitioned join + aggregate (no driver-side graph state), and the
per-round ``localCheckpoint`` truncates the lineage — without it the
plan doubles every iteration and the optimizer chokes long before the
data does. Web near-dup graphs have tiny diameters (mirror clusters
are near-cliques), so propagation is the right default; for long-chain
graphs ``connected_components_star`` implements the alternating
large-star/small-star formulation (Kiveris et al. 2014, "Connected
Components in MapReduce and Beyond") whose round count is
O(log^2 n) independent of diameter, and ``algorithm="auto"`` falls
back to it when the propagation budget is exhausted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    algorithm: str = "auto",
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id of the component.

    ``max_iter`` budgets the label-propagation rounds exactly; for the
    star phase (``algorithm="star"`` or the ``"auto"`` fallback) it is
    CLAMPED to a 40-round floor — ADVICE round 4: this clamp is part
    of the wrapper's contract, documented here so a deliberately tight
    budget is not silently honored-then-raised differently between
    entry points. Call :func:`connected_components_star` directly for
    an unclamped star budget (it raises past it).

    ``algorithm``:
      * ``"label"`` — min-label propagation, O(diameter) rounds; raises
        if the fixed point is not reached within ``max_iter`` rounds
        (rather than returning a silently under-merged labeling).
      * ``"star"`` — alternating large-star/small-star (Kiveris et al.
        2014), O(log^2 n) rounds regardless of diameter: the escape
        hatch for long-chain graphs.
      * ``"auto"`` (default) — label propagation first (cheapest on the
        near-clique mirror clusters web dedup actually produces); if
        the diameter exceeds the ``max_iter`` budget, falls back to the
        star algorithm instead of raising."""
    if algorithm not in ("auto", "label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # a caller-raised budget applies to the star phase too (review
    # round 4: it was silently dropped); the 40-round safety net stays
    # a FLOOR because star needs O(log^2 n) rounds even on graphs where
    # label propagation's small default would have sufficed
    star_iter = max(max_iter, 40)
    if algorithm == "star":
        return connected_components_star(edges, src, dst, star_iter)
    try:
        return _connected_components_label(edges, src, dst, max_iter)
    except RuntimeError:
        if algorithm == "label":
            raise
        return connected_components_star(edges, src, dst, star_iter)


def _connected_components_label(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # no ``.distinct()``: every consumer of sym is a min-aggregate
    # (init groupBy(u).min, per-round nbr groupBy(u).min(vcomp)), and
    # duplicate edges cannot change a min — dropping the dedup removes
    # the only shuffle from the edge-materialization job
    sym = sym.union(
        sym.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    # init = the first propagation round fused in: comp0 = min(node,
    # min neighbor). The old node-list ``distinct()`` cost the same
    # shuffle as this groupBy but started every component at its own id,
    # spending one full join round on the first hop.
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(F.col("u").alias("node"),
                F.least(F.col("u"), F.col("_mv")).alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(F.col("node").alias("v"),
                              F.col("comp").alias("vcomp")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("nbr_min"))
        )
        # the change flag rides INSIDE the checkpointed row (labels are
        # monotonically non-increasing, so "changed" == "nbr_min < comp")
        # — the former separate old-vs-new join re-shuffled both label
        # generations every round just to detect convergence; now the
        # check is one cheap scan of the already-materialized checkpoint
        new = (
            labels.join(nbr.withColumnRenamed("u", "node"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"),
                    F.coalesce("nbr_min", F.col("comp")),
                ).alias("comp"),
                F.coalesce(F.col("nbr_min") < F.col("comp"), F.lit(False))
                .alias("_chg"),
            )
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        changed = new.filter("_chg").limit(1).count()
        new = new.drop("_chg")
        prev, labels = labels, new
        # drop the superseded generation's last reference NOW: its
        # localCheckpoint blocks are freed by refcount-driven JVM
        # cleanup, so at most two generations (plus sym) are ever live —
        # not max_iter of them
        del prev
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no fixed point within {max_iter} rounds "
        "(graph diameter exceeds the budget) — raise max_iter or use "
        "algorithm='star' for long-chain graphs"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond", two-phase algorithm): converges in O(log^2 n) rounds
    independent of graph diameter — a length-10^6 chain finishes in
    ~20 rounds where min-label propagation would need 10^6.

    Each round is two grouped aggregations + equi-joins on node ids (no
    driver-side graph state); ``max_iter`` is a safety net far above
    the theoretical bound, not a tuning knob. At the fixed point the
    edge set is a forest of stars centered at each component's minimum
    node, which IS the (node, comp) labeling."""
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)  # truncate before the iteration
    )
    e = raw.filter(F.col("u") != F.col("v")).distinct() \
           .localCheckpoint(eager=True)
    n_edges = e.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break  # every component is a single node
        # -- large-star: attach every neighbor LARGER than u to
        #    m = min(N(u) + {u})
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        big = (
            sym.join(
                sym.groupBy("u").agg(F.min("v").alias("mv"))
                   .select("u", F.least("u", "mv").alias("m")),
                "u",
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: orient (larger -> smaller), attach the center
        #    and every smaller neighbor to m = min(N(u))
        oriented = big.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        withmin = oriented.join(
            oriented.groupBy("u").agg(F.min("v").alias("m")), "u")
        new = (
            withmin.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(withmin.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)  # truncate iterative lineage
        )
        new_n = new.count()
        converged = (
            new_n == n_edges
            and new.exceptAll(e).limit(1).count() == 0
        )
        prev, e, n_edges = e, new, new_n
        del prev  # refcount-GC the superseded generation's blocks
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: no fixed point within "
            f"{max_iter} rounds — theoretically impossible below "
            "n ~ 2^sqrt(max_iter); check for non-deterministic ids"
        )
    # stars point child -> component min; roots label themselves
    return (
        nodes.join(
            e.select(F.col("u").alias("node"), F.col("v").alias("parent")),
            "node", "left",
        )
        .select("node",
                F.coalesce("parent", F.col("node")).alias("comp"))
    )


def cluster_keepers(edges: DataFrame, src: str = "id_a",
                    dst: str = "id_b", max_iter: int = 20,
                    algorithm: str = "auto") -> DataFrame:
    """(node, keeper) for every node in ``edges`` — ``keeper`` is the
    component minimum; rows with node != keeper are the exact drop set
    for cluster-level dedup."""
    cc = connected_components(edges, src, dst, max_iter, algorithm)
    return cc.select("node", F.col("comp").alias("keeper"))
