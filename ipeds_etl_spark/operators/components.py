"""Connected components over candidate-pair edge lists.

The missing last stage of a dedup pipeline: LSH/SimHash emit *pairs*,
but the keep/drop decision needs *clusters* — if A~B and B~C, one
canonical survivor for {A,B,C}. Components = min-id label propagation
(each node repeatedly adopts the smallest label among itself and its
neighbors) — deterministic, converges in O(graph diameter) rounds.

Spark shape per round: one join (edges ⋈ labels on dst) + one
min-aggregate per src + one left join back — all hash-shuffles on node
id. Lineage is truncated every round with ``localCheckpoint`` (an
iterative plan otherwise grows unboundedly and re-executes from
scratch each action); on a cluster with unreliable executors, swap in
reliable ``checkpoint`` to HDFS. Dedup clusters have tiny diameters
(near-dups of near-dups are near-dups), so rounds ≈ 2-4 in practice;
the big-graph alternative (alternating large-star/small-star,
Kiveris et al. 2014) drops in here if diameters ever grow.

Determinism: the fixpoint (min reachable id per node) is unique — the
DuckDB oracle computes the same labels with a recursive CTE and the
driver value-hash-checks them (CORRECTNESS row ``dedup_components``).

Build-time jobs: both fixpoints run Spark jobs when they are CALLED,
not when their result is executed. Whether another round is needed is
a fact of the data, so each round materializes its labels
(``localCheckpoint``, eager) and probes them for a change before the
loop decides; the returned frame is the materialized fixpoint. A
query that labels the ``lsh_doc_pairs`` graph therefore reads the
memoized ``indexes.lsh_doc_components`` instead of calling
``connected_components`` itself, so its warm build runs no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve an undirected edge list into components.

    Returns ``(id, component_id)`` for every node that appears in an
    edge; ``component_id`` is the minimum node id in the component
    (the canonical survivor in dedup terms). Nodes with no candidate
    pair are their own singleton component — join them back with a
    left join + ``coalesce(component_id, id)`` if needed.

    Raises ``RuntimeError`` if the fixpoint has not converged after
    ``max_iters`` rounds (graph diameter > ``max_iters``): partially-
    propagated labels are silently WRONG and must never flow into
    keep/drop verdicts. Raise ``max_iters`` (rounds are O(diameter))
    or switch to the large-star/small-star formulation for
    pathological-diameter graphs.
    """
    # Both edge directions come from ONE pass over the (possibly
    # expensive — e.g. a whole LSH pipeline) pairs input via a map-only
    # explode: a union of two selects would execute the upstream twice
    # inside the checkpoint. Edges are re-joined on dst EVERY round:
    # pre-partition them on the join key once (one upfront exchange) so
    # the checkpointed RDD's hash partitioning is reused each round
    # instead of re-shuffling the (larger) edge side per iteration.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .repartition("dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # both sides scale with the graph: pin shuffle_hash so AQE can
        # never size the (30x-compressible) label side from compressed
        # shuffle bytes and elect a driver-OOMing broadcast — the same
        # defect class the sf10 smoke caught on the LPA label join
        nbr_min = (
            edges.join(labels.hint("shuffle_hash"), edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # carry the previous label through the update so the
        # convergence probe is a filter over the ALREADY-materialized
        # checkpoint — not a per-round labels⋈labels join+shuffle
        new_full = (
            labels.join(nbr_min.hint("shuffle_hash"), labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
                F.col("comp").alias("prev_comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_full.filter(F.col("comp") != F.col("prev_comp")).limit(1).count()
        )
        labels = new_full.select("id", "comp")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} rounds "
            "(graph diameter exceeds max_iters) — labels would be silently "
            "wrong; raise max_iters or use a star-contraction variant"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select("id", F.col("comp").alias("component_id"))


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Components via alternating large-star/small-star contraction
    (Kiveris et al. 2014) — the big-diameter escape hatch.

    Min-label propagation (``connected_components``) needs O(diameter)
    rounds: fine for dedup clusters (diameter 2-4), hopeless for
    chain-shaped graphs (a 10⁶-node path = 10⁶ rounds). Star
    contraction converges in O(log² n) rounds on ANY topology by
    rewiring every node toward its neighborhood minimum each round:

    * large-star: for each node u, every LARGER neighbor is re-pointed
      at ``m = min(N(u) ∪ {u})``;
    * small-star: orient edges (big → small); every node in
      ``N(u) ∪ {u}`` is pointed at the minimum.

    Both steps are a window-min over the node id plus a projection —
    NO ``collect_set``: a celebrity node's edges stream through its
    (sorted) window partition instead of materializing a degree-sized
    array in an agg buffer. Convergence = the canonical edge set is a
    fixpoint, checked EXACTLY (``exceptAll`` probe, not a checksum
    that could collide); per-round lineage is truncated with
    ``localCheckpoint`` like the label-propagation form.

    Returns the same contract as ``connected_components``:
    ``(id, component_id)`` with component_id = min node id — the two
    algorithms are interchangeable (equivalence is pinned by test on
    random graphs), so callers pick by expected diameter.
    """
    w_u = Window.partitionBy("u")
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # large-star: undirected neighborhoods, larger neighbors rewire
        nbrs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_lg = F.least(F.min("v").over(w_u), F.col("u"))
        lg = (
            nbrs.withColumn("m", m_lg)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star over (big → small) orientation
        sm0 = lg.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        with_m = sm0.withColumn("m", F.min("v").over(w_u))
        new_edges = (
            with_m.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(with_m.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # one symmetric-difference probe job per round, not two
        if (
            new_edges.exceptAll(edges)
            .unionByName(edges.exceptAll(new_edges))
            .limit(1)
            .count()
            == 0
        ):
            converged = True
            edges = new_edges
            break
        edges = new_edges
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_iters} "
            "rounds — O(log² n) bound exceeded, which indicates a bug or an "
            "adversarial id space, not a diameter problem"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # at the fixpoint every edge is (node → component root)
    return nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("root")),
        "id",
        "left",
    ).select("id", F.coalesce("root", F.col("id")).alias("component_id"))


def graph_stats(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    pairs_canonical: bool = False,
) -> DataFrame:
    """Single-row profile of a candidate-pair graph: node/edge counts,
    max degree, and the exact triangle count — the shape sanity-check
    you run on a dedup pair graph before trusting its clusters (a
    triangle-dense blob means the LSH band width is admitting a
    near-clique of boilerplate).

    Triangles use the standard oriented two-join formulation (count
    each triangle once as a < b < c): wedges from e(a,b) ⋈ e(b,c),
    closed by e(a,c). Both are equi-joins that shuffle on a node id —
    the MapReduce-canonical algorithm. At web scale the orientation
    should be by DEGREE rank rather than raw id so a low-id hub cannot
    concentrate wedges in one task; id orientation is kept here
    because dedup pair graphs have bounded degree by construction
    (hot buckets are rank-capped upstream).

    The four statistics are single-row aggregates combined with a 1-row
    cross join (no driver collect). ``pairs_canonical=True`` asserts
    the producer already emits distinct pairs with ``id_a < id_b``
    (``lsh_candidate_pairs`` and friends do) and skips the defensive
    re-canonicalization — one fewer shuffle over the edge list."""
    # materialize the edge list once: it feeds FOUR branches (degree,
    # both wedge sides, closure), and without truncation each branch
    # re-executes the entire upstream candidate pipeline — four corpus
    # scans at 100 TB. The edge list itself is the small artifact
    # (pairs, not documents).
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    if not pairs_canonical:
        e = (
            e.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )
    e = e.localCheckpoint()
    deg = (
        e.select(F.col("a").alias("u"))
        .unionByName(e.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wedges = e.select(F.col("a").alias("x"), F.col("b").alias("y")).join(
        e.select(F.col("a").alias("y"), F.col("b").alias("z")), "y"
    )
    tri = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")), ["x", "z"]
    )
    return (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.max("d").alias("max_degree"),
            # Σdeg = 2|E| exactly, so the edge count rides the degree
            # aggregate — no separate n_edges branch, one fewer
            # single-row agg + cross join in the plan
            (F.sum("d") / 2).cast("long").alias("n_edges"),
        )
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
        .select("n_nodes", "n_edges", "max_degree", "n_triangles")
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    algorithm: str = "label",
) -> DataFrame:
    """Components + per-cluster size and the keep/drop verdict
    (canonical survivor = min id). ``algorithm``: ``"label"`` =
    min-label fixpoint (O(diameter) rounds — right for dedup's tiny
    clusters), ``"star"`` = large/small-star contraction (O(log² n)
    rounds on any topology). Identical output on self-loop-free edge
    lists (all LSH candidate feeds: pairs come out ``a < b``); a node
    appearing ONLY in self-pairs is a singleton under ``label`` but
    dropped by ``star``, which filters ``u != v`` before building its
    node set."""
    if algorithm == "label":
        comps = connected_components(pairs, id_a, id_b)
    elif algorithm == "star":
        comps = connected_components_star(pairs, id_a, id_b)
    else:
        raise ValueError(f"unknown components algorithm: {algorithm!r}")
    return cluster_verdicts(comps)


def cluster_verdicts(comps: DataFrame) -> DataFrame:
    """``(id, component_id)`` labels → ``(id, component_id,
    component_size, keep)``: the per-cluster size window and the
    keep/drop verdict (canonical survivor = min id). Lazy — it runs no
    job, so a reader of memoized labels keeps it in its own plan."""
    w_size = F.count("*").over(Window.partitionBy("component_id"))
    return comps.select(
        "id",
        "component_id",
        w_size.cast("long").alias("component_size"),
        (F.col("id") == F.col("component_id")).alias("keep"),
    )
