"""Graph operators for dedup pipelines: connected components over a
near-dup pair list.

The dedup layer produces PAIRS (minhash_lsh_pairs, simhash buckets,
embedding_near_dup_pairs); turning pairs into removable duplicate sets
needs the transitive closure — docs A~B and B~C are one cluster even when
A~C was never emitted.  ``connected_components`` computes that closure as
min-label propagation, returning (node, component) where component is the
smallest node id in the cluster (a natural canonical-representative
choice: keep ``node == component``, drop the rest).

Scale design:
- one shuffle per iteration (a join on node id + a min-aggregate), with
  iteration count bounded by the cluster DIAMETER — near-dup graphs are
  dense blobs with tiny diameters, so 3-5 iterations is typical even at
  corpus scale;
- labels only ever decrease, so convergence is detected from the
  monotone sum of labels (one scalar agg per iteration, no change-join);
- each iteration is checkpointed: iterative DataFrame loops otherwise
  double the lineage every pass, and the checkpoint also caches the frame
  the convergence check just computed.  Every iterative operator here
  takes ``checkpoint="local"`` (default; executor-block localCheckpoint,
  zero config) or ``"reliable"`` (``spark.sparkContext.setCheckpointDir``
  + ``DataFrame.checkpoint`` — survives executor loss, the mode for
  preemptible clusters); see operators/_ckpt.py for the trade-off;
- for adversarially long chains or whale components, the
  large-star/small-star variant (Kiveris et al., "Connected Components
  in MapReduce and Beyond") halves path lengths per round (O(log d)
  rounds); min-label propagation is the right default for near-dup
  workloads and keeps the per-round plan to one join + one aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._ckpt import make_checkpointer


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 25,
    node_col: str = "node",
    comp_col: str = "component",
    algorithm: str = "minlabel",
    checkpoint: str = "local",
) -> DataFrame:
    """Connected components of the undirected graph given by pair rows.

    Returns one row per distinct node with its component id (the minimum
    node id reachable from it).  Raises if ``max_iterations`` rounds do
    not reach the fixpoint — that means a component has a diameter
    larger than the budget, not silent wrong answers.

    ``algorithm="minlabel"`` (default) converges in O(diameter) rounds —
    the right choice for near-dup blobs (diameter 3-5).
    ``algorithm="star"`` is the large-star/small-star formulation
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which halves path lengths every round — O(log d) rounds, the scale
    path for chain-heavy graphs whose diameter exceeds the round budget.
    """
    ckpt = make_checkpointer(checkpoint)
    if algorithm == "star":
        return _connected_components_star(
            pairs, id_a, id_b, max_iterations, node_col, comp_col, ckpt
        )
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm {algorithm!r}: use 'minlabel' or 'star'")
    # both directions from ONE scan of pairs (a union of two selects would
    # evaluate the upstream pair pipeline — often an expensive dedup plan —
    # twice).  Lazy checkpoint, not persist+unpersist: the blocks are
    # computed once (first fingerprint action), shared by RDD identity by
    # every iteration's join, and reclaimed by the ContextCleaner when the
    # result frame is GC'd — no CacheManager entry to leak and no
    # unpersist-ordering hazard.  NOTE a pre-join repartition on the join
    # key would NOT remove the per-iteration exchange: under AQE the
    # checkpointed LogicalRDD reports UnknownPartitioning (measured on
    # this Spark build — see OPTIMIZATION_r11.md), so the join re-shuffles
    # regardless and the repartition is a pure extra pass at scale.
    edges = ckpt(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
    )
    # label(n) = min(n, min neighbor) — one aggregate over the edge list
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least(F.col("src"), F.col("mn")).alias("label"))
    )
    labels = ckpt(labels)

    # Convergence fingerprint: decimal sum of xxhash64(label), NOT a raw
    # F.sum(label) — a raw sum silently casts string labels to double
    # (NULL sum -> instant false convergence and WRONG components) and can
    # overflow a long for 64-bit hash-derived ids; the decimal(38,0) hash
    # sum is exact for any label type (same guard the star variant uses).
    # A hash-sum COLLISION could still fake convergence, so an equal
    # fingerprint is confirmed with an exact per-node label comparison
    # before returning — one extra join only on the final round.
    def fingerprint(lb: DataFrame):
        return lb.agg(
            F.sum(F.xxhash64("label").cast("decimal(38,0)")).alias("h")
        ).collect()[0]["h"]

    prev_labels = labels
    prev_sum = fingerprint(labels)

    for _ in range(max_iterations):
        # propagate each node's label to its neighbors, keep the min seen
        nbr = edges.join(
            labels.select(F.col("src").alias("dst"), F.col("label")), "dst"
        ).select("src", "label")
        labels = (
            nbr.union(labels.select("src", "label"))
            .groupBy("src")
            .agg(F.min("label").alias("label"))
        )
        labels = ckpt(labels)
        cur_sum = fingerprint(labels)
        if cur_sum == prev_sum:
            n_changed = (
                labels.join(
                    prev_labels.select(
                        "src", F.col("label").alias("__prev_label")
                    ),
                    "src",
                )
                .where(~F.col("label").eqNullSafe(F.col("__prev_label")))
                .count()
            )
            if n_changed == 0:
                return labels.select(
                    F.col("src").alias(node_col), F.col("label").alias(comp_col)
                )
        prev_sum = cur_sum
        prev_labels = labels

    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations; "
        "a component's diameter exceeds the budget — raise max_iterations or "
        "switch to the large-star/small-star formulation for chain-heavy graphs"
    )


def _connected_components_star(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    max_iterations: int,
    node_col: str,
    comp_col: str,
    ckpt,
) -> DataFrame:
    """Two-phase star algorithm (Kiveris et al. 2014, §3: Two-Phase):
    alternate

    - **large-star**: every node connects its strictly-larger neighbors to
      the minimum of its neighborhood (incl. itself);
    - **small-star**: every node connects its smaller-or-equal neighbors
      (and itself) to that minimum;

    each round at most halves the length of any path to the component
    minimum, so the fixpoint — a star per component, every member pointing
    at the component min — arrives in O(log d) rounds.  Per round: two
    groupBy-min aggregates + two joins, all on the node key; edges stay
    distinct, so the working set is O(edges), never the quadratic closure.
    """
    # nodes whose every pair is a self-loop would vanish from the edge
    # list below; kept aside so they come back as singleton components —
    # minlabel emits them, and the two algorithms must agree exactly
    all_nodes = (
        pairs.select(
            F.explode(F.array(F.col(id_a), F.col(id_b))).alias(node_col)
        ).distinct()
    )
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    edges = ckpt(edges)

    def finalize(star_edges: DataFrame) -> DataFrame:
        members = star_edges.select(
            F.col("u").alias(node_col), F.col("v").alias(comp_col)
        )
        roots = star_edges.select(
            F.col("v").alias(node_col), F.col("v").alias(comp_col)
        ).distinct()
        labeled = members.union(roots).distinct()
        singletons = all_nodes.join(labeled, node_col, "left_anti").select(
            F.col(node_col), F.col(node_col).alias(comp_col)
        )
        return labeled.union(singletons)

    def large_star(e: DataFrame) -> DataFrame:
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            adj.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        return (
            adj.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        relink = (
            directed.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_link = mins.select("u", F.col("m").alias("v"))
        return relink.union(self_link).where(F.col("u") != F.col("v")).distinct()

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: 64-bit hash values would overflow a LONG sum
            # under ANSI mode; decimal(38,0) is exact at any edge count
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = fingerprint(edges)
    for _ in range(max_iterations):
        edges_next = ckpt(small_star(large_star(edges)))
        cur = fingerprint(edges_next)
        if cur == prev:
            # fingerprints match => almost surely identical; confirm
            # exactly so a hash-sum collision can never end the loop early
            if edges_next.exceptAll(edges).isEmpty() and edges.exceptAll(
                edges_next
            ).isEmpty():
                # fixpoint: every edge is (member, component-min)
                return finalize(edges_next)
        prev = cur
        edges = edges_next

    raise RuntimeError(
        f"star connected_components did not converge in {max_iterations} "
        "rounds — with O(log d) convergence this indicates a degenerate "
        "input (raise max_iterations)"
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 25,
    checkpoint: str = "local",
) -> DataFrame:
    """Cluster roll-up of :func:`connected_components`: one row per
    component with its size and canonical (minimum) member id.  Keep rows
    of the corpus whose id joins ``component`` (or anti-join the
    non-canonical members) to deduplicate."""
    cc = connected_components(pairs, id_a, id_b, max_iterations, checkpoint=checkpoint)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("node").alias("canonical_id"),
    )


def pagerank(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint: str = "local",
) -> DataFrame:
    """PageRank over the undirected graph given by pair rows (each pair
    contributes both directions), run for a FIXED number of power
    iterations from the uniform start — rank within duplicate clusters /
    citation-ish graphs.

    Deterministic across engines and partition orders: per-edge
    contributions ``pr/deg`` are computed in IEEE double then rounded to
    12 decimals and accumulated EXACTLY as DECIMAL(28,12); the damping
    update runs the identical fixed double-op sequence on both engines
    and re-rounds — so a DuckDB oracle unrolling the same iterations
    hash-matches bit-for-bit.

    Scale shape: per iteration ONE join (edges x current ranks, shuffled
    on the node key) + one partial-agg sum — the same bounded round shape
    as connected_components; ranks/degrees are O(nodes) frames, never
    driver-side except the node count (a 1-scalar action).
    """
    ckpt = make_checkpointer(checkpoint)
    # lazy checkpoint, not persist+unpersist: the whole iteration chain
    # below is LAZY (no mid-loop action), so a persist unpersisted before
    # the caller's action would leave every iteration's contrib join
    # re-deriving the pair pipeline.  The checkpoint RDD is shared by
    # identity across all iteration references, materialized once by the
    # nodes.count() below, and reclaimed by the ContextCleaner when the
    # result frame is GC'd.  (A repartition-by-src before the checkpoint
    # was tried and reverted: under AQE the checkpointed LogicalRDD
    # reports UnknownPartitioning, so the iteration joins re-shuffle
    # either way and the repartition is one extra pass of the edge set —
    # see OPTIMIZATION_r11.md.)
    edges = ckpt(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    nodes = ckpt(deg.select("src", "deg"))
    n = nodes.count()
    # rounding must happen ENGINE-side (Spark round == DuckDB ROUND ==
    # half-away-from-zero for positives); python round() is half-even and
    # could diverge on exact midpoints
    base = F.round(F.lit(1.0 - damping) / F.lit(float(n)), 12)
    pr = nodes.withColumn("pr", F.round(F.lit(1.0) / F.lit(float(n)), 12))
    for _ in range(iterations):
        contrib = (
            edges.join(pr.select(F.col("src"), "pr", "deg"), "src")
            .select(
                F.col("dst").alias("src"),
                F.round(F.col("pr") / F.col("deg"), 12)
                .cast("decimal(28,12)")
                .alias("__c"),
            )
        )
        sums = contrib.groupBy("src").agg(F.sum("__c").alias("__s"))
        pr = (
            nodes.join(sums, "src", "left")
            .select(
                "src",
                "deg",
                F.round(
                    base
                    + F.lit(damping) * F.coalesce(F.col("__s").cast("double"), F.lit(0.0)),
                    12,
                ).alias("pr"),
            )
        )
        pr = ckpt(pr)
    return pr.select(F.col("src").alias("node"), "pr")


def pagerank_directed(
    edges_df: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint: str = "local",
) -> DataFrame:
    """PageRank over a DIRECTED edge list with dangling-node mass
    redistribution — the real PageRank recurrence (Page et al. 1999),
    where :func:`pagerank` is the undirected near-dup-graph special case
    (every node has outdegree >= 1 there, so no dangling term).

        pr'(v) = (1-d)/n + d * ( sum_{u->v} pr(u)/outdeg(u)
                                 + (sum_{dangling u} pr(u)) / n )

    Nodes with no outgoing edges (sinks: terminal pages, newest docs in a
    citation graph) would otherwise leak their rank mass out of the
    system each iteration; redistributing it uniformly keeps ranks a
    proper probability distribution (sums to ~1 up to rounding).

    Deterministic across engines, same contract as :func:`pagerank`:
    per-edge contributions ``pr/outdeg`` and the dangling-mass total are
    rounded to 12 decimals and accumulated EXACTLY as DECIMAL(28,12);
    the damping update runs one fixed double-op sequence and re-rounds,
    so an unrolled-CTE DuckDB oracle hash-matches bit-for-bit.

    Scale shape per iteration: ONE edges x ranks join (shuffled on the
    node key) + one partial-agg sum, plus a 1-ROW dangling-mass
    aggregate cross-joined back as a broadcast — O(nodes) frames
    throughout, no driver traffic beyond the node count.
    """
    ckpt = make_checkpointer(checkpoint)
    # lazy checkpoint instead of persist+unpersist — same reasoning as
    # :func:`pagerank`: the loop is lazy, so the edge set must stay
    # materializable-by-identity for the caller's deferred action.
    edges = ckpt(
        edges_df.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("od"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg.withColumnRenamed("src", "node"), "node", "left")
        .select("node", F.coalesce(F.col("od"), F.lit(0).cast("long")).alias("od"))
    )
    nodes = ckpt(nodes)
    n = nodes.count()
    base = F.round(F.lit(1.0 - damping) / F.lit(float(n)), 12)
    pr = nodes.withColumn("pr", F.round(F.lit(1.0) / F.lit(float(n)), 12))
    for _ in range(iterations):
        # 1-row frame: exact decimal total of dangling rank mass
        dangling = pr.where(F.col("od") == 0).agg(
            F.sum(F.col("pr").cast("decimal(28,12)")).alias("__dm")
        )
        contrib = edges.join(
            pr.select(F.col("node").alias("src"), "pr", "od"), "src"
        ).select(
            F.col("dst").alias("node"),
            F.round(F.col("pr") / F.col("od"), 12).cast("decimal(28,12)").alias("__c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        pr = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "od",
                F.round(
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__s").cast("double"), F.lit(0.0))
                        + F.coalesce(F.col("__dm").cast("double"), F.lit(0.0))
                        / F.lit(float(n))
                    ),
                    12,
                ).alias("pr"),
            )
        )
        pr = ckpt(pr)
    return pr.select("node", "pr")


def _oriented_edges(und: DataFrame) -> DataFrame:
    """Orient a distinct undirected edge set (u, v) from the lower-ranked
    endpoint, rank = (degree, id): whale nodes become sinks — bounded
    wedge fan-out.  Returns (src, dst, dk) where ``dk`` is the dst's rank
    key, kept so the wedge join can order the two far endpoints by the
    SAME rank the closing edge was oriented by (struct comparison is
    lexicographic)."""
    deg = (
        und.select(F.col("u").alias("n"))
        .union(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    ed = (
        und.join(
            deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
        ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    lower = ku < kv  # (degree, id) is unique per node, so strict works
    return ed.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lower, kv).otherwise(ku).alias("dk"),
    )


def triangle_count(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Exact per-node triangle counts over the undirected pair graph — the
    local-clustering signal that separates tight duplicate blobs (every
    copy near-dups every other copy) from chains of borderline pairs.

    Standard distributed formulation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011): orient every
    edge from its lower-RANKED endpoint, self-join oriented edges on the
    shared source to enumerate wedges, then one join of wedges against
    the oriented edge set confirms the closing edge.  The rank is
    (degree, id): every edge points toward the HIGHER-degree endpoint, so
    a whale node of degree d contributes out-degree ~0 (its edges all
    point AT it) and every node's wedge fan-out is bounded by O(sqrt(m))
    out-edges — the paper's fix for the "curse of the last reducer".
    Triangle counts are orientation-INVARIANT, so the corpus oracle
    certifies this degree orientation against an id-oriented SQL replay.

    Shuffles: degree aggregate + 2 rank joins + wedge join on the apex +
    confirm join on the closing edge + one count aggregate per corner;
    all equi-joins, no Python.
    Output: (node, n_triangles) for every node in the pair list
    (zero-triangle nodes included).
    """
    # LAZY localCheckpoint, not persist: the operator returns a LAZY
    # frame, so a persist+unpersist pair inside the builder would unmark
    # the cache before any action ran and the oriented-distinct edge set
    # would be recomputed for all four consumers (wedge join both sides,
    # confirm join, node list).  The checkpoint RDD is shared by identity
    # across every consumer (one compute, cached on first touch — both
    # frames sit just above a shuffle, so the expensive map side runs once
    # regardless); lazy skips the two dedicated materialization jobs the
    # eager form paid.  The ContextCleaner reclaims the blocks when the
    # result frame is GC'd.
    und = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    o = _oriented_edges(und).localCheckpoint(eager=False)
    # wedges: src -> (b, c), both out-edges, dst ranks ordered b < c —
    # so the closing edge b-c is oriented exactly (b -> c)
    w = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .where(F.col("e1.dk") < F.col("e2.dk"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    tri = w.join(
        o.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
    ).select("a", "b", "c")
    nodes = und.select(F.col("u").alias("node")).union(
        und.select(F.col("v").alias("node"))
    ).distinct()
    corners = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return nodes.join(corners, "node", "left").select(
        "node", F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias("n_triangles")
    )


def kcore(
    pairs: DataFrame,
    k: int = 2,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 20,
    checkpoint: str = "local",
) -> DataFrame:
    """k-core decomposition over the undirected pair graph: iteratively
    peel nodes with degree < k until fixpoint, returning each surviving
    node with its in-core degree — the density filter that separates
    TIGHT duplicate blobs (boilerplate/template hubs where every copy
    near-dups many others) from isolated pairs and thin chains that a
    plain pair threshold cannot tell apart.

    The k-core is the unique maximal subgraph with minimum degree >= k,
    independent of peel order — so any engine that reaches fixpoint
    computes the identical node set (the DuckDB oracle unrolls a fixed
    round count with margin; surplus rounds are no-ops on a converged
    core).  Raises BallistaError if fixpoint is not reached within
    ``max_rounds`` — on near-dup blob graphs the peel depth is tiny
    (measured 2 rounds on the corpus graph; depth is bounded by the
    longest thin appendage, not corpus size).

    Scale shape per round: ONE degree partial-aggregate + two semi-joins
    (keep edges whose BOTH endpoints survive), checkpointed like
    every iterative loop in this module; the convergence probe is a
    1-scalar edge count.  Rounds are data-bounded and small, never
    corpus-proportional.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ckpt = make_checkpointer(checkpoint)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = ckpt(edges)
    n_edges = edges.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .where(F.col("__deg") >= k)
            .select("src")
        )
        pruned = (
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        pruned = ckpt(pruned)
        n_pruned = pruned.count()
        if n_pruned == n_edges:
            break
        edges, n_edges = pruned, n_pruned
    else:
        from ..errors import BallistaError

        raise BallistaError(
            f"k-core peel did not converge within {max_rounds} rounds"
        )
    # unordered return: a global sort over the surviving-core node set is a
    # needless full range-Exchange at scale; callers (and the oracle harness)
    # order when they need order
    return edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    )


def adamic_adar(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_hub_degree: int | None = None,
    round_digits: int = 9,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003) over the
    undirected pair graph: for every NON-adjacent node pair sharing at
    least one neighbor, ``sum_z 1 / ln(deg(z))`` over the common
    neighbors ``z`` — rare shared neighbors count more than hubs.  The
    standard "which near-dup edge did LSH miss" / "which items should be
    linked" scorer over the same graphs the other operators consume.

    Returns ``(node_a, node_b, n_common, aa_score)`` with ``node_a <
    node_b``; existing edges are excluded (link PREDICTION, not
    re-scoring).  Each common-neighbor weight is one IEEE ``1/ln``
    rounded at ``round_digits`` then summed in DECIMAL — order-free and
    engine-exact.  A common neighbor by construction has degree >= 2,
    so ``ln(deg)`` never hits ``ln(1) = 0``.

    Scale: the wedge self-join fans out ``deg(z)^2`` candidate pairs per
    node — the same whale profile as :func:`triangle_count`, but WITHOUT
    an orientation fix (both endpoints of a predicted pair are needed).
    ``max_hub_degree`` bounds it: nodes above the cap are skipped as
    apexes (their weight ``1/ln(deg)`` is the smallest in the sum, so
    this is the canonical cheap approximation; None = exact).  Shuffles:
    distinct edges, degree agg, wedge self-join on the apex key, pair
    agg, and the adjacency anti-join.
    """
    und = (
        pairs.where(F.col(id_a) != F.col(id_b))
        .select(
            F.least(id_a, id_b).alias("u"),
            F.greatest(id_a, id_b).alias("v"),
        )
        .distinct()
    )
    adj = und.select(F.col("u").alias("z"), F.col("v").alias("nb")).unionAll(
        und.select(F.col("v").alias("z"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    adjd = adj.join(deg, "z")
    if max_hub_degree is not None:
        adjd = adjd.where(F.col("deg") <= int(max_hub_degree))
    # the apex-keyed self-join reuses one exchange; checkpoint (lazy) so
    # the distinct+degree subtree is not rebuilt per side — shared by RDD
    # identity, computed inside the caller's action instead of a
    # dedicated job
    adjd = adjd.localCheckpoint(eager=False)
    left = adjd.select("z", F.col("nb").alias("node_a"), "deg")
    right = adjd.select("z", F.col("nb").alias("node_b"))
    wedges = left.join(right, "z").where(F.col("node_a") < F.col("node_b"))
    scored = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum(
            F.round(F.lit(1.0) / F.log(F.col("deg")), round_digits).cast(
                f"decimal(38,{round_digits})"
            )
        )
        .cast("double")
        .alias("aa_score"),
    )
    return scored.join(
        und,
        (scored["node_a"] == und["u"]) & (scored["node_b"] == und["v"]),
        "left_anti",
    )
