"""Graph operators — connected components for dedup clustering.

Near-dup operators emit PAIRS; a dedup pipeline needs GROUPS ("keep one doc
per component of the similarity graph").  ``connected_components`` is
iterative min-label propagation:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated until a fixpoint.  Each round is two shuffles (join labels to
edges, min-aggregate per node); an eager ``materialize`` cuts the
lineage every round so the plan doesn't grow unboundedly — the standard
iterative-algorithm pattern on Spark.  Every iterative operator here cuts
its rounds and setup tables the same way, so ``SPARK_GRAFT_MATERIALIZE``
decides how they are stored.

Scale notes: plain propagation needs O(graph diameter) rounds; similarity
graphs from LSH dedup have tiny components (bounded by bucket sizes), so
convergence is 2-4 rounds in practice.  For adversarial diameters (long
chains) switch to the large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce", SoCC'14) which converges in
O(log² n) rounds with the same join-aggregate primitives.  The convergence
check is a `limit(1).count()` on changed labels — an early-exit scan, not a
full count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from area_etl_spark.operators.expressions import materialize


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct undirected (a, b) pairs — BOTH directions of every edge —
    from ONE pass over ``edges`` (explode of a 2-struct array).

    The union-of-two-selects form evaluates the ``edges`` subtree twice;
    when the caller hands in an unmaterialized upstream plan (a projection
    of a join, a candidate generator) that doubles the whole upstream
    cost.  Self-loops dropped, duplicates collapsed — identical output to
    the union form for any input."""
    both = F.explode(
        F.array(
            F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
            F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
        )
    )
    return (
        edges.select(both.alias("_e"))
        .select(F.col("_e.a").alias("a"), F.col("_e.b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, label) for every node in ``pairs``; label = min node id of its
    component.  Deterministic for any input order.

    Both edge directions come out of ONE pass over ``pairs`` (explode of a
    2-struct array) — the union-of-two-selects form evaluates the ``pairs``
    subtree twice, which doubles the whole upstream pipeline when the
    caller hands in an unmaterialized candidate+verify plan (measured 2.9 s
    of the 6.7 s dedup_pipeline_portable wall)."""
    both = F.explode(
        F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
        )
    )
    edges = (
        pairs.select(both.alias("_e"))
        .select(F.col("_e.src").alias("src"), F.col("_e.dst").alias("dst"))
        .distinct()
        .transform(materialize, eager=True)
    )

    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    ).transform(materialize, eager=True)

    changed = 1
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry a per-row changed flag (new label = least(old, nbr) < old)
        # instead of re-joining new vs old labels afterwards — one join and
        # one driver job fewer per iteration, identical convergence test
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                labels["node"],
                F.least(labels["label"], F.coalesce(F.col("nbr_label"), labels["label"])).alias("label"),
                (F.coalesce(F.col("nbr_label"), labels["label"]) < labels["label"]).alias("_chg"),
            )
            .transform(materialize, eager=True)
        )
        changed = new_labels.where(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    if changed != 0:
        # diameter > max_iter: plain propagation would silently return
        # non-converged (wrong) labels — rerun with the O(log² n) star
        # algorithm instead of handing back a partial answer
        return connected_components_star(pairs, id_a, id_b)
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 12,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (Kiveris et al., SoCC'14) — O(log² n) rounds regardless of diameter.

    State is an edge list converging to a star per component (every node →
    component minimum).  Each round:

    - large-star: for every node u, attach each neighbor v > u to m(u) =
      min(u, neighbors(u)) — long chains fold toward small ids.
    - small-star: attach each neighbor v <= u (and u) to m(u) — flattens
      the remaining two-level trees.

    Both are one groupBy(node) + one re-expansion join per round.  Use this
    over ``connected_components`` (plain propagation, O(diameter) rounds)
    when components can be long paths — e.g. temporal chains where each doc
    near-dups only its neighbor.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(materialize, eager=True)
    )

    def _sym(e: DataFrame) -> DataFrame:
        # neighborhoods must be computed over UNDIRECTED edges each round —
        # operating on the directed emission of the previous round hits
        # non-star fixed points (observed on path graphs).  One pass over
        # ``e`` (explode of both directions), not union-of-two-selects: the
        # inner large-star emission is unmaterialized, so a second reference
        # would re-run that whole subtree.
        both = F.explode(
            F.array(
                F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        )
        return (
            e.select(both.alias("_e"))
            .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
            .distinct()
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        s = _sym(e)
        m = (
            s.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        joined = s.join(m, "u")
        kept = joined.where(F.col("v") > F.col("u")) if large else joined.where(F.col("v") <= F.col("u"))
        new_edges = kept.select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
            m.select(F.col("u"), F.col("m").alias("v"))
        )
        return new_edges.where(F.col("u") != F.col("v")).distinct()

    stable = False
    for _ in range(max_rounds):
        new_edges = materialize(_star(_star(edges, large=True), large=False), eager=True)
        delta = new_edges.exceptAll(edges).limit(1).count()
        stable = delta == 0 and new_edges.count() == edges.count()
        edges = new_edges
        if stable:
            break
    if not stable:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} double-rounds; "
            "raise max_rounds (each round roughly squares the resolved diameter)"
        )

    final = _sym(edges)
    labels = final.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("node"), F.least(F.col("u"), F.col("mn")).alias("label")
    )
    return labels


def dedup_keep_representatives(
    df: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Drop every row whose component label isn't its own id (keep the min).

    Rows not in any component (no near-dup pair) are kept — a left-anti
    join against the non-representative nodes.
    """
    losers = components.where(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(
    df: DataFrame,
    components: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware representative selection: within each near-dup cluster
    keep the row with the HIGHEST ``score_col`` (ties → lowest id), instead
    of ``dedup_keep_representatives``'s arbitrary min-id.

    The curation-grade policy: when a cluster mixes a clean original with
    mangled scrapes of it, min-id keeps whichever happened to be crawled
    first; max-quality keeps the best copy.

    Shape: components (node → cluster label) join onto the scored rows —
    the component table is |duplicate nodes|-sized, far smaller than the
    corpus, and the winner-per-cluster is an aggregate over it (argmax via
    max_by with a deterministic tiebreak on min id among equal scores,
    implemented by ordering on (score DESC, id ASC) packed into a struct
    min).  Rows in no cluster are untouched.  Two bounded shuffles on the
    cluster label + one left-anti join keyed on the id.
    """
    labeled = components.join(
        df.select(F.col(id_col).alias("node"), F.col(score_col).alias("_s")), "node"
    )
    # NULL scores must lose to ANY real score (a bare -NULL would sort FIRST
    # in the struct-min and crown the null-scored row): map NULL → +inf so
    # it orders after every negated finite score, ties still → min node.
    neg = F.coalesce(-F.col("_s").cast("double"), F.lit(float("inf")))
    winners = labeled.groupBy("label").agg(
        F.min(F.struct(neg.alias("neg"), F.col("node").alias("node"))).alias("_w")
    ).select(F.col("_w.node").alias("_winner"), "label")
    losers = (
        components.join(winners, "label")
        .where(F.col("node") != F.col("_winner"))
        .select(F.col("node").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """Fixed-iteration PageRank in ALL-INTEGER arithmetic — deterministic
    under any partitioning AND engine-portable (floating PageRank sums
    contributions in data-dependent order, so the last ulps differ run to
    run; integer sums are commutative, and floor-division is identical
    everywhere).

    Ranks live in units of ``1/scale``: every node starts at ``scale``
    (rank 1.0), one round sends each node ``rank div outdeg`` along every
    out-edge, and the update is

        rank' = (100 - damping_pct) * scale div 100
                + damping_pct * Σ contributions div 100.

    Simplifications, both standard and both documented: dangling nodes (no
    out-edges) leak their mass instead of redistributing it, and the result
    is the FIXED-k iterate, not the converged eigenvector — k chained
    map-reduce rounds is exactly what an oracle can replay as k chained
    CTEs.

    Scale shape: per round one equi-join (ranks ⋈ edges on src — the big
    side; AQE broadcasts the rank table only while it's small) plus one
    groupBy(dst) with map-side combine — the Pregel-on-DataFrames pattern.
    Each round is materialized like ``connected_components``.  Degrees are
    computed once, outside the loop.
    """
    return _pagerank_rounds(edges, None, src, dst, iterations, damping_pct, scale)


def _pagerank_rounds(
    edges: DataFrame, seeds: DataFrame | None, src: str, dst: str, iterations: int, damping_pct: int, scale: int
) -> DataFrame:
    """The loop behind both PageRank variants.  ``seeds=None`` makes every
    node a seed (plain PageRank) by a literal flag, so no seed table is
    joined."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).transform(materialize, eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is not None:
        sd = seeds.select(F.col(seeds.columns[0]).alias("node"), F.lit(True).alias("_seed")).distinct()
        nodes = nodes.join(F.broadcast(sd), "node", "left")
    nodes = materialize(nodes, eager=True)
    seeded = F.lit(True) if seeds is None else F.col("_seed").isNotNull()
    base = (100 - damping_pct) * scale // 100
    base_col = F.when(seeded, F.lit(base)).otherwise(F.lit(0)).cast("long")
    # loop-invariant: the (edge, out-degree) relation never changes — join it
    # once and materialize, instead of re-shuffling the edge list every round
    e_deg = materialize(e.join(deg, "src"), eager=True)
    ranks = nodes.select(
        "node", F.when(seeded, F.lit(scale)).otherwise(F.lit(0)).cast("long").alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            e_deg.join(ranks.withColumnRenamed("node", "src"), "src")
            .select("dst", F.expr("`rank` div `_deg`").alias("_c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("_c").alias("_s"))
        ranks = (
            nodes.join(sums.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    base_col
                    + F.expr(f"({damping_pct} * coalesce(_s, 0L)) div 100")
                ).alias("rank"),
            )
            .transform(materialize, eager=True)
        )
    return ranks


def bfs_hops(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
) -> DataFrame:
    """Unweighted shortest-path hop counts from ``source`` over an
    undirected graph — breadth-first frontier expansion on DataFrames.

    Each round joins the current FRONTIER (nodes first reached last round —
    not the whole visited set) to the edge list and anti-joins out already-
    visited nodes: per round one equi-join shuffle + one anti-join, frontier
    size bounded by the graph's expansion.  Each round is materialized like
    the other iterative operators.  Integer hop
    labels ⇒ deterministic, and a bounded recursive CTE replays it exactly.
    Nodes unreachable within ``max_hops`` are absent from the output.
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = fwd.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().transform(materialize, eager=True)
    visited = und.sparkSession.createDataFrame([(source, 0)], "node long, hops int").transform(
        materialize, eager=True
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            und.join(frontier.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(hop))
            .transform(materialize, eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).transform(materialize, eager=True)
        frontier = nxt
    return visited


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    orient: str = "id",
) -> DataFrame:
    """Global triangle count of the undirected simple graph — the
    clustering-structure scalar (one row: ``n_triangles``).

    The order-canonical join strategy: orient every edge along a total
    order, then triangles = |{(i<j<k) : (i,j), (j,k), (i,k) all edges}|
    via two equi-joins — each triangle counted exactly once, never an
    all-pairs product.  Cost is Σ_v out-deg(v)² on the oriented graph.

    ``orient`` picks the total order:

    - ``"id"`` (default): node id — trivially portable to the SQL oracle,
      fine on flat-degree graphs, but a LOW-id hub keeps its full degree
      as out-degree, so Σ out-deg² blows up on power-law graphs.
    - ``"degree"``: (degree, id) — the standard skew bound: every node's
      out-degree is O(√m) regardless of hubs, because a node only points
      at HIGHER-degree neighbors and fewer than √m nodes can have degree
      > √m.  Two extra broadcast-sized joins against the degree table pay
      for it.  The count is identical under any total order (each
      triangle has exactly one minimal vertex), verified by
      tests/test_operators.py::test_triangle_orientations_agree.
    """
    und = _symmetrize(edges, src, dst)
    if orient == "degree":
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
        dega = deg.select("a", F.col("_deg").alias("_dega"))
        degb = deg.select(F.col("a").alias("b"), F.col("_deg").alias("_degb"))
        e = (
            und.join(dega, "a")
            .join(degb, "b")
            .where(
                (F.col("_dega") < F.col("_degb"))
                | ((F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b")))
            )
            .select("a", "b")
        )
    elif orient == "id":
        e = und.where(F.col("a") < F.col("b"))
    else:
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    e = materialize(e, eager=True)
    ij = e.select(F.col("a").alias("i"), F.col("b").alias("j"))
    jk = e.select(F.col("a").alias("j"), F.col("b").alias("k"))
    ik = e.select(F.col("a").alias("i"), F.col("b").alias("k"))
    tri = ij.join(jk, "j").join(ik, ["i", "k"])
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def near_dup_survivors(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score_col: str = "n_chars",
    keep_cols: tuple[str, ...] = ("lang", "source", "n_chars"),
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The quality-aware near-dup collapse as ONE shared composition:
    portable MinHash candidates → exact n-gram Jaccard → connected
    components → keep the best-scored doc per cluster.  Both the driver
    contract (`q_dedup_best_rep`) and the runner's corpus module call THIS
    function, so a tuning change can never silently diverge the two."""
    from area_etl_spark.operators import dedup as D

    cands = D.minhash_lsh_pairs_portable(docs, text_col, id_col, num_hashes=num_hashes, bands=bands)
    verified = D.ngram_jaccard_pairs(docs, cands, text_col, id_col, n=ngram, threshold=threshold)
    comps = connected_components(verified.select("id_a", "id_b"))
    return dedup_keep_best(
        docs.select(id_col, *keep_cols), comps, id_col, score_col
    )


def ancestor_paths(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_depth: int = 30,
) -> DataFrame:
    """Flatten a parent-pointer hierarchy: every node's root ancestor, depth,
    and materialized ancestor path — the org-chart / category-tree / BOM
    query (``WITH RECURSIVE`` in SQL engines, which Spark SQL lacks).

    Pointer-doubling iteration (path-halving applied to a forest): each
    round joins every node's current ancestor pointer to THAT ancestor's
    pointer, so resolved depth DOUBLES per round — a depth-d hierarchy
    flattens in O(log d) self-join shuffles, not d (30 rounds cover depth
    2^30).  Depth adds and path fragments concatenate during the doubling
    (fragment(n) spans n's parent..n's current ancestor, so two fragments
    are always contiguous).  Each round is materialized.  Roots (nodes
    never appearing as a child) have depth 0 and path = their own id.

    Raises after ``max_depth`` non-converged doublings — a cycle in what
    should be a forest (at 2^30 that is a data bug, not scale).
    """
    e = edges.select(F.col(child).alias("node"), F.col(parent).alias("anc"))
    root = F.col("anc").isNull()
    # carried per node: hops to the current ancestor, and the fragment = ids
    # from the node's parent up to that ancestor ('' for roots)
    state = _pointer_doubling(
        e,
        {
            "depth": (F.when(root, F.lit(0)).otherwise(F.lit(1)), lambda a, b: a + b),
            "frag": (
                F.when(root, F.lit("")).otherwise(F.col("anc").cast("string")),
                lambda a, b: F.concat_ws("/", F.nullif(a, F.lit("")), F.nullif(b, F.lit(""))),
            ),
        },
        ["node", "anc", "depth"],
        max_depth,
    )
    return state.select(
        "node",
        F.col("anc").alias("root"),
        F.col("depth").cast("int").alias("depth"),
        F.concat_ws("/", F.col("node").cast("string"), F.nullif(F.col("frag"), F.lit(""))).alias("path"),
    )


def bom_rollup(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    qty_col: str = "qty",
    max_depth: int = 30,
) -> DataFrame:
    """Bill-of-materials explosion: every node's root assembly and its
    EFFECTIVE UNITS there — the product of edge quantities along the path
    (3 boards × 4 chips = 12 chips per assembly).

    ``ancestor_paths`` flattens the tree; this carries a multiplicative
    weight through the same pointer doubling (products compose exactly
    like depth sums: fragment(n) spans n..current-ancestor, so two
    fragments multiply) — O(log depth) self-join rounds, each
    materialized, cycle guard.  Quantities must be positive
    integers; the product is exact BIGINT (bound: qty^depth < 2^63 — at
    qty ≤ 10 that is depth ≤ 18; lift to DECIMAL(38,0) past it).  Roots
    appear with units 1 under themselves.
    """
    e = edges.select(
        F.col(child).alias("node"),
        F.col(parent).alias("anc"),
        F.col(qty_col).cast("long").alias("mult"),
    )
    state = _pointer_doubling(
        e,
        {
            "mult": (F.coalesce(F.col("mult"), F.lit(1)), lambda a, b: a * b),
            # depth rides along purely as the cycle detector: a qty-1 cycle
            # reaches a (anc, mult) fixpoint, but its depth keeps growing
            "depth": (F.when(F.col("mult").isNull(), F.lit(0)).otherwise(F.lit(1)), lambda a, b: a + b),
        },
        ["node", "anc", "mult", "depth"],
        max_depth,
    )
    return state.select("node", F.col("anc").alias("root"), F.col("mult").alias("units"))


def _pointer_doubling(e: DataFrame, carried: dict, fixpoint: list[str], max_depth: int) -> DataFrame:
    """The loop behind ``ancestor_paths`` and ``bom_rollup`` over (node, anc,
    ...) parent edges ``e``; roots point at themselves.  ``carried`` maps
    each extra state column to (its start value off the node's parent edge,
    how a node's and its ancestor's values combine).  Stops once a round
    changes no ``fixpoint`` column; raises after ``max_depth`` rounds."""
    nodes = e.select("node").union(e.select(F.col("anc").alias("node"))).distinct()
    state = nodes.join(e, "node", "left").select(
        "node",
        F.coalesce(F.col("anc"), F.col("node")).alias("anc"),
        *[start.alias(c) for c, (start, _) in carried.items()],
    )
    for _ in range(max_depth):
        up = state.select(*[F.col(c).alias(f"j_{c}") for c in state.columns])
        nxt = (
            state.join(up, state.anc == up.j_node)
            .select(
                "node",
                F.col("j_anc").alias("anc"),
                *[combine(F.col(c), F.col(f"j_{c}")).alias(c) for c, (_, combine) in carried.items()],
            )
            .transform(materialize, eager=True)
        )
        if nxt.join(state, fixpoint, "left_anti").isEmpty():
            return nxt
        state = nxt
    raise ValueError(f"hierarchy deeper than 2^{max_depth} or cyclic")


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling: each round deletes every node of degree
    < k together with its edges (the standard peel; dense-subgraph mining,
    spam/bot ring detection, graph-sampling cores).  After ``rounds``
    rounds the survivors are a SUPERSET of the true k-core, equal as soon
    as one round deletes nothing — fixed rounds keep the operator
    deterministic and oracle-replayable (the pagerank_integer convention;
    real graphs converge in few rounds because each peel needs a fresh
    cascade).

    Returns (node, degree) over the surviving subgraph.  Per round: one
    degree aggregate + two semi-joins on the endpoint keys — all hash
    shuffles bounded by the shrinking edge set; a ``materialize`` after
    each round cuts the growing plan (the CC/pagerank lineage
    discipline).  Undirected input expected as symmetric pairs; pass each
    edge once and it is symmetrized here.
    """
    e = _symmetrize(edges, src, dst)
    for _ in range(rounds):
        deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.where(F.col("_d") >= k).select("a")
        e = (
            e.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .transform(materialize)
        )
    return (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def personalized_pagerank_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**9,
) -> DataFrame:
    """Personalized (seeded-teleport) PageRank — 'rank everything by
    proximity to THESE nodes': the restart mass lands only on the seed
    set, so scores measure random-walk-with-restart affinity to the seeds
    (recommendation candidates, local community scoring, fraud-ring
    expansion from known-bad accounts).

    Same conventions as :func:`pagerank_integer` (its docstring carries
    the full rationale): ALL-INTEGER units of 1/scale, fixed-k iterate,
    dangling mass leaks, one equi-join + one map-side-combined groupBy per
    round, each round materialized.  Differences: seeds
    start at ``scale``, everyone else at 0, and the per-round base term is
    ``(100 − d)·scale div 100`` FOR SEEDS ONLY (0 elsewhere) — non-seed
    scores are purely inherited walk mass.
    """
    return _pagerank_rounds(edges, seeds, src, dst, iterations, damping_pct, scale)


def common_neighbor_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_middle_degree: int | None = 1000,
) -> DataFrame:
    """Link prediction by neighborhood overlap: for every non-adjacent
    pair sharing ≥ ``min_common`` neighbors, the common-neighbor count and
    neighborhood Jaccard — the classic graph-ML candidate generator
    (friend-of-friend recommendation, co-purchase 'users also bought').

    Shape: one wedge equi-join on the MIDDLE node (each shared neighbor
    emits one candidate occurrence — O(Σ deg(m)²) pairs), one pair
    groupBy, an anti-join removing existing edges, and a broadcastable
    degree join.  The deg² blowup through a hub is REAL for this operator
    (unlike triangles, hub-centered wedges are wanted candidates), so the
    scale knob is ``max_middle_degree``: middles above it (stopword nodes
    — 'everyone bought the bestseller') are excluded from WEDGE GENERATION
    with a documented recall tradeoff, while degrees/Jaccard still count
    the full graph.  Exact integers; Jaccard rounded once.
    """
    sym = materialize(_symmetrize(edges, src, dst))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
    mids = sym.select(F.col("b").alias("m"), F.col("a").alias("n"))
    if max_middle_degree is not None:
        ok = deg.where(F.col("_deg") <= max_middle_degree).select(
            F.col("a").alias("m")
        )
        mids = mids.join(ok, "m", "left_semi")
    pairs = (
        mids.alias("x")
        .join(mids.alias("y"), "m")
        .where(F.col("x.n") < F.col("y.n"))
        .groupBy(F.col("x.n").alias("u"), F.col("y.n").alias("v"))
        .agg(F.count(F.lit(1)).alias("common"))
        .where(F.col("common") >= min_common)
    )
    existing = sym.where(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    cand = pairs.join(existing, ["u", "v"], "left_anti")
    du = deg.select(F.col("a").alias("u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("a").alias("v"), F.col("_deg").alias("_dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            (
                F.round(
                    F.col("common").cast("double")
                    / (F.col("_du") + F.col("_dv") - F.col("common")),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard"),
        )
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous frequency label propagation (Raghavan et al. 2007) —
    COMMUNITY detection, the denser-than-connectivity grouping
    connected_components can't give (CC merges everything reachable; LPA
    groups by where most of your edges point).

    Deterministic and oracle-replayable by construction: labels seed as the
    node id, each round every node adopts the most frequent label among its
    neighbors with ties broken by SMALLER label (row_number over
    (count DESC, label ASC)), all nodes update simultaneously, and the
    round count is FIXED — the pagerank_integer convention, so a SQL oracle
    replays rounds as chained CTEs.  Isolated nodes keep their own label.

    Each round = one join (labels→edges) + one (node,label) count + one
    struct-max ARGMAX AGGREGATE per node — max(struct(c, −label)) picks
    (count DESC, label ASC) with no window at all, so both aggregates are
    map-side combinable and a power-law hub (one node, millions of
    neighbor labels) never lands in a single sort task (the hot-node skew
    a row_number argmax would create); each round is materialized.
    Returns (node, label).
    """
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    und = fwd.unionByName(rev).distinct().transform(materialize, eager=True)
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize, eager=True)
    )
    for _ in range(rounds):
        nbr = (
            und.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            nbr.groupBy("node")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("_b"))
            .select("node", (-F.col("_b").getField("nl")).alias("_new"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("_new", "label").alias("label"))
            .transform(materialize, eager=True)
        )
    return labels


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Newman modularity Q of a community assignment — the standard score
    for evaluating what label_propagation produced (Q near 0: no better
    than random; 0.3+: real community structure).

        Q = Σ_c [ in_c/(2m) − (d_c/(2m))² ]

    computed in the directed double-count convention: 2m = |directed
    edges|, in_c = directed pairs inside c, d_c = Σ degrees — ALL exact
    integers (DECIMAL(38,0) for d_c²), the per-community terms folding in
    SORTED LABEL ORDER (the entropy discipline) so the float total is
    engine-replayable.  Two hash aggregates + one labels join; the fold
    runs over the |communities| aggregate table.  Returns one row
    (n_nodes, n_communities, m_edges, modularity).
    """
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    und = fwd.unionByName(rev).distinct()
    lab = labels.select(F.col("node"), F.col("label"))
    both = (
        und.join(lab.withColumnRenamed("node", "src").withColumnRenamed("label", "_ls"), "src")
        .join(lab.withColumnRenamed("node", "dst").withColumnRenamed("label", "_ld"), "dst")
    )
    twom_df = und.agg(F.count(F.lit(1)).alias("_twom"))
    in_c = (
        both.where(F.col("_ls") == F.col("_ld"))
        .groupBy(F.col("_ls").alias("label"))
        .agg(F.count(F.lit(1)).alias("_in"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    d_c = (
        deg.join(lab.withColumnRenamed("node", "src"), "src")
        .groupBy("label")
        .agg(F.sum("_d").cast("decimal(38,0)").alias("_dc"))
    )
    per = d_c.join(in_c, "label", "left").select(
        "label",
        F.coalesce("_in", F.lit(0)).cast("decimal(38,0)").alias("_in"),
        "_dc",
    )
    folded = per.crossJoin(F.broadcast(twom_df)).select(
        "label",
        (
            F.col("_in").cast("double") / F.col("_twom").cast("double")
            - (F.col("_dc") * F.col("_dc")).cast("double")
            / (F.col("_twom").cast("decimal(38,0)") * F.col("_twom").cast("decimal(38,0)"))
            .cast("double")
        ).alias("_q"),
    )
    agg = folded.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("label").alias("l"), F.col("_q").alias("x")))),
            F.lit(0.0),
            lambda acc, s: acc + s.getField("x"),
        ).alias("_qsum"),
    )
    nodes = lab.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        nodes.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(twom_df))
        .select(
            "n_nodes",
            "n_communities",
            (F.col("_twom") / 2).cast("long").alias("m_edges"),
            F.round("_qsum", 9).alias("modularity"),
        )
    )


def dag_layers(
    edges: DataFrame,
    rounds: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Topological LAYER assignment over a DAG (longest path from any
    source): layer(v) = 0 for nodes with no incoming edge, else
    1 + max(layer(u)) over in-neighbors — the build-order / dependency-
    depth operator (task scheduling, BOM depth, lineage levels).

    Fixed-round iterate (the pagerank_integer convention — deterministic
    and oracle-replayable as chained CTEs): start every node at layer 0,
    each round recompute layer(v) = max(1 + layer(u)) over in-edges
    (sources keep 0 via the left join), stop early when no layer moved.
    ``rounds`` bounds the longest path measured; nodes deeper than that
    keep the partially-propagated value, so pick rounds ≥ graph depth (a
    cycle, which has no finite layering, would saturate at ``rounds`` —
    detectable as layer == rounds).  Per round: one equi-join + one
    map-side-combined max aggregate, each round materialized.
    All-integer labels.  Returns (node, layer).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct().transform(
        materialize, eager=True
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    layers = nodes.withColumn("layer", F.lit(0).cast("long")).transform(materialize, eager=True)
    for _ in range(rounds):
        inc = (
            e.join(layers.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.max("layer") + 1).alias("_cand"))
        )
        nxt = (
            layers.join(inc, "node", "left")
            .select("node", F.coalesce("_cand", F.col("layer")).alias("layer"))
            .transform(materialize, eager=True)
        )
        moved = (
            nxt.withColumnRenamed("layer", "_new")
            .join(layers, "node")
            .where(F.col("_new") != F.col("layer"))
            .limit(1)
            .count()
        )
        layers = nxt
        if moved == 0:
            break
    return layers


def shortest_paths_weighted(
    edges: DataFrame,
    sources: list[int],
    rounds: int = 10,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Multi-source weighted shortest paths — Bellman-Ford relaxation on
    DataFrames with NON-NEGATIVE INTEGER weights (travel times in seconds,
    costs in cents): dist(v) = min over in-edges of dist(u) + w(u,v),
    seeds at 0.

    Fixed-round iterate: ``rounds`` relaxation sweeps bound the number of
    EDGES in any reported path (Bellman-Ford's standard guarantee — after
    k sweeps every ≤k-edge shortest path is exact), so pick rounds ≥ the
    graph's hop diameter; with non-negative weights the values only ever
    decrease toward the true distance, and a sweep that changes nothing
    stops early.  Per round one equi-join + one map-side-combined min
    aggregate, each round materialized — the same shuffle
    shape as pagerank_integer; all-integer distances make every round
    bit-reproducible and the whole thing replayable as chained CTEs.
    Unreached nodes are absent.  Returns (node, dist).
    """
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
    ).transform(materialize, eager=True)
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(s), 0) for s in sources], "node long, dist long"
    ).transform(materialize, eager=True)
    for _ in range(rounds):
        relax = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("_cand"))
        )
        nxt = (
            dist.join(relax, "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("dist", F.lit(None)), F.coalesce("_cand", F.lit(None))
                ).alias("dist"),
            )
            .transform(materialize, eager=True)
        )
        moved = (
            nxt.withColumnRenamed("dist", "_new")
            .join(dist, "node", "left")
            .where(F.col("dist").isNull() | (F.col("_new") < F.col("dist")))
            .limit(1)
            .count()
        )
        dist = nxt
        if moved == 0:
            break
    return dist


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    topk: int = 20,
) -> DataFrame:
    """HITS hub/authority scores (Kleinberg 1999) by fixed-k UNNORMALIZED
    power iteration in exact DECIMAL(38,0) integers — the pagerank_integer
    determinism idea pushed further: HITS' per-round normalization only
    rescales (the ranking and the final ratios are normalization-
    invariant), so skipping it keeps every intermediate an exact integer
    that any engine replays as chained CTEs, with no float sum order to
    disagree on.

        auth'(v) = Σ_{u→v} hub(u)        hub'(u) = Σ_{u→v} auth'(v)

    starting from hub = 1.  Growth bound: after k rounds values are at
    most n·d_max^(2k) — DECIMAL(38,0) holds d_max ~ 1e4 graphs at k = 3
    with room (1e24 of 1e38); raise ``iterations`` only with that bound
    in mind (documented contract, asserted at runtime is impossible
    without a count, so the docstring is the contract).

    Output: top-k nodes by authority with auth_ratio/hub_ratio — each
    score over its max, the normalization-invariant quantity — rounded to
    9 (ratios are ≤ 1, safely inside portable-round range).  Ties break
    by node id.  Scale shape per round: two equi-joins + two groupBys
    with map-side combine (the Pregel-on-DataFrames pattern); each round
    is materialized.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    dec = "decimal(38,0)"
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).transform(materialize, eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(materialize, eager=True)
    )
    hub = nodes.withColumn("h", F.lit(1).cast(dec))
    auth = None
    for i in range(iterations):
        a_sums = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        auth = nodes.join(
            a_sums.withColumnRenamed("dst", "node"), "node", "left"
        ).select("node", F.coalesce(F.col("a"), F.lit(0).cast(dec)).alias("a"))
        h_sums = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
        )
        hub = nodes.join(
            h_sums.withColumnRenamed("src", "node"), "node", "left"
        ).select("node", F.coalesce(F.col("h"), F.lit(0).cast(dec)).alias("h"))
        if i < iterations - 1:
            hub = materialize(hub, eager=True)
    joined = auth.join(hub, "node")
    maxes = joined.agg(
        F.max("a").alias("ma"), F.max("h").alias("mh")
    )
    return (
        joined.crossJoin(F.broadcast(maxes))
        .select(
            "node",
            F.round(
                F.when(
                    F.col("ma") > 0, F.col("a").cast("double") / F.col("ma").cast("double")
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("auth_ratio"),
            F.round(
                F.when(
                    F.col("mh") > 0, F.col("h").cast("double") / F.col("mh").cast("double")
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("hub_ratio"),
        )
        .orderBy(F.col("auth_ratio").desc(), "node")
        .limit(topk)
    )


def adamic_adar_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
    max_middle_degree: int | None = 1000,
) -> DataFrame:
    """Degree-weighted link prediction — Adamic–Adar and resource-
    allocation scores for non-adjacent pairs, the standard upgrades over
    raw common-neighbor counts (:func:`common_neighbor_scores`): a shared
    neighbor that connects to EVERYTHING is weak evidence, so each middle
    m contributes 1/ln(deg m) (AA, Adamic & Adar 2003) and 1/deg m
    (RA, Zhou et al. 2009) instead of 1.

    Same wedge shape and ``max_middle_degree`` scale knob as
    common_neighbor_scores; a wedge middle always has deg ≥ 2, so
    ln(deg m) ≥ ln 2 and the weights are finite by construction.  The
    per-pair weight sums fold in sorted MIDDLE-ID order (collect of the
    shared middles — bounded by the common-neighbor count, itself capped
    by the middle-degree knob), so the doubles are engine- and
    partitioning-independent.  Returns
    (u, v, common, aa_score, ra_score) for non-adjacent pairs with
    ≥ ``min_common`` shared neighbors.
    """
    sym = materialize(_symmetrize(edges, src, dst))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
    mids = sym.select(F.col("b").alias("m"), F.col("a").alias("n"))
    if max_middle_degree is not None:
        ok = deg.where(F.col("_deg") <= max_middle_degree).select(
            F.col("a").alias("m")
        )
        mids = mids.join(ok, "m", "left_semi")
    middeg = deg.select(F.col("a").alias("m"), F.col("_deg").alias("_mdeg"))
    wedges = (
        mids.alias("x")
        .join(mids.alias("y"), "m")
        .where(F.col("x.n") < F.col("y.n"))
        .join(middeg, "m")
        .select(
            F.col("x.n").alias("u"),
            F.col("y.n").alias("v"),
            F.col("m"),
            F.col("_mdeg"),
        )
    )
    # ONE sorted collect feeds BOTH weight folds (struct accumulator — the
    # bcubed_eval pattern): two collect_list aggregates of the same struct
    # doubled the heaviest single-task step.  Per-field addition order is
    # exactly the sorted-middle order either way, so the doubles match.
    both_folds = F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col("m"), F.col("_mdeg")))),
        F.struct(F.lit(0.0).alias("aa"), F.lit(0.0).alias("ra")),
        lambda acc, s: F.struct(
            (acc.getField("aa") + F.lit(1.0) / F.log(s.getField("_mdeg").cast("double"))).alias("aa"),
            (acc.getField("ra") + F.lit(1.0) / s.getField("_mdeg").cast("double")).alias("ra"),
        ),
    )
    pairs = (
        wedges.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"), both_folds.alias("_w"))
        .select(
            "u", "v", "common",
            F.col("_w.aa").alias("_aa"), F.col("_w.ra").alias("_ra"),
        )
        .where(F.col("common") >= min_common)
    )
    existing = sym.where(F.col("a") < F.col("b")).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    cand = pairs.join(existing, ["u", "v"], "left_anti")
    return cand.select(
        "u",
        "v",
        F.col("common").cast("long").alias("common"),
        F.round("_aa", 9).alias("aa_score"),
        F.round("_ra", 9).alias("ra_score"),
    )


def cooccurrence_pairs(
    df: DataFrame,
    user_col: str,
    item_col: str,
    *,
    max_items_per_user: int = 50,
    min_users: int = 1,
) -> DataFrame:
    """Bipartite projection with the wedge-join discipline — item–item
    co-occurrence counts plus lift, the recsys / market-basket staple
    ("users who bought A also bought B") and the item-similarity seed
    every co-click graph starts from.

    The quadratic hazard lives in the hot user (a crawler account
    touching a million items turns one row group into 10¹² pairs), so
    the projection CAPS each user's item set FIRST — deterministically,
    the lexicographically smallest ``max_items_per_user`` items via one
    per-user rank window — making the pair fan-out Σ min(deg, cap)²: the
    same knob-first posture the capped wedge joins adopted after the
    adamic_adar audit (docs/SCALE.md r13 note).  Then one self-join per
    user on item_a < item_b and one (a, b) hash aggregate.

    ``lift`` = P(a,b)/(P(a)P(b)) = n_ab·N / (n_a·n_b) over the CAPPED
    sets (exact integer cross-product, one float division, round 6);
    N = distinct users.  Pairs below ``min_users`` are dropped pre-lift
    (at corpus scale the singleton-pair mass is nearly everything).

    Returns (item_a, item_b, n_users, lift).
    """
    from pyspark.sql import Window

    base = (
        df.select(F.col(user_col).alias("_u"), F.col(item_col).alias("_i"))
        .where(F.col(user_col).isNotNull() & F.col(item_col).isNotNull())
        .distinct()
    )
    w = Window.partitionBy("_u").orderBy("_i")
    capped = (
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_items_per_user)
        .drop("_rn")
    )
    n_tot = capped.agg(F.countDistinct("_u").alias("_N"))
    deg = capped.groupBy("_i").agg(F.count(F.lit(1)).alias("_deg"))
    a = capped.select(F.col("_u"), F.col("_i").alias("item_a"))
    b = capped.select(F.col("_u"), F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_u")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .where(F.col("n_users") >= min_users)
    )
    da = deg.select(F.col("_i").alias("item_a"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("_i").alias("item_b"), F.col("_deg").alias("_db"))
    return (
        pairs.join(da, "item_a")
        .join(db, "item_b")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "item_a",
            "item_b",
            "n_users",
            F.round(
                (F.col("n_users") * F.col("_N")).cast("double")
                / (F.col("_da") * F.col("_db")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# Shared literal: powers of two for the HyperBall register fold (index k
# holds 2^k) — list_extract-able on both engines, so no shift-operator
# dialect exposure.
POW2: tuple[int, ...] = tuple(2**k for k in range(34))

HLL_ALPHA_16 = 0.673  # the published HLL bias constant for m = 16


def hyperball_neighborhood(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    hops: int = 2,
    registers: int = 16,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2011) — per-node ball-size estimation
    |{u : dist(v,u) ≤ t}| via HyperLogLog counters that merge along
    edges: the ONLY way neighborhood functions get computed on
    billion-node graphs, because the per-node state is m registers
    (here 16 bytes) instead of a reachable-set, and a round is one
    register-wise max-merge — exact BFS frontiers
    (:func:`bfs_hops`) grow with the ball, HyperBall state doesn't.

    Portability discipline: register index and rank derive from md5 hex
    (the sampling module's portable-uniform primitive) with STRING ops
    only — leading-zero hex count + a first-digit bit-length CASE — so
    no engine hash or shift operator is exposed; the harmonic-mean
    denominator Σ 2^(-r_j) clears to the exact INTEGER Σ 2^(33-r_j)
    (register rank ≤ 33, one shared power table), so merges and sums are
    order-free and the estimate is ONE float division scaled by the
    published α₁₆·m²·2³³ (absent sparse registers contribute 2³³
    apiece).  Below the published 2.5·m small-range threshold with empty
    registers present, linear counting m·ln(m/V) applies — the original
    HLL recipe, with V (the empty-register count) shipped in the output.

    Scale: per round, shuffle = |E|·m register rows (m constant); the
    hot-node hazard is absent by construction (max-merge is associative,
    map-side combinable).  ``hops`` is the documented unroll bound (the
    oracle replays each round as a chained CTE, the pagerank precedent).

    Returns (node, hops, reg_sum, v_empty, est), est rounded to 3.
    """
    if registers != 16:
        raise ValueError("only m = 16 registers supported (α constant)")
    m = registers
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    # HLL element hash: ONE register per element — hex digit 1 is the
    # register index, hex digits 2–9 (32 bits) carry the rank.  The state
    # is SPARSE (absent (node, j) ⇒ rank 0), so the per-node footprint is
    # ≤ min(ball, m) rows during the merge.
    h = F.md5(F.col("node").cast("string"))
    j = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    hex8 = F.substring(h, 2, 8)
    z = F.length(F.regexp_extract(hex8, "^(0*)", 1))
    d = F.substring(hex8, (z + 1).cast("int"), 1)
    blen = (
        F.when(d == "1", 1)
        .when(d.isin("2", "3"), 2)
        .when(d.isin("4", "5", "6", "7"), 3)
        .otherwise(4)
    )
    r = F.when(z == 8, F.lit(33)).otherwise(4 * z + (4 - blen) + 1)
    regs = nodes.select("node", j.alias("j"), r.cast("int").alias("r"))
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    for _ in range(hops):
        nbr = e.join(regs, e["_d"] == regs["node"]).select(
            F.col("_s").alias("node"), "j", "r"
        )
        regs = (
            regs.unionByName(nbr)
            .groupBy("node", "j")
            .agg(F.max("r").alias("r"))
        )
    pow2 = F.array(*[F.lit(v).cast("long") for v in POW2])
    top = float(POW2[33])
    summed = regs.groupBy("node").agg(
        F.sum(F.element_at(pow2, (F.lit(33) - F.col("r") + 1).cast("int"))).alias(
            "_present_sum"
        ),
        F.count(F.lit(1)).alias("_k"),
    )
    # absent registers hold rank 0 and contribute 2^33 each to the
    # cleared-denominator sum; V = empty-register count feeds the
    # published small-range linear-counting correction m·ln(m/V)
    reg_sum = (
        F.col("_present_sum")
        + (F.lit(m).cast("long") - F.col("_k")) * F.lit(POW2[33]).cast("long")
    )
    v_empty = (F.lit(m) - F.col("_k")).cast("int")
    scale = HLL_ALPHA_16 * float(m * m) * top
    raw = F.lit(scale) / reg_sum.cast("double")
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double"))
    est = F.when((raw < 2.5 * m) & (v_empty > 0), lc).otherwise(raw)
    return summed.select(
        "node",
        F.lit(hops).cast("int").alias("hops"),
        reg_sum.cast("long").alias("reg_sum"),
        v_empty.alias("v_empty"),
        F.round(est, 3).alias("est"),
    )


def local_clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_degree: int | None = 1000,
) -> DataFrame:
    """Per-node clustering coefficient — triangles(v) / C(deg v, 2), the
    local "how clique-like is my neighborhood" signal under the global
    :func:`triangle_count` scalar: community detection seeds on it, spam
    rings light up with it (a follower farm has near-zero clustering).

    Wedge discipline: closed wedges come from the same order-canonical
    (i<j<k) double equi-join as triangle_count — each triangle reaches
    all THREE member nodes via one explode of the (i,j,k) row, so no
    per-node re-join.  The optional ``max_degree`` knob drops super-hub
    nodes from the wedge join FIRST (their Σ deg² term is the quadratic
    hazard — the adamic_adar posture); dropped hubs still appear in the
    output with NULL coefficient, an explicit "not computed", never a
    silent zero.  CAVEAT: the "never a silent zero" guarantee holds for
    the dropped hubs themselves, not for their neighbors — a non-hub node
    adjacent to a dropped hub keeps its FULL degree in the denominator
    while triangles through the hub are not counted, so its coefficient
    is a LOWER BOUND (exact when none of its triangles pass through a
    dropped hub).  Size ``max_degree`` so capped nodes are genuine
    super-hubs (boilerplate/spam), where neighbor triangles through the
    hub are noise by construction; pass ``None`` for the exact tier.
    Ratio is exact-integer 2·tri vs deg·(deg−1), ONE float
    division, round 6.  Degree-1 nodes (no wedge) emit 0.0.

    Returns (node, degree, triangles, clustering).
    """
    und = _symmetrize(edges, src, dst)
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    kept = deg if max_degree is None else deg.where(F.col("degree") <= max_degree)
    e = (
        und.join(kept.select(F.col("node").alias("a")), "a")
        .join(kept.select(F.col("node").alias("b")), "b")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("_ta"), F.col("b").alias("_tc"))
    tris = (
        e.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("_ta")) & (F.col("c") == F.col("_tc")),
        )
        .select("a", "b", "c")
    )
    member = (
        tris.select(F.col("a").alias("node"))
        .unionByName(tris.select(F.col("b").alias("node")))
        .unionByName(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = deg.join(member, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
    )
    ratio = F.round(
        (2 * F.col("triangles")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
        6,
    )
    dropped_hub = (
        F.lit(False) if max_degree is None else F.col("degree") > max_degree
    )
    return out.select(
        "node",
        "degree",
        "triangles",
        F.when(dropped_hub, F.lit(None).cast("double"))
        .when(F.col("degree") <= 1, F.lit(0.0))
        .otherwise(ratio)
        .alias("clustering"),
    )
