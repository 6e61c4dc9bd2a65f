"""Graph: traversals, centralities, communities and link prediction
(``operators/graph``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.registry._common import _tables
from area_etl_spark.registry._sql import _jaccard_portable_ctes, _minhash_portable_ctes


def q_bom_explosion(spark, sf_dir):
    """BOM explosion over a derived part hierarchy (parent = key div 10):
    per root assembly, node count and total rolled-up cost — edge-quantity
    PRODUCTS carried through pointer doubling; oracle replays with a
    recursive CTE."""
    from area_etl_spark.operators.graph import bom_rollup

    p = _tables(spark, sf_dir)["part"]
    edges = p.where(F.col("p_partkey") >= 10).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 10").alias("parent"),
        (F.col("p_partkey") % 5 + 1).alias("qty"),
    )
    units = bom_rollup(edges)
    costs = p.select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    return (
        units.join(costs, "node")
        .groupBy("root")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("units") * F.col("cents")).alias("total_cost_cents"),
        )
    )
def o_bom_explosion() -> str:
    return """
            WITH RECURSIVE e AS (
                SELECT p_partkey AS child, p_partkey // 10 AS parent,
                       p_partkey % 5 + 1 AS qty
                FROM part WHERE p_partkey >= 10
            ), roots AS (
                -- roots inlined as a subquery and the walk runs TOP-DOWN:
                -- a separate chained CTE inside WITH RECURSIVE
                -- triple-evaluates the anchor in DuckDB 1.0 (the
                -- hierarchy_paths lesson)
                SELECT node
                FROM (SELECT child AS node FROM e UNION SELECT parent FROM e) n
                WHERE node NOT IN (SELECT child FROM e)
            ), walk(node, root, units) AS (
                SELECT node, node, CAST(1 AS BIGINT) FROM roots
                UNION ALL
                SELECT e.child, w.root, w.units * e.qty
                FROM e JOIN walk w ON e.parent = w.node
            )
            SELECT w.root, COUNT(*) AS n_nodes,
                   CAST(SUM(w.units * CAST(round(p.p_retailprice * 100) AS BIGINT))
                        AS BIGINT) AS total_cost_cents
            FROM walk w JOIN part p ON p.p_partkey = w.node
            GROUP BY w.root
        """


def q_hierarchy_paths(spark, sf_dir):
    """Parent-pointer hierarchy flattening (WITH RECURSIVE in SQL engines;
    Spark lacks it): synthetic forest parent(p) = p // 4 over part keys,
    flattened to (node, root, depth, path) by pointer doubling — O(log
    depth) self-joins, never depth sequential rounds."""
    from area_etl_spark.operators.graph import ancestor_paths

    tables = _tables(spark, sf_dir)
    edges = tables["part"].select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey DIV 4").alias("parent"),
    ).where(F.col("p_partkey") > 0)
    return ancestor_paths(edges)
def o_hierarchy_paths() -> str:
    return """
            WITH RECURSIVE e AS (
                SELECT p_partkey AS child, p_partkey // 4 AS parent
                FROM part WHERE p_partkey > 0
            ), roots AS (
                -- roots inlined as a subquery: a separate chained CTE inside
                -- WITH RECURSIVE triple-evaluates the anchor in DuckDB 1.0
                SELECT node
                FROM (SELECT child AS node FROM e UNION SELECT parent FROM e) n
                WHERE node NOT IN (SELECT child FROM e)
            ), walk(node, root, depth, path) AS (
                SELECT node, node, 0, CAST(node AS VARCHAR) FROM roots
                UNION ALL
                SELECT e.child, w.root, w.depth + 1,
                       CAST(e.child AS VARCHAR) || '/' || w.path
                FROM e JOIN walk w ON e.parent = w.node
            )
            SELECT node, root, CAST(depth AS INTEGER) AS depth, path FROM walk
        """


def _dedup_best_rep_sql(threshold: float = 0.5) -> str:
    """Portable dedup pipeline with QUALITY-aware survivors: per cluster the
    longest document wins (ties → min id), unpaired docs untouched."""
    return f"""
        WITH RECURSIVE {_minhash_portable_ctes()}, {_jaccard_portable_ctes(threshold)},
        pairs AS (
            SELECT id_a, id_b FROM verified WHERE jaccard >= {threshold}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ), walk(node, reach) AS (
            SELECT src, src FROM edges
            UNION
            SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
        ), labels AS (
            SELECT node, MIN(reach) AS label FROM walk GROUP BY node
        ), ranked AS (
            SELECT l.label, l.node,
                   row_number() OVER (PARTITION BY l.label
                                      ORDER BY d.n_chars DESC, l.node ASC) AS rn
            FROM labels l JOIN documents d ON d.doc_id = l.node
        ), winners AS (
            SELECT label, node FROM ranked WHERE rn = 1
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        LEFT JOIN labels l ON l.node = d.doc_id
        LEFT JOIN winners w ON w.label = l.label
        WHERE l.node IS NULL OR d.doc_id = w.node
    """


def q_dedup_best_rep(spark, sf_dir):
    """Quality-aware near-dup collapse: the full portable dedup pipeline but
    keeping the LONGEST document per cluster (ties → min id) instead of the
    min-id representative — the curation-grade survivor policy."""
    from area_etl_spark.operators.graph import near_dup_survivors

    tables = _tables(spark, sf_dir)
    return near_dup_survivors(tables["documents"])
def o_dedup_best_rep() -> str:
    return _dedup_best_rep_sql(threshold=0.5)


def _pagerank_sql(iterations: int = 3, damping_pct: int = 85, scale: int = 10**9) -> str:
    """Chained-CTE replay of the fixed-k all-integer PageRank: one
    (contrib, rank) CTE pair per iteration — possible only because the
    operator's arithmetic is pure integer (commutative sums, floor
    division)."""
    base = (100 - damping_pct) * scale // 100
    ctes = [
        """e AS (
            SELECT DISTINCT user_id AS src, 10000000 + (event_id % 500) AS dst FROM events
            UNION
            SELECT DISTINCT 10000000 + (event_id % 500) AS src, user_id AS dst FROM events
        )""",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""c{k} AS (
                SELECT e.dst AS node, CAST(SUM(r.pr // g.d) AS BIGINT) AS s
                FROM e JOIN deg g ON g.src = e.src JOIN r{k - 1} r ON r.node = e.src
                GROUP BY e.dst
            )"""
        )
        ctes.append(
            f"""r{k} AS (
                SELECT n.node,
                       CAST({base} AS BIGINT) + ({damping_pct} * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c{k} c ON c.node = n.node
            )"""
        )
    # DuckDB SUM(BIGINT) yields HUGEINT (INT128); without the CASTs the dtype
    # propagates through the // arithmetic and the final pr_rank column hashes
    # differently from Spark's LongType even when every value matches
    # (CORRECTNESS_r06 adjudication).  Cast at both the partial sum and the
    # final projection so the oracle's dtype is BIGINT end-to-end.
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT node, CAST(pr AS BIGINT) AS pr_rank FROM r{iterations}"
    )


def q_pagerank(spark, sf_dir):
    """Fixed-3-iteration all-integer PageRank over the bidirectional
    user↔item interaction graph (item = event_id mod 500, offset past the
    user-id range).  Integer arithmetic makes the iterative algorithm
    bit-reproducible and lets the oracle replay each round as a chained
    CTE."""
    from area_etl_spark.operators.graph import pagerank_integer

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        F.col("user_id").alias("u"),
        (F.pmod(F.col("event_id"), F.lit(500)) + F.lit(10_000_000)).alias("i"),
    )
    fwd = ev.select(F.col("u").alias("src"), F.col("i").alias("dst"))
    rev = ev.select(F.col("i").alias("src"), F.col("u").alias("dst"))
    edges = fwd.unionByName(rev).distinct()
    return pagerank_integer(edges, iterations=3).select(
        "node", F.col("rank").alias("pr_rank")
    )
def o_pagerank() -> str:
    return _pagerank_sql(iterations=3)


def _order_graph(tables):
    """Sparse derived graph over a 1000-node id space: (custkey mod 1000) →
    (orderkey mod 1000) per order, distinct — density stays constant as SF
    grows, so graph queries stress the ALGORITHM, not an ever-denser input."""
    return (
        tables["orders"]
        .select(
            F.pmod(F.col("o_custkey"), F.lit(1000)).alias("src"),
            F.pmod(F.col("o_orderkey"), F.lit(1000)).alias("dst"),
        )
        .distinct()
    )


def q_bfs_hops(spark, sf_dir):
    """Unweighted shortest-path hop counts from node 1 over the derived
    order graph (undirected) — frontier-expansion BFS, ≤ 6 rounds; the
    oracle replays it as a bounded recursive CTE with a min-hops rollup."""
    from area_etl_spark.operators.graph import bfs_hops

    tables = _tables(spark, sf_dir)
    return bfs_hops(_order_graph(tables), source=1, max_hops=6)
def o_bfs_hops() -> str:
    return """
            WITH RECURSIVE g AS (
                SELECT DISTINCT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst FROM orders
            ), und AS (
                SELECT src AS a, dst AS b FROM g
                UNION
                SELECT dst AS a, src AS b FROM g
            ), walk(node, hops) AS (
                SELECT CAST(1 AS BIGINT), 0
                UNION
                SELECT e.b, w.hops + 1
                FROM walk w JOIN und e ON e.a = w.node
                WHERE w.hops < 6
            )
            SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk GROUP BY node
        """


def q_triangle_count(spark, sf_dir):
    """Global triangle count of the derived order graph — order-canonical
    (i<j<k) double equi-join, each triangle counted once, never all-pairs."""
    from area_etl_spark.operators.graph import triangle_count

    tables = _tables(spark, sf_dir)
    return triangle_count(_order_graph(tables))
def o_triangle_count() -> str:
    return """
            WITH g AS (
                SELECT DISTINCT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst FROM orders
            ), und AS (
                SELECT src AS a, dst AS b FROM g WHERE src <> dst
                UNION
                SELECT dst AS a, src AS b FROM g WHERE src <> dst
            ), e AS (
                SELECT a, b FROM und WHERE a < b
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM e ij
            JOIN e jk ON jk.a = ij.b
            JOIN e ik ON ik.a = ij.a AND ik.b = jk.b
        """


KCORE_K, KCORE_ROUNDS = 3, 3


def _kcore_sql(k: int, rounds: int) -> str:
    """Chained-CTE replay of the fixed-round k-core peel (pagerank
    convention: possible because each round is pure relational algebra)."""
    ctes = [
        """e0 AS (
            SELECT DISTINCT a, b FROM (
                SELECT l_orderkey % 1000 AS a, l_suppkey + 1000000 AS b FROM lineitem
                UNION ALL
                SELECT l_suppkey + 1000000 AS a, l_orderkey % 1000 AS b FROM lineitem
            ) WHERE a <> b
        )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"d{r} AS (SELECT a, COUNT(*) AS d FROM e{p} GROUP BY a)"
        )
        ctes.append(f"k{r} AS (SELECT a FROM d{r} WHERE d >= {k})")
        ctes.append(
            f"""e{r} AS (
                SELECT e.a, e.b FROM e{p} e
                JOIN k{r} x ON e.a = x.a
                JOIN k{r} y ON e.b = y.a
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a AS node, COUNT(*) AS degree FROM e{rounds} GROUP BY a"
    )


def q_kcore(spark, sf_dir):
    """Fixed-3-round 3-core peel of the order↔supplier bipartite graph
    (each round deletes degree<3 nodes + their edges) — dense-subgraph
    mining with deterministic, oracle-replayable rounds (the
    pagerank_integer convention)."""
    from area_etl_spark.operators.graph import kcore_peel

    li = _tables(spark, sf_dir)["lineitem"]
    edges = li.select(
        (F.col("l_orderkey") % 1000).alias("src"),
        (F.col("l_suppkey") + 1_000_000).alias("dst"),
    )
    return kcore_peel(edges, KCORE_K, KCORE_ROUNDS)
def o_kcore() -> str:
    return _kcore_sql(KCORE_K, KCORE_ROUNDS)


def _hyperball_oracle_sql(hops: int = 2) -> str:
    """DuckDB replay of q_hyperball_neighborhood from the graph module's
    own constants (register table + α) — rounds unrolled as chained CTEs
    (the pagerank precedent)."""
    import area_etl_spark.operators.graph as GR

    pow2 = "[" + ", ".join(str(v) for v in GR.POW2) + "]"
    m = 16
    scale = GR.HLL_ALPHA_16 * float(m * m) * float(GR.POW2[33])
    hexd = " ".join(f"WHEN '{x:x}' THEN {x}" for x in range(16))
    rounds = []
    prev = "r0"
    for t in range(1, hops + 1):
        rounds.append(
            f"r{t} AS (SELECT node, j, max(r) AS r FROM ("
            f" SELECT node, j, r FROM {prev}"
            f" UNION ALL"
            f" SELECT e.src AS node, t.j, t.r FROM edges e"
            f" JOIN {prev} t ON e.dst = t.node) GROUP BY node, j),"
        )
        prev = f"r{t}"
    return f"""
            WITH ev AS (
                SELECT DISTINCT user_id AS u,
                       (event_id % 500) + 10000000 AS i
                FROM events
            ), edges AS (
                SELECT u AS src, i AS dst FROM ev
                UNION
                SELECT i, u FROM ev
            ), nodes AS (
                SELECT src AS node FROM edges
                UNION
                SELECT dst FROM edges
            ), hx AS (
                SELECT node, md5(CAST(node AS VARCHAR)) AS h FROM nodes
            ), zz AS (
                SELECT node,
                       CASE substr(h, 1, 1) {hexd} END AS j,
                       length(regexp_extract(substr(h, 2, 8), '^(0*)', 1)) AS z,
                       substr(h, 2, 8) AS hex8
                FROM hx
            ), r0 AS (
                SELECT node, CAST(j AS INT) AS j,
                       CAST(CASE WHEN z = 8 THEN 33
                            ELSE 4 * z
                                 + (4 - (CASE substr(hex8, z + 1, 1)
                                         WHEN '1' THEN 1
                                         WHEN '2' THEN 2 WHEN '3' THEN 2
                                         WHEN '4' THEN 3 WHEN '5' THEN 3
                                         WHEN '6' THEN 3 WHEN '7' THEN 3
                                         ELSE 4 END)) + 1
                            END AS INT) AS r
                FROM zz
            ),
            {''.join(rounds)}
            fin AS (
                SELECT node,
                       CAST(SUM(list_extract({pow2}, 33 - r + 1))
                            + ({m} - count(*)) * {GR.POW2[33]} AS BIGINT)
                           AS reg_sum,
                       CAST({m} - count(*) AS INT) AS v_empty
                FROM {prev} GROUP BY node
            )
            SELECT node, CAST({hops} AS INT) AS hops, reg_sum, v_empty,
                   round(CASE WHEN {scale!r} / CAST(reg_sum AS DOUBLE)
                                   < {2.5 * m!r} AND v_empty > 0
                              THEN {float(m)!r}
                                   * ln({float(m)!r} / CAST(v_empty AS DOUBLE))
                              ELSE {scale!r} / CAST(reg_sum AS DOUBLE)
                         END, 3) AS est
            FROM fin
    """


def q_hyperball_neighborhood(spark, sf_dir):
    """HyperBall 2-hop ball-size estimation over the bidirectional
    user↔item event graph (the pagerank graph): md5-derived HLL registers
    merge along edges for two unrolled rounds — per-node state is 16
    registers, a round is one register-wise max-merge (map-side
    combinable), the harmonic denominator is the exact integer
    Σ 2^(33−r); DuckDB replays registers, both rounds, and the one float
    division."""
    from area_etl_spark.operators.graph import hyperball_neighborhood

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        F.col("user_id").alias("u"),
        (F.pmod(F.col("event_id"), F.lit(500)) + F.lit(10_000_000)).alias("i"),
    )
    fwd = ev.select(F.col("u").alias("src"), F.col("i").alias("dst"))
    rev = ev.select(F.col("i").alias("src"), F.col("u").alias("dst"))
    edges = fwd.unionByName(rev).distinct()
    return hyperball_neighborhood(edges, hops=2)
def o_hyperball_neighborhood() -> str:
    return _hyperball_oracle_sql()


def q_local_clustering(spark, sf_dir):
    """Per-node clustering coefficient over the derived order graph: the
    order-canonical triangle join exploded back to all three members,
    exact-integer 2·tri / deg·(deg−1), degree-capped hubs reported NULL;
    DuckDB replays the wedge join and the ratio."""
    from area_etl_spark.operators.graph import local_clustering_coefficient

    tables = _tables(spark, sf_dir)
    return local_clustering_coefficient(_order_graph(tables), max_degree=500)
def o_local_clustering() -> str:
    return """
            WITH g AS (
                SELECT DISTINCT o_custkey % 1000 AS src, o_orderkey % 1000 AS dst
                FROM orders
            ), und AS (
                SELECT src AS a, dst AS b FROM g WHERE src <> dst
                UNION
                SELECT dst AS a, src AS b FROM g WHERE src <> dst
            ), deg AS (
                SELECT a AS node, CAST(count(*) AS BIGINT) AS degree
                FROM und GROUP BY a
            ), kept AS (
                SELECT node FROM deg WHERE degree <= 500
            ), e AS (
                SELECT und.a, und.b FROM und
                JOIN kept ka ON ka.node = und.a
                JOIN kept kb ON kb.node = und.b
                WHERE und.a < und.b
            ), tris AS (
                SELECT ij.a AS a, ij.b AS b, jk.b AS c
                FROM e ij
                JOIN e jk ON jk.a = ij.b
                JOIN e ik ON ik.a = ij.a AND ik.b = jk.b
            ), member AS (
                SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
                    SELECT a AS node FROM tris
                    UNION ALL SELECT b FROM tris
                    UNION ALL SELECT c FROM tris
                ) GROUP BY node
            ), o AS (
                SELECT deg.node, deg.degree,
                       COALESCE(member.triangles, 0) AS triangles
                FROM deg LEFT JOIN member USING (node)
            )
            SELECT node, degree, triangles,
                   CASE WHEN degree > 500 THEN NULL
                        WHEN degree <= 1 THEN 0.0
                        ELSE round(CAST(2 * triangles AS DOUBLE)
                                   / CAST(degree * (degree - 1) AS DOUBLE), 6)
                   END AS clustering
            FROM o
        """


def q_cooccurrence_pairs(spark, sf_dir):
    """Market-basket bipartite projection over lineitem (order = basket,
    part-class = item): deterministic per-basket cap (lexicographically
    smallest 5) BEFORE the pair join, min-support 2, exact-integer lift —
    the capped wedge shape the adamic_adar audit standardized; DuckDB
    replays cap, pairs, degrees, and the lift division."""
    from area_etl_spark.operators.graph import cooccurrence_pairs

    li = _tables(spark, sf_dir)["lineitem"].select(
        F.col("l_orderkey").alias("basket"),
        (F.col("l_partkey") % 100).alias("item"),
    )
    return cooccurrence_pairs(
        li, "basket", "item", max_items_per_user=5, min_users=2
    )
def o_cooccurrence_pairs() -> str:
    return """
            WITH base AS (
                SELECT DISTINCT l_orderkey AS u, l_partkey % 100 AS i
                FROM lineitem
            ), capped AS (
                SELECT u, i FROM (
                    SELECT u, i,
                           row_number() OVER (PARTITION BY u ORDER BY i) AS rn
                    FROM base
                ) WHERE rn <= 5
            ), nt AS (
                SELECT count(DISTINCT u) AS N FROM capped
            ), deg AS (
                SELECT i, count(*) AS d FROM capped GROUP BY i
            ), p AS (
                SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_users
                FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
                GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT item_a, item_b, n_users,
                   round(CAST(n_users * N AS DOUBLE)
                         / CAST(da.d * db.d AS DOUBLE), 6) AS lift
            FROM p
            JOIN deg da ON da.i = item_a
            JOIN deg db ON db.i = item_b
            CROSS JOIN nt
        """


def _ppr_sql(iterations: int = 3, damping_pct: int = 85, scale: int = 10**9) -> str:
    """Chained-CTE replay of the personalized PageRank (same machinery as
    _pagerank_sql with seed-gated base/init terms)."""
    base = (100 - damping_pct) * scale // 100
    ctes = [
        """e AS (
            SELECT DISTINCT user_id AS src, 10000000 + (event_id % 500) AS dst FROM events
            UNION
            SELECT DISTINCT 10000000 + (event_id % 500) AS src, user_id AS dst FROM events
        )""",
        "deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src)",
        """nodes AS (
            SELECT node, MAX(s) AS seed FROM (
                SELECT src AS node,
                       CASE WHEN src < 10000000 AND src % 5 = 0 THEN 1 ELSE 0 END AS s
                FROM e
                UNION ALL
                SELECT dst,
                       CASE WHEN dst < 10000000 AND dst % 5 = 0 THEN 1 ELSE 0 END
                FROM e
            ) GROUP BY node
        )""",
        f"""r0 AS (SELECT node,
                   CAST(CASE WHEN seed = 1 THEN {scale} ELSE 0 END AS BIGINT) AS pr
                   FROM nodes)""",
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            f"""c{k} AS (
                SELECT e.dst AS node, CAST(SUM(r.pr // g.d) AS BIGINT) AS s
                FROM e JOIN deg g ON g.src = e.src JOIN r{k - 1} r ON r.node = e.src
                GROUP BY e.dst
            )"""
        )
        ctes.append(
            f"""r{k} AS (
                SELECT n.node,
                       CAST(CASE WHEN n.seed = 1 THEN {base} ELSE 0 END AS BIGINT)
                       + ({damping_pct} * COALESCE(c.s, 0)) // 100 AS pr
                FROM nodes n LEFT JOIN c{k} c ON c.node = n.node
            )"""
        )
    return (
        f"WITH {', '.join(ctes)} "
        f"SELECT node, CAST(pr AS BIGINT) AS ppr_rank FROM r{iterations}"
    )


def q_personalized_pagerank(spark, sf_dir):
    """Seeded-teleport PageRank over the user↔item graph (seeds = every
    5th user): random-walk-with-restart affinity to the seed set —
    all-integer, fixed 3 rounds, oracle replays each round as chained
    CTEs."""
    from area_etl_spark.operators.graph import personalized_pagerank_integer

    ev = _tables(spark, sf_dir)["events"]
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            (F.lit(10_000_000) + F.col("event_id") % 500).alias("dst"),
        )
        .unionByName(
            ev.select(
                (F.lit(10_000_000) + F.col("event_id") % 500).alias("src"),
                F.col("user_id").alias("dst"),
            )
        )
        .distinct()
    )
    seeds = ev.select("user_id").where(F.col("user_id") % 5 == 0).distinct()
    return personalized_pagerank_integer(edges, seeds).select(
        "node", F.col("rank").alias("ppr_rank")
    )
def o_personalized_pagerank() -> str:
    return _ppr_sql()


def q_link_prediction(spark, sf_dir):
    """Item-item link prediction over the user↔item bipartite graph:
    common-user counts + neighborhood Jaccard for non-adjacent item pairs
    (wedges through users; 'users also engaged with') — output bounded by
    |items|², wedge work by the middle-degree cap."""
    from area_etl_spark.operators.graph import common_neighbor_scores

    ev = _tables(spark, sf_dir)["events"]
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.lit(10_000_000) + F.col("event_id") % 500).alias("dst"),
    ).distinct()
    scored = common_neighbor_scores(edges, min_common=2, max_middle_degree=100000)
    # keep the item-item side (user-user pairs ride the same machinery)
    return scored.where(F.col("u") >= 10_000_000)
def o_link_prediction() -> str:
    return """
            WITH sym AS (
                SELECT DISTINCT a, b FROM (
                    SELECT user_id AS a, 10000000 + (event_id % 500) AS b FROM events
                    UNION ALL
                    SELECT 10000000 + (event_id % 500) AS a, user_id AS b FROM events
                ) WHERE a <> b
            ), deg AS (
                SELECT a, COUNT(*) AS d FROM sym GROUP BY a
            ), mids AS (
                SELECT b AS m, a AS n FROM sym
            ), pairs AS (
                SELECT x.n AS u, y.n AS v, COUNT(*) AS common
                FROM mids x JOIN mids y ON x.m = y.m AND x.n < y.n
                GROUP BY x.n, y.n
                HAVING COUNT(*) >= 2
            ), cand AS (
                SELECT p.* FROM pairs p
                LEFT JOIN (SELECT a AS u, b AS v FROM sym WHERE a < b) e
                  ON p.u = e.u AND p.v = e.v
                WHERE e.u IS NULL
            )
            SELECT c.u, c.v, CAST(c.common AS BIGINT) AS common,
                   round(CAST(c.common AS DOUBLE)
                         / (du.d + dv.d - c.common), 6) + 0.0 AS jaccard
            FROM cand c
            JOIN deg du ON du.a = c.u
            JOIN deg dv ON dv.a = c.v
            WHERE c.u >= 10000000
        """


def _lpa_sql(rounds: int = 3) -> str:
    """DuckDB replay of graph.label_propagation over the user↔item events
    graph: each fixed round is a neighbor-label count + a (count DESC,
    label ASC) argmax + a coalesce update — chained CTEs, all-integer."""
    parts = ["""
        WITH ev AS (
            SELECT DISTINCT user_id AS u, (event_id % 500) + 10000000 AS i
            FROM events
        ), und AS (
            SELECT u AS src, i AS dst FROM ev
            UNION
            SELECT i AS src, u AS dst FROM ev
        ), l0 AS (
            SELECT DISTINCT src AS node, src AS label FROM und
        )"""]
    for r in range(1, rounds + 1):
        parts.append(f""", n{r} AS (
            SELECT e.dst AS node, l.label, COUNT(*) AS c
            FROM und e JOIN l{r - 1} l ON l.node = e.src
            GROUP BY 1, 2
        ), b{r} AS (
            SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, label ASC) AS rn
                FROM n{r}
            ) WHERE rn = 1
        ), l{r} AS (
            SELECT p.node, COALESCE(b.label, p.label) AS label
            FROM l{r - 1} p LEFT JOIN b{r} b USING (node)
        )""")
    parts.append(f"""
        SELECT node, label FROM l{rounds}
    """)
    return "".join(parts)


def _lpa_cte(rounds: int = 3) -> str:
    """The _lpa_sql WITH-chain without the final SELECT — composable prefix
    for oracles that post-process the LPA labels (modularity)."""
    full = _lpa_sql(rounds)
    return full[: full.rindex("SELECT node, label")]


def q_modularity(spark, sf_dir):
    """Newman modularity of the LPA communities over the user↔item graph —
    the eval score for q_label_propagation: exact integer in_c/d_c/2m
    statistics, per-community terms folded in sorted label order."""
    from area_etl_spark.operators.graph import label_propagation, modularity

    ev = _tables(spark, sf_dir)["events"].select(
        F.col("user_id").alias("src"),
        (F.pmod(F.col("event_id"), F.lit(500)) + F.lit(10_000_000)).alias("dst"),
    )
    labels = label_propagation(ev, rounds=3)
    return modularity(ev, labels)
def o_modularity() -> str:
    return _lpa_cte(3) + """, lab AS (
                SELECT node, label FROM l3
            ), twom AS (
                SELECT COUNT(*) AS twom FROM und
            ), inc AS (
                SELECT ls.label, COUNT(*) AS inc
                FROM und e JOIN lab ls ON ls.node = e.src
                           JOIN lab ld ON ld.node = e.dst
                WHERE ls.label = ld.label GROUP BY 1
            ), deg AS (
                SELECT src, COUNT(*) AS d FROM und GROUP BY 1
            ), dc AS (
                SELECT l.label, SUM(CAST(d AS HUGEINT)) AS dc
                FROM deg JOIN lab l ON l.node = deg.src GROUP BY 1
            ), per AS (
                SELECT dc.label, CAST(COALESCE(inc.inc, 0) AS HUGEINT) AS inc, dc.dc
                FROM dc LEFT JOIN inc USING (label)
            ), qq AS (
                SELECT label,
                       CAST(inc AS DOUBLE) / CAST(twom AS DOUBLE)
                       - CAST(dc * dc AS DOUBLE)
                         / CAST(CAST(twom AS HUGEINT) * CAST(twom AS HUGEINT) AS DOUBLE)
                           AS q
                FROM per, twom
            ), agg AS (
                SELECT COUNT(*) AS n_communities,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(q ORDER BY label)),
                                   (x, y) -> x + y) AS qsum
                FROM qq
            ), nn AS (
                SELECT COUNT(*) AS n_nodes FROM lab
            )
            SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
                   CAST(n_communities AS BIGINT) AS n_communities,
                   CAST(twom / 2 AS BIGINT) AS m_edges,
                   round(qsum, 9) AS modularity
            FROM nn, agg, twom
        """


def q_label_propagation(spark, sf_dir):
    """Synchronous frequency-LPA community detection over the user↔item
    interaction graph (3 fixed rounds, most-frequent neighbor label, ties
    to the smaller label) — deterministic by construction, so the oracle
    replays every round as chained CTEs."""
    from area_etl_spark.operators.graph import label_propagation

    ev = _tables(spark, sf_dir)["events"].select(
        F.col("user_id").alias("src"),
        (F.pmod(F.col("event_id"), F.lit(500)) + F.lit(10_000_000)).alias("dst"),
    )
    return label_propagation(ev, rounds=3)
def o_label_propagation() -> str:
    return _lpa_sql(3)


def _dag_edges(spark, sf_dir):
    """Deterministic 3-layer DAG from the dimension tables: nation keys
    feed supplier-derived mid nodes feed customer-derived leaves (strictly
    increasing id ranges — acyclic by construction)."""
    t = _tables(spark, sf_dir)
    e1 = t["nation"].select(
        (F.col("n_nationkey") % 20).alias("src"),
        (100 + F.col("n_nationkey") % 40).alias("dst"),
    )
    e2 = t["supplier"].select(
        (100 + F.col("s_suppkey") % 40).alias("src"),
        (200 + F.col("s_suppkey") % 60).alias("dst"),
    )
    e3 = t["supplier"].select(
        (F.col("s_suppkey") % 20).alias("src"),
        (200 + (F.col("s_suppkey") * 7) % 60).alias("dst"),
    )
    return e1.unionByName(e2).unionByName(e3).distinct()


_DAG_EDGES_SQL = """e AS (
    SELECT DISTINCT src, dst FROM (
        SELECT n_nationkey % 20 AS src, 100 + n_nationkey % 40 AS dst FROM nation
        UNION ALL
        SELECT 100 + s_suppkey % 40, 200 + s_suppkey % 60 FROM supplier
        UNION ALL
        SELECT s_suppkey % 20, 200 + (s_suppkey * 7) % 60 FROM supplier
    )
)"""


def _dag_layers_sql(rounds: int = 4) -> str:
    """Chained-CTE replay of dag_layers' fixed-round max propagation (the
    pagerank oracle convention)."""
    ctes = [
        _DAG_EDGES_SQL,
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "l0 AS (SELECT node, CAST(0 AS BIGINT) AS layer FROM nodes)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"c{r} AS (SELECT e.dst AS node, MAX(l.layer) + 1 AS cand "
            f"FROM e JOIN l{r - 1} l ON l.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"l{r} AS (SELECT l.node, CAST(COALESCE(c.cand, l.layer) AS BIGINT) AS layer "
            f"FROM l{r - 1} l LEFT JOIN c{r} c USING (node))"
        )
    return f"WITH {', '.join(ctes)} SELECT node, layer FROM l{rounds}"


def q_dag_layers(spark, sf_dir):
    """Topological layers (longest path from sources) over a constructed
    3-tier DAG — fixed-round max-propagation, chained-CTE replayable."""
    from area_etl_spark.operators.graph import dag_layers

    return dag_layers(_dag_edges(spark, sf_dir), rounds=4)
def o_dag_layers() -> str:
    return _dag_layers_sql(rounds=4)


def _shortest_paths_sql(rounds: int = 4) -> str:
    """Chained-CTE Bellman-Ford replay: min-relaxation sweeps over the DAG
    edges with w = (src+dst)%7+1, seeds 0..4 at distance 0."""
    ctes = [
        _DAG_EDGES_SQL,
        "we AS (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM e)",
        "d0 AS (SELECT CAST(unnest([0, 1, 2, 3, 4]) AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"c{r} AS (SELECT we.dst AS node, MIN(d.dist + we.w) AS cand "
            f"FROM we JOIN d{r - 1} d ON d.node = we.src GROUP BY we.dst)"
        )
        ctes.append(
            f"d{r} AS (SELECT node, CAST(CASE WHEN d.dist IS NULL THEN c.cand "
            f"WHEN c.cand IS NULL THEN d.dist "
            f"WHEN c.cand < d.dist THEN c.cand ELSE d.dist END AS BIGINT) AS dist "
            f"FROM d{r - 1} d FULL JOIN c{r} c USING (node))"
        )
    return f"WITH {', '.join(ctes)} SELECT node, dist FROM d{rounds}"


def q_shortest_paths(spark, sf_dir):
    """Multi-source Bellman-Ford over the same DAG with integer weights
    (src+dst derived), seeds = nation-layer nodes 0..4; 4 relaxation
    sweeps cover the 2-hop diameter."""
    from area_etl_spark.operators.graph import shortest_paths_weighted

    e = _dag_edges(spark, sf_dir).withColumn(
        "w", (F.col("src") + F.col("dst")) % 7 + 1
    )
    return shortest_paths_weighted(e, [0, 1, 2, 3, 4], rounds=4)
def o_shortest_paths() -> str:
    return _shortest_paths_sql(rounds=4)


def q_hits_scores(spark, sf_dir):
    """HITS hubs/authorities over the DIRECTED user→item interaction graph
    (users are hubs, items authorities) — fixed-3-round unnormalized power
    iteration in exact DECIMAL integers (normalization only rescales, so
    skipping it keeps every intermediate engine-exact); top-20 authorities
    with max-normalized ratios."""
    from area_etl_spark.operators.graph import hits_scores

    ev = _tables(spark, sf_dir)["events"].select(
        F.col("user_id").alias("src"),
        (F.pmod(F.col("event_id"), F.lit(500)) + F.lit(10_000_000)).alias("dst"),
    ).distinct()
    return hits_scores(ev, iterations=3, topk=20)
def o_hits_scores() -> str:
    return """
            WITH ev AS (
                SELECT DISTINCT user_id AS src,
                       (event_id % 500) + 10000000 AS dst
                FROM events
            ), nodes AS (
                SELECT DISTINCT node FROM (
                    SELECT src AS node FROM ev
                    UNION ALL SELECT dst AS node FROM ev
                )
            ), h0 AS (
                SELECT node, CAST(1 AS HUGEINT) AS h FROM nodes
            ), s1 AS (
                SELECT dst AS node, SUM(h) AS a FROM ev
                JOIN h0 ON h0.node = ev.src GROUP BY 1
            ), a1 AS (
                SELECT n.node, COALESCE(s1.a, 0) AS a
                FROM nodes n LEFT JOIN s1 USING (node)
            ), t1 AS (
                SELECT src AS node, SUM(a) AS h FROM ev
                JOIN a1 ON a1.node = ev.dst GROUP BY 1
            ), h1 AS (
                SELECT n.node, COALESCE(t1.h, 0) AS h
                FROM nodes n LEFT JOIN t1 USING (node)
            ), s2 AS (
                SELECT dst AS node, SUM(h) AS a FROM ev
                JOIN h1 ON h1.node = ev.src GROUP BY 1
            ), a2 AS (
                SELECT n.node, COALESCE(s2.a, 0) AS a
                FROM nodes n LEFT JOIN s2 USING (node)
            ), t2 AS (
                SELECT src AS node, SUM(a) AS h FROM ev
                JOIN a2 ON a2.node = ev.dst GROUP BY 1
            ), h2 AS (
                SELECT n.node, COALESCE(t2.h, 0) AS h
                FROM nodes n LEFT JOIN t2 USING (node)
            ), s3 AS (
                SELECT dst AS node, SUM(h) AS a FROM ev
                JOIN h2 ON h2.node = ev.src GROUP BY 1
            ), a3 AS (
                SELECT n.node, COALESCE(s3.a, 0) AS a
                FROM nodes n LEFT JOIN s3 USING (node)
            ), t3 AS (
                SELECT src AS node, SUM(a) AS h FROM ev
                JOIN a3 ON a3.node = ev.dst GROUP BY 1
            ), h3 AS (
                SELECT n.node, COALESCE(t3.h, 0) AS h
                FROM nodes n LEFT JOIN t3 USING (node)
            ), j AS (
                SELECT a3.node AS node, a3.a AS a, h3.h AS h
                FROM a3 JOIN h3 USING (node)
            ), mx AS (
                SELECT MAX(a) AS ma, MAX(h) AS mh FROM j
            )
            SELECT node,
                   round(CASE WHEN ma > 0
                         THEN CAST(a AS DOUBLE) / CAST(ma AS DOUBLE)
                         ELSE 0.0 END, 9) AS auth_ratio,
                   round(CASE WHEN mh > 0
                         THEN CAST(h AS DOUBLE) / CAST(mh AS DOUBLE)
                         ELSE 0.0 END, 9) AS hub_ratio
            FROM j CROSS JOIN mx
            ORDER BY auth_ratio DESC, node
            LIMIT 20
        """


def q_adamic_adar(spark, sf_dir):
    """Adamic–Adar + resource-allocation link prediction over the same
    user↔item bipartite graph as link_prediction — each shared neighbor
    weighted down by its degree (1/ln deg, 1/deg), weight sums folded in
    sorted middle order.  Item-item side kept.

    The checked shape IS the scale-safe shape (VERDICT r12 item 3): the
    wedge join is O(Σ deg(m)²), so hub middles above ``max_middle_degree``
    (the operator's default 1000 — 'everyone bought the bestseller'
    stopword nodes) are excluded from wedge generation with a documented
    recall tradeoff; the oracle mirrors the cap."""
    from area_etl_spark.operators.graph import adamic_adar_scores

    ev = _tables(spark, sf_dir)["events"]
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.lit(10_000_000) + F.col("event_id") % 500).alias("dst"),
    ).distinct()
    scored = adamic_adar_scores(edges, min_common=2, max_middle_degree=1000)
    return scored.where(F.col("u") >= 10_000_000)
def o_adamic_adar() -> str:
    return """
            WITH e0 AS (
                SELECT DISTINCT user_id AS src,
                       10000000 + event_id % 500 AS dst
                FROM events
            ), sym AS (
                SELECT DISTINCT a, b FROM (
                    SELECT src AS a, dst AS b FROM e0
                    UNION ALL SELECT dst, src FROM e0
                ) WHERE a <> b
            ), deg AS (
                SELECT a, COUNT(*) AS d FROM sym GROUP BY 1
            ), mids AS (
                SELECT s.b AS m, s.a AS n
                FROM sym s JOIN deg ON deg.a = s.b
                WHERE deg.d <= 1000
            ), wedges AS (
                SELECT x.n AS u, y.n AS v, x.m, deg.d AS mdeg
                FROM mids x JOIN mids y USING (m)
                JOIN deg ON deg.a = x.m
                WHERE x.n < y.n
            ), pairs AS (
                SELECT u, v, COUNT(*) AS common,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(1.0 / ln(CAST(mdeg AS DOUBLE)) ORDER BY m)),
                           (x, y) -> x + y) AS aa,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(1.0 / CAST(mdeg AS DOUBLE) ORDER BY m)),
                           (x, y) -> x + y) AS ra
                FROM wedges GROUP BY 1, 2
                HAVING COUNT(*) >= 2
            ), existing AS (
                SELECT a AS u, b AS v FROM sym WHERE a < b
            )
            SELECT p.u, p.v, CAST(common AS BIGINT) AS common,
                   round(aa, 9) AS aa_score,
                   round(ra, 9) AS ra_score
            FROM pairs p ANTI JOIN existing e ON p.u = e.u AND p.v = e.v
            WHERE p.u >= 10000000
        """
