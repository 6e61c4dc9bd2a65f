"""Search and ranking: inverted index, BM25, query likelihood, hybrid fusion and
pairwise ranking (``operators/indexing``, ``operators/ranking``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import similarity as SIM
from area_etl_spark.registry._common import _query_vec, _tables
from area_etl_spark.registry._sql import _cos2_sql


def q_inverted_index(spark, sf_dir):
    """Document-partitioned inverted index (Lucene/Elasticsearch shard
    layout): per-shard term dictionary + ascending postings. One shuffle on
    (shard_id, term); hot terms bounded by shard size, not corpus size."""
    from area_etl_spark.operators.indexing import inverted_index

    docs = _tables(spark, sf_dir)["documents"]
    return inverted_index(docs, "text", "doc_id", n_shards=8)
def o_inverted_index() -> str:
    return """
            WITH t AS (
                SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard_id,
                       unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS term
                FROM documents
            )
            SELECT shard_id, term, CAST(COUNT(*) AS BIGINT) AS df,
                   array_to_string(list_sort(list(doc_id)), ',') AS postings_csv
            FROM t WHERE term <> ''
            GROUP BY shard_id, term
        """


def q_search_terms(spark, sf_dir):
    """Conjunctive term search over the inverted index: term-filtered index
    scan → posting explode → per-doc distinct-term count == |query|. No
    self-joins; shard results merge in one aggregate."""
    from area_etl_spark.operators.indexing import inverted_index, search_terms

    docs = _tables(spark, sf_dir)["documents"]
    idx = inverted_index(docs, "text", "doc_id", n_shards=8)
    return search_terms(idx, ["spark", "window", "merge"], mode="all")
def o_search_terms() -> str:
    return """
            WITH t AS (
                SELECT doc_id,
                       unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS term
                FROM documents
            )
            SELECT doc_id, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_matched
            FROM t WHERE term IN ('spark', 'window', 'merge')
            GROUP BY doc_id HAVING COUNT(DISTINCT term) = 3
        """


def q_bm25_search(spark, sf_dir):
    """Okapi BM25 ranked retrieval (k1=1.2, b=0.75, +1 idf smoothing):
    top-20 documents for a 3-term query. Scores rounded to 6 decimals
    BEFORE the cut and ranked (score desc, doc_id) so the boundary is
    engine-deterministic."""
    from area_etl_spark.operators.indexing import bm25_search

    docs = _tables(spark, sf_dir)["documents"]
    return bm25_search(docs, ["spark", "window", "merge"], "text", "doc_id", topk=20)
def o_bm25_search() -> str:
    return """
            WITH tk AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), dl AS (
                SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id
            ), st AS (
                SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM tk
                WHERE term IN ('spark', 'window', 'merge') GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, COUNT(*) AS df FROM tf GROUP BY term
            )
            SELECT doc_id,
                   round(SUM(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                       * tf * (1.2 + 1)
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS score
            FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
            GROUP BY doc_id
            ORDER BY score DESC, doc_id
            LIMIT 20
        """


def q_phrase_search(spark, sf_dir):
    """Exact phrase query ('hash join') over the positional inverted
    index: pruned postings joined per term, adjacency via shifted position
    intersection — Lucene's positional merge, relationally."""
    from area_etl_spark.operators.indexing import phrase_search, positional_index

    idx = positional_index(_tables(spark, sf_dir)["documents"])
    return phrase_search(idx, ["hash", "join"])
def o_phrase_search() -> str:
    return """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_transform(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           (t, i) -> struct_pack(pos := i - 1, term := t))) AS s
                FROM documents
            ), t AS (
                SELECT doc_id, s.pos AS pos, s.term AS term
                FROM toks WHERE s.term <> ''
            )
            SELECT a.doc_id, COUNT(*) AS n_occurrences
            FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'hash' AND b.term = 'join'
            GROUP BY a.doc_id
        """


_HYBRID_TERMS = ["spark", "window", "merge"]


def _hybrid_runs(spark, sf_dir):
    """The hybrid retrieval stack's three rankings, built ONCE for both
    q_hybrid_search_rrf and q_retrieval_eval (review fix, r10 — the two
    entries previously duplicated this construction and any tie-break or
    constant drift between copies would silently break oracle parity):
    (lex top-20 with rank, sem top-20 with rank, RRF-fused top-10)."""
    from pyspark.sql import Window

    from area_etl_spark.operators.indexing import bm25_search, rrf_fuse

    tables = _tables(spark, sf_dir)
    lex = bm25_search(tables["documents"], _HYBRID_TERMS, "text", "doc_id", topk=20)
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())  # 20 rows
    lex = lex.withColumn("rank", F.row_number().over(wl))
    q = _query_vec(spark, sf_dir)
    sem = SIM.cosine_topk(tables["embeddings"].where(F.col("vec_id") != 0), q, k=20)
    ws = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())  # 20 rows
    sem = sem.withColumn("rank", F.row_number().over(ws)).withColumnRenamed(
        "vec_id", "doc_id"
    )
    fused = rrf_fuse([("lex", lex), ("sem", sem)], "doc_id", k=60, topk=10)
    return lex, sem, fused


def _hybrid_ctes_sql() -> str:
    """The hybrid-retrieval CTE chain (BM25 top-20 → lex ranks, cosine
    top-20 → sem ranks, RRF fold → per) shared by the hybrid_search_rrf
    and retrieval_eval oracles — ONE source of truth for the tie-breaks
    and constants, mirroring the Spark-side _hybrid_runs (review fix,
    r10)."""
    terms_sql = ", ".join(f"'{t}'" for t in _HYBRID_TERMS)
    return f"""tk AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), dl AS (
                SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id
            ), st AS (
                SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
            ), tfq AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM tk
                WHERE term IN ({terms_sql}) GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, COUNT(*) AS df FROM tfq GROUP BY term
            ), bm AS (
                SELECT doc_id,
                       round(SUM(
                           ln((n_docs - df + 0.5) / (df + 0.5) + 1)
                           * tf * (1.2 + 1)
                           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                       ), 6) AS score
                FROM tfq JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
                GROUP BY doc_id
                ORDER BY score DESC, doc_id
                LIMIT 20
            ), lex AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id) AS r
                FROM bm
            ), qv AS (
                SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
            ), cs AS (
                SELECT vec_id AS doc_id,
                       round({_cos2_sql("qe", "embedding")}, 6) AS cosine
                FROM embeddings, qv WHERE vec_id <> 0
                ORDER BY cosine DESC, vec_id
                LIMIT 20
            ), sem AS (
                SELECT doc_id,
                       row_number() OVER (ORDER BY cosine DESC, doc_id) AS r
                FROM cs
            ), u AS (
                SELECT doc_id, 'lex' AS s, r FROM lex
                UNION ALL
                SELECT doc_id, 'sem' AS s, r FROM sem
            ), per AS (
                SELECT doc_id, COUNT(*) AS n_sources,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                               list(1.0 / (60.0 + CAST(r AS DOUBLE)) ORDER BY s)),
                           (x, y) -> x + y) AS score
                FROM u GROUP BY doc_id
            )"""


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-20 fused with cosine semantic
    top-20 by reciprocal-rank fusion (k=60) — rank-based combination needs
    no score calibration, and with integer ranks + sorted-source folds the
    FUSED ranking itself holds a full oracle.  doc_id/vec_id share the id
    space in the testdata corpus."""
    return _hybrid_runs(spark, sf_dir)[2]
def o_hybrid_search_rrf() -> str:
    return f"""
            WITH {_hybrid_ctes_sql()}
            SELECT doc_id, round(score, 9) AS rrf_score,
                   CAST(n_sources AS BIGINT) AS n_sources,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                       AS rrf_rank
            FROM per
            ORDER BY rrf_rank
            LIMIT 10
        """


# Literal nDCG@10 discount weights (1/log2(i+1)) and prefix sums — the SAME
# Python-computed doubles the Spark plan uses (indexing.ndcg_weights), so no
# engine libm log2 ever runs; repr() round-trips each double exactly.
def _ndcg_literals_sql(k: int = 10) -> tuple[str, str]:
    from area_etl_spark.operators.indexing import ndcg_weights

    w, p = ndcg_weights(k)
    # E-notation parses directly as a correctly-rounded DOUBLE; a bare
    # decimal literal is DECIMAL in DuckDB and its decimal→double CAST
    # drops the 17th significant digit (measured: 0.38685280723454163
    # casts to …416), which shifts the fold by an ulp
    lit = lambda x: repr(x) if "e" in repr(x) else f"{x!r}e0"  # noqa: E731
    fmt = lambda xs: "[" + ", ".join(lit(x) for x in xs) + "]"  # noqa: E731
    return fmt(w), fmt(p)


_NDCG_W10_SQL, _NDCG_P10_SQL = _ndcg_literals_sql(10)


def q_retrieval_eval(spark, sf_dir):
    """Retrieval-quality harness (VERDICT r9 item 8): nDCG@10 / MRR /
    precision@10 of the RRF-fused hybrid ranking AGAINST its own BM25 and
    cosine legs, over term-coverage graded qrels (rel = how many of the
    three query terms the doc contains) — the ann_recall_report pattern
    applied to retrieval quality, fully oracled via literal log2 discount
    weights and sorted float folds."""
    from area_etl_spark.operators.dedup import normalize_tokens
    from area_etl_spark.operators.indexing import retrieval_eval

    lex, sem, fused = _hybrid_runs(spark, sf_dir)
    fused = fused.withColumnRenamed("rrf_rank", "rank")
    qrels = _tables(spark, sf_dir)["documents"].select(
        "doc_id",
        F.size(
            F.array_intersect(
                F.array_distinct(normalize_tokens("text")),
                F.array(*[F.lit(t) for t in _HYBRID_TERMS]),
            )
        ).alias("rel"),
    )
    return retrieval_eval(
        [("bm25", lex), ("cosine", sem), ("rrf", fused)], qrels, k=10
    )
# Shares the hybrid_search_rrf CTE chain (_hybrid_ctes_sql — one
# source of truth); metrics use the SAME literal 1/log2(i+1)
# weights (and their prefix sums) injected into the Spark plan —
# no engine libm log2 runs on either side.
def o_retrieval_eval() -> str:
    return f"""
            WITH {_hybrid_ctes_sql()}, fused AS (
                SELECT doc_id, r FROM (
                    SELECT doc_id,
                           row_number() OVER (ORDER BY score DESC, doc_id) AS r
                    FROM per
                ) WHERE r <= 10
            ), runs AS (
                SELECT 'bm25' AS system, doc_id, r FROM lex WHERE r <= 10
                UNION ALL
                SELECT 'cosine' AS system, doc_id, r FROM sem WHERE r <= 10
                UNION ALL
                SELECT 'rrf' AS system, doc_id, r FROM fused
            ), qr AS (
                SELECT doc_id,
                       len(list_intersect(
                           list_distinct(string_split_regex(
                               trim(lower(COALESCE(text, ''))), '\\s+')),
                           ['spark', 'window', 'merge'])) AS rel
                FROM documents
            ), gr AS (
                SELECT rel, COUNT(*) AS n FROM qr WHERE rel > 0 GROUP BY rel
            ), g2 AS (
                SELECT rel, n,
                       COALESCE(SUM(n) OVER (ORDER BY rel DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS slots_before
                FROM gr
            ), idcg AS (
                SELECT COALESCE(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST((1 << rel) - 1 AS DOUBLE)
                                * (list_extract({_NDCG_P10_SQL},
                                       CAST(least(10, slots_before + n) AS INT) + 1)
                                   - list_extract({_NDCG_P10_SQL},
                                       CAST(least(10, slots_before) AS INT) + 1))
                                ORDER BY rel DESC)),
                       (x, y) -> x + y), 0.0) AS v
                FROM g2
            ), jj AS (
                SELECT runs.system, runs.r AS rank, COALESCE(qr.rel, 0) AS rel
                FROM runs LEFT JOIN qr USING (doc_id)
            ), psys AS (
                SELECT system, CAST(COUNT(*) AS BIGINT) AS n_retrieved,
                       CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_rel_at_k,
                       MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(CAST((1 << rel) - 1 AS DOUBLE)
                                * list_extract({_NDCG_W10_SQL}, CAST(rank AS INT))
                                ORDER BY rank)),
                           (x, y) -> x + y) AS dcg
                FROM jj GROUP BY system
            )
            SELECT system, n_retrieved, n_rel_at_k,
                   CAST(n_rel_at_k AS DOUBLE) / 10.0 AS precision_at_k,
                   CASE WHEN first_rel IS NOT NULL
                        THEN 1.0 / CAST(first_rel AS DOUBLE) ELSE 0.0 END AS mrr,
                   CASE WHEN idcg.v > 0 THEN dcg / idcg.v ELSE 0.0 END
                       AS ndcg_at_k
            FROM psys, idcg
        """


def q_query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001)
    over the documents corpus — the LM counterpart of bm25_search on the
    same query, computed sparsely via the standard three-term
    decomposition (no dense doc×term join at any scale)."""
    from area_etl_spark.operators.indexing import query_likelihood_dirichlet

    docs = _tables(spark, sf_dir)["documents"]
    return query_likelihood_dirichlet(
        docs, ["spark", "window", "merge"], mu=2000.0, topk=20
    )
def o_query_likelihood() -> str:
    return """
            WITH tk AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), dl AS (
                SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY 1
            ), tot AS (
                SELECT SUM(dl) AS tt FROM dl
            ), cf AS (
                SELECT term, COUNT(*) AS cf FROM tk
                WHERE term IN ('merge', 'spark', 'window') GROUP BY 1
            ), consts AS (
                SELECT COUNT(*) AS nq,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(ln(2000.0 * (CAST(cf AS DOUBLE) / CAST(tt AS DOUBLE)))
                                ORDER BY term)), (a, b) -> a + b) AS c0
                FROM cf CROSS JOIN tot
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM tk
                WHERE term IN ('merge', 'spark', 'window') GROUP BY 1, 2
            ), sp AS (
                SELECT doc_id,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(ln(1.0 + CAST(tf AS DOUBLE)
                                / (2000.0 * (CAST(cf AS DOUBLE) / CAST(tt AS DOUBLE))))
                                ORDER BY term)), (a, b) -> a + b) AS bonus
                FROM tf JOIN cf USING (term) CROSS JOIN tot
                GROUP BY doc_id
            )
            SELECT doc_id,
                   round(c0 - CAST(nq AS DOUBLE) * ln(CAST(dl AS DOUBLE) + 2000.0)
                         + COALESCE(bonus, 0.0), 6) AS score
            FROM dl LEFT JOIN sp USING (doc_id) CROSS JOIN consts
            ORDER BY score DESC, doc_id
            LIMIT 20
        """


def _bradley_terry_sql(iters: int = 5) -> str:
    """DuckDB replay of q_bradley_terry: the within-order brand matches,
    then ``iters`` unrolled Hunter MM CTE rounds with every float sum a
    sorted list_reduce fold — mirrors bradley_terry's iteration algebra."""
    cte = ["""
        li AS MATERIALIZED (
            SELECT l_orderkey AS o, l_linenumber AS ln, p_brand AS b,
                   CAST(l_quantity AS BIGINT) AS q
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ), ms AS MATERIALIZED (
            SELECT CASE WHEN x.q > y.q THEN x.b ELSE y.b END AS w,
                   CASE WHEN x.q > y.q THEN y.b ELSE x.b END AS l
            FROM li x JOIN li y ON x.o = y.o AND x.ln < y.ln
            WHERE x.b <> y.b AND x.q <> y.q
        ), sym AS MATERIALIZED (
            SELECT w AS i, l AS j FROM ms
            UNION ALL SELECT l, w FROM ms
        ), pairs AS MATERIALIZED (
            SELECT i, j, COUNT(*) AS n FROM sym GROUP BY 1, 2
        ), wins AS MATERIALIZED (
            SELECT w AS i, COUNT(*) AS wn FROM ms GROUP BY 1
        ), stats AS MATERIALIZED (
            SELECT m.i, COALESCE(wn, 0) AS wn, m
            FROM (SELECT i, SUM(n) AS m FROM pairs GROUP BY 1) m
            LEFT JOIN wins USING (i)
        ), p0 AS MATERIALIZED (
            SELECT i, CAST(1.0 AS DOUBLE) AS p FROM stats
        )"""]
    for t in range(iters):
        cte.append(f""", d{t} AS MATERIALIZED (
            SELECT c.i,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(CAST(n AS DOUBLE) / (pi.p + pj.p) ORDER BY c.j)),
                       (x, y) -> x + y) AS d
            FROM pairs c JOIN p{t} pi ON pi.i = c.i
                         JOIN p{t} pj ON pj.i = c.j
            GROUP BY c.i
        ), r{t} AS MATERIALIZED (
            SELECT s.i,
                   CASE WHEN d > 0 THEN CAST(wn AS DOUBLE) / d
                        ELSE 0.0 END AS pr
            FROM stats s JOIN d{t} ON d{t}.i = s.i
        ), s{t} AS MATERIALIZED (
            SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(pr ORDER BY i)), (x, y) -> x + y) AS s
            FROM r{t}
        ), p{t + 1} AS MATERIALIZED (
            SELECT i, pr / s AS p FROM r{t} CROSS JOIN s{t}
        )""")
    return f"""
        WITH {''.join(cte)}
        SELECT st.i AS item,
               CAST(wn AS BIGINT) AS wins,
               CAST(m AS BIGINT) AS matches,
               round(p, 9) AS score,
               row_number() OVER (ORDER BY p DESC, st.i ASC) AS rank
        FROM stats st JOIN p{iters} USING (i)
    """


def q_bradley_terry(spark, sf_dir):
    """Bradley–Terry strengths of part brands from within-order quantity
    'matches' (higher quantity wins the pair) — 5 Hunter MM iterations,
    every float a sorted fold; the arena-leaderboard aggregation."""
    from area_etl_spark.operators.ranking import bradley_terry

    t = _tables(spark, sf_dir)
    li = (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_linenumber").alias("ln"),
            F.col("p_brand").alias("b"),
            F.col("l_quantity").cast("long").alias("q"),
        )
    )
    x = li.select(
        F.col("o").alias("oa"), F.col("ln").alias("lna"),
        F.col("b").alias("ba"), F.col("q").alias("qa"),
    )
    y = li.select(
        F.col("o").alias("ob"), F.col("ln").alias("lnb"),
        F.col("b").alias("bb"), F.col("q").alias("qb"),
    )
    ms = (
        x.join(y, (F.col("oa") == F.col("ob")) & (F.col("lna") < F.col("lnb")))
        .where((F.col("ba") != F.col("bb")) & (F.col("qa") != F.col("qb")))
        .select(
            F.when(F.col("qa") > F.col("qb"), F.col("ba"))
            .otherwise(F.col("bb"))
            .alias("w"),
            F.when(F.col("qa") > F.col("qb"), F.col("bb"))
            .otherwise(F.col("ba"))
            .alias("l"),
        )
    )
    return bradley_terry(ms, "w", "l", iterations=5)
def o_bradley_terry() -> str:
    return _bradley_terry_sql(5)
