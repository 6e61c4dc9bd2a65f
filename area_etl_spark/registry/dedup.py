"""Dedup and similarity: exact and near-duplicate detection, record linkage,
embeddings and ANN search (``operators/dedup``, ``operators/fuzzy``,
``operators/linkage``, ``operators/similarity``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import dedup as D
from area_etl_spark.operators import linkage as LKG
from area_etl_spark.operators import similarity as SIM
from area_etl_spark.registry._common import _query_vec, _tables
from area_etl_spark.registry._sql import (
    _cos2_sql,
    _jaccard_portable_ctes,
    _minhash_portable_ctes,
    _shingles3_sql,
    dot,
    norm_e,
    norm_q,
)


def q_duplicate_spans(spark, sf_dir):
    """Span-level exact-duplicate signal (Lee et al. exact-substring dedup,
    relational form): per-document count/fraction of 8-token grams that also
    occur in another document. One gram-key aggregate + one equi-join back —
    O(total tokens), never doc×doc."""
    docs = _tables(spark, sf_dir)["documents"]
    return D.duplicate_spans(docs, "text", "doc_id", n=8)
def o_duplicate_spans() -> str:
    return """
            WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                       FROM documents),
            g AS (SELECT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS gk
                  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
            d AS (SELECT gk FROM g GROUP BY gk HAVING COUNT(DISTINCT doc_id) >= 2),
            c AS (SELECT doc_id, COUNT(*) AS n_dup FROM g JOIN d USING (gk) GROUP BY doc_id)
            SELECT t.doc_id,
                   CAST(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END AS BIGINT) AS n_grams,
                   CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup,
                   CASE WHEN len(toks) >= 8
                        THEN round(COALESCE(c.n_dup, 0)::DOUBLE / (len(toks) - 7), 6)
                        ELSE 0.0 END AS dup_frac
            FROM t LEFT JOIN c USING (doc_id)
        """


def q_incremental_dedup(spark, sf_dir):
    """Continuous-ingestion dedup: batch docs anti-joined against a
    historical snapshot's content-hash index (history = doc_id % 3 != 0
    deterministic split), then in-batch keep-lowest-id. One left_anti
    equi-join on the 32-hex hash + one min-aggregate."""
    docs = _tables(spark, sf_dir)["documents"]
    history = docs.where(F.col("doc_id") % 3 != 0).select(
        F.md5(F.trim(F.lower(F.col("text")))).alias("content_hash")
    )
    return D.incremental_dedup(docs, history, "text", "doc_id")
def o_incremental_dedup() -> str:
    return """
            WITH h AS (SELECT md5(trim(lower(text))) AS content_hash
                       FROM documents WHERE doc_id % 3 <> 0),
            b AS (SELECT doc_id, md5(trim(lower(text))) AS content_hash FROM documents),
            f AS (SELECT * FROM b WHERE content_hash NOT IN (SELECT content_hash FROM h))
            SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, content_hash
            FROM f GROUP BY content_hash
        """


GOLDEN_PRIORITY = {"1-URGENT": 3, "2-HIGH": 2, "3-MEDIUM": 1}


def q_golden_record(spark, sf_dir):
    """MDM survivorship: per customer, each attribute independently from the
    highest-priority source row that has it non-null (priority → recency →
    value tie-break); unmapped sources rank below every mapped one."""
    from area_etl_spark.operators.diff import golden_record

    o = _tables(spark, sf_dir)["orders"]
    src = o.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderpriority").alias("src"),
        F.col("o_orderdate").alias("ts"),
        F.when(F.col("o_orderkey") % 3 != 0, F.col("o_orderstatus")).alias("v_status"),
        F.when(
            F.col("o_orderkey") % 5 != 0,
            F.round(F.col("o_totalprice") * 100).cast("long"),
        ).alias("v_price"),
    )
    return golden_record(
        src, ["key"], "src", GOLDEN_PRIORITY, "ts", ["v_status", "v_price"]
    )
def o_golden_record() -> str:
    return """
            WITH src AS (
                SELECT o_custkey AS key,
                       CASE o_orderpriority
                            WHEN '1-URGENT' THEN 3
                            WHEN '2-HIGH' THEN 2
                            WHEN '3-MEDIUM' THEN 1
                            ELSE -1 END AS pri,
                       o_orderdate AS ts,
                       CASE WHEN o_orderkey % 3 <> 0
                            THEN o_orderstatus END AS v_status,
                       CASE WHEN o_orderkey % 5 <> 0
                            THEN CAST(round(o_totalprice * 100) AS BIGINT)
                            END AS v_price
                FROM orders
            )
            SELECT key,
                   first(v_status ORDER BY pri DESC, ts DESC, v_status DESC)
                       FILTER (WHERE v_status IS NOT NULL) AS v_status,
                   first(v_price ORDER BY pri DESC, ts DESC, v_price DESC)
                       FILTER (WHERE v_price IS NOT NULL) AS v_price
            FROM src GROUP BY key
        """


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood blocking over the balance axis: each customer
    paired with its 3 nearest neighbors in (acctbal, custkey) order —
    rank from the range-shuffle dense-id pass, neighbors from plain
    equi-joins (no single-partition window)."""
    from area_etl_spark.operators.dedup import sorted_neighborhood_pairs

    c = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return sorted_neighborhood_pairs(c, "c_custkey", ["bal_cents"], window=4)
def o_sorted_neighborhood() -> str:
    return """
            WITH r AS (
                SELECT c_custkey AS id,
                       ROW_NUMBER() OVER (ORDER BY CAST(round(c_acctbal * 100)
                                          AS BIGINT), c_custkey) AS rn
                FROM customer
            )
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(b.rn - a.rn AS INT) AS neighbor_distance
            FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 3
        """


def q_linkage_classify(spark, sf_dir):
    """Fellegi–Sunter linkage scoring over hash-blocked customer pairs:
    integer agreement weights on nation / segment / balance proximity,
    two-threshold match/possible classification."""
    from area_etl_spark.operators.linkage import linkage_score

    c = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        (F.col("c_custkey") % 100).alias("_block"),
    )
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("nat_a"),
        F.col("c_mktsegment").alias("seg_a"),
        F.col("cents").alias("bal_a"),
        "_block",
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("nat_b"),
        F.col("c_mktsegment").alias("seg_b"),
        F.col("cents").alias("bal_b"),
        "_block",
    )
    pairs = a.join(b, "_block").where(F.col("id_a") < F.col("id_b"))
    rules = [
        (F.col("nat_a") == F.col("nat_b"), 2, -1),
        (F.col("seg_a") == F.col("seg_b"), 1, -1),
        (F.abs(F.col("bal_a") - F.col("bal_b")) <= 50_000, 2, -2),
    ]
    out = linkage_score(pairs, rules, match_threshold=4, possible_threshold=1)
    return out.select("id_a", "id_b", "score", "tier")
def o_linkage_classify() -> str:
    return """
            WITH c AS (
                SELECT c_custkey, c_nationkey, c_mktsegment,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                       c_custkey % 100 AS blk
                FROM customer
            ), p AS (
                SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                       (CASE WHEN a.c_nationkey = b.c_nationkey THEN 2 ELSE -1 END
                      + CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE -1 END
                      + CASE WHEN abs(a.cents - b.cents) <= 50000 THEN 2 ELSE -2 END)
                           AS score
                FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
            )
            SELECT id_a, id_b, score,
                   CASE WHEN score >= 4 THEN 'match' ELSE 'possible' END AS tier
            FROM p WHERE score >= 1
        """


MDM_SEGMENT_PRIORITY = {"BUILDING": 3, "AUTOMOBILE": 2, "MACHINERY": 1}


def q_mdm_golden_pipeline(spark, sf_dir):
    """End-to-end MDM: hash-blocked pairs → Fellegi–Sunter scoring (match
    tier only) → connected components → per-cluster golden record
    (segment-priority survivorship, custkey as recency).  The full
    entity-resolution workflow as one composition; oracle replays the
    components with a recursive CTE."""
    from area_etl_spark.operators.diff import golden_record
    from area_etl_spark.operators.graph import connected_components
    from area_etl_spark.operators.linkage import linkage_score

    cust = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    side = lambda s: cust.select(  # noqa: E731
        F.col("c_custkey").alias(f"id_{s}"),
        F.col("c_nationkey").alias(f"nat_{s}"),
        F.col("c_mktsegment").alias(f"seg_{s}"),
        F.col("cents").alias(f"bal_{s}"),
        (F.col("c_custkey") % 100).alias("_block"),
    )
    pairs = side("a").join(side("b"), "_block").where(F.col("id_a") < F.col("id_b"))
    rules = [
        (F.col("nat_a") == F.col("nat_b"), 2, -1),
        (F.col("seg_a") == F.col("seg_b"), 1, -1),
        (F.abs(F.col("bal_a") - F.col("bal_b")) <= 10_000, 2, -2),
    ]
    matches = linkage_score(pairs, rules, match_threshold=4, possible_threshold=4)
    cc = connected_components(matches.select("id_a", "id_b"), "id_a", "id_b")
    labeled = cust.join(
        cc.withColumnRenamed("node", "c_custkey"), "c_custkey", "left"
    ).withColumn("cluster", F.coalesce(F.col("label"), F.col("c_custkey")))
    golden = golden_record(
        labeled,
        ["cluster"],
        "c_mktsegment",
        MDM_SEGMENT_PRIORITY,
        "c_custkey",
        ["c_name", "cents"],
    )
    sizes = labeled.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    return golden.join(sizes, "cluster").select(
        "cluster", "n_members", "c_name", "cents"
    )
def o_mdm_golden_pipeline() -> str:
    return """
            WITH RECURSIVE c AS (
                SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                       c_custkey % 100 AS blk
                FROM customer
            ), pr AS (
                SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                       (CASE WHEN a.c_nationkey = b.c_nationkey THEN 2 ELSE -1 END
                      + CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE -1 END
                      + CASE WHEN abs(a.cents - b.cents) <= 10000 THEN 2 ELSE -2 END)
                           AS score
                FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
            ), m AS (
                SELECT id_a, id_b FROM pr WHERE score >= 4
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM m
                UNION
                SELECT id_b, id_a FROM m
            ), walk(node, reach) AS (
                SELECT src, src FROM edges
                UNION
                SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
            ), labels AS (
                SELECT node, MIN(reach) AS label FROM walk GROUP BY node
            ), lab AS (
                SELECT c.*, COALESCE(l.label, c.c_custkey) AS cluster
                FROM c LEFT JOIN labels l ON l.node = c.c_custkey
            ), pri AS (
                SELECT *, CASE c_mktsegment WHEN 'BUILDING' THEN 3
                               WHEN 'AUTOMOBILE' THEN 2
                               WHEN 'MACHINERY' THEN 1 ELSE -1 END AS p
                FROM lab
            )
            SELECT cluster, COUNT(*) AS n_members,
                   first(c_name ORDER BY p DESC, c_custkey DESC, c_name DESC)
                       FILTER (WHERE c_name IS NOT NULL) AS c_name,
                   first(cents ORDER BY p DESC, c_custkey DESC, cents DESC)
                       FILTER (WHERE cents IS NOT NULL) AS cents
            FROM pri GROUP BY cluster
        """


def q_knn_classify(spark, sf_dir):
    """k-NN majority-vote labeling: every 40th vector classified by its 5
    nearest corpus neighbors (cosine, rounded before ranking; ties →
    smaller label via struct-min argmax)."""
    from area_etl_spark.operators.similarity import knn_classify

    emb = _tables(spark, sf_dir)["embeddings"]
    queries = emb.where(F.col("vec_id") % 40 == 0)
    corpus = emb.where(F.col("vec_id") % 40 != 0)
    return knn_classify(corpus, queries, k=5)
def o_knn_classify() -> str:
    return f"""
            WITH q AS (
                SELECT vec_id AS qid, embedding AS qv FROM embeddings
                WHERE vec_id % 40 = 0
            ), c AS (
                SELECT vec_id AS cid, embedding AS cv, label FROM embeddings
                WHERE vec_id % 40 <> 0
            ), scored AS (
                SELECT qid, cid, label,
                       round({_cos2_sql("qv", "cv")}, 6) AS cos
                FROM q CROSS JOIN c
            ), top AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cos DESC, cid) AS rn
                    FROM scored
                ) WHERE rn <= 5
            ), votes AS (
                SELECT qid, label, COUNT(*) AS v FROM top GROUP BY 1, 2
            ), best AS (
                SELECT qid, label, v,
                       row_number() OVER (PARTITION BY qid
                           ORDER BY v DESC, label ASC) AS rn
                FROM votes
            )
            SELECT qid AS query_id, label AS predicted_label,
                   CAST(v AS BIGINT) AS votes
            FROM best WHERE rn = 1
        """


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding health stats (dead/saturated-dim monitor):
    floats quantized to exact 1e-6 integer units first, so the sums are
    engine-reproducible."""
    from area_etl_spark.operators.similarity import embedding_dim_stats

    return embedding_dim_stats(_tables(spark, sf_dir)["embeddings"])
def o_embedding_dim_stats() -> str:
    return """
            WITH ex AS (
                SELECT unnest(list_transform(embedding,
                           (v, i) -> struct_pack(dim := i - 1, v := v))) AS s
                FROM embeddings
            ), qq AS (
                SELECT s.dim AS dim,
                       CAST(floor(CAST(s.v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
                FROM ex
            ), a AS (
                SELECT dim, COUNT(*) AS n,
                       CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s,
                       CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss,
                       MIN(q) AS mn, MAX(q) AS mx
                FROM qq GROUP BY dim
            )
            SELECT CAST(dim AS INT) AS dim, n,
                   round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mean,
                   round(sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
                         / 1000000.0, 6) AS std,
                   round(CAST(mn AS DOUBLE) / 1000000.0, 6) AS min,
                   round(CAST(mx AS DOUBLE) / 1000000.0, 6) AS max
            FROM a
        """


def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 vector quantization (4× ANN storage cut): per-vector
    amax scaling, portable floor(+0.5) rounding, dequant scale kept.

    The code array is emitted CSV-serialized (``q8_csv``) — the driver's
    pandas canonicalizer can't sort an array column (vocab_encode's r7 err
    class; schema-audit r8 flagged this as the only other oracled query
    emitting a complex type)."""
    from area_etl_spark.operators.similarity import quantize_int8

    emb = _tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    return quantize_int8(emb).select(
        "vec_id",
        F.array_join(F.transform("q8", lambda x: x.cast("string")), ",").alias("q8_csv"),
        "q_scale",
    )
def o_embedding_quantize() -> str:
    return """
            SELECT vec_id,
                   array_to_string(
                       CASE WHEN amax > 0
                            THEN list_transform(embedding,
                                 x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5)
                                           AS INT) AS VARCHAR))
                            ELSE list_transform(embedding, x -> '0') END, ',') AS q8_csv,
                   round(amax / 127.0, 9) AS q_scale
            FROM (
                SELECT vec_id, embedding,
                       CAST(list_aggregate(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE) AS amax
                FROM embeddings
            )
        """


def q_dedup_exact(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    docs = tables["documents"]
    return (
        docs.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )
def o_dedup_exact() -> str:
    return """
            SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """


def q_dedup_minhash_lsh(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    docs = tables["documents"].repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return D.minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=64, bands=16)


def q_dedup_simhash(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    docs = tables["documents"].repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
    return docs.select(F.col("doc_id"), D.simhash("text").alias("simhash"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    docs = tables["documents"].repartition(spark.sparkContext.defaultParallelism, "doc_id")
    candidates = D.minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=64, bands=16)
    return D.ngram_jaccard_pairs(docs, candidates, "text", "doc_id", n=3, threshold=0.5)


def q_ann_cosine_topk(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return SIM.cosine_topk(tables["embeddings"].where(F.col("vec_id") != 0), q, k=10)
def o_ann_cosine_topk() -> str:
    return f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS cosine
            FROM embeddings, q
            WHERE vec_id <> 0
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """


def _lsh_bucket_sql(col: str, dim: int = 64, bits: int = 4, seed: int = 42) -> str:
    """DuckDB expression for the random-hyperplane bucket id of ``col`` —
    same plane literals (seeded) and same left-to-right dot order as
    ``similarity.lsh_signature``, so bucket assignment matches bit-for-bit."""
    from area_etl_spark.operators.similarity import _hyperplanes

    terms = []
    for j, p in enumerate(_hyperplanes(dim, bits, seed)):
        lit = "[" + ", ".join(repr(x) for x in p) + "]"
        d = (
            f"list_reduce(list_transform(generate_series(1, len({col})), "
            f"i -> CAST({col}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )
        terms.append(f"CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def q_ann_lsh_topk(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return SIM.lsh_ann_topk(tables["embeddings"].where(F.col("vec_id") != 0), q, k=10, bits=4, multi_probe=2)
def o_ann_lsh_topk() -> str:
    return f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
                 qs AS (SELECT {_lsh_bucket_sql("qe")} AS qb FROM q)
            SELECT vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS cosine
            FROM embeddings, q, qs
            WHERE vec_id <> 0
              AND ({_lsh_bucket_sql("embedding")} = qb
                   OR {_lsh_bucket_sql("embedding")} = xor(qb, 1))
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """


def q_ann_ivf_topk(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return SIM.ivf_ann_topk(
        tables["embeddings"].where(F.col("vec_id") != 0), q, k=10, n_centroids=16, nprobe=2
    )
def o_ann_ivf_topk() -> str:
    return f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            cents AS (SELECT vec_id AS cid, embedding AS ce FROM e ORDER BY vec_id LIMIT 16),
            assign AS (
                SELECT vec_id, embedding, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM (SELECT e.vec_id, e.embedding, c.cid,
                             {_cos2_sql("e.embedding", "c.ce")} AS cos
                      FROM e CROSS JOIN cents c)
            ),
            qprobe AS (
                SELECT cid FROM (SELECT c.cid, {_cos2_sql("q.qe", "c.ce")} AS cos
                                 FROM q CROSS JOIN cents c)
                ORDER BY cos DESC, cid LIMIT 2
            )
            SELECT a.vec_id, round({_cos2_sql("a.embedding", "q.qe")}, 6) AS cosine
            FROM assign a JOIN qprobe p ON a.cid = p.cid, q
            WHERE a.rn = 1
            ORDER BY cosine DESC, a.vec_id
            LIMIT 10
        """


def _kmeans_train_ctes(k: int, iters: int) -> tuple[list[str], str]:
    """The bit-reproducible Lloyd's-training CTE chain shared by the
    trained-IVF and semdedup oracles (one source of truth): seed
    centroids, per-round assign (argmax cosine, ties to lowest cid) +
    fixed-point means with empty-bucket carry-over, and a final ``af``
    assignment of every vector to its trained cluster.  Returns
    (ctes, final_centroids_cte_name); ``af`` is always the last CTE."""
    from area_etl_spark.operators.similarity import KMEANS_QUANT

    q = repr(KMEANS_QUANT)
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding"
        " FROM embeddings WHERE vec_id <> 0)",
        "qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe"
        " FROM embeddings WHERE vec_id = 0)",
        f"c0 AS (SELECT vec_id AS cid, embedding AS ce FROM e ORDER BY vec_id LIMIT {k})",
    ]

    def assign(name: str, cents: str) -> str:
        cos = _cos2_sql("e.embedding", "c.ce")
        return f"""{name} AS (
            SELECT vec_id, embedding, cid FROM (
                SELECT vec_id, embedding, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM (SELECT e.vec_id, e.embedding, c.cid, {cos} AS cos
                      FROM e CROSS JOIN {cents} c)
            ) WHERE rn = 1
        )"""

    prev = "c0"
    for it in range(1, iters + 1):
        ctes.append(assign(f"a{it}", prev))
        ctes.append(f"""m{it} AS (
            SELECT cid, i, CAST(SUM(CAST(floor(x * {q}) AS BIGINT)) AS DOUBLE) / COUNT(*) / {q} AS m
            FROM (SELECT cid, unnest(generate_series(1, len(embedding))) AS i,
                         unnest(embedding) AS x
                  FROM a{it})
            GROUP BY cid, i
        )""")
        ctes.append(f"""c{it} AS (
            SELECT p.cid, COALESCE(n.ce, p.ce) AS ce
            FROM {prev} p LEFT JOIN (SELECT cid, list(m ORDER BY i) AS ce
                                     FROM m{it} GROUP BY cid) n USING (cid)
        )""")
        prev = f"c{it}"
    ctes.append(assign("af", prev))
    return ctes, prev


def _ivf_trained_sql(k: int = 16, iters: int = 3, nprobe: int = 2, topk: int = 10) -> str:
    """DuckDB replay of the deterministic k-means-trained IVF pipeline.

    ``train_kmeans_codebook`` is bit-reproducible (fixed-point per-dim sums,
    sequential-fold cosines), so the oracle UNROLLS the same ``iters`` Lloyd
    rounds in SQL (``_kmeans_train_ctes``) — then probes the ``nprobe``
    top-dot centroids and exact-ranks inside them, exactly as
    ``q_ann_ivf_trained_topk`` does on Spark.
    """
    ctes, prev = _kmeans_train_ctes(k, iters)
    dot_qc = (
        "list_reduce(list_transform(generate_series(1, len(c.ce)), "
        "j -> c.ce[j] * q.qe[j]), (x, y) -> x + y)"
    )
    ctes.append(f"""probes AS (
        SELECT cid FROM (SELECT c.cid, {dot_qc} AS dot FROM {prev} c CROSS JOIN qv q)
        ORDER BY dot DESC, cid LIMIT {nprobe}
    )""")
    return f"""
        WITH {', '.join(ctes)}
        SELECT a.vec_id, round({_cos2_sql("a.embedding", "q.qe")}, 6) AS cosine
        FROM af a JOIN probes p USING (cid) CROSS JOIN qv q
        ORDER BY cosine DESC, a.vec_id
        LIMIT {topk}
    """


def q_ann_ivf_trained_topk(spark, sf_dir):
    """IVF with a k-means-TRAINED codebook.  Fully oracle-checked: training
    uses fixed-point per-dim sums (deterministic, engine-independent), and
    the DuckDB oracle replays the identical Lloyd rounds (_ivf_trained_sql)."""
    tables = _tables(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    emb = tables["embeddings"].where(F.col("vec_id") != 0)
    cents = SIM.train_kmeans_codebook(
        emb.repartition(spark.sparkContext.defaultParallelism, "vec_id"), k=16, iters=3
    )
    assigned = SIM.assign_ivf_buckets(emb, cents)
    qsims = sorted(
        (
            (sum(float(a) * float(b) for a, b in zip(c, q)), cid)
            for cid, c in cents
        ),
        key=lambda t: (-t[0], t[1]),
    )
    probes = [cid for _, cid in qsims[:2]]
    sim = F.round(SIM.cosine_similarity(F.col("embedding"), q), 6).alias("cosine")
    return (
        assigned.where(F.col("ivf_bucket").isin(probes))
        .select("vec_id", sim)
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )
def o_ann_ivf_trained_topk() -> str:
    return _ivf_trained_sql(k=16, iters=3, nprobe=2, topk=10)


def q_dedup_full_pipeline(spark, sf_dir):
    """The canonical training-data dedup pipeline end-to-end: MinHash-LSH
    candidates → n-gram Jaccard verification → connected components →
    keep one representative doc per cluster.  Returns the surviving corpus
    (rows-only: xxhash-based candidates)."""
    from area_etl_spark.operators.graph import connected_components, dedup_keep_representatives

    tables = _tables(spark, sf_dir)
    docs = tables["documents"]
    spread = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    cands = D.minhash_lsh_pairs(spread, "text", "doc_id", num_hashes=64, bands=16)
    verified = D.ngram_jaccard_pairs(spread, cands, "text", "doc_id", n=3, threshold=0.5)
    comps = connected_components(verified.select("id_a", "id_b"))
    return dedup_keep_representatives(docs.select("doc_id", "lang", "source"), comps, "doc_id")


def q_emb_cosine_pairs_exact(spark, sf_dir):
    """Brute-force cosine near-dup pairs on a bounded slice — correctness
    baseline for the LSH-bucketed scale path (dedup_embedding_cosine)."""
    tables = _tables(spark, sf_dir)
    emb = tables["embeddings"].where(F.col("vec_id") < 300)
    a = emb.alias("a")
    b = emb.alias("b")
    sim = F.round(
        SIM._dot(F.col("a.embedding"), F.col("b.embedding"))
        / (SIM._norm(F.col("a.embedding")) * SIM._norm(F.col("b.embedding"))),
        6,
    ).alias("cosine")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"), sim)
        .where(F.col("cosine") >= 0.38)
    )
def o_emb_cosine_pairs_exact() -> str:
    return f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
            pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(
                           list_reduce(list_transform(generate_series(1, len(a.embedding)),
                               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
                           / (sqrt(list_reduce(list_transform(generate_series(1, len(a.embedding)),
                               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x, y) -> x + y))
                              * sqrt(list_reduce(list_transform(generate_series(1, len(b.embedding)),
                               i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y))),
                           6) AS cosine
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.38
        """


def q_dedup_embedding_cosine(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    emb = tables["embeddings"].repartition(spark.sparkContext.defaultParallelism, F.col("vec_id"))
    return SIM.embedding_near_dup_pairs(emb, threshold=0.38, bits=8, num_tables=2)
# Full oracle for the multi-table sign-LSH near-dup path: reproduces
# BOTH hash tables' plane literals (seeds 42 and 42+7919, the
# embedding_near_dup_pairs per-table seed schedule) via the same
# _lsh_bucket_sql used by ann_lsh_topk, unions the bucket self-joins,
# and exact-ranks the candidate pairs — byte-identical semantics to
# the Spark operator, so the "rows-only by design" row count drops
# by one.
def o_dedup_embedding_cosine() -> str:
    return f"""
            WITH e AS (SELECT vec_id, embedding FROM embeddings),
            b0 AS (SELECT vec_id, {_lsh_bucket_sql("embedding", 64, 8, 42)} AS bucket FROM e),
            b1 AS (SELECT vec_id, {_lsh_bucket_sql("embedding", 64, 8, 42 + 7919)} AS bucket FROM e),
            cand AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM b0 a JOIN b0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                UNION
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM b1 a JOIN b1 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            ),
            scored AS (
                SELECT id_a, id_b,
                       round({_cos2_sql('ea.embedding', 'eb.embedding')}, 6) AS cosine
                FROM cand
                JOIN e ea ON cand.id_a = ea.vec_id
                JOIN e eb ON cand.id_b = eb.vec_id
            )
            SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.38
        """


def _semdedup_sql(k: int = 16, iters: int = 3, threshold: float = 0.35) -> str:
    """DuckDB replay of semdedup_prune: the SAME trained assignment as the
    IVF oracle (``_kmeans_train_ctes``), then the within-cluster min-id
    shadow prune on rounded cosines."""
    ctes, _ = _kmeans_train_ctes(k, iters)
    cos_ab = _cos2_sql("a.embedding", "b.embedding")
    return f"""
        WITH {', '.join(ctes)}, dups AS (
            SELECT a.vec_id AS ida, MIN(b.vec_id) AS dup_of
            FROM af a JOIN af b
              ON b.cid = a.cid AND b.vec_id < a.vec_id
            WHERE round({cos_ab}, 6) >= {threshold!r}
            GROUP BY a.vec_id
        )
        SELECT a.vec_id, a.cid AS cluster,
               d.dup_of IS NULL AS keep, d.dup_of
        FROM af a LEFT JOIN dups d ON d.ida = a.vec_id
    """


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup — bit-reproducible
    k-means clusters the embedding space (k=16, 3 Lloyd rounds), then a
    within-cluster min-id shadow prune on rounded cosines (t=0.35, tuned
    to this corpus's spread) — pairwise work bounded by cluster size,
    never corpus², and the WHOLE train+assign+prune pipeline replays in
    the DuckDB oracle."""
    emb = _tables(spark, sf_dir)["embeddings"].where(F.col("vec_id") != 0)
    return SIM.semdedup_prune(
        emb, k=16, iters=3, threshold=0.35,
        parallelism=spark.sparkContext.defaultParallelism,
    )
def o_semdedup() -> str:
    return _semdedup_sql(k=16, iters=3, threshold=0.35)


def q_fuzzy_name_match(spark, sf_dir):
    """Fuzzy self-join: supplier-name pairs within edit distance 3.

    Physical plan is the PassJoin pigeonhole equi-join (exact recall, bounded
    candidate blocks — shuffle O(rows·k²), never the O(|block|²) blow-up of
    coarse nation-only blocking at 100× data); because recall is exactly 1.0
    the oracle stays the simple all-pairs-within-nation SQL."""
    from area_etl_spark.operators.fuzzy import fuzzy_pairs_passjoin

    tables = _tables(spark, sf_dir)
    s = tables["supplier"].select("s_suppkey", "s_nationkey", "s_name")
    return fuzzy_pairs_passjoin(s, "s_suppkey", "s_name", ["s_nationkey"], k=3)
def o_fuzzy_name_match() -> str:
    return """
            SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
                   levenshtein(trim(a.s_name), trim(b.s_name)) AS edit_dist
            FROM supplier a JOIN supplier b
              ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
            WHERE levenshtein(trim(a.s_name), trim(b.s_name)) <= 3
        """


def q_dedup_components(spark, sf_dir):
    """Near-dup pairs → dedup clusters: connected components over the blocked
    levenshtein similarity graph (min-label propagation, oracle = recursive CTE)."""
    from area_etl_spark.operators.graph import connected_components

    pairs = q_fuzzy_name_match(spark, sf_dir).select("id_a", "id_b")
    return connected_components(pairs)
def o_dedup_components() -> str:
    return """
            WITH RECURSIVE fuzzy AS (
                SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b
                FROM supplier a JOIN supplier b
                  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
                WHERE levenshtein(trim(a.s_name), trim(b.s_name)) <= 3
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM fuzzy
                UNION
                SELECT id_b AS src, id_a AS dst FROM fuzzy
            ), walk(node, reach) AS (
                SELECT src, src FROM edges
                UNION
                SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
            )
            SELECT node, MIN(reach) AS label FROM walk GROUP BY node
        """


def _minhash_portable_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """Standalone portable-MinHash candidate query."""
    return f"WITH {_minhash_portable_ctes(num_hashes, bands)} SELECT id_a, id_b FROM cands"


def q_dedup_minhash_portable(spark, sf_dir):
    """md5-based MinHash LSH candidates — the engine-portable twin of
    dedup_minhash_lsh, with a full DuckDB oracle (lexicographic min of md5
    hex per seed over the distinct unigram set)."""
    tables = _tables(spark, sf_dir)
    docs = tables["documents"].repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return D.minhash_lsh_pairs_portable(docs, "text", "doc_id", num_hashes=16, bands=4)
def o_dedup_minhash_portable() -> str:
    return _minhash_portable_sql(num_hashes=16, bands=4)


def _simhash_portable_sql(bits: int = 16) -> str:
    """DuckDB replay of the md5 portable SimHash: same nibble arithmetic,
    per-bit ±1 sums (as a GROUP BY — commutative ints, order-free), sign
    pack."""
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    sums = []
    for b in range(bits):
        p, shift = b // 4 + 1, 3 - (b % 4)
        bit = (
            f"CAST(floor((strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
            f" / {2 ** shift}) AS BIGINT) % 2"
        )
        sums.append(f"SUM(2 * ({bit}) - 1) AS s{b}")
    pack = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""
        WITH t AS (
            SELECT doc_id, md5(tok) AS h
            FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
        ), sums AS (
            SELECT doc_id, {', '.join(sums)} FROM t GROUP BY doc_id
        )
        SELECT doc_id, CAST({pack} AS INT) AS simhash16 FROM sums
    """


def q_dedup_simhash_portable(spark, sf_dir):
    """md5-based 16-bit SimHash — engine-portable twin of dedup_simhash
    with a full DuckDB oracle (nibble arithmetic, ±1 sums, sign pack)."""
    tables = _tables(spark, sf_dir)
    return D.simhash_portable(tables["documents"], "text", "doc_id", bits=16)
def o_dedup_simhash_portable() -> str:
    return _simhash_portable_sql(bits=16)


def q_dedup_jaccard_portable(spark, sf_dir):
    """Exact 3-gram Jaccard over the PORTABLE MinHash candidates — the
    verification stage of the dedup pipeline with a full DuckDB oracle."""
    tables = _tables(spark, sf_dir)
    docs = tables["documents"].repartition(spark.sparkContext.defaultParallelism, "doc_id")
    cands = D.minhash_lsh_pairs_portable(docs, "text", "doc_id", num_hashes=16, bands=4)
    return D.ngram_jaccard_pairs(docs, cands, "text", "doc_id", n=3, threshold=0.5)
def o_dedup_jaccard_portable() -> str:
    return f"""
            WITH {_minhash_portable_ctes()}, {_jaccard_portable_ctes(0.5)}
            SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
        """


def _dedup_portable_pipeline_sql(threshold: float = 0.5) -> str:
    """End-to-end portable dedup oracle: md5-MinHash candidates → exact
    Jaccard ≥ threshold → connected components (recursive CTE) → keep the
    min-id representative per cluster plus every unpaired doc."""
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
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        LEFT JOIN labels l ON l.node = d.doc_id
        WHERE l.node IS NULL OR l.node = l.label
    """


def q_dedup_pipeline_portable(spark, sf_dir):
    """The COMPLETE dedup pipeline with a full oracle end to end:
    md5-MinHash candidates → exact Jaccard ≥ 0.5 → connected components →
    one representative per cluster (DuckDB replays every stage, components
    via recursive CTE)."""
    from area_etl_spark.operators.graph import connected_components, dedup_keep_representatives

    tables = _tables(spark, sf_dir)
    docs = tables["documents"]
    spread = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    cands = D.minhash_lsh_pairs_portable(spread, "text", "doc_id", num_hashes=16, bands=4)
    verified = D.ngram_jaccard_pairs(spread, cands, "text", "doc_id", n=3, threshold=0.5)
    comps = connected_components(verified.select("id_a", "id_b"))
    return dedup_keep_representatives(docs.select("doc_id", "lang", "source"), comps, "doc_id")
def o_dedup_pipeline_portable() -> str:
    return _dedup_portable_pipeline_sql(threshold=0.5)


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN: corpus compressed to 16 one-byte codes per
    vector (prefix-seeded subspace codebooks), scanned by asymmetric
    distance (table lookups, never the original vectors), then the top-50
    shortlist re-ranked by exact cosine — the production PQ shape."""
    tables = _tables(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    return SIM.pq_adc_topk(
        tables["embeddings"].where(F.col("vec_id") != 0), q,
        k=10, n_subspaces=16, ks=16, refine=50,
    )
def o_ann_pq_topk() -> str:
    return f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
            seeds AS (
                SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, embedding AS cv
                FROM (SELECT vec_id, embedding FROM e ORDER BY vec_id LIMIT 16)
            ),
            ms AS (SELECT unnest(range(0, 16)) AS m),
            dists AS (
                SELECT e.vec_id, ms.m, s.code,
                       list_reduce(list_transform(generate_series(1, 4),
                           i -> (CAST(e.embedding[ms.m * 4 + i] AS DOUBLE) - CAST(s.cv[ms.m * 4 + i] AS DOUBLE))
                              * (CAST(e.embedding[ms.m * 4 + i] AS DOUBLE) - CAST(s.cv[ms.m * 4 + i] AS DOUBLE))),
                           (x, y) -> x + y) AS d
                FROM e CROSS JOIN ms CROSS JOIN seeds s
            ),
            enc AS (
                SELECT vec_id, m, code FROM (
                    SELECT vec_id, m, code,
                           row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
                    FROM dists) WHERE rn = 1
            ),
            qtab AS (
                SELECT ms.m, s.code,
                       list_reduce(list_transform(generate_series(1, 4),
                           i -> CAST(q.qe[ms.m * 4 + i] AS DOUBLE) * CAST(s.cv[ms.m * 4 + i] AS DOUBLE)),
                           (x, y) -> x + y) AS qd
                FROM q CROSS JOIN ms CROSS JOIN seeds s
            ),
            scored AS (
                SELECT enc.vec_id,
                       list_reduce(list(qt.qd ORDER BY enc.m), (x, y) -> x + y) AS score
                FROM enc JOIN qtab qt ON qt.m = enc.m AND qt.code = enc.code
                GROUP BY enc.vec_id
            ),
            shortlist AS (
                SELECT vec_id FROM scored
                ORDER BY round(score, 6) DESC, vec_id LIMIT 50
            )
            SELECT vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS cosine
            FROM embeddings JOIN shortlist USING (vec_id) CROSS JOIN q
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """


def q_jaccard_prefix_join(spark, sf_dir):
    """EXACT all-pairs Jaccard >= 0.5 self-join via prefix filtering
    (PPJoin-family): candidates only from each document's globally-RAREST
    (|S| - ceil(t|S|) + 1) tokens — stopwords never join, completeness is a
    theorem; oracle brute-forces every pair of the same bounded subset."""
    from area_etl_spark.operators.dedup import prefix_filter_jaccard_join

    docs = _tables(spark, sf_dir)["documents"].where(F.col("doc_id") % 11 == 0)
    return prefix_filter_jaccard_join(docs, threshold=0.5)
def o_jaccard_prefix_join() -> str:
    return """
            WITH d AS (
                SELECT doc_id,
                       list_filter(list_distinct(
                           string_split_regex(trim(lower(text)), '\\s+')),
                           t -> t != '') AS toks
                FROM documents WHERE doc_id % 11 = 0
            ), dd AS (
                SELECT doc_id, toks, len(toks) AS sz FROM d WHERE len(toks) > 0
            ), p AS (
                SELECT a.doc_id AS l_id, b.doc_id AS r_id,
                       len(list_intersect(a.toks, b.toks)) AS inter,
                       a.sz + b.sz AS szs
                FROM dd a JOIN dd b ON a.doc_id < b.doc_id
            )
            SELECT l_id, r_id,
                   round(CAST(inter AS DOUBLE) / (szs - inter), 6) + 0.0 AS jaccard
            FROM p WHERE CAST(inter AS DOUBLE) / (szs - inter) >= 0.5
        """


def q_remove_duplicate_spans(spark, sf_dir):
    """Exact-substring duplicate REMOVAL (Lee et al. 2022): every 8-token
    gram shared by >= 2 documents keeps its tokens only in the min-doc_id
    owner; other documents lose the covered positions and are rebuilt from
    the surviving tokens in order — the treatment stage above
    duplicate_spans' diagnosis."""
    from area_etl_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_tables(spark, sf_dir)["documents"])
def o_remove_duplicate_spans() -> str:
    return """
            WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                       FROM documents),
            g AS (SELECT doc_id, i AS s, md5(array_to_string(toks[i : i + 7], ' ')) AS gk
                  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
            o AS (SELECT gk, MIN(doc_id) AS owner FROM g
                  GROUP BY gk HAVING MIN(doc_id) <> MAX(doc_id)),
            m AS (SELECT g.doc_id, g.s FROM g JOIN o USING (gk)
                  WHERE g.doc_id <> o.owner),
            cov AS (SELECT DISTINCT doc_id, s + j AS p
                    FROM m, unnest(range(0, 8)) AS v(j)),
            tok AS (SELECT doc_id, i AS p, toks[i] AS tok
                    FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
            kept AS (SELECT tok.doc_id, tok.p, tok.tok
                     FROM tok LEFT JOIN cov
                       ON tok.doc_id = cov.doc_id AND tok.p = cov.p
                     WHERE cov.p IS NULL),
            r AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                         COUNT(*) AS nk
                  FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(r.clean_text, '') AS clean_text,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CAST(len(toks) - COALESCE(r.nk, 0) AS BIGINT) AS n_removed
            FROM t LEFT JOIN r USING (doc_id)
        """


_FS_EM_FIELDS = ["name_eq", "city_eq", "phone_eq"]
_FS_EM_PAIRS_SQL = """
    SELECT CASE WHEN c_custkey % 10 = 0 THEN c_custkey % 13 < 12
                ELSE c_custkey % 13 < 2 END AS name_eq,
           CASE WHEN c_custkey % 10 = 0 THEN c_custkey % 11 < 9
                ELSE c_custkey % 11 < 1 END AS city_eq,
           CASE WHEN c_custkey % 10 = 0 THEN c_custkey % 7 < 5
                ELSE c_custkey % 7 < 1 END AS phone_eq
    FROM customer
"""


def q_fs_em_weights(spark, sf_dir):
    """Unsupervised Fellegi–Sunter EM over synthesized candidate pairs
    with a PLANTED latent match class (10% of keys, high per-field
    agreement rates vs low non-match rates, all integer-mod conditions):
    the quantized-responsibility EM recovers m/u/log2-weights per field;
    the oracle is GENERATED by the operator's own paired SQL renderer
    (fs_em_oracle_sql) — both engines' update arithmetic comes from one
    set of formulas."""
    from area_etl_spark.operators.linkage import fs_em_weights

    c = _tables(spark, sf_dir)["customer"]
    k = F.col("c_custkey")
    L = k % 10 == 0
    pairs = c.select(
        F.when(L, k % 13 < 12).otherwise(k % 13 < 2).alias("name_eq"),
        F.when(L, k % 11 < 9).otherwise(k % 11 < 1).alias("city_eq"),
        F.when(L, k % 7 < 5).otherwise(k % 7 < 1).alias("phone_eq"),
    )
    return fs_em_weights(pairs, _FS_EM_FIELDS)
def o_fs_em_weights() -> str:
    return LKG.fs_em_oracle_sql(_FS_EM_PAIRS_SQL, _FS_EM_FIELDS)


def q_embedding_anisotropy(spark, sf_dir):
    """Embedding-space anisotropy report (Ethayarajh 2019 diagnostic):
    ||mean||^2 over E||x||^2 from exact quantized DECIMAL sums — the
    collapsed-cone monitor that explains inflated cosines before anyone
    tunes a near-dup threshold on them."""
    from area_etl_spark.operators.similarity import embedding_anisotropy

    return embedding_anisotropy(_tables(spark, sf_dir)["embeddings"])
def o_embedding_anisotropy() -> str:
    return """
            WITH ex AS (
                SELECT unnest(list_transform(embedding,
                           (v, i) -> struct_pack(dim := i - 1, v := v))) AS s
                FROM embeddings
            ), qq AS (
                SELECT s.dim AS dim,
                       CAST(floor(CAST(s.v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
                FROM ex
            ), pd AS (
                SELECT dim, COUNT(*) AS n,
                       CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s,
                       CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
                FROM qq GROUP BY dim
            ), a AS (
                SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS dims,
                       CAST(SUM(s * s) AS HUGEINT) AS s2,
                       CAST(SUM(ss) AS HUGEINT) AS q2
                FROM pd
            )
            SELECT n, dims,
                   round(CAST(s2 AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                         / 1000000000000.0, 6) AS mean_norm2,
                   round(CAST(q2 AS DOUBLE) / CAST(n AS DOUBLE)
                         / 1000000000000.0, 6) AS avg_norm2,
                   CASE WHEN q2 > 0 THEN
                       round((CAST(s2 AS DOUBLE)
                              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                              / 1000000000000.0)
                             / (CAST(q2 AS DOUBLE) / CAST(n AS DOUBLE)
                                / 1000000000000.0), 6)
                   ELSE NULL END AS anisotropy
            FROM a
        """


def q_embedding_whiten(spark, sf_dir):
    """Diagonal whitening (per-dim z-score) of the embedding table: exact
    per-dim DECIMAL stats broadcast back, the z chain re-quantized to
    integer milliunits and CSV-serialized (the q8_csv precedent — integer
    strings are engine-portable, float formatting is not)."""
    from area_etl_spark.operators.similarity import embedding_whiten_diagonal

    return embedding_whiten_diagonal(
        _tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    )
def o_embedding_whiten() -> str:
    return """
            WITH ex AS (
                SELECT vec_id,
                       unnest(list_transform(embedding,
                           (v, i) -> struct_pack(dim := i - 1, v := v))) AS s
                FROM embeddings
            ), qq AS (
                SELECT vec_id, s.dim AS dim,
                       CAST(floor(CAST(s.v AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
                FROM ex
            ), st AS (
                SELECT dim, COUNT(*) AS n,
                       CAST(SUM(CAST(q AS HUGEINT)) AS HUGEINT) AS s,
                       CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
                FROM qq GROUP BY dim
            ), mu AS (
                SELECT dim,
                       CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                       sqrt(greatest(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
                           AS sd
                FROM st
            ), z AS (
                SELECT qq.vec_id, qq.dim,
                       CAST(floor(CASE WHEN mu.sd > 0.0
                                       THEN (CAST(qq.q AS DOUBLE) - mu.mu) / mu.sd
                                       ELSE 0.0 END * 1000.0 + 0.5) AS BIGINT)
                           AS zq
                FROM qq JOIN mu USING (dim)
            )
            SELECT vec_id,
                   array_to_string(list(CAST(zq AS VARCHAR) ORDER BY dim), ',')
                       AS white_q3_csv
            FROM z GROUP BY vec_id
        """


def _jl_sql(out_dim: int = 16, in_dim: int = 64) -> str:
    """Replay of the JL projection: quantization CTE + one UNION ALL arm
    per output dimension, the sign rows inlined from the SAME Python
    jl_signs matrix the Spark plan embeds."""
    from area_etl_spark.operators.similarity import jl_signs

    signs = jl_signs(out_dim, in_dim)
    arms = []
    for k in range(out_dim):
        lit = "[" + ", ".join(str(s) for s in signs[k]) + "]"
        arms.append(
            f"""SELECT vec_id, {k} AS out_dim_idx,
                CAST(list_sum(list_transform(range(1, {in_dim} + 1),
                     i -> q[i] * ({lit})[i])) AS BIGINT) AS value
                FROM q"""
        )
    return (
        """WITH q AS (
            SELECT vec_id,
                   CASE WHEN amax > 0
                        THEN list_transform(embedding,
                             x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / amax + 0.5)
                                  AS BIGINT))
                        ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
                        END AS q
            FROM (
                SELECT vec_id, embedding,
                       CAST(list_aggregate(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE) AS amax
                FROM embeddings
            )
        )
        """
        + " UNION ALL ".join(arms)
    )


def q_jl_project(spark, sf_dir):
    """Johnson–Lindenstrauss ±1 projection of int8-quantized embeddings to
    16 dims — all-integer signed sums with a deterministic md5 sign matrix
    (plan literal), long-form output; the ANN-prep reduction after the 4×
    quantization cut."""
    from area_etl_spark.operators.similarity import jl_project, quantize_int8

    emb = _tables(spark, sf_dir)["embeddings"]
    return jl_project(quantize_int8(emb))
def o_jl_project() -> str:
    return _jl_sql(16, 64)


def q_pool_embeddings(spark, sf_dir):
    """Chunk→document mean pooling: vectors grouped 50-to-a-doc, components
    pooled via exact 1e-6 fixed-point DECIMAL sums, vector reassembled from
    a dim-bounded sorted collect — then exploded back to (group, pos, val)
    rows so the oracle hashes scalars, not arrays (the vocab_encode
    canonicalizer lesson)."""
    emb = _tables(spark, sf_dir)["embeddings"]
    grouped = emb.select((F.col("vec_id") % 50).alias("grp"), "embedding")
    pooled = SIM.pool_embeddings(grouped, "grp")
    return pooled.select(
        "grp", "n_vecs", F.posexplode("pooled").alias("pos", "val")
    ).select("grp", "n_vecs", "pos", F.round("val", 9).alias("val"))
def o_pool_embeddings() -> str:
    return """
            WITH ex AS (
                SELECT vec_id % 50 AS grp, i.i AS pos,
                       CAST(FLOOR(CAST(embedding[i.i + 1] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
                FROM embeddings,
                     (SELECT unnest(generate_series(0, 63)) AS i) i
            ), per AS (
                SELECT grp, pos, COUNT(*) AS n,
                       SUM(CAST(q AS HUGEINT)) AS s
                FROM ex GROUP BY 1, 2
            )
            SELECT grp, CAST(n AS BIGINT) AS n_vecs, CAST(pos AS INTEGER) AS pos,
                   round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 9) AS val
            FROM per
        """


def q_ann_recall_eval(spark, sf_dir):
    """Recall@10 of the LSH ANN shortlist vs exact brute-force truth over 5
    query vectors — the measurement the bits/multi_probe dials are tuned
    by.  Rounded cosines + id tie-breaks make the k-frontier engine-stable,
    so even RECALL itself holds a full oracle."""
    emb = _tables(spark, sf_dir)["embeddings"]
    return SIM.ann_recall_report(
        emb.where(F.col("vec_id") >= 5),
        emb.where(F.col("vec_id") < 5),
        k=10,
        bits=4,
        multi_probe=2,
    )
def o_ann_recall_eval() -> str:
    return f"""
            WITH corpus AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 5
            ), qs AS (
                SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5
            ), scored AS (
                SELECT qid, vec_id,
                       round({_cos2_sql("qe", "embedding")}, 6) AS cos
                FROM qs, corpus
            ), truth AS (
                SELECT qid, vec_id FROM (
                    SELECT qid, vec_id,
                           row_number() OVER (PARTITION BY qid
                                              ORDER BY cos DESC, vec_id) AS rn
                    FROM scored
                ) WHERE rn <= 10
            ), cb AS (
                SELECT vec_id, {_lsh_bucket_sql("embedding")} AS b FROM corpus
            ), qsig AS (
                SELECT qid, {_lsh_bucket_sql("qe")} AS qb FROM qs
            ), cand AS (
                SELECT q.qid, c.vec_id
                FROM qsig q JOIN cb c ON c.b = q.qb OR c.b = xor(q.qb, 1)
            ), approx AS (
                SELECT qid, vec_id FROM (
                    SELECT s.qid, s.vec_id,
                           row_number() OVER (PARTITION BY s.qid
                                              ORDER BY s.cos DESC, s.vec_id) AS rn
                    FROM scored s JOIN cand USING (qid, vec_id)
                ) WHERE rn <= 10
            ), nt AS (
                SELECT qid, COUNT(*) AS n_truth FROM truth GROUP BY 1
            ), na AS (
                SELECT qid, COUNT(*) AS n_approx FROM approx GROUP BY 1
            ), h AS (
                SELECT t.qid, COUNT(*) AS n_hit
                FROM truth t JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
                GROUP BY 1
            )
            SELECT nt.qid AS query_id, CAST(n_truth AS BIGINT) AS n_truth,
                   CAST(COALESCE(n_approx, 0) AS BIGINT) AS n_approx,
                   CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
                   round(CAST(COALESCE(n_hit, 0) AS DOUBLE)
                         / CAST(n_truth AS DOUBLE), 6) AS recall
            FROM nt LEFT JOIN na USING (qid) LEFT JOIN h USING (qid)
        """


def q_containment_pairs(spark, sf_dir):
    """Directed near-containment (|A∩B|/|A| over raw 3-gram shingles) on
    documents — the quote detector; hot-gram guard max_df=64 default-on,
    fully SQL-replayable (no seeded hash)."""
    from area_etl_spark.operators.dedup import containment_pairs

    docs = _tables(spark, sf_dir)["documents"]
    return containment_pairs(docs, threshold=0.6)
def o_containment_pairs() -> str:
    return f"""
            WITH s AS (
                SELECT doc_id AS id, list_distinct({_shingles3_sql()}) AS grams
                FROM documents
            ), s2 AS (
                SELECT id, grams, len(grams) AS sz FROM s WHERE len(grams) > 0
            ), p AS (
                SELECT id, unnest(grams) AS g FROM s2
            ), rare AS (
                SELECT g FROM p GROUP BY g HAVING COUNT(*) <= 64
            ), pr AS (
                SELECT p.id, p.g FROM p JOIN rare USING (g)
            ), sh AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS shared
                FROM pr x JOIN pr y USING (g)
                WHERE x.id <> y.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(CAST(shared AS DOUBLE) / s2.sz, 6) AS containment
            FROM sh JOIN s2 ON s2.id = sh.id_a
            WHERE round(CAST(shared AS DOUBLE) / s2.sz, 6) >= 0.6
        """


def q_containment_blocked(spark, sf_dir):
    """Two-tier directed containment (VERDICT r9 item 6): asymmetric
    prefix-filter blocking (probe side carries only each doc's globally
    rarest grams — no false negatives by the prefix theorem) + exact
    array_intersect verify on blocked pairs only.  The oracle is the
    UNBLOCKED all-shared-grams form, so every green proves the blocker
    lost nothing."""
    from area_etl_spark.operators.dedup import containment_blocked

    return containment_blocked(_tables(spark, sf_dir)["documents"], threshold=0.75)
# The UNBLOCKED brute form — every green proves the Spark side's
# asymmetric prefix-filter blocker has no false negatives.
def o_containment_blocked() -> str:
    return f"""
            WITH s AS (
                SELECT doc_id AS id, list_distinct({_shingles3_sql()}) AS grams
                FROM documents
            ), s2 AS (
                SELECT id, grams, len(grams) AS sz FROM s WHERE len(grams) > 0
            ), p AS (
                SELECT id, unnest(grams) AS g FROM s2
            ), sh AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS shared
                FROM p x JOIN p y USING (g)
                WHERE x.id <> y.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   CAST(shared AS DOUBLE) / CAST(s2.sz AS DOUBLE) AS containment
            FROM sh JOIN s2 ON s2.id = sh.id_a
            WHERE CAST(shared AS DOUBLE) / CAST(s2.sz AS DOUBLE) >= 0.75
        """


def q_dedup_candidate_eval(spark, sf_dir):
    """Dedup-candidate quality harness: precision/recall/F1 of the
    portable MinHash banding (16 hashes, 4 bands) vs exact 3-gram-Jaccard
    truth at t=0.5 — the measurement the banding dials are tuned by,
    fully oracled (the ann_recall_report pattern applied to dedup)."""
    from area_etl_spark.operators.dedup import dedup_candidate_eval

    return dedup_candidate_eval(
        _tables(spark, sf_dir)["documents"], threshold=0.5, num_hashes=16, bands=4
    )
# Truth = exact all-shared-gram Jaccard >= 0.5; candidates = the
# portable MinHash banding CTEs (one source of truth with the
# dedup_minhash_portable oracle); metrics are exact counts + one
# division each, f1 in the same expression order as Spark.
def o_dedup_candidate_eval() -> str:
    return f"""
            WITH {_minhash_portable_ctes(16, 4)}, ts AS (
                SELECT doc_id AS id, list_distinct({_shingles3_sql()}) AS grams
                FROM documents
            ), ts2 AS (
                SELECT id, len(grams) AS sz FROM ts WHERE len(grams) > 0
            ), tp AS (
                SELECT id, unnest(grams) AS g FROM ts WHERE len(grams) > 0
            ), tsh AS (
                SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS shared
                FROM tp x JOIN tp y USING (g)
                WHERE x.id < y.id
                GROUP BY 1, 2
            ), truth AS (
                SELECT tsh.id_a, tsh.id_b
                FROM tsh
                JOIN ts2 a ON a.id = tsh.id_a
                JOIN ts2 b ON b.id = tsh.id_b
                WHERE CAST(shared AS DOUBLE)
                      / CAST(a.sz + b.sz - shared AS DOUBLE) >= 0.5
            ), hits AS (
                SELECT t.id_a, t.id_b
                FROM truth t JOIN cands c
                  ON c.id_a = t.id_a AND c.id_b = t.id_b
            ), counts AS (
                SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
                       (SELECT COUNT(*) FROM cands) AS n_cand,
                       (SELECT COUNT(*) FROM hits) AS n_hit
            ), pr AS (
                SELECT n_truth, n_cand, n_hit,
                       CASE WHEN n_cand > 0
                            THEN CAST(n_hit AS DOUBLE) / CAST(n_cand AS DOUBLE)
                            ELSE 0.0 END AS precision,
                       CASE WHEN n_truth > 0
                            THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
                            ELSE 0.0 END AS recall
                FROM counts
            )
            SELECT n_truth, n_cand, n_hit, precision, recall,
                   CASE WHEN precision + recall > 0
                        THEN 2.0 * precision * recall / (precision + recall)
                        ELSE 0.0 END AS f1
            FROM pr
        """


def q_dedup_soft_weights(spark, sf_dir):
    """Soft dedup: 1/cluster_size training weights over exact-normalized
    text clusters — keeps every doc, equalizes gradient mass per unique
    text."""
    from area_etl_spark.operators.dedup import dedup_soft_weights

    return dedup_soft_weights(_tables(spark, sf_dir)["documents"])
def o_dedup_soft_weights() -> str:
    return """
            WITH n AS (
                SELECT doc_id,
                       array_to_string(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+'), ' ') AS key
                FROM documents
            ), c AS (
                SELECT key, MIN(doc_id) AS cluster_id, COUNT(*) AS cluster_size
                FROM n GROUP BY key
            )
            SELECT n.doc_id, c.cluster_id,
                   CAST(c.cluster_size AS BIGINT) AS cluster_size,
                   round(1.0 / c.cluster_size, 6) AS weight
            FROM n JOIN c USING (key)
        """


def _mmr_sql(k: int = 5, lam: float = 0.7, pool: int = 20) -> str:
    """Chained-CTE replay of mmr_diversify's greedy: the pool and sims are
    plain SQL; each selection step is one argmax CTE over the not-yet-
    selected rows, scoring λ·rel − (1−λ)·max sim-to-selected with the SAME
    (1−λ) subtraction the Python greedy performs."""

    def _d(av, bv):
        return (
            f"list_reduce(list_transform(generate_series(1, len({av})), "
            f"i -> CAST({av}[i] AS DOUBLE) * CAST({bv}[i] AS DOUBLE)), (x, y) -> x + y)"
        )

    def _n(av):
        return f"sqrt({_d(av, av)})"

    qdot = _d("e.embedding", "q.qe")
    qne = _n("e.embedding")
    qnq = _n("q.qe")
    pdot = _d("a.embedding", "b.embedding")
    pna = _n("a.embedding")
    pnb = _n("b.embedding")
    parts = [
        "WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)",
        f"""pool AS (
            SELECT e.vec_id AS id, e.embedding,
                   round({qdot} / ({qne} * {qnq}), 6) AS rel
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY rel DESC, id LIMIT {pool}
        )""",
        f"""sims AS (
            SELECT a.id AS i, b.id AS j,
                   round({pdot} / ({pna} * {pnb}), 6) AS s
            FROM pool a JOIN pool b ON a.id <> b.id
        )""",
        "sel1 AS (SELECT id, rel FROM pool ORDER BY rel DESC, id LIMIT 1)",
        "acc1 AS (SELECT id FROM sel1)",
    ]
    for step in range(2, k + 1):
        parts.append(
            f"""c{step} AS (
            SELECT p.id, p.rel,
                   {lam} * p.rel - (1.0 - {lam}) * (
                       SELECT MAX(s) FROM sims
                       WHERE sims.i = p.id
                         AND sims.j IN (SELECT id FROM acc{step - 1})) AS score
            FROM pool p WHERE p.id NOT IN (SELECT id FROM acc{step - 1})
        )"""
        )
        parts.append(
            f"sel{step} AS (SELECT id, rel FROM c{step} ORDER BY score DESC, id LIMIT 1)"
        )
        parts.append(
            f"acc{step} AS (SELECT id FROM acc{step - 1} UNION ALL SELECT id FROM sel{step})"
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS rank, id, rel FROM sel{i}" for i in range(1, k + 1)
    )
    return ",\n".join(parts) + f"\n{selects}"


def q_mmr_diversify(spark, sf_dir):
    """MMR re-ranking of the ann_cosine_topk pool: the top-20 relevance
    cut and the pool×pool cosine matrix are distributed; the inherently
    sequential greedy runs over that bounded round-6 matrix and replays
    in SQL as five chained argmax CTEs (ties by id, (1−λ) kept as a
    subtraction so both engines see the same double)."""
    from area_etl_spark.operators.similarity import mmr_diversify

    emb = _tables(spark, sf_dir)["embeddings"].where(F.col("vec_id") != 0)
    return mmr_diversify(emb, _query_vec(spark, sf_dir), k=5, lam=0.7, pool=20)
def o_mmr_diversify() -> str:
    return _mmr_sql(k=5, lam=0.7, pool=20)


def q_dedup_threshold_curve(spark, sf_dir):
    """Jaccard-threshold sweep for near-dedup tuning: one exact shared-
    gram similarity pass feeds every cutoff; qualification is the integer
    cross-multiplication 100·|∩| ≥ t·|∪|, so the whole curve is exact."""
    from area_etl_spark.operators.dedup import dedup_threshold_curve

    d = _tables(spark, sf_dir)["documents"]
    return dedup_threshold_curve(d, thresholds_pct=(50, 60, 70, 80, 90))
def o_dedup_threshold_curve() -> str:
    return f"""
            WITH ts AS (
                SELECT doc_id AS id, list_distinct({_shingles3_sql()}) AS grams
                FROM documents
            ), ts2 AS (
                SELECT id, len(grams) AS sz FROM ts WHERE len(grams) > 0
            ), tp AS (
                SELECT id, unnest(grams) AS g FROM ts WHERE len(grams) > 0
            ), sh AS (
                SELECT x.id AS ida, y.id AS idb, COUNT(*) AS shared
                FROM tp x JOIN tp y USING (g)
                WHERE x.id < y.id GROUP BY 1, 2
            ), pr AS (
                SELECT ida, idb, shared * 100 AS s100,
                       a.sz + b.sz - shared AS un
                FROM sh JOIN ts2 a ON a.id = sh.ida
                        JOIN ts2 b ON b.id = sh.idb
            ), grid AS (
                SELECT unnest([50, 60, 70, 80, 90]) AS threshold_pct
            ), qual AS (
                SELECT g.threshold_pct, ida, idb
                FROM pr JOIN grid g ON s100 >= g.threshold_pct * un
            ), pt AS (
                SELECT threshold_pct, COUNT(*) AS n_pairs FROM qual GROUP BY 1
            ), dt AS (
                SELECT threshold_pct, COUNT(DISTINCT d) AS n_docs
                FROM (SELECT threshold_pct, unnest([ida, idb]) AS d FROM qual)
                GROUP BY 1
            )
            SELECT CAST(g.threshold_pct AS BIGINT) AS threshold_pct,
                   CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
                   CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs
            FROM grid g LEFT JOIN pt USING (threshold_pct)
                        LEFT JOIN dt USING (threshold_pct)
        """


def q_bcubed_eval(spark, sf_dir):
    """B³ precision/recall/F1 of a whitespace/case-normalized exact-dedup
    clustering against raw exact-duplicate gold clusters — the final-
    clustering quality gauge one level above dedup_candidate_eval's pair
    harness.  Contingency-table form: no item×item join."""
    from area_etl_spark.operators.dedup import bcubed_eval

    d = _tables(spark, sf_dir)["documents"].select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
        ).alias("pred"),
        F.md5(F.col("text")).alias("gold"),
    )
    return bcubed_eval(d, "doc_id", "pred", "gold")
def o_bcubed_eval() -> str:
    return r"""
            WITH base AS (
                SELECT doc_id,
                       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
                           AS p,
                       md5(text) AS t
                FROM documents
            ), cells AS (
                SELECT p, t, COUNT(*) AS npt FROM base GROUP BY 1, 2
            ), psz AS (
                SELECT p, SUM(npt) AS np FROM cells GROUP BY 1
            ), tsz AS (
                SELECT t, SUM(npt) AS nt FROM cells GROUP BY 1
            ), terms AS (
                SELECT c.p, c.t, c.npt,
                       CAST(c.npt AS DOUBLE) * CAST(c.npt AS DOUBLE)
                           / CAST(np AS DOUBLE) AS tp,
                       CAST(c.npt AS DOUBLE) * CAST(c.npt AS DOUBLE)
                           / CAST(nt AS DOUBLE) AS tr
                FROM cells c JOIN psz USING (p) JOIN tsz USING (t)
            ), folded AS (
                SELECT SUM(npt) AS n,
                       COUNT(DISTINCT p) AS kp,
                       COUNT(DISTINCT t) AS kt,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(tp ORDER BY p, t)), (x, y) -> x + y) AS sp,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(tr ORDER BY p, t)), (x, y) -> x + y) AS sr
                FROM terms
            ), pr AS (
                SELECT n, kp, kt,
                       CASE WHEN n > 0 THEN sp / CAST(n AS DOUBLE) END AS p,
                       CASE WHEN n > 0 THEN sr / CAST(n AS DOUBLE) END AS r
                FROM folded
            )
            SELECT CAST(n AS BIGINT) AS n_items,
                   CAST(kp AS BIGINT) AS n_pred_clusters,
                   CAST(kt AS BIGINT) AS n_true_clusters,
                   round(p, 9) AS precision,
                   round(r, 9) AS recall,
                   round(CASE WHEN p IS NOT NULL AND r IS NOT NULL
                              AND p + r > 0
                         THEN 2.0 * p * r / (p + r) END, 9) AS f1
            FROM pr
        """
