"""Sampling, features and classification: samplers, splits, encoders, feature
matrices and classifiers (``operators/sampling``, ``operators/encoding``,
``operators/features``, ``operators/classify``, ``operators/ids``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import dedup as D
from area_etl_spark.registry._common import _tables
from area_etl_spark.registry._sql import _langid_sql


def q_rebalance_mixture(spark, sf_dir):
    """Corpus mixture rebalancing: src0→10%, src1→5%, src2→2%, rest→1% of
    the original corpus size, deterministic md5 membership (downsample-only;
    over-provisioned sources keep all rows)."""
    from area_etl_spark.operators.sampling import rebalance_mixture

    docs = _tables(spark, sf_dir)["documents"].select("doc_id", "source", "n_chars")
    return rebalance_mixture(
        docs, "doc_id", "source",
        {"src0": 0.10, "src1": 0.05, "src2": 0.02},
        default_share=0.01,
    )
def o_rebalance_mixture() -> str:
    return """
            WITH counts AS (
                SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
            ),
            tot AS (SELECT SUM(n_src) AS n_total FROM counts),
            rates AS (
                SELECT source,
                       least(1.0, (CASE WHEN source = 'src0' THEN 0.10
                                        WHEN source = 'src1' THEN 0.05
                                        WHEN source = 'src2' THEN 0.02
                                        ELSE 0.01 END)
                                  * CAST(n_total AS DOUBLE) / n_src) AS rate
                FROM counts, tot
            )
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
            WHERE r.rate >= 1.0
               OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
                  < lpad(to_hex(CAST(floor(r.rate * 65536) AS BIGINT)), 4, '0')
        """


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split: docs sharing a verbatim 8-token
    span are coupled via connected components, and the 80/10/10 md5 draw is
    keyed on the CLUSTER id — near-duplicates can never straddle a split
    boundary. Oracle replays the pairs, a recursive-CTE component walk, and
    the identical hex-prefix draw."""
    from area_etl_spark.operators.sampling import leakage_safe_split

    docs = _tables(spark, sf_dir)["documents"]
    pairs = D.span_pairs(docs, "text", "doc_id", n=8)
    return leakage_safe_split(docs, pairs, "doc_id", train=0.8, val=0.1)
# 0.8/0.9 of 65536 → 52428 = 0xcccc and 58982 = 0xe666: the same
# hex-prefix thresholds leakage_safe_split builds with format(...,'04x')
def o_leakage_safe_split() -> str:
    return """
            WITH RECURSIVE t AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ), g AS (
                SELECT DISTINCT doc_id, md5(array_to_string(toks[i : i + 7], ' ')) AS gk
                FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            ), p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM g a JOIN g b ON a.gk = b.gk AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM p
                UNION
                SELECT id_b AS src, id_a AS dst FROM p
            ), walk(node, reach) AS (
                SELECT src, src FROM edges
                UNION
                SELECT w.node, e.dst FROM walk w JOIN edges e ON e.src = w.reach
            ), labels AS (
                SELECT node, MIN(reach) AS label FROM walk GROUP BY node
            ), lab AS (
                SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS group_id
                FROM documents d LEFT JOIN labels l ON l.node = d.doc_id
            )
            SELECT doc_id, group_id,
                   CASE WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
                        WHEN substr(md5(CAST(group_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
                        ELSE 'test' END AS split
            FROM lab
        """


def q_negative_sampling(spark, sf_dir):
    """Contrastive-training negative pairs: 3 deterministic md5-drawn
    partners per anchor over the dense doc-id space, self-draws remapped;
    partner source attached by equi-join."""
    from area_etl_spark.operators.sampling import negative_pairs

    d = _tables(spark, sf_dir)["documents"]
    pairs = negative_pairs(d, "doc_id", k=3)
    return pairs.join(
        d.select(F.col("doc_id").alias("negative_id"), F.col("source").alias("neg_source")),
        "negative_id",
    ).select("anchor_id", "neg_i", "negative_id", "neg_source")
def o_negative_sampling() -> str:
    return """
            WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
            a AS (
                SELECT d.doc_id AS anchor_id, i.neg_i, n.cnt
                FROM documents d, n, (SELECT unnest([0, 1, 2]) AS neg_i) i
            ), h AS (
                SELECT anchor_id, neg_i, cnt,
                       md5(CAST(anchor_id AS VARCHAR) || '#' || CAST(neg_i AS VARCHAR)) AS hh
                FROM a
            ), dr AS (
                SELECT anchor_id, neg_i, cnt,
                       CAST(((strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 4096
                           + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 256
                           + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 16
                           + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1)) % cnt
                            AS BIGINT) AS draw
                FROM h
            ), p AS (
                SELECT anchor_id, neg_i,
                       CASE WHEN draw = anchor_id THEN (draw + 1) % cnt
                            ELSE draw END AS negative_id
                FROM dr
            )
            SELECT p.anchor_id, CAST(p.neg_i AS INT) AS neg_i, p.negative_id,
                   d2.source AS neg_source
            FROM p JOIN documents d2 ON d2.doc_id = p.negative_id
        """


def q_group_sample_n(spark, sf_dir):
    """Balanced corpus construction: exactly 2 deterministic docs per
    (lang, source) cell via md5-ordered in-group ranks."""
    from area_etl_spark.operators.sampling import group_sample_n

    d = _tables(spark, sf_dir)["documents"].select("doc_id", "lang", "source")
    return group_sample_n(d, ["lang", "source"], "doc_id", n=2)
def o_group_sample_n() -> str:
    return """
            SELECT doc_id, lang, source FROM (
                SELECT doc_id, lang, source,
                       ROW_NUMBER() OVER (PARTITION BY lang, source
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents
            ) WHERE rn <= 2
        """


def q_priority_sample_grouped(spark, sf_dir):
    """Stratified weighted sampling: 5 quality-weighted docs per source via
    per-group priority ranks (q = w/u, ln-free portable draw)."""
    from area_etl_spark.operators.sampling import priority_sample_grouped

    d = _tables(spark, sf_dir)["documents"].select("doc_id", "source", "n_chars")
    return priority_sample_grouped(d, ["source"], "doc_id", "n_chars", k=5)
def o_priority_sample_grouped() -> str:
    return """
            WITH drawn AS (
                SELECT doc_id, source, n_chars,
                       round(CAST(n_chars AS DOUBLE) /
                             (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1 AS DOUBLE)
                              / 4294967296.0), 6) AS priority
                FROM documents
            ), ranked AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY priority DESC, doc_id ASC) AS rn
                FROM drawn
            )
            SELECT doc_id, source, n_chars, priority
            FROM ranked WHERE rn <= 5
        """


def q_priority_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Duffield-Lund-Thorup priority
    sampling): 50 documents drawn with probability increasing in n_chars —
    chosen over the A-ES exponential-key reservoir because ln() differs
    between JVM and DuckDB libm in the last ulp for ~8% of inputs (measured)
    while the priority w/u needs only IEEE-exact division."""
    from area_etl_spark.operators.sampling import priority_sample

    tables = _tables(spark, sf_dir)
    docs = tables["documents"].select("doc_id", "lang", "n_chars")
    return priority_sample(docs, "doc_id", F.col("n_chars").cast("double"), k=50)
def o_priority_sample() -> str:
    return """
            WITH drawn AS (
                SELECT doc_id, lang, n_chars,
                       round(CAST(n_chars AS DOUBLE) /
                             (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1 AS DOUBLE)
                              / 4294967296.0), 6) AS priority
                FROM documents
            )
            SELECT doc_id, lang, n_chars, priority
            FROM drawn ORDER BY priority DESC, doc_id ASC LIMIT 50
        """


def q_sample_hash(spark, sf_dir):
    """Deterministic 10% corpus sample keyed on the row's own id hash —
    reproducible across runs, partitionings, and engines; samples nest."""
    from area_etl_spark.operators.sampling import hash_sample

    tables = _tables(spark, sf_dir)
    return hash_sample(tables["documents"], "doc_id", 0.1).select("doc_id", "lang", "source")
def o_sample_hash() -> str:
    return """
            SELECT doc_id, lang, source FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
        """


def q_sample_stratified_hash(spark, sf_dir):
    """Per-stratum deterministic sampling: 20% of English docs, 5% of the
    rest — one CASE-thresholded hash predicate, narrow scan-time filter."""
    from area_etl_spark.operators.sampling import stratified_hash_sample

    tables = _tables(spark, sf_dir)
    return stratified_hash_sample(
        tables["documents"], "doc_id", "lang", {"en": 0.20}, default_fraction=0.05
    ).select("doc_id", "lang", "source")
def o_sample_stratified_hash() -> str:
    return """
            SELECT doc_id, lang, source FROM documents
            WHERE CASE WHEN lang = 'en'
                       THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333'
                       ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccc' END
        """


def q_dense_ids(spark, sf_dir):
    """Global dense surrogate ids with NO single-partition window: range
    repartition → per-partition counts → driver prefix-sum (O(partitions)
    ints) → offset + in-partition row_number.  Equals row_number() OVER
    (ORDER BY ...) at any partition count."""
    from area_etl_spark.operators.ids import dense_ids

    tables = _tables(spark, sf_dir)
    cust = tables["customer"].select("c_custkey", "c_name", "c_nationkey")
    return dense_ids(cust, ["c_name", "c_custkey"], id_name="surrogate_id", num_partitions=8)
def o_dense_ids() -> str:
    return """
            SELECT c_custkey, c_name, c_nationkey,
                   row_number() OVER (ORDER BY c_name, c_custkey) AS surrogate_id
            FROM customer
        """


def q_stratified_sample_by(spark, sf_dir):
    """Seeded stratified sampling via DataFrame.sampleBy (SURVEY 47g):
    per-lang keep fractions, fixed seed.  Rows-only by design — Spark's
    Bernoulli draw is engine-specific RNG, so no cross-engine oracle exists;
    the deterministic portable twin (sample_stratified_hash, 47x) carries the
    full oracle.  Tolerance-bounded rate assertions live in
    tests/test_approx_sampling.py."""
    tables = _tables(spark, sf_dir)
    fractions = {"en": 0.5, "de": 0.25, "fr": 0.25, "it": 0.25, "es": 0.25}
    return (
        tables["documents"]
        .sampleBy("lang", fractions, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


def q_weighted_sample(spark, sf_dir):
    """Per-row weighted deterministic sampling: keep each document with
    probability n_chars/800 (clamped to [0,1]) — quality-proportional
    downsampling on the portable md5-uniform draw."""
    from area_etl_spark.operators.sampling import weighted_hash_sample

    tables = _tables(spark, sf_dir)
    docs = tables["documents"]
    return weighted_hash_sample(
        docs, "doc_id", F.col("n_chars") / F.lit(800.0)
    ).select("doc_id", "lang", "n_chars")
def o_weighted_sample() -> str:
    return """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                  < CAST(floor(least(greatest(n_chars / 800.0, 0.0), 1.0) * 4294967296.0) AS BIGINT)
        """


def q_assoc_rules(spark, sf_dir):
    """Market-basket association rules over per-user event-type baskets:
    co-occurrence support / confidence / lift from exact distinct-user
    counts (basket = SET of types — the unordered complement of the
    transition matrix).  Pairs come from a self-join of the distinct
    (user, type) relation on the user key — O(users · types²), never a
    corpus cross join."""
    tables = _tables(spark, sf_dir)
    ut = tables["events"].select("user_id", F.col("event_type").alias("et")).distinct()
    n_users = ut.select("user_id").distinct().count()
    item = ut.groupBy("et").agg(F.count(F.lit(1)).alias("n_item"))
    a = ut.withColumnRenamed("et", "et_a")
    b = ut.withColumnRenamed("et", "et_b")
    pairs = (
        a.join(b, "user_id")
        .where(F.col("et_a") < F.col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ia = item.select(F.col("et").alias("et_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("et").alias("et_b"), F.col("n_item").alias("n_b"))
    out = pairs.join(F.broadcast(ia), "et_a").join(F.broadcast(ib), "et_b")
    nu = F.lit(float(n_users))
    return out.select(
        "et_a", "et_b", "n_pair",
        F.round(F.col("n_pair") / nu, 6).alias("support"),
        F.round(F.col("n_pair") / F.col("n_a"), 6).alias("confidence_a_b"),
        F.round(F.col("n_pair") * nu / (F.col("n_a") * F.col("n_b")), 6).alias("lift"),
    )
def o_assoc_rules() -> str:
    return """
            WITH ut AS (
                SELECT DISTINCT user_id, event_type AS et FROM events
            ), nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users FROM ut),
            item AS (SELECT et, COUNT(*) AS n_item FROM ut GROUP BY et),
            pairs AS (
                SELECT a.et AS et_a, b.et AS et_b, COUNT(*) AS n_pair
                FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.et < b.et
                GROUP BY a.et, b.et
            )
            SELECT p.et_a, p.et_b, p.n_pair,
                   round(p.n_pair / nu.n_users, 6) AS support,
                   round(p.n_pair / CAST(ia.n_item AS DOUBLE), 6) AS confidence_a_b,
                   round(p.n_pair * nu.n_users / (ia.n_item * ib.n_item), 6) AS lift
            FROM pairs p
            JOIN item ia ON ia.et = p.et_a
            JOIN item ib ON ib.et = p.et_b
            CROSS JOIN nu
        """


def q_kfold_assign(spark, sf_dir):
    """Deterministic 5-fold CV assignment over documents: fold =
    md5-uniform draw on doc_id — partition/engine-invariant, so folds are
    reproducible artifacts; zero shuffles."""
    from area_etl_spark.operators.sampling import kfold_assign

    d = _tables(spark, sf_dir)["documents"].select("doc_id", "lang", "source")
    return kfold_assign(d, "doc_id", k=5)
def o_kfold_assign() -> str:
    return """
            SELECT doc_id, lang, source,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                             AS BIGINT) % 5 AS INT) AS fold
            FROM documents
        """


def q_balance_classes(spark, sf_dir):
    """Class-balanced undersampling of documents by lang: every class cut
    to the minority size with the deterministic md5-rank draw; minority
    size broadcast via the scalar-join idiom, no collect."""
    from area_etl_spark.operators.sampling import balance_classes

    d = _tables(spark, sf_dir)["documents"].select("doc_id", "lang", "source")
    return balance_classes(d, "lang", "doc_id")
def o_balance_classes() -> str:
    return """
            WITH r AS (
                SELECT doc_id, lang, source,
                       row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents
            ), m AS (
                SELECT MIN(n) AS min_n
                FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang)
            )
            SELECT doc_id, lang, source FROM r, m WHERE rn <= min_n
        """


def q_feature_hash(spark, sf_dir):
    """Hashing-trick bag-of-words over documents: 64 signed buckets from
    md5 bits — fixed feature width regardless of vocabulary growth, one
    explode + one hash aggregate."""
    from area_etl_spark.operators.encoding import feature_hash

    return feature_hash(_tables(spark, sf_dir)["documents"], "text", "doc_id", 64)
def o_feature_hash() -> str:
    return """
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(
                           trim(lower(COALESCE(text, ''))), '\\s+')) AS tok
                FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64
                            AS INT) AS bucket,
                       CASE WHEN (strpos('0123456789abcdef',
                                         substr(md5(tok), 13, 1)) - 1) % 2 = 0
                            THEN 1 ELSE -1 END AS s
                FROM toks WHERE tok <> ''
            )
            SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS weight
            FROM h GROUP BY doc_id, bucket
            HAVING SUM(s) <> 0
        """


def q_target_encode_loo(spark, sf_dir):
    """Leave-one-out target encoding of order priority against price:
    per-category mean excluding the row's own target, smoothed toward the
    global mean (m=20) — integer sums, one broadcast join, single float
    division."""
    from area_etl_spark.operators.encoding import target_encode_loo

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return target_encode_loo(o, "o_orderpriority", "cents", smoothing=20)
def o_target_encode_loo() -> str:
    return """
            WITH o AS (
                SELECT o_orderkey, o_orderpriority,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), cat AS (
                SELECT o_orderpriority,
                       CAST(SUM(cents) AS HUGEINT) AS cat_sum,
                       COUNT(*) AS cat_n
                FROM o GROUP BY o_orderpriority
            ), g AS (
                SELECT CAST(SUM(cents) AS HUGEINT) AS gsum,
                       COUNT(*) AS gn
                FROM o
            )
            SELECT o_orderkey, o_orderpriority, cents,
                   CAST((cat_sum - cents) * gn + 20 * gsum AS DOUBLE)
                   / CAST(gn * (cat_n - 1 + 20) AS DOUBLE) AS encoded
            FROM o JOIN cat USING (o_orderpriority), g
        """


def q_score_linear(spark, sf_dir):
    """Linear-model scoring over hashed features: feature_hash(documents)
    ⋈ broadcast integer-micro weights → exact BIGINT margin per doc —
    bit-reproducible inference, the production filter tier."""
    from area_etl_spark.operators.encoding import feature_hash, score_linear

    feats = feature_hash(_tables(spark, sf_dir)["documents"], "text", "doc_id", 64)
    weights = spark.range(64).select(
        F.col("id").cast("int").alias("bucket"),
        ((F.col("id") * 7) % 13 - 6).alias("w"),
    )
    return score_linear(feats, weights)
def o_score_linear() -> str:
    return """
            WITH toks AS (
                SELECT doc_id, unnest(string_split_regex(
                           trim(lower(COALESCE(text, ''))), '\\s+')) AS tok
                FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64
                            AS INT) AS bucket,
                       CASE WHEN (strpos('0123456789abcdef',
                                         substr(md5(tok), 13, 1)) - 1) % 2 = 0
                            THEN 1 ELSE -1 END AS s
                FROM toks WHERE tok <> ''
            ), f AS (
                SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS x
                FROM h GROUP BY doc_id, bucket
                HAVING SUM(s) <> 0
            )
            SELECT doc_id,
                   CAST(SUM(x * ((bucket * 7) % 13 - 6)) AS BIGINT)
                       AS margin_micros
            FROM f GROUP BY doc_id
        """


def q_feature_matrix(spark, sf_dir):
    """Point-in-time feature-store join: for every purchase (label row),
    the most recent view value and most recent click value STRICTLY before
    the label time — one chained backward as-of join per feature table,
    missing history → NULL (cold start), no future leakage by
    construction."""
    from area_etl_spark.operators.features import FeatureTable, point_in_time_join

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    labels = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("cents").alias("label_cents")
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "cents")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "cents")
    return point_in_time_join(
        labels,
        "user_id",
        "ts",
        [
            FeatureTable(views, "ts", ["cents"], "lv"),
            FeatureTable(clicks, "ts", ["cents"], "lc"),
        ],
    ).select("user_id", "ts", "event_id", "label_cents", "lv_cents", "lc_cents")
def o_feature_matrix() -> str:
    return """
            WITH ev AS (
                SELECT user_id, ts, event_id, event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
            ), labels AS (
                SELECT user_id, ts, event_id, cents AS label_cents
                FROM ev WHERE event_type = 'purchase'
            ), v AS (
                SELECT user_id, ts, cents FROM ev WHERE event_type = 'view'
            ), c AS (
                SELECT user_id, ts, cents FROM ev WHERE event_type = 'click'
            ), with_v AS (
                SELECT l.user_id, l.ts, l.event_id, l.label_cents,
                       v.cents AS lv_cents
                FROM labels l
                ASOF LEFT JOIN v ON l.user_id = v.user_id AND l.ts > v.ts
            )
            SELECT w.user_id, w.ts, w.event_id, w.label_cents, w.lv_cents,
                   c.cents AS lc_cents
            FROM with_v w
            ASOF LEFT JOIN c ON w.user_id = c.user_id AND w.ts > c.ts
        """


def q_select_under_budget(spark, sf_dir):
    """Quality-first corpus selection under a 50k-token budget: documents
    ranked by whitespace token count (unique doc_id tie-break), kept while
    the GLOBAL running total fits — computed via the dense_ids range-
    shuffle + driver-prefix-sum recipe, never a single-partition window."""
    from area_etl_spark.operators.sampling import select_under_budget

    docs = _tables(spark, sf_dir)["documents"].select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    out = select_under_budget(docs, "n_tokens", "n_tokens", 50000, "doc_id")
    return out.select("doc_id", "n_tokens", "cum_tokens")
def o_select_under_budget() -> str:
    return """
            WITH d AS (
                SELECT doc_id,
                       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                           AS n_tokens
                FROM documents
            ), c AS (
                SELECT doc_id, n_tokens,
                       SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum_tokens
                FROM d
            )
            SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM c WHERE cum_tokens <= 50000
        """


def q_subset_closure(spark, sf_dir):
    """1.5% dev-copy extraction with FK closure: orders hash-sampled,
    lineitems closed down (every sampled order keeps ALL its lines),
    customers closed up — verified by per-table counts plus a
    dangling-FK count that must be zero."""
    from area_etl_spark.operators.sampling import subset_closure

    t = _tables(spark, sf_dir)
    sub = subset_closure(
        t["orders"],
        "o_orderkey",
        0.015,
        children=[(t["lineitem"], "l_orderkey")],
        parents=[(t["customer"], "c_custkey", "o_custkey")],
    )
    o, li, c = sub["root"], sub["child_0"], sub["parent_0"]
    dangling = li.join(
        o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti"
    )
    return (
        o.agg(F.count(F.lit(1)).alias("n")).select(F.lit("orders").alias("tbl"), "n")
        .unionByName(li.agg(F.count(F.lit(1)).alias("n")).select(F.lit("lineitem").alias("tbl"), "n"))
        .unionByName(c.agg(F.count(F.lit(1)).alias("n")).select(F.lit("customer").alias("tbl"), "n"))
        .unionByName(dangling.agg(F.count(F.lit(1)).alias("n")).select(F.lit("dangling").alias("tbl"), "n"))
    )
def o_subset_closure() -> str:
    return """
            WITH o AS (
                SELECT * FROM orders
                WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '03d7'
            )
            SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n FROM o
            UNION ALL
            SELECT 'lineitem', CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM o)
            UNION ALL
            SELECT 'customer', CAST(COUNT(*) AS BIGINT) FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM o)
            UNION ALL
            SELECT 'dangling', CAST(0 AS BIGINT)
        """


def q_collapse_rare_levels(spark, sf_dir):
    """Cardinality guard before encoding: customer names appearing < 2
    times on orders collapse to __other__ — level counts joined back
    broadcast, NULL kept distinct."""
    from area_etl_spark.operators.encoding import collapse_rare_levels

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey", (F.col("o_custkey") % 97).cast("string").alias("bucket")
    )
    out = collapse_rare_levels(o, "bucket", min_count=100)
    return out.groupBy(F.col("bucket_collapsed").alias("level")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
def o_collapse_rare_levels() -> str:
    return """
            WITH o AS (
                SELECT o_orderkey, CAST(o_custkey % 97 AS VARCHAR) AS bucket
                FROM orders
            ), freq AS (
                SELECT bucket FROM o WHERE bucket IS NOT NULL
                GROUP BY bucket HAVING COUNT(*) >= 100
            )
            SELECT CASE WHEN o.bucket IS NULL THEN NULL
                        WHEN f.bucket IS NOT NULL THEN o.bucket
                        ELSE '__other__' END AS level,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM o LEFT JOIN freq f ON o.bucket = f.bucket
            GROUP BY 1
        """


def _mi_feature_sql(feature: str) -> str:
    """One UNION-ALL arm of the mutual_information oracle: MI of ``feature``
    (a column of the projected ``o`` CTE) with the is_high label, the term
    sum folded in sorted (value, label) order like
    features.mutual_information.  ``hlab``/``nn`` CTEs are shared."""
    return f"""
            SELECT '{feature}' AS feature,
                   (SELECT CAST(COUNT(DISTINCT CAST({feature} AS VARCHAR)) AS BIGINT)
                    FROM o) AS n_levels,
                   (SELECT round(hl, 9) FROM hlab) AS label_entropy,
                   round(mi, 9) AS mutual_info,
                   round(CASE WHEN (SELECT hl FROM hlab) > 0
                         THEN mi / (SELECT hl FROM hlab) END, 9) AS ig_ratio
            FROM (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(t ORDER BY v, l)), (x, y) -> x + y) AS mi
                FROM (
                    SELECT cells.v, cells.l,
                           (CAST(cvl AS DOUBLE) / CAST(nn.n AS DOUBLE))
                           * ln((CAST(cvl AS DOUBLE) * CAST(nn.n AS DOUBLE))
                                / (CAST(pv.cv AS DOUBLE) * CAST(pl.cl AS DOUBLE)))
                               AS t
                    FROM (
                        SELECT CAST({feature} AS VARCHAR) AS v,
                               CAST(is_high AS VARCHAR) AS l, COUNT(*) AS cvl
                        FROM o GROUP BY 1, 2
                    ) cells
                    JOIN (SELECT CAST({feature} AS VARCHAR) AS v, COUNT(*) AS cv
                          FROM o GROUP BY 1) pv USING (v)
                    JOIN (SELECT CAST(is_high AS VARCHAR) AS l, COUNT(*) AS cl
                          FROM o GROUP BY 1) pl USING (l)
                    CROSS JOIN nn
                )
            )"""


def q_mutual_information(spark, sf_dir):
    """Target-leakage screen: mutual information of four categorical
    features with the high-value-order label — including a PLANTED copy of
    the label, which must score ig_ratio 1.0 (perfect leakage) while real
    features score near 0."""
    from area_etl_spark.operators.features import mutual_information

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderpriority",
        "o_orderstatus",
        F.month("o_orderdate").alias("ship_month"),
        (F.round(F.col("o_totalprice") * 100).cast("long") >= 20_000_000).alias(
            "is_high"
        ),
    ).withColumn("leak_label_copy", F.col("is_high").cast("string"))
    return mutual_information(
        o, ["o_orderpriority", "o_orderstatus", "ship_month", "leak_label_copy"], "is_high"
    )
def o_mutual_information() -> str:
    return f"""
            WITH o AS (
                SELECT o_orderpriority, o_orderstatus,
                       EXTRACT(month FROM o_orderdate) AS ship_month_raw,
                       CAST(EXTRACT(month FROM o_orderdate) AS INTEGER)
                           AS ship_month,
                       (CAST(round(o_totalprice * 100) AS BIGINT) >= 20000000)
                           AS is_high,
                       CAST((CAST(round(o_totalprice * 100) AS BIGINT) >= 20000000)
                            AS VARCHAR) AS leak_label_copy
                FROM orders
            ), nn AS (
                SELECT COUNT(*) AS n FROM o
            ), hlab AS (
                SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(x ORDER BY l)), (a, b) -> a + b) AS hl
                FROM (
                    SELECT CAST(is_high AS VARCHAR) AS l,
                           -(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(nn.n) AS DOUBLE))
                           * ln(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(nn.n) AS DOUBLE))
                               AS x
                    FROM o CROSS JOIN nn GROUP BY 1
                )
            )
            {_mi_feature_sql("o_orderpriority")}
            UNION ALL {_mi_feature_sql("o_orderstatus")}
            UNION ALL {_mi_feature_sql("ship_month")}
            UNION ALL {_mi_feature_sql("leak_label_copy")}
        """


def q_classification_report(spark, sf_dir):
    """Per-class precision/recall/F1 of the language_id heuristic against
    the gold lang label — exact tp/fp/fn counts, the one-division F1 form
    2tp/(2tp+fp+fn), NULL on zero denominators (sklearn convention)."""
    from area_etl_spark.operators.classify import classification_report
    from area_etl_spark.operators.text_analysis import language_id

    docs = _tables(spark, sf_dir)["documents"]
    preds = docs.select(
        F.col("lang").alias("gold"), language_id(F.col("text")).alias("pred")
    )
    return classification_report(preds, "gold", "pred")
def o_classification_report() -> str:
    return f"""
            WITH pairs AS (
                SELECT lang AS g, {_langid_sql("text")} AS p FROM documents
                WHERE lang IS NOT NULL
            ), per_gold AS (
                SELECT g AS label, COUNT(*) AS support,
                       SUM(CASE WHEN g = p THEN 1 ELSE 0 END) AS tp_g
                FROM pairs GROUP BY 1
            ), per_pred AS (
                SELECT p AS label, COUNT(*) AS n_pred FROM pairs GROUP BY 1
            ), j AS (
                SELECT COALESCE(per_gold.label, per_pred.label) AS label,
                       COALESCE(tp_g, 0) AS tp,
                       COALESCE(n_pred, 0) - COALESCE(tp_g, 0) AS fp,
                       COALESCE(support, 0) - COALESCE(tp_g, 0) AS fn,
                       COALESCE(support, 0) AS support
                FROM per_gold FULL OUTER JOIN per_pred
                  ON per_gold.label = per_pred.label
            )
            SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                   CAST(fn AS BIGINT) AS fn, CAST(support AS BIGINT) AS support,
                   round(CASE WHEN tp + fp > 0 THEN
                       CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                   END, 9) AS precision,
                   round(CASE WHEN tp + fn > 0 THEN
                       CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                   END, 9) AS recall,
                   round(CASE WHEN 2 * tp + fp + fn > 0 THEN
                       2 * CAST(tp AS DOUBLE)
                       / (2 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
                          + CAST(fn AS DOUBLE))
                   END, 9) AS f1
            FROM j
        """


def q_ntile_scalable(spark, sf_dir):
    """scalable_ntile == NTILE() OVER (ORDER BY ...), proven against the
    window function itself: customer deciles by (acctbal cents, custkey)
    - the rank comes from the dense_ids range shuffle, the decile from
    NTILE's piecewise integer split, no single-partition sort in the plan
    (the rfm_segments machinery as a first-class operator)."""
    from area_etl_spark.operators.ids import scalable_ntile

    cust = _tables(spark, sf_dir)["customer"].select(
        "c_custkey", F.round(F.col("c_acctbal") * 100).cast("long").alias("bal")
    )
    return scalable_ntile(cust, ["bal", "c_custkey"], 10, "decile")
def o_ntile_scalable() -> str:
    return """
            SELECT c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) AS bal,
                   CAST(ntile(10) OVER (
                       ORDER BY CAST(round(c_acctbal * 100) AS BIGINT), c_custkey)
                       AS INT) AS decile
            FROM customer
        """


LPA_NODES = ["shard-a", "shard-b", "shard-c", "shard-d"]


def _hrw_sql(key: str, nodes: list[str]) -> str:
    """DuckDB rendering of ids.rendezvous_assign: fixed-width md5 hex
    prefixed strings compared by greatest(), winner name = substr 33+."""
    alts = ", ".join(
        f"md5('{n}:' || CAST({key} AS VARCHAR)) || '{n}'" for n in sorted(nodes)
    )
    return f"substr(greatest({alts}), 33)"


def q_rendezvous_assign(spark, sf_dir):
    """Rendezvous/HRW-hash shard routing: every customer key to its argmax-
    md5 node — consistent assignment (removing a node moves only its own
    keys, pytest-proven), computed as ONE narrow greatest() projection with
    no shuffle and no lookup state."""
    from area_etl_spark.operators.ids import rendezvous_assign

    cust = _tables(spark, sf_dir)["customer"].select("c_custkey")
    return rendezvous_assign(cust, "c_custkey", LPA_NODES)
def o_rendezvous_assign() -> str:
    return f"""
            SELECT c_custkey, {_hrw_sql("c_custkey", LPA_NODES)} AS assigned_node
            FROM customer
        """


def _ipf_sql(iters: int = 3) -> str:
    """DuckDB replay of sampling.ipf_weights over the (event_type × daypart)
    cell table with uniform targets: each round's marginal sums fold over
    ``list(w·n ORDER BY cross-key)`` — the same float sequence as Spark's
    array_sort → aggregate fold."""
    base = """
        WITH cells AS (
            SELECT event_type AS et,
                   CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS daypart,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
        ), tt AS (
            SELECT SUM(n) AS tot, COUNT(DISTINCT et) AS nr,
                   COUNT(DISTINCT daypart) AS nc
            FROM cells
        ), it0 AS (
            SELECT et, daypart, n,
                   CAST(tot AS DOUBLE) / CAST(nr AS DOUBLE) AS rt,
                   CAST(tot AS DOUBLE) / CAST(nc AS DOUBLE) AS ct,
                   CAST(1.0 AS DOUBLE) AS w
            FROM cells, tt
        )"""
    prev = "it0"
    parts = [base]
    for i in range(1, iters + 1):
        parts.append(f""", rs{i} AS (
            SELECT et, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(w * CAST(n AS DOUBLE) ORDER BY daypart)),
                       (x, y) -> x + y) AS s
            FROM {prev} GROUP BY et
        ), ra{i} AS (
            SELECT t.et, t.daypart, t.n, t.rt, t.ct, t.w * (t.rt / r.s) AS w
            FROM {prev} t JOIN rs{i} r USING (et)
        ), cs{i} AS (
            SELECT daypart, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                       list(w * CAST(n AS DOUBLE) ORDER BY et)),
                       (x, y) -> x + y) AS s
            FROM ra{i} GROUP BY daypart
        ), it{i} AS (
            SELECT t.et, t.daypart, t.n, t.rt, t.ct, t.w * (t.ct / c.s) AS w
            FROM ra{i} t JOIN cs{i} c USING (daypart)
        )""")
        prev = f"it{i}"
    parts.append(f"""
        SELECT et, daypart, n, round(w, 9) AS weight FROM {prev}
    """)
    return "".join(parts)


def q_ipf_raking(spark, sf_dir):
    """Iterative proportional fitting: rake the (event_type × daypart)
    event-count table to UNIFORM marginals on both axes in 3 rounds —
    the two-axis corpus-rebalancing primitive (rebalance_mixture is the
    one-axis special case).  Marginal sums fold in sorted cross-key order
    over the 20-cell aggregate table."""
    from area_etl_spark.operators.sampling import ipf_weights

    ev = _tables(spark, sf_dir)["events"]
    cells = ev.groupBy(
        F.col("event_type").alias("et"),
        F.floor(F.hour("ts") / 6).cast("long").alias("daypart"),
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = cells.agg(
        F.sum("n").alias("tot"),
        F.countDistinct("et").alias("nr"),
        F.countDistinct("daypart").alias("nc"),
    )
    row_t = (
        cells.select("et")
        .distinct()
        .crossJoin(F.broadcast(totals))
        .select("et", (F.col("tot").cast("double") / F.col("nr").cast("double")).alias("target"))
    )
    col_t = (
        cells.select("daypart")
        .distinct()
        .crossJoin(F.broadcast(totals))
        .select(
            "daypart",
            (F.col("tot").cast("double") / F.col("nc").cast("double")).alias("target"),
        )
    )
    return ipf_weights(cells, "et", "daypart", "n", row_t, col_t, iters=3)
def o_ipf_raking() -> str:
    return _ipf_sql(3)


def q_nb_classify(spark, sf_dir):
    """Multinomial naive Bayes corpus router: train on even doc_ids
    (class = gold lang), classify odd doc_ids.  Laplace-smoothed
    log-likelihoods fold in SORTED TOKEN ORDER (the entropy discipline);
    the argmax breaks float ties by label.  Training = two map-side-combined
    hash aggregates; classification = one vocab-bounded broadcast join."""
    from area_etl_spark.operators.classify import nb_classify, nb_train

    docs = _tables(spark, sf_dir)["documents"]
    train = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    tc, cs = nb_train(train, "lang")
    out = nb_classify(tc, cs, test)
    gold = test.select("doc_id", F.col("lang").alias("gold"))
    return out.join(gold, "doc_id").select("doc_id", "gold", "pred", "log_score")
def o_nb_classify() -> str:
    return """
            WITH train AS (
                SELECT lang, string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
            ), test AS (
                SELECT doc_id, lang AS gold,
                       string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents WHERE doc_id % 2 = 1
            ), tc AS (
                SELECT lang AS label, token, COUNT(*) AS cnt
                FROM (SELECT lang, unnest(toks) AS token FROM train)
                WHERE token <> '' GROUP BY 1, 2
            ), cs AS (
                SELECT lang AS label, COUNT(*) AS n_docs,
                       SUM(len(list_filter(toks, t -> t <> ''))) AS n_tokens
                FROM train GROUP BY 1
            ), tot AS (
                SELECT SUM(n_docs) AS total_docs FROM cs
            ), v AS (
                SELECT COUNT(DISTINCT token) AS vs FROM tc
            ), cls AS (
                SELECT label, n_tokens, vs,
                       ln(CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)) AS prior
                FROM cs, tot, v
            ), tf AS (
                SELECT doc_id, token, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS token FROM test)
                WHERE token <> '' GROUP BY 1, 2
            ), terms AS (
                SELECT tf.doc_id, c.label, tf.token,
                       CAST(tf.tf AS DOUBLE)
                       * ln(CAST(COALESCE(tc.cnt, 0) + 1 AS DOUBLE)
                            / CAST(c.n_tokens + c.vs AS DOUBLE)) AS term
                FROM tf CROSS JOIN cls c
                LEFT JOIN tc ON tc.label = c.label AND tc.token = tf.token
            ), folded AS (
                SELECT doc_id, label,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(term ORDER BY token)),
                                   (x, y) -> x + y) AS ll
                FROM terms GROUP BY 1, 2
            ), scored AS (
                SELECT i.doc_id, c.label, c.prior + COALESCE(f.ll, 0.0) AS score
                FROM (SELECT DISTINCT doc_id FROM test) i
                CROSS JOIN cls c
                LEFT JOIN folded f ON f.doc_id = i.doc_id AND f.label = c.label
            ), best AS (
                SELECT doc_id, label, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, label) AS rn
                FROM scored
            )
            SELECT b.doc_id, t.gold, b.label AS pred, round(b.score, 6) AS log_score
            FROM best b JOIN (SELECT doc_id, gold FROM test) t USING (doc_id)
            WHERE rn = 1
        """


def q_language_id_trained(spark, sf_dir):
    """TRAINED char-3-gram NB language ID (VERDICT r10 item 6): featurize
    with char_ngram_text (whitespace→'_', overlapping 3-grams), train on
    the even-doc_id half's gold lang labels, classify the odd half — the
    whole chain (featurize → nb_train → nb_classify) replays in DuckDB,
    inheriting nb_classify's sorted-fold / label-tie-break exactness."""
    from area_etl_spark.operators.classify import language_id_trained

    docs = _tables(spark, sf_dir)["documents"]
    seed = docs.where(F.col("doc_id") % 2 == 0)
    test = docs.where(F.col("doc_id") % 2 == 1)
    out = language_id_trained(seed, test)
    gold = test.select("doc_id", F.col("lang").alias("gold"))
    return out.join(gold, "doc_id").select("doc_id", "gold", "pred", "log_score")
def o_language_id_trained() -> str:
    return """
            WITH gr AS (
                SELECT doc_id, lang,
                       regexp_replace(lower(COALESCE(text, '')), '\\s+', '_', 'g') AS c
                FROM documents
            ), train AS (
                SELECT lang, CASE WHEN len(c) >= 3
                            THEN list_transform(range(1, len(c) - 1),
                                                i -> substr(c, i, 3))
                            ELSE [c] END AS toks
                FROM gr WHERE doc_id % 2 = 0 AND lang IS NOT NULL
            ), test AS (
                SELECT doc_id, lang AS gold, CASE WHEN len(c) >= 3
                            THEN list_transform(range(1, len(c) - 1),
                                                i -> substr(c, i, 3))
                            ELSE [c] END AS toks
                FROM gr WHERE doc_id % 2 = 1
            ), tc AS (
                SELECT lang AS label, token, COUNT(*) AS cnt
                FROM (SELECT lang, unnest(toks) AS token FROM train)
                WHERE token <> '' GROUP BY 1, 2
            ), cs AS (
                SELECT lang AS label, COUNT(*) AS n_docs,
                       SUM(len(list_filter(toks, t -> t <> ''))) AS n_tokens
                FROM train GROUP BY 1
            ), tot AS (
                SELECT SUM(n_docs) AS total_docs FROM cs
            ), v AS (
                SELECT COUNT(DISTINCT token) AS vs FROM tc
            ), cls AS (
                SELECT label, n_tokens, vs,
                       ln(CAST(n_docs AS DOUBLE) / CAST(total_docs AS DOUBLE)) AS prior
                FROM cs, tot, v
            ), tf AS (
                SELECT doc_id, token, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(toks) AS token FROM test)
                WHERE token <> '' GROUP BY 1, 2
            ), terms AS (
                SELECT tf.doc_id, c.label, tf.token,
                       CAST(tf.tf AS DOUBLE)
                       * ln(CAST(COALESCE(tc.cnt, 0) + 1 AS DOUBLE)
                            / CAST(c.n_tokens + c.vs AS DOUBLE)) AS term
                FROM tf CROSS JOIN cls c
                LEFT JOIN tc ON tc.label = c.label AND tc.token = tf.token
            ), folded AS (
                SELECT doc_id, label,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                list(term ORDER BY token)),
                                   (x, y) -> x + y) AS ll
                FROM terms GROUP BY 1, 2
            ), scored AS (
                SELECT i.doc_id, c.label, c.prior + COALESCE(f.ll, 0.0) AS score
                FROM (SELECT DISTINCT doc_id FROM test) i
                CROSS JOIN cls c
                LEFT JOIN folded f ON f.doc_id = i.doc_id AND f.label = c.label
            ), best AS (
                SELECT doc_id, label, score,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, label) AS rn
                FROM scored
            )
            SELECT b.doc_id, t.gold, b.label AS pred, round(b.score, 6) AS log_score
            FROM best b JOIN (SELECT doc_id, gold FROM test) t USING (doc_id)
            WHERE rn = 1
        """


def q_woe_iv(spark, sf_dir):
    """Weight-of-evidence + information value of market segment vs the
    positive-balance label — doubled-integer smoothing keeps every count
    exact; ln is the single float per category, iv folds in sorted
    category order."""
    from area_etl_spark.operators.encoding import woe_iv

    c = _tables(spark, sf_dir)["customer"].select(
        "c_mktsegment", (F.col("c_acctbal") > 0).cast("int").alias("y")
    )
    return woe_iv(c, "c_mktsegment", "y")
def o_woe_iv() -> str:
    return """
            WITH cat AS (
                SELECT c_mktsegment AS category,
                       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                       CAST(SUM(CASE WHEN c_acctbal > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
                FROM customer GROUP BY 1
            ), tot AS (
                SELECT CAST(SUM(2 * n_pos + 1) AS BIGINT) AS P2,
                       CAST(SUM(2 * n_neg + 1) AS BIGINT) AS N2
                FROM cat
            ), scored AS (
                SELECT category, n_pos, n_neg,
                       round(ln(CAST((2 * n_pos + 1) * N2 AS DOUBLE)
                                / ((2 * n_neg + 1) * P2)), 6) + 0.0 AS woe,
                       (CAST(2 * n_pos + 1 AS DOUBLE) / P2
                        - CAST(2 * n_neg + 1 AS DOUBLE) / N2) AS d
                FROM cat, tot
            ), iv AS (
                SELECT round(list_reduce(
                           list_prepend(0.0::DOUBLE, list(d * woe ORDER BY category)),
                           (a, b) -> a + b), 6) AS iv
                FROM scored
            )
            SELECT category, n_pos, n_neg, woe, iv FROM scored, iv
        """


def q_one_hot_segment(spark, sf_dir):
    """Explicit-vocabulary one-hot of market segment (3 listed categories
    + other) — pure CASE columns, no pivot pass, fixed width."""
    from area_etl_spark.operators.encoding import one_hot_encode

    c = _tables(spark, sf_dir)["customer"]
    return one_hot_encode(
        c, "c_mktsegment", ["BUILDING", "MACHINERY", "AUTOMOBILE"],
        id_cols=["c_custkey"],
    )
def o_one_hot_segment() -> str:
    return """
            SELECT c_custkey,
                   CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS INT) AS c_mktsegment_building,
                   CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS INT) AS c_mktsegment_machinery,
                   CAST(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS INT) AS c_mktsegment_automobile,
                   CAST(CASE WHEN c_mktsegment IS NULL
                             OR c_mktsegment NOT IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
                        THEN 1 ELSE 0 END AS INT) AS c_mktsegment_other
            FROM customer
        """


def q_lift_gain(spark, sf_dir):
    """Cumulative gain/lift deciles of event value-cents as a purchase
    score — distinct-score bucketing (tie-coherent), exact integer cums,
    two divisions per bucket at the end."""
    from area_etl_spark.operators.classify import lift_gain_table

    ev = _tables(spark, sf_dir)["events"].select(
        F.round(F.col("value") * 100).cast("long").alias("score"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    return lift_gain_table(ev, "score", "y", n_buckets=10)
def o_lift_gain() -> str:
    return """
            WITH base AS (
                SELECT CAST(round(value * 100) AS BIGINT) AS v,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
                FROM events
            ), per_val AS (
                SELECT v, COUNT(*) AS cnt, CAST(SUM(y) AS BIGINT) AS cnt_pos
                FROM base GROUP BY v
            ), tot AS (
                SELECT CAST(SUM(cnt) AS BIGINT) AS T, CAST(SUM(cnt_pos) AS BIGINT) AS TP
                FROM per_val
            ), b AS (
                SELECT *, COALESCE(SUM(cnt) OVER (ORDER BY v DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM per_val
            ), pb AS (
                SELECT CAST(floor(cum_before * 10 / T) AS INT) AS bucket,
                       CAST(SUM(cnt) AS BIGINT) AS n,
                       CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
                       MAX(T) AS T, MAX(TP) AS TP
                FROM b, tot GROUP BY 1
            ), fin AS (
                SELECT bucket, n, n_pos,
                       CAST(SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                       CAST(SUM(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
                       T, TP
                FROM pb
            )
            SELECT bucket, n, n_pos, cum_n, cum_pos,
                   round(cum_pos * 100.0 / TP, 6) + 0.0 AS gain_pct,
                   round(CAST(cum_pos * T AS DOUBLE) / (cum_n * TP), 6) + 0.0 AS lift
            FROM fin
        """


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights: every 20th document is the 'target'
    corpus; hashed-unigram (md5, 64 buckets) add-one likelihood ratios,
    per-doc sorted-fold dot product."""
    from area_etl_spark.operators.sampling import dsir_weights

    docs = _tables(spark, sf_dir)["documents"]
    target = docs.where(F.col("doc_id") % 20 == 0)
    return dsir_weights(docs, target)
def o_dsir_weights() -> str:
    return """
            WITH src_tok AS (
                SELECT unnest(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+')) AS tok
                FROM documents
            ), tgt_tok AS (
                SELECT unnest(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+')) AS tok
                FROM documents WHERE doc_id % 20 = 0
            ), sn AS (
                SELECT CAST(CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS INT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS ns
                FROM src_tok WHERE tok <> '' GROUP BY 1
            ), tn AS (
                SELECT CAST(CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS INT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS nt
                FROM tgt_tok WHERE tok <> '' GROUP BY 1
            ), spine AS (
                SELECT CAST(unnest(range(64)) AS INT) AS bucket
            ), tots AS (
                SELECT (SELECT CAST(COALESCE(SUM(ns), 0) AS BIGINT) FROM sn) AS Ts,
                       (SELECT CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM tn) AS Tt
            ), r AS (
                SELECT spine.bucket,
                       ln(CAST(COALESCE(tn.nt, 0) + 1 AS DOUBLE) / (Tt + 64))
                       - ln(CAST(COALESCE(sn.ns, 0) + 1 AS DOUBLE) / (Ts + 64)) AS llr
                FROM spine
                LEFT JOIN sn USING (bucket)
                LEFT JOIN tn USING (bucket)
                CROSS JOIN tots
            ), doc_tok AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+')) AS tok
                FROM documents
            ), doc_b AS (
                SELECT doc_id,
                       CAST(CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) % 64 AS INT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM doc_tok WHERE tok <> '' GROUP BY 1, 2
            )
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                   round(list_reduce(
                       list_prepend(0.0::DOUBLE, list(c * llr ORDER BY bucket)),
                       (a, b) -> a + b), 6) AS log_weight
            FROM doc_b JOIN r USING (bucket)
            GROUP BY doc_id
        """


def q_decision_stump(spark, sf_dir):
    """Best Gini split of account balance for predicting the BUILDING
    segment — the one-level decision tree over the rank-family cumulative
    machinery; argmin via struct-min so the split is engine-identical."""
    from area_etl_spark.operators.classify import decision_stump

    c = _tables(spark, sf_dir)["customer"].select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        (F.col("c_mktsegment") == "BUILDING").alias("is_building"),
    )
    return decision_stump(c, "bal_cents", "is_building")
def o_decision_stump() -> str:
    return """
            WITH base AS (
                SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS f,
                       CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
                FROM customer
            ), per_f AS (
                SELECT f, COUNT(*) AS cnt, SUM(y) AS pos FROM base GROUP BY 1
            ), cum AS (
                SELECT f,
                       SUM(cnt) OVER (ORDER BY f
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ln,
                       SUM(pos) OVER (ORDER BY f
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lp
                FROM per_f
            ), tot AS (
                SELECT SUM(cnt) AS n, SUM(pos) AS p, MAX(f) AS fmax FROM per_f
            ), cand AS (
                SELECT f, ln, lp, n, p FROM cum CROSS JOIN tot WHERE f < fmax
            ), g AS (
                SELECT f, ln, lp, n - ln AS rn, p - lp AS rp,
                       (2.0 * CAST(lp AS DOUBLE)
                            * (CAST(ln AS DOUBLE) - CAST(lp AS DOUBLE))
                            / CAST(ln AS DOUBLE)
                        + 2.0 * CAST(p - lp AS DOUBLE)
                            * (CAST(n - ln AS DOUBLE) - CAST(p - lp AS DOUBLE))
                            / CAST(n - ln AS DOUBLE)) / CAST(n AS DOUBLE) AS gini
                FROM cand
            )
            SELECT CAST(f AS BIGINT) AS threshold, round(gini, 9) AS gini,
                   CAST(ln AS BIGINT) AS left_n, CAST(lp AS BIGINT) AS left_pos,
                   CAST(rn AS BIGINT) AS right_n, CAST(rp AS BIGINT) AS right_pos
            FROM g ORDER BY gini, f LIMIT 1
        """
