"""Skew-injection micro-benchmark — measures what skew actually costs on
this engine and which mitigation pays, on a planted 95%-hot-key dataset.

    python tools/skewbench.py [n_rows]

Three shapes, timed warm (best of 2) with AQE on, plus the naive join with
AQE OFF to isolate what the runtime skew-split contributes:

1. algebraic agg (sum/count) — partial (map-side) aggregation collapses the
   hot key per input partition BEFORE the shuffle, so skew is already
   amortized; salting is expected ~neutral here (documented, not assumed).
2. exact distinct-count per key — partials cannot collapse distincts; the
   two-stage `distinct_count_skew_safe` spreads the hot key's dedup across
   the cluster.
3. fact⋈dim join on the hot FK — the AQE skew-join splits the straggler
   partition at runtime; with AQE off, one task owns 95% of the probe side.

Results are recorded in docs/SCALE.md §Skew (kept honest: local[32] shares
one memory pool, so a straggler burns wall-clock but cannot OOM an
executor — at cluster scale the same straggler is ONE executor's memory,
which is why the mitigations exist even where local timings look flat).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from area_etl_spark.operators.aggregates import (  # noqa: E402
    distinct_count_skew_safe,
    salted_agg_sum_count,
)
from area_etl_spark.session import get_spark  # noqa: E402


def timed(label: str, thunk) -> float:
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        thunk()
        best = min(best, time.perf_counter() - t0)
    print(f"{label:40s} {best:7.2f} s")
    return best


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    spark = get_spark("skewbench")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(n).select(
        F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id") % 100_000).alias("k"),
        (F.col("id") % 997).alias("v"),
        (F.col("id") % 50_000).alias("u"),
        F.col("id"),
    )
    base.write.mode("overwrite").parquet("/tmp/skewbench_fact")
    fact = spark.read.parquet("/tmp/skewbench_fact")
    dim = spark.range(100_000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("attr"))
    dim.write.mode("overwrite").parquet("/tmp/skewbench_dim")
    dim = spark.read.parquet("/tmp/skewbench_dim")
    sink = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731

    print(f"rows={n:,}  hot-key share=95%  (local[32], AQE on unless noted)")
    timed("agg naive groupBy sum/count", lambda: sink(
        fact.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))))
    timed("agg salted two-stage", lambda: sink(salted_agg_sum_count(fact, ["k"], "v", "id")))
    timed("distinct naive countDistinct", lambda: sink(
        fact.groupBy("k").agg(F.countDistinct("u").alias("d"))))
    timed("distinct two-stage skew-safe", lambda: sink(distinct_count_skew_safe(fact, ["k"], "u")))

    # join: force the shuffle path (broadcast would hide the skew entirely)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    timed("join shuffle AQE-on (skew split)", lambda: sink(fact.join(dim, "k")))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    timed("join shuffle AQE-OFF (straggler)", lambda: sink(fact.join(dim, "k")))
    # explicit salting: the insurance AQE can't give (a single key larger
    # than one executor's memory must be SPLIT before the shuffle, not
    # re-planned after it) — measured both with and without AQE so the
    # overhead of the 8× dim replication is visible
    from area_etl_spark.operators.joins import salted_join

    timed("join salted 8x AQE-OFF", lambda: sink(
        salted_join(fact, dim, "k", num_salts=8, salt_source=F.xxhash64("id"))))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    timed("join salted 8x AQE-on", lambda: sink(
        salted_join(fact, dim, "k", num_salts=8, salt_source=F.xxhash64("id"))))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")

    # 4. inverted-index postings under a stopword: every doc contains 'the',
    # so a GLOBAL term-grouped index builds one n_docs-element posting array
    # in a single task, while the document-sharded layout (inverted_index)
    # caps every (shard, term) group at n_docs/n_shards.
    n_docs = max(n // 8, 100_000)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the tok"), (F.col("id") % 50_000).cast("string"),
            F.lit(" tok"), F.col("id").cast("string"),
            F.lit(" word"), (F.col("id") % 997).cast("string"),
        ).alias("text"),
    )
    docs.write.mode("overwrite").parquet("/tmp/skewbench_docs")
    docs = spark.read.parquet("/tmp/skewbench_docs")
    from area_etl_spark.operators.dedup import normalize_tokens
    from area_etl_spark.operators.indexing import inverted_index

    def global_index():
        pairs = docs.select(
            "doc_id", F.explode(F.array_distinct(normalize_tokens(F.col("text")))).alias("term")
        )
        sink(
            pairs.groupBy("term").agg(
                F.size(F.sort_array(F.collect_list("doc_id"))).alias("df")
            )
        )

    print(f"index: {n_docs:,} docs, 'the' in every doc")
    timed("index GLOBAL term-grouped (hot term)", global_index)
    timed("index doc-sharded (64 shards)", lambda: sink(
        inverted_index(docs, "text", "doc_id", n_shards=64)))

    # minhash LSH hot bucket: m identical spam docs → all m share every
    # (band_id, band_hash) bucket → O(m²) candidate pairs unguarded; the
    # default-on max_bucket=256 guard bounds the bucket before the self-join.
    from area_etl_spark.operators.dedup import minhash_lsh_pairs

    n_spam = 3_000
    spam_txt = "subscribe now for daily deals and offers great savings every day " * 6
    spam = spark.range(n_spam).select(
        F.col("id").alias("doc_id"), F.lit(spam_txt).alias("text")
    )
    spam.write.mode("overwrite").parquet("/tmp/skewbench_spam")
    spam = spark.read.parquet("/tmp/skewbench_spam")
    print(f"minhash: {n_spam:,} identical spam docs (worst-case hot bucket)")
    timed(
        f"minhash UNGUARDED ({n_spam * (n_spam - 1) // 2:,} pairs)",
        lambda: sink(minhash_lsh_pairs(spam, max_bucket=None)),
    )
    timed(
        "minhash guarded default-on (32,640 pairs)",
        lambda: sink(minhash_lsh_pairs(spam)),
    )

    # triangle counting on a power-law hub: under id orientation a MID-id
    # hub becomes the center of in-deg × out-deg wedges (satellites below it
    # point in, satellites above it point out → n²/4 wedge pairs through one
    # node); degree orientation points every node at higher-degree neighbors,
    # so the hub is never a wedge center and out-degree is bounded at O(√m).
    from area_etl_spark.operators.graph import triangle_count

    n_sat = 8_000
    hub_id = n_sat // 2  # mid-id hub: the id-orientation worst case
    sats = spark.range(n_sat + 1).where(F.col("id") != hub_id)
    hub = sats.select(F.lit(hub_id).alias("src"), F.col("id").alias("dst")).unionByName(
        sats.select(F.col("id").alias("src"), ((F.col("id") + 1) % (n_sat + 1)).alias("dst"))
    )
    hub.write.mode("overwrite").parquet("/tmp/skewbench_hub")
    hub = spark.read.parquet("/tmp/skewbench_hub")
    print(f"triangles: mid-id hub ↔ {n_sat:,} satellites + ring "
          f"(~{(n_sat // 2) ** 2 // 1_000_000}M wedges through the hub id-oriented)")
    timed("triangles id-oriented (hub is wedge center)", lambda: sink(
        triangle_count(hub, orient="id")))
    timed("triangles degree-oriented (√m bound)", lambda: sink(
        triangle_count(hub, orient="degree")))

    # 7. bounded-trailing-frame window under a hot key: the window family's
    # bound is ONE task sorting each key's full history.  95% of rows on one
    # key → the naive form sorts ~0.95·n rows in a single task; the
    # sub-bucketed variant (rolling_corr_skew_safe) splits the key into
    # |buckets| parallel sorts + a (window_rows−1)-row seed pass per bucket.
    from area_etl_spark.operators.windows import rolling_corr, rolling_corr_skew_safe

    n_w = max(n // 2, 500_000)
    wdf = spark.range(n_w).select(
        F.when(F.col("id") % 20 != 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 997).cast("string")))
        .alias("k"),
        F.col("id").alias("o"),
        ((F.col("id") * 7) % 1009).alias("x"),
        ((F.col("id") * 13) % 2003).alias("y"),
    )
    wdf.write.mode("overwrite").parquet("/tmp/skewbench_win")
    wdf = spark.read.parquet("/tmp/skewbench_win")
    bucket = (F.col("o") / 65536).cast("long")
    print(f"window: {n_w:,} rows, hot key holds 95% (trailing 20-row corr)")
    timed("rolling_corr naive (one sort/key)", lambda: sink(
        rolling_corr(wdf, ["k"], ["o"], "x", "y", window_rows=20)))
    timed("rolling_corr sub-bucketed (64k rows/bkt)", lambda: sink(
        rolling_corr_skew_safe(wdf, ["k"], ["o"], "x", "y", 20, bucket)))

    # 8. CEP symbol string under a hot key: sequence_pattern_count's state
    # is the key's FULL event string, so 95% of events on one user builds a
    # ~0.95·n-char string in one task.  Mitigation (the docstring's
    # sessionize-first advice, here as a calendar bucket): a composite
    # (key, t div 65536) caps every string at the bucket span — pattern
    # counts then sum per key, losing only bucket-straddling matches (the
    # session/window semantics CEP engines impose for the same reason).
    from area_etl_spark.operators.sequences import sequence_pattern_count

    n_s = max(n // 4, 250_000)
    sdf = spark.range(n_s).select(
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.col("id") % 50_000)
        .alias("u"),
        F.col("id").alias("t"),
        F.element_at(
            F.array(F.lit("v"), F.lit("c"), F.lit("p"), F.lit("e"), F.lit("s")),
            (F.col("id") % 5 + 1).cast("int"),
        ).alias("sym"),
    )
    sdf.write.mode("overwrite").parquet("/tmp/skewbench_seq")
    sdf = spark.read.parquet("/tmp/skewbench_seq")
    scoped = sdf.withColumn("b", (F.col("t") / 65536).cast("long"))
    print(f"CEP: {n_s:,} events, hot user holds 95%")
    timed("sequence_match naive (one string/key)", lambda: sink(
        sequence_pattern_count(sdf, ["u"], ["t"], "sym", "vc*p")))
    timed("sequence_match bucket-scoped (64k/bkt)", lambda: sink(
        sequence_pattern_count(scoped, ["u", "b"], ["t"], "sym", "vc*p")
        .groupBy("u").agg(F.sum("n_matches").alias("n_matches"))))

    # 9. span removal under a hot gram: thousands of docs sharing one
    # boilerplate put every boilerplate gram in a hot ownership group —
    # but the owner aggregate is O(1) state (min/max), the join-back fans
    # out linearly in occurrences, and covered-position expansion is
    # bounded at n per occurrence: holds BY CONSTRUCTION, measured here.
    from area_etl_spark.operators.dedup import remove_duplicate_spans

    n_bp = 3_000
    bp_txt = ("all rights reserved contact us for terms privacy policy "
              "subscribe today ")
    bdocs = spark.range(n_bp).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("body tok"), F.col("id").cast("string"), F.lit(" unique"),
            (F.col("id") * 17).cast("string"), F.lit(" "), F.lit(bp_txt * 3),
        ).alias("text"),
    )
    bdocs.write.mode("overwrite").parquet("/tmp/skewbench_bp")
    bdocs = spark.read.parquet("/tmp/skewbench_bp")
    print(f"span removal: {n_bp:,} docs sharing a 30-token boilerplate")
    timed("remove_duplicate_spans hot gram", lambda: sink(
        remove_duplicate_spans(bdocs)))

    # 10. label propagation on a planted hub (r9, VERDICT r8 item 7): the
    # hub receives every satellite's label each round — the production
    # argmax is max(struct(c, −label)), a map-side-combinable AGGREGATE, so
    # the hub's million neighbor-label rows collapse per input partition;
    # the naive row_number-over-(node) window form funnels them into ONE
    # sort task.  Same result, measured difference.
    from pyspark.sql import Window

    from area_etl_spark.operators.graph import label_propagation

    n_g = 1_000_000
    gsats = spark.range(1, n_g)
    ghub = gsats.select(F.lit(0).alias("src"), F.col("id").alias("dst")).unionByName(
        gsats.select(F.col("id").alias("src"), (F.col("id") % (n_g - 1) + 1).alias("dst"))
    )
    ghub.write.mode("overwrite").parquet("/tmp/skewbench_lpa")
    ghub = spark.read.parquet("/tmp/skewbench_lpa")

    def lpa_window_naive(rounds: int = 2):
        fwd = ghub.select("src", "dst")
        rev = ghub.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        und = fwd.unionByName(rev).distinct().localCheckpoint(eager=True)
        labels = (
            und.select(F.col("src").alias("node")).distinct()
            .withColumn("label", F.col("node")).localCheckpoint(eager=True)
        )
        for _ in range(rounds):
            nbr = (
                und.join(labels.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label"))
            best = (
                nbr.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("node", F.col("label").alias("_new"))
            )
            labels = (
                labels.join(best, "node", "left")
                .select("node", F.coalesce("_new", "label").alias("label"))
                .localCheckpoint(eager=True)
            )
        sink(labels)

    print(f"LPA: hub ↔ {n_g:,} satellites + ring, 2 rounds")
    timed("LPA row_number window (hot node sort)", lpa_window_naive)
    timed("LPA argmax aggregate (production)", lambda: sink(
        label_propagation(ghub, rounds=2)))

    # 11. k-core peel on the same planted hub: the production peel computes
    # degrees with a map-side-combined groupBy (the hub's edges collapse per
    # partition) then prunes with two semi-joins; the naive form computes
    # per-edge degree with count(*) OVER (PARTITION BY node) — the hub's
    # 2M edge rows land in one window task.
    from area_etl_spark.operators.graph import kcore_peel

    def kcore_window_naive(k: int = 3, rounds: int = 2):
        e = (
            ghub.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .unionByName(ghub.select(F.col("dst").alias("a"), F.col("src").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        for _ in range(rounds):
            wa = Window.partitionBy("a")
            wb = Window.partitionBy("b")
            e = (
                e.withColumn("_da", F.count(F.lit(1)).over(wa))
                .withColumn("_db", F.count(F.lit(1)).over(wb))
                .where((F.col("_da") >= k) & (F.col("_db") >= k))
                .select("a", "b")
                .localCheckpoint(eager=False)
            )
        sink(e.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("degree")))

    print(f"k-core: hub ↔ {n_g:,} satellites + ring, k=3, 2 rounds")
    timed("k-core per-edge window degrees (hot node)", kcore_window_naive)
    timed("k-core agg+semi-join peel (production)", lambda: sink(
        kcore_peel(ghub, k=3, rounds=2)))

    # 12. Adamic–Adar wedge join through a planted power-law hub middle:
    # wedge generation is O(Σ deg(m)²), so ONE 8k-degree hub item alone
    # contributes 64M candidate pairs before the pair groupBy, while
    # max_middle_degree=1000 (the operator default, and q_adamic_adar's
    # checked shape since r13) drops hub middles from WEDGE GENERATION with
    # a documented recall tradeoff — degrees still count the full graph.
    from area_etl_spark.operators.graph import adamic_adar_scores

    hub_deg = 8_000
    n_users = 200_000
    bg = spark.range(n_users).select(
        F.col("id").alias("src"),
        (F.lit(1_000_000) + F.pmod(F.xxhash64("id"), F.lit(20_000))).alias("dst"),
    )
    bg2 = spark.range(n_users).select(
        F.col("id").alias("src"),
        (F.lit(1_000_000) + F.pmod(F.xxhash64(F.col("id") + 7), F.lit(20_000))).alias("dst"),
    )
    hub_e = spark.range(hub_deg).select(
        (F.col("id") * (n_users // hub_deg)).alias("src"),
        F.lit(999_999).alias("dst"),
    )
    aag = bg.unionByName(bg2).unionByName(hub_e).distinct()
    aag.write.mode("overwrite").parquet("/tmp/skewbench_aa")
    aag = spark.read.parquet("/tmp/skewbench_aa")
    print(f"Adamic–Adar: {n_users:,} users × 20k items (deg≈20) + one {hub_deg:,}-degree hub item")
    timed("adamic-adar uncapped (hub wedge blowup)", lambda: sink(
        adamic_adar_scores(aag, min_common=2, max_middle_degree=None)))
    timed("adamic-adar mid-degree cap 1000 (production)", lambda: sink(
        adamic_adar_scores(aag, min_common=2, max_middle_degree=1000)))

    # 13. Co-occurrence projection through a planted hot basket: the pair
    # fan-out is Σ deg(u)², so ONE 10k-item basket alone emits 50M pairs
    # uncapped, while the per-user cap (taken BEFORE the self-join) bounds
    # every user's contribution at cap² — the r13 knob-first posture.
    from area_etl_spark.operators.graph import cooccurrence_pairs

    hot_items = 10_000
    bsk = spark.range(100_000).select(
        (F.col("id") % 20_000).alias("u"),
        F.pmod(F.xxhash64("id"), F.lit(500)).alias("i"),
    )
    hot = spark.range(hot_items).select(
        F.lit(999_999).alias("u"), F.col("id").alias("i")
    )
    cg = bsk.unionByName(hot)
    cg.write.mode("overwrite").parquet("/tmp/skewbench_cooc")
    cg = spark.read.parquet("/tmp/skewbench_cooc")
    print(f"co-occurrence: 20k baskets (deg≈5) + one {hot_items:,}-item hot basket")
    timed("cooccurrence uncapped (hot-basket blowup)", lambda: sink(
        cooccurrence_pairs(cg, "u", "i", max_items_per_user=10**9, min_users=2)))
    timed("cooccurrence cap 50 (production)", lambda: sink(
        cooccurrence_pairs(cg, "u", "i", max_items_per_user=50, min_users=2)))


if __name__ == "__main__":
    main()
