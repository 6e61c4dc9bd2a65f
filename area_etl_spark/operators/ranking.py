"""Pairwise-preference ranking — the arena-style eval aggregation.

Pairwise human/model preference data ("A beat B") is the standard way
LLM outputs get compared; turning those pairs into a global ranking is
the Bradley–Terry model (Bradley & Terry 1952), fitted here with
Hunter's (2004) MM iterations — the same aggregation behind Elo-style
leaderboards, but order-free and batch-exact.

Exactness discipline: the comparison graph aggregates to exact integer
counts (n_ij matches, W_i wins); each MM iteration is a fixed number of
float folds in SORTED opponent/item order, so the fitted scores are
bit-reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from area_etl_spark.operators.expressions import materialize


def bradley_terry(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    iterations: int = 5,
) -> DataFrame:
    """Bradley–Terry strength scores from (winner, loser) pair rows via
    ``iterations`` of Hunter's MM update

        p_i ← W_i / Σ_j n_ij / (p_i + p_j)        (then normalize Σp = 1)

    starting from the uniform p = 1.  Each iteration is one equi-join of
    the symmetric pair-count relation against the current scores, one
    per-item fold over opponents (sorted by opponent — deterministic
    doubles), and one global normalize fold (sorted by item) — a bounded
    number of shuffles over the ITEM grain, never the raw pair rows
    after the first aggregate.  Items appear in the output iff they
    played ≥ 1 match; an item with zero wins converges to score 0 (the
    MLE is degenerate there — standard BT caveat, document upstream or
    add pseudo-matches).  Self-matches (winner = loser) are dropped.
    Returns (item, wins, matches, score, rank) with rank by
    (score desc, item asc) and Σ score = 1.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    base = df.select(
        F.col(winner_col).cast("string").alias("_w"),
        F.col(loser_col).cast("string").alias("_l"),
    ).where(
        F.col(winner_col).isNotNull()
        & F.col(loser_col).isNotNull()
        & (F.col(winner_col).cast("string") != F.col(loser_col).cast("string"))
    )
    # symmetric pair-count relation: one row per ordered (i, j) with the
    # match count, plus per-item win totals
    sym = base.select(F.col("_w").alias("_i"), F.col("_l").alias("_j")).unionByName(
        base.select(F.col("_l").alias("_i"), F.col("_w").alias("_j"))
    )
    pairs = sym.groupBy("_i", "_j").agg(F.count(F.lit(1)).alias("_n"))
    wins = base.groupBy(F.col("_w").alias("_i")).agg(F.count(F.lit(1)).alias("_wn"))
    items = pairs.select("_i").distinct()
    stats = (
        items.join(wins, "_i", "left")
        .na.fill({"_wn": 0})
        .join(
            pairs.groupBy("_i").agg(F.sum("_n").alias("_m")),
            "_i",
        )
    )
    # cut lineage at the iteration boundary (the pagerank idiom) — without
    # it each MM round nests the previous plan and planning time explodes
    pairs = materialize(pairs, eager=True)
    stats = materialize(stats, eager=True)
    p = stats.select("_i", F.lit(1.0).alias("_p"))
    for _ in range(iterations):
        pj = p.select(F.col("_i").alias("_j"), F.col("_p").alias("_pj"))
        contrib = (
            pairs.join(p, "_i")
            .join(pj, "_j")
            .select(
                "_i",
                "_j",
                (
                    F.col("_n").cast("double")
                    / (F.col("_p") + F.col("_pj"))
                ).alias("_c"),
            )
        )
        denom = contrib.groupBy("_i").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_j", F.col("_c").alias("_v")))),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("_v"),
            ).alias("_d")
        )
        raw = stats.join(denom, "_i").select(
            "_i",
            F.when(
                F.col("_d") > 0, F.col("_wn").cast("double") / F.col("_d")
            ).otherwise(F.lit(0.0)).alias("_pr"),
        )
        total = raw.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("_i", F.col("_pr").alias("_v")))),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("_v"),
            ).alias("_s")
        )
        p = (
            raw.crossJoin(F.broadcast(total))
            .select("_i", (F.col("_pr") / F.col("_s")).alias("_p"))
            .transform(materialize, eager=True)
        )
    from pyspark.sql import Window

    ranked = stats.join(p, "_i").select(
        F.col("_i").alias("item"),
        F.col("_wn").cast("long").alias("wins"),
        F.col("_m").cast("long").alias("matches"),
        F.round("_p", 9).alias("score"),
        F.row_number()
        .over(Window.orderBy(F.col("_p").desc(), F.col("_i").asc()))
        .cast("long")
        .alias("rank"),
    )
    return ranked
