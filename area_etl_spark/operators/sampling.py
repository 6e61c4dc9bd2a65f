"""Deterministic corpus sampling.

``df.sample()`` is seed-stable only for a FIXED partitioning — re-bucketing
the input changes which rows a seed selects, so a pipeline re-run after a
repartition silently trains on a different sample.  ``hash_sample`` keys the
decision on a row's own identifier: hash the id, keep the fraction whose
hash prefix falls under the threshold.  Properties that matter at 100 TB:

- membership is a pure per-row function — narrow, no shuffle, reproducible
  across runs, partitionings, AND engines (md5 is the one hash every engine
  spells identically; Spark's ``xxhash64`` has no portable twin);
- the same id is in-sample for every fraction above its hash point, so
  samples NEST: the 1% sample is a subset of the 10% sample — grow a
  training set without resampling the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from area_etl_spark.operators.expressions import materialize


def hash_sample_predicate(id_col: str | Column, fraction: float) -> Column:
    """Boolean Column: row is in the deterministic ``fraction`` sample.

    The first 4 hex digits of md5(id) are a uniform draw over [0, 65536);
    kept iff below floor(fraction · 65536) — granularity 1/65536.  The
    comparison is LEXICOGRAPHIC on the fixed-width lowercase hex ('0'-'9' <
    'a'-'f' in ASCII ⇒ string order == numeric order), so any engine can
    replay it with just md5 + substr + string compare.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        return F.lit(True)  # "10000" would compare lexicographically wrong
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    threshold = format(int(fraction * 65536), "04x")
    return F.substring(F.md5(c.cast("string")), 1, 4) < F.lit(threshold)


def hash_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Deterministic, nesting, engine-portable sample of ``fraction`` rows."""
    return df.where(hash_sample_predicate(id_col, fraction))


def rebalance_mixture(
    df: DataFrame,
    id_col: str,
    source_col: str,
    target_shares: dict[str, float],
    default_share: float = 0.0,
) -> DataFrame:
    """Data-mixture rebalancing: deterministically downsample each source so
    its expected row count is ``target_share`` of the ORIGINAL corpus size.

    The standard corpus-mixing step (weighting web/books/code sources before
    training): per-source keep-rate = min(1, share·N_total / n_source), so a
    source already below its target keeps everything (downsample-only — no
    row duplication), and membership is the same nesting, engine-portable
    md5 draw as ``hash_sample`` — but with the threshold built as a COLUMN
    (4-digit lowercase hex of floor(rate·65536)) because rates are data
    (derived from the per-source counts at runtime), not literals.

    Scale shape: one count aggregation over the corpus (map-side combined,
    |sources| rows out), rates broadcast back, membership a narrow scan-time
    filter.  Reproducible across runs, partitionings, and engines.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n_src"))
    totals = counts.agg(F.sum("_n_src").alias("_n_total"))
    share = F.lit(float(default_share))
    for k, v in sorted(target_shares.items()):
        share = F.when(F.col(source_col) == k, F.lit(float(v))).otherwise(share)
    rates = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            source_col,
            F.least(
                F.lit(1.0), share * F.col("_n_total").cast("double") / F.col("_n_src")
            ).alias("_rate"),
        )
    )
    thr = F.lpad(F.lower(F.hex(F.floor(F.col("_rate") * 65536).cast("bigint"))), 4, "0")
    keep = (F.col("_rate") >= 1.0) | (
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 4) < thr
    )
    # Null-safe join: a NULL source is a real group (counted above, and
    # promised default_share like any unlisted source) — a plain equi-join
    # would silently drop the whole NULL group and skew every other source's
    # effective share.
    r = rates.withColumnRenamed(source_col, "_src_key")
    return (
        df.join(F.broadcast(r), F.col(source_col).eqNullSafe(F.col("_src_key")))
        .where(keep)
        .drop("_rate", "_src_key")
    )


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy``'s contract, but
    partition-invariant and engine-portable like ``hash_sample``).

    One predicate column — a CASE over the stratum choosing the hash
    threshold — so the whole sample is still a narrow scan-time filter.
    """
    c = F.col(stratum_col)
    pred = hash_sample_predicate(id_col, default_fraction)
    for value, fraction in sorted(fractions.items()):
        pred = F.when(c == value, hash_sample_predicate(id_col, fraction)).otherwise(pred)
    return df.where(pred)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.8,
    val: float = 0.1,
) -> DataFrame:
    """Train/val/test split where near-duplicate documents can NEVER straddle
    a split boundary — the leak a per-document split cannot prevent (a
    verbatim copy of a training page in the eval split inflates eval).

    The split decision is keyed on the document's dedup-cluster label, not
    the document: connected components over the supplied near-dup ``pairs``
    (any generator — span_pairs, minhash_lsh_pairs, embedding pairs), then
    the same nesting, engine-portable md5 draw as ``hash_sample`` applied to
    the CLUSTER id, so every member of a cluster lands in the same split.
    Unpaired documents are their own singleton cluster.

    Returns (id, group_id, split) with split in {'train','val','test'}.

    Scale: components is the iterative min-label propagation of
    ``operators/graph.py`` (pair-volume bounded by the generator); the
    label join is an equi-join on the doc id; the draw itself is narrow.
    """
    if not (0.0 < train and 0.0 <= val and train + val < 1.0):
        raise ValueError("need 0 < train, 0 <= val, train + val < 1")
    from area_etl_spark.operators.graph import connected_components

    comps = connected_components(pairs)
    labeled = (
        docs.select(F.col(id_col))
        .join(comps, docs[id_col] == comps["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("group_id"),
        )
    )
    bucket = F.substring(F.md5(F.col("group_id").cast("string")), 1, 4)
    t_train = format(int(train * 65536), "04x")
    t_val = format(int((train + val) * 65536), "04x")
    split = (
        F.when(bucket < F.lit(t_train), F.lit("train"))
        .when(bucket < F.lit(t_val), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return labeled.select(F.col(id_col), F.col("group_id"), split.alias("split"))


def weighted_hash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
) -> DataFrame:
    """Per-row WEIGHTED deterministic sampling: keep each row with its own
    probability ``weight_col`` (a double in [0, 1], clamped).

    The quality-weighted downsampling step of corpus curation ("keep
    high-quality documents with probability ∝ quality score") — a
    per-row generalization of ``hash_sample`` sharing the same md5-uniform
    draw, so it inherits every scale property: pure narrow predicate, no
    shuffle, reproducible across runs/partitionings/engines, and a row's
    draw is FIXED — raising its weight can only add it to the sample
    (monotone, like the nesting property of the fixed-fraction sampler).

    The draw compares the first 8 hex digits of md5(id) — an integer
    uniform over [0, 2^32) — against ``floor(weight · 2^32)``, numerically
    (conv from hex), since a lexicographic compare can't express a
    data-dependent threshold.  A NULL weight propagates to a NULL
    threshold, and a NULL comparison filters FALSE — NULL-weight rows are
    dropped (the conservative reading of "no keep-probability").
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    c = F.col(id_col)
    draw = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    clamped = F.least(F.greatest(w.cast("double"), F.lit(0.0)), F.lit(1.0))
    threshold = F.floor(clamped * F.lit(float(2**32))).cast("long")
    return df.where(draw < threshold)


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield–Lund–Thorup, JACM 2007, public): each row gets priority
    ``q = w / u`` with ``u`` uniform from the portable md5 draw, and the k
    highest-priority rows form the sample — higher weight ⇒ higher expected
    priority ⇒ selection probability increasing in w, and the (k+1)-th
    priority is the threshold that makes subset-sum estimates unbiased.

    Chosen over the Efraimidis–Spirakis exponential-key reservoir
    DELIBERATELY: A-ES needs ``ln(u)``, and libm ``ln`` differs between the
    JVM and DuckDB/glibc in the last ulp for ~8% of inputs (measured), which
    can flip ranks near the selection boundary.  Priority sampling needs
    only one IEEE division of exactly-representable doubles — bit-identical
    in any engine — so the sample is reproducible cross-engine, across
    partitionings, and across reruns.

    Plan shape: narrow projection (md5 draw + divide) → global top-k
    (TakeOrdered: per-partition heaps, no global sort shuffle).  Ties break
    by id; ``u`` uses (draw+1)/2^32 so u ∈ (0, 1] and the division can't
    hit zero.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    draw = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long")
    u = (draw + F.lit(1)).cast("double") / F.lit(float(2**32))
    pri = w.cast("double") / u
    return (
        df.withColumn("priority", F.round(pri, 6))
        .orderBy(F.col("priority").desc(), F.col(id_col).asc())
        .limit(k)
    )


def negative_pairs(df: DataFrame, id_col: str, k: int) -> DataFrame:
    """k deterministic pseudo-random negative partners per anchor — the
    contrastive-training negative-sampling step (embedding training needs
    ~k negatives per positive pair).

    Requires dense ids 0..n−1 (compose with ``dense_ids`` otherwise); n is
    a 1-row broadcast aggregate, never a driver collect.  The draw is the
    first 16 bits of ``md5(id '#' i)`` mod n — portable to any engine with
    md5 + string ops (the [[sample-hash]] idiom), reproducible across runs
    and partitionings, and uniform to within the 2¹⁶ granularity (mod bias
    ≤ n/65536; widen the prefix for corpora beyond ~10⁵ ids).  Self-draws
    remap to (draw+1) mod n, so a pair is never (x, x).  Narrow k-way
    fan-out; the only shuffle is whatever join the caller does next.
    """
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    anchors = (
        df.select(F.col(id_col))
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("_n"),
            F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("neg_i"),
        )
    )
    h = F.md5(
        F.concat_ws(
            "#", F.col(id_col).cast("string"), F.col("neg_i").cast("string")
        )
    )
    draw = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % F.col("_n")
    partner = F.when(draw == F.col(id_col), (draw + 1) % F.col("_n")).otherwise(draw)
    return anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col("neg_i"),
        partner.alias("negative_id"),
    )


def group_sample_n(
    df: DataFrame, keys: list[str], id_col: str, n: int
) -> DataFrame:
    """Exactly min(n, group size) rows per group, deterministically — the
    balanced-dataset constructor (equal examples per class/language/source).

    Rank within the group by (md5(id), id) — a uniform, partition-invariant
    order — and keep rank ≤ n.  Unlike a fraction-based sample the output
    size is exact; unlike ``LIMIT`` per group it is stable across runs and
    engines.  One window shuffle on the group keys.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n)
        .drop("_rn")
    )


def priority_sample_grouped(
    df: DataFrame,
    keys: list[str],
    id_col: str,
    weight_col: str | Column,
    k: int,
) -> DataFrame:
    """Per-group weighted sampling without replacement — ``priority_sample``
    stratified: the k highest-priority rows of EACH group (q = w/u, same
    ln-free portable draw; see priority_sample for why not A-ES).

    The stratified corpus subsetter: "k docs per source, weighted by
    quality".  One window shuffle on the group keys (rank within group)
    instead of the global TakeOrdered — per-group output is exactly
    min(k, group size).
    """
    from pyspark.sql import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    draw = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (draw + F.lit(1)).cast("double") / F.lit(float(2**32))
    pri = F.round(w.cast("double") / u, 6)
    rank = F.row_number().over(
        Window.partitionBy(*keys).orderBy(F.col("priority").desc(), F.col(id_col).asc())
    )
    return (
        df.withColumn("priority", pri)
        .withColumn("_rn", rank)
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int,
    strata: list[str] | None = None,
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5-uniform draw over the id, optionally STRATIFIED (fold proportions
    hold within every stratum because the draw is uniform per id and
    independent of the stratum — no per-stratum state needed; strata
    participate only in the verification report, not the assignment).

    Engine/partition-invariant (same recipe as ``hash_sample``): fold
    survives re-runs, engine swaps, and repartitioning — the property that
    makes CV folds REPRODUCIBLE artifacts instead of run-local accidents.
    Narrow projection, zero shuffles.
    """
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    out = df.withColumn("fold", (bucket % k).cast("int"))
    return out


def balance_classes(
    df: DataFrame,
    class_col: str,
    id_col: str,
) -> DataFrame:
    """Class-balanced downsampling: undersample every class to the
    minority class's size with the deterministic md5-rank draw
    (``group_sample_n``'s order), so the output has EXACTLY equal class
    counts — the imbalance fix before training a classifier when
    upweighting isn't available.

    The minority size is computed at runtime and broadcast (scalar-join
    idiom — one 1-row aggregate, no collect); ranking is one window
    shuffle on the class key.  A hot majority class sorts only within its
    own partition range — same bound as every per-key window here.
    """
    from pyspark.sql import Window

    min_n = (
        df.groupBy(class_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.min("_n").alias("_min_n"))
    )
    w = Window.partitionBy(class_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .crossJoin(F.broadcast(min_n))
        .where(F.col("_rn") <= F.col("_min_n"))
        .drop("_rn", "_min_n")
    )


def select_under_budget(
    df: DataFrame,
    score_col: str,
    tokens_col: str,
    budget: int,
    id_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy data selection under a token budget: take documents in
    descending ``score_col`` order (ties broken by ``id_col``) while the
    running token total stays ≤ ``budget`` — the "best N tokens" corpus
    curation step (quality-first selection for a fixed training budget).

    The running total is a GLOBAL cumulative sum, computed with the
    ``dense_ids`` recipe instead of the single-partition window the naive
    ``SUM() OVER (ORDER BY ...)`` plans: range-repartition on the order
    key, per-partition token sums (one tiny aggregate), driver prefix-sum
    over O(partitions) longs folded back as a plan literal, then a
    partition-local cumulative window.  Identical result to the global
    window — which is exactly what the SQL oracle replays — with the heavy
    data crossing ONE range shuffle.  The partitioning is pinned with an
    eager ``materialize`` (same AQE-resampling caveat as ``dense_ids``).

    Returns the selected rows plus ``cum_tokens`` (running total including
    the row).  A document larger than the remaining budget is skipped and
    selection CONTINUES past it only if a later doc still fits the prefix
    rule — i.e. strict prefix semantics: a row is kept iff its inclusive
    running total fits, matching the SQL-window formulation.
    """
    parts_src = df.withColumn("_negs", -F.col(score_col))
    order = [F.col("_negs"), F.col(id_col)]
    parts = (
        parts_src.repartitionByRange(num_partitions, *order)
        if num_partitions
        else parts_src.repartitionByRange(*order)
    )
    # frozen so a recompute cannot re-sample the range bounds (the dense_ids freeze)
    staged = materialize(parts.withColumn("_pid", F.spark_partition_id()), eager=True)
    sums = {
        r._pid: r.s
        for r in staged.groupBy("_pid")
        .agg(F.sum(F.col(tokens_col).cast("long")).alias("s"))
        .collect()
    }
    if not sums:
        return df.withColumn("cum_tokens", F.lit(None).cast("long")).where(F.lit(False))
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid] or 0
    offset_map = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("_negs", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.element_at(offset_map, F.col("_pid")) + F.sum(
        F.col(tokens_col).cast("long")
    ).over(w)
    return (
        staged.withColumn("cum_tokens", cum.cast("long"))
        .where(F.col("cum_tokens") <= budget)
        .drop("_pid", "_negs")
    )


def subset_closure(
    root: DataFrame,
    root_key: str,
    fraction: float,
    children: list[tuple[DataFrame, str]] | None = None,
    parents: list[tuple[DataFrame, str, str]] | None = None,
) -> dict[str, DataFrame]:
    """Referential-integrity-preserving warehouse subsetting: hash-sample
    the ROOT entity (deterministic md5 draw — re-runs and engines agree),
    then close over foreign keys so the dev copy joins exactly like
    production: every child row whose FK points at a sampled root
    (semi-join down), every parent row some sampled root points at
    (semi-join up through ``(parent_df, parent_key, root_fk_col)``).

    This is how a 100 TB warehouse becomes a coherent 1% dev/CI
    environment — independent per-table samples break every join.  The
    root predicate is a narrow filter; each closure edge is ONE semi-join
    against the (already-small) sampled frame — broadcast when the sample
    fits, which at dev fractions it does.  Nesting: a 1% subset contains
    the 0.1% subset (hash_sample property), so environments stack.

    Returns {"root": ..., "child_0": ..., "parent_0": ...} keyed by
    position; callers zip with their table names.
    """
    from pyspark.sql.functions import broadcast

    sampled = root.where(hash_sample_predicate(root_key, fraction))
    out = {"root": sampled}
    keys = sampled.select(F.col(root_key).alias("_k")).distinct()
    for i, (child, fk_col) in enumerate(children or []):
        out[f"child_{i}"] = child.join(
            broadcast(keys), child[fk_col] == keys["_k"], "left_semi"
        )
    for i, (parent, parent_key, root_fk) in enumerate(parents or []):
        pk = sampled.select(F.col(root_fk).alias("_pk")).distinct()
        out[f"parent_{i}"] = parent.join(
            broadcast(pk), parent[parent_key] == pk["_pk"], "left_semi"
        )
    return out


def ipf_weights(
    cells: DataFrame,
    row_col: str,
    col_col: str,
    n_col: str,
    row_targets: DataFrame,
    col_targets: DataFrame,
    iters: int = 3,
) -> DataFrame:
    """Iterative proportional fitting (raking) — per-cell weights that make
    a two-way contingency table match BOTH target marginals: the survey-
    statistics workhorse, and in a training-data pipeline the principled
    way to rebalance a corpus to a target (source × time, lang × domain)
    mix without per-axis independence assumptions (the one-axis version is
    rebalance_mixture).

    Each round scales rows to their target then columns to theirs; 3
    rounds is the conventional near-convergence point (IPF converges
    geometrically when the table has no structural zeros on the target
    support).  Every marginal sum folds over the cell list in SORTED
    cross-key order (the entropy discipline), so a SQL oracle replays the
    float sequence exactly; targets/weights are doubles, divisions exact.

    All aggregates and joins run over the AGGREGATE-level cell table
    (|rows|·|cols| cells — categories, never raw events), the bounded
    pareto/id_gap idiom.  Returns (row, col, n, weight).
    """
    rt = row_targets.select(F.col(row_col).alias("_r"), F.col("target").alias("_rt"))
    ct = col_targets.select(F.col(col_col).alias("_c"), F.col("target").alias("_ct"))
    df = (
        cells.select(
            F.col(row_col).alias("_r"),
            F.col(col_col).alias("_c"),
            F.col(n_col).alias("_n"),
        )
        .join(F.broadcast(rt), "_r")
        .join(F.broadcast(ct), "_c")
        .withColumn("_w", F.lit(1.0))
    )

    def fold(key: str) -> "Column":
        return F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(key).alias("k"),
                        (F.col("_w") * F.col("_n").cast("double")).alias("x"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s.getField("x"),
        )

    for _ in range(iters):
        rs = df.groupBy("_r").agg(fold("_c").alias("_rs"))
        df = df.join(F.broadcast(rs), "_r").withColumn(
            "_w", F.col("_w") * (F.col("_rt") / F.col("_rs"))
        ).drop("_rs")
        cs = df.groupBy("_c").agg(fold("_r").alias("_cs"))
        df = df.join(F.broadcast(cs), "_c").withColumn(
            "_w", F.col("_w") * (F.col("_ct") / F.col("_cs"))
        ).drop("_cs")
        # cut lineage each round: every iteration references df twice
        # (cells ⋈ agg(cells)), so the uncut plan doubles per round —
        # 2^iters analysis blow-up long before any data moves.  The cell
        # table is aggregate-level (categories², not rows), so an eager
        # cut is O(small) — the connected_components recipe.
        df = materialize(df, eager=True)
    return df.select(
        F.col("_r").alias(row_col),
        F.col("_c").alias(col_col),
        F.col("_n").alias(n_col),
        F.round("_w", 9).alias("weight"),
    )


def dsir_weights(
    source: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR)
    scores on hashed bag-of-words — rank a RAW source corpus by how much
    each document looks like a small high-quality TARGET corpus, the
    importance-weight front half of the DSIR recipe (resample downstream
    with :mod:`sampling`'s hash samplers using these scores):

        log_w(doc) = Σ_b c_{doc,b} · ( ln p̂_target(b) − ln p̂_source(b) )

    over md5-hashed token buckets (the feature_hash space, engine-portable
    by the repo-wide md5 recipe) with add-one smoothing — ratios are
    n-gram-model likelihood ratios in a FIXED 2^b space, so no vocabulary
    is built and the 100 TB pass streams.  The SOURCE corpus (the big
    side) is tokenized and hashed ONCE: the per-document bucket counts
    are computed first and the source distribution rolls up from them
    (a 64-row second-stage aggregate), so the expensive explode+md5 scan
    never runs twice.  Bucket distributions are exact BIGINT counts
    (dimension-sized, broadcast); the per-document float dot product
    folds in SORTED BUCKET ORDER (the sorted-fold recipe), making scores
    bit-reproducible.  Returns (id, n_tokens, log_weight) — higher =
    more target-like.
    """
    from area_etl_spark.operators.dedup import normalize_tokens

    def _bucket(col):
        return (
            F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")
            % n_buckets
        ).cast("int")

    if n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two")
    spark = source.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    # ONE tokenize+hash pass over the source: per-doc counts first ...
    src_toks = source.select(
        F.col(id_col),
        F.explode(normalize_tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("_tok"),
    ).where(F.col("_tok") != "")
    doc_b = src_toks.select(F.col(id_col), _bucket(F.col("_tok")).alias("bucket")).groupBy(
        id_col, "bucket"
    ).agg(F.count(F.lit(1)).alias("_c"))
    # ... then the source distribution is a 64-row rollup of those counts
    src_n = spine.join(
        doc_b.groupBy("bucket").agg(F.sum("_c").alias("n")), "bucket", "left"
    ).select("bucket", F.coalesce("n", F.lit(0)).alias("_ns"))
    tgt_toks = target.select(
        F.explode(normalize_tokens(F.coalesce(F.col(text_col), F.lit("")))).alias("_tok")
    ).where(F.col("_tok") != "")
    tgt_n = spine.join(
        tgt_toks.select(_bucket(F.col("_tok")).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n")),
        "bucket",
        "left",
    ).select("bucket", F.coalesce("n", F.lit(0)).alias("_nt"))
    ratios = (
        src_n.join(tgt_n, "bucket")
        .crossJoin(
            F.broadcast(
                src_n.agg(F.sum("_ns").alias("_Ts")).crossJoin(
                    tgt_n.agg(F.sum("_nt").alias("_Tt"))
                )
            )
        )
        .select(
            "bucket",
            (
                F.log((F.col("_nt") + 1).cast("double") / (F.col("_Tt") + n_buckets))
                - F.log((F.col("_ns") + 1).cast("double") / (F.col("_Ts") + n_buckets))
            ).alias("_llr"),
        )
    )
    scored = doc_b.join(F.broadcast(ratios), "bucket").groupBy(id_col).agg(
        F.sum("_c").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("bucket").alias("b"),
                                (F.col("_c") * F.col("_llr")).alias("t"),
                            )
                        )
                    ),
                    lambda st: st.getField("t"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("log_weight"),
    )
    return scored
