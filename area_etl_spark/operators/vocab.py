"""Vocabulary building + document id-encoding — the tokenizer-adjacent
LLM-prep step: map a corpus's token universe onto dense integer ids (by
falling frequency, ties alphabetic) and rewrite each document as its id
sequence.

Scale shape: the vocabulary is |distinct tokens|-sized (Heaps' law: far
sublinear in corpus size) and gets its dense ids from ``ids.dense_ids`` —
the range-shuffle + driver-prefix-sum numbering, never a single-partition
``row_number`` window.  Encoding shuffles token occurrences once on the
token (join to vocab) and once on the doc id (sequence reassembly); both
hash joins, no windows over the corpus.  Token order inside a document is
preserved via posexplode positions carried through the join and an
``array_sort``-on-struct reassembly (sorting (pos, id) structs sorts by
pos first — exactly the collect_sorted_list idiom).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from area_etl_spark.operators.dedup import normalize_tokens
from area_etl_spark.operators.expressions import materialize
from area_etl_spark.operators.ids import dense_ids


def build_vocab(docs: DataFrame, text_col: str = "text", min_count: int = 1) -> DataFrame:
    """(token, n, token_id): dense 0-based ids by (count DESC, token ASC).

    One explode + one hash count per token, then the distributed dense-id
    pass over the |vocab|-sized count table.  ``min_count`` drops rare
    tokens BEFORE numbering (OOV at encode time).
    """
    counts = (
        docs.select(F.explode(normalize_tokens(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    numbered = dense_ids(
        counts.withColumn("_negn", -F.col("n")), ["_negn", "token"], id_name="token_id"
    )
    return numbered.select("token", "n", (F.col("token_id") - 1).alias("token_id"))


def encode_docs(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_id: int = -1,
) -> DataFrame:
    """(doc_id, n_tokens, token_ids): each document as its id sequence in
    original token order; tokens outside the vocabulary encode as
    ``oov_id``.

    Tokenless documents return an empty array (not a dropped row) via the
    left join back to the doc spine — the r5 decontaminate short-doc guard
    class.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(normalize_tokens(F.col(text_col))).alias("pos", "token"),
    ).where(F.col("token") != "")
    joined = toks.join(vocab.select("token", "token_id"), "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("tid"),
    )
    seqs = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))), lambda s: s["tid"]
        ).alias("token_ids")
    )
    return (
        docs.select(id_col)
        .join(seqs, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("token_ids"), F.array().cast("array<long>")).alias("token_ids"),
        )
        .withColumn("n_tokens", F.size("token_ids").cast("long"))
        .select(id_col, "n_tokens", "token_ids")
    )


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich-style, the tokenizer-
    training step of an LLM data pipeline): learn the ``num_merges`` most
    frequent adjacent symbol pairs, applying each merge before counting
    the next.

    The scale insight that makes BPE tractable on a 100 TB corpus: merges
    are a function of the WORD HISTOGRAM, not the corpus — one
    corpus-sized explode+groupBy builds (word, count) (vocabulary-sized,
    typically ≤ a few million rows), is materialized once, and every merge
    round then runs on that small table: one pair-count aggregate
    (adjacent symbols via slice+zip_with, weighted by word count) + a
    1-row deterministic argmax collect (max count, lexicographically
    smallest pair on ties — the bounded-seed contract, same as the k-means
    centroid collects) + a narrow literal ``replace`` that applies the
    merge left-to-right non-overlapping.  Words are restricted to ``[a-z0-9]+`` so the
    char-level symbol split is engine-portable (Java regex walks UTF-16
    units, RE2 walks codepoints — they differ on astral chars; real
    byte-level BPE sidesteps this the same way).

    Returns (rank, left, right, pair_count) — the ordered merge table a
    tokenizer consumes.  Stops early if no adjacent pair remains.
    """
    spark = docs.sparkSession
    words = materialize(
        docs.select(
            F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w")
        )
        .where(F.col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("sym"), "n"
        )
    )
    cur = words
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        arr = F.split("sym", " ")
        pairs = (
            cur.where(F.size(arr) >= 2)
            .select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice(arr, 1, F.size(arr) - 1),
                        F.slice(arr, 2, F.size(arr) - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, top[0].cnt
        merges.append((rank, l, r, cnt))
        cur = cur.select(
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("sym"), F.lit(" ")),
                    F.lit(f" {l} {r} "),
                    F.lit(f" {l}{r} "),
                )
            ).alias("sym"),
            "n",
        )
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to segment each document's words into
    BPE tokens: per doc, (doc_id, n_bpe_tokens).  Pure narrow chain — one
    split + per-word char split + one literal ``replace`` per merge (in
    training order, left-to-right semantics identical to training), then a
    token count; no shuffle at all beyond reading the input."""
    word = F.explode(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    ).alias("w")
    toks = docs.select(id_col, word).where(F.col("w").rlike("^[a-z0-9]+$"))
    sym = F.concat(
        F.lit(" "), F.trim(F.regexp_replace("w", "(.)", "$1 ")), F.lit(" ")
    )
    for l, r in merges:
        sym = F.replace(sym, F.lit(f" {l} {r} "), F.lit(f" {l}{r} "))
    return (
        toks.select(id_col, F.size(F.split(F.trim(sym), " ")).alias("k"))
        .groupBy(id_col)
        .agg(F.sum("k").alias("n_bpe_tokens"))
    )


def zipf_fit(vocab: DataFrame) -> DataFrame:
    """Zipf's-law fit over a frequency-ranked vocabulary (from
    :func:`build_vocab`): OLS of ln(freq) on ln(rank) — slope ≈ −1 is the
    classic sanity check that a scraped corpus looks like natural language
    (templated/spam corpora bend the tail; a truncated head means boilerplate
    dedup leftovers).

    Exactness: ln values are quantized to 1e-6 fixed-point BIGINTs, so the
    five sufficient statistics aggregate exactly as DECIMAL(38,0) under any
    partitioning (the corr_exact discipline); slope/intercept/R² are closed
    forms evaluated once in doubles — the 1e6 scale cancels in the slope
    ratio by construction.  One map-side-combined aggregate over the
    |vocab|-sized table.  Returns one row (n_terms, slope, intercept, r2).
    """
    q = lambda c: F.round(c * F.lit(1000000.0), 0).cast("long")  # noqa: E731
    xy = vocab.select(
        q(F.log((F.col("token_id") + 1).cast("double"))).alias("_x"),
        q(F.log(F.col("n").cast("double"))).alias("_y"),
    )
    d = lambda name: F.col(name).cast("decimal(38,0)")  # noqa: E731
    s = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
        F.sum(d("_x")).alias("_sx"),
        F.sum(d("_y")).alias("_sy"),
        F.sum(d("_x") * d("_y")).alias("_sxy"),
        F.sum(d("_x") * d("_x")).alias("_sxx"),
        F.sum(d("_y") * d("_y")).alias("_syy"),
    )
    n, sx, sy = F.col("_n"), F.col("_sx"), F.col("_sy")
    num = (n * F.col("_sxy") - sx * sy).cast("double")
    den = (n * F.col("_sxx") - sx * sx).cast("double")
    syy = (n * F.col("_syy") - sy * sy).cast("double")
    slope = num / den
    intercept = (
        sy.cast("double") / F.lit(1000000.0) - slope * (sx.cast("double") / F.lit(1000000.0))
    ) / n.cast("double")
    return s.select(
        n.cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(num * num / (den * syy), 6).alias("r2"),
    )


def good_turing_report(vocab: DataFrame) -> DataFrame:
    """Good–Turing / Chao1 unseen-vocabulary estimation from a frequency-
    ranked vocabulary (build_vocab output) — the corpus-planning numbers:
    what probability mass belongs to tokens we have NEVER seen (Good–Turing
    p₀ = f₁/N), and how many distinct tokens the full population likely has
    (Chao1: V + f₁²/(2f₂)) — i.e. how much new vocabulary the next shard of
    a 100 TB corpus will add.

    f₁/f₂ are counts of once/twice-seen tokens, N the total token count —
    one exact aggregate over the |vocab| table; the two estimates are
    single divisions.  Returns one row
    (v_obs, n_tokens, f1, f2, p0_unseen, chao1_vocab).
    """
    agg = vocab.agg(
        F.count(F.lit(1)).alias("v_obs"),
        F.sum(F.col("n").cast("decimal(38,0)")).alias("_nt"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("decimal(38,0)").alias("_f1"),
        F.sum(F.when(F.col("n") == 2, 1).otherwise(0)).cast("decimal(38,0)").alias("_f2"),
    )
    return agg.select(
        "v_obs",
        F.col("_nt").cast("long").alias("n_tokens"),
        F.col("_f1").cast("long").alias("f1"),
        F.col("_f2").cast("long").alias("f2"),
        F.round(
            F.when(
                F.col("_nt") > 0, F.col("_f1").cast("double") / F.col("_nt").cast("double")
            ),
            9,
        ).alias("p0_unseen"),
        # Chao1 undefined without doubletons (ANSI-safe NULL, the standard
        # caveat — use the bias-corrected f1(f1-1)/2 variant upstream if f2=0)
        F.round(
            F.when(
                F.col("_f2") > 0,
                F.col("v_obs").cast("double")
                + (F.col("_f1") * F.col("_f1")).cast("double")
                / (F.lit(2.0) * F.col("_f2").cast("double")),
            ),
            6,
        ).alias("chao1_vocab"),
    )
