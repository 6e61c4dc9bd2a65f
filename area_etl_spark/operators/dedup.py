"""Deduplication operators — exact and near-dup, designed for 100 TB corpora.

The reference's own dedup surface is ``DataFrame.unique(subset)``
(/root/reference/src/core.py:744) — ``distinct_on`` reproduces it.  The
near-dup family (MinHash+LSH, SimHash, n-gram Jaccard) is the LLM-pipeline
extension from the brief; everything is built from JVM-side Catalyst
expressions (``xxhash64``, higher-order array functions) — no Python UDFs.

Shuffle structure at scale (the part that matters at 100 TB):

- ``dedup_exact``: one hash-partitioned groupBy on a 64-bit content hash.
  Map-side partial aggregation collapses most duplicates before the shuffle,
  so shuffle volume ≈ |distinct| not |rows|.
- ``minhash_lsh_pairs``: candidates come from an equi-join on
  ``(band_id, band_hash)`` — shuffle volume O(rows · bands), never the
  O(rows²) of an all-pairs comparison.  Bucket sizes concentrate near 1, so
  the pair-expansion inside a bucket is tiny; a pathological hot bucket
  (near-identical boilerplate spam — m docs in one bucket → m² pairs) is
  bounded by the ``max_bucket`` guard (ON by default at 256): deterministic
  hash-ranked truncation keeps at most ``max_bucket`` docs per
  (band_id, band_hash) before the self-join, turning the worst case into
  O(max_bucket²) per band.
- ``simhash``: embarrassingly parallel signature (narrow), then candidates
  via equi-join on rotated prefix blocks (one shuffle per rotation).
- ``ngram_jaccard_pairs``: exact verification over an already-blocked
  candidate set — never run unblocked at scale.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from area_etl_spark.operators.expressions import bind_once, materialize

# Mersenne prime 2^31-1: (a * x + b) with a, b, x < 2^31 stays within a
# signed 64-bit long, so the hash family never overflows under ANSI mode.
_MERSENNE31 = (1 << 31) - 1


def distinct_on(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Polars ``unique(subset)`` equivalent (core.py:744): keep one row per key.

    With a subset, keeps an arbitrary-but-deterministic representative via a
    min-by tiebreak on the remaining columns (Polars keeps "any"; determinism
    is required for a distributed engine to be testable).
    """
    if subset is None:
        return df.distinct()
    others = [c for c in df.columns if c not in subset]
    if not others:
        return df.distinct()
    agg = [F.min(F.struct(*[F.col(c) for c in others])).alias("_rest")]
    out = df.groupBy(*subset).agg(*agg)
    return out.select(*subset, *[F.col(f"_rest.{c}").alias(c) for c in others])


def normalize_tokens(text_col: str | Column) -> Column:
    """Lowercased whitespace tokens of a document (shared by all dedup ops)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.lower(c)), r"\s+")


def shingles(tokens: Column, k: int = 3) -> Column:
    """k-token shingles as strings: ['a b c', 'b c d', ...]. Empty if < k tokens.

    The token array is bound once per row (``bind_once``) so the slice
    lambda never re-derives it per shingle position.
    """
    return bind_once(
        tokens,
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: F.array_join(F.slice(t, i + 1, k), " "),
            ),
        ).otherwise(F.array(F.array_join(t, " "))),
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the min-id representative per text.

    Returns (text_hash, keep_id, dup_count).  GroupBy on the 64-bit hash,
    not the full text, so the shuffle carries 8-byte keys instead of
    documents; map-side combine collapses local duplicates first.
    """
    h = F.xxhash64(F.col(text_col))
    return (
        df.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_hashes)]


def _minhash_fold(
    text_col: str | Column,
    num_hashes: int,
    shingle_k: int,
    seed: int,
    finish=None,
):
    """MinHash signature as array<bigint> in one pass — pure Catalyst
    expressions, with an optional ``finish`` lambda.

    Each hash h_i(s) = (a_i * (xxhash64(s) mod p) + b_i) mod p with
    p = 2^31-1; the signature element is min over shingles.  The
    arithmetic never exceeds 2^62 (ANSI-overflow-safe).

    Evaluation shape matters: the naive form (num_hashes independent
    ``array_min(transform(shingles, ...))`` expressions) re-derives the
    shingle array once PER HASH — 64× the tokenize/shingle work, which
    measured ~400 s at sf0.1.  This form is a single ``aggregate`` fold:
    shingles are materialized once, each shingle hash updates all 64
    accumulator slots via an indexed ``transform`` — O(shingles · hashes)
    arithmetic on one pass, ~100× faster, identical output values.

    ``finish`` (if given) maps the 64-slot accumulator to the final value
    INSIDE the aggregate expression — callers that derive per-band hashes
    from the signature must use it: a downstream projection that referenced
    ``sig`` N times would, after Catalyst's projection collapse, inline (and
    re-evaluate) the whole fold N times, since higher-order functions don't
    participate in codegen subexpression elimination.  Binding the
    accumulator once in ``finish`` makes the fan-out free.
    """
    params = _hash_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in params])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in params])
    toks = normalize_tokens(text_col)
    sh = shingles(toks, shingle_k)
    base = F.transform(sh, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))
    init = F.array_repeat(F.lit(_MERSENNE31).cast("long"), num_hashes)
    merge = lambda acc, x: F.transform(  # noqa: E731
        acc,
        lambda v, i: F.least(
            v,
            F.pmod(
                x * F.element_at(a_arr, i + 1) + F.element_at(b_arr, i + 1),
                F.lit(_MERSENNE31),
            ),
        ),
    )
    if finish is None:
        return F.aggregate(base, init, merge)
    return F.aggregate(base, init, merge, finish)


def minhash_band_structs(
    text_col: str | Column, num_hashes: int, bands: int, shingle_k: int, seed: int
) -> Column:
    """array<struct<band_id,band_hash>> computed in ONE fold over the shingles.

    The banding runs in the aggregate's ``finish`` lambda so the signature
    accumulator is bound exactly once per row (see ``_minhash_fold``).
    """
    rows_per_band = num_hashes // bands

    def _bands(acc: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_id"),
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(acc, b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ).alias("band_hash"),
            ),
        )

    return _minhash_fold(text_col, num_hashes, shingle_k, seed, finish=_bands)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Plan shape: signature (narrow) → band explode (narrow) → self equi-join
    on (band_id, band_hash) (ONE shuffle, key-partitioned) → distinct pairs.
    Never all-pairs: only documents sharing a band bucket ever meet.
    Returns (id_a, id_b) with id_a < id_b.

    ``max_bucket``: hot-bucket guard for adversarial corpora, ON by default
    (256).  m copies of one boilerplate page land in the SAME
    (band_id, band_hash) bucket in every band, and the self-join then emits
    O(m²) candidate pairs — the classic LSH failure mode at 100 TB.  Each
    bucket is truncated to its ``max_bucket`` lowest-``xxhash64(id)``
    members (deterministic, layout-independent) before the join, bounding
    candidates at O(bands · max_bucket²) pairs total while leaving ordinary
    buckets (size ≤ max_bucket) untouched.  The truncated spam docs are
    still caught by the upstream exact-dedup pass and by the survivors that
    DID stay in the bucket.  Default validated on sf0.1 + 2000 planted
    near-identical spam docs: unguarded 2.0M pairs / guarded 315k, organic
    corpus output bit-identical (max organic bucket there is 4; the cap
    never binds on real text).  Pass ``None`` for exhaustive candidates on
    trusted corpora.  The window partitions by the same key the self-join
    shuffles on, so the guard adds no extra exchange.
    """
    structs = minhash_band_structs(text_col, num_hashes, bands, shingle_k, seed)
    banded = df.select(F.col(id_col), F.explode(structs).alias("band")).select(
        id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )
    if max_bucket is not None:
        wb = Window.partitionBy("band_id", "band_hash").orderBy(
            F.xxhash64(F.col(id_col)), F.col(id_col)
        )
        banded = (
            banded.withColumn("_rk", F.row_number().over(wb))
            .where(F.col("_rk") <= max_bucket)
            .drop("_rk")
        )
    # materialize the banded table ONCE: the self-join's two sides otherwise
    # each re-run the signature fold (+ the guard window) — the broadcast
    # side's exchange is not reused against the stream side's (measured: two
    # full fold+window subtrees in the physical plan)
    banded = banded.transform(materialize)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Candidate near-dup pairs via md5-based MinHash — the ENGINE-PORTABLE
    variant with a full SQL oracle.  ``n`` is the shingle width (tokens per
    gram); it must match whatever ground truth the candidates are scored
    against (``dedup_candidate_eval`` passes its own ``n`` through).

    ``minhash_lsh_pairs`` (the scale path) folds ``xxhash64`` signatures in
    one pass — fast, but no other engine reproduces Spark's seeded xxhash64,
    so its correctness gate is rows-only.  This variant trades speed for
    portability: the min-hash per seed is ``min(md5(seed || shingle))`` over
    the document's distinct 3-gram shingle set (lexicographic min of hex
    strings — identical in every engine), so DuckDB replays it verbatim.
    Use it to cross-check the fast path's banding logic, not at 100 TB
    (md5 per (shingle, seed) is ~an order of magnitude more hashing).

    Plan shape matches the fast path: per-doc signature aggregate (ONE
    shuffle with map-side combine), band explode (narrow), self equi-join on
    (band_id, band_hash), distinct pairs — never all-pairs.
    """
    rows_per_band = num_hashes // bands
    toks = F.array_distinct(shingles(normalize_tokens(text_col), n))
    exploded = df.select(F.col(id_col), F.explode(toks).alias("tok")).where(F.col("tok") != "")
    sigs = exploded.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("tok")))).alias(f"h{s}")
            for s in range(num_hashes)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(F.col(id_col), F.explode(band_structs).alias("bd")).select(
        id_col, F.col("bd.band_id").alias("band_id"), F.col("bd.band_hash").alias("band_hash")
    ).transform(materialize)
    # materialized once: both self-join sides read the banded table back
    # instead of each re-running the md5 signature aggregate (the heaviest
    # stage of the portable path — 16 digests per shingle)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def simhash(text_col: str | Column, bits: int = 64) -> Column:
    """64-bit SimHash of the token multiset — one pass, no shuffle.

    For each bit position j, sum +1/-1 over tokens according to bit j of
    xxhash64(token); the sign of the sum is bit j of the fingerprint.

    Single ``aggregate`` fold: the accumulator is a ``bits``-slot count
    array, each token updates every slot via ``bit_get`` (one pass over the
    token array — the per-bit-independent-aggregate form walks the array
    ``bits`` times).  The counts then fold into a long in two 32-bit halves
    so the top bit never arithmetically overflows under ANSI mode.
    """
    toks = normalize_tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.transform(
            acc,
            lambda v, j: v + F.when(F.bit_get(h, j.cast("int")) == 1, 1).otherwise(-1),
        ),
    )
    sign_bits = F.transform(counts, lambda c: F.when(c > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")))
    half = bits // 2
    # fold high-index-first so acc*2+bit reconstructs each half's bit pattern
    def _fold(arr: Column) -> Column:
        return F.aggregate(F.reverse(arr), F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)

    lo = _fold(F.slice(sign_bits, 1, half))
    hi = _fold(F.slice(sign_bits, half + 1, bits - half))
    return F.shiftleft(hi, half).bitwiseOR(lo)


_HEX = "0123456789abcdef"


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 16
) -> DataFrame:
    """Engine-portable SimHash over the token multiset — md5-based twin of
    ``simhash`` (xxhash64, rows-only) with a full SQL oracle.

    Bit b of a token's hash is extracted from the md5 hex nibble with plain
    arithmetic (position-in-alphabet, divide, mod) that every engine
    evaluates identically; per-bit ±1 sums fold in ONE pass with an array
    accumulator, and the sign-pack runs in a SECOND projection so the fold
    is single-evaluated (HOFs get no codegen CSE).  16 bits keeps the
    packed value in a portable INT; the xxhash64 64-bit form remains the
    scale path.
    """
    toks = normalize_tokens(F.col(text_col))
    hashes = F.transform(toks, lambda t: F.md5(t))

    def _bit(h: Column, b: int) -> Column:
        p, shift = b // 4 + 1, 3 - (b % 4)
        val = F.instr(F.lit(_HEX), F.substring(h, p, 1)) - 1
        return (F.floor(val / F.lit(2**shift)) % 2).cast("int")

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.array(
            *[F.element_at(acc, b + 1) + (F.lit(2) * _bit(h, b) - 1) for b in range(bits)]
        ),
    )
    staged = df.select(F.col(id_col), counts.alias("_counts"))
    packed = None
    for b in range(bits):
        term = F.when(F.element_at(F.col("_counts"), b + 1) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return staged.select(F.col(id_col), packed.cast("int").alias("simhash16"))


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard verification over a blocked candidate-pair set.

    Joins each (id_a, id_b) back to its distinct-shingle sets and computes
    |A∩B| / |A∪B| with array intersection — two broadcast-or-shuffle joins
    keyed by doc id, then a narrow similarity expression.  Returns pairs with
    jaccard >= threshold.

    The shingle-set table is materialized once (``materialize``): both
    join sides read it back instead of each re-running the tokenize→shingle
    pass over the corpus (2 scans otherwise — same rationale as
    ``containment_blocked``).
    """
    sets_df = df.select(
        F.col(id_col),
        F.array_distinct(shingles(normalize_tokens(text_col), n)).alias("grams"),
    ).transform(materialize)
    j = (
        candidates.join(sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
        .join(sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size(F.array_union(F.col("grams_a"), F.col("grams_b")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).where(F.col("jaccard") >= threshold)


def span_gram_keys(text_col: str | Column, n: int = 8) -> Column:
    """md5 keys of a document's n-token grams; empty array below n tokens
    (the short-doc guard class the r5 decontaminate fix established)."""
    return bind_once(
        normalize_tokens(text_col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.md5(F.array_join(F.slice(toks, i + 1, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def span_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Distinct (id_a, id_b) document pairs sharing at least one verbatim
    n-token gram — the coupling relation for leakage-safe splitting (a
    shared span is exactly what train/eval contamination looks like).

    Per-doc gram sets are distinct'd BEFORE the self-join, so a gram
    repeated inside one document can't multiply pairs.  A gram shared by m
    docs still emits O(m²) pairs — semantically required (all m docs are
    mutually coupled) but at 100 TB the candidate generator should be the
    banded-LSH family (minhash_lsh_pairs with its max_bucket guard);
    span_pairs is the exact generator for moderate corpora and oracles.
    """
    pos = df.select(
        F.col(id_col), F.explode(span_gram_keys(F.col(text_col), n)).alias("gk")
    ).distinct()
    a, b = pos.alias("a"), pos.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gk") == F.col("b.gk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Span-level exact duplicate detection (Lee et al. 2022's exact-substring
    dedup signal, re-expressed relationally): for each document, how much of
    it is made of n-token grams that also appear in ANOTHER document.

    Complements the doc-level family (dedup_exact / MinHash) and the
    paragraph dedup in cleaning.py: boilerplate injected mid-document (nav
    bars, license headers) is invisible to whole-doc hashing but lights up
    here.  Returns (id, n_grams, n_dup, dup_frac).

    Scale design: positions → grams is a narrow posexplode; the only wide
    stages are one groupBy on the 32-hex gram key to find cross-doc keys
    and one equi-join back — O(total tokens), never doc×doc.  Keys use md5
    for cross-engine portability; a production deployment would swap in
    xxhash64 (8-byte shuffle keys) exactly as minhash_lsh_pairs does vs its
    portable twin.  Docs shorter than n tokens produce zero grams and come
    back with dup_frac 0.0 via the left join (the short-doc guard class the
    r5 decontaminate fix established).
    """
    grams = span_gram_keys(F.col(text_col), n)
    pos = df.select(F.col(id_col), F.explode(grams).alias("gk"))
    # ">= 2 distinct docs" as min(id) != max(id): O(1) aggregation state per
    # gram key (count_distinct would build a per-key hash set — pointless
    # memory at 100 TB when the only question is "more than one doc?").
    dup_keys = (
        pos.groupBy("gk")
        .agg(F.min(F.col(id_col)).alias("_lo"), F.max(F.col(id_col)).alias("_hi"))
        .where(F.col("_lo") != F.col("_hi"))
        .select("gk")
    )
    dup_per_doc = (
        pos.join(dup_keys, "gk")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    base = df.select(F.col(id_col), F.size(grams).cast("long").alias("n_grams"))
    joined = base.join(dup_per_doc, id_col, "left").na.fill({"n_dup": 0})
    frac = F.when(
        F.col("n_grams") > 0, F.round(F.col("n_dup") / F.col("n_grams"), 6)
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("n_dup").cast("long").alias("n_dup"),
        frac.alias("dup_frac"),
    )


def incremental_dedup(
    batch: DataFrame,
    history_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Continuous-ingestion dedup: drop batch documents whose normalized
    content already exists in a historical corpus snapshot, then dedup
    within the batch itself (keep the lowest id per content hash).

    ``history_hashes`` is a one-column ``content_hash`` frame — the compact
    index a crawl pipeline persists between runs (hashes only, never text).
    Scale design: one left_anti equi-join on the hash (broadcast when the
    history index fits, shuffle-hash otherwise — AQE decides) plus a
    min-aggregate with map-side combine for the in-batch pass.  Nothing is
    ever joined on raw text.  md5 keys for cross-engine portability; swap
    xxhash64 in production as elsewhere in this module.
    """
    hashed = batch.select(
        F.col(id_col),
        F.md5(F.trim(F.lower(F.col(text_col)))).alias("content_hash"),
    )
    # no .distinct() on the history side: left_anti keeps a left row iff NO
    # match exists, so duplicate index keys cannot change the result — a
    # defensive distinct would shuffle the full index on every run for
    # nothing (the index is also unique by construction in the streaming
    # ingestion sink).
    fresh = hashed.join(
        history_hashes.select("content_hash"), "content_hash", "left_anti"
    )
    return (
        fresh.groupBy("content_hash")
        .agg(F.min(F.col(id_col)).alias(id_col))
        .select(F.col(id_col), F.col("content_hash"))
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_cols: list[str],
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo): order the corpus by
    a fuzzy key and emit each row paired with its next ``window−1``
    neighbors — the record-linkage blocking strategy for typo-shifted keys
    that hash/equality blocking (LSH, exact buckets) scatters apart.

    Distributed WITHOUT a single-partition window: the global neighbor rank
    comes from ``dense_ids`` (range shuffle + per-partition numbering +
    O(partitions) driver prefix-sum), then neighbors are ``window−1`` plain
    equi-joins on (rank, rank+δ) — narrow fan-out, hash-join shuffles, no
    global sort on one machine.  ``sort_cols`` + ``id_col`` must be a total
    order (the id is appended as the tie-breaker automatically).  Output:
    (id_a, id_b, neighbor_distance δ) with a < b in sort order.
    """
    from area_etl_spark.operators.ids import dense_ids

    ranked = dense_ids(
        df.select(*sort_cols, id_col), [*sort_cols, id_col], "_rank"
    ).select(F.col(id_col), F.col("_rank"))
    fan = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("_rank"),
        F.explode(F.array(*[F.lit(d) for d in range(1, window)])).alias(
            "neighbor_distance"
        ),
    ).withColumn("_rank_b", F.col("_rank") + F.col("neighbor_distance"))
    right = ranked.select(F.col(id_col).alias("id_b"), F.col("_rank").alias("_rank_b"))
    return fan.join(right, "_rank_b").select("id_a", "id_b", "neighbor_distance")


def prefix_filter_jaccard_join(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs Jaccard set-similarity self-join via prefix filtering
    — the PPJoin-family technique (Chaudhuri et al. ICDE'06 SSJoin; Xiao et
    al. WWW'08): complete, no false negatives, unlike the MinHash/SimHash
    candidate generators in this module.

    Prefix-filter theorem: sort every record's distinct tokens in ONE global
    order (ascending document frequency, token as tie-break); if
    J(A,B) ≥ t, then A and B must share at least one token among each
    record's first ``|S| − ⌈t·|S|⌉ + 1`` tokens.  Candidates therefore come
    from an equi-join on PREFIX tokens only, and the exact Jaccard verify
    runs on candidates alone.

    Scale story — the inverse of the LSH hot-bucket problem BY CONSTRUCTION:
    a stopword appearing in every document sorts LAST in the frequency
    order and is almost never inside any prefix, so its posting list never
    joins; prefix posting lists are the globally RAREST tokens.  Shape: one
    token explode, one |vocab| df aggregate, a per-document ranking window
    (bounded by document length), one prefix equi-join, then a
    candidate-only verify via ``array_intersect`` on the two sorted token
    arrays.  Threshold should be exactly binary-representable (0.5, 0.75)
    so ⌈t·|S|⌉ is engine-portable.
    """
    from pyspark.sql import Window

    tok_arr = F.array_remove(
        F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")), ""
    )
    base = docs.select(F.col(id_col).alias("_id"), tok_arr.alias("_toks")).where(
        F.size("_toks") > 0
    )
    toks = base.select("_id", F.size("_toks").alias("_sz"), F.explode("_toks").alias("_tok"))
    freq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_tok").asc())
    prefix = (
        toks.join(freq, "_tok")
        .withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1)
        .select("_id", "_tok")
    )
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "_tok")
        .where(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("_lid"), F.col("r._id").alias("_rid"))
        .distinct()
    )
    left_arr = base.select(
        F.col("_id").alias("_lid"),
        F.col("_toks").alias("_ltoks"),
        F.size("_toks").alias("_lsz"),
    )
    right_arr = base.select(
        F.col("_id").alias("_rid"),
        F.col("_toks").alias("_rtoks"),
        F.size("_toks").alias("_rsz"),
    )
    inter = F.size(F.array_intersect("_ltoks", "_rtoks"))
    jac = inter.cast("double") / (F.col("_lsz") + F.col("_rsz") - inter).cast("double")
    return (
        cand.join(left_arr, "_lid")
        .join(right_arr, "_rid")
        .where(jac >= F.lit(threshold))
        .select(
            F.col("_lid").alias("l_id"),
            F.col("_rid").alias("r_id"),
            (F.round(jac, 6) + F.lit(0.0)).alias("jaccard"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Exact-substring duplicate REMOVAL — the treatment stage above
    :func:`duplicate_spans`' diagnosis (Lee et al. 2022: dedup the training
    set at the substring level, not the document level): every n-token gram
    appearing in ≥2 documents keeps its tokens only in its FIRST-occurrence
    owner (min doc id); every other document loses the covered positions,
    and documents are rebuilt from the surviving tokens in order.

    Output: (id, clean_text, n_tokens, n_removed).  Within-owner repeats of
    an owned gram survive (the owner keeps ALL its occurrences — the
    deterministic relational reading of "first occurrence wins").

    Scale: positions→grams is a narrow posexplode; wide stages are one
    groupBy on the md5 gram key (owner = min id, dup test = min≠max, O(1)
    state), one equi-join back, an n-way covered-position fan-out
    (O(dup-grams·n), bounded), a position anti-join, and the per-doc
    rebuild aggregate — O(total tokens), never doc×doc.  collect_list is
    per-document (bounded by doc length) and array_sort makes the rebuild
    order deterministic under any partitioning.
    """
    toks = normalize_tokens(F.coalesce(F.col(text_col), F.lit("")))
    gram_arr = bind_once(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.md5(F.array_join(F.slice(t, i + 1, n), " ")),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    tok_pos = df.select(F.col(id_col), F.posexplode(toks).alias("p", "tok"))
    g = df.select(F.col(id_col), F.posexplode(gram_arr).alias("s", "gk"))
    owners = (
        g.groupBy("gk")
        .agg(F.min(id_col).alias("_owner"), F.max(id_col).alias("_hi"))
        .where(F.col("_owner") != F.col("_hi"))
        .select("gk", "_owner")
    )
    marked = (
        g.join(owners, "gk")
        .where(F.col(id_col) != F.col("_owner"))
        .select(id_col, "s")
    )
    covered = marked.select(
        id_col, F.explode(F.sequence(F.col("s"), F.col("s") + (n - 1))).alias("p")
    ).distinct()
    kept = tok_pos.join(covered, [id_col, "p"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda st: st.getField("tok"),
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    base = df.select(F.col(id_col), F.size(toks).cast("long").alias("n_tokens"))
    return (
        base.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 64,
) -> DataFrame:
    """DIRECTED near-containment pairs (Broder's containment, the quote/
    subset detector Jaccard misses): c(A→B) = |S(A)∩S(B)| / |S(A)| over
    distinct n-gram shingle sets — a short doc quoted wholesale inside a
    long one scores c≈1 while its Jaccard stays tiny, which is why
    training-data dedup needs both (Lee et al. 2022 treat containment
    separately from near-duplication).

    Candidates come from a shared-shingle self-join on RAW grams (no
    seeded hash — fully engine-replayable): explode distinct shingles,
    drop grams occurring in more than ``max_df`` docs (the hot-bucket
    guard: boilerplate grams generate O(df²) candidate pairs and carry no
    containment signal — same default-ON treatment as minhash_lsh_pairs),
    join on gram, count shared grams per ordered (a,b) pair, divide by
    |S(A)| once.  Exact integer counts; the division is the single float.
    Emits both directions when both clear ``threshold``; a≠b always.
    """
    sets_df = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(normalize_tokens(text_col), n)).alias("_grams"),
    ).where(F.size("_grams") > 0)
    sizes = sets_df.select("_id", F.size("_grams").alias("_sz"))
    posting = sets_df.select("_id", F.explode("_grams").alias("_g"))
    rare = posting.groupBy("_g").agg(F.count(F.lit(1)).alias("_df")).where(
        F.col("_df") <= max_df
    )
    p = posting.join(rare.select("_g"), "_g")
    shared = (
        p.alias("x")
        .join(p.alias("y"), "_g")
        .where(F.col("x._id") != F.col("y._id"))
        .groupBy(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    out = shared.join(
        sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_sz", "_sz_a"),
        "id_a",
    )
    cont = F.round(F.col("_shared").cast("double") / F.col("_sz_a"), 6)
    return out.select("id_a", "id_b", cont.alias("containment")).where(
        F.col("containment") >= threshold
    )


def _containment_prefix_candidates(sets_df: DataFrame, threshold: float) -> DataFrame:
    """The blocking tier of :func:`containment_blocked`, exposed so tests
    can price it: distinct (``_ida``, ``_idb``) candidate pairs from the
    asymmetric prefix-filter join over ``sets_df`` (``_id``, ``_grams``),
    with the exact length filter applied.  No false negatives for
    c(A→B) ≥ ``threshold`` — see the theorem in the caller's docstring."""
    from pyspark.sql import Window

    posting = sets_df.select(
        "_id", F.size("_grams").alias("_sz"), F.explode("_grams").alias("_g")
    )
    freq = posting.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_g").asc())
    prefix = (
        posting.join(freq, "_g")
        .withColumn("_rank", F.row_number().over(w))
        .where(
            F.col("_rank")
            <= F.col("_sz") - F.ceil(F.lit(threshold) * F.col("_sz")) + 1
        )
        .select(F.col("_id").alias("_ida"), "_g", F.col("_sz").alias("_sza_f"))
    )
    # length filter (also exact): |S(A)∩S(B)| ≥ ⌈t·|S(A)|⌉ forces
    # |S(B)| ≥ ⌈t·|S(A)|⌉ — prune short B before the distinct
    return (
        prefix.join(
            posting.select(F.col("_id").alias("_idb"), F.col("_sz").alias("_szb_f"), "_g"),
            "_g",
        )
        .where(
            (F.col("_ida") != F.col("_idb"))
            & (F.col("_szb_f") >= F.ceil(F.lit(threshold) * F.col("_sza_f")))
        )
        .select("_ida", "_idb")
        .distinct()
    )


def containment_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.75,
) -> DataFrame:
    """Two-tier directed containment — the composed scale-safe form of
    :func:`containment_pairs` that docs/SCALE.md prescribes (VERDICT r9
    item 6): an ASYMMETRIC prefix-filter blocker generates candidates,
    and the exact containment verify runs on blocked pairs only.

    Blocker (no false negatives): sort every doc's distinct n-gram
    shingles in one global order (document frequency asc, gram asc — the
    prefix_filter_jaccard_join order); if c(A→B) = |S(A)∩S(B)|/|S(A)| ≥ t
    then B shares at least one gram with A's first
    ``|S(A)| − ⌈t·|S(A)|⌉ + 1`` grams (remove the prefix and at most
    ⌈t·|S(A)|⌉ − 1 grams remain — too few to reach the intersection), so
    candidates come from A-PREFIX ⋈ B-FULL-POSTING on the gram key.
    Output therefore EQUALS brute-force exact containment — the oracle is
    the unblocked all-shared-gram form, which proves no-false-negatives
    at every SF.

    Scale shape: prefixes hold each doc's globally RAREST grams, so a
    boilerplate gram (huge df) almost never appears on the probe side and
    its posting list never fans out — the inverse of the raw
    containment_pairs df² blowup (8.1×/decade measured); per-gram join
    cost is df_prefix(g)·df(g) with df_prefix(g) collapsing as df(g)
    grows.  Verify is one candidate-distinct + array_intersect pass; the
    single integer division is the only float (bit-identical across
    engines, no cosmetic rounding).  ``threshold`` should be exactly
    binary-representable (0.75 default) so ⌈t·|S|⌉ is engine-portable.
    Emits both directions when both clear ``threshold``; a≠b always.

    The gram-set table is MATERIALIZED once (``materialize``) and every
    consumer (prefix build, document frequencies, probe postings, both
    verify sides) reads it back: the five branches of this plan would
    otherwise each re-run the tokenize→shingle→distinct pass over the full
    corpus (5 scans, measured — the §8 "decide on a proxy you computed
    once" shape).
    """
    sets_df = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(normalize_tokens(text_col), n)).alias("_grams"),
    ).where(F.size("_grams") > 0).transform(materialize)
    cand = _containment_prefix_candidates(sets_df, threshold)
    a_side = sets_df.select(
        F.col("_id").alias("_ida"),
        F.col("_grams").alias("_ga"),
        F.size("_grams").alias("_sza"),
    )
    b_side = sets_df.select(F.col("_id").alias("_idb"), F.col("_grams").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    cont = inter.cast("double") / F.col("_sza").cast("double")
    return (
        cand.join(a_side, "_ida")
        .join(b_side, "_idb")
        .where(cont >= F.lit(threshold))
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            cont.alias("containment"),
        )
    )


def dedup_candidate_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Candidate-generator quality harness — precision / recall / F1 of
    the portable MinHash banding against EXACT n-gram-Jaccard ground
    truth, the measurement the (num_hashes, bands) dials are tuned by:
    banding trades false positives (precision, wasted verify work)
    against false negatives (recall, duplicates that survive dedup).
    Closes the measurement loop on the dedup stack the way
    ``ann_recall_report`` did for ANN and ``retrieval_eval`` for hybrid
    retrieval.

    Truth is the brute verification tier: all pairs sharing ≥1 shingle,
    exact Jaccard ≥ ``threshold`` (shared-gram equi-join — never i×j
    all-pairs; at corpus scale run the eval on a SAMPLE, the standard
    harness contract documented for ann_recall_report).  Candidates come
    from :func:`minhash_lsh_pairs_portable` — fully SQL-replayable, so
    even precision/recall themselves hold a DuckDB oracle.  Returns ONE
    row: (n_truth, n_cand, n_hit, precision, recall, f1) — exact integer
    counts, one division each for p and r, f1 = 2·p·r/(p+r) evaluated in
    the same expression order on both engines.
    """
    sets_df = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(normalize_tokens(text_col), n)).alias("_grams"),
    ).where(F.size("_grams") > 0)
    sizes = sets_df.select("_id", F.size("_grams").alias("_sz"))
    posting = sets_df.select("_id", F.explode("_grams").alias("_g"))
    shared = (
        posting.alias("x")
        .join(posting.alias("y"), "_g")
        .where(F.col("x._id") < F.col("y._id"))
        .groupBy(F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    jac = F.col("_shared").cast("double") / (
        F.col("_sza") + F.col("_szb") - F.col("_shared")
    ).cast("double")
    truth = (
        shared.join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb")),
            "id_b",
        )
        .where(jac >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    # n flows through to the candidate generator so truth and candidates
    # are always scored over the SAME shingling (ADVICE r10: a hard-coded
    # 3-gram candidate side made n != 3 evals silently meaningless)
    cand = minhash_lsh_pairs_portable(df, text_col, id_col, num_hashes, bands, n)
    hits = truth.join(cand, ["id_a", "id_b"])
    row = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    p = F.when(
        F.col("n_cand") > 0,
        F.col("n_hit").cast("double") / F.col("n_cand").cast("double"),
    ).otherwise(F.lit(0.0))
    r = F.when(
        F.col("n_truth") > 0,
        F.col("n_hit").cast("double") / F.col("n_truth").cast("double"),
    ).otherwise(F.lit(0.0))
    out = row.select(
        "n_truth",
        "n_cand",
        "n_hit",
        p.alias("precision"),
        r.alias("recall"),
    )
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        F.lit(2.0)
        * F.col("precision")
        * F.col("recall")
        / (F.col("precision") + F.col("recall")),
    ).otherwise(F.lit(0.0))
    return out.withColumn("f1", f1)


def dedup_soft_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SOFT deduplication: instead of dropping duplicate documents, keep
    them all and emit a training weight of 1/cluster_size — the loss-
    reweighting alternative to hard dedup (total gradient mass per unique
    text is constant, so boilerplate stops dominating without discarding
    provenance or shuffling the mixture).

    Clusters are exact-text groups (compose with the near-dup component
    machinery for fuzzy clusters); representative = min id per cluster.
    One groupBy on the normalized text + one join back — the dedup_exact
    shuffle shape; weight's division is the only float.  Returns
    (id, cluster_id, cluster_size, weight).
    """
    norm = F.concat_ws(" ", normalize_tokens(text_col))
    clusters = df.groupBy(norm.alias("_key")).agg(
        F.min(id_col).alias("cluster_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        df.select(F.col(id_col), norm.alias("_key"))
        .join(clusters, "_key")
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
        )
    )


def bcubed_eval(
    df: DataFrame,
    id_col: str,
    pred_col: str,
    true_col: str,
) -> DataFrame:
    """B-cubed (B³) clustering quality — the per-ITEM precision/recall
    that the entity-resolution literature prefers over pair-counting
    (Bagga & Baldwin 1998; Amigó et al. 2009): for each item, precision
    is the fraction of its PREDICTED cluster sharing its gold cluster,
    recall the fraction of its GOLD cluster sharing its predicted one.
    Completes the dedup measurement loop one level above
    :func:`dedup_candidate_eval`: that harness scores candidate PAIRS,
    this one scores the final CLUSTERING the pipeline ships.

    The whole metric reduces to the contingency table — with
    n(p,t) = |predicted cluster p ∩ gold cluster t|,

        B³-precision = (1/N)·Σ_{p,t} n(p,t)²/n(p)
        B³-recall    = (1/N)·Σ_{p,t} n(p,t)²/n(t)

    so the plan is hash aggregates + two joins of per-cluster counts
    back onto the cells — NEVER an item×item pair join; it scales to any
    clustering whose contingency fits the cluster grain.  All counts are
    exact integers; the per-cell ratio terms are doubles folded in
    sorted (p, t) cell order (the srm_check fold idiom) so the sums are
    engine- and partitioning-independent.  The one-row collect is the
    documented eval-harness contract (cells ≤ N; sample at corpus
    scale, like ann_recall_report).  Items with a NULL assignment on
    either side are dropped.  Returns one row
    (n_items, n_pred_clusters, n_true_clusters, precision, recall, f1).
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(pred_col).cast("string").alias("_p"),
        F.col(true_col).cast("string").alias("_t"),
    ).where(F.col(pred_col).isNotNull() & F.col(true_col).isNotNull())
    # The contingency table feeds three consumers (cells + both marginals);
    # materialize it once so the id→cluster scan (and its hashing) is not
    # re-run per branch — cells are cluster-grain, far smaller than items.
    cells = (
        base.groupBy("_p", "_t")
        .agg(F.count(F.lit(1)).alias("_npt"))
        .transform(materialize)
    )
    psz = cells.groupBy("_p").agg(F.sum("_npt").alias("_np"))
    tsz = cells.groupBy("_t").agg(F.sum("_npt").alias("_nt"))
    j = cells.join(psz, "_p").join(tsz, "_t")
    npt = F.col("_npt").cast("double")
    terms = j.select(
        "_p",
        "_t",
        "_npt",
        (npt * npt / F.col("_np").cast("double")).alias("_tp"),
        (npt * npt / F.col("_nt").cast("double")).alias("_tr"),
    )
    # ONE sorted collect feeds BOTH precision and recall sums (the former
    # two collect_list+array_sort passes doubled the heaviest single-task
    # step), and the cluster counts come from the already-grouped marginal
    # tables instead of count_distinct — two distinct aggregates alongside
    # collect_list forced an Expand that tripled the agg input.  (_p,_t)
    # is unique per cell, so the sort order — and therefore every double
    # addition order — is exactly the one the oracle replays.
    sorted_fold = F.aggregate(
        F.array_sort(
            F.collect_list(
                F.struct("_p", "_t", F.col("_tp").alias("_vp"), F.col("_tr").alias("_vr"))
            )
        ),
        F.struct(F.lit(0.0).alias("sp"), F.lit(0.0).alias("sr")),
        lambda acc, s: F.struct(
            (acc.getField("sp") + s.getField("_vp")).alias("sp"),
            (acc.getField("sr") + s.getField("_vr")).alias("sr"),
        ),
    )
    # 1-row cluster-count attaches are the bounded-side broadcast idiom
    # (build side is a keyless aggregate — O(1) rows at any scale).
    kp = psz.agg(F.count(F.lit(1)).alias("_kp"))
    kt = tsz.agg(F.count(F.lit(1)).alias("_kt"))
    folded = (
        terms.agg(F.sum("_npt").alias("_n"), sorted_fold.alias("_s"))
        .crossJoin(F.broadcast(kp))
        .crossJoin(F.broadcast(kt))
        .select(
            "_n",
            "_kp",
            "_kt",
            F.col("_s.sp").alias("_sp"),
            F.col("_s.sr").alias("_sr"),
        )
    )
    nd = F.col("_n").cast("double")
    prec = F.when(F.col("_n") > 0, F.col("_sp") / nd)
    rec = F.when(F.col("_n") > 0, F.col("_sr") / nd)
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        F.lit(2.0) * prec * rec / (prec + rec),
    )
    return folded.select(
        F.col("_n").cast("long").alias("n_items"),
        F.col("_kp").cast("long").alias("n_pred_clusters"),
        F.col("_kt").cast("long").alias("n_true_clusters"),
        F.round(prec, 9).alias("precision"),
        F.round(rec, 9).alias("recall"),
        F.round(f1, 9).alias("f1"),
    )


def dedup_threshold_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds_pct: tuple[int, ...] = (50, 60, 70, 80, 90),
    n: int = 3,
) -> DataFrame:
    """Threshold-sweep tuning curve for near-dedup — before committing to
    a Jaccard cutoff, see what each candidate threshold would DO to the
    corpus: how many pairs qualify and how many documents get touched.
    One exact-similarity pass feeds every threshold (the sweep is a
    bounded broadcast grid join, never a re-scan per threshold).

    Pairs come from the shared-n-gram equi-join (the candidate_eval truth
    tier — never i×j all-pairs; sample at corpus scale, documented), and
    the threshold test is an INTEGER cross-multiplication
    100·|∩| ≥ t·|∪| — so every count on the curve is exact and
    engine-independent, no float Jaccard compared to 0.7.  Returns one
    row per threshold (threshold_pct, n_pairs, n_docs) with n_docs =
    distinct documents appearing in ≥1 qualifying pair.  Thresholds are
    integer percents in (0, 100].
    """
    ts = sorted(set(int(t) for t in thresholds_pct))
    if not ts or ts[0] <= 0 or ts[-1] > 100:
        raise ValueError(f"thresholds_pct must be integer percents in (0,100]: {ts}")
    sets_df = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingles(normalize_tokens(text_col), n)).alias("_grams"),
    ).where(F.size("_grams") > 0)
    sizes = sets_df.select("_id", F.size("_grams").alias("_sz"))
    posting = sets_df.select("_id", F.explode("_grams").alias("_g"))
    shared = (
        posting.alias("x")
        .join(posting.alias("y"), "_g")
        .where(F.col("x._id") < F.col("y._id"))
        .groupBy(F.col("x._id").alias("_ida"), F.col("y._id").alias("_idb"))
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    pairs = (
        shared.join(sizes.withColumnRenamed("_id", "_ida").withColumnRenamed("_sz", "_sza"), "_ida")
        .join(sizes.withColumnRenamed("_id", "_idb").withColumnRenamed("_sz", "_szb"), "_idb")
        .select(
            "_ida",
            "_idb",
            (F.col("_shared") * 100).alias("_s100"),
            (F.col("_sza") + F.col("_szb") - F.col("_shared")).alias("_union"),
        )
    )
    grid = df.sparkSession.createDataFrame([(t,) for t in ts], "threshold_pct int")
    qual = pairs.join(
        F.broadcast(grid),
        F.col("_s100") >= F.col("threshold_pct") * F.col("_union"),
    )
    per_t = qual.groupBy("threshold_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    # distinct docs need the pair ids unpivoted first (count_distinct over
    # an exploded array can't sit inside the same agg)
    docs = (
        qual.select("threshold_pct", F.explode(F.array("_ida", "_idb")).alias("_d"))
        .groupBy("threshold_pct")
        .agg(F.count_distinct("_d").alias("n_docs"))
    )
    out = (
        grid.join(per_t, "threshold_pct", "left")
        .join(docs, "threshold_pct", "left")
        .select(
            F.col("threshold_pct").cast("long").alias("threshold_pct"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )
    return out
