"""Text and corpus: tokens, language id, quality scores, vocabularies, language
models, chunking and packing (``operators/text_analysis``, ``operators/vocab``,
``operators/chunking``, ``operators/packing``, ``operators/decontamination``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import dedup as D
from area_etl_spark.operators import text_analysis as TA
from area_etl_spark.operators.text_analysis import CF_ODD_VALUES as _CF_ODD
from area_etl_spark.registry._common import _tables
from area_etl_spark.registry._sql import _langid_sql, ntoks, punctr, qscore, stopr, toks


def q_decontaminate_benchmark(spark, sf_dir):
    """LLM training hygiene: flag training docs sharing word 8-grams with a
    benchmark slice (doc_id % 61 == 0 plays the eval set — the modulus that
    intersects the generator's planted duplicate clusters at every sf).
    Inverted-index shingle join — shuffle O(shingles), benchmark side
    broadcast."""
    from area_etl_spark.operators.decontamination import decontaminate

    docs = _tables(spark, sf_dir)["documents"]
    train = docs.where(F.col("doc_id") % 61 != 0)
    bench = docs.where(F.col("doc_id") % 61 == 0)
    return decontaminate(train, bench, "text", "doc_id", n=8, min_fraction=0.2)
def o_decontaminate_benchmark() -> str:
    return """
            WITH d AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(0,
                               len(string_split_regex(trim(lower(text)), '\\s+')) - 7)),
                           i -> array_to_string(list_slice(
                               string_split_regex(trim(lower(text)), '\\s+'), i, i + 7), ' ')
                       )) AS sh
                FROM documents
            ),
            t AS (SELECT doc_id AS train_id, unnest(sh) AS shingle
                  FROM d WHERE doc_id % 61 <> 0),
            b AS (SELECT doc_id AS bench_id, unnest(sh) AS shingle
                  FROM d WHERE doc_id % 61 = 0),
            bt AS (SELECT bench_id, COUNT(*) AS bench_shingles FROM b GROUP BY bench_id),
            j AS (
                SELECT train_id, bench_id, COUNT(*) AS n_matches
                FROM t JOIN b USING (shingle)
                WHERE shingle <> ''
                GROUP BY train_id, bench_id
            )
            SELECT train_id, bench_id, n_matches, bench_shingles,
                   round(CAST(n_matches AS DOUBLE) / bench_shingles, 6) AS overlap_fraction
            FROM j JOIN bt USING (bench_id)
            WHERE round(CAST(n_matches AS DOUBLE) / bench_shingles, 6) >= 0.2
        """


def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (RAG / training prep): 40-token
    chunks every 30 tokens. Single narrow projection — tokenize, sequence
    of start offsets, posexplode, slice; zero shuffles."""
    from area_etl_spark.operators.chunking import chunk_documents

    docs = _tables(spark, sf_dir)["documents"]
    return chunk_documents(docs, "text", "doc_id", chunk_size=40, stride=30)
def o_chunk_documents() -> str:
    return """
            WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                       FROM documents),
            s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 30)) AS start FROM t)
            SELECT doc_id,
                   CAST(start // 30 AS BIGINT) AS chunk_id,
                   array_to_string(toks[start + 1 : start + 40], ' ') AS chunk_text,
                   CAST(least(40, len(toks) - start) AS BIGINT) AS n_tokens
            FROM s
        """


def q_bigram_lm_score(spark, sf_dir):
    """Self-trained token-bigram LM fluency score (the KenLM-perplexity slot
    of a CCNet-style quality funnel): avg ln p(w2|w1) per document, model
    trained on the same corpus as two hash aggregates, scored via equi-join
    — the LM lives in a DataFrame, nothing collected."""
    docs = _tables(spark, sf_dir)["documents"]
    return TA.bigram_lm_score(docs, "text", "doc_id")
def o_bigram_lm_score() -> str:
    return """
            WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                       FROM documents),
            p AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
                  FROM t, unnest(range(1, len(toks))) AS u(i)),
            m AS (SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY w1, w2),
            pre AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY w1),
            s AS (SELECT doc_id, COUNT(*) AS nb,
                         round(AVG(ln(c12::DOUBLE / c1)), 6) AS lp
                  FROM p JOIN m USING (w1, w2) JOIN pre USING (w1) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(s.nb, 0) AS BIGINT) AS n_bigrams,
                   s.lp AS avg_logprob
            FROM documents d LEFT JOIN s USING (doc_id)
        """


def q_corpus_report(spark, sf_dir):
    """Per-source corpus dashboard: doc count, total whitespace tokens,
    predicted-English share, mean quality score (operator:
    operators/text_analysis.py:corpus_report — one staged narrow projection
    + one hash aggregate)."""
    tables = _tables(spark, sf_dir)
    return TA.corpus_report(tables["documents"])
def o_corpus_report() -> str:
    return f"""
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM({ntoks}) AS BIGINT) AS total_tokens,
                   CAST(SUM(CASE WHEN {_langid_sql('text')} = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                   round(AVG({qscore}), 6) AS avg_quality
            FROM documents
            GROUP BY source
        """


def q_corpus_prep_pipeline(spark, sf_dir):
    """END-TO-END training-corpus preparation — the full LLM-data funnel in
    one declarative plan, fully SQL-oracled:

      language-ID filter ('en') → quality-score filter (>= 0.5) → exact
      dedup (keep lowest doc_id per md5 fingerprint) → fixed-budget sequence
      packing (shard-local running sums).

    Plan shape: one narrow scan computes lang + quality features (HOFs
    single-evaluated via the staged-projection idiom), the dedup group-by is
    the first shuffle (keyed on the fingerprint — shuffle O(|survivors|)),
    the packing window the second (keyed on shard).  Composes the same
    operators the individual queries exercise (text_language_id,
    text_quality_score, dedup_exact, pack_sequences).
    """
    from area_etl_spark.operators.packing import pack_sequences

    docs = _tables(spark, sf_dir)["documents"]
    feats = TA.quality_features("text")
    staged = docs.select(
        "doc_id",
        "text",
        TA.language_id("text").alias("lid"),
        feats["n_tokens"],
        feats["stopword_ratio"],
        feats["punct_ratio"],
    )
    scored = staged.select(
        "doc_id",
        "text",
        "lid",
        "n_tokens",
        TA.quality_score_from_features(
            F.col("n_tokens"), F.col("stopword_ratio"), F.col("punct_ratio")
        ).alias("q"),
    )
    kept = scored.where((F.col("lid") == "en") & (F.col("q") >= 0.5))
    survivors = (
        kept.groupBy(F.md5(F.col("text").cast("binary")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.min("n_tokens").alias("n_tokens"))
        .select("doc_id", "n_tokens")
    )
    return pack_sequences(survivors, "n_tokens", budget=2048, id_col="doc_id", num_shards=64)
def o_corpus_prep_pipeline() -> str:
    return f"""
            WITH staged AS (
                SELECT doc_id, text,
                       {_langid_sql('text')} AS lid,
                       {ntoks} AS n_tokens,
                       {qscore} AS q
                FROM documents
            ),
            kept AS (SELECT * FROM staged WHERE lid = 'en' AND q >= 0.5),
            survivors AS (
                SELECT MIN(doc_id) AS doc_id, CAST(MIN(n_tokens) AS BIGINT) AS n_tokens
                FROM kept GROUP BY md5(text)
            ),
            d AS (SELECT doc_id, n_tokens, CAST(doc_id % 64 AS INT) AS shard FROM survivors)
            SELECT doc_id, n_tokens, shard,
                   CAST(COALESCE(SUM(n_tokens) OVER w, 0) AS BIGINT) AS pack_offset,
                   CAST(floor(COALESCE(SUM(n_tokens) OVER w, 0) / 2048) AS BIGINT) AS pack_id
            FROM d
            WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        """


def q_readability(spark, sf_dir):
    """Flesch reading-ease per document from portable integer counts
    (letter runs / sentence punctuation runs / vowel-group syllables)."""
    from area_etl_spark.operators.text_analysis import (
        readability_features,
        readability_score,
    )

    d = _tables(spark, sf_dir)["documents"]
    f = readability_features("text")
    return d.select(
        "doc_id",
        f["n_words"].alias("n_words"),
        f["n_sentences"].alias("n_sentences"),
        f["n_syllables"].alias("n_syllables"),
        readability_score("text").alias("flesch"),
    )
def o_readability() -> str:
    return """
            WITH c AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS INT) AS n_words,
                       CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS INT) AS n_sentences,
                       CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS INT) AS n_syllables
                FROM documents
            )
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 THEN
                       ROUND(206.835
                             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
                             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
                   END AS flesch
            FROM c
        """


def q_keyness_top_terms(spark, sf_dir):
    """Chi-square keyness: the 10 most source-discriminative terms per
    source (over-represented only), exact contingency counts with the
    square in DECIMAL(38,0)."""
    from area_etl_spark.operators.text_analysis import keyness_terms

    return keyness_terms(_tables(spark, sf_dir)["documents"], k=10)
def o_keyness_top_terms() -> str:
    return """
            WITH tk AS (
                SELECT source, term FROM (
                    SELECT source,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), st AS (
                SELECT source, term, COUNT(*) AS a FROM tk GROUP BY 1, 2
            ), tt AS (
                SELECT term, CAST(SUM(a) AS BIGINT) AS n_term FROM st GROUP BY 1
            ), srct AS (
                SELECT source, CAST(SUM(a) AS BIGINT) AS n_src FROM st GROUP BY 1
            ), tot AS (
                SELECT CAST(SUM(a) AS BIGINT) AS n_total FROM st
            ), scored AS (
                SELECT st.source, st.term,
                       a * (n_total - n_term - n_src + a)
                       - (n_term - a) * (n_src - a) AS diff,
                       round(
                           CAST(CAST(n_total AS HUGEINT)
                                * CAST(a * (n_total - n_term - n_src + a)
                                       - (n_term - a) * (n_src - a) AS HUGEINT)
                                * CAST(a * (n_total - n_term - n_src + a)
                                       - (n_term - a) * (n_src - a) AS HUGEINT)
                                AS DOUBLE)
                           / CAST(CAST(n_term AS HUGEINT)
                                  * CAST(n_total - n_term AS HUGEINT)
                                  * CAST(n_src AS HUGEINT)
                                  * CAST(n_total - n_src AS HUGEINT) AS DOUBLE),
                           6) AS chi2
                FROM st JOIN tt USING (term) JOIN srct USING (source) CROSS JOIN tot
            ), ranked AS (
                SELECT source, term, chi2,
                       CAST(ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY chi2 DESC, term ASC) AS INT) AS rank
                FROM scored WHERE diff > 0
            )
            SELECT source, rank, term, chi2 FROM ranked WHERE rank <= 10
        """


KEYWORD_TAGS = [
    ("join", "relational"),
    ("sort", "relational"),
    ("hash", "relational"),
    ("scan", "io"),
    ("stream", "streaming"),
    ("window", "analytics"),
]


def q_keyword_tagging(spark, sf_dir):
    """Taxonomy tagging: each doc gets every tag whose keyword list
    intersects its token set — token explode ⋈ broadcast lexicon."""
    from area_etl_spark.operators.text_analysis import tag_by_keywords

    kw = spark.createDataFrame(KEYWORD_TAGS, "term string, tag string")
    return tag_by_keywords(_tables(spark, sf_dir)["documents"], kw)
def o_keyword_tagging() -> str:
    return """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                FROM documents
            ), kw(term, tag) AS (
                VALUES ('join', 'relational'), ('sort', 'relational'),
                       ('hash', 'relational'), ('scan', 'io'),
                       ('stream', 'streaming'), ('window', 'analytics')
            )
            SELECT DISTINCT t.doc_id, k.tag FROM toks t JOIN kw k USING (term)
        """


def q_vocab_build(spark, sf_dir):
    """Corpus vocabulary with dense 0-based ids by (count DESC, token ASC)
    — |vocab|-sized numbering via the range-shuffle dense_ids pass, never a
    single-partition row_number window."""
    from area_etl_spark.operators.vocab import build_vocab

    tables = _tables(spark, sf_dir)
    return build_vocab(tables["documents"], min_count=2)
def o_vocab_build() -> str:
    return """
            WITH counts AS (
                SELECT token, COUNT(*) AS n FROM (
                    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
                    FROM documents
                ) WHERE token != '' GROUP BY token
            )
            SELECT token, n, row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS token_id
            FROM counts WHERE n >= 2
        """


def q_vocab_encode(spark, sf_dir):
    """Documents rewritten as token-id sequences (the tokenizer-adjacent
    LLM-prep step): posexplode positions ride the vocab join so document
    order survives two hash shuffles; rare tokens encode as -1, tokenless
    docs as empty arrays.

    The id sequence is emitted CSV-serialized (``token_ids_csv``) rather
    than as ``array<long>``: the driver's pandas canonicalizer sorts rows
    over all columns and a list column is unhashable there (the one r7 err;
    same fix the r4 feature vectors use via array_join)."""
    from area_etl_spark.operators.vocab import build_vocab, encode_docs

    tables = _tables(spark, sf_dir)
    docs = tables["documents"]
    enc = encode_docs(docs, build_vocab(docs, min_count=2))
    return enc.select(
        "doc_id",
        "n_tokens",
        F.array_join(F.transform("token_ids", lambda x: x.cast("string")), ",").alias(
            "token_ids_csv"
        ),
    )
def o_vocab_encode() -> str:
    return """
            WITH tok AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ), counts AS (
                SELECT token, COUNT(*) AS n FROM (
                    SELECT unnest(toks) AS token FROM tok
                ) WHERE token != '' GROUP BY token
            ), vocab AS (
                SELECT token, row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS token_id
                FROM counts WHERE n >= 2
            ), pos_tok AS (
                SELECT t.doc_id, gs.i AS pos, t.toks[gs.i] AS token
                FROM tok t, LATERAL (SELECT unnest(generate_series(1, len(t.toks))) AS i) gs
                WHERE t.toks[gs.i] != ''
            ), enc AS (
                SELECT p.doc_id, p.pos, COALESCE(v.token_id, -1) AS tid
                FROM pos_tok p LEFT JOIN vocab v USING (token)
            ), seqs AS (
                SELECT doc_id, list(tid ORDER BY pos ASC) AS token_ids
                FROM enc GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(len(s.token_ids), 0) AS BIGINT) AS n_tokens,
                   array_to_string(
                       list_transform(COALESCE(s.token_ids, CAST([] AS BIGINT[])),
                                      t -> CAST(t AS VARCHAR)), ',') AS token_ids_csv
            FROM documents d LEFT JOIN seqs s USING (doc_id)
        """


def q_text_token_stats(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["documents"].select(
        F.col("doc_id"),
        F.length("text").cast("long").alias("n_chars"),
        TA.token_count("text").cast("long").alias("n_tokens"),
    )
def o_text_token_stats() -> str:
    return f"""
            SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                   CAST({ntoks} AS BIGINT) AS n_tokens
            FROM documents
        """


def q_text_quality_score(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    feats = TA.quality_features("text")
    staged = tables["documents"].select(
        F.col("doc_id"), feats["n_tokens"], feats["stopword_ratio"], feats["punct_ratio"]
    )
    # score derives from the feature COLUMNS — the tokenize/filter HOFs are
    # excluded from codegen CSE, so inlining the score recomputes them
    # (1.7× slower, measured); CollapseProject keeps this single-evaluated
    return staged.select(
        "doc_id",
        "n_tokens",
        "stopword_ratio",
        "punct_ratio",
        TA.quality_score_from_features(
            F.col("n_tokens"), F.col("stopword_ratio"), F.col("punct_ratio")
        ),
    )
def o_text_quality_score() -> str:
    return f"""
            SELECT doc_id, CAST({ntoks} AS BIGINT) AS n_tokens,
                   {stopr} AS stopword_ratio, {punctr} AS punct_ratio,
                   {qscore} AS quality_score
            FROM documents
        """


def q_text_language_id(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    staged = tables["documents"].select(
        F.col("doc_id"), F.col("lang"), TA.language_scores("text").alias("_scores")
    )
    return staged.select(
        "doc_id",
        "lang",
        TA.language_id_from_scores(F.col("_scores"), sorted(TA.LANG_STOPWORDS)),
    )
def o_text_language_id() -> str:
    return f"""
            SELECT doc_id, lang, {_langid_sql("text")} AS lang_pred FROM documents
        """


def q_text_fingerprint(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["documents"].select(F.col("doc_id"), TA.fingerprint("text"))
def o_text_fingerprint() -> str:
    return f"""
            SELECT doc_id, md5(array_to_string(list_sort(list_distinct({toks})), ' ')) AS fingerprint
            FROM documents
        """


def q_text_topk_terms(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    toks = D.normalize_tokens(F.col("text"))
    return (
        tables["documents"]
        .select(F.explode(toks).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(20)
    )
def o_text_topk_terms() -> str:
    return """
            SELECT term, COUNT(*) AS n
            FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                  FROM documents)
            WHERE term <> ''
            GROUP BY term ORDER BY n DESC, term LIMIT 20
        """


def q_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality gate (Rae et al. 2021): the seven
    published per-document rules as named booleans + overall pass — every
    threshold an INTEGER cross-multiplication, so no float ever
    materializes and the gate is bit-identical across engines by
    construction."""
    from area_etl_spark.operators.text_analysis import gopher_rules

    # anchor lexicon adapted to the synthetic corpus's function words (the
    # stopword rule is language-specific by design; the paper's English
    # anchors are the operator default)
    return gopher_rules(
        _tables(spark, sf_dir)["documents"],
        word_count_min=20,
        required_stopwords=("the", "a"),
        min_required=2,
    )
# Integer cross-multiplication thresholds — no float in the gate.
def o_gopher_rules() -> str:
    return """
            WITH base AS (
                SELECT doc_id,
                       COALESCE(text, '') AS c,
                       list_filter(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+'),
                                   t -> t <> '') AS toks,
                       list_filter(string_split(COALESCE(text, ''), chr(10)),
                                   ln -> trim(ln) <> '') AS lines
                FROM documents
            ), stats AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(toks, t -> CAST(len(t) AS BIGINT))),
                           (a, b) -> a + b) AS chars,
                       CAST(len(c) - len(replace(c, '#', '')) AS BIGINT) AS n_hash,
                       CAST((len(c) - len(replace(c, '...', ''))) / 3
                            + (len(c) - len(replace(c, '…', ''))) AS BIGINT) AS n_ell,
                       CAST(len(list_filter(lines, ln ->
                           starts_with(trim(ln), '•') OR starts_with(trim(ln), '-')
                           OR starts_with(trim(ln), '*'))) AS BIGINT) AS n_bullet,
                       CAST(len(list_filter(lines, ln ->
                           ends_with(trim(ln), '...') OR ends_with(trim(ln), '…')))
                           AS BIGINT) AS n_ell_lines,
                       CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
                           AS BIGINT) AS n_alpha,
                       CAST(len(list_intersect(list_distinct(toks),
                           ['the', 'a'])) AS BIGINT) AS n_stop
                FROM base
            ), ruled AS (
                SELECT doc_id, n_words, n_lines,
                       n_words >= 20 AND n_words <= 100000 AS rule_word_count,
                       chars >= 3 * n_words AND chars <= 10 * n_words AS rule_mean_word_len,
                       n_hash * 10 <= n_words AND n_ell * 10 <= n_words AS rule_symbol_ratio,
                       n_bullet * 10 <= 9 * n_lines AS rule_bullet_lines,
                       n_ell_lines * 10 <= 3 * n_lines AS rule_ellipsis_lines,
                       n_alpha * 10 >= 8 * n_words AS rule_alpha_words,
                       n_stop >= 2 AS rule_stopwords
                FROM stats
            )
            SELECT doc_id, n_words, n_lines,
                   rule_word_count, rule_mean_word_len, rule_symbol_ratio,
                   rule_bullet_lines, rule_ellipsis_lines, rule_alpha_words,
                   rule_stopwords,
                   rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
                   AND rule_bullet_lines AND rule_ellipsis_lines
                   AND rule_alpha_words AND rule_stopwords AS passes
            FROM ruled
        """


def q_regex_extract(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["part"].select(
        "p_partkey",
        F.regexp_extract(F.col("p_brand"), r"Brand#(\d+)", 1).try_cast("int").alias("brand_num"),
        F.regexp_extract(F.col("p_type"), r"^(\w+)", 1).alias("type_head"),
    )
def o_regex_extract() -> str:
    return """
            SELECT p_partkey,
                   CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INTEGER) AS brand_num,
                   regexp_extract(p_type, '^(\\w+)', 1) AS type_head
            FROM part
        """


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals (distinct-token ratio, top-term
    dominance) per document."""
    tables = _tables(spark, sf_dir)
    return TA.repetition_features(tables["documents"])
def o_text_repetition() -> str:
    return f"""
            WITH per AS (
                SELECT doc_id, term, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
                WHERE term <> ''
                GROUP BY doc_id, term
            )
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct,
                   round(COUNT(*) / CAST(SUM(tf) AS DOUBLE), 6) AS distinct_ratio,
                   round(MAX(tf) / CAST(SUM(tf) AS DOUBLE), 6) AS top_term_ratio
            FROM per GROUP BY doc_id
        """


def q_text_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per doc by TF·IDF (broadcast N, windowed
    top-k, ties on term)."""
    tables = _tables(spark, sf_dir)
    return TA.tfidf_top_terms(tables["documents"], k=3)
def o_text_tfidf_topk() -> str:
    return f"""
            WITH per AS (
                SELECT doc_id, term, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
                WHERE term <> ''
                GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, COUNT(*) AS df_t FROM per GROUP BY term
            ), nd AS (
                SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
            ), scored AS (
                SELECT per.doc_id, per.term,
                       round(per.tf * ln(nd.n_docs / CAST(df_t AS DOUBLE)), 6) AS tfidf
                FROM per JOIN dfreq USING (term) CROSS JOIN nd
            )
            SELECT doc_id, term, tfidf, CAST(rank AS INT) AS rank FROM (
                SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
                FROM scored
            ) WHERE rank <= 3
        """


def q_text_pii_redact(spark, sf_dir):
    """PII scrub pass over the corpus with synthetic PII injected per row so
    every pattern (email, phone, long-id) actually fires."""
    tables = _tables(spark, sf_dir)
    salted = tables["documents"].select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (555) 123-4567 ref 9876543210."),
        ).alias("text"),
    )
    return salted.select("doc_id", TA.pii_redact("text").alias("redacted"))
def o_text_pii_redact() -> str:
    return """
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1 (555) 123-4567 ref 9876543210.',
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                       '\\+?\\d{1,3}[-. (]{1,2}\\d{3}[-. )]{1,2}\\d{3}[-. ]?\\d{2,4}', '[PHONE]', 'g'),
                       '\\d{9,}', '[ID]', 'g') AS redacted
            FROM documents
        """


def q_pack_sequences(spark, sf_dir):
    """LLM sequence packing: documents → fixed-token-budget packs via
    shard-local contiguous running sums (one bounded window shuffle)."""
    from area_etl_spark.operators.packing import pack_sequences

    tables = _tables(spark, sf_dir)
    docs = tables["documents"].select(
        "doc_id", TA.token_count("text").cast("long").alias("n_tokens")
    )
    # shard count pinned ONLY so the DuckDB oracle can mirror it literally;
    # the operator's default auto-derives max(1024, input partitions) so the
    # per-shard window partition stays bounded at any corpus size
    return pack_sequences(docs, "n_tokens", budget=2048, id_col="doc_id", num_shards=64)
def o_pack_sequences() -> str:
    return f"""
            WITH d AS (
                SELECT doc_id, CAST({ntoks} AS BIGINT) AS n_tokens,
                       CAST(doc_id % 64 AS INT) AS shard
                FROM documents
            )
            SELECT doc_id, n_tokens, shard,
                   CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS pack_offset,
                   CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                              / 2048) AS BIGINT) AS pack_id
            FROM d
        """


def q_split_sentences(spark, sf_dir):
    """Sentence segmentation: documents given synthetic sentence
    punctuation (a period after every third word) split into one row per
    sentence with stable in-doc ids; empties dropped."""
    from area_etl_spark.operators.chunking import split_sentences

    d = _tables(spark, sf_dir)["documents"]
    punct = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")),
        r"([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ",
        r"$1. ",
    )
    return split_sentences(d.select("doc_id", punct.alias("text")), "text", "doc_id")
def o_split_sentences() -> str:
    return """
            WITH m AS (
                SELECT doc_id,
                       string_split(
                           regexp_replace(
                               regexp_replace(COALESCE(text, ''),
                                   '([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ',
                                   '\\1. ', 'g'),
                               '([.!?]+)\\s+', '\\1' || chr(10), 'g'),
                           chr(10)) AS sents
                FROM documents
            )
            SELECT doc_id,
                   CAST(i - 1 AS INT) AS sentence_id,
                   trim(sents[i]) AS sentence,
                   CAST(length(trim(sents[i])) AS INT) AS n_chars
            FROM m, unnest(range(1, len(sents) + 1)) AS u(i)
            WHERE trim(sents[i]) <> ''
        """


def q_vat_checksum_scan(spark, sf_dir):
    """Italian VAT-number (Partita IVA) checksum scan: 11-digit candidates
    synthesized from customer keys, partita_iva_valid's integer HOF fold
    deciding which satisfy the published check — the validation the
    reference's vat_number/owner_vat_number columns (ref src/core.py:346,
    502) never get; DuckDB replays the fold with the same list_reduce."""
    from area_etl_spark.operators.text_analysis import partita_iva_valid

    c = _tables(spark, sf_dir)["customer"]
    piva = F.concat(
        F.lpad((F.col("c_custkey") % 10_000_000_000).cast("string"), 10, "0"),
        (F.col("c_custkey") % 10).cast("string"),
    )
    return c.select(
        "c_custkey",
        piva.alias("vat_number"),
        partita_iva_valid(piva).alias("vat_ok"),
    )
def o_vat_checksum_scan() -> str:
    return """
            WITH d AS (
                SELECT c_custkey,
                       lpad(CAST(c_custkey % 10000000000 AS VARCHAR), 10, '0')
                       || CAST(c_custkey % 10 AS VARCHAR) AS vat_number
                FROM customer
            ), s AS (
                SELECT c_custkey, vat_number,
                       list_reduce(list_prepend(0,
                           list_transform(range(1, 11), i ->
                               CASE WHEN i % 2 = 0 THEN
                                   CASE WHEN 2 * CAST(substr(vat_number,
                                            CAST(i AS INT), 1) AS INT) > 9
                                        THEN 2 * CAST(substr(vat_number,
                                            CAST(i AS INT), 1) AS INT) - 9
                                        ELSE 2 * CAST(substr(vat_number,
                                            CAST(i AS INT), 1) AS INT) END
                               ELSE CAST(substr(vat_number,
                                        CAST(i AS INT), 1) AS INT) END)),
                           (a, b) -> a + b) AS total
                FROM d
            )
            SELECT c_custkey, vat_number,
                   CAST(substr(vat_number, 11, 1) AS INT)
                       = (10 - total % 10) % 10 AS vat_ok
            FROM s
        """


def q_iban_checksum_scan(spark, sf_dir):
    """IBAN mod-97 checksum scan (ISO 13616): Italian-shaped IBANs
    synthesized from customer keys (IT + claimed check digits + CIN/ABI/
    CAB + 12-digit account), iban_checksum_valid's single left-to-right
    remainder fold deciding validity — no big-integer arithmetic on
    either side; DuckDB replays the identical fold."""
    from area_etl_spark.operators.text_analysis import iban_checksum_valid

    c = _tables(spark, sf_dir)["customer"]
    iban = F.concat(
        F.lit("IT"),
        F.lpad((F.col("c_custkey") % 100).cast("string"), 2, "0"),
        F.lit("X0542811101"),
        F.lpad((F.col("c_custkey") % 1_000_000_000_000).cast("string"), 12, "0"),
    )
    return c.select(
        "c_custkey",
        iban.alias("iban"),
        iban_checksum_valid(iban).alias("iban_ok"),
    )
def o_iban_checksum_scan() -> str:
    return """
            WITH d AS (
                SELECT c_custkey,
                       'IT' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
                       || 'X0542811101'
                       || lpad(CAST(c_custkey % 1000000000000 AS VARCHAR), 12, '0')
                           AS iban
                FROM customer
            ), r AS (
                SELECT c_custkey, iban,
                       substr(iban, 5) || substr(iban, 1, 4) AS re
                FROM d
            ), s AS (
                SELECT c_custkey, iban,
                       list_reduce(list_prepend(0,
                           list_transform(range(1, length(re) + 1), i ->
                               ascii(substr(re, CAST(i AS INT), 1)))),
                           (acc, code) ->
                               CASE WHEN code BETWEEN 48 AND 57
                                    THEN (acc * 10 + code - 48) % 97
                                    ELSE (acc * 100 + code - 55) % 97 END)
                           AS rem
                FROM r
            )
            SELECT c_custkey, iban, rem = 1 AS iban_ok
            FROM s
        """


def q_iban_redaction(spark, sf_dir):
    """Checksum-validated IBAN redaction over synthetic payment lines:
    only the mod-97-valid tokens are replaced (precision rides on the
    checksum, ~1% random-shape pass rate), the rest of the text is left
    byte-identical.  DuckDB replays validity with the same remainder
    fold and replaces conditionally."""
    from area_etl_spark.operators.text_analysis import redact_ibans

    c = _tables(spark, sf_dir)["customer"]
    iban = F.concat(
        F.lit("IT"),
        F.lpad((F.col("c_custkey") % 100).cast("string"), 2, "0"),
        F.lit("X0542811101"),
        F.lpad((F.col("c_custkey") % 1_000_000_000_000).cast("string"), 12, "0"),
    )
    text = F.concat(F.lit("pay "), iban, F.lit(" by wire"))
    return c.select(
        "c_custkey",
        text.alias("raw"),
        redact_ibans(text).alias("redacted"),
    )
def o_iban_redaction() -> str:
    return """
            WITH d AS (
                SELECT c_custkey,
                       'IT' || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
                       || 'X0542811101'
                       || lpad(CAST(c_custkey % 1000000000000 AS VARCHAR), 12, '0')
                           AS iban
                FROM customer
            ), r AS (
                SELECT c_custkey, iban,
                       substr(iban, 5) || substr(iban, 1, 4) AS re
                FROM d
            ), s AS (
                SELECT c_custkey, iban,
                       list_reduce(list_prepend(0,
                           list_transform(range(1, length(re) + 1), i ->
                               ascii(substr(re, CAST(i AS INT), 1)))),
                           (acc, code) ->
                               CASE WHEN code BETWEEN 48 AND 57
                                    THEN (acc * 10 + code - 48) % 97
                                    ELSE (acc * 100 + code - 55) % 97 END)
                           AS rem
                FROM r
            )
            SELECT c_custkey,
                   'pay ' || iban || ' by wire' AS raw,
                   CASE WHEN rem = 1 THEN 'pay [IBAN] by wire'
                        ELSE 'pay ' || iban || ' by wire' END AS redacted
            FROM s
        """


# Shared literals for the codice fiscale oracle — generated from the SAME
# Python sources the Spark entry uses (CF_ODD_VALUES from the operator
# module; the alphabet/month strings), so the two engines cannot drift.
_CF_LETTERS_SQL = "[" + ", ".join(f"'{ch}'" for ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZ") + "]"
_CF_MONTHS_SQL = "[" + ", ".join(f"'{ch}'" for ch in "ABCDEHLMPRST") + "]"
_CF_ODD_SQL = "[" + ", ".join(str(v) for v in _CF_ODD) + "]"


def q_cf_checksum_scan(spark, sf_dir):
    """Italian codice fiscale checksum scan + redaction (the national-ID
    PII class of the reference's public-sector registries): CF-shaped
    16-char codes synthesized from customer keys — six base-26 letters,
    YY/month/day/town slots — with the TRUE check character (computed by
    the same mod-26 fold) on even keys and a shifted, never-valid one on
    odd keys; codice_fiscale_valid decides validity and
    redact_codici_fiscali replaces exactly the valid tokens.  DuckDB
    replays the fold with the same list_reduce over the same literal
    CF_ODD_VALUES table."""
    from area_etl_spark.operators.text_analysis import (
        codice_fiscale_check_index,
        codice_fiscale_valid,
        redact_codici_fiscali,
    )

    c = _tables(spark, sf_dir)["customer"]
    k = F.col("c_custkey")
    letters = F.array(*[F.lit(ch) for ch in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"])
    months = F.array(*[F.lit(ch) for ch in "ABCDEHLMPRST"])
    cf15 = F.concat(
        *[
            F.element_at(letters, (F.floor(k / F.lit(26**j)) % 26 + 1).cast("int"))
            for j in range(6)
        ],
        F.lpad((k % 100).cast("string"), 2, "0"),
        F.element_at(months, (k % 12 + 1).cast("int")),
        F.lpad((k % 28 + 1).cast("string"), 2, "0"),
        F.element_at(letters, (k % 26 + 1).cast("int")),
        F.lpad((k % 1000).cast("string"), 3, "0"),
    )
    # STAGED projections: cf15 → check index → cf each land in their own
    # select, so every downstream reference reads a bound column.  The
    # single-expression form inlined the ~30-node cf15 tree into each of
    # the check fold's 15 terms and then inlined THAT whole tree again
    # into the validity fold and the redactor — a multiplicative
    # expression blowup measured at 13.1 s for this scan; staged it is
    # 1.5 s with bit-identical values (guide §1.2 per-task work).
    s1 = c.select("c_custkey", cf15.alias("_cf15"))
    s2 = s1.select(
        "c_custkey", "_cf15",
        codice_fiscale_check_index(F.col("_cf15")).alias("_idx"),
    )
    claimed = F.when(
        F.col("c_custkey") % 2 == 0,
        F.element_at(letters, (F.col("_idx") + 1).cast("int")),
    ).otherwise(F.element_at(letters, ((F.col("_idx") + 7) % 26 + 1).cast("int")))
    s3 = s2.select("c_custkey", F.concat(F.col("_cf15"), claimed).alias("cf"))
    text = F.concat(F.lit("cf "), F.col("cf"), F.lit(" ok"))
    return s3.select(
        "c_custkey",
        "cf",
        codice_fiscale_valid(F.col("cf")).alias("cf_ok"),
        redact_codici_fiscali(text).alias("redacted"),
    )
def o_cf_checksum_scan() -> str:
    return f"""
            WITH d AS (
                SELECT c_custkey,
                       {" || ".join(
                           f"list_extract({_CF_LETTERS_SQL}, CAST((c_custkey // {26**j}) % 26 AS INT) + 1)"
                           for j in range(6)
                       )}
                       || lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
                       || list_extract({_CF_MONTHS_SQL}, CAST(c_custkey % 12 AS INT) + 1)
                       || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
                       || list_extract({_CF_LETTERS_SQL}, CAST(c_custkey % 26 AS INT) + 1)
                       || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') AS cf15
                FROM customer
            ), s AS (
                SELECT c_custkey, cf15,
                       list_reduce(list_prepend(0,
                           list_transform(range(1, 16), i ->
                               CASE WHEN i % 2 = 1 THEN
                                   list_extract({_CF_ODD_SQL},
                                       CASE WHEN substr(cf15, CAST(i AS INT), 1)
                                                 BETWEEN '0' AND '9'
                                            THEN ascii(substr(cf15, CAST(i AS INT), 1)) - 48
                                            ELSE ascii(substr(cf15, CAST(i AS INT), 1)) - 65
                                       END + 1)
                               ELSE
                                   CASE WHEN substr(cf15, CAST(i AS INT), 1)
                                             BETWEEN '0' AND '9'
                                        THEN ascii(substr(cf15, CAST(i AS INT), 1)) - 48
                                        ELSE ascii(substr(cf15, CAST(i AS INT), 1)) - 65
                                   END
                               END)),
                           (a, b) -> a + b) % 26 AS chk
                FROM d
            ), t AS (
                SELECT c_custkey,
                       cf15 || CASE WHEN c_custkey % 2 = 0
                                    THEN list_extract({_CF_LETTERS_SQL}, CAST(chk AS INT) + 1)
                                    ELSE list_extract({_CF_LETTERS_SQL}, CAST((chk + 7) % 26 AS INT) + 1)
                               END AS cf
                FROM s
            )
            SELECT c_custkey, cf,
                   c_custkey % 2 = 0 AS cf_ok,
                   CASE WHEN c_custkey % 2 = 0 THEN 'cf [CF] ok'
                        ELSE 'cf ' || cf || ' ok' END AS redacted
            FROM t
        """


def _sqlq(s: str) -> str:
    """Quote a Python string as a DuckDB single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


# Deterministic code snippets for q_code_detect — import-time fixtures so
# the Spark query and the DuckDB oracle synthesize byte-identical inputs
# (the mojibake-fixture recipe).
_CODE_SNIP_PY = "def main():\n    import os\n    return os.path;\n"
_CODE_SNIP_SQL = (
    "select o_orderkey from orders where o_status = 'F';\n"
    "update orders set o_status = 'P' where o_orderkey = 1;\n"
)


def q_code_detect(spark, sf_dir):
    """Code-vs-prose corpus routing: three deterministic document classes —
    a python snippet prefix (def/import/return + indents + symbols), a SQL
    snippet prefix (select/from/where/update), and the raw prose text —
    detect_code's symbol/indent/keyword densities must route the first two
    to is_code with the right lang_hint and leave prose alone.  All
    counting is HOF token/line filters + the length-difference symbol
    trick, so DuckDB replays every feature over the same synthesized
    text."""
    from area_etl_spark.operators.text_analysis import detect_code

    d = _tables(spark, sf_dir)["documents"]
    txt = F.coalesce(F.col("text"), F.lit(""))
    cls = F.col("doc_id") % 3
    staged = (
        F.when(cls == 0, F.concat(F.lit(_CODE_SNIP_PY), txt))
        .when(cls == 1, F.concat(F.lit(_CODE_SNIP_SQL), txt))
        .otherwise(txt)
    )
    return detect_code(
        d.select("doc_id", staged.alias("text")), "text", "doc_id"
    )
def o_code_detect() -> str:
    return f"""
            WITH d AS (
                SELECT doc_id,
                       CASE doc_id % 3
                           WHEN 0 THEN {_sqlq(_CODE_SNIP_PY)} || COALESCE(text, '')
                           WHEN 1 THEN {_sqlq(_CODE_SNIP_SQL)} || COALESCE(text, '')
                           ELSE COALESCE(text, '') END AS t
                FROM documents
            ), f AS (
                SELECT doc_id, t,
                       len(string_split(t, chr(10))) AS n_lines,
                       len(list_filter(string_split(t, chr(10)), l ->
                           starts_with(l, '    ') OR starts_with(l, chr(9))))
                           AS indent_lines,
                       length(t) - length(regexp_replace(t, '[{{}};=]', '', 'g'))
                           AS sym_hits,
                       string_split_regex(trim(lower(t)), '\\s+') AS toks,
                       greatest(length(t), 1) AS nc
                FROM d
            ), k AS (
                SELECT doc_id, n_lines, indent_lines, sym_hits, nc,
                       {", ".join(
                           "len(list_filter(toks, x -> list_contains(["
                           + ", ".join(_sqlq(w) for w in TA.CODE_KEYWORDS[lang])
                           + f"], x))) AS kw_{key}"
                           for lang, key in (
                               ("python", "python"), ("js", "js"),
                               ("c", "c"), ("sql", "sql"),
                           )
                       )}
                FROM f
            )
            SELECT doc_id, n_lines, indent_lines, sym_hits,
                   kw_python, kw_js, kw_c, kw_sql,
                   round((5 * sym_hits
                          + 10 * (kw_python + kw_js + kw_c + kw_sql)
                          + 8 * indent_lines) * 100.0 / nc, 6) AS code_density,
                   (round((5 * sym_hits
                           + 10 * (kw_python + kw_js + kw_c + kw_sql)
                           + 8 * indent_lines) * 100.0 / nc, 6) >= 10
                    AND sym_hits + kw_python + kw_js + kw_c + kw_sql
                        + indent_lines >= 3) AS is_code,
                   CASE WHEN kw_python >= kw_js AND kw_python >= kw_c
                             AND kw_python >= kw_sql AND kw_python > 0
                        THEN 'python'
                        WHEN kw_sql >= kw_js AND kw_sql >= kw_c AND kw_sql > 0
                        THEN 'sql'
                        WHEN kw_js >= kw_c AND kw_js > 0 THEN 'js'
                        WHEN kw_c > 0 THEN 'c'
                        ELSE 'none' END AS lang_hint
            FROM k
        """


def q_collocations(spark, sf_dir):
    """Top-50 collocations by lift over the document corpus — exact
    integer counts, DECIMAL(38,0) numerator, single rounded division;
    log-free on purpose (PMI's log orders identically but differs in
    engine ulps)."""
    from area_etl_spark.operators.text_analysis import collocations_by_lift

    return collocations_by_lift(_tables(spark, sf_dir)["documents"])
def o_collocations() -> str:
    return """
            WITH t AS (
                SELECT string_split_regex(trim(lower(COALESCE(text, ''))),
                                          '\\s+') AS toks
                FROM documents
            ), uni AS (
                SELECT w, COUNT(*) AS c FROM (
                    SELECT unnest(toks) AS w FROM t
                ) WHERE w <> '' GROUP BY w
            ), tot AS (
                SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
            ), pairs AS (
                SELECT w1, w2, COUNT(*) AS n_pair FROM (
                    SELECT toks[i] AS w1, toks[i + 1] AS w2
                    FROM t, unnest(range(1, len(toks))) AS u(i)
                ) WHERE w1 <> '' AND w2 <> ''
                GROUP BY w1, w2 HAVING COUNT(*) >= 5
            )
            SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
                   round(CAST(CAST(n_pair AS DECIMAL(38,0))
                              * CAST(n AS DECIMAL(38,0)) AS DOUBLE)
                         / (CAST(c1.c AS DOUBLE) * c2.c), 6) + 0.0 AS lift
            FROM pairs
            JOIN uni c1 ON c1.w = pairs.w1
            JOIN uni c2 ON c2.w = pairs.w2
            CROSS JOIN tot
            ORDER BY lift DESC, n_pair DESC, w1, w2
            LIMIT 50
        """


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training on the documents corpus: the 6 most frequent
    adjacent symbol pairs, each merge applied before the next is counted
    (Sennrich-style).  All rounds run on the cached word HISTOGRAM — the
    corpus is exploded exactly once; the oracle unrolls the same 6 rounds
    as chained CTEs with identical argmax tie-breaks and left-to-right
    non-overlapping replace semantics."""
    from area_etl_spark.operators.vocab import train_bpe_merges

    return train_bpe_merges(
        _tables(spark, sf_dir)["documents"], num_merges=6
    ).select("rank", F.col("left").alias("lft"), F.col("right").alias("rgt"), "pair_count")
def o_bpe_merges() -> str:
    return """
            WITH w0 AS MATERIALIZED (
                SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                      FROM documents)
                WHERE regexp_matches(w, '^[a-z0-9]+$')
                GROUP BY w
            ),
            p0 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w0),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m0 AS MATERIALIZED (
                SELECT l, r, cnt FROM p0 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w1 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m0) || ' ' || (SELECT r FROM m0) || ' ',
                        ' ' || (SELECT l FROM m0) || (SELECT r FROM m0) || ' ')) AS sym, n
                FROM w0
            ),
            p1 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w1),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m1 AS MATERIALIZED (
                SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w2 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m1) || ' ' || (SELECT r FROM m1) || ' ',
                        ' ' || (SELECT l FROM m1) || (SELECT r FROM m1) || ' ')) AS sym, n
                FROM w1
            ),
            p2 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w2),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m2 AS MATERIALIZED (
                SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w3 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m2) || ' ' || (SELECT r FROM m2) || ' ',
                        ' ' || (SELECT l FROM m2) || (SELECT r FROM m2) || ' ')) AS sym, n
                FROM w2
            ),
            p3 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w3),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m3 AS MATERIALIZED (
                SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w4 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m3) || ' ' || (SELECT r FROM m3) || ' ',
                        ' ' || (SELECT l FROM m3) || (SELECT r FROM m3) || ' ')) AS sym, n
                FROM w3
            ),
            p4 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w4),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m4 AS MATERIALIZED (
                SELECT l, r, cnt FROM p4 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w5 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m4) || ' ' || (SELECT r FROM m4) || ' ',
                        ' ' || (SELECT l FROM m4) || (SELECT r FROM m4) || ' ')) AS sym, n
                FROM w4
            ),
            p5 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w5),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m5 AS MATERIALIZED (
                SELECT l, r, cnt FROM p5 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w6 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m5) || ' ' || (SELECT r FROM m5) || ' ',
                        ' ' || (SELECT l FROM m5) || (SELECT r FROM m5) || ' ')) AS sym, n
                FROM w5
            )
            SELECT * FROM (
                SELECT CAST(0 AS BIGINT) AS rank, l AS lft, r AS rgt, cnt AS pair_count FROM m0
                UNION ALL SELECT CAST(1 AS BIGINT) AS rank, l AS lft, r AS rgt, cnt AS pair_count FROM m1
                UNION ALL SELECT CAST(2 AS BIGINT) AS rank, l AS lft, r AS rgt, cnt AS pair_count FROM m2
                UNION ALL SELECT CAST(3 AS BIGINT) AS rank, l AS lft, r AS rgt, cnt AS pair_count FROM m3
                UNION ALL SELECT CAST(4 AS BIGINT) AS rank, l AS lft, r AS rgt, cnt AS pair_count FROM m4
                UNION ALL SELECT CAST(5 AS BIGINT) AS rank, l AS lft, r AS rgt, cnt AS pair_count FROM m5
            ) ORDER BY rank
        """


def q_bpe_segment(spark, sf_dir):
    """Documents re-tokenized with the 6 learned BPE merges: per-doc BPE
    token count.  Training collects 6 bounded argmax rows; application is
    a pure narrow replace chain — no extra shuffle."""
    from area_etl_spark.operators.vocab import bpe_segment, train_bpe_merges

    docs = _tables(spark, sf_dir)["documents"]
    merges = [
        (r.left, r.right)
        for r in train_bpe_merges(docs, num_merges=6).collect()
    ]
    return bpe_segment(docs, merges)
def o_bpe_segment() -> str:
    return """
            WITH w0 AS MATERIALIZED (
                SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sym,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                      FROM documents)
                WHERE regexp_matches(w, '^[a-z0-9]+$')
                GROUP BY w
            ),
            p0 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w0),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m0 AS MATERIALIZED (
                SELECT l, r, cnt FROM p0 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w1 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m0) || ' ' || (SELECT r FROM m0) || ' ',
                        ' ' || (SELECT l FROM m0) || (SELECT r FROM m0) || ' ')) AS sym, n
                FROM w0
            ),
            p1 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w1),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m1 AS MATERIALIZED (
                SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w2 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m1) || ' ' || (SELECT r FROM m1) || ' ',
                        ' ' || (SELECT l FROM m1) || (SELECT r FROM m1) || ' ')) AS sym, n
                FROM w1
            ),
            p2 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w2),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m2 AS MATERIALIZED (
                SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w3 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m2) || ' ' || (SELECT r FROM m2) || ' ',
                        ' ' || (SELECT l FROM m2) || (SELECT r FROM m2) || ' ')) AS sym, n
                FROM w2
            ),
            p3 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w3),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m3 AS MATERIALIZED (
                SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w4 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m3) || ' ' || (SELECT r FROM m3) || ' ',
                        ' ' || (SELECT l FROM m3) || (SELECT r FROM m3) || ' ')) AS sym, n
                FROM w3
            ),
            p4 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w4),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m4 AS MATERIALIZED (
                SELECT l, r, cnt FROM p4 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w5 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m4) || ' ' || (SELECT r FROM m4) || ' ',
                        ' ' || (SELECT l FROM m4) || (SELECT r FROM m4) || ' ')) AS sym, n
                FROM w4
            ),
            p5 AS MATERIALIZED (
                SELECT s[i] AS l, s[i+1] AS r, CAST(SUM(n) AS BIGINT) AS cnt
                FROM (SELECT string_split(sym, ' ') AS s, n FROM w5),
                     LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i)
                GROUP BY 1, 2
            ), m5 AS MATERIALIZED (
                SELECT l, r, cnt FROM p5 ORDER BY cnt DESC, l, r LIMIT 1
            ),
            w6 AS MATERIALIZED (
                SELECT trim(replace(' ' || sym || ' ',
                        ' ' || (SELECT l FROM m5) || ' ' || (SELECT r FROM m5) || ' ',
                        ' ' || (SELECT l FROM m5) || (SELECT r FROM m5) || ' ')) AS sym, n
                FROM w5
            ),
            toks AS MATERIALIZED (
                SELECT doc_id, w FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
                    FROM documents)
                WHERE regexp_matches(w, '^[a-z0-9]+$')
            )
            SELECT doc_id,
                   CAST(SUM(len(string_split(trim(replace(replace(replace(replace(replace(replace(' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ', ' ' || (SELECT l FROM m0) || ' ' || (SELECT r FROM m0) || ' ', ' ' || (SELECT l FROM m0) || (SELECT r FROM m0) || ' '), ' ' || (SELECT l FROM m1) || ' ' || (SELECT r FROM m1) || ' ', ' ' || (SELECT l FROM m1) || (SELECT r FROM m1) || ' '), ' ' || (SELECT l FROM m2) || ' ' || (SELECT r FROM m2) || ' ', ' ' || (SELECT l FROM m2) || (SELECT r FROM m2) || ' '), ' ' || (SELECT l FROM m3) || ' ' || (SELECT r FROM m3) || ' ', ' ' || (SELECT l FROM m3) || (SELECT r FROM m3) || ' '), ' ' || (SELECT l FROM m4) || ' ' || (SELECT r FROM m4) || ' ', ' ' || (SELECT l FROM m4) || (SELECT r FROM m4) || ' '), ' ' || (SELECT l FROM m5) || ' ' || (SELECT r FROM m5) || ' ', ' ' || (SELECT l FROM m5) || (SELECT r FROM m5) || ' ')), ' '))) AS BIGINT)
                       AS n_bpe_tokens
            FROM toks GROUP BY doc_id
        """


def q_compression_ratio(spark, sf_dir):
    """zlib compression ratio per document (mapInPandas, Arrow-batched
    stdlib zlib — the one text signal that genuinely needs Python).
    Rows-only driver check BY DESIGN: zlib output is deterministic per
    build but not contractually identical across zlib versions, so the
    value oracle is the pytest on known strings, not cross-engine SQL."""
    from area_etl_spark.operators.text_analysis import compression_ratio

    return compression_ratio(_tables(spark, sf_dir)["documents"])


def q_good_turing(spark, sf_dir):
    """Good–Turing unseen-token mass + Chao1 total-vocabulary estimate from
    the corpus vocabulary — the 'how much new vocabulary will the next
    shard add' corpus-planning numbers."""
    from area_etl_spark.operators.vocab import build_vocab, good_turing_report

    docs = _tables(spark, sf_dir)["documents"]
    return good_turing_report(build_vocab(docs, min_count=1))
def o_good_turing() -> str:
    return """
            WITH counts AS (
                SELECT token, COUNT(*) AS n FROM (
                    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
                    FROM documents
                ) WHERE token != '' GROUP BY token
            ), s AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS v_obs,
                       CAST(SUM(CAST(n AS HUGEINT)) AS HUGEINT) AS nt,
                       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS f1,
                       CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS HUGEINT) AS f2
                FROM counts
            )
            SELECT v_obs, CAST(nt AS BIGINT) AS n_tokens,
                   CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
                   round(CASE WHEN nt > 0 THEN
                       CAST(f1 AS DOUBLE) / CAST(nt AS DOUBLE) END, 9) AS p0_unseen,
                   round(CASE WHEN f2 > 0 THEN
                       CAST(v_obs AS DOUBLE)
                       + CAST(f1 * f1 AS DOUBLE) / (2.0 * CAST(f2 AS DOUBLE))
                   END, 6) AS chao1_vocab
            FROM s
        """


def q_zipf_fit(spark, sf_dir):
    """Zipf's-law OLS over the corpus vocabulary (ln freq on ln rank):
    ln values quantized to 1e-6 fixed point so the five sufficient
    statistics sum exactly as DECIMAL(38,0) — the corr_exact discipline —
    and slope/intercept/R² evaluate once in doubles."""
    from area_etl_spark.operators.vocab import build_vocab, zipf_fit

    docs = _tables(spark, sf_dir)["documents"]
    return zipf_fit(build_vocab(docs, min_count=1))
def o_zipf_fit() -> str:
    return """
            WITH counts AS (
                SELECT token, COUNT(*) AS n FROM (
                    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
                    FROM documents
                ) WHERE token != '' GROUP BY token
            ), vocab AS (
                SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS token_id
                FROM counts
            ), q AS (
                SELECT CAST(round(ln(CAST(token_id + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS x,
                       CAST(round(ln(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS y
                FROM vocab
            ), s AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
                       SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                       SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
                FROM q
            )
            SELECT CAST(n AS BIGINT) AS n_terms,
                   round(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
                   round((CAST(sy AS DOUBLE) / 1000000.0
                          - (CAST(n * sxy - sx * sy AS DOUBLE)
                             / CAST(n * sxx - sx * sx AS DOUBLE))
                            * (CAST(sx AS DOUBLE) / 1000000.0))
                         / CAST(n AS DOUBLE), 6) AS intercept,
                   round(CAST(n * sxy - sx * sy AS DOUBLE)
                         * CAST(n * sxy - sx * sy AS DOUBLE)
                         / (CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
            FROM s
        """


def q_luhn_card_scan(spark, sf_dir):
    """Luhn-validated card redaction (VERDICT r10 item 7): card-shaped
    16-digit strings synthesized from order keys, the mod-10 HOF fold
    deciding which are checksum-valid, and redact_card_numbers replacing
    exactly those — DuckDB replays the fold with the same list_reduce, so
    validity AND the redacted text are value-checked."""
    from area_etl_spark.operators.text_analysis import (
        luhn_checksum_valid,
        redact_card_numbers,
    )

    o = _tables(spark, sf_dir)["orders"]
    digits = F.lpad(F.col("o_orderkey").cast("string"), 16, "0")
    # stage the synthesized card string so the Luhn fold and the redactor
    # reference a bound column, not the lpad expression (the cf-scan
    # staging lesson)
    staged = o.select("o_orderkey", digits.alias("card_digits"))
    text = F.concat(F.lit("ref "), F.col("card_digits"), F.lit(" ok"))
    return staged.select(
        "o_orderkey",
        "card_digits",
        luhn_checksum_valid(F.col("card_digits")).alias("luhn_ok"),
        redact_card_numbers(text).alias("redacted"),
    )
def o_luhn_card_scan() -> str:
    return """
            WITH d AS (
                SELECT o_orderkey,
                       lpad(CAST(o_orderkey AS VARCHAR), 16, '0') AS num
                FROM orders
            ), s AS (
                SELECT o_orderkey, num,
                       list_reduce(list_transform(range(1, 17), i ->
                           CASE WHEN (16 - i) % 2 = 1
                                THEN CASE WHEN 2 * CAST(substr(num, i, 1) AS INT) > 9
                                          THEN 2 * CAST(substr(num, i, 1) AS INT) - 9
                                          ELSE 2 * CAST(substr(num, i, 1) AS INT) END
                                ELSE CAST(substr(num, i, 1) AS INT) END),
                           (a, b) -> a + b) % 10 = 0 AS ok
                FROM d
            )
            SELECT o_orderkey, num AS card_digits, ok AS luhn_ok,
                   CASE WHEN ok THEN 'ref [CARD] ok'
                        ELSE 'ref ' || num || ' ok' END AS redacted
            FROM s
        """


def q_tfidf_cosine(spark, sf_dir):
    """Sparse TF-IDF cosine pairs on documents — integer micro-unit idf
    weights make norms and dot products exact DECIMAL ints; one sqrt/
    division per emitted pair; default-ON max_df hot-term guard."""
    from area_etl_spark.operators.text_analysis import tfidf_cosine_pairs

    return tfidf_cosine_pairs(_tables(spark, sf_dir)["documents"], threshold=0.5)
def o_tfidf_cosine() -> str:
    return """
            WITH toks AS (
                SELECT doc_id AS id,
                       unnest(string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+')) AS t
                FROM documents
            ), tf AS (
                SELECT id, t, COUNT(*) AS tf FROM toks WHERE t <> '' GROUP BY 1, 2
            ), nd AS (
                SELECT COUNT(DISTINCT doc_id) AS N FROM documents
            ), dfq AS (
                SELECT t, COUNT(*) AS df FROM tf GROUP BY t HAVING COUNT(*) <= 64
            ), posting AS (
                SELECT id, tf.t,
                       CAST(tf * CAST(round(ln(CAST(N AS DOUBLE) / df) * 1000000.0) AS BIGINT) AS HUGEINT) AS w
                FROM tf JOIN dfq USING (t) CROSS JOIN nd
            ), norms AS (
                SELECT id, SUM(w * w) AS norm2 FROM posting GROUP BY id
            ), dots AS (
                SELECT x.id AS id_a, y.id AS id_b, SUM(x.w * y.w) AS dot
                FROM posting x JOIN posting y ON x.t = y.t AND x.id < y.id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cosine
            FROM dots
            JOIN norms na ON na.id = dots.id_a
            JOIN norms nb ON nb.id = dots.id_b
            WHERE round(CAST(dot AS DOUBLE)
                        / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) >= 0.5
        """


def q_rake_keyphrases(spark, sf_dir):
    """RAKE top-3 keyphrases per document — gaps-and-islands phrase
    candidates, exact integer (degree, freq) word stats broadcast back,
    word-position-ordered score fold, total-order top-k."""
    from area_etl_spark.operators.text_analysis import rake_keyphrases

    return rake_keyphrases(_tables(spark, sf_dir)["documents"], topk=3)
def o_rake_keyphrases() -> str:
    return f"""
            WITH tk AS (
                SELECT doc_id AS id,
                       string_split_regex(trim(lower(COALESCE(text, ''))), '\\s+') AS a
                FROM documents
            ), toks AS (
                SELECT id, i - 1 AS pos, a[i] AS tok
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(a))) AS i)
                WHERE a[i] <> ''
            ), nonstop AS (
                SELECT id, pos, tok FROM toks
                WHERE tok NOT IN ({", ".join(repr(s) for s in sorted(TA.LANG_STOPWORDS["en"]))})
            ), isl AS (
                SELECT id, pos, tok,
                       pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS g
                FROM nonstop
            ), ph AS (
                SELECT id, g,
                       list_slice(list(tok ORDER BY pos), 1, 4) AS words
                FROM isl GROUP BY id, g
            ), ph2 AS (
                SELECT id, g, words, len(words) AS n_words FROM ph
            ), wstats AS (
                SELECT w, CAST(SUM(n_words) AS BIGINT) AS degree, COUNT(*) AS freq
                FROM (SELECT n_words, unnest(words) AS w FROM ph2)
                GROUP BY w
            ), expl AS (
                SELECT id, g, n_words, words, i AS wp, words[i] AS w
                FROM ph2, LATERAL (SELECT unnest(generate_series(1, len(words))) AS i)
            ), scored AS (
                SELECT expl.id, expl.g,
                       MAX(expl.n_words) AS n_words,
                       array_to_string(MAX(expl.words), ' ') AS phrase,
                       round(list_reduce(
                           list_prepend(0.0::DOUBLE,
                               list(CAST(degree AS DOUBLE) / freq ORDER BY wp)),
                           (acc, x) -> acc + x), 6) AS score
                FROM expl JOIN wstats ON wstats.w = expl.w
                GROUP BY expl.id, expl.g
            ), ranked AS (
                SELECT id AS doc_id, phrase, CAST(n_words AS INT) AS n_words, score,
                       CAST(row_number() OVER (PARTITION BY id
                           ORDER BY score DESC, phrase ASC, g ASC) AS INT) AS rank
                FROM scored
            )
            SELECT doc_id, phrase, n_words, score, rank FROM ranked WHERE rank <= 3
        """


def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over the documents corpus in id
    order — V at each checkpoint via the first-owner trick (no per-prefix
    distinct scan), the ln-ln OLS on one ordered cumulative window."""
    from area_etl_spark.operators.text_analysis import heaps_law

    return heaps_law(_tables(spark, sf_dir)["documents"])
def o_heaps_law() -> str:
    return """
            WITH tk AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), pdt AS (
                SELECT doc_id, COUNT(*) AS ntok FROM tk GROUP BY 1
            ), fo AS (
                SELECT term, MIN(doc_id) AS first FROM tk GROUP BY 1
            ), np AS (
                SELECT first AS doc_id, COUNT(*) AS nnew FROM fo GROUP BY 1
            ), st AS (
                SELECT p.doc_id, ntok, COALESCE(nnew, 0) AS nnew
                FROM pdt p LEFT JOIN np USING (doc_id)
            ), cum AS (
                SELECT doc_id,
                       SUM(ntok) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
                       SUM(nnew) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv,
                       COUNT(*) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d,
                       MAX(doc_id) OVER () AS idmax
                FROM st
            ), f AS (
                SELECT doc_id, idmax, d,
                       ln(CAST(nn AS DOUBLE)) AS x, ln(CAST(vv AS DOUBLE)) AS y
                FROM cum WHERE vv > 0
            ), s AS (
                SELECT doc_id, idmax, d,
                       SUM(x) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sx,
                       SUM(y) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sy,
                       SUM(x * x) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sxx,
                       SUM(x * y) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sxy,
                       CAST(COUNT(*) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS DOUBLE) AS m
                FROM f
            )
            SELECT CAST(d AS BIGINT) AS n_docs,
                   round(CASE WHEN m * sxx - sx * sx <> 0
                         THEN (m * sxy - sx * sy) / (m * sxx - sx * sx) END, 6)
                       AS beta,
                   round(CASE WHEN m * sxx - sx * sx <> 0
                         THEN exp((sy * sxx - sx * sxy) / (m * sxx - sx * sx)) END, 6)
                       AS k_est
            FROM s WHERE doc_id = idmax
        """


def q_novelty_score(spark, sf_dir):
    """Per-document 8-gram novelty over the corpus in id order — the
    corpus-increment triage scalar (a slice whose novelty collapses is
    re-crawling what the corpus holds): first-owner MIN per shingle, one
    join back, exact counts."""
    from area_etl_spark.operators.text_analysis import novelty_score

    return novelty_score(_tables(spark, sf_dir)["documents"], n=8)
def o_novelty_score() -> str:
    return """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ), g AS (
                SELECT DISTINCT doc_id,
                       md5(array_to_string(toks[i : i + 7], ' ')) AS gk
                FROM t, unnest(range(1, len(toks) - 6)) AS u(i)
            ), fo AS (
                SELECT gk, MIN(doc_id) AS first FROM g GROUP BY 1
            ), pd AS (
                SELECT doc_id, COUNT(*) AS n_shingles,
                       SUM(CASE WHEN doc_id = first THEN 1 ELSE 0 END) AS n_novel
                FROM g JOIN fo USING (gk) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_shingles, 0) AS BIGINT) AS n_shingles,
                   CAST(COALESCE(pd.n_novel, 0) AS BIGINT) AS n_novel,
                   round(CASE WHEN pd.n_shingles > 0
                         THEN CAST(pd.n_novel AS DOUBLE)
                              / CAST(pd.n_shingles AS DOUBLE) END, 6) AS novelty
            FROM documents d LEFT JOIN pd USING (doc_id)
        """


def q_term_burstiness(spark, sf_dir):
    """Church–Gale term burstiness: variance-to-mean of per-document term
    counts over containing documents, cleared to one exact-integer
    ratio — content words clump (VMR ≫ 1), function words sit near the
    Poisson floor; top-50 bursty terms with min-df support."""
    from area_etl_spark.operators.text_analysis import term_burstiness

    return term_burstiness(
        _tables(spark, sf_dir)["documents"], min_df=5, topk=50
    )
def o_term_burstiness() -> str:
    return """
            WITH tk AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
                    FROM documents
                ) WHERE term <> ''
            ), dt AS (
                SELECT doc_id, term, COUNT(*) AS c FROM tk GROUP BY 1, 2
            ), pt AS (
                SELECT term, COUNT(*) AS dfq,
                       SUM(CAST(c AS HUGEINT)) AS s,
                       SUM(CAST(c AS HUGEINT) * c) AS q
                FROM dt GROUP BY 1
            )
            SELECT term, CAST(dfq AS BIGINT) AS df,
                   CAST(s AS BIGINT) AS total_count,
                   round(CAST(CAST(dfq AS HUGEINT) * q - s * s AS DOUBLE)
                         / CAST(CAST(dfq AS HUGEINT) * s AS DOUBLE), 6) AS vmr
            FROM pt WHERE dfq >= 5
            ORDER BY vmr DESC, term
            LIMIT 50
        """


def q_kneser_ney(spark, sf_dir):
    """Interpolated Kneser–Ney bigram LM over the documents corpus — the
    continuation-count smoothing (Chen & Goodman 1998) upgrading
    bigram_lm_score's raw MLE; top-50 bigram types with their P_KN."""
    from area_etl_spark.operators.text_analysis import kneser_ney_bigram

    docs = _tables(spark, sf_dir)["documents"]
    return kneser_ney_bigram(docs, discount=0.75, topk=50)
def o_kneser_ney() -> str:
    return """
            WITH t AS (
                SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ), p AS (
                SELECT toks[i] AS w1, toks[i + 1] AS w2
                FROM t, unnest(range(1, len(toks))) AS u(i)
            ), m AS (
                SELECT w1, w2, COUNT(*) AS c12 FROM p GROUP BY 1, 2
            ), l AS (
                SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM m GROUP BY 1
            ), r AS (
                SELECT w2, COUNT(*) AS n1b FROM m GROUP BY 1
            ), ty AS (
                SELECT COUNT(*) AS nt FROM m
            )
            SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
                   round(greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
                             / CAST(c1 AS DOUBLE)
                         + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
                             * (CAST(n1b AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS p_kn
            FROM m JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN ty
            ORDER BY c12 DESC, w1, w2
            LIMIT 50
        """


def q_language_purity(spark, sf_dir):
    """Mixed-language detector: sentence-level heuristic lang-ID over the
    synthetically-punctuated corpus (the split_sentences prep), per-doc
    majority vote + purity + undetermined count."""
    from area_etl_spark.operators.text_analysis import language_purity

    d = _tables(spark, sf_dir)["documents"]
    punct = F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")),
        r"([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ",
        r"$1. ",
    )
    return language_purity(d.select("doc_id", punct.alias("text")))
def o_language_purity() -> str:
    return f"""
            WITH m AS (
                SELECT doc_id,
                       string_split(
                           regexp_replace(
                               regexp_replace(COALESCE(text, ''),
                                   '([a-z0-9]+ [a-z0-9]+ [a-z0-9]+) ',
                                   '\\1. ', 'g'),
                               '([.!?]+)\\s+', '\\1' || chr(10), 'g'),
                           chr(10)) AS sents
                FROM documents
            ), s AS (
                SELECT doc_id, trim(sents[i]) AS sentence
                FROM m, unnest(range(1, len(sents) + 1)) AS u(i)
                WHERE trim(sents[i]) <> ''
            ), sc AS (
                SELECT doc_id, {_langid_sql("sentence")} AS lang FROM s
            ), per AS (
                SELECT doc_id, lang, COUNT(*) AS c FROM sc GROUP BY 1, 2
            ), tot AS (
                SELECT doc_id, SUM(c) AS ns,
                       SUM(CASE WHEN lang = 'und' THEN c ELSE 0 END) AS nund
                FROM per GROUP BY 1
            ), top AS (
                SELECT doc_id, lang, c FROM (
                    SELECT *, row_number() OVER (PARTITION BY doc_id
                        ORDER BY c DESC, lang ASC) AS rk
                    FROM per
                ) WHERE rk = 1
            )
            SELECT t.doc_id,
                   CAST(ns AS BIGINT) AS n_sentences,
                   top.lang AS majority_lang,
                   CAST(top.c AS BIGINT) AS n_majority,
                   round(CAST(top.c AS DOUBLE) / CAST(ns AS DOUBLE), 9)
                       AS purity,
                   CAST(nund AS BIGINT) AS n_und
            FROM tot t JOIN top USING (doc_id)
        """


def q_kn_perplexity(spark, sf_dir):
    """CCNet-style perplexity filter: score the odd-id documents under a
    Kneser–Ney bigram LM trained on the even-id half — full backoff with
    an add-one continuation floor, per-doc logprob folded in position
    order."""
    from area_etl_spark.operators.text_analysis import kn_perplexity

    docs = _tables(spark, sf_dir)["documents"]
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    score = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    return kn_perplexity(train, score, discount=0.75)
def o_kn_perplexity() -> str:
    return """
            WITH tr AS (
                SELECT string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents WHERE doc_id % 2 = 0
            ), ptr AS (
                SELECT toks[i] AS w1, toks[i + 1] AS w2
                FROM tr, unnest(range(1, len(toks))) AS u(i)
            ), m AS (
                SELECT w1, w2, COUNT(*) AS c12 FROM ptr GROUP BY 1, 2
            ), l AS (
                SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1f FROM m GROUP BY 1
            ), r AS (
                SELECT w2, COUNT(*) AS n1b FROM m GROUP BY 1
            ), ty AS (
                SELECT COUNT(*) AS nt, COUNT(DISTINCT w2) AS v FROM m
            ), sc AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents WHERE doc_id % 2 = 1
            ), psc AS (
                SELECT doc_id, i AS pos, toks[i] AS w1, toks[i + 1] AS w2
                FROM sc, unnest(range(1, len(toks))) AS u(i)
            ), j AS (
                SELECT doc_id, pos, c12, c1, n1f, n1b, nt, v
                FROM psc LEFT JOIN m USING (w1, w2)
                         LEFT JOIN l USING (w1)
                         LEFT JOIN r USING (w2)
                         CROSS JOIN ty
            ), pp AS (
                SELECT doc_id, pos,
                       CASE WHEN c12 IS NULL THEN 1 ELSE 0 END AS unseen,
                       ln(CASE WHEN c1 IS NOT NULL THEN
                           greatest(CAST(COALESCE(c12, 0) AS DOUBLE) - 0.75,
                                    0.0) / CAST(c1 AS DOUBLE)
                           + 0.75 * CAST(n1f AS DOUBLE) / CAST(c1 AS DOUBLE)
                             * (CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
                                / CAST(nt + v + 1 AS DOUBLE))
                       ELSE CAST(COALESCE(n1b, 0) + 1 AS DOUBLE)
                            / CAST(nt + v + 1 AS DOUBLE) END) AS lp
                FROM j
            ), ag AS (
                SELECT doc_id, COUNT(*) AS nb, SUM(unseen) AS nu,
                       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                           list(lp ORDER BY pos)), (a, b) -> a + b) AS s
                FROM pp GROUP BY 1
            )
            SELECT doc_id,
                   CAST(nb AS BIGINT) AS n_bigrams,
                   CAST(nu AS BIGINT) AS n_unseen,
                   round(s / CAST(nb AS DOUBLE), 9) AS avg_logprob,
                   round(exp(-(s / CAST(nb AS DOUBLE))), 6) AS perplexity
            FROM ag
        """


def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (sub-word tokens per whitespace
    word) and chars-per-subtoken from the GPT-2-shaped pre-tokenizer
    counts — exact integer sums, two divisions."""
    from area_etl_spark.operators.text_analysis import tokenizer_fertility

    return tokenizer_fertility(_tables(spark, sf_dir)["documents"])
def o_tokenizer_fertility() -> str:
    return r"""
            WITH pre AS (
                SELECT lang,
                       regexp_replace(
                           regexp_replace(text, '([^\s\p{L}\p{N}])', ' \1 ', 'g'),
                           '(\p{N}+)', ' \1 ', 'g') AS p2,
                       text
                FROM documents
            ), base AS (
                SELECT lang,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\s+'))
                       END AS w,
                       CASE WHEN length(trim(p2)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(p2), '\s+'))
                       END AS s,
                       length(regexp_replace(text, '\s+', '', 'g')) AS c
                FROM pre
            ), ag AS (
                SELECT lang, COUNT(*) AS n_docs, SUM(w) AS n_words,
                       SUM(s) AS n_subtokens, SUM(c) AS chars
                FROM base GROUP BY 1
            )
            SELECT lang,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_words AS BIGINT) AS n_words,
                   CAST(n_subtokens AS BIGINT) AS n_subtokens,
                   round(CASE WHEN n_words > 0 THEN
                       CAST(n_subtokens AS DOUBLE) / CAST(n_words AS DOUBLE)
                   END, 9) AS fertility,
                   round(CASE WHEN n_subtokens > 0 THEN
                       CAST(chars AS DOUBLE) / CAST(n_subtokens AS DOUBLE)
                   END, 9) AS chars_per_subtoken
            FROM ag
        """
