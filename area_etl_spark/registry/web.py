"""Web and media cleaning: HTML, URLs, robots rules, mojibake and media metadata
(``operators/cleaning``, ``operators/multimodal``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from area_etl_spark.operators import multimodal as MM
from area_etl_spark.operators import text_analysis as TA
from area_etl_spark.registry._common import _tables
from area_etl_spark.registry._sql import _langid_sql, ntoks, qscore


BOILERPLATE_LINE = "Cookie notice: please accept the terms."


def _synthetic_pages(docs):
    """Multi-line page per document (the flat synthetic text carries no
    newlines): a sentence-ish first line, a SHARED boilerplate line, a
    too-short line, and an unterminated fragment — so the line filter and
    the cross-document paragraph dedup both have real work. Mirrored
    literally in the oracles."""
    return docs.select(
        "doc_id",
        F.concat(
            F.substring(F.col("text"), 1, 80), F.lit(".\n"),
            F.lit(BOILERPLATE_LINE), F.lit("\n"),
            F.lit("ok\n"),
            F.substring(F.col("text"), 81, 60),
        ).alias("page"),
    )


def q_clean_lines(spark, sf_dir):
    """C4-style line filtering: keep lines with >= 3 words ending in
    terminal punctuation, rebuild the page — pure Column expressions, no
    explode, no shuffle."""
    from area_etl_spark.operators.cleaning import c4_line_filter

    pages = _synthetic_pages(_tables(spark, sf_dir)["documents"])
    return pages.select("doc_id", c4_line_filter("page").alias("clean_text"))
def o_clean_lines() -> str:
    return f"""
            WITH pages AS (
                SELECT doc_id,
                       substring(text, 1, 80) || '.' || chr(10) ||
                       '{BOILERPLATE_LINE}' || chr(10) ||
                       'ok' || chr(10) ||
                       substring(text, 81, 60) AS page
                FROM documents
            )
            SELECT doc_id,
                   array_to_string(list_filter(string_split(page, chr(10)),
                       l -> len(list_filter(string_split_regex(trim(l), '\\s+'),
                                w -> w <> '')) >= 3
                            AND regexp_matches(trim(l), '[.!?\"]$')), chr(10)) AS clean_text
            FROM pages
        """


def q_dedup_paragraphs(spark, sf_dir):
    """Cross-document paragraph dedup: the shared boilerplate line survives
    only in its first (lowest doc_id, idx) occurrence; documents are
    reassembled in paragraph order. One shuffle keyed on the paragraph
    hash, one regroup keyed on doc_id."""
    from area_etl_spark.operators.cleaning import dedup_paragraphs

    pages = _synthetic_pages(_tables(spark, sf_dir)["documents"])
    return dedup_paragraphs(pages, "page", "doc_id")
def o_dedup_paragraphs() -> str:
    return f"""
            WITH pages AS (
                SELECT doc_id,
                       substring(text, 1, 80) || '.' || chr(10) ||
                       '{BOILERPLATE_LINE}' || chr(10) ||
                       'ok' || chr(10) ||
                       substring(text, 81, 60) AS page
                FROM documents
            ),
            d AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pages),
            e AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls FROM d),
            p AS (SELECT doc_id, i - 1 AS idx, ls[i] AS para, trim(ls[i]) AS para_t FROM e),
            h AS (SELECT *, CASE WHEN length(para_t) >= 20 THEN md5(para_t) END AS fp FROM p),
            r AS (SELECT *, CASE WHEN fp IS NULL THEN TRUE
                                 ELSE row_number() OVER (PARTITION BY fp
                                      ORDER BY doc_id, idx) = 1 END AS keep FROM h)
            SELECT doc_id,
                   COALESCE(string_agg(para, chr(10) ORDER BY idx)
                            FILTER (WHERE keep), '') AS text,
                   CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
            FROM r GROUP BY doc_id
        """


def q_url_canonical_dedup(spark, sf_dir):
    """Crawl-side URL canonicalization: messy synthesized URLs (case, www,
    default ports, utm params, fragments, trailing slashes) normalized with
    narrow regexps, then per-domain unique-URL counts."""
    from area_etl_spark.operators.cleaning import canonicalize_urls

    d = _tables(spark, sf_dir)["documents"]
    url = F.concat(
        F.lit("HTTP://WWW.Site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        (F.col("doc_id") % 97).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("?utm_source=feed&ref="), (F.col("doc_id") % 5).cast("string")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("?ref="), (F.col("doc_id") % 5).cast("string")),
        )
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    canon = canonicalize_urls(d.select("doc_id", url.alias("url")), "url")
    return canon.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("canon_url").alias("n_canonical"),
    )
def o_url_canonical_dedup() -> str:
    return """
            WITH u AS (
                SELECT doc_id,
                    'HTTP://WWW.Site' || CAST(doc_id % 37 AS VARCHAR) || '.COM'
                    || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END
                    || '/Articles/' || CAST(doc_id % 97 AS VARCHAR)
                    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                    || CASE WHEN doc_id % 4 = 0
                            THEN '?utm_source=feed&ref=' || CAST(doc_id % 5 AS VARCHAR)
                            WHEN doc_id % 4 = 1
                            THEN '?ref=' || CAST(doc_id % 5 AS VARCHAR)
                            ELSE '' END
                    || CASE WHEN doc_id % 6 = 0 THEN '#sec' ELSE '' END AS url
                FROM documents
            ), nf AS (
                SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u
            ), parts AS (
                SELECT doc_id,
                    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                    lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?]*)', 1)) AS rawhost,
                    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*(.*)$', 1) AS pathq
                FROM nf
            ), hosts AS (
                SELECT doc_id, scheme, pathq,
                    -- scheme-conditional default-port strip (matches operator)
                    CASE WHEN scheme = 'http'
                         THEN regexp_replace(regexp_replace(rawhost, '^www\\.', ''), ':80$', '')
                         WHEN scheme = 'https'
                         THEN regexp_replace(regexp_replace(rawhost, '^www\\.', ''), ':443$', '')
                         ELSE regexp_replace(rawhost, '^www\\.', '') END AS host
                FROM parts
            ), pq AS (
                SELECT doc_id, scheme, host,
                    CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') = ''
                         THEN '/'
                         ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
                    END AS path,
                    regexp_replace(regexp_replace(
                        '&' || regexp_extract(pathq, '\\?(.*)$', 1),
                        '&utm_[^&]*', '', 'g'), '^&', '') AS query
                FROM hosts
            ), canon AS (
                SELECT doc_id, host AS domain,
                    scheme || '://' || host || path
                    || CASE WHEN query <> '' THEN '?' || query ELSE '' END AS canon_url
                FROM pq
            )
            SELECT domain, COUNT(*) AS n_urls,
                   COUNT(DISTINCT canon_url) AS n_canonical
            FROM canon GROUP BY domain
        """


def q_domain_capped_corpus(spark, sf_dir):
    """Crawl-politeness composition: canonicalize synthesized URLs →
    first-occurrence dedup by canonical URL → keep the top 3 docs per
    domain by (n_chars, doc_id) — the per-site cap a crawl corpus applies
    before mixing."""
    from pyspark.sql import Window

    from area_etl_spark.operators.cleaning import canonicalize_urls

    d = _tables(spark, sf_dir)["documents"]
    url = F.concat(
        F.lit("HTTP://WWW.Site"),
        (F.col("doc_id") % 37).cast("string"),
        F.lit(".COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Articles/"),
        (F.col("doc_id") % 97).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    canon = canonicalize_urls(
        d.select("doc_id", "n_chars", url.alias("url")), "url"
    )
    first = Window.partitionBy("canon_url").orderBy("doc_id")
    deduped = (
        canon.withColumn("_rn", F.row_number().over(first))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    cap = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        deduped.withColumn("domain_rank", F.row_number().over(cap))
        .where(F.col("domain_rank") <= 3)
        .select("domain", "domain_rank", "doc_id", "n_chars")
    )
def o_domain_capped_corpus() -> str:
    return """
            WITH u AS (
                SELECT doc_id, n_chars,
                    'HTTP://WWW.Site' || CAST(doc_id % 37 AS VARCHAR) || '.COM'
                    || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END
                    || '/Articles/' || CAST(doc_id % 97 AS VARCHAR)
                    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END AS url
                FROM documents
            ), parts AS (
                SELECT doc_id, n_chars,
                    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
                    regexp_replace(regexp_replace(
                        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?]*)', 1)),
                        '^www\\.', ''), ':80$|:443$', '') AS host,
                    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*(.*)$', 1) AS pathq
                FROM u
            ), canon AS (
                SELECT doc_id, n_chars, host AS domain,
                    scheme || '://' || host ||
                    CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') = ''
                         THEN '/'
                         ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '')
                    END AS canon_url
                FROM parts
            ), ded AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn
                FROM canon
            ), capd AS (
                SELECT domain, doc_id, n_chars,
                       CAST(ROW_NUMBER() OVER (PARTITION BY domain
                            ORDER BY n_chars DESC, doc_id) AS INT) AS domain_rank
                FROM ded WHERE rn = 1
            )
            SELECT domain, domain_rank, doc_id, n_chars
            FROM capd WHERE domain_rank <= 3
        """


def q_multimodal_binary_meta(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    payloads = MM.attach_binary_payload(tables["documents"], "text", "text/plain", "doc_id")
    return MM.decode_media(payloads, decoder="fake")
def o_multimodal_binary_meta() -> str:
    return """
            SELECT doc_id AS id, 'text/plain' AS mime,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   CAST(octet_length(encode(text)) % 997 AS INTEGER) AS width,
                   CAST(octet_length(encode(text)) % 991 AS INTEGER) AS height,
                   CAST(octet_length(encode(text)) % 31 AS INTEGER) AS n_frames,
                   true AS ok
            FROM documents
        """


def q_multimodal_frame_sample(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    payloads = MM.attach_binary_payload(tables["documents"], "text", "video/mp4", "doc_id")
    return MM.sample_frames(MM.decode_media(payloads, decoder="fake"), stride=5)
def o_multimodal_frame_sample() -> str:
    return """
            SELECT doc_id AS id,
                   CAST(unnest(range(0, octet_length(encode(text)) % 31, 5)) AS INTEGER) AS frame_idx,
                   CAST(octet_length(encode(text)) % 31 AS INTEGER) AS n_frames
            FROM documents
            WHERE octet_length(encode(text)) % 31 > 0
        """


def q_multimodal_features(spark, sf_dir):
    # The operator emits features as array<double> (feeds the ANN path); the
    # gate serializes it to a canonical integer-milli CSV so the driver's
    # dtype-sensitive hash can compare it against the DuckDB oracle.
    tables = _tables(spark, sf_dir)
    payloads = MM.attach_binary_payload(tables["documents"], "text", "image/png", "doc_id")
    feats = MM.extract_features(payloads)
    return feats.select(
        "id",
        "byte_len",
        F.concat_ws(
            ",",
            F.transform("features", lambda x: F.round(x * 1000).cast("long").cast("string")),
        ).alias("features_csv"),
    )
def o_multimodal_features() -> str:
    return """
            SELECT doc_id AS id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   array_to_string(list_transform(generate_series(1, 8),
                       i -> CAST((octet_length(encode(text)) * i) % 1000 AS VARCHAR)), ',') AS features_csv
            FROM documents
        """


def q_strip_html(spark, sf_dir):
    """Crawl-corpus HTML cleaning: documents wrapped in synthetic HTML
    (script/style blocks with code bodies, comments, entities) must strip
    back to their visible text — script/style CONTENTS dropped, entities
    decoded, whitespace collapsed; the oracle asserts the exact expected
    text from the construction."""
    from area_etl_spark.operators.cleaning import strip_html

    d = _tables(spark, sf_dir)["documents"]
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var a = 1 < 2;</script>'),
        F.lit("<style>.x { color: red }</style></head><body><!-- hidden --><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit('</p> <b>src='),
        F.col("source"),
        F.lit("</b>&amp;&nbsp;end</body></html>"),
    )
    return strip_html(
        d.select("doc_id", html.alias("html")), "html"
    ).select("doc_id", "clean_text")
def o_strip_html() -> str:
    return """
            SELECT doc_id,
                   trim(regexp_replace(
                       COALESCE(text, '') || '  src=' || source || '  &  end',
                       '\\s+', ' ', 'g')) AS clean_text
            FROM documents
        """


def _synthetic_article_page() -> "F.Column":
    """The boilerplate-wrapped article page shared by q_html_main_text and
    q_crawl_funnel_pipeline — one definition so the entries and their
    closed-form oracles cannot drift."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit("</title><style>p{color:red}</style></head><body>"
              "<nav class='nav'>Home | About | <a href='/'>Contact</a></nav>"
              "<header><h1>Site Banner</h1></header>"
              "<div class='cookie-banner'>We use cookies.</div>"
              "<article><h2>Doc "), did, F.lit("</h2><p>"),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit("</p></article><div id='social-share'>Share this everywhere</div>"
              "<footer>All rights reserved.</footer></body></html>"),
    )


def q_html_main_text(spark, sf_dir):
    """DOM-tier main-text extraction (VERDICT r12 item 7) over a synthetic
    page wrapped around each document: nav/header/cookie/share/footer
    boilerplate planted around the prose, html.parser mapInPandas tier
    extracts it back out.  Because the corpus text is '<&>'-free and
    single-level, the EXPECTED output is closed-form — title, heading
    block + prose block (prose kept iff ≥ 25 non-ws chars) — so the
    Python-worker tier gets a FULL value oracle, not rows-only; the
    boilerplate-judgment paths are pytest-covered on crafted pages
    (tests/test_cleaning.py)."""
    from area_etl_spark.operators.cleaning import extract_main_text

    d = _tables(spark, sf_dir)["documents"]
    page = _synthetic_article_page()
    return extract_main_text(
        d.select("doc_id", page.alias("html")), "html", "doc_id"
    )
def o_html_main_text() -> str:
    return """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))
                           AS norm
                FROM documents
            ), k AS (
                SELECT doc_id, norm,
                       length(replace(norm, ' ', '')) AS nws
                FROM n
            )
            SELECT doc_id AS id,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE WHEN nws >= 25
                        THEN 'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || norm
                        ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS main_text,
                   CAST(CASE WHEN nws >= 25 THEN 2 ELSE 1 END AS INTEGER)
                       AS n_blocks_kept,
                   CAST(CASE WHEN nws >= 25 OR nws = 0 THEN 0 ELSE 1 END
                        AS INTEGER) AS n_blocks_dropped,
                   true AS parse_ok
            FROM k
        """


def q_crawl_funnel_pipeline(spark, sf_dir):
    """END-TO-END crawl-to-corpus funnel — the tier ABOVE
    q_corpus_prep_pipeline's text-side funnel: raw boilerplate-wrapped
    HTML → DOM main-text extraction (Python-worker tier) → language ID →
    quality score → the keep/route verdict a crawl pipeline feeds into
    dedup.  The page wrap is the shared closed-form template, so the
    DOM stage's output — and therefore EVERY downstream stage — replays
    exactly in SQL: the one Python tier in the chain still gets a full
    value oracle.  Plan: one mapInPandas pass, then a single narrow
    projection (HOF token features, staged-projection idiom) — no
    shuffle anywhere."""
    from area_etl_spark.operators.cleaning import extract_main_text

    d = _tables(spark, sf_dir)["documents"]
    page = _synthetic_article_page()
    main = extract_main_text(
        d.select("doc_id", page.alias("html")), "html", "doc_id"
    )
    feats = TA.quality_features("text")
    staged = main.select(
        F.col("id").alias("doc_id"),
        F.col("parse_ok"),
        F.col("main_text").alias("text"),
    ).select(
        "doc_id",
        "parse_ok",
        TA.language_id("text").alias("lang"),
        feats["n_tokens"],
        feats["stopword_ratio"],
        feats["punct_ratio"],
    )
    scored = staged.select(
        "doc_id",
        "lang",
        "n_tokens",
        TA.quality_score_from_features(
            F.col("n_tokens"), F.col("stopword_ratio"), F.col("punct_ratio")
        ).alias("quality"),
        "parse_ok",
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "quality",
        (
            F.col("parse_ok")
            & (F.col("lang") == "en")
            & (F.col("quality") >= 0.5)
        ).alias("kept"),
    )
def o_crawl_funnel_pipeline() -> str:
    return f"""
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(COALESCE(text, ''), '\\s+', ' ', 'g'))
                           AS norm
                FROM documents
            ), k AS (
                SELECT doc_id, norm,
                       length(replace(norm, ' ', '')) AS nws
                FROM n
            ), m AS (
                SELECT doc_id,
                       CASE WHEN nws >= 25
                            THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                                 || chr(10) || norm
                            ELSE 'Doc ' || CAST(doc_id AS VARCHAR) END AS text
                FROM k
            )
            SELECT doc_id,
                   {_langid_sql("text")} AS lang,
                   {ntoks} AS n_tokens,
                   {qscore} AS quality,
                   (true AND ({_langid_sql("text")} = 'en')
                         AND ({qscore} >= 0.5)) AS kept
            FROM m
        """


def _synthetic_link_page() -> "F.Column":
    """The deterministic 3-link page wrap shared by q_html_extract_links
    and q_anchor_text_agg — one definition so the two entries (and their
    closed-form oracles) cannot drift."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><body><p>Intro <a href='/doc/"), did,
        F.lit("'>Doc "), did,
        F.lit("</a> and <a href='https://example.com/src/"), F.col("source"),
        F.lit("' rel='nofollow ugc'>source "), F.col("source"),
        F.lit("</a>.</p>"
              "<script>var a='<a href=\"/junk\">x</a>';</script>"
              "<nav><a href='/'>Home</a></nav></body></html>"),
    )


def q_html_extract_links(spark, sf_dir):
    """Link extraction over the same synthetic-page wrap as
    q_html_main_text: one row per <a href> in document order — nav links
    KEPT (link-graph edges are data, the opposite call from main-text
    boilerplate removal), script-embedded anchors skipped, nofollow read
    off rel.  Three deterministic links per page make the output
    closed-form, so the Python-worker tier gets a full value oracle."""
    from area_etl_spark.operators.cleaning import extract_links

    d = _tables(spark, sf_dir)["documents"]
    page = _synthetic_link_page()
    return extract_links(d.select("doc_id", page.alias("html")), "html", "doc_id")
def o_html_extract_links() -> str:
    return """
            SELECT doc_id AS id, CAST(1 AS INTEGER) AS link_no,
                   '/doc/' || CAST(doc_id AS VARCHAR) AS href,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS anchor_text,
                   '' AS rel, false AS nofollow
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(2 AS INTEGER),
                   'https://example.com/src/' || source,
                   'source ' || source,
                   'nofollow ugc', true
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(3 AS INTEGER), '/', 'Home', '', false
            FROM documents
        """


def q_anchor_text_agg(spark, sf_dir):
    """Anchor-text aggregation over the extracted link graph: the 3-link
    synthetic pages produce three target classes — per-doc '/doc/<id>'
    (one followed inlink each), shared 'https://example.com/src/<source>'
    hubs (one nofollow inlink per doc of that source), and the site root
    '/' that EVERY page links (the hub-skew case the operator's map-side
    combine collapses) — so inlink/follow/source/anchor rollups and the
    (count desc, anchor asc) top anchor are all closed-form for the
    oracle."""
    from area_etl_spark.operators.cleaning import extract_links
    from area_etl_spark.operators.indexing import aggregate_anchor_text

    d = _tables(spark, sf_dir)["documents"]
    page = _synthetic_link_page()
    links = extract_links(d.select("doc_id", page.alias("html")), "html", "doc_id")
    return aggregate_anchor_text(links, "href", "anchor_text", "id", "nofollow")
def o_anchor_text_agg() -> str:
    return """
            SELECT '/doc/' || CAST(doc_id AS VARCHAR) AS target,
                   CAST(1 AS BIGINT) AS inlinks,
                   CAST(1 AS BIGINT) AS follow_inlinks,
                   CAST(1 AS BIGINT) AS distinct_sources,
                   CAST(1 AS BIGINT) AS distinct_anchors,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS top_anchor
            FROM documents
            UNION ALL
            SELECT 'https://example.com/src/' || source,
                   count(*), CAST(0 AS BIGINT), count(DISTINCT doc_id),
                   CAST(1 AS BIGINT), 'source ' || source
            FROM documents GROUP BY source
            UNION ALL
            SELECT '/', count(*), count(*), count(DISTINCT doc_id),
                   CAST(1 AS BIGINT), 'Home'
            FROM documents
        """


# Deterministic mojibake fixtures for q_mojibake_repair: the CLEAN string,
# its UTF-8-read-as-latin1 form, and its UTF-8-read-as-cp1252 form — built
# at import so the Spark query and the DuckDB oracle share one source of
# truth (no hand-typed control characters).
_MOJI_CLEAN_L1 = "Città di Modena: "
_MOJI_BROKEN_L1 = _MOJI_CLEAN_L1.encode("utf-8").decode("latin-1")
_MOJI_CLEAN_CP = "perché l’unità — "
_MOJI_BROKEN_CP = _MOJI_CLEAN_CP.encode("utf-8").decode("cp1252")


def q_mojibake_repair(spark, sf_dir):
    """Crawl-encoding repair (ftfy-class, re-derived): three deterministic
    document classes — a latin1-mojibake prefix, a cp1252-mojibake prefix
    (curly punctuation through the 0x80–0x9F translate-back), and clean
    ascii — each followed by the document's own text; fix_mojibake must
    repair exactly the first two prefixes and pass everything else through
    byte-identical.  The oracle replays the class outputs closed-form from
    the SAME import-time fixtures."""
    from area_etl_spark.operators.cleaning import fix_mojibake

    d = _tables(spark, sf_dir)["documents"]
    txt = F.coalesce(F.col("text"), F.lit(""))
    cls = F.col("doc_id") % 3
    raw = (
        F.when(cls == 0, F.concat(F.lit(_MOJI_BROKEN_L1), txt))
        .when(cls == 1, F.concat(F.lit(_MOJI_BROKEN_CP), txt))
        .otherwise(F.concat(F.lit("clean: "), txt))
    )
    return d.select(
        "doc_id",
        raw.alias("raw"),
        fix_mojibake(raw).alias("fixed"),
    )
def o_mojibake_repair() -> str:
    return f"""
            SELECT doc_id,
                   CASE doc_id % 3
                       WHEN 0 THEN '{_MOJI_BROKEN_L1}' || COALESCE(text, '')
                       WHEN 1 THEN '{_MOJI_BROKEN_CP}' || COALESCE(text, '')
                       ELSE 'clean: ' || COALESCE(text, '') END AS raw,
                   CASE doc_id % 3
                       WHEN 0 THEN '{_MOJI_CLEAN_L1}' || COALESCE(text, '')
                       WHEN 1 THEN '{_MOJI_CLEAN_CP}' || COALESCE(text, '')
                       ELSE 'clean: ' || COALESCE(text, '') END AS fixed
            FROM documents
        """


def q_robots_url_filter(spark, sf_dir):
    """Robots.txt crawl gating under the published longest-match rule:
    paths synthesized into four deterministic classes (disallowed subtree,
    longer-allow exception inside it, prefix disallow, unmatched), the
    plan-literal rule fold deciding each — the oracle replays the class
    decisions closed-form (the quarantine-report recipe)."""
    from area_etl_spark.operators.cleaning import parse_robots_txt, robots_allow

    robots = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/press/\n"
        "Disallow: /tmp\n"
    )
    rules = parse_robots_txt(robots)
    d = _tables(spark, sf_dir)["documents"]
    did = F.col("doc_id").cast("string")
    cls = F.col("doc_id") % 4
    path = (
        F.when(cls == 0, F.concat(F.lit("/private/doc/"), did))
        .when(cls == 1, F.concat(F.lit("/private/press/rel"), did))
        .when(cls == 2, F.concat(F.lit("/tmp"), did))
        .otherwise(F.concat(F.lit("/public/doc/"), did))
    )
    return d.select(
        "doc_id",
        path.alias("path"),
        robots_allow(path, rules).alias("crawl_allowed"),
    )
def o_robots_url_filter() -> str:
    return """
            SELECT doc_id,
                   CASE doc_id % 4
                       WHEN 0 THEN '/private/doc/' || CAST(doc_id AS VARCHAR)
                       WHEN 1 THEN '/private/press/rel' || CAST(doc_id AS VARCHAR)
                       WHEN 2 THEN '/tmp' || CAST(doc_id AS VARCHAR)
                       ELSE '/public/doc/' || CAST(doc_id AS VARCHAR) END AS path,
                   (doc_id % 4) IN (1, 3) AS crawl_allowed
            FROM documents
        """


_MEDIA_TEMPLATES_HEX = {
    # deterministic header-class template blobs (hex → unhex binary):
    # a REAL 1×1 grayscale PNG (full pixel decode works on it), an
    # admissible baseline-JPEG marker stream, and one representative of
    # each documented quarantine class
    0: "89504e470d0a1a0a0000000d49484452000000010000000108000000003a7e9b550000000a4944415478da6368000000820081da45083b0000000049454e44ae426082",
    1: "ffd8ffc0000b080001000101011100ffda0008010100003f00ffd9",
    # r13: in-subset SOF2 WITH a scan — progressive is now an ADMITTED
    # class (progressive_subset_ok), the telemetry's third green bucket
    2: "ffd8ffc2000b080001000101011100ffda000801010000000000ffd9",
    # r13: 4:1:1 (luma 4x1) — 4:2:2 joined the decoded baseline subset,
    # so the representative subsampling quarantine moved one layout out
    3: "ffd8ffc00011080001000103014100021100031100ffda000c03010002000300003f00ffd9",
    4: "ffd8ffdd00040064ffc0000b080001000101011100ffda0008010100003f00ffd9",
    5: "6e6f7420616e20696d61676520617420616c6c2e2e2e2e2e",
}


def q_multimodal_quarantine_report(spark, sf_dir):
    """Multimodal quarantine telemetry (VERDICT r10 item 8): every doc_id
    maps to one of six deterministic header-class blobs (real PNG,
    baseline JPEG, in-subset progressive — ADMITTED since r13, 4:1:1,
    restart-interval, garbage); the REAL header classifier
    (image_decode_diagnose, the same subset checks as the pixel decoders)
    must land each blob on exactly its class, and the corpus report
    aggregates (fmt, ok, reason) — the reasons are a pure function of
    doc_id % 6, so DuckDB replays the whole report."""
    from area_etl_spark.operators.multimodal import decode_quarantine_report

    docs = _tables(spark, sf_dir)["documents"]
    hex_expr = None
    for k, hx in _MEDIA_TEMPLATES_HEX.items():
        cond = F.col("doc_id") % 6 == k
        hex_expr = F.when(cond, F.lit(hx)) if hex_expr is None else hex_expr.when(cond, F.lit(hx))
    blobs = docs.select(F.col("doc_id").alias("id"), F.unhex(hex_expr).alias("payload"))
    return decode_quarantine_report(blobs)
def o_multimodal_quarantine_report() -> str:
    return """
            SELECT fmt, ok, reason, CAST(COUNT(*) AS BIGINT) AS n_blobs
            FROM (
                SELECT CASE doc_id % 6
                           WHEN 0 THEN 'png'
                           WHEN 5 THEN 'unknown'
                           ELSE 'jpeg' END AS fmt,
                       (doc_id % 6) IN (0, 1, 2) AS ok,
                       CASE doc_id % 6
                           WHEN 0 THEN 'baseline_subset_ok'
                           WHEN 1 THEN 'baseline_subset_ok'
                           WHEN 2 THEN 'progressive_subset_ok'
                           WHEN 3 THEN 'jpeg_subsampling'
                           WHEN 4 THEN 'jpeg_restart_interval'
                           ELSE 'unknown_format' END AS reason
                FROM documents
            ) GROUP BY 1, 2, 3
        """
