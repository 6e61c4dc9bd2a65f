"""DuckDB SQL fragments for the oracles: helpers used by more than one family,
and the common recast, text and embedding expressions (``clean``, ``now``,
``toks``, ``qscore``, ``dot``, ...)."""

from __future__ import annotations

from area_etl_spark.operators import text_analysis as TA
from area_etl_spark.plans import pipelines as P
from area_etl_spark.registry._common import FIXED_NOW


def _enum_case_sql(source: str, mapping: dict[str, str], default: str | None) -> str:
    whens = " ".join(
        f"WHEN lower(trim(CAST({source} AS VARCHAR))) = '{k.strip().lower()}' THEN '{v}'"
        for k, v in mapping.items()
    )
    tail = "NULL" if default is None else f"'{default}'"
    return f"CASE {whens} ELSE {tail} END"


def _langid_sql(text: str) -> str:
    toks = f"string_split_regex(trim(lower({text})), '\\s+')"
    score = {
        lang: f"len(list_filter({toks}, t -> list_contains([{', '.join(repr(w) for w in words)}], t)))"
        for lang, words in TA.LANG_STOPWORDS.items()
    }
    expr_lang, expr_score = "'und'", "0"
    for lang in sorted(TA.LANG_STOPWORDS):
        s = score[lang]
        expr_lang = f"CASE WHEN {s} > ({expr_score}) THEN '{lang}' ELSE ({expr_lang}) END"
        expr_score = f"CASE WHEN {s} > ({expr_score}) THEN {s} ELSE ({expr_score}) END"
    return expr_lang


def _cos2_sql(x: str, y: str) -> str:
    """DuckDB cosine between two list columns, sequential-sum order (matches
    ``similarity._dot``/``_norm`` bit-for-bit)."""
    red = lambda a, b: (  # noqa: E731
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (p, r) -> p + r)"
    )
    return f"({red(x, y)} / (sqrt({red(x, x)}) * sqrt({red(y, y)})))"


def _shingles3_sql(text: str = "text") -> str:
    """DuckDB expression for ``dedup.shingles(normalize_tokens(text), 3)``:
    3-gram shingles of lowercased whitespace tokens; docs shorter than 3
    tokens collapse to one whole-doc shingle."""
    tok_arr = f"string_split_regex(trim(lower({text})), '\\s+')"
    return (
        f"CASE WHEN len({tok_arr}) >= 3 THEN "
        f"list_transform(generate_series(1, len({tok_arr}) - 2), "
        f"i -> array_to_string(list_slice({tok_arr}, i, i + 2), ' ')) "
        f"ELSE [array_to_string({tok_arr}, ' ')] END"
    )


def _minhash_portable_ctes(num_hashes: int = 16, bands: int = 4) -> str:
    """Shared CTE block ending in ``cands(id_a, id_b)`` — the portable md5
    MinHash banding over 3-gram shingles."""
    rpb = num_hashes // bands
    toks = _shingles3_sql()
    mins = ", ".join(f"min(md5('{s}:' || tok)) AS h{s}" for s in range(num_hashes))
    sep = " || '|' || "
    band_exprs = [sep.join(f"h{b * rpb + r}" for r in range(rpb)) for b in range(bands)]
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5({expr}) AS band_hash FROM sigs"
        for b, expr in enumerate(band_exprs)
    )
    return f"""
        t AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest({toks}) AS tok FROM documents
            ) WHERE tok <> ''
        ), sigs AS (
            SELECT doc_id, {mins} FROM t GROUP BY doc_id
        ), banded AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
        )"""


def _jaccard_portable_ctes(threshold: float) -> str:
    """CTE block (appended after ``cands``) ending in ``verified(id_a, id_b,
    jaccard)`` — exact 3-gram Jaccard over the candidate pairs."""
    toks = _shingles3_sql()
    return f"""
        grams AS (
            SELECT doc_id, list_distinct({toks}) AS g FROM documents
        ), verified AS (
            SELECT c.id_a, c.id_b,
                   round(CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) > 0
                              THEN len(list_intersect(ga.g, gb.g))
                                   / CAST(len(list_distinct(list_concat(ga.g, gb.g))) AS DOUBLE)
                              ELSE 0.0 END, 6) AS jaccard
            FROM cands c
            JOIN grams ga ON ga.doc_id = c.id_a
            JOIN grams gb ON gb.doc_id = c.id_b
        )"""


now = FIXED_NOW.strftime("%Y-%m-%d %H:%M:%S")
seg_case = _enum_case_sql("c_mktsegment", P.SEGMENT_MAPPING, "ALTRO")
pri_case = _enum_case_sql("o_orderpriority", P.PRIORITY_MAPPING, "ALTRO")
clean = lambda col: (  # noqa: E731 — handle_text as DuckDB SQL
    f"regexp_replace(regexp_replace(regexp_replace(trim(CAST({col} AS VARCHAR)), "
    f"'\\n', '', 'g'), '\\r', '', 'g'), '\\s+', ' ', 'g')"
)
toks = "string_split_regex(trim(lower(text)), '\\s+')"
ntoks = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END"
stop_list = ", ".join(repr(w) for w in TA.LANG_STOPWORDS["en"])
nstop = f"len(list_filter({toks}, t -> list_contains([{stop_list}], t)))"
npunct = "length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))"
stopr = f"round(CASE WHEN {ntoks} > 0 THEN {nstop} / ({ntoks}) ELSE 0.0 END, 6)"
punctr = f"round(CASE WHEN length(text) > 0 THEN ({npunct}) / length(text) ELSE 0.0 END, 6)"
qscore = (
    f"round(0.4 * least(1.0, ({ntoks}) / 100.0) + 0.4 * least(1.0, 5.0 * {stopr})"
    f" + 0.2 * (1.0 - least(1.0, 4.0 * {punctr})), 6)"
)
dot = (
    "list_reduce(list_transform(generate_series(1, len(embedding)), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y)"
)
norm_e = (
    "sqrt(list_reduce(list_transform(generate_series(1, len(embedding)), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x, y) -> x + y))"
)
norm_q = (
    "sqrt(list_reduce(list_transform(generate_series(1, len(qe)), "
    "i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (x, y) -> x + y))"
)

resolutions_sql = f"""
            WITH d AS (
                SELECT doc_id AS id,
                       substr({clean("text")}, 1, 40) AS title,
                       source,
                       CASE WHEN n_chars > 400 THEN sha256({clean("text")}) END AS file_id
                FROM documents
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY title ORDER BY id) AS rn FROM d
            )
            SELECT id,
                   CASE WHEN title IS NULL OR rn = 1 THEN title
                        ELSE title || ' (' || CAST(rn - 1 AS VARCHAR) || ')' END AS title,
                   source, file_id
            FROM r
    """


# Derived contract-gate oracles: every rule recomputed over the SAME SQL
# the pipeline oracle declares, so the gate and the recast can never
# drift apart silently.
def _contract_gate_sql(inner_sql: str, contract) -> str:
    parts = [
        f"SELECT 'not_null:{c.name}' AS rule, "
        f"CAST(COUNT(CASE WHEN {c.name} IS NULL THEN 1 END) AS BIGINT) AS n_bad FROM out"
        for c in contract.columns
        if not c.nullable
    ]
    if contract.primary_key:
        pk = contract.primary_key
        present = " AND ".join(f"{k} IS NOT NULL" for k in pk)
        parts.append(
            f"SELECT 'unique_pk:{','.join(pk)}' AS rule, "
            f"CAST(COUNT(CASE WHEN {present} THEN 1 END)"
            f" - COUNT(DISTINCT ({', '.join(pk)})) AS BIGINT) AS n_bad FROM out"
        )
    return f"WITH out AS ({inner_sql}) " + " UNION ALL ".join(parts)
