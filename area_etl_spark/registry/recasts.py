"""Recasts and contracts: the migration pipelines of ``plans/pipelines``, the field
transforms of ``functions/transforms`` they are built from, projections, join
chains, relaxed unions and the contract gate of ``plans/contracts``."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from area_etl_spark.functions import transforms as TR
from area_etl_spark.functions.transforms import (
    handle_datetime,
    handle_enum_mapping,
    handle_id,
    handle_json,
    handle_text,
    handle_timestamps,
    handle_year,
)
from area_etl_spark.operators.attachments import with_object_ids
from area_etl_spark.operators.joins import left_join_chain
from area_etl_spark.operators.unions import union_diagonal_relaxed
from area_etl_spark.operators.windows import disambiguate_names
from area_etl_spark.plans import pipelines as P
from area_etl_spark.registry._common import _tables, FIXED_NOW, SEED_CSV
from area_etl_spark.registry._sql import (
    _contract_gate_sql,
    _enum_case_sql,
    clean,
    now,
    pri_case,
    resolutions_sql,
    seg_case,
)
from area_etl_spark.sources.extract import extract_csv


def q_attachment_id_remap(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    docs = tables["documents"].select(
        F.col("doc_id").alias("id"),
        # rows with n_chars above the median-ish cut carry an "attachment"
        F.when(F.col("n_chars") > 400, F.col("text")).alias("attachment"),
    )
    remapped = with_object_ids(docs, "attachment", id_col="id", out_col="file_id")
    return remapped.select("id", "file_id")
def o_attachment_id_remap() -> str:
    return """
            SELECT doc_id AS id,
                   CASE WHEN n_chars > 400 THEN sha256(text) END AS file_id
            FROM documents
        """


def q_timestamps_coalesce(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        F.col("event_id"),
        F.col("ts").alias("CREATION"),
        F.when(F.col("event_id") % 3 != 0, F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("LAST_MOD"),
        F.when(F.col("event_type") == "click", F.lit("S")).otherwise(F.lit("N")).alias("DISABLED"),
    )
    ts = handle_timestamps(current_time=FIXED_NOW)
    return ev.select("event_id", ts["created_at"], ts["updated_at"], ts["disabled_at"])
def o_timestamps_coalesce() -> str:
    return f"""
            SELECT event_id,
                   COALESCE(ts, TIMESTAMP '{now}') AS created_at,
                   COALESCE(CASE WHEN event_id % 3 <> 0 THEN ts + INTERVAL 1 HOUR END,
                            ts, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN (CASE WHEN event_type = 'click' THEN 'S' ELSE 'N' END) = 'S'
                        THEN COALESCE(CASE WHEN event_id % 3 <> 0 THEN ts + INTERVAL 1 HOUR END, ts)
                   END AS disabled_at
            FROM events
        """


def q_id_normalize(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["customer"].select(
        F.col("c_custkey"), handle_id(F.concat(F.lit("  "), F.col("c_name"), F.lit(" ")), "id")
    )
def o_id_normalize() -> str:
    return """
            SELECT c_custkey, lower(trim(CAST('  ' || c_name || ' ' AS VARCHAR))) AS id FROM customer
        """


def q_enum_mapping(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["customer"].select(
        F.col("c_custkey"),
        handle_enum_mapping("c_mktsegment", "segment_it", P.SEGMENT_MAPPING, default="ALTRO"),
    )
def o_enum_mapping() -> str:
    return f"SELECT c_custkey, {seg_case} AS segment_it FROM customer"


def q_text_clean(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["documents"].select(
        F.col("doc_id"), handle_text(F.concat(F.lit("  "), F.col("text"), F.lit("\n")), "clean_text")
    )
def o_text_clean() -> str:
    return f"""
            SELECT doc_id, {clean("'  ' || text || chr(10)")} AS clean_text FROM documents
        """


def q_year_cast(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    year_str = F.concat(F.lit(" "), F.year("o_orderdate").cast("string"), F.lit(" "))
    return tables["orders"].select(F.col("o_orderkey"), handle_year(year_str, "order_year"))
def o_year_cast() -> str:
    return """
            SELECT o_orderkey,
                   CAST(trim(' ' || CAST(year(o_orderdate) AS VARCHAR) || ' ') AS INTEGER) AS order_year
            FROM orders
        """


def q_datetime_normalize(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["lineitem"].select(
        F.col("l_orderkey"), F.col("l_linenumber"), handle_datetime("l_shipdate", "ship_ts")
    )
def o_datetime_normalize() -> str:
    return """
            SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS TIMESTAMP) AS ship_ts FROM lineitem
        """


def q_when_then_derivation(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return tables["orders"].select(
        F.col("o_orderkey"),
        handle_enum_mapping("o_orderpriority", "priority_it", P.PRIORITY_MAPPING, default="ALTRO"),
        F.when(F.col("o_totalprice") < 50000, F.lit("SMALL"))
        .when(F.col("o_totalprice") < 200000, F.lit("MEDIUM"))
        .otherwise(F.lit("LARGE"))
        .alias("order_size"),
    )
def o_when_then_derivation() -> str:
    return f"""
            SELECT o_orderkey, {pri_case} AS priority_it,
                   CASE WHEN o_totalprice < 50000 THEN 'SMALL'
                        WHEN o_totalprice < 200000 THEN 'MEDIUM'
                        ELSE 'LARGE' END AS order_size
            FROM orders
        """


def q_dup_name_disambiguation(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    named = tables["part"].select(F.col("p_partkey").alias("id"), F.col("p_type").alias("name"))
    return disambiguate_names(named, "name", "id")
def o_dup_name_disambiguation() -> str:
    return """
            SELECT id,
                   CASE WHEN name IS NULL OR rn = 1 THEN name
                        ELSE name || ' (' || CAST(rn - 1 AS VARCHAR) || ')' END AS name
            FROM (
                SELECT p_partkey AS id, p_type AS name,
                       row_number() OVER (PARTITION BY p_type ORDER BY p_partkey) AS rn
                FROM part
            )
        """


def q_multiway_left_join(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    orders = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    cust = tables["customer"].select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_name"), F.col("c_nationkey")
    )
    nation = tables["nation"].select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name"), F.col("n_regionkey")
    )
    region = tables["region"].select(F.col("r_regionkey").alias("n_regionkey"), F.col("r_name"))
    joined = left_join_chain(
        orders, [(cust, "o_custkey", False), (nation, "c_nationkey", True), (region, "n_regionkey", True)]
    )
    return joined.select("o_orderkey", "c_name", "n_name", "r_name")
def o_multiway_left_join() -> str:
    return """
            SELECT o_orderkey, c_name, n_name, r_name
            FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey
        """


def q_union_diagonal_relaxed(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    a = tables["orders"].select(F.col("o_orderkey"), F.col("o_totalprice"))
    b = tables["orders"].select(F.col("o_orderkey"), F.col("o_orderpriority"))
    return union_diagonal_relaxed(a, b)
def o_union_diagonal_relaxed() -> str:
    return """
            SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority FROM orders
            UNION ALL
            SELECT o_orderkey, CAST(NULL AS DOUBLE), o_orderpriority FROM orders
        """


def q_projection_pipeline(spark, sf_dir):
    from area_etl_spark.plans.projections import ColumnSpec, ProjectionSpec, apply_projection

    tables = _tables(spark, sf_dir)
    spec = ProjectionSpec(
        columns=[
            ColumnSpec("l_orderkey", "order_id"),
            ColumnSpec("l_linenumber", "line_no", cast="long"),
            ColumnSpec("l_returnflag", "return_flag", fill_null="N"),
            ColumnSpec(F.floor(F.col("l_quantity")).cast("long"), "qty"),
        ],
        filters=[F.col("l_discount") > 0.05],
    )
    return apply_projection(tables["lineitem"], spec)
def o_projection_pipeline() -> str:
    return """
            SELECT l_orderkey AS order_id,
                   CAST(l_linenumber AS BIGINT) AS line_no,
                   COALESCE(l_returnflag, 'N') AS return_flag,
                   CAST(floor(l_quantity) AS BIGINT) AS qty
            FROM lineitem WHERE l_discount > 0.05
        """


def q_pipeline_core(spark, sf_dir):
    return P.core_pipeline(_tables(spark, sf_dir))
def o_pipeline_core() -> str:
    return f"""
            SELECT trim(r_name) AS region_name, trim(n_name) AS nation_name,
                   {seg_case} AS segment_it,
                   CASE WHEN c_acctbal < 0 THEN 'DEBITORE'
                        WHEN c_acctbal < 5000 THEN 'STANDARD'
                        ELSE 'PREMIUM' END AS tier,
                   COUNT(*) AS n_customers,
                   SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_acctbal
            FROM customer
            LEFT JOIN nation ON c_nationkey = n_nationkey
            LEFT JOIN region ON n_regionkey = r_regionkey
            GROUP BY 1, 2, 3, 4
        """


def q_pipeline_poa(spark, sf_dir):
    return P.poa_pipeline(_tables(spark, sf_dir))
def o_pipeline_poa() -> str:
    return """
            SELECT event_id, user_id,
                   CASE WHEN lower(trim(event_type)) = 'click' THEN 'INTERACTION'
                        WHEN lower(trim(event_type)) = 'view' THEN 'IMPRESSION'
                        WHEN lower(trim(event_type)) = 'purchase' THEN 'CONVERSION' END AS event_class,
                   CAST(ts AS TIMESTAMP) AS event_ts,
                   CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM events WHERE event_type IN ('click', 'view', 'purchase')
        """


def q_pipeline_cronos(spark, sf_dir):
    return P.cronos_pipeline(_tables(spark, sf_dir))
def o_pipeline_cronos() -> str:
    return """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS plan_year, n_name AS nation_name,
                   COUNT(*) AS n_orders,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_value
            FROM orders
            LEFT JOIN customer ON o_custkey = c_custkey
            LEFT JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        """


def q_pipeline_auac(spark, sf_dir):
    return P.auac_pipeline(_tables(spark, sf_dir))
def o_pipeline_auac() -> str:
    return f"""
            WITH unioned AS (
                SELECT CAST(p_partkey AS BIGINT) AS id, {clean("p_name")} AS name,
                       p_retailprice AS threshold, 'GENERAL' AS requirement_kind,
                       p_brand AS brand, CAST(NULL AS DOUBLE) AS balance
                FROM part
                UNION ALL
                SELECT CAST(s_suppkey AS BIGINT), {clean("s_name")},
                       CAST(NULL AS DOUBLE), 'SPECIFIC', CAST(NULL AS VARCHAR), s_acctbal
                FROM supplier
                UNION ALL
                SELECT -1, 'ALTRO', CAST(NULL AS DOUBLE), 'FALLBACK',
                       CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
            ), numbered AS (
                SELECT *, row_number() OVER (PARTITION BY name ORDER BY id) AS rn FROM unioned
            )
            SELECT id,
                   CASE WHEN name IS NULL OR rn = 1 THEN name
                        ELSE name || ' (' || CAST(rn - 1 AS VARCHAR) || ')' END AS name,
                   requirement_kind, threshold, brand, balance
            FROM numbered
        """


def q_pipeline_resolutions(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return P.resolutions_pipeline(tables)
def o_pipeline_resolutions() -> str:
    return resolutions_sql


def q_pipeline_specialties(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    return P.specialties_pipeline(tables)
def o_pipeline_specialties() -> str:
    return f"""
            WITH p AS (
                SELECT p_partkey AS id, {clean("p_name")} AS name, p_brand AS brand, p_type
                FROM part
            ), par AS (
                SELECT 'parent:' || brand AS parent_id, brand, COUNT(*) AS n_children
                FROM p GROUP BY brand
            )
            SELECT p.id, p.name, p.brand, par.parent_id, par.n_children,
                   CASE WHEN p.p_type LIKE '%BRASS%' THEN 'METALLO'
                        WHEN p.p_type LIKE '%COPPER%' THEN 'METALLO'
                        ELSE 'ALTRO' END AS material_class
            FROM p JOIN par USING (brand)
        """


def q_pipeline_districts(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    seed = extract_csv(spark, SEED_CSV, schema_overrides={"region_code": "string"})
    return P.districts_pipeline(tables, seed)
def o_pipeline_districts() -> str:
    return f"""
            WITH seed AS (
                SELECT CAST(region_code AS VARCHAR) AS region_code,
                       {clean("name")} AS seed_name,
                       CAST(population AS BIGINT) AS population
                FROM read_csv('{SEED_CSV}', header = true,
                              columns = {{'region_code': 'VARCHAR', 'name': 'VARCHAR', 'population': 'BIGINT'}})
            ), n AS (
                SELECT n_nationkey,
                       lpad(CAST(n_nationkey % 5 + 1 AS VARCHAR), 2, '0') AS region_code
                FROM nation
            )
            SELECT region_code, seed_name, population,
                   COUNT(*) AS n_customers,
                   SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_acctbal
            FROM customer c
            JOIN n ON c.c_nationkey = n.n_nationkey
            JOIN seed USING (region_code)
            GROUP BY 1, 2, 3
        """


def q_pipeline_companies(spark, sf_dir):
    """1:1 recast of migrate_companies (reference core.py:275)."""
    return P.companies_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_companies() -> str:
    return f"""
            WITH sup AS (
                SELECT s_suppkey, s_name, s_nationkey,
                       '27-' || lpad(CAST(s_suppkey AS VARCHAR), 7, '0') || '-'
                           || lpad(CAST(s_suppkey % 100 AS VARCHAR), 2, '0') AS phone,
                       upper(s_name) AS rag_soc,
                       s_suppkey % 5 AS id_natura,
                       lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS cod_comune,
                       ['srl','spa','coop','onlus'][CAST(s_suppkey % 4 AS INT) + 1] AS forma,
                       TIMESTAMP '1994-01-01 00:00:00' + INTERVAL (s_suppkey % 2000) DAY AS creation,
                       CASE WHEN s_suppkey % 3 <> 0
                            THEN TIMESTAMP '1994-01-01 00:00:00' + INTERVAL (s_suppkey % 2000) DAY
                                 + INTERVAL (s_suppkey % 30) DAY END AS last_mod,
                       CASE WHEN s_acctbal < 0 THEN 'S' ELSE 'N' END AS disabled
                FROM supplier
            )
            SELECT lower(trim(CAST(s_suppkey AS VARCHAR))) AS id,
                   {clean('s_name')} AS name,
                   trim(phone) AS code,
                   {clean('rag_soc')} AS business_name,
                   {_enum_case_sql('forma', P.COMPANY_BUSINESS_FORM_MAPPING, None)} AS business_form,
                   {_enum_case_sql('n_name', P.COMPANY_LEGAL_FORM_MAPPING, 'ALTRO')} AS legal_form,
                   {_enum_case_sql('r_name', P.COMPANY_NATURE_MAPPING, 'PRIVATO')} AS nature,
                   substring(replace(phone, '-', ''), 1, 9) AS tax_code,
                   c_custkey AS municipality_id,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at
            FROM sup
            LEFT JOIN nation ON s_nationkey = n_nationkey
            LEFT JOIN region ON id_natura = r_regionkey
            LEFT JOIN customer ON cod_comune = lpad(CAST(c_custkey AS VARCHAR), 6, '0')
        """


def q_pipeline_buildings(spark, sf_dir):
    """1:1 recast of migrate_buildings (reference core.py:478)."""
    return P.buildings_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_buildings() -> str:
    return f"""
            WITH p AS (
                SELECT p_partkey, p_name, p_brand, p_type,
                       'MFGR#' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS mfgr,
                       p_size % 2 AS flag,
                       CASE WHEN p_retailprice > 1500
                            THEN 'DW-' || CAST(p_partkey AS VARCHAR) END AS docway,
                       TIMESTAMP '1992-06-01 00:00:00' + INTERVAL (p_partkey % 3000) DAY AS creation,
                       CASE WHEN p_size > 45 THEN 'S' ELSE 'N' END AS disabled,
                       CASE WHEN p_partkey % 4 <> 0
                            THEN TIMESTAMP '1992-06-01 00:00:00' + INTERVAL (p_partkey % 3000) DAY
                                 + INTERVAL (p_partkey % 90) DAY END AS last_mod
                FROM part
            )
            SELECT lower(trim(CAST(p_partkey AS VARCHAR))) AS id,
                   {clean('p_name')} AS name,
                   trim(mfgr) AS code,
                   lower(trim(p_brand)) AS physical_structure_id,
                   {clean('p_type')} AS owner_business_name,
                   flag = 1 AS is_own_property,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at,
                   COALESCE(CASE WHEN docway IS NOT NULL
                                 THEN '{{"docway_file_id":"' || docway || '"}}' END,
                            '{{}}') AS extra
            FROM p
        """


def q_pipeline_udo_types(spark, sf_dir):
    """1:1 recast of migrate_udo_types (reference core.py:1199)."""
    return P.udo_types_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_udo_types() -> str:
    return f"""
            WITH base AS (
                SELECT p_partkey, p_name, p_brand, p_type,
                       'MFGR#' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS mfgr,
                       CASE WHEN p_size % 2 = 0 THEN 'S' ELSE 'N' END AS osp,
                       CASE WHEN p_size % 5 = 0 THEN 'y' ELSE 'n' END AS sm,
                       CASE WHEN p_size % 3 = 0 THEN 'Y' ELSE 'N' END AS pl,
                       TIMESTAMP '1993-01-01 00:00:00' + INTERVAL (p_partkey % 2500) DAY AS creation,
                       CASE WHEN p_partkey % 7 = 0 THEN 'S' ELSE 'N' END AS disabled,
                       CASE WHEN p_partkey % 2 = 0
                            THEN TIMESTAMP '1993-01-01 00:00:00' + INTERVAL (p_partkey % 2500) DAY
                                 + INTERVAL 30 DAY END AS last_mod
                FROM part
            ),
            bind_scope AS (
                SELECT DISTINCT l_partkey, l_suppkey FROM lineitem WHERE l_linenumber = 1
            ),
            scope AS (
                SELECT s_suppkey, trim(s_name) AS scope_name,
                       'ambito ' || lower(trim(s_name)) AS scope_description,
                       CASE WHEN s_suppkey % 2 = 0 THEN 's' ELSE 'n' END AS agg_disc,
                       CASE WHEN s_suppkey % 3 = 0 THEN 'y' ELSE 'n' END AS agg_branche
                FROM supplier
            ),
            natures AS (
                SELECT l_partkey,
                       list_transform(list_sort(list(DISTINCT l_returnflag)),
                           x -> CASE WHEN x = 'R' THEN 'PRIVATO'
                                     WHEN x = 'A' THEN 'PUBBLICO'
                                     WHEN x = 'N' THEN 'AZIENDA_SANITARIA' ELSE x END) AS nature
                FROM lineitem WHERE l_linenumber = 2 GROUP BY l_partkey
            ),
            flows AS (
                SELECT l_partkey,
                       list_transform(list_sort(list(DISTINCT
                           ['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB']
                               [CAST(l_orderkey % 7 AS INT) + 1])),
                           x -> replace(replace(x, ' ', '_'), '.', '_')) AS flussi
                FROM lineitem WHERE l_linenumber = 3 GROUP BY l_partkey
            )
            SELECT lower(trim(CAST(b.p_partkey AS VARCHAR))) AS id,
                   {clean('p_name')} AS name,
                   trim(mfgr) AS code,
                   trim(p_brand) AS code_name,
                   trim(p_type) AS setting,
                   COALESCE(lower(trim(osp)) IN ('s','y'), FALSE) AS is_hospital,
                   COALESCE(lower(trim(sm)) IN ('s','y'), FALSE) AS is_mental_health,
                   COALESCE(lower(trim(pl)) IN ('s','y'), FALSE) AS has_beds,
                   scope_name, scope_description,
                   COALESCE(lower(trim(agg_disc)) IN ('s','y'), FALSE) AS has_disciplines,
                   COALESCE(lower(trim(agg_branche)) IN ('s','y'), FALSE) AS has_branches,
                   COALESCE('{{' || array_to_string(
                       list_transform(nature, x -> '"' || x || '"'), ',') || '}}',
                       '{{}}') AS company_natures,
                   COALESCE('{{' || array_to_string(
                       list_transform(flussi, x -> '"' || x || '"'), ',') || '}}',
                       '{{}}') AS ministerial_flows,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at
            FROM base b
            LEFT JOIN bind_scope ON b.p_partkey = bind_scope.l_partkey
            LEFT JOIN scope ON bind_scope.l_suppkey = scope.s_suppkey
            LEFT JOIN natures ON b.p_partkey = natures.l_partkey
            LEFT JOIN flows ON b.p_partkey = flows.l_partkey
            WHERE scope_name IS NOT NULL AND scope_name <> ''
        """


def q_pipeline_udos(spark, sf_dir):
    """1:1 recast of migrate_udos (reference core.py:1456)."""
    return P.udos_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_udos() -> str:
    return f"""
            WITH fact AS (
                SELECT o_orderkey, o_custkey AS operational_office_id,
                       'udo ' || lower(o_orderpriority) || ' '
                           || CAST(o_custkey AS VARCHAR) AS comment,
                       o_orderstatus,
                       'Clerk#' || lpad(CAST(o_orderkey % 997 AS VARCHAR), 9, '0') AS clerk,
                       CAST(o_orderkey % 3 AS VARCHAR) AS ship_priority,
                       o_orderpriority,
                       CASE WHEN o_orderstatus = 'F' THEN 'y' ELSE 'n' END AS sio,
                       o_orderkey % 2 AS auac,
                       CASE WHEN o_orderpriority <> '5-LOW' THEN o_custkey % 100 END AS id_uo,
                       CAST(o_orderdate AS TIMESTAMP) AS creation,
                       CASE WHEN o_orderstatus = 'F' THEN 'S' ELSE 'N' END AS disabled,
                       CASE WHEN o_orderkey % 3 <> 0
                            THEN CAST(o_orderdate AS TIMESTAMP) + INTERVAL 1 DAY END AS last_mod
                FROM orders
            ),
            x AS (
                SELECT c_custkey AS operational_office_id, CAST(n_regionkey AS BIGINT) AS company_id
                FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
            ),
            z AS (
                SELECT lower(trim(CAST(s_name AS VARCHAR))) AS operational_unit_id,
                       s_suppkey AS id_uo
                FROM supplier
            )
            SELECT lower(trim(CAST(o_orderkey AS VARCHAR))) AS id,
                   {clean('comment')} AS name,
                   COALESCE(upper(trim(o_orderstatus)), 'NUOVA') AS status,
                   trim(clerk) AS code,
                   CAST(f.operational_office_id AS BIGINT) AS operational_office_id,
                   ship_priority AS floor,
                   CASE WHEN substring(clerk, length(clerk) - 1, 2) <> '00'
                        THEN substring(clerk, length(clerk) - 1, 2) END AS block,
                   trim(o_orderpriority) AS ministerial_code,
                   COALESCE(lower(trim(sio)) IN ('s','y'), FALSE) AS is_sio,
                   auac = 1 AS is_auac,
                   company_id,
                   operational_unit_id,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at
            FROM fact f
            LEFT JOIN x ON f.operational_office_id = x.operational_office_id
            LEFT JOIN z ON f.id_uo = z.id_uo
        """


def q_pipeline_udo_specialties(spark, sf_dir):
    """1:1 recast of migrate_udo_specialties (reference core.py:1576)."""
    return P.udo_specialties_pipeline(_tables(spark, sf_dir))
def o_pipeline_udo_specialties() -> str:
    return """
            WITH branca AS (
                SELECT COALESCE(lower(trim(CASE WHEN l_quantity > 25 THEN 'S' ELSE 'N' END))
                           IN ('s', 'y'), FALSE) AS is_authorized,
                       COALESCE(lower(trim(CASE WHEN l_discount > 0.05 THEN 'y' ELSE 'n' END))
                           IN ('s', 'y'), FALSE) AS is_accredited,
                       CAST(NULL AS INTEGER) AS num_beds,
                       CAST(NULL AS INTEGER) AS num_extra_beds,
                       CAST(NULL AS INTEGER) AS num_mortuary_beds,
                       CAST(NULL AS INTEGER) AS num_accredited_beds,
                       CAST(NULL AS VARCHAR) AS hsp12,
                       CAST(NULL AS VARCHAR) AS clinical_operational_unit_id,
                       CAST(NULL AS VARCHAR) AS clinical_poa_node_id,
                       lower(trim(CAST(l_partkey AS VARCHAR))) AS specialty_id,
                       lower(trim(CAST(l_orderkey AS VARCHAR))) AS udo_id
                FROM lineitem WHERE l_linenumber = 4
            ),
            branca_altro AS (
                SELECT FALSE AS is_authorized, FALSE AS is_accredited,
                       CAST(NULL AS INTEGER) AS num_beds,
                       CAST(NULL AS INTEGER) AS num_extra_beds,
                       CAST(NULL AS INTEGER) AS num_mortuary_beds,
                       CAST(NULL AS INTEGER) AS num_accredited_beds,
                       CAST(NULL AS VARCHAR) AS hsp12,
                       CAST(NULL AS VARCHAR) AS clinical_operational_unit_id,
                       CAST(NULL AS VARCHAR) AS clinical_poa_node_id,
                       lower(trim(CAST(l_suppkey AS VARCHAR))) AS specialty_id,
                       lower(trim(CAST(l_orderkey AS VARCHAR))) AS udo_id
                FROM lineitem WHERE l_linenumber = 5
            ),
            disciplina AS (
                SELECT FALSE AS is_authorized, FALSE AS is_accredited,
                       CAST(round(l_quantity) AS INTEGER) AS num_beds,
                       CAST(round(l_discount * 100) AS INTEGER) AS num_extra_beds,
                       CAST(round(l_tax * 100) AS INTEGER) AS num_mortuary_beds,
                       CAST(l_suppkey % 20 AS INTEGER) AS num_accredited_beds,
                       trim(l_linestatus) AS hsp12,
                       lower(trim(CAST(s_suppkey AS VARCHAR))) AS clinical_operational_unit_id,
                       CAST(NULL AS VARCHAR) AS clinical_poa_node_id,
                       lower(trim(CAST(l_partkey AS VARCHAR))) AS specialty_id,
                       lower(trim(CAST(l_orderkey AS VARCHAR))) AS udo_id
                FROM lineitem
                LEFT JOIN supplier ON l_suppkey % 100 = s_suppkey
                WHERE l_linenumber = 6 AND l_partkey % 11 <> 0
            )
            SELECT * FROM branca
            UNION ALL SELECT * FROM branca_altro
            UNION ALL SELECT * FROM disciplina
        """


def q_pipeline_healthcare_companies(spark, sf_dir):
    """1:1 recast of migrate_healthcare_companies (reference cronos.py:87):
    id/code/name scalar toolkit + broadcast left join to the previously-
    migrated ulss dimension on a text code."""
    return P.healthcare_companies_pipeline(_tables(spark, sf_dir))
def o_pipeline_healthcare_companies() -> str:
    return f"""
            SELECT lower(trim(CAST(s_suppkey AS VARCHAR))) AS id,
                   {clean("'  ' || CAST(s_nationkey + 10 AS VARCHAR) || ' '")} AS code,
                   {clean("s_name")} AS name,
                   u.ulss_id
            FROM supplier
            LEFT JOIN (
                SELECT lower(trim(CAST(n_nationkey AS VARCHAR))) AS ulss_id,
                       CAST(n_nationkey + 10 AS VARCHAR) AS code
                FROM nation WHERE n_nationkey < 20
            ) u ON {clean("'  ' || CAST(s_nationkey + 10 AS VARCHAR) || ' '")} = u.code
        """


def q_pipeline_requirements(spark, sf_dir):
    """1:1 recast of migrate_requirements (reference auac.py:135): 3-way
    conditional state, s/n boolean, conditional-FK + runtime fallback id,
    response-type dim join with text normalization, timestamp toolkit."""
    return P.requirements_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_requirements() -> str:
    return f"""
            WITH base AS (
                SELECT p_partkey, p_name,
                       p_type AS testo, p_brand AS annotations_raw,
                       CASE WHEN p_size % 7 = 0 THEN ' S '
                            WHEN p_size % 7 = 1 THEN 'n' END AS validato,
                       CASE WHEN p_size % 7 = 2 THEN 's' ELSE 'N' END AS annullato,
                       CASE WHEN p_retailprice > 1200 THEN 's' ELSE 'n' END AS irrinunciabile,
                       CASE WHEN p_partkey % 3 = 0 THEN ' Generale ' ELSE 'specifico' END AS tipo,
                       CASE WHEN p_partkey % 11 <> 0
                            THEN 'tax-' || CAST(p_partkey % 5 AS VARCHAR) END AS fk_gen,
                       CASE WHEN p_partkey % 13 <> 0
                            THEN 'tax-' || CAST(p_partkey % 7 AS VARCHAR) END AS fk_spec,
                       'resp-' || CAST(p_partkey % 6 AS VARCHAR) AS fk_resp,
                       TIMESTAMP '1993-03-01 00:00:00' + INTERVAL (p_partkey % 2500) DAY AS creation,
                       CASE WHEN p_partkey % 5 <> 0
                            THEN TIMESTAMP '1993-03-01 00:00:00' + INTERVAL (p_partkey % 2500) DAY
                                 + INTERVAL (p_partkey % 60) DAY END AS last_mod,
                       CASE WHEN p_size > 40 THEN 'S' ELSE 'N' END AS disabled
                FROM part
            ), resp AS (
                SELECT 'resp-' || CAST(r_regionkey AS VARCHAR) AS fk_resp,
                       replace(replace(upper(trim(r_name)), ' ', '_'), '/', '_') AS response_type
                FROM region
            )
            SELECT lower(trim(CAST(p_partkey AS VARCHAR))) AS id,
                   {clean("p_name")} AS name,
                   {clean("testo")} AS text,
                   trim(annotations_raw) AS annotations,
                   CASE WHEN lower(trim(validato)) = 's' THEN 'VALIDATO'
                        WHEN lower(trim(annullato)) = 's' THEN 'ANNULLATO'
                        ELSE 'BOZZA' END AS state,
                   lower(trim(irrinunciabile)) = 's' AS is_required,
                   COALESCE(CASE WHEN lower(trim(tipo)) = 'generale'
                                 THEN fk_gen ELSE fk_spec END,
                            'rtax-fallback') AS requirement_taxonomy_id,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   resp.response_type
            FROM base LEFT JOIN resp USING (fk_resp)
        """


def q_pipeline_requirement_taxonomies(spark, sf_dir):
    """1:1 recast of migrate_requirement_taxonomies (reference auac.py:42):
    lower-trim name filter on the general branch, per-branch is_readonly
    literals, explicit NULL disabled_at, literal '-' fallback row, relaxed
    concat."""
    return P.requirement_taxonomies_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_requirement_taxonomies() -> str:
    return f"""
            WITH tr AS (
                SELECT '  TR-' || CAST(n_nationkey AS VARCHAR) || ' ' AS clientid,
                       CASE WHEN n_nationkey % 5 = 0 THEN ' Generale '
                            ELSE n_name END AS nome,
                       TIMESTAMP '1994-06-01 00:00:00'
                           + INTERVAL (n_nationkey % 900) DAY AS creation,
                       CASE WHEN n_nationkey % 4 <> 0
                            THEN TIMESTAMP '1994-06-01 00:00:00'
                                 + INTERVAL (n_nationkey % 1100) DAY END AS last_mod
                FROM nation
            ), tsr AS (
                SELECT ' TSR-' || CAST(s_suppkey AS VARCHAR) || '  ' AS clientid,
                       s_name AS nome,
                       TIMESTAMP '1993-01-15 00:00:00'
                           + INTERVAL (s_suppkey % 1500) DAY AS creation,
                       CASE WHEN s_suppkey % 3 <> 0
                            THEN TIMESTAMP '1993-01-15 00:00:00'
                                 + INTERVAL (s_suppkey % 1800) DAY END AS last_mod
                FROM supplier
            )
            SELECT lower(trim(clientid)) AS id, trim(nome) AS name,
                   true AS is_readonly, CAST(NULL AS TIMESTAMP) AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at
            FROM tr WHERE lower(trim(nome)) = 'generale'
            UNION ALL
            SELECT lower(trim(clientid)), trim(nome), false, NULL,
                   COALESCE(creation, TIMESTAMP '{now}'),
                   COALESCE(last_mod, creation, TIMESTAMP '{now}')
            FROM tsr
            UNION ALL
            SELECT 'rtax-fallback', '-', false, NULL,
                   TIMESTAMP '{now}', TIMESTAMP '{now}'
        """


def q_pipeline_requirement_lists(spark, sf_dir):
    """1:1 recast of migrate_requirement_lists (reference auac.py:104):
    three stripped scalars (id NOT lowercased) + default timestamp toolkit,
    one narrow projection."""
    return P.requirement_lists_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_requirement_lists() -> str:
    return f"""
            WITH base AS (
                SELECT '  LRT-' || CAST(s_suppkey AS VARCHAR) || ' ' AS clientid,
                       ' ' || s_name || '  ' AS nome,
                       CASE WHEN s_suppkey % 9 <> 0
                            THEN ' DEL-' || CAST(s_suppkey % 40 AS VARCHAR) || ' '
                       END AS id_delibera_templ,
                       TIMESTAMP '1992-09-01 00:00:00'
                           + INTERVAL (s_suppkey % 1400) DAY AS creation,
                       CASE WHEN s_suppkey % 5 <> 0
                            THEN TIMESTAMP '1992-09-01 00:00:00'
                                 + INTERVAL (s_suppkey % 1700) DAY END AS last_mod,
                       CASE WHEN s_acctbal < 0 THEN 'S' ELSE 'N' END AS disabled
                FROM supplier
            )
            SELECT trim(clientid) AS id, trim(nome) AS name,
                   trim(id_delibera_templ) AS resolution_id,
                   CASE WHEN disabled = 'S'
                        THEN COALESCE(last_mod, creation) END AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at
            FROM base
        """


def q_pipeline_procedures(spark, sf_dir):
    """1:1 recast of migrate_procedures (reference auac.py:211): STATO-driven
    disabled ladder (disabled_value='CESTINATA'), CESTINATA→BOZZA status
    rewrite, two-column progressive-code fill_null, DESCR
    upper/space→_/dot-strip dim join.  DATE columns ride as timestamp for
    the driver gate (Spark DATE → pandas object dtype, the vocab_encode
    canonicalizer failure class); the pipeline/contract keep true DATEs."""
    out = P.procedures_pipeline(_tables(spark, sf_dir), FIXED_NOW)
    for c in ("completion_date", "sent_date", "expiration_date"):
        out = out.withColumn(c, F.col(c).cast("timestamp"))
    return out
def o_pipeline_procedures() -> str:
    return f"""
            WITH base AS (
                SELECT ' DOM-' || CAST(o_orderkey AS VARCHAR) || '  ' AS clientid,
                       CASE WHEN o_orderkey % 7 <> 0
                            THEN CAST(o_orderkey + 100000 AS INTEGER) END AS id_domanda,
                       CAST(o_orderkey + 200000 AS INTEGER) AS codice_univoco_nrecord,
                       'comp-' || CAST(o_custkey AS VARCHAR) AS id_titolare_fk,
                       'proc-' || CAST(o_orderkey % 5 AS VARCHAR) AS id_tipo_proc_fk,
                       CASE WHEN o_orderkey % 11 = 0 THEN 'CESTINATA'
                            WHEN o_orderkey % 11 < 4 THEN 'IN COMPILAZIONE'
                            WHEN o_orderkey % 11 < 7 THEN 'INVIATA'
                            WHEN o_orderkey % 11 < 9 THEN 'PRESA IN CARICO'
                            ELSE 'CONCLUSA' END AS stato,
                       CAST(o_orderdate AS TIMESTAMP) AS creation,
                       CASE WHEN o_orderkey % 6 <> 0
                            THEN CAST(o_orderdate AS TIMESTAMP)
                                 + INTERVAL (o_orderkey % 75) DAY END AS last_mod,
                       CASE WHEN o_orderkey % 11 >= 9
                            THEN CAST(o_orderdate AS DATE)
                                 + CAST(o_orderkey % 90 AS INTEGER) END AS data_conclusione,
                       CASE WHEN o_orderkey % 11 >= 4
                            THEN CAST(o_orderdate AS DATE) END AS data_invio_domanda,
                       CAST(o_orderdate AS DATE) + 365 AS data_scadenza,
                       CASE WHEN o_orderkey % 13 <> 0
                            THEN CAST(o_orderkey % 180 AS INTEGER) END AS durata_procedimento,
                       CAST(365 AS INTEGER) AS massima_durata_procedimento,
                       CASE WHEN o_orderkey % 3 <> 0
                            THEN 'PN/' || CAST(o_orderkey AS VARCHAR) END AS numero_procedimento
                FROM orders
            ), tipo_proc AS (
                SELECT trim(' proc-' || CAST(r_regionkey AS VARCHAR) || ' ') AS id_tipo_proc_fk,
                       regexp_replace(regexp_replace(
                           upper(trim(' ' || r_name || ' proc. v2 ')),
                           ' ', '_', 'g'), '\\.', '', 'g') AS procedure_type
                FROM region
            )
            SELECT trim(clientid) AS id,
                   COALESCE(id_domanda, codice_univoco_nrecord) AS progressive_code,
                   id_titolare_fk AS company_id,
                   CASE WHEN replace(trim(stato), ' ', '_') = 'CESTINATA' THEN 'BOZZA'
                        ELSE replace(trim(stato), ' ', '_') END AS status,
                   CAST(data_conclusione AS TIMESTAMP) AS completion_date,
                   CAST(data_invio_domanda AS TIMESTAMP) AS sent_date,
                   CAST(data_scadenza AS TIMESTAMP) AS expiration_date,
                   durata_procedimento AS procedure_duration,
                   massima_durata_procedimento AS max_procedure_duration,
                   numero_procedimento AS procedure_number,
                   CASE WHEN stato = 'CESTINATA'
                        THEN COALESCE(last_mod, creation) END AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   t.procedure_type
            FROM base LEFT JOIN tipo_proc t USING (id_tipo_proc_fk)
        """


def q_json_flatten(spark, sf_dir):
    """Nested semi-structured flattening: a JSON ARRAY-of-structs column
    (synthesized per order) parsed with an explicit schema and exploded to
    one row per element — from_json + explode, the lake-side LATERAL
    json_each."""
    tables = _tables(spark, sf_dir)
    o = tables["orders"]
    js = F.format_string(
        '[{"slot": 1, "amt": %d}, {"slot": 2, "amt": %d}]',
        (F.col("o_orderkey") % 100).cast("int"),
        ((F.col("o_orderkey") * 7) % 100).cast("int"),
    )
    parsed = o.select(
        "o_orderkey",
        F.from_json(js, "array<struct<slot:int, amt:int>>").alias("items"),
    )
    return (
        parsed.select("o_orderkey", F.explode("items").alias("it"))
        .select("o_orderkey", F.col("it.slot").alias("slot"), F.col("it.amt").alias("amt"))
    )
def o_json_flatten() -> str:
    return """
            SELECT o_orderkey,
                   CAST(s.slot AS INTEGER) AS slot, CAST(s.amt AS INTEGER) AS amt
            FROM (
                SELECT o_orderkey,
                       unnest([struct_pack(slot := 1, amt := o_orderkey % 100),
                               struct_pack(slot := 2, amt := (o_orderkey * 7) % 100)]) AS s
                FROM orders
            )
        """


def q_pseudonymize_events(spark, sf_dir):
    """Keyed pseudonymization: user ids replaced by salted md5 tokens that
    preserve referential integrity — per-token event counts still equal
    the per-user ones."""
    from area_etl_spark.functions.transforms import pseudonymize

    ev = _tables(spark, sf_dir)["events"]
    return (
        ev.select(pseudonymize("user_id", "s3cret").alias("user_token"))
        .groupBy("user_token")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
def o_pseudonymize_events() -> str:
    return """
            SELECT substr(md5('s3cret:' || CAST(user_id AS VARCHAR)), 1, 16)
                       AS user_token,
                   COUNT(*) AS n_events
            FROM events GROUP BY 1
        """


def q_contract_gate_users(spark, sf_dir):
    """The runner's DDL-layer gate on the users recast: shape the pipeline
    output to its declared TableContract (reference init_core.sql:476-501
    typing/NOT NULL/PK) and return the per-rule violation counts — a clean
    load is all-zero rows, and the oracle recomputes every rule from the
    same SQL the pipeline_users oracle declares."""
    from area_etl_spark.plans.contracts import (
        PIPELINE_CONTRACTS,
        apply_contract,
        contract_violations,
    )

    out = P.users_pipeline(_tables(spark, sf_dir), FIXED_NOW)
    c = PIPELINE_CONTRACTS["core.users"]
    return contract_violations(apply_contract(out, c), c)
def o_contract_gate_users() -> str:
    from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS

    contract = PIPELINE_CONTRACTS["core.users"]
    return _contract_gate_sql(o_pipeline_users(), contract)


def q_contract_gate_requirements(spark, sf_dir):
    """Same gate over the auac requirements recast (reference
    init_auac.sql requirements table)."""
    from area_etl_spark.plans.contracts import (
        PIPELINE_CONTRACTS,
        apply_contract,
        contract_violations,
    )

    out = P.requirements_pipeline(_tables(spark, sf_dir), FIXED_NOW)
    c = PIPELINE_CONTRACTS["auac.requirement_templates"]
    return contract_violations(apply_contract(out, c), c)
def o_contract_gate_requirements() -> str:
    from area_etl_spark.plans.contracts import PIPELINE_CONTRACTS

    contract = PIPELINE_CONTRACTS["auac.requirement_templates"]
    return _contract_gate_sql(o_pipeline_requirements(), contract)


def q_pipeline_taxonomies(spark, sf_dir):
    """Generic template-table recast (reference core.py:74-270 family):
    three synthetic template tables (region/nation/supplier playing
    REGION_TEMPL / TIPO_TITOLARE_TEMPL / RAGG_DISCPL) through ONE
    parameterized projection, unioned with a kind tag."""
    tables = _tables(spark, sf_dir)

    def audit(df, key):
        creation = F.timestamp_add(
            "DAY", (F.col(key) % 1500).cast("int"), F.lit(datetime(1996, 1, 1))
        )
        return df.withColumns(
            {
                "creation": creation,
                "last_mod": F.when(
                    F.col(key) % 3 != 0,
                    F.timestamp_add("DAY", (F.col(key) % 40).cast("int"), creation),
                ),
                "disabled": F.when(F.col(key) % 9 == 0, F.lit("S")).otherwise(F.lit("N")),
            }
        )

    region = P.template_taxonomy_pipeline(
        audit(tables["region"], "r_regionkey"),
        "r_regionkey", "r_name", "REGION_TEMPL", FIXED_NOW,
        creation_col="creation", last_mod_col="last_mod", disabled_col="disabled",
    )
    company_types = P.template_taxonomy_pipeline(
        audit(tables["nation"], "n_nationkey"),
        "n_nationkey", "n_name", "TIPO_TITOLARE_TEMPL", FIXED_NOW,
        creation_col="creation", last_mod_col="last_mod", disabled_col="disabled",
        flags={
            "is_show_health_director_declaration_poa": F.col("n_nationkey") % 2 == 0,
            "is_active_poa": F.col("n_nationkey") % 5 != 0,
        },
    )
    grouping = P.template_taxonomy_pipeline(
        audit(tables["supplier"], "s_suppkey"),
        "s_suppkey", "s_name", "RAGG_DISCPL", FIXED_NOW,
        creation_col="creation", last_mod_col="last_mod", disabled_col="disabled",
    )
    return region.unionByName(company_types, allowMissingColumns=True).unionByName(
        grouping, allowMissingColumns=True
    )
def o_pipeline_taxonomies() -> str:
    return f"""
            WITH u AS (
                SELECT 'REGION_TEMPL' AS kind, CAST(r_regionkey AS BIGINT) AS key,
                       CAST(r_regionkey AS VARCHAR) AS rawid, r_name AS rawname,
                       CAST(NULL AS BOOLEAN) AS f1, CAST(NULL AS BOOLEAN) AS f2
                FROM region
                UNION ALL
                SELECT 'TIPO_TITOLARE_TEMPL', CAST(n_nationkey AS BIGINT),
                       CAST(n_nationkey AS VARCHAR), n_name,
                       n_nationkey % 2 = 0, n_nationkey % 5 <> 0
                FROM nation
                UNION ALL
                SELECT 'RAGG_DISCPL', s_suppkey, CAST(s_suppkey AS VARCHAR), s_name,
                       CAST(NULL AS BOOLEAN), CAST(NULL AS BOOLEAN)
                FROM supplier
            ),
            a AS (
                SELECT *,
                       TIMESTAMP '1996-01-01 00:00:00' + INTERVAL (key % 1500) DAY AS creation,
                       CASE WHEN key % 3 <> 0
                            THEN TIMESTAMP '1996-01-01 00:00:00' + INTERVAL (key % 1500) DAY
                                 + INTERVAL (key % 40) DAY END AS last_mod,
                       CASE WHEN key % 9 = 0 THEN 'S' ELSE 'N' END AS disabled
                FROM u
            )
            SELECT kind, lower(trim(rawid)) AS id, {clean('rawname')} AS name,
                   f1 AS is_show_health_director_declaration_poa,
                   f2 AS is_active_poa,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at
            FROM a
        """


def q_pipeline_users(spark, sf_dir):
    """1:1 recast of migrate_users (reference core.py:1813)."""
    return P.users_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_users() -> str:
    return f"""
            WITH utente AS (
                SELECT o_orderkey, o_custkey AS id_anagr,
                       'user_' || CAST(o_orderkey % 10000 AS VARCHAR) AS username_cas,
                       ['region','amministratore','op','viewer','','guest']
                           [CAST(o_orderkey % 6 AS INT) + 1] AS ruolo,
                       CASE WHEN o_orderpriority <> '5-LOW' THEN o_custkey % 100 END AS id_uo,
                       CASE WHEN o_orderkey % 4 = 0 THEN 'ORGANIGRAMMA_TREE'
                            ELSE 'UO' END AS provenienza_uo,
                       CASE WHEN o_orderkey % 13 = 0
                            THEN CAST(o_orderdate AS TIMESTAMP) END AS data_disabilitato,
                       CAST(o_orderdate AS TIMESTAMP) AS creation,
                       CASE WHEN o_orderkey % 3 <> 0
                            THEN CAST(o_orderdate AS TIMESTAMP) + INTERVAL 2 DAY END AS last_mod
                FROM orders
            ),
            ana AS (
                SELECT c_custkey AS id_anagr, c_name AS nome_raw, c_nationkey,
                       CASE WHEN c_custkey % 5 <> 0 THEN lower(c_name) END AS email_raw,
                       substring(replace(replace(c_name, '#', ''), ' ', ''), 1, 11) AS cfisc
                FROM customer
            ),
            j AS (
                SELECT u.*, a.nome_raw, a.email_raw, a.cfisc, n.n_name AS birth_place,
                       CASE WHEN provenienza_uo = 'ORGANIGRAMMA_TREE' THEN NULL
                            ELSE id_uo END AS id_uo_fk
                FROM utente u
                LEFT JOIN ana a USING (id_anagr)
                LEFT JOIN nation n ON a.c_nationkey = n.n_nationkey
            )
            SELECT lower(trim(CAST(o_orderkey AS VARCHAR))) AS id,
                   {clean('username_cas')} AS username,
                   COALESCE({_enum_case_sql('ruolo', P.USER_ROLE_MAPPING, 'OPERATOR')},
                            'OPERATOR') AS role,
                   {clean('nome_raw')} AS first_name,
                   COALESCE({clean('email_raw')}, '-') AS email,
                   cfisc AS tax_code,
                   birth_place,
                   lower(trim(CAST(s_suppkey AS VARCHAR))) AS operational_unit_id,
                   data_disabilitato AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at
            FROM j LEFT JOIN supplier ON id_uo_fk = s_suppkey
        """


def q_pipeline_bindings(spark, sf_dir):
    """All five remaining migrate_core binding-table migrations through ONE
    parameterized helper (reference core.py:546, 1536, 1556, 1659, 1917) —
    closes the migrate_core list (core.py:1955-1996) to 100%."""
    return P.bindings_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_bindings() -> str:
    return f"""
            WITH upf AS (
                SELECT 'BIND_UDO_FATT_PROD' AS kind,
                       lower(trim(CAST(l_partkey AS VARCHAR))) AS left_id,
                       lower(trim(CAST(l_orderkey AS VARCHAR))) AS right_id
                FROM lineitem WHERE l_linenumber = 2
            ), tpf AS (
                SELECT 'BIND_TIPO_22_TIPO_FATT',
                       lower(trim(CAST(p_partkey % 50 AS VARCHAR))),
                       lower(trim(CAST(p_partkey % 30 AS VARCHAR)))
                FROM part
            ), ures AS (
                SELECT 'BIND_ATTO_UDO',
                       lower(trim(CAST(l_orderkey AS VARCHAR))),
                       lower(trim(CAST(l_suppkey AS VARCHAR)))
                FROM lineitem WHERE l_linenumber = 3
            ), base AS (
                SELECT * FROM upf UNION ALL SELECT * FROM tpf UNION ALL SELECT * FROM ures
            ), uc AS (
                SELECT 'OPERATORE_MODEL' AS kind,
                       lower(trim(CAST(o_custkey AS VARCHAR))) AS left_id,
                       lower(trim(CAST(o_custkey % 500 AS VARCHAR))) AS right_id,
                       lower(trim(CAST(o_orderkey AS VARCHAR))) AS id,
                       FALSE AS is_legal_representative,
                       CASE WHEN o_orderkey % 13 = 0
                            THEN COALESCE(last_mod, creation) END AS disabled_at,
                       COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                       COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at
                FROM (SELECT o_orderkey, o_custkey,
                             CAST(o_orderdate AS TIMESTAMP) AS creation,
                             CASE WHEN o_orderkey % 3 <> 0
                                  THEN CAST(o_orderdate AS TIMESTAMP) + INTERVAL 2 DAY
                             END AS last_mod
                      FROM orders)
            ), gs AS (
                SELECT 'RAGG_DISCPL' AS kind,
                       lower(trim(CAST(s_suppkey AS VARCHAR))) AS left_id,
                       lower(trim(CAST(s_nationkey AS VARCHAR))) AS right_id,
                       {clean('s_name')} AS name,
                       trim(n_name) AS macroarea
                FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
            )
            SELECT kind, left_id, right_id,
                   CAST(NULL AS VARCHAR) AS id,
                   CAST(NULL AS BOOLEAN) AS is_legal_representative,
                   CAST(NULL AS TIMESTAMP) AS disabled_at,
                   CAST(NULL AS TIMESTAMP) AS created_at,
                   CAST(NULL AS TIMESTAMP) AS updated_at,
                   CAST(NULL AS VARCHAR) AS name, CAST(NULL AS VARCHAR) AS macroarea
            FROM base
            UNION ALL
            SELECT kind, left_id, right_id, id, is_legal_representative,
                   disabled_at, created_at, updated_at,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM uc
            UNION ALL
            SELECT kind, left_id, right_id, CAST(NULL AS VARCHAR),
                   CAST(NULL AS BOOLEAN), CAST(NULL AS TIMESTAMP),
                   CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
                   name, macroarea
            FROM gs
        """


def q_pipeline_physical_structures(spark, sf_dir):
    """1:1 recast of migrate_physical_structures (reference core.py:367)."""
    return P.physical_structures_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_physical_structures() -> str:
    return f"""
            WITH base AS (
                SELECT c_custkey, c_name, c_nationkey,
                       'PF' || lpad(CAST(c_custkey % 500 AS VARCHAR), 4, '0') AS code,
                       CASE WHEN c_custkey % 3 = 0
                            THEN 'PFS-' || CAST(c_custkey AS VARCHAR) END AS secondary_code,
                       CASE WHEN c_acctbal > 5000
                            THEN 'DW-' || CAST(c_custkey AS VARCHAR) END AS docway,
                       CASE WHEN c_custkey % 5 = 0
                            THEN 'area-' || CAST(c_custkey % 7 AS VARCHAR) END AS area,
                       TIMESTAMP '1995-03-15 00:00:00' + INTERVAL (c_custkey % 2200) DAY AS creation,
                       CASE WHEN c_custkey % 4 <> 0
                            THEN TIMESTAMP '1995-03-15 00:00:00' + INTERVAL (c_custkey % 2200) DAY
                                 + INTERVAL (c_custkey % 45) DAY END AS last_mod,
                       CASE WHEN c_acctbal < 0 THEN 'S' ELSE 'N' END AS disabled
                FROM customer
            )
            SELECT lower(trim(CAST(c_custkey AS VARCHAR))) AS id,
                   {clean('c_name')} AS name,
                   trim(code) AS code,
                   secondary_code,
                   lower(trim(CAST(c_nationkey AS VARCHAR))) AS district_id,
                   lower(trim(CAST(c_custkey % 100 AS VARCHAR))) AS company_id,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at,
                   CASE WHEN docway IS NULL AND area IS NULL THEN '{{}}'
                        ELSE '{{"docway_file_id": ' || COALESCE('"' || docway || '"', 'null')
                             || ', "area_id": ' || COALESCE('"' || area || '"', 'null') || '}}'
                   END AS extra
            FROM base
        """


def q_pipeline_operational_offices(spark, sf_dir):
    """1:1 recast of migrate_operational_offices (reference core.py:416)."""
    return P.operational_offices_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_operational_offices() -> str:
    return f"""
            WITH sede AS (
                SELECT o_orderkey, o_orderpriority,
                       lpad(CAST(o_custkey AS VARCHAR), 6, '0') AS istat,
                       lower(trim(CAST(o_custkey AS VARCHAR))) AS physical_structure_id,
                       CAST(o_custkey % 25 AS INT) AS id_tipo,
                       CAST(o_orderdate AS TIMESTAMP) AS creation,
                       CASE WHEN o_orderkey % 5 <> 0
                            THEN CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 DAY END AS last_mod,
                       CASE WHEN o_orderkey % 11 = 0 THEN 'S' ELSE 'N' END AS disabled
                FROM orders
            ),
            muni AS (
                SELECT lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS istat,
                       c_custkey AS municipality_id
                FROM customer
            ),
            tipo AS (
                SELECT CAST(n_nationkey AS INT) AS id_tipo, n_name AS physical_point_type
                FROM nation
            )
            SELECT lower(trim(CAST(o_orderkey AS VARCHAR))) AS id,
                   {clean("'sede ' || lower(o_orderpriority) || ' ' || CAST(o_orderkey AS VARCHAR)")} AS name,
                   physical_structure_id,
                   'via ' || lower(o_orderpriority) AS street_name,
                   CAST(o_orderkey % 200 AS VARCHAR) AS street_number,
                   lpad(CAST(o_orderkey % 100000 AS VARCHAR), 5, '0') AS zip_code,
                   o_orderkey % 2 = 0 AS is_main_address,
                   physical_point_type,
                   35.0 + CAST(o_orderkey % 1500 AS DOUBLE) / 100.0 AS lat,
                   6.0 + CAST(o_orderkey % 1300 AS DOUBLE) / 100.0 AS lon,
                   CASE WHEN o_orderkey % 6 <> 0
                        THEN 'top-' || CAST(o_orderkey % 50 AS VARCHAR) END AS toponym_id,
                   municipality_id,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at
            FROM sede
            LEFT JOIN muni USING (istat)
            LEFT JOIN tipo USING (id_tipo)
        """


def q_pipeline_production_factors(spark, sf_dir):
    """1:1 recast of migrate_production_factors (reference core.py:1119)."""
    return P.production_factors_pipeline(_tables(spark, sf_dir), FIXED_NOW)
def o_pipeline_production_factors() -> str:
    return f"""
            WITH base AS (
                SELECT l_orderkey * 10 + l_linenumber AS rid,
                       CAST(l_partkey % 40 AS VARCHAR) AS tipo,
                       CASE WHEN l_orderkey % 7 = 0 THEN ''
                            WHEN l_orderkey % 7 = 1 THEN '?'
                            WHEN l_orderkey % 7 = 2 THEN NULL
                            ELSE CAST(CAST(round(l_quantity) AS INT) AS VARCHAR) END AS valore,
                       CASE WHEN l_linenumber % 5 = 0 THEN ' '
                            WHEN l_linenumber % 5 = 1 THEN NULL
                            ELSE CAST(l_linenumber * 10 AS VARCHAR) END AS valore3,
                       CASE WHEN l_orderkey % 9 = 0 THEN 'NUL'
                            WHEN l_orderkey % 9 = 1 THEN 'room   ' || l_returnflag
                            ELSE 'room ' || l_returnflag END AS valore2,
                       CASE WHEN l_linenumber % 4 = 0 THEN 'NUL'
                            ELSE 'rc  ' || l_linestatus END AS descr,
                       CAST(l_shipdate AS TIMESTAMP) AS creation,
                       CASE WHEN l_orderkey % 2 = 0
                            THEN CAST(l_shipdate AS TIMESTAMP) + INTERVAL 7 DAY END AS last_mod,
                       CASE WHEN l_returnflag = 'R' THEN 'S' ELSE 'N' END AS disabled
                FROM lineitem
            )
            SELECT lower(trim(CAST(rid AS VARCHAR))) AS id,
                   lower(trim(tipo)) AS production_factor_type_id,
                   CASE WHEN valore IS NULL OR trim(valore) IN ('', '?') THEN 0
                        ELSE CAST(trim(valore) AS INT) END AS num_beds,
                   CASE WHEN valore3 IS NULL OR trim(valore3) IN ('', '?') THEN 0
                        ELSE CAST(trim(valore3) AS INT) END AS num_hospital_beds,
                   CASE WHEN replace(regexp_replace(trim(valore2), '\\s+', ' ', 'g'), chr(0), '') = 'NUL'
                        THEN NULL
                        ELSE replace(regexp_replace(trim(valore2), '\\s+', ' ', 'g'), chr(0), '')
                   END AS room_name,
                   CASE WHEN replace(regexp_replace(trim(descr), '\\s+', ' ', 'g'), chr(0), '') = 'NUL'
                        THEN NULL
                        ELSE replace(regexp_replace(trim(descr), '\\s+', ' ', 'g'), chr(0), '')
                   END AS room_code,
                   CASE WHEN disabled = 'S' THEN COALESCE(last_mod, creation) END AS disabled_at,
                   COALESCE(creation, TIMESTAMP '{now}') AS created_at,
                   COALESCE(last_mod, creation, TIMESTAMP '{now}') AS updated_at
            FROM base
        """


def q_contract_enforce(spark, sf_dir):
    """Target-DDL contract applied to the resolutions pipeline output."""
    from area_etl_spark.plans.contracts import RESOLUTIONS_CONTRACT, apply_contract

    tables = _tables(spark, sf_dir)
    return apply_contract(P.resolutions_pipeline(tables), RESOLUTIONS_CONTRACT)
def o_contract_enforce() -> str:
    return f"""
            SELECT CAST(id AS BIGINT) AS id,
                   COALESCE(CAST(title AS VARCHAR), '(untitled)') AS title,
                   COALESCE(CAST(source AS VARCHAR), 'unknown') AS source,
                   CAST(file_id AS VARCHAR) AS file_id
            FROM ({resolutions_sql})
        """


def q_contract_violations(spark, sf_dir):
    from area_etl_spark.plans.contracts import RESOLUTIONS_CONTRACT, apply_contract, contract_violations

    tables = _tables(spark, sf_dir)
    return contract_violations(
        apply_contract(P.resolutions_pipeline(tables), RESOLUTIONS_CONTRACT), RESOLUTIONS_CONTRACT
    )
def o_contract_violations() -> str:
    return f"""
            WITH enforced AS (
                SELECT CAST(id AS BIGINT) AS id,
                       COALESCE(CAST(title AS VARCHAR), '(untitled)') AS title,
                       COALESCE(CAST(source AS VARCHAR), 'unknown') AS source,
                       CAST(file_id AS VARCHAR) AS file_id
                FROM ({resolutions_sql})
            )
            SELECT 'not_null:id' AS rule, CAST(COUNT(CASE WHEN id IS NULL THEN 1 END) AS BIGINT) AS n_bad FROM enforced
            UNION ALL
            SELECT 'not_null:title', CAST(COUNT(CASE WHEN title IS NULL THEN 1 END) AS BIGINT) FROM enforced
            UNION ALL
            SELECT 'not_null:source', CAST(COUNT(CASE WHEN source IS NULL THEN 1 END) AS BIGINT) FROM enforced
            UNION ALL
            SELECT 'unique_pk:id', CAST(COUNT(id) - COUNT(DISTINCT id) AS BIGINT) FROM enforced
        """


def q_json_extract(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    ev = tables["events"].select(
        "event_id", handle_json("props", "k INT", "props_parsed")
    )
    return ev.select("event_id", F.col("props_parsed.k").alias("k"))
def o_json_extract() -> str:
    return """
            SELECT event_id, CAST(props->>'k' AS INTEGER) AS k FROM events
        """


def q_quarantine_rows(spark, sf_dir):
    """Bad-row quarantine: customers violating business rules, tagged with
    every rule they break — the distributed replacement for the reference's
    abort-on-bad-row strict casts."""
    from area_etl_spark.plans.contracts import quarantine_rows

    tables = _tables(spark, sf_dir)
    rules = {
        "non_negative_balance": F.col("c_acctbal") >= 0,
        "known_segment": F.col("c_mktsegment").isin(
            "BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"
        ),
        "valid_nation": F.col("c_nationkey").between(0, 24),
    }
    return quarantine_rows(tables["customer"], rules).select(
        "c_custkey", "c_acctbal", "c_mktsegment", "quarantine_reasons"
    )
def o_quarantine_rows() -> str:
    return """
            -- NULL-safe like the Spark side: coalesce(rule, FALSE) so a rule
            -- that cannot be evaluated quarantines the row instead of passing
            SELECT c_custkey, c_acctbal, c_mktsegment,
                   array_to_string(list_filter([
                       CASE WHEN NOT coalesce(c_mktsegment IN ('BUILDING', 'AUTOMOBILE',
                                              'MACHINERY', 'HOUSEHOLD', 'FURNITURE'), FALSE)
                            THEN 'known_segment' END,
                       CASE WHEN NOT coalesce(c_acctbal >= 0, FALSE) THEN 'non_negative_balance' END,
                       CASE WHEN NOT coalesce(c_nationkey BETWEEN 0 AND 24, FALSE) THEN 'valid_nation' END
                   ], x -> x IS NOT NULL), ',') AS quarantine_reasons
            FROM customer
            WHERE NOT coalesce(c_acctbal >= 0, FALSE)
               OR NOT coalesce(c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY',
                                                'HOUSEHOLD', 'FURNITURE'), FALSE)
               OR NOT coalesce(c_nationkey BETWEEN 0 AND 24, FALSE)
        """


def q_text_strip_accents(spark, sf_dir):
    """Accent folding over planted Italian-accented names (table-driven
    translate, no UDF) — the normalization the reference's master-data
    equality keys need ('Località' ≡ 'Localita')."""
    from area_etl_spark.functions.transforms import strip_accents

    tables = _tables(spark, sf_dir)
    salted = tables["customer"].select(
        "c_custkey",
        F.concat(F.lit("Località Tùrìn é "), F.col("c_name"), F.lit(" ÀÈÌÒÙ çñ")).alias("raw"),
    )
    return salted.select("c_custkey", "raw", strip_accents("raw", "folded"))
def o_text_strip_accents() -> str:
    return f"""
            SELECT c_custkey,
                   'Località Tùrìn é ' || c_name || ' ÀÈÌÒÙ çñ' AS raw,
                   translate('Località Tùrìn é ' || c_name || ' ÀÈÌÒÙ çñ',
                             '{TR.ACCENT_SRC}', '{TR.ACCENT_DST}') AS folded
            FROM customer
        """


def q_expectation_suite(spark, sf_dir):
    """Expectation-suite table monitor (the Great Expectations slot): value
    bounds, null-rate caps, distinct floors, and enum membership over
    orders — every rule folded into ONE aggregation pass, one report row
    per rule with observed vs bound."""
    from area_etl_spark.plans.contracts import Expectation, expect

    o = _tables(spark, sf_dir)["orders"]
    return expect(
        o,
        [
            Expectation("o_totalprice", min_value=0, max_value=1_000_000),
            Expectation("o_orderkey", max_null_frac=0.0, min_distinct=100),
            Expectation(
                "o_orderstatus", allowed_values=["F", "O", "P"], max_null_frac=0.0
            ),
            Expectation("o_custkey", min_value=1),
        ],
    )
def o_expectation_suite() -> str:
    return """
            WITH s AS (
                SELECT COUNT(*) AS n,
                       CAST(MIN(o_totalprice) AS DOUBLE) AS min_tp,
                       CAST(MAX(o_totalprice) AS DOUBLE) AS max_tp,
                       SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nulls_k,
                       COUNT(DISTINCT o_orderkey) AS nd_k,
                       SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nulls_st,
                       SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                                 AND o_orderstatus IS NOT NULL
                                THEN 1 ELSE 0 END) AS bad_st,
                       CAST(MIN(o_custkey) AS DOUBLE) AS min_ck
                FROM orders
            )
            SELECT 'o_totalprice' AS "column", 'min_value' AS rule,
                   min_tp AS observed, CAST(0.0 AS DOUBLE) AS bound, min_tp >= 0 AS ok FROM s
            UNION ALL
            SELECT 'o_totalprice', 'max_value', max_tp, CAST(1000000.0 AS DOUBLE),
                   max_tp <= 1000000 FROM s
            UNION ALL
            SELECT 'o_orderkey', 'max_null_frac',
                   round(nulls_k / n, 6) + 0.0, CAST(0.0 AS DOUBLE),
                   round(nulls_k / n, 6) + 0.0 <= 0.0 FROM s
            UNION ALL
            SELECT 'o_orderkey', 'min_distinct', CAST(nd_k AS DOUBLE), CAST(100.0 AS DOUBLE),
                   nd_k >= 100 FROM s
            UNION ALL
            SELECT 'o_orderstatus', 'max_null_frac',
                   round(nulls_st / n, 6) + 0.0, CAST(0.0 AS DOUBLE),
                   round(nulls_st / n, 6) + 0.0 <= 0.0 FROM s
            UNION ALL
            SELECT 'o_orderstatus', 'allowed_values', CAST(bad_st AS DOUBLE),
                   CAST(0.0 AS DOUBLE), bad_st = 0 FROM s
            UNION ALL
            SELECT 'o_custkey', 'min_value', min_ck, CAST(1.0 AS DOUBLE), min_ck >= 1 FROM s
        """


def q_parse_money(spark, sf_dir):
    """Dirty money-string parsing: order totals rendered in four formats
    ($1,234.56 / €1.234,56 / 1234.56 / "1234,56 EUR") from exact integer
    cents, then parsed back — the oracle is the ORIGINAL cents, so the
    parse must recover every row exactly."""
    from area_etl_spark.functions.transforms import parse_money

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_c"),
    )
    intpart = F.format_number((F.col("_c") / 100).cast("long"), 0)
    decpart = F.lpad((F.col("_c") % 100).cast("string"), 2, "0")
    us = F.concat(intpart, F.lit("."), decpart)
    eu = F.translate(us, ",.", ".,")
    style = (F.col("o_orderkey") % 4).cast("int")
    dirty = (
        F.when(style == 0, F.concat(F.lit("$"), us))
        .when(style == 1, F.concat(F.lit("€"), eu))
        .when(style == 2, F.regexp_replace(us, ",", ""))
        .otherwise(
            F.concat(F.lit(" "), F.regexp_replace(eu, r"\.", ""), F.lit(" EUR"))
        )
    )
    return o.select(
        "o_orderkey", style.alias("style"), dirty.alias("raw")
    ).select("o_orderkey", "style", parse_money("raw"))
def o_parse_money() -> str:
    return """
            SELECT o_orderkey,
                   CAST(o_orderkey % 4 AS INT) AS style,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        """


# Italian national holiday calendar over the TPC-H date range (orders span
# 1992-01-01..1998-08-02, spans reach +59 days): the 10 fixed national
# holidays per year plus the movable Easter Mondays (Pasquetta; Gregorian
# computus dates, public knowledge).  The modern calendar is applied
# uniformly — the pre-2001 history of the June 2 observance is out of
# scope for the demo.  Used by BOTH q_business_days_holidays and its
# oracle so the two sides share one literal dimension.
_EASTER_MONDAYS = [
    "1992-04-20", "1993-04-12", "1994-04-04", "1995-04-17",
    "1996-04-08", "1997-03-31", "1998-04-13",
]
_IT_FIXED_HOLIDAYS = [
    "01-01", "01-06", "04-25", "05-01", "06-02",
    "08-15", "11-01", "12-08", "12-25", "12-26",
]


def _italian_holidays() -> list[str]:
    return sorted(
        [f"{y}-{md}" for y in range(1992, 1999) for md in _IT_FIXED_HOLIDAYS]
        + _EASTER_MONDAYS
    )


def q_business_days_holidays(spark, sf_dir):
    """Holiday-calendar SLA tier (VERDICT r12 item 5): weekday count in
    [orderdate, orderdate + k) minus Italian public holidays falling on
    weekdays — the reference's public-sector deadline arithmetic
    (is_open_only_on_business_days, ref src/core.py:1493; AUAC
    expiration_date, ref src/auac.py:241).  The calendar ships as a plan
    literal (the degenerate broadcast dimension — no join, no shuffle);
    the oracle recounts INDEPENDENTLY day-by-day with generate_series +
    isodow + list_contains."""
    from area_etl_spark.functions.transforms import business_days_between_holidays

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("start_day"),
        F.date_add(
            F.col("o_orderdate").cast("date"), (F.col("o_orderkey") % 60).cast("int")
        ).alias("end_day"),
    )
    return o.select(
        "o_orderkey",
        F.col("start_day").cast("timestamp").alias("start_day"),
        F.col("end_day").cast("timestamp").alias("end_day"),
        business_days_between_holidays(
            "start_day", "end_day", _italian_holidays()
        ).alias("business_days"),
    )
def o_business_days_holidays() -> str:
    return f"""
            SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS start_day,
                   CAST(CAST(o_orderdate AS DATE)
                        + CAST(o_orderkey % 60 AS INTEGER) AS TIMESTAMP) AS end_day,
                   CAST((SELECT COUNT(*) FROM unnest(range(0, o_orderkey % 60)) AS v(i)
                         WHERE isodow(CAST(o_orderdate AS DATE)
                                      + CAST(i AS INTEGER)) <= 5
                           AND NOT list_contains(
                                   CAST({_italian_holidays()!r} AS DATE[]),
                                   CAST(o_orderdate AS DATE) + CAST(i AS INTEGER)))
                        AS BIGINT) AS business_days
            FROM orders
        """


def q_business_days(spark, sf_dir):
    """SLA working-day arithmetic: weekday count in [orderdate,
    orderdate + k) per order via the closed-form full-weeks + bounded
    remainder fold; the oracle counts the days INDEPENDENTLY with
    generate_series + isodow."""
    from area_etl_spark.functions.transforms import business_days_between

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("start_day"),
        F.date_add(F.col("o_orderdate").cast("date"), (F.col("o_orderkey") % 60).cast("int")).alias(
            "end_day"
        ),
    )
    return o.select(
        "o_orderkey",
        F.col("start_day").cast("timestamp").alias("start_day"),
        F.col("end_day").cast("timestamp").alias("end_day"),
        business_days_between("start_day", "end_day").alias("business_days"),
    )
def o_business_days() -> str:
    return """
            SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS start_day,
                   CAST(CAST(o_orderdate AS DATE)
                        + CAST(o_orderkey % 60 AS INTEGER) AS TIMESTAMP) AS end_day,
                   CAST((SELECT COUNT(*) FROM unnest(range(0, o_orderkey % 60)) AS v(i)
                         WHERE isodow(CAST(o_orderdate AS DATE)
                                      + CAST(i AS INTEGER)) <= 5) AS BIGINT)
                       AS business_days
            FROM orders
        """


def q_mask_columns(spark, sf_dir):
    """Column masking for a governed release: customer name fully masked,
    phone-like key partially (last 4 kept), account balance hash-tokenized
    (referential integrity preserved), nation nulled."""
    from area_etl_spark.functions.transforms import mask_columns

    c = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("string").alias("bal"),
        F.col("c_nationkey").cast("string").alias("nat"),
        F.concat(F.lit("555-01"), F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0")).alias(
            "phone"
        ),
    )
    return mask_columns(
        c, {"c_name": "full", "phone": "partial", "bal": "hash", "nat": "null"}
    )
def o_mask_columns() -> str:
    return """
            SELECT c_custkey,
                   CASE WHEN c_name IS NOT NULL THEN '***' END AS c_name,
                   CASE WHEN c_acctbal IS NOT NULL
                        THEN substr(md5('mask-v1:' || CAST(c_acctbal AS VARCHAR)),
                                    1, 16) END AS bal,
                   CAST(NULL AS VARCHAR) AS nat,
                   repeat('*', 6) || substr(
                       '555-01' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0'),
                       7, 4) AS phone
            FROM customer
        """
