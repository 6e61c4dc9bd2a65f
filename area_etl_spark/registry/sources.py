"""Sources and lake: extract and load round trips, file layouts and
manifests (``sources/``), merges, snapshots, CDC replay and history
(``operators/diff``, ``operators/history``)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from area_etl_spark.operators.aggregates import exact_money_sum
from area_etl_spark.operators.asof import asof_join
from area_etl_spark.registry._common import _run_tmp, _tables, SEED_CSV
from area_etl_spark.sources.extract import extract_csv, extract_sql
from area_etl_spark.sources.load import (
    export_csv,
    load_append,
    read_back,
    reload_overwrite,
    write_bucketed,
    write_range_layout,
    write_zorder_layout,
)


def q_extract_sql(spark, sf_dir):
    _tables(spark, sf_dir)["orders"]  # ensure the view is registered
    return extract_sql(
        spark,
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        """,
    )
def o_extract_sql() -> str:
    return """
            SELECT o_orderpriority, COUNT(*) AS n_orders
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY o_orderpriority
        """


def q_extract_csv_schema(spark, sf_dir):
    return extract_csv(spark, SEED_CSV, schema_overrides={"region_code": "string", "population": "bigint"})
def o_extract_csv_schema() -> str:
    return f"""
            SELECT region_code, name, CAST(population AS BIGINT) AS population
            FROM read_csv('{SEED_CSV}', header = true,
                          columns = {{'region_code': 'VARCHAR', 'name': 'VARCHAR', 'population': 'BIGINT'}})
        """


def q_load_roundtrip(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    src = tables["nation"].select("n_nationkey", "n_name", "n_regionkey")
    path = os.path.join(tempfile.mkdtemp(prefix="area_etl_append_"), "nation")
    load_append(src, path)
    return read_back(spark, path)
def o_load_roundtrip() -> str:
    return "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def q_reload_idempotent(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    src = tables["supplier"].select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    path = _run_tmp(spark, "reload", "supplier")
    reload_overwrite(src, path)
    reload_overwrite(src, path)  # idempotent: second overwrite leaves identical state
    return read_back(spark, path)
def o_reload_idempotent() -> str:
    return "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier"


def q_export_csv_roundtrip(spark, sf_dir):
    tables = _tables(spark, sf_dir)
    src = tables["region"].select("r_regionkey", "r_name")
    path = _run_tmp(spark, "export", "region_csv")
    export_csv(src, path)
    out = spark.read.csv(path, header=True, schema="r_regionkey int, r_name string")
    return out
def o_export_csv_roundtrip() -> str:
    return "SELECT r_regionkey, r_name FROM region"


def q_date_dimension(spark, sf_dir):
    """Kimball calendar dimension for 2024, generated with sequence() —
    portable attribute arithmetic, ISO week, Monday-based weekday.  The
    date column rides as timestamp for the driver gate (Spark DATE →
    pandas object dtype, the vocab_encode canonicalizer failure class);
    the operator itself emits a true DATE."""
    from area_etl_spark.sources.extract import date_dimension

    return date_dimension(spark, "2024-01-01", "2024-12-31").withColumn(
        "date", F.col("date").cast("timestamp")
    )
def o_date_dimension() -> str:
    return """
            WITH days AS (
                SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                            DATE '2024-12-31', INTERVAL 1 DAY)) AS DATE) AS d
            )
            SELECT CAST(d AS TIMESTAMP) AS date,
                   CAST(year(d) * 10000 + month(d) * 100 + day(d) AS INT) AS date_key,
                   CAST(year(d) AS INT) AS year,
                   CAST(quarter(d) AS INT) AS quarter,
                   CAST(month(d) AS INT) AS month,
                   CAST(day(d) AS INT) AS day,
                   CAST(weekofyear(d) AS INT) AS iso_week,
                   CAST(isodow(d) - 1 AS INT) AS weekday,
                   isodow(d) - 1 >= 5 AS is_weekend,
                   day(d) = 1 AS is_month_start,
                   d = last_day(d) AS is_month_end
            FROM days
        """


FIXED_WIDTH_SPECS = [
    ("o_orderkey", 12, "right"),
    ("o_custkey", 12, "right"),
    ("o_orderstatus", 4, "left"),
    ("cents", 14, "right"),
    ("o_orderpriority", 20, "left"),
]


def q_fixed_width_roundtrip(spark, sf_dir):
    """Fixed-width (mainframe) interchange: format orders as padded
    records, parse back with substring+trim+cast — the roundtrip is
    lossless so the oracle is the plain projection."""
    from area_etl_spark.sources.extract import format_fixed_width, parse_fixed_width

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderpriority",
    )
    lines = format_fixed_width(o, FIXED_WIDTH_SPECS)
    dtypes = {
        "o_orderkey": "long",
        "o_custkey": "long",
        "o_orderstatus": "string",
        "cents": "long",
        "o_orderpriority": "string",
    }
    return parse_fixed_width(lines, FIXED_WIDTH_SPECS, dtypes)
def o_fixed_width_roundtrip() -> str:
    return """
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderpriority
            FROM orders
        """


def q_warc_roundtrip(spark, sf_dir):
    """WARC crawl-archive ingestion round-trip (sources/warc.py): each
    document becomes a spec-conformant WARC/1.0 response record (exact
    UTF-8 octet Content-Lengths, pure Column arithmetic), then the REAL
    length-prefixed binary parser (Arrow-batched mapInPandas) reads the
    bytes back.  Metadata is SQL-replayable the parse_logs way: the DuckDB
    oracle rebuilds the identical record string and measures the same
    octet lengths — every offset/length/url/status must agree and the
    payload must round-trip byte-exactly to the source text."""
    from area_etl_spark.sources.warc import format_warc_records, parse_warc

    docs = _tables(spark, sf_dir)["documents"].withColumn(
        "url", F.concat(F.lit("http://corpus.example/doc/"), F.col("doc_id"))
    )
    recs = format_warc_records(docs, "url", "text", "doc_id")
    parsed = parse_warc(recs, content_col="warc_bytes", source_col="doc_id")
    return parsed.select(
        F.col("source").cast("long").alias("doc_id"),
        "url",
        "http_status",
        F.length("payload").cast("long").alias("payload_len"),
        "record_length",
        F.decode(F.col("payload"), "UTF-8").alias("text"),
    )
def o_warc_roundtrip() -> str:
    return """
            WITH k AS (SELECT chr(13) || chr(10) AS crlf),
            base AS (
                SELECT doc_id,
                       COALESCE(text, '') AS t,
                       'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS url
                FROM documents
            ), http AS (
                SELECT doc_id, t, url,
                       'HTTP/1.1 200 OK' || crlf
                       || 'Content-Type: text/html' || crlf
                       || 'Content-Length: '
                       || CAST(octet_length(encode(t)) AS VARCHAR)
                       || crlf || crlf || t AS h
                FROM base CROSS JOIN k
            ), rec AS (
                SELECT doc_id, t, url,
                       'WARC/1.0' || crlf
                       || 'WARC-Type: response' || crlf
                       || 'WARC-Record-ID: <urn:id:' || CAST(doc_id AS VARCHAR)
                       || '>' || crlf
                       || 'WARC-Target-URI: ' || url || crlf
                       || 'Content-Type: application/http;msgtype=response' || crlf
                       || 'Content-Length: '
                       || CAST(octet_length(encode(h)) AS VARCHAR)
                       || crlf || crlf || h || crlf || crlf AS r
                FROM http CROSS JOIN k
            )
            SELECT doc_id, url,
                   CAST(200 AS INTEGER) AS http_status,
                   CAST(octet_length(encode(t)) AS BIGINT) AS payload_len,
                   CAST(octet_length(encode(r)) AS BIGINT) AS record_length,
                   t AS text
            FROM rec
        """


def q_parse_logs(spark, sf_dir):
    """Raw text-source ETL: synthesize access-log lines from events (3% of
    them deliberately corrupted), round-trip through spark.read.text, parse
    with regexp_extract into typed columns (NULL on corrupt lines — the
    quarantine contract), aggregate the clean feed per (path, status)."""
    from area_etl_spark.sources.extract import parse_access_logs

    tables = _tables(spark, sf_dir)
    ev = tables["events"]
    line = F.format_string(
        '10.0.%d.1 - u%d [%s] "GET /%s HTTP/1.1" %d %d',
        (F.col("user_id") % 256).cast("int"),
        F.col("user_id").cast("int"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.col("event_type"),
        F.when(F.col("event_id") % 10 == 0, 500)
        .when(F.col("event_id") % 10 == 1, 404)
        .otherwise(200)
        .cast("int"),
        F.greatest(F.round(F.col("value") * 100).cast("long"), F.lit(0)),
    )
    lines = ev.select(
        F.when(F.col("event_id") % 97 == 0, F.concat(F.lit("CORRUPT "), line))
        .otherwise(line)
        .alias("value")
    )
    path = _run_tmp(spark, "logs", "access")
    lines.write.mode("overwrite").text(path)
    parsed = parse_access_logs(spark.read.text(path))
    return (
        parsed.where(F.col("status").isNotNull())
        .groupBy("path", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("ts").alias("first_ts"),
        )
    )
def o_parse_logs() -> str:
    return """
            WITH clean AS (
                SELECT '/' || event_type AS path,
                       CASE WHEN event_id % 10 = 0 THEN 500
                            WHEN event_id % 10 = 1 THEN 404
                            ELSE 200 END AS status,
                       greatest(CAST(round(value * 100) AS BIGINT), 0) AS n_bytes,
                       date_trunc('second', ts) AS ts
                FROM events WHERE event_id % 97 <> 0
            )
            SELECT path, CAST(status AS INTEGER) AS status, COUNT(*) AS n,
                   CAST(SUM(n_bytes) AS BIGINT) AS total_bytes, MIN(ts) AS first_ts
            FROM clean GROUP BY path, status
        """


def _supplier_next_snapshot(tables):
    """Deterministic derived next-version of supplier (shared by the CDC and
    merge queries): drop every 10th, bump every 7th's balance, insert shifted
    copies of every 13th."""
    old = tables["supplier"].select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    survivors = old.where(F.col("s_suppkey") % 10 != 0).withColumn(
        "s_acctbal",
        F.when(F.col("s_suppkey") % 7 == 0, F.col("s_acctbal") + 1000.0).otherwise(F.col("s_acctbal")),
    )
    inserts = old.where(F.col("s_suppkey") % 13 == 0).select(
        (F.col("s_suppkey") + 100000).alias("s_suppkey"), "s_name", "s_nationkey", "s_acctbal"
    )
    return old, survivors.unionByName(inserts)


def q_snapshot_diff(spark, sf_dir):
    """CDC between the supplier snapshot and a derived next version
    (deterministic deletes/updates/inserts)."""
    from area_etl_spark.operators.diff import snapshot_diff

    old, new = _supplier_next_snapshot(_tables(spark, sf_dir))
    return snapshot_diff(old, new, ["s_suppkey"])
def o_snapshot_diff() -> str:
    return """
            WITH old AS (
                SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
            ), new AS (
                SELECT s_suppkey, s_name, s_nationkey,
                       CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 1000.0 ELSE s_acctbal END AS s_acctbal
                FROM supplier WHERE s_suppkey % 10 <> 0
                UNION ALL
                SELECT s_suppkey + 100000, s_name, s_nationkey, s_acctbal
                FROM supplier WHERE s_suppkey % 13 = 0
            )
            SELECT COALESCE(o.s_suppkey, n.s_suppkey) AS s_suppkey,
                   CASE WHEN o.s_suppkey IS NULL THEN 'inserted'
                        WHEN n.s_suppkey IS NULL THEN 'deleted'
                        WHEN o.s_name <> n.s_name OR o.s_nationkey <> n.s_nationkey
                             OR o.s_acctbal <> n.s_acctbal THEN 'updated'
                        ELSE 'unchanged' END AS change_type
            FROM old o FULL OUTER JOIN new n ON o.s_suppkey = n.s_suppkey
            WHERE NOT (o.s_suppkey IS NOT NULL AND n.s_suppkey IS NOT NULL
                       AND o.s_name = n.s_name AND o.s_nationkey = n.s_nationkey
                       AND o.s_acctbal = n.s_acctbal)
        """


def q_merge_upsert(spark, sf_dir):
    """SCD1 merge of the derived next snapshot into supplier: matched keys
    take the new row, old-only keys survive (no delete)."""
    from area_etl_spark.operators.diff import merge_upsert

    old, new = _supplier_next_snapshot(_tables(spark, sf_dir))
    return merge_upsert(old, new, ["s_suppkey"])
def o_merge_upsert() -> str:
    return """
            WITH old AS (
                SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
            ), new AS (
                SELECT s_suppkey, s_name, s_nationkey,
                       CASE WHEN s_suppkey % 7 = 0 THEN s_acctbal + 1000.0 ELSE s_acctbal END AS s_acctbal
                FROM supplier WHERE s_suppkey % 10 <> 0
                UNION ALL
                SELECT s_suppkey + 100000, s_name, s_nationkey, s_acctbal
                FROM supplier WHERE s_suppkey % 13 = 0
            )
            SELECT COALESCE(n.s_suppkey, o.s_suppkey) AS s_suppkey,
                   CASE WHEN n.s_suppkey IS NOT NULL THEN n.s_name ELSE o.s_name END AS s_name,
                   CASE WHEN n.s_suppkey IS NOT NULL THEN n.s_nationkey ELSE o.s_nationkey END AS s_nationkey,
                   CASE WHEN n.s_suppkey IS NOT NULL THEN n.s_acctbal ELSE o.s_acctbal END AS s_acctbal
            FROM old o FULL OUTER JOIN new n ON o.s_suppkey = n.s_suppkey
        """


def q_partitioned_layout_prune(spark, sf_dir):
    """Hive-partitioned lake layout: write documents partitioned by lang,
    read back one partition — the filter resolves to directory pruning (the
    scan's PartitionFilters), no data files of other langs are opened."""
    tables = _tables(spark, sf_dir)
    src = tables["documents"].select("doc_id", "lang", "n_chars")
    path = _run_tmp(spark, "partlayout", "documents")
    reload_overwrite(src, path, partition_by=["lang"])
    out = read_back(spark, path).where(F.col("lang") == "en")
    return out.select("doc_id", F.col("lang"), "n_chars")
def o_partitioned_layout_prune() -> str:
    return """
            SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
        """


def q_export_jsonl_roundtrip(spark, sf_dir):
    """JSONL (json-lines) export + re-read with explicit schema — the
    interchange format LLM corpus tooling expects."""
    tables = _tables(spark, sf_dir)
    src = tables["documents"].select("doc_id", "lang", "source", "text")
    path = _run_tmp(spark, "jsonl", "documents")
    src.write.mode("overwrite").json(path)
    return spark.read.schema("doc_id bigint, lang string, source string, text string").json(path)
def o_export_jsonl_roundtrip() -> str:
    return """
            SELECT doc_id, lang, source, text FROM documents
        """


def q_scd2_intervals(spark, sf_dir):
    """Status-history effective dating (the reference's migrate_udos_history
    shape, core.py:1679-1812): per-user event_type runs → validity intervals."""
    from area_etl_spark.operators.history import scd2_intervals

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select("user_id", "event_id", "ts", F.col("event_type").alias("status"))
    return scd2_intervals(
        ev, key_cols=["user_id"], time_col="ts", attr_cols=["status"], tiebreak_cols=["event_id"]
    )
def o_scd2_intervals() -> str:
    return """
            WITH ordered AS (
                SELECT user_id, event_id, ts, event_type AS status,
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_status,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ), changes AS (
                SELECT user_id, event_id, ts, status FROM ordered
                WHERE rn = 1 OR status IS DISTINCT FROM prev_status
            )
            SELECT user_id, status, ts AS valid_from,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
            FROM changes
        """


def _role_case_sql() -> str:
    from area_etl_spark.operators.history import DEFAULT_ROLE, ROLE_MAPPING

    whens = " ".join(
        f"WHEN lower(trim(c_mktsegment)) = '{k.strip().lower()}' THEN '{v}'"
        for k, v in ROLE_MAPPING.items()
    )
    return f"CASE {whens} ELSE '{DEFAULT_ROLE}' END"


def _role_perms_sql() -> str:
    from area_etl_spark.operators.history import ROLE_PERMISSIONS

    whens = " ".join(
        f"WHEN role = '{r}' THEN [{', '.join(repr(p) for p in perms)}]"
        for r, perms in ROLE_PERMISSIONS.items()
    )
    return f"CASE {whens} ELSE [] END"


def q_role_permissions_fanout(spark, sf_dir):
    """Role-enum mapping + per-role permission fan-out (core.py:1813,1898):
    segment → role (CASE), role → permissions (literal array) → explode."""
    from area_etl_spark.operators.history import role_permission_fanout

    tables = _tables(spark, sf_dir)
    return role_permission_fanout(tables["customer"], "c_mktsegment", "c_custkey")
def o_role_permissions_fanout() -> str:
    return f"""
            SELECT c_custkey, role, unnest({_role_perms_sql()}) AS permission
            FROM (SELECT c_custkey, {_role_case_sql()} AS role FROM customer)
        """


def q_orc_roundtrip(spark, sf_dir):
    """ORC write + read-back + aggregate — the columnar interchange format
    besides parquet that Spark ships a native vectorized reader for."""
    tables = _tables(spark, sf_dir)
    src = tables["supplier"].select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    path = _run_tmp(spark, "orc", "supplier")
    reload_overwrite(src, path, fmt="orc")
    back = read_back(spark, path, fmt="orc")
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        exact_money_sum("s_acctbal").alias("total_acctbal"),
    )
def o_orc_roundtrip() -> str:
    return """
            SELECT s_nationkey, COUNT(*) AS n_suppliers,
                   SUM(CAST(round(s_acctbal * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_acctbal
            FROM supplier GROUP BY s_nationkey
        """


def q_schema_evolution_read(spark, sf_dir):
    """Schema-evolution read: two parquet batches written with DIFFERENT
    column sets, read together under mergeSchema — each batch's missing
    columns surface as NULLs (the lake-format contract for additive
    evolution)."""
    tables = _tables(spark, sf_dir)
    docs = tables["documents"]
    p1 = _run_tmp(spark, "evolve", "v1")
    p2 = _run_tmp(spark, "evolve", "v2")
    docs.select("doc_id", "lang").write.mode("overwrite").parquet(p1)
    docs.select("doc_id", "source", "n_chars").write.mode("overwrite").parquet(p2)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(p1, p2)
        .select("doc_id", "lang", "source", "n_chars")
    )
def o_schema_evolution_read() -> str:
    return """
            SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, source, n_chars FROM documents
        """


def q_bucketed_join(spark, sf_dir):
    """Bucketed co-located fact-fact join READ-BACK (SURVEY 43): orders and
    lineitem saved bucketed by orderkey with the same bucket count, then
    joined — the plan has no shuffle exchange (proven in
    tests/test_bucketing.py); this entry verifies the JOIN RESULT against a
    plain SQL oracle.  The write shuffles once; every subsequent join of the
    two tables is exchange-free — the 100 TB fact-fact strategy."""
    tables = _tables(spark, sf_dir)
    tag = "".join(ch for ch in spark.sparkContext.applicationId if ch.isalnum())
    t_orders, t_line = f"ae_bkt_orders_{tag}", f"ae_bkt_lineitem_{tag}"
    if not spark.catalog.tableExists(t_orders):
        write_bucketed(
            tables["orders"].select("o_orderkey", "o_orderpriority", "o_totalprice"),
            t_orders, ["o_orderkey"], num_buckets=8, sort_cols=["o_orderkey"],
        )
        write_bucketed(
            tables["lineitem"].select("l_orderkey", "l_quantity", "l_extendedprice"),
            t_line, ["l_orderkey"], num_buckets=8, sort_cols=["l_orderkey"],
        )
    o, l = spark.table(t_orders), spark.table(t_line)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_money_sum("l_extendedprice").alias("revenue"),
        )
    )
def o_bucketed_join() -> str:
    return """
            SELECT o.o_orderpriority, COUNT(*) AS n_lines,
                   SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderpriority
        """


def q_range_layout_readback(spark, sf_dir):
    """Range-clustered layout READ-BACK (SURVEY 43b): events written via
    repartitionByRange(user_id) + sortWithinPartitions, re-read with a
    narrow user_id band filter — the layout makes parquet min/max skip all
    other files (span test in tests/test_bucketing.py); this entry verifies
    the filtered content against the unclustered oracle."""
    tables = _tables(spark, sf_dir)
    src = tables["events"].select("event_id", "user_id", "event_type", "value")
    path = _run_tmp(spark, "rangelayout", "events")
    write_range_layout(src, path, ["user_id"], num_partitions=8)
    out = read_back(spark, path).where((F.col("user_id") >= 3) & (F.col("user_id") < 12))
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_money_sum("value").alias("total_value"),
    )
def o_range_layout_readback() -> str:
    return """
            SELECT user_id, COUNT(*) AS n_events,
                   SUM(CAST(round(value * 100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_value
            FROM events WHERE user_id >= 3 AND user_id < 12
            GROUP BY user_id
        """


def q_zorder_layout_readback(spark, sf_dir):
    """Z-order-clustered layout READ-BACK (SURVEY 43c): orders written
    Morton-interleaved on (o_custkey, o_totalprice) quantile buckets, re-read
    with a predicate on BOTH dimensions — the layout keeps min/max tight in
    every interleaved column (file-skip test in tests/test_bucketing.py);
    this entry verifies content equality after the rewrite."""
    tables = _tables(spark, sf_dir)
    src = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    path = _run_tmp(spark, "zorder", "orders")
    write_zorder_layout(src, path, ["o_custkey", "o_totalprice"], bits=4, num_partitions=8)
    out = read_back(spark, path).where(
        (F.col("o_custkey") < 500) & (F.col("o_totalprice") > 100000.0)
    )
    return out.select("o_orderkey", "o_custkey", "o_totalprice")
def o_zorder_layout_readback() -> str:
    return """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_custkey < 500 AND o_totalprice > 100000.0
        """


def q_compact_roundtrip(spark, sf_dir):
    """Small-file compaction READ-BACK (SURVEY 43d): documents deliberately
    shattered into 64 files, compacted to ~250-row files, re-read — row-set
    equality with the source proves the rewrite lost/duplicated nothing
    (file-count assertions live in tests/test_sources.py)."""
    from area_etl_spark.sources.load import compact_files

    tables = _tables(spark, sf_dir)
    src = tables["documents"].select("doc_id", "lang", "source", "n_chars")
    path = _run_tmp(spark, "compact", "documents")
    src.repartition(64).write.mode("overwrite").parquet(path)
    compact_files(spark, path, target_rows_per_file=250)
    return read_back(spark, path)
def o_compact_roundtrip() -> str:
    return """
            SELECT doc_id, lang, source, n_chars FROM documents
        """


def q_file_stats_manifest(spark, sf_dir):
    """Per-file stats manifest (SURVEY 43e), rolled up to the partition key
    so the oracle is layout-independent: documents written hive-partitioned
    by lang, the `_metadata.file_path` manifest built per FILE, then grouped
    by the lang extracted from each file's hive path — per-lang row counts
    and min/max must equal a plain GROUP BY over the source table.  Exercises
    the real manifest mechanics (hidden `_metadata` column, one distributed
    pass) under an engine-checkable contract."""
    from area_etl_spark.sources.load import file_stats_manifest

    tables = _tables(spark, sf_dir)
    src = tables["documents"].select("doc_id", "lang", "n_chars")
    path = _run_tmp(spark, "manifest", "documents")
    reload_overwrite(src, path, partition_by=["lang"])
    man = file_stats_manifest(spark, path, ["doc_id", "n_chars"])
    lang = F.regexp_extract(F.col("file"), r"lang=([^/]+)/", 1)
    return (
        man.groupBy(lang.alias("lang"))
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("min_doc_id").alias("min_doc_id"),
            F.max("max_doc_id").alias("max_doc_id"),
            F.min("min_n_chars").alias("min_n_chars"),
            F.max("max_n_chars").alias("max_n_chars"),
        )
    )
def o_file_stats_manifest() -> str:
    return """
            SELECT lang, COUNT(*) AS n_rows,
                   MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
                   MIN(n_chars) AS min_n_chars, MAX(n_chars) AS max_n_chars
            FROM documents GROUP BY lang
        """


def q_scd2_lookup(spark, sf_dir):
    """Point-in-time dimension lookup: join every event to the SCD2 status
    version valid AT its timestamp — asof machinery against the validity
    intervals (latest valid_from ≤ ts), the standard history-aware join
    the reference's migrate_udos_history consumers need.  Safe here because
    (user_id, ts) is unique in events (no equal-valid_from ambiguity)."""
    from area_etl_spark.operators.history import scd2_intervals

    tables = _tables(spark, sf_dir)
    ev = tables["events"].select("user_id", "event_id", "ts", F.col("event_type").alias("status"))
    dim = scd2_intervals(
        ev, key_cols=["user_id"], time_col="ts", attr_cols=["status"], tiebreak_cols=["event_id"]
    ).select("user_id", "valid_from", "status")
    return asof_join(
        tables["events"].select("event_id", "user_id", "ts"),
        dim,
        on="user_id",
        left_time="ts",
        right_time="valid_from",
        value_cols=["status"],
    ).select("event_id", "user_id", "ts", F.col("status_asof"))
def o_scd2_lookup() -> str:
    return """
            WITH ordered AS (
                SELECT user_id, event_id, ts, event_type AS status,
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_status,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ), changes AS (
                SELECT user_id, ts AS valid_from, status FROM ordered
                WHERE rn = 1 OR status IS DISTINCT FROM prev_status
            )
            SELECT e.event_id, e.user_id, e.ts, s.status AS status_asof
            FROM events e
            ASOF LEFT JOIN changes s
              ON e.user_id = s.user_id AND e.ts >= s.valid_from
        """


def q_apply_cdc_log(spark, sf_dir):
    """Debezium-style CDC log replay WITH tombstones: events become an
    ordered I/U/D operation log on user_id ('error' = delete marker); the
    latest op per key wins and a winning delete removes the key — the
    missing half of keep_latest (an upsert-only compaction resurrects
    deleted keys).  One struct-max hash aggregate, no window."""
    from area_etl_spark.operators.diff import apply_cdc_log

    ev = _tables(spark, sf_dir)["events"].select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc_log(
        ev,
        key_cols=["user_id"],
        seq_cols=["ts", "event_id"],
        payload_cols=["event_type", "value_cents"],
    )
def o_apply_cdc_log() -> str:
    return """
            SELECT user_id, event_type, value_cents
            FROM (SELECT user_id, event_type,
                         CAST(round(value * 100) AS BIGINT) AS value_cents,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1 AND event_type <> 'error'
        """


def q_parse_json_quarantine(spark, sf_dir):
    """Corrupt-record-tolerant JSON ingestion: order payloads rendered as
    JSON (every 7th truncated mid-document), parsed against an explicit
    schema with the _corrupt_record contract — clean rows keep their typed
    fields, broken rows carry ok=false + the raw text for the dead-letter
    sink.  Narrow, codegen-side, no UDF."""
    from area_etl_spark.sources.extract import parse_json_quarantine

    o = _tables(spark, sf_dir)["orders"]
    full = F.concat(
        F.lit('{"key":'),
        F.col("o_orderkey").cast("string"),
        F.lit(',"price_cents":'),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.lit(',"status":"'),
        F.col("o_orderstatus"),
        F.lit('"}'),
    )
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.substring(full, 1, 10))
        .otherwise(full)
        .alias("payload"),
    )
    return parse_json_quarantine(
        raw,
        "payload",
        "key long, price_cents long, status string",
        keep_cols=["o_orderkey"],
    )
def o_parse_json_quarantine() -> str:
    return """
            WITH raw AS (
                SELECT o_orderkey,
                       '{"key":' || CAST(o_orderkey AS VARCHAR)
                       || ',"price_cents":'
                       || CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
                       || ',"status":"' || o_orderstatus || '"}' AS full_json
                FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 <> 0 THEN o_orderkey END AS key,
                   CASE WHEN o_orderkey % 7 <> 0
                        THEN CAST(round(o_totalprice * 100) AS BIGINT) END
                       AS price_cents,
                   CASE WHEN o_orderkey % 7 <> 0 THEN o_orderstatus END AS status,
                   o_orderkey % 7 <> 0 AS ok,
                   CASE WHEN o_orderkey % 7 = 0
                        THEN substr(full_json, 1, 10) END AS corrupt_raw
            FROM raw JOIN orders USING (o_orderkey)
        """


def q_versioned_roundtrip(spark, sf_dir):
    """Manifest-pointer atomic table: publish nation as v1, publish an
    uppercased v2, read back through the manifest — the reader must see
    exactly the second snapshot (the oracle IS v2's content); v1 stays
    readable for time travel within retention."""
    import shutil

    from area_etl_spark.sources.load import read_versioned, write_versioned

    t = _run_tmp(spark, "versioned", "nation")
    shutil.rmtree(t, ignore_errors=True)
    n = _tables(spark, sf_dir)["nation"].select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_versioned(n, t, keep_versions=2)
    write_versioned(
        n.withColumn("n_name", F.upper(F.col("n_name"))), t, keep_versions=2
    )
    return read_versioned(spark, t)
def o_versioned_roundtrip() -> str:
    return """
            SELECT n_nationkey, upper(n_name) AS n_name, n_regionkey
            FROM nation
        """


def q_merge_conditional(spark, sf_dir):
    """Full ANSI MERGE semantics: a customer-dimension refresh where
    matched rows update only when the source balance differs, rows flagged
    by the source delete, unmatched source rows insert, and target-only
    rows survive — one full-outer join + CASE, evaluation order
    delete→update→keep."""
    from area_etl_spark.operators.diff import merge_conditional

    c = _tables(spark, sf_dir)["customer"].select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    # source: every 2nd key with shifted balance, every 9th flagged for
    # delete via bal = -999999; plus brand-new keys past the id range
    src_existing = c.where(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 9 == 0, F.lit(-999999))
        .when(F.col("c_custkey") % 4 == 0, F.col("bal_cents") + 555)
        .otherwise(F.col("bal_cents"))
        .alias("bal_cents"),
    )
    src_new = c.where(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("c_name"),
        F.lit(100).cast("long").alias("bal_cents"),
    )
    src = src_existing.unionByName(src_new)
    return merge_conditional(
        c,
        src,
        ["c_custkey"],
        update_cond=F.col("s_bal_cents") != F.col("t_bal_cents"),
        delete_cond=F.col("s_bal_cents") == -999999,
    )
def o_merge_conditional() -> str:
    return """
            WITH t AS (
                SELECT c_custkey, c_name,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
                FROM customer
            ), s AS (
                SELECT c_custkey, c_name,
                       CASE WHEN c_custkey % 9 = 0 THEN -999999
                            WHEN c_custkey % 4 = 0 THEN bal_cents + 555
                            ELSE bal_cents END AS bal_cents
                FROM t WHERE c_custkey % 2 = 0
                UNION ALL
                SELECT c_custkey + 10000000, 'NEW ' || c_name, 100
                FROM t WHERE c_custkey % 7 = 0
            ), j AS (
                SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
                       t.c_name AS t_name, t.bal_cents AS t_bal,
                       s.c_name AS s_name, s.bal_cents AS s_bal,
                       t.c_custkey IS NOT NULL AS has_t,
                       s.c_custkey IS NOT NULL AS has_s
                FROM t FULL OUTER JOIN s USING (c_custkey)
            )
            SELECT c_custkey,
                   CASE WHEN NOT has_t THEN s_name
                        WHEN has_s AND s_bal <> t_bal THEN s_name
                        ELSE t_name END AS c_name,
                   CASE WHEN NOT has_t THEN s_bal
                        WHEN has_s AND s_bal <> t_bal THEN s_bal
                        ELSE t_bal END AS bal_cents
            FROM j
            WHERE NOT (has_t AND has_s AND s_bal = -999999)
        """


def q_parse_xml(spark, sf_dir):
    """Flat-XML legacy-feed ingestion: orders rendered as XML records
    (entities escaped in the comment field), extracted back to typed
    columns — the oracle is the original values, so extraction + entity
    decode + try_cast must recover every row."""
    from area_etl_spark.sources.extract import parse_xml_flat

    o = _tables(spark, sf_dir)["orders"]
    esc = F.concat(
        F.lit("A&amp;B &lt;"), F.col("o_orderpriority"), F.lit("&gt;")
    )
    xml = F.concat(
        F.lit("<order><key>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</key><cents>"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.lit("</cents><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><comment>"),
        esc,
        F.lit("</comment></order>"),
    )
    return parse_xml_flat(
        o.select("o_orderkey", xml.alias("xml")),
        "xml",
        {"key": "long", "cents": "long", "status": "string", "comment": "string"},
        keep_cols=["o_orderkey"],
    )
def o_parse_xml() -> str:
    return """
            SELECT o_orderkey,
                   o_orderkey AS key,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   o_orderstatus AS status,
                   'A&B <' || o_orderpriority || '>' AS comment
            FROM orders
        """


def q_manifest_pruned_read(spark, sf_dir):
    """Manifest-driven file skipping (Iceberg-style data skipping without
    the table format): orders written range-clustered on o_custkey, a
    file_stats_manifest built once, then a narrow custkey band answered by
    opening ONLY the overlapping files — content proven identical to a
    plain filtered read (the oracle); the I/O skip itself is pytest-proven
    in tests/test_bucketing.py."""
    from area_etl_spark.sources.load import (
        file_stats_manifest,
        read_pruned,
        write_range_layout,
    )

    tables = _tables(spark, sf_dir)
    src = tables["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    path = _run_tmp(spark, "manifestprune", "orders")
    write_range_layout(src, path, ["o_custkey"], num_partitions=8)
    manifest = file_stats_manifest(spark, path, ["o_custkey"])
    out = read_pruned(spark, manifest, "o_custkey", 100, 400)
    return out.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_cents"),
    )
def o_manifest_pruned_read() -> str:
    return """
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM orders
            WHERE o_custkey IS NOT NULL AND o_custkey BETWEEN 100 AND 400
            GROUP BY o_custkey
        """


def q_ivm_agg_update(spark, sf_dir):
    """Incremental view maintenance: a per-customer (n_orders, sum_cents)
    aggregate maintained under a synthetic CDC log (inserts = held-out
    orders, deletes = every 100th, updates = +1000 cents on every 97th)
    WITHOUT rescanning the base table.  The oracle recomputes the final
    state from scratch — equality IS the IVM correctness claim."""
    from area_etl_spark.operators.diff import cdc_to_agg_deltas, ivm_agg_apply

    o = _tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = o.where(F.col("o_orderkey") % 500 != 3)
    state = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("sum_cents")
    )
    nl = F.lit(None).cast("long")
    ins = o.where(F.col("o_orderkey") % 500 == 3).select(
        F.lit("I").alias("op"),
        nl.alias("before_o_custkey"),
        nl.alias("before_cents"),
        F.col("o_custkey").alias("after_o_custkey"),
        F.col("cents").alias("after_cents"),
    )
    dels = base.where(F.col("o_orderkey") % 100 == 1).select(
        F.lit("D").alias("op"),
        F.col("o_custkey").alias("before_o_custkey"),
        F.col("cents").alias("before_cents"),
        nl.alias("after_o_custkey"),
        nl.alias("after_cents"),
    )
    upds = base.where(
        (F.col("o_orderkey") % 97 == 0) & (F.col("o_orderkey") % 100 != 1)
    ).select(
        F.lit("U").alias("op"),
        F.col("o_custkey").alias("before_o_custkey"),
        F.col("cents").alias("before_cents"),
        F.col("o_custkey").alias("after_o_custkey"),
        (F.col("cents") + 1000).alias("after_cents"),
    )
    log = ins.unionByName(dels).unionByName(upds)
    deltas = cdc_to_agg_deltas(log, ["o_custkey"], ["cents"])
    return ivm_agg_apply(state, deltas, ["o_custkey"], ["cents"])
def o_ivm_agg_update() -> str:
    return """
            WITH o AS (
                SELECT o_orderkey, o_custkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            ), final AS (
                SELECT o_custkey,
                       CASE WHEN o_orderkey % 97 = 0 AND o_orderkey % 100 <> 1
                            THEN cents + 1000 ELSE cents END AS cents
                FROM o
                WHERE o_orderkey % 500 <> 3 AND o_orderkey % 100 <> 1
                UNION ALL
                SELECT o_custkey, cents FROM o WHERE o_orderkey % 500 = 3
            )
            SELECT o_custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(cents) AS BIGINT) AS sum_cents
            FROM final GROUP BY o_custkey
        """


def q_bitemporal_asof(spark, sf_dir):
    """Bitemporal point lookups: three constructed belief versions per
    nation (correction at tx 500, valid split at 1000) probed by customer
    (valid_at, tx_at) points — one key-equi join with two interval
    containments, every probe matches at most one version."""
    from area_etl_spark.operators.history import bitemporal_asof

    t = _tables(spark, sf_dir)
    n = t["nation"]
    v1 = n.select(
        F.col("n_nationkey").alias("k"),
        F.lit(0).alias("valid_from"), F.lit(1000).alias("valid_to"),
        F.lit(0).alias("tx_from"), F.lit(500).alias("tx_to"),
        F.concat(F.lit("v1:"), F.col("n_name")).alias("belief"),
    )
    v1c = n.select(
        F.col("n_nationkey").alias("k"),
        F.lit(0).alias("valid_from"), F.lit(1000).alias("valid_to"),
        F.lit(500).alias("tx_from"), F.lit(None).cast("int").alias("tx_to"),
        F.concat(F.lit("v1c:"), F.col("n_name")).alias("belief"),
    )
    v2 = n.select(
        F.col("n_nationkey").alias("k"),
        F.lit(1000).alias("valid_from"), F.lit(None).cast("int").alias("valid_to"),
        F.lit(0).alias("tx_from"), F.lit(None).cast("int").alias("tx_to"),
        F.concat(F.lit("v2:"), F.col("n_name")).alias("belief"),
    )
    versions = v1.unionByName(v1c).unionByName(v2)
    qs = t["customer"].select(
        F.col("c_custkey"),
        F.col("c_nationkey").alias("k"),
        (F.col("c_custkey") % 2000).alias("valid_at"),
        (F.col("c_custkey") * 7 % 1000).alias("tx_at"),
    )
    return bitemporal_asof(versions, qs, ["k"])
def o_bitemporal_asof() -> str:
    return """
            WITH v AS (
                SELECT n_nationkey AS vk, 0 AS vf, 1000 AS vt, 0 AS tf, 500 AS tt,
                       'v1:' || n_name AS belief FROM nation
                UNION ALL
                SELECT n_nationkey, 0, 1000, 500, NULL, 'v1c:' || n_name FROM nation
                UNION ALL
                SELECT n_nationkey, 1000, NULL, 0, NULL, 'v2:' || n_name FROM nation
            ), q AS (
                SELECT c_custkey, c_nationkey AS k,
                       c_custkey % 2000 AS valid_at,
                       c_custkey * 7 % 1000 AS tx_at
                FROM customer
            )
            SELECT q.c_custkey, q.k, q.valid_at, q.tx_at, v.belief
            FROM q LEFT JOIN v
              ON q.k = v.vk
             AND v.vf <= q.valid_at AND (v.vt IS NULL OR q.valid_at < v.vt)
             AND v.tf <= q.tx_at AND (v.tt IS NULL OR q.tx_at < v.tt)
        """
