"""What each workload runs.

The key lists, module lists and the semdedup override live here, not in the
repository's ``bench.py``, so that what this benchmark measures changes only
when these files change.

Every op is one call into the program's public surface:

- ``("runner", modules)`` is one ``area_etl_spark.runner.run`` call over the
  comma-separated modules, landing their tables into a fresh lake directory;
  each pipeline it runs counts as one op;
- ``("query", key)`` builds the ``__spark_entry__.queries()`` plan for
  ``key`` and materializes it through Spark's ``noop`` sink; one op.
"""

from __future__ import annotations

# bench.py's HEADLINE group: relational reads over the shared pipeline,
# join, aggregate and window operators.
ANALYTICS_KEYS = [
    "groupby_agg",
    "multiway_left_join",
    "pipeline_core",
    "pipeline_cronos",
    "pipeline_auac",
    "pipeline_resolutions",
    "pipeline_districts",
    "tpch_q3ish",
    "tpch_q5ish",
    "projection_pipeline",
    "events_windowed_agg",
    "events_sessionization",
    "asof_join",
    "window_rolling_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "text_quality_score",
    "text_fingerprint",
    "text_topk_terms",
    "groupby_rollup",
]

# bench.py's CORPUS group: shuffle-heavy and iterative LLM-corpus operators.
CORPUS_KEYS = [
    "gopher_rules",
    "containment_blocked",
    "dedup_pipeline_portable",
    "semdedup",
    "bm25_search",
    "hybrid_search_rrf",
    "bpe_merges",
    "query_likelihood",
    "kn_perplexity",
    "bcubed_eval",
]

# The reference's migration job, in its main.py order (cronos reads a
# table core lands, so the modules run in one runner call).
ETL_MODULES = "core,poa,cronos,auac"
CORPUS_MODULES = "corpus"


def semdedup_bench(spark, sf_dir):
    """semdedup with k proportional to the corpus (about 375 rows a cluster),
    the production regime; the registry entry fixes k=16."""
    from pyspark.sql import functions as F

    from area_etl_spark.operators import similarity as SIM
    from area_etl_spark.session import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].where(F.col("vec_id") != 0)
    k = max(16, round(emb.count() / 375))
    return SIM.semdedup_prune(
        emb, k=k, iters=3, threshold=0.35, parallelism=spark.sparkContext.defaultParallelism
    )


QUERY_OVERRIDES = {"semdedup": semdedup_bench}

WORKLOADS: dict[str, list[tuple[str, str]]] = {
    "etl_migrate": [("runner", ETL_MODULES)],
    "analytics_read": [("query", k) for k in ANALYTICS_KEYS],
    "corpus_prep": [("runner", CORPUS_MODULES)] + [("query", k) for k in CORPUS_KEYS],
}
