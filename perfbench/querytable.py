"""The 20 headline queries: name → callable, plus how each output is checked.

Thirteen names are query-registry keys; seven are the standalone public
functions the headline has always timed in place of the registry
composites that later absorbed them. `headline_calls()` is the one table
of these 20 callables; it imports lazily so importing this module starts
nothing.

Checks (`CHECKS`), run outside the timed region:
- ("oracle", None): the registry's DuckDB twin in `queries.ORACLE`, by
  row count, column names and an order-insensitive value hash;
- ("rows", sql): the row count equals the DuckDB count `sql`;
- ("min_rows", sql): the row count is at least the DuckDB count `sql`
  (approximate operators whose exact output has no SQL twin).
"""

from __future__ import annotations

from collections.abc import Callable

HEADLINE = (
    # relational core
    "standings_recompute", "pricing_summary", "top_revenue_orders",
    "join_fk_lookup", "join_anti_existing", "dedup_first", "agg_running_total",
    # training-data extensions
    "text_stats", "dedup_exact", "dedup_minhash", "topk_similarity",
    "topk_similarity_arrow", "contamination_check", "token_packing",
    # streaming-analog windows
    "stream_tumbling_window", "stream_session_window", "as_of_join",
    # later additions
    "tfidf_top_terms", "profile_events", "duplicate_spans",
)

_ORACLE = ("oracle", None)
CHECKS: dict[str, tuple[str, str | None]] = {
    name: _ORACLE for name in (
        "standings_recompute", "pricing_summary", "top_revenue_orders",
        "text_stats", "dedup_exact", "topk_similarity", "contamination_check",
        "token_packing", "stream_session_window", "as_of_join",
        "tfidf_top_terms", "profile_events", "duplicate_spans",
    )
}
CHECKS.update({
    "join_fk_lookup": ("rows", "SELECT COUNT(*) FROM lineitem"),
    "join_anti_existing": (
        "rows",
        "SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN "
        "(SELECT c_custkey FROM customer WHERE c_acctbal < 0)",
    ),
    "dedup_first": ("rows", "SELECT COUNT(DISTINCT o_custkey) FROM orders"),
    "agg_running_total": ("rows", "SELECT COUNT(*) FROM events"),
    "stream_tumbling_window": (
        "rows",
        "SELECT COUNT(*) FROM (SELECT DISTINCT date_trunc('hour', ts), "
        "event_type FROM events)",
    ),
    # 20 probe vectors × k=5 neighbours
    "topk_similarity_arrow": ("rows", "SELECT 20 * 5"),
    # every "<text> dup" copy of an earlier document is a ≥0.5-Jaccard
    # pair; LSH may find more, and misses none at that similarity
    "dedup_minhash": (
        "min_rows",
        "SELECT COUNT(DISTINCT (a.doc_id, b.doc_id)) FROM documents a "
        "JOIN documents b ON b.text = a.text || ' dup'",
    ),
})


def _topk_arrow(spark, sf_dir):
    import pyspark.sql.functions as F

    from f1_data_pipeline_spark.operators.similarity import brute_force_topk_arrow
    from f1_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk_arrow(emb.filter(F.col("vec_id") < 20), emb, k=5)


def headline_calls() -> dict[str, Callable]:
    """The 20 headline callables, in HEADLINE order."""
    from f1_data_pipeline_spark import queries_relational as rel
    from f1_data_pipeline_spark import queries_streaming, queries_text
    from f1_data_pipeline_spark.queries import QUERIES

    standalone = {
        "dedup_first": rel.q_dedup_first,
        "join_fk_lookup": rel.q_join_fk_lookup,
        "agg_running_total": rel.q_agg_running_total,
        "join_anti_existing": rel.q_join_anti_existing,
        "stream_tumbling_window": queries_streaming.q_tumbling,
        "dedup_minhash": queries_text.q_dedup_minhash,
        "topk_similarity_arrow": _topk_arrow,
    }
    return {n: standalone[n] if n in standalone else QUERIES[n] for n in HEADLINE}
