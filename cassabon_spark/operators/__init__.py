from cassabon_spark.operators.rollup import route, rollup_finest, rollup_coarser, rollup_all_tiers
from cassabon_spark.operators.query import query_metrics, query_metrics_df, normalize_from
from cassabon_spark.operators.index import expand_ancestors, glob_to_regex, search_glob, delete_paths
from cassabon_spark.operators.asof import asof_join

__all__ = [
    "route",
    "rollup_finest",
    "rollup_coarser",
    "rollup_all_tiers",
    "query_metrics",
    "query_metrics_df",
    "normalize_from",
    "expand_ancestors",
    "glob_to_regex",
    "search_glob",
    "delete_paths",
    "asof_join",
]
