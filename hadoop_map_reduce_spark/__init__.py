"""hadoop_map_reduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce project (NikhilNar/hadoop-map-reduce): custom sources
(text lines, ZIP archives), record-level transforms (sanitize / tokenize /
filter / n-gram), keyed shuffle + grouped aggregation, partitioned sorted
text sinks — generalized to the full relational surface (joins, windows,
set ops, scalar functions) and extended with large-scale training-data
pipeline operators (dedup, similarity search, text analysis).

Architecture is idiomatic Spark: declarative DataFrame/SQL plans optimized
by Catalyst; Python UDFs only where built-ins cannot express the semantics.
"""

from hadoop_map_reduce_spark.session import get_spark, load_table

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy re-exports of the main operator surface (keeps plain
    ``import hadoop_map_reduce_spark`` fast — no Spark plan imports)."""
    surface = {
        "bigram_counts": "hadoop_map_reduce_spark.operators.bigram",
        "ngram_counts": "hadoop_map_reduce_spark.operators.bigram",
        "asof_join_backward": "hadoop_map_reduce_spark.operators.relational",
        "sessionize": "hadoop_map_reduce_spark.operators.relational",
        "top_k": "hadoop_map_reduce_spark.operators.relational",
        "exact_dedup": "hadoop_map_reduce_spark.operators.dedup",
        "ngram_jaccard_pairs": "hadoop_map_reduce_spark.operators.dedup",
        "minhash_lsh_pairs": "hadoop_map_reduce_spark.operators.dedup",
        "simhash_neardup_pairs": "hadoop_map_reduce_spark.operators.dedup",
        "connected_components": "hadoop_map_reduce_spark.operators.clustering",
        "dedup_representatives": "hadoop_map_reduce_spark.operators.clustering",
        "cosine_topk": "hadoop_map_reduce_spark.operators.similarity",
        "ann_topk_lsh": "hadoop_map_reduce_spark.operators.similarity",
        "cosine_neardup_pairs": "hadoop_map_reduce_spark.operators.similarity",
        "salted_join": "hadoop_map_reduce_spark.operators.skew",
        "two_phase_agg": "hadoop_map_reduce_spark.operators.skew",
        "read_text_lines": "hadoop_map_reduce_spark.sources",
        "read_zip_entries": "hadoop_map_reduce_spark.sources",
        "write_kv_text": "hadoop_map_reduce_spark.sinks",
        "write_bucketed": "hadoop_map_reduce_spark.storage",
        "write_partitioned": "hadoop_map_reduce_spark.storage",
        "map_reduce": "hadoop_map_reduce_spark.compat",
        "run_bigram_job": "hadoop_map_reduce_spark.compat",
    }
    if name in surface:
        import importlib

        return getattr(importlib.import_module(surface[name]), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = ["get_spark", "load_table", "__version__"]
