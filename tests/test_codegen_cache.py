"""Warm passes reuse generated classes instead of recompiling them.

Spark keeps compiled whole-stage classes in a static LRU
(``spark.sql.codegen.cache.maxEntries``, default 100). When a pass over
several keys needs more classes than that, each pass evicts the classes
the next pass needs first, and every warm pass pays the Janino compile
and a cold JIT again. ``get_spark`` sizes the cache above the engine's
working set.
"""

from osm_airflow_spark.registry import all_queries
from osm_airflow_spark.session import CODEGEN_CACHE_MAX_ENTRIES, codegen_compiles

# The smallest set of registered keys whose first pass compiles more
# than 100 classes: in a fresh JVM at sf0.001 this one key compiles 101.
# With Spark's default cap its second pass recompiles 54 to 64 of them.
WARM_KEYS = ("llm_dedup_cluster_best",)


def test_session_carries_the_engine_codegen_cache_cap(spark):
    cap = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert cap == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_second_pass_compiles_no_classes(spark, sf_dir):
    queries = all_queries()

    def one_pass():
        for key in WARM_KEYS:
            queries[key](spark, sf_dir).collect()

    one_pass()
    before = codegen_compiles(spark)
    one_pass()
    assert codegen_compiles(spark) - before == 0
