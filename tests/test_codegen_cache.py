"""The engine's session keeps every generated class of a warm workload
compiled.

Spark caches Janino-compiled classes by their generated source, in a
cache of ``spark.sql.codegen.cache.maxEntries`` entries (100 by
default). The ten headline keys plus the HLL sketch need about 150
distinct classes, so at the default size the cache evicts in a cycle
and every warm pass compiles them all again. ``get_spark`` sizes the
cache to ``session.CODEGEN_CACHE_ENTRIES``; these tests pin the conf and
the saving, read from Spark's own compile counter.
"""

from __future__ import annotations

from analyse_the_sky_with_apache_spark_spark import registry
from analyse_the_sky_with_apache_spark_spark.session import CODEGEN_CACHE_ENTRIES
from bench import HEADLINE, codegen_totals
from tests.conftest import SF_DIR

#: the headline keys plus the HLL sketch: one warm pass of them needs
#: more distinct classes than Spark's default cache holds.
KEYS = HEADLINE + ("agg_hll_deterministic",)


def _round(spark) -> int:
    """Janino compiles of one build-and-collect of every key in KEYS."""
    qs = registry.queries()
    before = codegen_totals(spark)[0]
    for key in KEYS:
        qs[key](spark, SF_DIR).collect()
    return codegen_totals(spark)[0] - before


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_round_hits_codegen_cache(spark):
    # A few classes may still compile in the second round: AQE's
    # runtime choices can renumber codegen stages or resize row
    # writers, which changes the generated source.
    first = _round(spark)
    second = _round(spark)
    assert first > 0
    assert second <= first // 10, (first, second)
