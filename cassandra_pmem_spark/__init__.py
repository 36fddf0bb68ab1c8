"""cassandra_pmem_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of intel/cassandra-pmem (Apache Cassandra
4.0 fork), re-expressed Spark-first.

The reference (at /root/reference) is a row-oriented LSM OLTP engine whose
queryable surface is CQL 3 (Cassandra 4.0). This package reproduces those
*read semantics* — projections, restrictions, clustering-order sorts, limits
(incl. PER PARTITION LIMIT), DISTINCT-partitions, aggregates, collections,
JSON, writetime/TTL, token ordering, upsert/tombstone/LWW write emulation —
as declarative DataFrame plans that Catalyst can optimize, and extends them
with the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) that a 100 TB deployment needs.

Design stance (see SURVEY.md §7): no custom Catalyst rules, no RDDs, no
driver-side loops; every operator is a composition of built-in
pyspark.sql.functions (JVM/codegen path) unless semantics genuinely require
an Arrow-batched pandas UDF.
"""

import importlib

# public name -> defining submodule, imported on first access: package load
# imports no pyspark, so the worker daemon (worker_daemon.py) still
# chooses where pyspark is imported from
_LAZY = {
    "get_spark": "session",
    "load_table": "catalog",
    "load_tables": "catalog",
    "TABLE_NAMES": "catalog",
    "cql_table": "cql.table",
    "execute_cql": "cql.parser",
    "CqlWriteSession": "cql.writes",
}
__all__ = list(_LAZY)
__version__ = "0.1.0"


def __getattr__(name):
    if name not in _LAZY:
        raise AttributeError(name)
    return getattr(importlib.import_module(f"{__name__}.{_LAZY[name]}"), name)
