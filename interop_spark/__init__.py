"""interop_spark — a PySpark-native analytics engine with the capability
surface of databricks-industry-solutions/interop (dbignite), rebuilt
Spark-first.

Subpackages
-----------
fhir       : FHIR bundle ingestion (reader/schema/sinks) and the reverse
             DataFrame→FHIR writer (Mapping/MappingManager/Bundle).
operators  : large-scale training-data-pipeline operators — dedup
             (exact/minhash-LSH/simhash), similarity search, text analysis,
             multimodal column plumbing.
queries    : named query library; each query has a DuckDB oracle-SQL twin
             used by the driver's correctness gate.
session    : tuned local SparkSession builder (AQE, shuffle partitions,
             nested-schema pruning).

The package is registered with PySpark's cloudpickle to be pickled BY
VALUE: any engine function a UDF or mapInPandas closure references
ships inside the closure, so Python workers never import
``interop_spark`` and the engine runs under a plain session whose
workers do not have it on ``sys.path``. Closures call module-level
helpers by name (``from ... import helper``), never through a module
attribute: an engine module object a closure references is pickled
whole.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])

from interop_spark.session import get_spark  # noqa: E402,F401
