"""parquet_batch_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference library SMurphyDev/parquet-batch
(/root/reference/src/parquetreader/reader.py), extended with a full
relational operator layer and LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal columns, streaming),
designed for 100 TB scale on a real cluster.

Layers
------
- ``sources``   : Parquet scan surface (reference parity: from_path /
                  from_dataset / get_rows / get_rows_with_args) plus
                  sinks with file-size control.
- ``operators`` : relational query layer (filter/project/join/agg/
                  window/sort/set-ops) expressed as Catalyst-planned
                  DataFrame transformations.
- ``functions`` : scalar/text/vector function library (portable-hash,
                  tokenization, minhash, simhash, cosine).
- ``plans``     : plan inspection helpers (pushdown verification,
                  broadcast checks) used by tests and benchmarks.
- ``streaming`` : Structured Streaming operators over the events table.
"""

import sys

from pyspark import cloudpickle

from parquet_batch_spark.session import get_spark, stop_spark

# Python UDFs defined in this package ship to workers by value, so the
# workers need not be able to import the package (a driver started from
# another working directory, or a cluster without the package installed).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark", "stop_spark"]
__version__ = "0.1.0"
