"""spark_ibm_mq_spark — a PySpark-native analytics + streaming-ingest engine.

Re-expresses the capabilities of the reference connector
(gss2002/spark-ibm-mq: a Spark Streaming ``Receiver<String>`` for IBM MQ,
``IBMMQReceiver.java``) as an idiomatic Spark 4 engine:

- ``sources.mq``    — an ``ibmmq`` Structured Streaming / batch DataSource
                      (Python Data Source API) with the reference's ordering,
                      delivery, and flow-control semantics.
- ``operators``     — the relational/analytic operator surface the ingested
                      data is consumed with (SURVEY.md §2.2), all built on
                      DataFrame/SQL built-ins so Catalyst optimizes them.
- ``functions``     — reusable column expressions (vector math, hashing,
                      text stats) kept JVM-side wherever possible.
- ``streaming``     — watermarked windows, stateful processing, listeners.
- ``plans``         — plan-inspection helpers used by tests/bench.
"""

from spark_ibm_mq_spark import zipimport_gate
from spark_ibm_mq_spark.session import get_spark, tune_for_oracle
from spark_ibm_mq_spark.tables import TABLES, load_table, load_all

zipimport_gate.install_in_worker()

__all__ = ["get_spark", "tune_for_oracle", "TABLES", "load_table", "load_all"]

__version__ = "0.1.0"
