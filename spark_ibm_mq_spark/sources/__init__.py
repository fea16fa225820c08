"""Sources: the `ibmmq` DataSource (Python Data Source API) and the
file-backed fake MQ broker it reads from (SURVEY.md §5.2 item 3).
"""

from spark_ibm_mq_spark.sources.fake_mq import FakeMQBroker
from spark_ibm_mq_spark.sources.mq import SCHEMA as MQ_SCHEMA
from spark_ibm_mq_spark.sources.mq import IBMMQDataSource, register_ibmmq

__all__ = ["FakeMQBroker", "IBMMQDataSource", "MQ_SCHEMA", "register_ibmmq"]
