"""lantern_extras_spark — a PySpark-native engine with the capability surface of
lanterndata/lantern_extras (embedding pipelines, vector search, product quantization,
recall evaluation, incremental jobs) plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Not a port: the reference (see /root/reference, SURVEY.md) delegates relational work to
Postgres and ANN to usearch; here everything is expressed against the Spark DataFrame API
so Catalyst/Tungsten pick the physical plan, with Arrow-batched pandas UDFs only for
numpy kernels (PQ assignment, model inference).
"""

__version__ = "0.1.0"

from lantern_extras_spark import worker as _worker
from lantern_extras_spark.session import get_spark, load_tables, local_frame  # noqa: F401
from lantern_extras_spark.collections import CollectionStore  # noqa: F401

_worker.prepare()
