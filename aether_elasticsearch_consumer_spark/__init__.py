"""aether_elasticsearch_consumer_spark — a PySpark-native full-text index + BM25 engine.

A brand-new engine with the query and data-processing capabilities of
eHealthAfrica/aether-elasticsearch-consumer, re-expressed Spark-first:

- the reference's *implemented* surface (schema-driven typed ingest pipeline,
  filtering, masking, index lifecycle, idempotent upsert, checkpointed resume —
  ``/root/reference/consumer/app/{artifacts,processor,index_handler}.py``)
  becomes declarative DataFrame plans (``operators/``, ``plans/``);
- the reference's *delegated* surface (Elasticsearch/Lucene: tokenization,
  inverted index, posting lists, BM25 top-k, bucket aggregations) is built
  from scratch on Spark primitives (``functions/``, ``plans/index_build.py``,
  ``operators/topk.py``).

Everything is DataFrame-first; Python appears only in Arrow-vectorized
pandas UDFs / mapInArrow (never per-row Python in a hot path).
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
BLOCK_SIZE = 128

# Spark Python workers import the package to unpickle its functions, so
# this makes their per-task zip-directory re-reads stat-checked (it does
# nothing on the driver).
from . import _worker  # noqa: E402,F401
