"""PySpark-native analytics engine with the capabilities of the reference
ETL connector (Kyureeus-Edtech/custom-python-etl-data-connector-Keerthana2k4-tech)
plus a full relational + LLM-data-pipeline operator surface.

The reference (/root/reference/etl_connector.py, 243 lines) is a single-file
Extract -> Transform -> Validate -> Load connector; SURVEY.md maps each of its
13 operators (R1-R13) to the Spark-first implementations in this package:

- ``sources.rest``     : R1-R5 paginated REST reader (batch scan + streaming Data Source)
- ``pipeline``         : R6 transform, R7 validate, R12-R13 config/orchestration
- ``operators.upsert`` : R8-R10 keyed idempotent upsert sink
- ``plans.relational`` : the declared relational query surface (SURVEY §2.3)
- ``operators.dedup``, ``operators.similarity``, ``functions.text`` :
  north-star extension operators (fuzzy dedup, ANN top-k, text analysis)
- ``streaming``        : Structured Streaming variants (R9 micro-batching)
- ``multimodal``       : binary-column plumbing for image/audio payloads

Everything is DataFrame/SQL-first: Catalyst handles pushdown, pruning, join
strategy and AQE; custom code exists only at the edges (REST source, upsert
glue, LSH wrappers).
"""

from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import PipelineConfig
from custom_python_etl_data_connector_keerthana2k4_tech_spark.session import get_spark

__all__ = ["PipelineConfig", "get_spark"]
