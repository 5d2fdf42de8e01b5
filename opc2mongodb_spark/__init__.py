"""opc2mongodb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference OPC→MongoDB streaming ETL bridge
(riclolsen/OPC2MongoDB, surveyed in /root/repo/SURVEY.md), generalized into a
full batch + streaming analytics surface and extended with LLM-data-pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (SURVEY.md §1.4/§4): everything is declared through the
DataFrame / Spark SQL API so Catalyst + Tungsten choose the physical plan;
Python UDFs only where built-ins genuinely cannot express the semantics
(and then Arrow-batched pandas UDFs, never row-at-a-time).
"""

import importlib

# Public name -> defining module. Resolved on first access (PEP 562), so
# importing a submodule — the Python worker daemon entry, or a Spark worker
# unpickling a data source — does not load the engine, pipelines and pandas.
_EXPORTS = {
    "CurationResult": "opc2mongodb_spark.pipelines",
    "Engine": "opc2mongodb_spark.engine",
    "curate_corpus": "opc2mongodb_spark.pipelines",
    "experiment_readout": "opc2mongodb_spark.pipelines",
    "monitor_readout": "opc2mongodb_spark.pipelines",
    "get_spark": "opc2mongodb_spark.session",
    "user_features": "opc2mongodb_spark.pipelines",
}

__all__ = [
    "CurationResult",
    "Engine",
    "curate_corpus",
    "experiment_readout",
    "monitor_readout",
    "get_spark",
    "user_features",
]
__version__ = "0.1.0"


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value
