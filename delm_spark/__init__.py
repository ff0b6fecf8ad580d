"""delm_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch rebuild of the semantics of DELM (Center-for-Applied-AI/delm,
reference at /root/reference) as a staged Spark DataFrame pipeline:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      -> assemble (stable per-turn ordering)
      -> chunk (native split/posexplode)
      -> score/filter (native keyword / pandas-UDF fuzzy)
      -> extract (schema-guided deterministic backend as native column
                  expressions; API backends via mapInPandas; ported
                  validation/cleaning semantics)
      -> normalize to (subj, pred, obj) triples
      -> entity link (broadcast dictionary join)
      -> canonicalize (connected components)
      -> materialize nodes/edges tables

Everything outside the API-backend extraction and the fuzzy-scoring pandas
UDFs is native Catalyst.
"""

__version__ = "0.1.0"


def __getattr__(name):
    # lazy top-level surface: `from delm_spark import DelmSpark, DelmConfig`
    # without importing pyspark at package-import time
    if name == "DelmSpark":
        from delm_spark.delm import DelmSpark

        return DelmSpark
    if name == "DelmConfig":
        from delm_spark.config import DelmConfig

        return DelmConfig
    raise AttributeError(name)
