"""Operator library — one module per operator family of SURVEY.md §2.

Every operator is a pure ``DataFrame -> DataFrame`` function built from
native ``pyspark.sql.functions`` expressions (whole-stage codegen). The
only pandas paths are the ones the built-ins genuinely can't express —
the ``otlp_proto_logs`` wire encoder (a pandas UDF), the multimodal
decode stubs (``mapInPandas``) and, in ``streaming/stateful_agg``, the
two ``applyInPandasWithState`` operators — and those run Arrow-batched.
"""
