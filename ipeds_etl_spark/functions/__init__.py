"""Column-expression builders (the engine's scalar-function layer).

Everything here returns ``pyspark.sql.Column`` built from native
functions — JVM-side, whole-stage-codegen eligible. No row-at-a-time
Python UDFs in any hot path.
"""
