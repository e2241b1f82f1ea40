"""geo_epic_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of smarsGroup/geo-epic (reference at
/root/reference, citations as ``path:line`` in docstrings) as idiomatic Spark:
DataFrame/SQL expressions for joins, windows and aggregates; Arrow-batched
pandas UDFs only where built-ins cannot express the semantics (image codecs,
vector kernels such as minhash signatures and PQ encode). Cell indexing,
k-ring expansion, bbox covering and the point-in-polygon refine are pure
Column arithmetic (JVM-side, whole-stage-codegen friendly) — no Python in
the hot path.
"""

__version__ = "0.1.0"

from geo_epic_spark.session import get_spark  # noqa: F401
