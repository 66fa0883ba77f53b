"""Scalar function library: normalization, fuzzy scoring, text analysis.

Hot-path functions are pure Spark Column expressions (JVM-side,
whole-stage codegen). ``normalize_name_py`` is the byte-stable name fold
the normalize expression is generated from; the Python references the
other expressions are tested against live in ``tests/references.py``.
"""

from serialization_agents_spark.functions.normalize import (  # noqa: F401
    normalize_name_expr,
    normalize_name_py,
)
