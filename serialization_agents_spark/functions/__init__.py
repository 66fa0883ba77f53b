"""Scalar function library: normalization, fuzzy scoring, text analysis.

Hot-path functions are pure Spark Column expressions (JVM-side,
whole-stage codegen); the ``*_py`` functions are their byte-stable
reference definitions.
"""

from serialization_agents_spark.functions.normalize import (  # noqa: F401
    fuzzy_score_py,
    normalize_name_expr,
    normalize_name_py,
    percent_overlap_py,
)
