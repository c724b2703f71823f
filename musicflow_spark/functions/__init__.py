"""Scalar expression library — every helper is a native Column
expression (JVM-side; whole-stage-codegen'd except ``fix_title``'s
blank guard, a ``transform`` lambda); no Python UDFs."""

from musicflow_spark.functions.strings import (  # noqa: F401
    fix_title,
    is_ost,
    strip_topic_suffix,
)
from musicflow_spark.functions.timeutils import (  # noqa: F401
    iso8601_duration_to_ms,
    ms_to_clock,
)
