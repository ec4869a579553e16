"""Plan introspection: assert that Catalyst produced the physical plan we
designed for (broadcasts where intended, filters pushed to the parquet
scan, no gratuitous exchanges, whole-stage codegen on the hot paths).

This is the engine's scale-guardrail: the SURVEY §4 design claims
("assignment is shuffle-free", "dims broadcast",
"aggregation is partial+final") are tested facts, not comments.
"""

from mapreducekmean_spark.plans.inspect import (
    count_exchanges,
    count_joins,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    has_wholestage_codegen,
)

__all__ = [
    "count_exchanges",
    "count_joins",
    "formatted_plan",
    "has_broadcast_join",
    "has_pushed_filters",
    "has_wholestage_codegen",
]
