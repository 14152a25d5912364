"""Plan inspection + checkpoint utilities for the iterative operators."""

from cloudbrush_spark.plans.explain import (  # noqa: F401
    explain_str,
    has_broadcast_join,
    pushed_filters,
    read_schema,
    shuffle_count,
)
from cloudbrush_spark.plans.sever import (  # noqa: F401
    cut,
    observed_cut,
    origin_stats_defined,
    sever_origin,
)
