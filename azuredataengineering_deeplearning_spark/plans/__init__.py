"""Plan-level tooling: cluster config profiles and physical-plan audits."""

from azuredataengineering_deeplearning_spark.plans.profiles import (
    CLUSTER_PROFILE,
)
from azuredataengineering_deeplearning_spark.plans.audit import (
    executed_plan,
    assert_broadcast_joins,
    assert_max_exchanges,
    assert_no_cartesian,
    assert_pushed_filter,
    read_schema_columns,
)

__all__ = [
    "CLUSTER_PROFILE",
    "executed_plan",
    "assert_broadcast_joins",
    "assert_max_exchanges",
    "assert_no_cartesian",
    "assert_pushed_filter",
    "read_schema_columns",
]
