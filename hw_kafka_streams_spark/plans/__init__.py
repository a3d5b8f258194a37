"""Physical-plan introspection: the 100 TB design-review toolkit."""

from hw_kafka_streams_spark.plans.inspect import (
    formatted_plan,
    global_window_count,
    physical_plan,
    plan_report,
    pushed_filters,
    read_schema,
)

__all__ = [
    "formatted_plan",
    "global_window_count",
    "physical_plan",
    "plan_report",
    "pushed_filters",
    "read_schema",
]
