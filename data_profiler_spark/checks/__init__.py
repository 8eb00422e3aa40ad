from data_profiler_spark.checks.constraints import (  # noqa: F401
    check_schema,
    key_violations,
    verdicts,
    with_partition_id,
)
from data_profiler_spark.checks.coercion import coerce_with_defaults  # noqa: F401
