from data_profiler_spark.profiling.profile import (  # noqa: F401
    column_profile,
    column_profile_collected,
    fences_from_profile,
    histograms_multi,
    outlier_counts,
    top_freq,
)
