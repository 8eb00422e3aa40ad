from data_profiler_spark.drift.drift import (  # noqa: F401
    KS_THRESHOLD,
    PSI_THRESHOLD,
    drift_from_hist_rows,
    drift_paired,
    ks_exact_by_group,
    pair_histograms,
)
