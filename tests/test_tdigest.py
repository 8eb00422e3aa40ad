"""Cross-run quantiles from the persisted per-partition KLL sketches: the
engine property that motivates storing them — quantiles across partitions
profiled by DIFFERENT resumed runs, computed from stored sketches alone.
(The sketch itself is Spark's kll_sketch_agg_double; its merge and
rank-error properties are in test_properties.py.)"""

from __future__ import annotations

import numpy as np

from data_profiler_spark import fixtures
from data_profiler_spark.plans.runner import ValidationRun

QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def rank_of(sorted_x: np.ndarray, v: float) -> float:
    return np.searchsorted(sorted_x, v) / len(sorted_x)


def test_cross_run_quantiles_from_sketches(spark, tmp_io):
    """Two resumed runs each profile part of the table; global dur_ms
    quantiles come from merging the persisted sketches — and match a
    direct computation over all clips."""
    clips = fixtures.generate_clips(spark, 400, seed=5)
    run = ValidationRun(spark, tmp_io, n_partitions=8)
    run.run(clips, limit_partitions=4)
    run.run(clips)  # resume: remaining 4 partitions, separate snapshot

    got = run.global_quantiles("dur_ms", QS)
    truth = np.sort(np.array([r["dur_ms"] for r in clips.select("dur_ms").collect()]))
    for q in QS:
        assert abs(rank_of(truth, got[q]) - q) <= 0.05, (q, got[q])


def test_global_quantiles_frame_and_report_section(spark, tmp_io, tmp_path):
    """global_quantiles_frame exposes the merged-sketch quantiles for every
    SKETCH_COLUMNS column as a report frame, and the html sink renders it
    as a section (the r3 verdict's 'cross-run merge exists but no report
    shows it' gap)."""
    from data_profiler_spark.plans.runner import SKETCH_COLUMNS
    from data_profiler_spark.sinks import render_html_report

    clips = fixtures.generate_clips(spark, 200, seed=5)
    run = ValidationRun(spark, tmp_io, n_partitions=4)
    run.run(clips, limit_partitions=2)
    run.run(clips)  # resume — the frame must merge BOTH snapshots

    gq = run.global_quantiles_frame()
    rows = gq.collect()
    assert {r["column"] for r in rows} == set(SKETCH_COLUMNS)
    per_col = {}
    for r in rows:
        per_col.setdefault(r["column"], {})[r["quantile"]] = r["value"]
    # frame values == the dict API for the same merged sketches
    want = run.global_quantiles("dur_ms", [0.5])[0.5]
    assert per_col["dur_ms"][0.5] == want
    assert per_col["dur_ms"][0.25] <= per_col["dur_ms"][0.5] <= per_col["dur_ms"][0.99]

    path = render_html_report([("global quantiles", gq)], str(tmp_path / "r.html"))
    html_text = open(path, encoding="utf-8").read()
    assert "global quantiles" in html_text and "dur_ms" in html_text
