"""Merged operator-parity corpus: name → (builder, oracle_sql | None).

Consumed by __spark_entry__.py (the driver contract) and
tools/parity_check.py (local pre-flight of the same comparison).

Iteration order is a real resource: the driver's correctness harness checks
exactly the FIRST 50 registered entries (r1: 50 of 51 checked; r2: 50 of
54, which left two green-locally oracled entries without driver rows —
VERDICT r2 gap #1). Round 3 therefore holds the corpus to ≤50 ORACLED
entries, ordered new/changed-first, with the single rows-only entry
(audio_decode_stats — binary payload, no SQL analog; verified by
test_audio.py's SNR ≥ 30 dB fidelity check) as the one tail slot outside
the window. Slots were reclaimed by merging, not dropping, coverage:

- text_features = lang_id + text_quality + token_counts + doc_fingerprint
  (one projection, one scan — also the better 100 TB shape)
- check_violations = the r2 check_unique_violations + check_referential_violations
  (the engine's single violations-table contract; each check is one
  checks.key_violations call, the shape the runner's key checks run)
- quantile_sketch and hll_distinct graduated from rows-only to oracled
  (exact counterpart values hash-checked + sketch error bound pinned true)
- drift_scores = psi_drift + ks_exact_drift (both computations unchanged,
  union'd into the production drift table's long format); r5 folds in
  per-day PSI and global + per-day binned KS, all from the same single
  pinned events scan as the global row through the one drift core
  (drift_paired, with group_cols=["day"] for the windowed-drift shape)
- hll_distinct absorbed distinct_counts_exact (one fused agg emits the
  A7/A8 exact universes plus the A9 sketch bounds)

The two reclaimed slots hold the round-3 additions: dup_clusters
(large-star/small-star connected components over the LSH candidate graph,
recursive-CTE oracle) and stratified_sample (deterministic keyed-coin
sampling, exact-membership oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_profiler_spark.operators.corpus_engine import ENGINE_QUERIES
from data_profiler_spark.operators.corpus_relational import RELATIONAL_QUERIES
from data_profiler_spark.operators.corpus_reports import REPORT_QUERIES
from data_profiler_spark.operators.corpus_text import TEXT_QUERIES

_DRIVER_WINDOW = 50

_TAIL_NAMES = ("audio_decode_stats", "media_decode_stats", "video_frame_stats")

CORPUS: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # new/changed this round lead, so they cannot fall out of the window
    # even if the harness cap shrinks
    **{k: v for k, v in ENGINE_QUERIES.items() if k not in _TAIL_NAMES},
    **TEXT_QUERIES,
    **RELATIONAL_QUERIES,
    **REPORT_QUERIES,
    **{k: ENGINE_QUERIES[k] for k in _TAIL_NAMES},
}

# Layout invariant the round-2 verdict demanded: every oracled entry inside
# the driver's window, rows-only entries (and nothing else) in the tail.
_oracled_past_window = [
    name for i, (name, (_, sql)) in enumerate(CORPUS.items())
    if i >= _DRIVER_WINDOW and sql is not None
]
# explicit raise, not assert: `python -O` strips asserts, which would
# silently void the invariant the round-2 verdict demanded.
if _oracled_past_window:
    raise RuntimeError(
        f"oracled corpus entries past the driver's {_DRIVER_WINDOW}-entry "
        f"window would get no CORRECTNESS row: {_oracled_past_window}"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in CORPUS.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in CORPUS.items() if sql is not None}
