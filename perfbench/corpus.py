"""corpus_headline: one pass over the 17 headline ``CORPUS`` entries per op.

The input is the repository's TPC-H-ish test tables, the ones bench.py, the
tests and tools/parity_check.py read, copied under ``perfbench/data/`` so the
workload needs no data from outside its checkout (sf 0.01 for the benchmark,
sf 0.001 for the smoke size). Each timed entry is forced with the noop sink
and followed by ``release_cumsum_caches()``. The untimed warm-up collects
every entry once and compares it with the entry's DuckDB oracle, then forces
every entry WARM_UP_NOOP_PASSES more times.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import duckdb
import pyarrow.parquet as pq

from data_profiler_spark.functions.windows import release_cumsum_caches
from data_profiler_spark.operators.corpus import CORPUS

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# bench.py's HEADLINE list, fixed here so the benchmark's metric names do
# not change when bench.py does.
HEADLINE = (
    "pricing_summary",
    "top_revenue_orders",
    "pareto_abc_parts",
    "user_running_value",
    "profile_column_stats",
    "verdict_grid",
    "drift_scores",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_features",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "part_material_flow",
    "hll_distinct",
    "quantile_sketch",
    "dup_clusters",
    "stratified_sample",
)
WARM_UP_THREADS = 4
WARM_UP_NOOP_PASSES = 2

# -- oracle comparison (the parity rule of tools/parity_check.py) -----------

def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0.0 else v
    if isinstance(v, bool):
        return int(v)
    return v


def _multiset(rows, cols: list[str]) -> Counter:
    order = sorted(cols)
    return Counter(tuple(_cell(dict(zip(cols, r))[c]) for c in order) for r in rows)


def _dup_clusters_oracle(con) -> tuple[list[str], list]:
    """dup_clusters' oracle with the closure done by a union-find in Python.

    The entry's own oracle SQL takes the closure by recursive reachability,
    which takes ~17 s on the 500 documents, more than all other oracles
    together. This one starts from the same candidate pairs (the
    dedup_minhash_lsh oracle, DuckDB) and keeps the entry's semantics:
    cluster_id is the component's smallest doc_id, every document is
    labelled (singletons too), is_canonical marks doc_id == cluster_id.
    On both corpus sizes its rows equal the recursive oracle's exactly."""
    pairs = con.sql(CORPUS["dedup_minhash_lsh"][1]).fetchall()
    ids = [r[0] for r in con.sql("SELECT doc_id FROM documents").fetchall()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    label = {i: find(i) for i in ids}
    size = Counter(label.values())
    rows = [(i, label[i], size[label[i]], int(i == label[i])) for i in ids]
    return ["doc_id", "cluster_id", "cluster_size", "is_canonical"], rows


def oracle_rows(con, name: str) -> tuple[list[str], list]:
    if name == "dup_clusters":
        return _dup_clusters_oracle(con)
    rel = con.sql(CORPUS[name][1])
    return [c.lower() for c in rel.columns], rel.fetchall()


def parity_check(name: str, spark_rows: list, spark_cols: list[str], oracle) -> list[str]:
    """Compare an entry's rows with its DuckDB oracle ``(columns, rows)`` as
    an exact multiset, as tools/parity_check.py does. Returns the errors."""
    duck_cols, duck_rows = oracle
    cols = [c.lower() for c in spark_cols]
    if sorted(cols) != sorted(duck_cols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{name}: {len(spark_rows)} rows != oracle {len(duck_rows)}"]
    got, want = _multiset(spark_rows, cols), _multiset(duck_rows, duck_cols)
    extra, missing = sorted((got - want).elements()), sorted((want - got).elements())
    if not extra:
        return []
    return [f"{name}: {len(extra)} rows differ from the oracle, e.g. spark {extra[0]} "
            f"vs oracle {missing[0]}"]


class CorpusHeadline:
    def __init__(self, bench):
        self.bench = bench
        self.spark = bench.spark
        self.data = os.path.join(DATA, bench.size.corpus)
        self.input_rows = 0
        self.entry_s: dict[str, list[float]] = {name: [] for name in HEADLINE}

    def build_input(self) -> None:
        """The tables are fixed files: only count their rows."""
        self.input_rows = sum(
            pq.ParquetFile(os.path.join(self.data, f)).metadata.num_rows
            for f in sorted(os.listdir(self.data)))

    def warm_up(self) -> list[list[str]]:
        """Untimed passes: one collects every entry and compares it with its
        DuckDB oracle, then WARM_UP_NOOP_PASSES force every entry as a timed
        pass does. Entries run from WARM_UP_THREADS threads at once: the
        passes only check outputs and warm the session, and the cold
        per-plan costs (codegen, JIT, Python workers) and the oracles
        overlap. After a single warm-up pass, sequential passes still got
        faster by 15% and 12% from one to the next."""
        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            name = f.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.data}/{f}')")

        def check(name: str) -> list[str]:
            try:
                df = CORPUS[name][0](self.spark, self.data)
                rows = [tuple(r) for r in df.collect()]
                return parity_check(name, rows, df.columns, oracle_rows(con.cursor(), name))
            except Exception as e:  # a raising entry is a failed check, not a crash
                return [f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}"]

        def force(name: str) -> list[str]:
            try:
                self._force(name)
                return []
            except Exception as e:
                return [f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}"]

        tasks = [(check, n) for n in HEADLINE]
        tasks += [(force, n) for _ in range(WARM_UP_NOOP_PASSES) for n in HEADLINE]
        with ThreadPoolExecutor(max_workers=WARM_UP_THREADS) as pool:
            results = list(pool.map(lambda t: t[0](t[1]), tasks))
        release_cumsum_caches()  # once, after all threads: it drops every cache
        con.close()
        return [[e for errors in results for e in errors]]

    def _force(self, name: str) -> None:
        CORPUS[name][0](self.spark, self.data).write.format("noop").mode("overwrite").save()

    def prepare(self, op: str) -> str:
        return op

    def op(self, op: str) -> tuple[list[str], bool]:
        """One pass over the entries, each timed on its own. The first pass
        is always whole; a later one stops once the entries' summed time
        reaches --seconds. So a run times one whole pass and as much of the
        next as --seconds leaves, and its length does not jump by a pass
        when a pass takes a little less than --seconds. Returns the errors
        and whether the pass was whole."""
        errors = []
        tracer = self.bench.tracer
        first = not self.entry_s[HEADLINE[-1]]
        for name in HEADLINE:
            timed = sum(sum(v) for v in self.entry_s.values())
            if not first and timed >= self.bench.seconds:
                return errors, False
            span = tracer.span(f"entry:{name}", f"operators.{name}") if tracer else nullcontext()
            with span:
                t = time.monotonic()
                try:
                    self._force(name)
                except Exception as e:
                    errors.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                finally:
                    release_cumsum_caches()
                self.entry_s[name].append(time.monotonic() - t)
        return errors, True

    def check(self, result: tuple[list[str], bool]) -> tuple[list[str], dict]:
        errors, whole = result
        return errors, {"rows": self.input_rows if whole else 0, "violation_rows": 0,
                        "whole": whole}

    def summary(self, ops: list[dict]) -> tuple[float, float]:
        """run_s_p50 and rows_per_s. The pass time is the sum over the
        entries of each one's median time, so a pass cut short still adds
        samples; rows_per_s is the input tables' rows over it."""
        pass_s = sum(statistics.median(v) for v in self.entry_s.values())
        return pass_s, self.input_rows / pass_s

    def finish(self, op: str) -> int:
        return 0

