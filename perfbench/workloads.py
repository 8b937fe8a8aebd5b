"""The benchmark's workloads, their operations and their output checks.

An operation is one call into the engine's public API plus the action
that consumes its result: a ``run_job`` MapReduce job, a registered
query and its ``collect()``, or a registered streaming query driven to
completion into its sink and read back. Each workload stresses a
different layer; the comment on each says which.
"""

from __future__ import annotations

import importlib.util
import os
import sys
from collections import Counter
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: Set-up runs every op ``WARMUP_ROUNDS`` times, unchecked: that
    #: pre-builds the shared artifacts the timed passes read and pays
    #: each code path's first-use cost (JIT compilation, worker imports)
    #: up front.
    ops: tuple[str, ...]
    #: timed passes must build no artifact
    warm_artifacts: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        # The paper's own wc/indexer jobs through the RDD facade (opaque
        # Python map/reduce closures, a combiner-less groupByKey shuffle
        # over whole files) beside DataFrame queries, their Catalyst
        # twins among them: Python plan building, Catalyst planning and
        # shuffle stages. Every shared artifact is built in set-up, so
        # this is the bypass workload for artifact and streaming changes.
        Workload(
            "batch_warm",
            (
                "wc",
                "indexer",
                "rel_q8_market_share",
                "mr_wordcount",
                "mr_inverted_index",
                "sim_ann_ivf_topk",
            ),
            warm_artifacts=True,
        ),
        # State-store commits, WAL and checkpoint writes and file-sink
        # commits of streams drained into their production sinks.
        Workload(
            "stream_drain",
            ("stream_stream_join_attribution", "stream_append_tumbling_file_sink"),
        ),
    )
}

MR_APPS = {"wc": ("wc_map", "wc_reduce"), "indexer": ("indexer_map", "indexer_reduce")}
MR_REDUCERS = 10


def op_kind(name: str) -> str:
    """How an op is run: "mr" (a ``run_job`` job), "stream" (a streaming
    query drained into its sink) or "query" (a DataFrame query)."""
    if name in MR_APPS:
        return "mr"
    return "stream" if name.startswith("stream_") else "query"


def mr_functions(app: str):
    from mit_map_reduce_spark.mapreduce import apps

    map_name, reduce_name = MR_APPS[app]
    return getattr(apps, map_name), getattr(apps, reduce_name)


def _norm_rows():
    """``norm_rows`` of tools/check_correctness.py, the normalization the
    correctness gate hashes with. That module prepends a fixed
    directory to ``sys.path`` on import; the path is restored so that
    only this checkout's package is ever imported."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_correctness", os.path.join(root, "tools", "check_correctness.py")
    )
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.norm_rows


class Checker:
    """Expected outputs, computed once per process outside the timing:
    ``run_sequential`` for MapReduce jobs and the DuckDB ``oracle_sql()``
    for queries and streams."""

    def __init__(self) -> None:
        self.norm_rows = _norm_rows()
        self.expected: dict[str, tuple] = {}

    def expect_mr(self, app: str, corpus_glob: str) -> float:
        import time

        from mit_map_reduce_spark.mapreduce import run_sequential

        t0 = time.perf_counter()
        out = run_sequential(*mr_functions(app), [corpus_glob])
        elapsed = time.perf_counter() - t0
        self.expected[app] = (["key", "value"], Counter(out))
        return elapsed

    def expect_queries(self, names, table_paths: dict[str, str]) -> None:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for table, path in table_paths.items():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name in names:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                self.expected[name] = (sorted(cols), self.norm_rows(cols, res.fetchall()))
        finally:
            con.close()

    def check(self, name: str, cols: list[str], rows: list) -> str | None:
        """None if the output matches, else a one-line reason."""
        want_cols, want = self.expected[name]
        if name in MR_APPS:
            got = Counter(tuple(r) for r in rows)
        else:
            if sorted(cols) != want_cols:
                return f"columns {sorted(cols)} != {want_cols}"
            got = self.norm_rows(cols, rows)
        if got != want:
            n_got, n_want = sum(got.values()), sum(want.values())
            return f"values differ ({n_got} rows, expected {n_want})"
        return None
