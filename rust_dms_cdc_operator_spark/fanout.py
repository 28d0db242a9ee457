"""Per-table fan-out shared by ``snapshot``, ``resume_snapshot`` and
``validate``.

The reference runs one async future per table with
``buffer_unordered(80)`` (cdc_operator.rs:57-249). Here each table runs
on a thread of a pool, under its own FAIR scheduler pool, so one
table's Spark jobs use the cores while another table waits on planning
and job latency. The tables' work is independent, so a failing table
never stops or rolls back its siblings.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor, as_completed
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

NUM_OF_BUFFERS = 80  # reference per-table concurrency default

T = TypeVar("T")


class PartialFailure(RuntimeError):
    """One or more tables failed while the rest ran to completion.
    ``results`` holds the finished tables' results, ``failures`` the
    per-table exceptions, so a caller can retry exactly the failed
    subset."""

    finished = "completed"

    def __init__(self, results: dict, failures: dict[str, Exception]):
        self.results = results
        self.failures = failures
        msg = "; ".join(
            f"{t}: {type(e).__name__}: {e}" for t, e in sorted(failures.items())
        )
        super().__init__(
            f"{len(failures)} table(s) failed ({msg}); "
            f"{len(results)} table(s) {self.finished}"
        )


def per_table(
    spark: SparkSession,
    tables: Iterable[str],
    work: Callable[[str], T],
    max_parallel_tables: int = NUM_OF_BUFFERS,
) -> tuple[dict[str, T], dict[str, Exception]]:
    """Run ``work(table)`` for every table, at most
    ``max_parallel_tables`` at once. Returns ``(results, failures)``:
    table → return value for the tables that finished, in input order,
    and table → exception for those that raised.

    buffer_unordered drain semantics (cdc_operator.rs:244-249): every
    table runs to completion whatever happens to its siblings, then
    the outcomes are reported together.

    Each submitted table gets a fresh copy of the caller's Spark local
    properties (job group, description, tags), so the caller's job
    group covers the workers' jobs. A wrapped callable shares its one
    copy between calls, hence one wrap per submit.
    """
    tables = list(tables)

    def one(table: str) -> T:
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"tbl-{table}")
        return work(table)

    results: dict[str, T] = {}
    failures: dict[str, Exception] = {}
    workers = max(1, min(max_parallel_tables, len(tables)))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = {
            pool.submit(inheritable_thread_target(spark)(one), t): t for t in tables
        }
        for fut in as_completed(futures):
            try:
                results[futures[fut]] = fut.result()
            except Exception as exc:  # noqa: BLE001 — per-table isolation
                failures[futures[fut]] = exc
    return {t: results[t] for t in tables if t in results}, failures
