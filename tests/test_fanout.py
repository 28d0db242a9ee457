"""The per-table fan-out behind snapshot, resume_snapshot and validate:
per-table Spark local properties, drain-then-report failures, and the
JDBC connection budget of a concurrent catalog validate."""

from __future__ import annotations

import sys
import time

from rust_dms_cdc_operator_spark.fanout import NUM_OF_BUFFERS, per_table
from rust_dms_cdc_operator_spark.sources.jdbc_source import scan_widths


def test_scan_widths_stay_within_connection_budget():
    assert scan_widths(100, 2, 8) == (2, 8)
    assert scan_widths(100, 20, 8) == (20, 5)
    assert scan_widths(100, 200, 8) == (NUM_OF_BUFFERS, 1)
    assert scan_widths(10, 20, 8) == (10, 1)
    assert scan_widths(4, 1, 8) == (1, 4)
    assert scan_widths(100, 0, 8) == (1, 8)
    for conns in range(1, 130):
        for n_tables in range(0, 120, 7):
            for parts in (1, 3, 8, 64):
                in_flight, per_scan = scan_widths(conns, n_tables, parts)
                assert in_flight * per_scan <= conns
                assert 1 <= in_flight <= max(1, min(NUM_OF_BUFFERS, n_tables))
                assert 1 <= per_scan <= parts


def test_per_table_copies_caller_properties_per_table(spark):
    """More tables than cores, each setting a local property and reading
    it back after yielding: a copy shared between workers would show
    another table's value, and plain threads would not see the caller's
    property at all."""
    sc = spark.sparkContext
    tables = [f"t{i:02d}" for i in range(16)]

    def work(table: str) -> tuple:
        sc.setLocalProperty("test.fanout.table", table)
        time.sleep(0.02)
        return (
            sc.getLocalProperty("test.fanout.table"),
            sc.getLocalProperty("test.fanout.caller"),
            sc.getLocalProperty("spark.scheduler.pool"),
        )

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    sc.setLocalProperty("test.fanout.caller", "caller")
    try:
        results, failures = per_table(spark, tables, work)
    finally:
        sys.setswitchinterval(interval)
        sc.setLocalProperty("test.fanout.caller", None)
    assert failures == {}
    assert results == {t: (t, "caller", f"tbl-{t}") for t in tables}
    assert sc.getLocalProperty("test.fanout.table") is None
    assert sc.getLocalProperty("spark.scheduler.pool") is None


def test_per_table_drains_every_table(spark):
    """A failing table does not stop its siblings; results keep the
    input order whatever order the tables finish in."""

    def work(table: str) -> str:
        time.sleep(0.05 if table == "c" else 0.0)
        if table == "b":
            raise ValueError("boom")
        return table.upper()

    results, failures = per_table(spark, ["c", "b", "a"], work, 2)
    assert list(results.items()) == [("c", "C"), ("a", "A")]
    assert list(failures) == ["b"]
    assert isinstance(failures["b"], ValueError)
